package graft.obs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The spine attributes batch work and streaming progress to the tag
  * they ran under — a drain on a `newSession()` clone included — and
  * keeps nothing for work outside a measurement.
  */
class ObsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A bounded drain on a fresh session clone: a parquet file stream
    * aggregated into a memory sink, stopped once the input is consumed.
    */
  private def drainOnClone(): Long = {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("obs-drain").toString
    s.range(0, 2000).withColumn("k", col("id") % 7).write.parquet(s"$dir/in")
    val name = s"obs_drain_${System.nanoTime()}"
    val query = s.readStream
      .schema(s.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in")
      .groupBy(col("k"))
      .agg(sum(col("id")).as("total"))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try query.processAllAvailable()
    finally query.stop()
    s.table(name).count()
  }

  test("batch work and a clone's drain land under their own tags only") {
    val (batchRows, batch) = Obs.measured(spark, "obs-spec-batch") {
      spark.range(0, 200000, 1, 8)
        .groupBy((col("id") % 100).as("g"))
        .agg(count(lit(1)).as("n"))
        .count()
    }
    val (drainRows, drain) = Obs.measured(spark, "obs-spec-drain")(drainOnClone())
    assert(batchRows == 100 && drainRows == 7)

    Seq(batch, drain).foreach { w =>
      assert(w.jobs > 0 && w.stages > 0 && w.tasks > 0, w)
      assert(w.executorRunMs > 0 && w.executorCpuNs > 0, w)
    }
    // the aggregate shuffles in both; only the drain ran micro-batches
    assert(batch.shuffleWriteBytes > 0 && batch.shuffleReadBytes > 0)
    assert(batch.progress.isEmpty, "no streaming progress belongs to the batch tag")
    assert(drain.progress.nonEmpty, "the clone's drain must report its micro-batches")
    assert(drain.progress.exists(_.durationMs.containsKey("addBatch")))
    assert(drain.streamDurationsMs("addBatch") > 0)
    assert(drain.progress.map(_.id).distinct.size == 1)
    // the drain's output read-back is one small job; the batch query's
    // 8-partition range and 4-partition shuffle are not in it
    assert(drain.inputBytes > 0, "the drain read its parquet input")
    assert(batch.inputBytes == 0, "the range source reads no files")
  }

  test("work outside a measurement leaves no state behind") {
    spark.range(0, 1000).groupBy((col("id") % 3).as("g")).count().collect()
    drainOnClone()
    val (_, w) = Obs.measured(spark, "obs-spec-empty")(())
    assert(w == Obs.Work())
    assert(Obs.retained == 0)
  }

  test("a failed action still releases its tag") {
    intercept[RuntimeException] {
      Obs.measured(spark, "obs-spec-fail")(throw new RuntimeException("boom"))
    }
    assert(!spark.sparkContext.getJobTags().contains("obs-spec-fail"))
    assert(Obs.retained == 0)
    val (_, again) = Obs.measured(spark, "obs-spec-fail")(spark.range(10).count())
    assert(again.jobs > 0)
  }
}
