package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one state-store profile (Sessions.stateStoreConfigure): the RocksDB
  * provider must actually engage — asserted via the rocksdb* custom
  * metrics only that provider reports — with full-snapshot checkpoints
  * and compaction on commit. See SCALE.md §Streaming for the state-size
  * envelope.
  */
class RocksDBStateStoreSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.Sessions.local("rocksdb-spec", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("stateStoreConfigure engages RocksDB with changelog off and compactOnCommit on") {
    val s = graft.Sessions.stateStoreConfigure(spark.newSession())
    assert(s.conf.get("spark.sql.streaming.stateStore.providerClass") === graft.Sessions.RocksDBProvider)
    assert(s.conf.get("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "false")
    assert(s.conf.get("spark.sql.streaming.stateStore.rocksdb.compactOnCommit") === "true")
    implicit val sq = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Int]
    input.addData(1, 2, 2, 3, 3, 3)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rocksdb_ckpt").toString
    val q = input
      .toDF()
      .dropDuplicates("value")
      .writeStream
      .format("memory")
      .queryName("rocksdb_probe")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(s.table("rocksdb_probe").count() === 3)
      val stateMetrics = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .flatMap(_.customMetrics.keySet().asScala)
      assert(
        stateMetrics.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics in state operators: ${stateMetrics.distinct}")
    } finally {
      try q.stop()
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
}
