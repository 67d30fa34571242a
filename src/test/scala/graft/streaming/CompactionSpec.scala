package graft.streaming

import graft.operators.NexusTables
import graft.schemas._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Locks for the finalized-generation compaction pass: file counts
  * collapse, every data row survives byte-identically (modulo the
  * collapsed batch granularity), partition layout stays readable, live
  * generations under local/ are untouched, and a simulated mid-swap crash
  * recovers without loss.
  */
class CompactionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def meta(frame: Long) =
    FrameMetadata(1700000000000000000L + frame * 20000000L, 0L, 4, true, frame, 0)

  private val startNs = meta(0).timestampNs - 1L

  /** Micro-batch `b` of generation `run_c`: two frames, three events. */
  private def assignedBatch(b: Int) = {
    import spark.implicits._
    Seq(
      AssembledFrame(
        meta(b * 2),
        Array(5L + b, 6L + b),
        Array(100 + b, 200 + b),
        Array(0L, 1L),
        true,
        Array(0, 1)),
      AssembledFrame(meta(b * 2 + 1), Array(7L + b), Array(300 + b), Array(2L), true, Array(0, 1)))
      .toDS()
      .withColumn("run_name", lit("run_c"))
      .withColumn("run_start_ns", lit(startNs))
  }

  /** Build a sink with one finalized generation written across `nBatches`
    * micro-batches (→ nBatches batch_id partitions per table) and one
    * still-open generation under local/.
    */
  private def buildSink(nBatches: Int): (NexusSink, String, Long) = {
    val outDir = Files.createTempDirectory("compact").toString
    val sink = new NexusSink(outDir)
    (0 until nBatches).foreach { b =>
      val assigned = assignedBatch(b)
      sink.writeBatch(assigned, batchId = b.toLong)
      // the open generation that must NOT be compacted
      sink.writeBatch(
        assigned.withColumn("run_name", lit("run_open")),
        batchId = b.toLong)
    }
    val stopNs = meta(nBatches * 2L).timestampNs
    val moved = sink.finalizeRuns(
      Seq(("run_c", startNs, Some(stopNs))),
      nowNs = stopNs + 10000000000L)
    assert(moved == Seq(("run_c", startNs)))
    (sink, outDir, startNs)
  }

  private def files(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator()
          .asScala
          .filter(f => f.toString.endsWith(".parquet") && !f.getFileName.toString.startsWith("."))
          .map(_.toString)
          .toSeq
      } finally s.close()
    }
  }

  test("compaction collapses batch partitions; rows and schema survive; local untouched") {
    val (sink, outDir, startNs) = buildSink(nBatches = 5)
    val evDir = s"$outDir/completed/events/run_name=run_c/run_start_ns=$startNs"
    val beforeFiles = files(evDir)
    assert(beforeFiles.length >= 5, s"expected >=5 pre-compaction files, got $beforeFiles")
    val before = spark.read
      .parquet(evDir)
      .drop("batch_id")
      .collect()
      .map(_.toString)
      .sorted

    val stats = sink.compactCompleted(spark)
    val evStat = stats.find(s => s.table == "events" && s.runName == "run_c").get
    assert(evStat.filesBefore == beforeFiles.length)
    assert(evStat.filesAfter == 1)
    assert(files(evDir).length == 1)

    // content identical modulo batch granularity; partition dirs still parse
    val after = spark.read.parquet(evDir).drop("batch_id").collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq)
    val root = spark.read.parquet(s"$outDir/completed/events")
    assert(root.filter(col("run_name") === "run_c").count() == before.length)
    // batch_id collapsed to the max batch seen
    assert(
      spark.read.parquet(evDir).select("batch_id").distinct().collect().map(_.getInt(0)).toSeq
        == Seq(4))

    // the open generation under local/ is untouched (still 5 batch dirs)
    val openDir = s"$outDir/local/events/run_name=run_open/run_start_ns=$startNs"
    assert(files(openDir).length >= 5)

    // idempotence: a second pass finds nothing to do
    assert(sink.compactCompleted(spark).isEmpty)
  }

  test("interrupted swap recovers: parked batch dirs restored, no row lost") {
    val (sink, outDir, startNs) = buildSink(nBatches = 3)
    val evDir = Paths.get(s"$outDir/completed/events/run_name=run_c/run_start_ns=$startNs")
    val before = spark.read
      .parquet(evDir.toString)
      .collect()
      .map(_.toString)
      .sorted

    // simulate a crash mid-swap: batch dirs parked in .compact_old, the
    // promote step never ran
    val old = evDir.resolve(".compact_old")
    Files.createDirectories(old)
    import scala.jdk.CollectionConverters._
    val batchDirs = Files.list(evDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("batch_id="))
    batchDirs.foreach(d => Files.move(d, old.resolve(d.getFileName)))

    // compaction must first restore, then compact normally
    val stats = sink.compactCompleted(spark)
    assert(stats.exists(s => s.table == "events" && s.runName == "run_c"))
    val after = spark.read
      .parquet(evDir.toString)
      .drop("batch_id")
      .collect()
      .map(_.toString)
      .sorted
    val beforeNoBatch = spark.read.parquet(evDir.toString) // already compacted now
    assert(after.length == before.length)
    assert(!Files.exists(old))
    import scala.jdk.CollectionConverters._
    val children = {
      val st = Files.list(evDir)
      try st.iterator().asScala.map(_.getFileName.toString).toSeq
      finally st.close()
    }
    assert(!children.exists(_.startsWith(".compact_tmp")),
      "no compaction scratch dir may survive")
    assert(beforeNoBatch.count() == before.length)
  }

  test("crash after promote: recovery drops parked copies, no duplication") {
    val (sink, outDir, startNs) = buildSink(nBatches = 3)
    val evDir = Paths.get(s"$outDir/completed/events/run_name=run_c/run_start_ns=$startNs")
    val rows = spark.read.parquet(evDir.toString).count()

    // simulate the exact post-promote crash window: originals parked
    // with the PARKED marker, compacted data promoted, cleanup never ran
    import scala.jdk.CollectionConverters._
    val old = evDir.resolve(".compact_old")
    Files.createDirectories(old)
    val batchDirs = Files.list(evDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("batch_id="))
    // "promote": copy batch 0's data as the stand-in compacted set, park
    // the originals
    val promoted = evDir.resolve("batch_id=99")
    Files.createDirectories(promoted)
    Files.list(batchDirs.head).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, promoted.resolve(f.getFileName)))
    batchDirs.foreach(d => Files.move(d, old.resolve(d.getFileName)))
    Files.writeString(old.resolve("PARKED"), "")

    // recovery (first thing compactCompleted does) must keep ONLY the
    // promoted set — restoring the parked originals next to it would
    // duplicate every row
    sink.compactCompleted(spark)
    assert(!Files.exists(old))
    val after = spark.read.parquet(evDir.toString)
    // only the promoted stand-in (batch 0's 3 events) — restoring the
    // parked originals next to it would have yielded 9 + 3 rows
    assert(after.count() == 3, s"expected only the promoted batch, got ${after.count()} rows")
    assert(
      after.select("batch_id").distinct().collect().map(_.getInt(0)).toSeq == Seq(99))
    assert(rows == 9) // sanity: original generation had 3 batches x 3 events
  }

  test("archiver moves compacted generations intact") {
    val (sink, outDir, startNs) = buildSink(nBatches = 4)
    sink.compactCompleted(spark)
    val archived = sink.flushToArchive()
    assert(archived.contains(("run_c", startNs)))
    val arDir = s"$outDir/archive/events/run_name=run_c/run_start_ns=$startNs"
    assert(files(arDir).length == 1)
    assert(spark.read.parquet(arDir).count() == 4 * 3) // 4 batches × 3 events
  }

  test("foreign-instance scratch survives the sweep until stale (ADVICE r6)") {
    // a FRESH scratch dir with another instance's nonce may be a rewrite
    // in flight in another process: the recovery sweep must leave it
    // alone under the default TTL and reclaim it once presumed dead
    val (sink, outDir, startNs) = buildSink(nBatches = 2)
    val genDir = Paths.get(s"$outDir/completed/events/run_name=run_c/run_start_ns=$startNs")
    val foreign = genDir.resolve(".compact_tmp-deadbeef-7")
    Files.createDirectories(foreign)
    Files.writeString(foreign.resolve("part-wip.parquet"), "in flight")
    sink.compactCompleted(spark)
    assert(Files.exists(foreign),
      "fresh foreign scratch (possibly live in another process) must survive")
    // compaction of the generation itself still succeeded around it
    // (dot-prefixed scratch is invisible to readers)
    assert(spark.read.parquet(genDir.toString).drop("batch_id").count() == 2 * 3)

    // a second generation with a STALE foreign leftover: TTL-0 sink
    // presumes it dead and reclaims it
    val (sink2, outDir2, startNs2) = {
      val (s2, o2, n2) = buildSink(nBatches = 2)
      (new NexusSink(o2, scratchStaleMs = 0L), o2, n2)
    }
    val genDir2 = Paths.get(s"$outDir2/completed/events/run_name=run_c/run_start_ns=$startNs2")
    val stale = genDir2.resolve(".compact_tmp-cafecafe-3")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-dead.parquet"), "leftover")
    sink2.compactCompleted(spark)
    assert(!Files.exists(stale), "stale foreign scratch must be reclaimed")
  }

  test("the sink's frames and periods planes equal NexusTables.frameTable and a groupBy " +
    "over the same two batches") {
    val dir = Files.createTempDirectory("sink-planes").toString
    val sink = new NexusSink(dir)
    Seq(0, 1).foreach(b => sink.writeBatch(assignedBatch(b), batchId = b.toLong))
    val batches = Seq(0, 1).map(b => assignedBatch(b).withColumn("batch_id", lit(b))).reduce(_ union _)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def written(table: String, like: DataFrame): Seq[String] =
      rows(spark.read.parquet(s"$dir/local/$table").select(like.columns.toSeq.map(col): _*))

    val frameTable = NexusTables.frameTable(batches)
    assert(rows(frameTable).length === 4)
    assert(written("frames", frameTable) === rows(frameTable))
    val periods = batches
      .groupBy(
        col("run_name"),
        col("run_start_ns"),
        col("metadata.periodNumber").as("period_number"),
        col("batch_id"))
      .agg(count(lit(1)).as("n_frames"), sum(size(col("time")).cast("long")).as("n_events"))
    assert(rows(periods).length === 2)
    assert(written("periods", periods) === rows(periods))
    // event_index carries across batches: batch 1's first frame starts
    // after batch 0's three events
    val index = spark.read.parquet(s"$dir/local/frames")
      .orderBy("event_time_zero").select("event_index").collect().map(_.getLong(0)).toSeq
    assert(index == Seq(0L, 2L, 3L, 5L))
  }

  test("a warm sink compiles no new code for the next same-shape batch") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val sink = new NexusSink(Files.createTempDirectory("sink-codegen").toString)
    sink.writeBatch(assignedBatch(0), batchId = 0L)
    sink.writeBatch(assignedBatch(1), batchId = 1L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sink.writeBatch(assignedBatch(2), batchId = 2L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a new batch id must not generate new code")
  }
}
