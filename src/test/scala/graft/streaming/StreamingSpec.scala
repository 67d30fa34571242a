package graft.streaming

import graft.schemas._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Streaming semantics locked to the reference's cache tests
  * (`digitiser-aggregator/src/frame/cache.rs:150-387`): early dispatch on
  * completeness, TTL dispatch of incomplete frames, late-message rejection
  * after dispatch; plus run-lifecycle transitions and the NeXus sink
  * layout/finalisation/resume.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def meta(frame: Long, veto: Int = 0) =
    FrameMetadata(1700000000000000000L + frame * 20000000L, 0L, 4, true, frame, veto)

  private def msg(did: Int, frame: Long, veto: Int = 0) =
    EventListMessage(did, meta(frame, veto),
      Array(1L, 2L), Array(did * 10, did * 10 + 1), Array(did * 8L, did * 8L))

  // two channels per digitiser; under FixedThreshold(5.0, 1, 0) each
  // channel forms 2 events (t=8,11), so a 2-digitiser frame carries 8
  private val fixtureTrace = Array(0, 1, 2, 1, 0, 1, 2, 1, 8, 0, 2, 8, 3, 1, 2)

  private def traceMsg(did: Int, frame: Long) =
    TraceMessage(did, meta(frame), 1000000000L, Array(
      ChannelTrace(did * 8L, fixtureTrace), ChannelTrace(did * 8L + 1, fixtureTrace)))

  /** Row count of a parquet dir; 0 until the dir exists. */
  private def countAt(dir: String): Long =
    try spark.read.parquet(dir).count() catch { case _: Throwable => 0L }

  /** The lifecycle job on [[fixtureTrace]] frames from digitisers 0 and 1. */
  private def lifecycleJob(
      input: MemoryStream[TraceMessage],
      sink: NexusSink,
      catalog: RunCatalog,
      checkpoint: String) =
    PipelineJobs.traceToNexusWithLifecycle(
      input.toDS(),
      graft.dsp.DetectorSettings(graft.dsp.FixedThreshold(5.0, 1, 0)),
      expectedDigitizers = Seq(0, 1),
      sink = sink,
      catalog = catalog,
      ttlMs = 200L,
      checkpoint = checkpoint)

  test("transformWithState frame assembly: completeness, first-message TTL timer, late rejection") {
    // completeness dispatch, TTL flush and late rejection on typed
    // state + registered timers (the TTL must run from the FIRST
    // message: later contributions must not extend the deadline)
    val s = graft.Sessions.stateStoreConfigure(spark.newSession())
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[EventListMessage]
    val out = FrameAssemblyTws.assemble(input.toDS(), Seq(0, 1), ttlMs = 300L)
    val ckpt = Files.createTempDirectory("ckpt_tws").toString
    val name = "assembled_tws"
    val query = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    def await(pred: Array[org.apache.spark.sql.Row] => Boolean) = {
      val deadline = System.currentTimeMillis() + 20000L
      var rows = s.table(name).collect()
      while (!pred(rows) && System.currentTimeMillis() < deadline) {
        Thread.sleep(100L)
        rows = s.table(name).collect()
      }
      rows
    }
    try {
      // frame 0: both digitisers → dispatches complete immediately
      input.addData(msg(0, 0), msg(1, 0, veto = 2))
      // frame 1: only digitiser 0 → must flush on the timer
      input.addData(msg(0, 1))
      val afterFirst = await(_.length >= 1)
      assert(afterFirst.length === 1)
      val f0 = afterFirst.head
      assert(f0.getAs[org.apache.spark.sql.Row]("metadata").getAs[Long]("frameNumber") === 0L)
      assert(f0.getAs[Boolean]("complete"))
      assert(f0.getAs[org.apache.spark.sql.Row]("metadata").getAs[Int]("vetoFlags") === 2)
      assert(f0.getAs[scala.collection.Seq[Long]]("time").length === 4)

      // late message for dispatched frame 0 → tombstone rejects it;
      // frame 1 dispatches incomplete once its first-message timer fires
      input.addData(msg(1, 0))
      val frames = await(_.exists(
        _.getAs[org.apache.spark.sql.Row]("metadata").getAs[Long]("frameNumber") == 1L))
      val f1 = frames.find(
        _.getAs[org.apache.spark.sql.Row]("metadata").getAs[Long]("frameNumber") == 1L)
      assert(f1.isDefined, s"frame 1 should flush on the timer; got ${frames.length} frames")
      assert(!f1.get.getAs[Boolean]("complete"))
      assert(f1.get.getAs[scala.collection.Seq[Int]]("digitizersPresent") === Seq(0))
      assert(frames.count(_.getAs[org.apache.spark.sql.Row]("metadata")
        .getAs[Long]("frameNumber") == 0L) === 1)
    } finally query.stop()
  }

  test(
    "TWS tombstone path: duplicate digitiser rejected, tombstone absorbs " +
      "multi-batch redeliveries, post-expiry re-seed is the reference window " +
      "(cache.rs:150-387)") {
    // The three cache.rs behaviors on the timer path (P7/O3), exercised
    // across SEPARATE micro-batches so the state transitions (not just
    // intra-batch iterator logic) carry the semantics. EVENT-TIME timers
    // (r10 ask #6): every deadline is computed from row delivery
    // timestamps and fires only when a SENTINEL row jumps the watermark
    // past it — no wall-clock sleeps decide expiry, so a stalled host can
    // delay the test but can never change its outcome. The old
    // wall-clock variant needed a retry-once guard and budget-gated
    // asserts; every assert here is strict.
    val s = graft.Sessions.stateStoreConfigure(spark.newSession())
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[FrameAssemblyTws.TimedMessage]
    val ttlMs = 4000L // stream-time ms — expiry needs a watermark jump
    val out = FrameAssemblyTws.assembleEventTime(input.toDS(), Seq(0, 1), ttlMs = ttlMs)
    val ckpt = Files.createTempDirectory("ckpt_tws_tomb").toString
    val name = "assembled_tws_tomb"
    val query = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    val T0 = 1000000L // synthetic delivery-clock origin (epoch ms)
    def at(m: EventListMessage, ms: Long) =
      FrameAssemblyTws.TimedMessage(m, new java.sql.Timestamp(T0 + ms))
    // sentinels ride an unused frame key: they only exist to advance the
    // watermark (their own partial frame is filtered out by frameNumber)
    def sentinel(ms: Long) = at(msg(0, 999999L), ms)
    def frame0Rows() = s.table(name).collect().filter(
      _.getAs[org.apache.spark.sql.Row]("metadata").getAs[Long]("frameNumber") == 0L)
    var batches = 0L
    def addAndDrain(rows: FrameAssemblyTws.TimedMessage*): Unit = {
      // wait until the engine has committed the batch carrying these rows
      // (plus any watermark-triggered no-data batch) — pure progress
      // polling, no timing assumption
      input.addData(rows: _*)
      batches += 1
      val deadline = System.currentTimeMillis() + 30000L
      // MemoryStream offsets are plain JSON numbers, 0-based per addData
      // call: after N calls the latest block's offset is N−1
      def committed(): Boolean = Option(query.lastProgress).exists { p =>
        p.sources.headOption.exists(src =>
          Option(src.endOffset).flatMap(_.replaceAll("[^0-9]", "") match {
            case "" => None
            case d => Some(d.toLong)
          }).exists(_ >= batches - 1))
      }
      while (!committed() && System.currentTimeMillis() < deadline) Thread.sleep(50L)
      assert(committed(), s"batch $batches never committed")
    }
    // A timer ≤ X fires in the first batch that RUNS with watermark ≥ X —
    // progress reports that watermark, so waiting for it is a
    // deterministic barrier for "expiry processed" (no ordering race with
    // the next addData: rows added after this are strictly later batches)
    def awaitWatermark(minMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      def wm(): Long = Option(query.lastProgress)
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(ts => java.time.Instant.parse(ts).toEpochMilli)
        .getOrElse(-1L)
      while (wm() < T0 + minMs && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      assert(wm() >= T0 + minMs, s"watermark never reached T0+$minMs (at ${wm()})")
    }
    try {
      // batch 1: digitiser 0 seeds the frame → first-message timer at +ttl
      addAndDrain(at(msg(0, 0), 0L))
      // batch 2: DUPLICATE digitiser 0 with a poisoned payload — the
      // stored partial's duplicate guard must reject it (cache.rs:71-74) —
      // then digitiser 1 completes the frame → dispatch + tombstone
      // armed at (T0+200) + ttl
      addAndDrain(
        at(EventListMessage(0, meta(0), Array(9L, 9L, 9L), Array(999, 999, 999),
          Array(9L, 9L, 9L)), 100L),
        at(msg(1, 0), 200L))
      val f0 = frame0Rows()
      assert(f0.length === 1)
      assert(f0.head.getAs[Boolean]("complete"))
      // the duplicate added NOTHING: 2 events per digitiser, not 5, and
      // the poisoned voltages are absent
      assert(f0.head.getAs[scala.collection.Seq[Long]]("time").length === 4)
      assert(!f0.head.getAs[scala.collection.Seq[Int]]("voltage").contains(999))

      // batches 3..4: redeliveries AFTER dispatch, in separate batches,
      // each re-arming the tombstone TTL from its own delivery time
      // (cache.rs:55-63). Stream time stays below every deadline, so the
      // absorb assertion is strict — a host stall cannot expire anything.
      addAndDrain(at(msg(0, 0), 1000L)) // tombstone → T0+5000
      addAndDrain(at(msg(1, 0), 2000L)) // tombstone → T0+6000
      // watermark probe BELOW the deadline: absorbed, still one emission
      addAndDrain(sentinel(3000L))
      awaitWatermark(3000L)
      assert(frame0Rows().length === 1, "tombstone must absorb redeliveries")

      // tombstone expiry: a sentinel jumps the watermark past T0+6000 →
      // the timer fires and clears the key entirely. A redelivery after
      // that re-seeds frame 0 as a fresh partial (the accepted
      // duplicate-emission window, matching the reference: cache.rs pops
      // expired frames; a later push starts a new one), and a final
      // sentinel past ITS first-message deadline flushes it incomplete.
      addAndDrain(sentinel(7000L))
      awaitWatermark(7000L) // > T0+6000 → tombstone timer fired, key cleared
      addAndDrain(at(msg(1, 0), 8000L)) // re-seed; first-message timer T0+12000
      addAndDrain(sentinel(20000L))
      awaitWatermark(20000L) // > T0+12000 → re-seeded partial flushed
      val reseeded = frame0Rows()
      assert(reseeded.length === 2, "post-expiry redelivery re-seeds the key")
      val second = reseeded.filter(!_.getAs[Boolean]("complete"))
      assert(second.length === 1)
      assert(second.head.getAs[scala.collection.Seq[Int]]("digitizersPresent") === Seq(1))
    } finally {
      try query.stop()
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("stream SGD: online training matches the batch-replay arithmetic and learns") {
    // The foreachBatch loop's moving parts the oracle can't isolate:
    // batch-at-a-time ingestion (one micro-batch per addData), the
    // getDecimal column mapping, and the hash-split determinism. Two
    // runs must be bit-identical and the online model must learn the
    // learnable label well above chance (it sees each example once).
    val a = graft.queries.StreamingQueries.streamSgd(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val n = a.getAs[Long]("n")
    val correct = a.getAs[Long]("n_correct")
    assert(n > 0 && correct.toDouble / n > 0.7,
      s"online SGD failed to learn: $correct/$n")
    assert(math.abs(a.getAs[Double]("w1")) > 0.05, "weights never moved")
    val b = graft.queries.StreamingQueries.streamSgd(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(a === b, "online training must be bit-deterministic across reruns")
  }

  test("streaming frame assembly drains to the batch operator's frame set") {
    val s = graft.Sessions.stateStoreConfigure(spark.newSession())
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // frames 0..7; frames f%3==0 miss digitiser 1 → TTL partials
    val feed = for {
      f <- 0L until 8L
      d <- Seq(0, 1) if !(f % 3 == 0 && d == 1)
    } yield msg(d, f, veto = (f % 4).toInt)
    def render(rows: Array[org.apache.spark.sql.Row]): Set[String] =
      rows.map { r =>
        val md = r.getAs[org.apache.spark.sql.Row]("metadata")
        Seq(
          md.getAs[Long]("frameNumber"),
          md.getAs[Int]("vetoFlags"),
          r.getAs[Boolean]("complete"),
          r.getAs[scala.collection.Seq[Int]]("digitizersPresent").mkString(","),
          r.getAs[scala.collection.Seq[Long]]("time").mkString(","),
          r.getAs[scala.collection.Seq[Int]]("voltage").mkString(","),
          r.getAs[scala.collection.Seq[Long]]("channel").mkString(",")).mkString("|")
      }.toSet

    val input = MemoryStream[EventListMessage]
    val name = "assembled_vs_batch"
    val ckpt = Files.createTempDirectory(s"ckpt_$name").toString
    val query = FrameAssemblyTws.assemble(input.toDS(), Seq(0, 1), ttlMs = 300L)
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    val streamed =
      try {
        input.addData(feed)
        val deadline = System.currentTimeMillis() + 30000L
        while (s.table(name).count() < 8 && System.currentTimeMillis() < deadline)
          Thread.sleep(100L)
        render(s.table(name).collect())
      } finally {
        try query.stop()
        finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    val batch = render(graft.operators.FrameAssembly.assemble(feed.toDS(), Seq(0, 1)).collect())
    assert(streamed.size === 8)
    assert(streamed === batch, "the TTL drain must assemble exactly the batch frame set")
  }

  test("run lifecycle stream: start/stop pairing, invalid stop rejected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ControlMessage]
    val out = RunStream.runIntervals(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt").toString
    val query = out.writeStream
      .format("memory")
      .queryName("runs")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(ControlMessage("start", "run_x", 1000L, "muon"))
      query.processAllAvailable()
      assert(spark.table("runs").collect().map(r =>
        (r.getString(0), r.getLong(1), Option(r.get(2)))).toSet ===
        Set(("run_x", 1000000000L, None)))

      // stop before start → rejected; valid stop → closes
      input.addData(ControlMessage("stop", "run_x", 500L, "muon"))
      query.processAllAvailable()
      assert(spark.table("runs").count() === 1)
      input.addData(ControlMessage("stop", "run_x", 3000L, "muon"))
      query.processAllAvailable()
      val rows = spark.table("runs").collect()
      assert(rows.length === 2)
      assert(rows.map(r => Option(r.get(2))).toSet.contains(Some(3000000000L)))

      // stop with no open run → rejected
      input.addData(ControlMessage("stop", "run_y", 4000L, "muon"))
      query.processAllAvailable()
      assert(spark.table("runs").count() === 2)
    } finally query.stop()
  }

  test("end-to-end streaming job: traces → events → frames → run-assigned sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("e2e").toString
    val catalog = new RunCatalog
    catalog.update(Iterator(RunInterval("run_e2e", meta(0).timestampNs - 1L, None)))
    val input = MemoryStream[TraceMessage]
    val query = lifecycleJob(input, new NexusSink(outDir), catalog,
      Files.createTempDirectory("ckpt").toString)
    try {
      input.addData(traceMsg(0, 0), traceMsg(1, 0), traceMsg(0, 1), traceMsg(1, 1))
      val deadline = System.currentTimeMillis() + 20000L
      def eventCount = countAt(s"$outDir/local/events")
      while (eventCount < 16 && System.currentTimeMillis() < deadline) Thread.sleep(200L)
      // 2 frames × 2 digitisers × 2 channels × 2 events (t=8,11 fixture)
      assert(eventCount === 16)
      val frames = spark.read.parquet(s"$outDir/local/frames")
      assert(frames.count() === 2)
      assert(frames.select("run_name").distinct().collect().map(_.getString(0)).toSeq === Seq("run_e2e"))
    } finally query.stop()
  }

  test("producer side: assembled frames stream to a binary topic as aev2 wire buffers (K1)") {
    import graft.dsp.{DetectorSettings, FixedThreshold}
    import graft.schemas.WireCodecs
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val topicDir = Files.createTempDirectory("wire_topic").toString
    val input = MemoryStream[TraceMessage]
    val query = PipelineJobs.framesToWireTopic(
      input.toDS(),
      DetectorSettings(FixedThreshold(5.0, 1, 0)),
      expectedDigitizers = Seq(0, 1),
      topicDir = topicDir,
      checkpoint = Files.createTempDirectory("wire_ckpt").toString,
      ttlMs = 200L)
    try {
      input.addData(traceMsg(0, 0), traceMsg(1, 0), traceMsg(0, 1), traceMsg(1, 1))
      val deadline = System.currentTimeMillis() + 20000L
      def topicCount: Long =
        try spark.read.parquet(topicDir).count()
        catch { case _: Throwable => 0L }
      while (topicCount < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(topicCount === 2)
      // the buffers on the topic are real aev2 wire messages
      val frames = spark.read.parquet(topicDir).collect()
        .map(r => WireCodecs.decodeAev2(r.getAs[Array[Byte]]("value")))
        .sortBy(_.metadata.frameNumber)
      assert(frames.forall(f => WireCodecs.hasIdentifier(WireCodecs.encodeAev2(f), "aev2")))
      assert(frames.map(_.metadata.frameNumber).toSeq === Seq(0L, 1L))
      assert(frames.forall(_.complete))
      assert(frames.forall(_.digitizersPresent.toSeq == Seq(0, 1)))
      // 2 digitisers × 2 channels × 2 events per channel (t=8,11 fixture)
      assert(frames.forall(_.time.length === 8))

      // consumer side (the nexus-writer topology): read the SAME topic
      // back through the identifier router and drive the run sink —
      // traces → frames → wire bytes → decode → run assignment → NeXus
      // layout, end to end over the real wire format
      val outDir = Files.createTempDirectory("wire_sink").toString
      val sink = new NexusSink(outDir)
      val runs = Seq(("run_wire", meta(0).timestampNs - 1L, null.asInstanceOf[java.lang.Long]))
        .toDF("run_name", "collect_from_ns", "collect_until_ns")
      val decoded = WireIngest.aev2FromBinary(
        spark.read.parquet(topicDir).select("value").as[Array[Byte]])
      sink.writeBatch(graft.operators.RunAssignment.assignFrames(decoded.toDF(), runs), 0L)
      val sunkFrames = spark.read.parquet(s"$outDir/local/frames")
      assert(sunkFrames.count() === 2)
      assert(spark.read.parquet(s"$outDir/local/events").count() === 16)
      assert(sunkFrames.select("run_name").distinct().head().getString(0) === "run_wire")
    } finally query.stop()
  }

  test("end-to-end restart: new sink + same checkpoint resumes event_index from disk, no duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("restart").toString
    val ckpt = Files.createTempDirectory("restart_ckpt").toString
    val catalog = new RunCatalog
    catalog.update(Iterator(RunInterval("run_rs", meta(0).timestampNs - 1L, None)))
    def eventCount = countAt(s"$outDir/local/events")
    def await(target: Long): Unit = {
      val deadline = System.currentTimeMillis() + 20000L
      while (eventCount < target && System.currentTimeMillis() < deadline) Thread.sleep(200L)
    }

    val input = MemoryStream[TraceMessage]
    def startJob(sink: NexusSink) = lifecycleJob(input, sink, catalog, ckpt)

    val q1 = startJob(new NexusSink(outDir))
    try {
      input.addData(traceMsg(0, 0), traceMsg(1, 0), traceMsg(0, 1), traceMsg(1, 1))
      await(16)
      assert(eventCount === 16)
    } finally q1.stop()

    // process restart: fresh sink instance (empty in-memory offset
    // cache), same checkpoint — K6 recovery must rebuild the base
    // offset from the partitions on disk
    val q2 = startJob(new NexusSink(outDir))
    try {
      input.addData(traceMsg(0, 2), traceMsg(1, 2), traceMsg(0, 3), traceMsg(1, 3))
      await(32)
      assert(eventCount === 32, "restart must append new frames exactly once")
      val frames = spark.read.parquet(s"$outDir/local/frames")
        .orderBy("event_time_zero").collect()
      assert(frames.length === 4)
      // cumulative across the restart: 8 events per assembled frame
      assert(frames.map(_.getAs[Long]("event_index")).toSeq === Seq(0L, 8L, 16L, 24L))
    } finally q2.stop()
  }

  test("full DAQ chain: control stream drives run catalog, sink, and linger finalisation") {
    import graft.dsp.{DetectorSettings, FixedThreshold}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("chain").toString
    val sink = new NexusSink(outDir)
    val catalog = new RunCatalog

    val startMs = (meta(0).timestampNs - 1000000L) / 1000000L
    val stopMs = (meta(3).timestampNs + 1000000L) / 1000000L

    val control = MemoryStream[ControlMessage]
    val controlQuery = PipelineJobs.controlToCatalog(
      control.toDS(), catalog, Files.createTempDirectory("chain_ctl_ckpt").toString,
      stopSink = Some(sink))


    val input = MemoryStream[TraceMessage]
    // deterministic "now": far past the stop's linger window, so the
    // finalisation poll closes the run as soon as the stop is seen
    val fixedNow = meta(3).timestampNs + 60L * 1000000000L
    val dataQuery = PipelineJobs.traceToNexusWithLifecycle(
      input.toDS(),
      DetectorSettings(FixedThreshold(5.0, 1, 0)),
      expectedDigitizers = Seq(0, 1),
      sink = sink,
      catalog = catalog,
      ttlMs = 200L,
      checkpoint = Files.createTempDirectory("chain_ckpt").toString,
      lingerMs = 1000L,
      nowNs = () => fixedNow)
    try {
      // open the run, then feed its frames
      control.addData(ControlMessage("start", "run_chain", startMs, "muon"))
      controlQuery.processAllAvailable()
      assert(catalog.entries === Seq(("run_chain", startMs * 1000000L, None)))

      input.addData(traceMsg(0, 0), traceMsg(1, 0), traceMsg(0, 1), traceMsg(1, 1))
      val deadline = System.currentTimeMillis() + 20000L
      while (countAt(s"$outDir/local/events") < 16 && System.currentTimeMillis() < deadline)
        Thread.sleep(200L)
      assert(countAt(s"$outDir/local/events") === 16)

      // stop the run; the data query's finalisation poll must move it
      control.addData(ControlMessage("stop", "run_chain", stopMs, "muon"))
      controlQuery.processAllAvailable()
      val deadline2 = System.currentTimeMillis() + 20000L
      while (countAt(s"$outDir/completed/events") < 16 && System.currentTimeMillis() < deadline2)
        Thread.sleep(200L)
      assert(countAt(s"$outDir/completed/events") === 16)
      assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/local/events/run_name=run_chain")))
      assert(catalog.entries.isEmpty, "finalised generation must leave the catalog")
    } finally { dataQuery.stop(); controlQuery.stop() }
  }

  test("full DAQ chain: frames with no open run drop without killing the query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("no_run").toString
    val catalog = new RunCatalog
    def eventCount = countAt(s"$outDir/local/events")
    val input = MemoryStream[TraceMessage]
    val sink = new NexusSink(outDir)
    val query = lifecycleJob(input, sink, catalog,
      Files.createTempDirectory("no_run_ckpt").toString)
    try {
      // a complete frame while the catalog is empty: dropped, but its
      // batch must still commit the assembly state for the batches after
      val fed = input.addData(traceMsg(0, 0), traceMsg(1, 0)).json
      // a pruned plan reports no input rows, so match the source offset
      def frameBatchDone = query.recentProgress.exists(_.sources.exists(_.endOffset == fed))
      val deadline = System.currentTimeMillis() + 20000L
      while (!frameBatchDone && query.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
      assert(frameBatchDone, s"the first frame's batch never finished: ${query.exception}")
      assert(sink.framesDroppedNoRun.get === 1L, "the dropped frame is counted")
      catalog.update(Iterator(RunInterval("run_late", meta(0).timestampNs - 1L, None)))
      input.addData(traceMsg(0, 1), traceMsg(1, 1))
      val deadline2 = System.currentTimeMillis() + 20000L
      while ((eventCount < 8 || sink.framesWritten.get < 1L) && query.isActive &&
        System.currentTimeMillis() < deadline2)
        Thread.sleep(200L)
      assert(query.isActive, s"query died: ${query.exception}")
      // only the second frame: 2 digitisers × 2 channels × 2 events
      assert(eventCount === 8)
      // the balance: each of the two assembled frames is written or dropped
      assert((sink.framesWritten.get, sink.eventsWritten.get) === ((1L, 8L)))
      assert(sink.framesWritten.get + sink.framesDroppedNoRun.get === 2L)
    } finally query.stop()
  }

  test("lifecycle job: one state partition, one file per plane per batch, one task per " +
    "post-shuffle stage, one job per non-empty batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("one_partition").toString
    val ckpt = Files.createTempDirectory("one_partition_ckpt").toString
    val catalog = new RunCatalog
    catalog.update(Iterator(RunInterval("run_one", meta(0).timestampNs - 1L, None)))
    val input = MemoryStream[TraceMessage]
    // (query id, reads a shuffle, tasks) of every stage submitted
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).foreach {
          id => stages.add((id, e.stageInfo.parentIds.nonEmpty, e.stageInfo.numTasks))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val (queryId, work) = try graft.obs.Obs.measured(spark, "one-partition-lock") {
      val query = lifecycleJob(input, new NexusSink(outDir), catalog, ckpt)
      // two frames per batch, so a batch spread over several partitions
      // would show as several tasks and files
      def feed(frames: Long*): Unit = {
        val fed = input.addData(frames.flatMap(f => Seq(traceMsg(0, f), traceMsg(1, f))): _*).json
        val deadline = System.currentTimeMillis() + 20000L
        while (!query.recentProgress.exists(_.sources.exists(_.endOffset == fed)) &&
          query.isActive && System.currentTimeMillis() < deadline) Thread.sleep(100L)
      }
      try { feed(0L, 1L); feed(2L, 3L) } finally query.stop()
      query.id.toString
    } finally spark.sparkContext.removeSparkListener(listener)
    // 4 frames × 2 digitisers × 2 channels × 2 events
    assert(countAt(s"$outDir/local/events") === 32)

    val partitions = Paths.get(ckpt, "state", "0").toFile.list().filter(_.forall(_.isDigit))
    assert(partitions.toSeq === Seq("0"), "one state partition")

    for (plane <- Seq("events", "frames", "periods")) {
      val gen = Paths.get(outDir, "local", plane, "run_name=run_one").toFile.listFiles().head
      val batches = gen.listFiles().filter(_.getName.startsWith("batch_id="))
      assert(batches.length === 2, s"$plane: one dir per non-empty batch")
      for (b <- batches)
        assert(b.list().count(_.endsWith(".parquet")) === 1, s"$plane ${b.getName}: one file")
    }

    val postShuffle = stages.toArray(Array.empty[(String, Boolean, Int)]).filter(s => s._1 == queryId && s._2)
    assert(postShuffle.nonEmpty && postShuffle.forall(_._3 == 1),
      s"post-shuffle stage tasks: ${postShuffle.map(_._3).mkString(",")}")

    val batches = work.nonEmptyBatches
    assert(batches.length === 2)
    // the events write, which observes the frame scalars the driver
    // writes the frames and periods planes from
    assert(batches.forall { case (_, b) => b.jobs == 1 },
      s"jobs per non-empty batch: ${batches.map(_._2.jobs).mkString(",")}")
  }

  test("lifecycle job: a session with no state-store conf runs the one RocksDB profile, " +
    "and start() leaves that session's conf as it was") {
    val s = spark.newSession()
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val pinned = graft.Sessions.StateStoreProfile.map(_._1) :+ "spark.sql.shuffle.partitions"
    val before = pinned.map(k => k -> s.conf.getOption(k))
    assert(!before.exists(_._2.contains(graft.Sessions.RocksDBProvider)))
    val outDir = Files.createTempDirectory("profile").toString
    val catalog = new RunCatalog
    catalog.update(Iterator(RunInterval("run_p", meta(0).timestampNs - 1L, None)))
    val input = MemoryStream[TraceMessage]
    val query = lifecycleJob(input, new NexusSink(outDir), catalog,
      Files.createTempDirectory("profile_ckpt").toString)
    try {
      assert(pinned.map(k => k -> s.conf.getOption(k)) === before)
      input.addData(traceMsg(0, 0), traceMsg(1, 0))
      val deadline = System.currentTimeMillis() + 20000L
      while (countAt(s"$outDir/local/events") < 8 && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
      assert(countAt(s"$outDir/local/events") === 8)
      val ran = query
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.sparkSession.sessionState.conf
      def ranWith(k: String) = ran.getConfString(k, "unset")
      assert(ranWith("spark.sql.streaming.stateStore.providerClass") === graft.Sessions.RocksDBProvider)
      assert(ranWith("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "false")
      assert(ranWith("spark.sql.streaming.stateStore.rocksdb.compactOnCommit") === "true")
    } finally query.stop()
    assert(pinned.map(k => k -> s.conf.getOption(k)) === before)
  }

  test("lifecycle job: a failed archive move is logged and counted, not swallowed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("archive_fail").toString
    // a regular file where the archive tier's directory must go
    Files.writeString(Paths.get(outDir, "archive"), "not a directory")
    val sink = new NexusSink(outDir)
    val catalog = new RunCatalog
    val startNs = meta(0).timestampNs - 1L
    catalog.update(Iterator(RunInterval("run_arch", startNs, None)))
    val input = MemoryStream[TraceMessage]
    val query = PipelineJobs.traceToNexusWithLifecycle(
      input.toDS(),
      graft.dsp.DetectorSettings(graft.dsp.FixedThreshold(5.0, 1, 0)),
      expectedDigitizers = Seq(0, 1),
      sink = sink,
      catalog = catalog,
      ttlMs = 200L,
      checkpoint = Files.createTempDirectory("archive_fail_ckpt").toString,
      lingerMs = 1000L,
      nowNs = () => meta(0).timestampNs + 60L * 1000000000L,
      archiveIntervalMs = 20L)
    def await(pred: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 20000L
      while (!pred && query.isActive && System.currentTimeMillis() < deadline) Thread.sleep(100L)
    }
    try {
      input.addData(traceMsg(0, 0), traceMsg(1, 0))
      await(countAt(s"$outDir/local/events") == 8)
      catalog.update(Iterator(RunInterval("run_arch", startNs, Some(meta(0).timestampNs + 1L))))
      await(sink.maintenanceFailures.get > 0L)
      assert(sink.maintenanceFailures.get > 0L, "the failed archive move is counted")
      assert(query.isActive, s"query died: ${query.exception}")
      // the generation waits in completed/ for the next poll
      assert(countAt(s"$outDir/completed/events") === 8)
    } finally { query.stop(); PipelineJobs.awaitMaintenance(query) }
  }

  test("nexus sink: per-run layout, linger finalisation, crash resume") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("nexus").toString
    val sink = new NexusSink(outDir)
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L, 6L), Array(100, 200), Array(0L, 1L), true, Array(0, 1)),
      AssembledFrame(meta(1), Array(7L), Array(300), Array(2L), true, Array(0, 1))).toDS()
    val assigned = aev2
      .withColumn("run_name", lit("run_a"))
      .withColumn("run_start_ns", lit(meta(0).timestampNs - 1L))
    sink.writeBatch(assigned, batchId = 0L)
    sink.writeBatch(assigned.withColumn("run_name", lit("run_b")), batchId = 1L)

    val events = spark.read.parquet(s"$outDir/local/events")
    assert(events.filter(col("run_name") === "run_a").count() === 3)
    val frames = spark.read.parquet(s"$outDir/local/frames")
    assert(frames.filter(col("run_name") === "run_a")
      .orderBy("event_time_zero").collect().map(_.getAs[Long]("event_index")).toSeq === Seq(0L, 2L))

    assert(sink.resumeRunGenerations().map(_._1) === Seq("run_a", "run_b"))

    // restart idempotence: replaying a batch id replaces its partitions
    sink.writeBatch(assigned, batchId = 0L)
    assert(spark.read.parquet(s"$outDir/local/events")
      .filter(col("run_name") === "run_a").count() === 3)

    // run_a stopped long ago → finalised; run_b still open → stays local
    val nowNs = meta(1).timestampNs + 10000000000L
    val startNs = meta(0).timestampNs - 1L
    val moved = sink.finalizeRuns(
      Seq(
        ("run_a", startNs, Some(meta(1).timestampNs + 1L)),
        ("run_b", startNs, None)),
      nowNs)
    assert(moved === Seq(("run_a", startNs)))
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/completed/events/run_name=run_a")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/local/events/run_name=run_a")))
    assert(sink.resumeRunGenerations().map(_._1) === Seq("run_b"))
    assert(spark.read.parquet(s"$outDir/completed/events").count() === 3)
  }

  test("run lifecycle stream: abort-on-restart caps the open generation (engine.rs:199-204)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ControlMessage]
    val out = RunStream.runIntervals(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_abort").toString
    val query = out.writeStream
      .format("memory")
      .queryName("runs_abort")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(ControlMessage("start", "run_ab", 1000L, "muon"))
      query.processAllAvailable()
      // restart while open: predecessor capped at the successor's start
      input.addData(ControlMessage("start", "run_ab", 5000L, "muon"))
      query.processAllAvailable()
      val rows = spark.table("runs_abort").collect()
        .map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
      assert(rows.contains((1000000000L, Some(5000000000L))), s"old gen must be capped: ${rows.toSeq}")
      assert(rows.contains((5000000000L, None)), s"new gen must open: ${rows.toSeq}")
      // a stop now closes the NEW generation, not the aborted one
      input.addData(ControlMessage("stop", "run_ab", 8000L, "muon"))
      query.processAllAvailable()
      assert(spark.table("runs_abort").collect()
        .map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
        .contains((5000000000L, Some(8000000000L))))
    } finally query.stop()
  }

  test("run catalog resumes open generations from the sink layout (K6)") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("resume_cat").toString
    val sink = new NexusSink(outDir)
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L), Array(100), Array(0L), true, Array(0))).toDS()
    val startNs = meta(0).timestampNs - 1L
    sink.writeBatch(
      aev2.withColumn("run_name", lit("run_res")).withColumn("run_start_ns", lit(startNs)),
      batchId = 0L)

    // driver restart: fresh catalog rebuilt from disk
    val catalog = new RunCatalog
    catalog.resumeFrom(new NexusSink(outDir))
    assert(catalog.entries === Seq(("run_res", startNs, None)))
    // a re-delivered stop then closes the resumed generation
    catalog.update(Iterator(RunInterval("run_res", startNs, Some(meta(0).timestampNs + 1L))))
    assert(catalog.entries.head._3.isDefined)

    // crash INSIDE the linger window: the stop was durably marked, so a
    // restarted catalog resumes the generation CLOSED and can finalize
    val stopNs = meta(0).timestampNs + 1L
    sink.markStopped("run_res", startNs, stopNs)
    val catalog2 = new RunCatalog
    catalog2.resumeFrom(new NexusSink(outDir))
    assert(catalog2.entries === Seq(("run_res", startNs, Some(stopNs))))

    // finalizing clears the marker; the generation leaves local/ for good
    val moved = sink.finalizeRuns(
      Seq(("run_res", startNs, Some(stopNs))), stopNs + 10000000000L)
    assert(moved === Seq(("run_res", startNs)))
    val catalog3 = new RunCatalog
    catalog3.resumeFrom(new NexusSink(outDir))
    assert(catalog3.entries.isEmpty)
  }

  test("resume re-extracts run parameters from the written parquet (K6 parity)") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("resume_params").toString
    val sink = new NexusSink(outDir)
    def fm(frame: Long, period: Long) =
      FrameMetadata(1700000000000000000L + frame * 20000000L, period, 4, true, frame, 0)
    val startNs = 1700000000000000000L - 1L
    def assign(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("run_name", lit("run_p"))
      .withColumn("run_start_ns", lit(startNs))
    sink.writeBatch(assign(Seq(
      AssembledFrame(fm(0, 0), Array(5L, 6L), Array(100, 200), Array(0L, 1L), true, Array(0, 1)),
      AssembledFrame(fm(1, 0), Array(7L), Array(300), Array(2L), true, Array(0, 1))).toDS().toDF()),
      batchId = 0L)
    sink.writeBatch(assign(Seq(
      AssembledFrame(fm(2, 1), Array(8L, 9L, 10L), Array(1, 2, 3), Array(0L, 1L, 2L), true, Array(0, 1))).toDS().toDF()),
      batchId = 1L)
    // crash INSIDE the linger window: the stop was durably marked
    val stopNs = fm(2, 1).timestampNs + 1L
    sink.markStopped("run_p", startNs, stopNs)

    // process restart: a FRESH sink re-derives the run parameters from
    // the partial layout (the reference re-reads them from the partial
    // file, entry/mod.rs:108-131) — not just the run names
    val resumed = new NexusSink(outDir).resumeRunParameters(spark)
    assert(resumed.map(_.runName) === Seq("run_p"))
    val st = resumed.head
    assert(st.runStartNs === startNs && st.stopNs === Some(stopNs))
    // extracted parameters equal the pre-crash state
    assert(st.periodList === Seq(0L, 1L), "accumulated period list")
    assert(st.periodFrames === Seq(2L, 1L))
    assert(st.periodEvents === Seq(3L, 3L))
    assert(st.nFrames === 3L)
    assert(st.firstFrameNs === Some(fm(0, 0).timestampNs - startNs))
    assert(st.nextEventIndex === 6L, "event_index high-water mark")
    assert(st.maxBatchId === Some(1L))

    // and the high-water mark is exactly where a restarted writer
    // continues: the next batch's frame starts at event_index 6
    val sink2 = new NexusSink(outDir)
    sink2.writeBatch(assign(Seq(
      AssembledFrame(fm(3, 1), Array(11L), Array(4), Array(0L), true, Array(0, 1))).toDS().toDF()),
      batchId = 2L)
    val f3 = spark.read.parquet(s"$outDir/local/frames")
      .filter(col("frame_number") === 3L).collect()
    assert(f3.map(_.getAs[Long]("event_index")).toSeq === Seq(6L))
  }

  test("sink recovery tolerates int-sized run_start_ns partition values") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("nexus_small_ns").toString
    val sink1 = new NexusSink(outDir)
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L, 6L), Array(100, 200), Array(0L, 1L), true, Array(0))).toDS()
    // a start at feed-ms 1 → run_start_ns = 1e6, which parquet partition
    // inference types as INT — recovery must cast, not ClassCastException
    val smallStart = 1000000L
    val assigned = aev2
      .withColumn("run_name", lit("run_small"))
      .withColumn("run_start_ns", lit(smallStart))
    sink1.writeBatch(assigned, batchId = 0L)

    // fresh sink: the unseen key forces the on-disk recovery read
    val sink2 = new NexusSink(outDir)
    sink2.writeBatch(assigned, batchId = 1L)
    val frames = spark.read.parquet(s"$outDir/local/frames")
      .orderBy("batch_id").collect()
    assert(frames.map(_.getAs[Long]("event_index")).toSeq === Seq(0L, 2L),
      "batch 1 must continue from batch 0's on-disk count")
    assert(sink2.resumeRunGenerations() === Seq(("run_small", smallStart, None)))
  }

  test("sink recovery tolerates a numeric run name (partition inference types it as INT)") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("nexus_numname").toString
    val sink1 = new NexusSink(outDir)
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L, 6L), Array(100, 200), Array(0L, 1L), true, Array(0))).toDS()
    // a run named like a number: partition-column inference reads the
    // run_name dir back as INT — recovery must cast to string, not
    // ClassCastException-crash-loop the replay
    val assigned = aev2
      .withColumn("run_name", lit("20260814"))
      .withColumn("run_start_ns", lit(1700000000000000000L))
    sink1.writeBatch(assigned, batchId = 0L)
    val sink2 = new NexusSink(outDir)
    sink2.writeBatch(assigned, batchId = 1L)
    val frames = spark.read.parquet(s"$outDir/local/frames")
      .orderBy("batch_id").collect()
    assert(frames.map(_.getAs[Long]("event_index")).toSeq === Seq(0L, 2L))
    assert(sink2.resumeRunGenerations().map(_._1) === Seq("20260814"))
  }

  test("run names with Hive-escapable characters survive write -> stop -> finalize") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("nexus_escname").toString
    val sink = new NexusSink(outDir)
    val name = "CAL:2026 A" // ':' and ' ' both Hive-escape in partition dirs
    val startNs = 1700000000000000000L
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L), Array(100), Array(0L), true, Array(0))).toDS()
    val assigned = aev2
      .withColumn("run_name", lit(name))
      .withColumn("run_start_ns", lit(startNs))
    sink.writeBatch(assigned, batchId = 0L)
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(name)
    assert(Files.exists(Paths.get(outDir, "local", "events", s"run_name=$esc")),
      "Spark writes the escaped partition dir")
    // stop marker + resume must round-trip the RAW name through escaping
    sink.markStopped(name, startNs, startNs + 1000000L)
    assert(sink.resumeRunGenerations() ===
      Seq((name, startNs, Some(startNs + 1000000L))))
    // finalize must find (and move) the ESCAPED dirs from the raw name
    val fin = sink.finalizeRuns(
      Seq((name, startNs, Some(startNs + 1000000L))),
      nowNs = startNs + 3600L * 1000000000L)
    assert(fin === Seq((name, startNs)))
    assert(!Files.exists(Paths.get(outDir, "local", "events", s"run_name=$esc")),
      "finalize must move the escaped generation out of local/")
    assert(Files.exists(Paths.get(outDir, "completed", "events", s"run_name=$esc")))
    assert(sink.resumeRunGenerations().isEmpty)
  }

  test("duplicate digitiser with DIFFERENT veto flags: rejected payload's flags stay out") {
    import spark.implicits._
    val original = EventListMessage(0, meta(0, veto = 1), Array(1L), Array(10), Array(0L))
    // redelivery: payload sorts after the original, veto flags differ —
    // the reference rejects the whole message before reading its flags
    val dup = EventListMessage(0, meta(0, veto = 8), Array(501L, 999L), Array(10, 1), Array(0L, 7L))
    val out = graft.operators.FrameAssembly
      .assemble(Seq(original, dup).toDS(), expectedDigitizers = Seq(0))
      .collect()
    assert(out.length == 1)
    val frame = out(0).getAs[org.apache.spark.sql.Row]("metadata")
    assert(frame.getAs[Int]("vetoFlags") == 1,
      "the rejected duplicate's veto flags must not leak into the frame")
  }

  test("stamped 'stop NOW' before a same-batch restart closes the OLD generation only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ControlMessage]
    val out = RunStream.runIntervals(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_now3").toString
    val query = out.writeStream
      .format("memory")
      .queryName("runs_now3")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(ControlMessage("start", "run_r", 1000L, "muon"))
      query.processAllAvailable()
      // operator stops the run (ingest-stamped at 5000) then restarts it
      // (start time 6000); both land in one catch-up batch. The stop
      // must close the OLD generation at its arrival position — not the
      // fresh one the restart opens.
      input.addData(
        ControlMessage("stop", "run_r", 0L, "muon", ingestTimeMs = 5000L),
        ControlMessage("start", "run_r", 6000L, "muon"))
      query.processAllAvailable()
      val rows = spark.table("runs_now3").collect()
        .map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
      val oldGen = rows.filter(_._1 == 1000L * 1000000L)
      assert(oldGen.contains((1000L * 1000000L, Some(5000L * 1000000L))),
        s"old generation must close at the stop's ingest stamp, got ${oldGen.toSeq}")
      val newGen = rows.filter(_._1 == 6000L * 1000000L)
      assert(newGen.nonEmpty && newGen.forall(_._2.isEmpty),
        s"the restarted generation must stay OPEN, got ${newGen.toSeq}")
    } finally query.stop()
  }

  test("run lifecycle stream: start and 'stop NOW' in the SAME batch close the run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ControlMessage]
    val out = RunStream.runIntervals(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_now2").toString
    val query = out.writeStream
      .format("memory")
      .queryName("runs_now2")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // catch-up backlog delivered in one micro-batch: the 0-stop must
      // sort AFTER the start it closes, not before it
      input.addData(
        ControlMessage("start", "run_same", 1000L, "muon"),
        ControlMessage("stop", "run_same", 0L, "muon"))
      query.processAllAvailable()
      val closed = spark.table("runs_now2").collect().filter(r => Option(r.get(2)).isDefined)
      assert(closed.length === 1, "same-batch stop NOW must close the run")

      // redelivered stale start must NOT resurrect the closed run: the
      // only (start=1000, open) emission is the original pre-stop one
      input.addData(ControlMessage("start", "run_same", 1000L, "muon"))
      query.processAllAvailable()
      val openEmissions = spark.table("runs_now2").collect()
        .count(r => r.getLong(1) == 1000000000L && Option(r.get(2)).isEmpty)
      assert(openEmissions === 1, "stale start redelivery must not emit a reopened interval")

      // generation starts are monotone per name: a start EARLIER than the
      // closed generation's is equally stale and must not open a new one
      input.addData(ControlMessage("start", "run_same", 500L, "muon"))
      query.processAllAvailable()
      assert(!spark.table("runs_now2").collect().exists(_.getLong(1) == 500000000L),
        "pre-dated start redelivery must not resurrect a finalized name")
    } finally query.stop()
  }

  test("run lifecycle stream: 'stop NOW' (time 0, no ingest stamp) still closes the run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ControlMessage]
    val out = RunStream.runIntervals(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_now").toString
    val query = out.writeStream
      .format("memory")
      .queryName("runs_now")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // start long in the past so the processing-time fallback is > start
      input.addData(ControlMessage("start", "run_now", 1000L, "muon"))
      query.processAllAvailable()
      input.addData(ControlMessage("stop", "run_now", 0L, "muon"))
      query.processAllAvailable()
      val closed = spark.table("runs_now").collect()
        .filter(r => Option(r.get(2)).isDefined)
      assert(closed.length === 1, "0-stop must resolve (processing-time fallback) and close the run")
      assert(closed.head.getLong(2) > 1000L * 1000000L)
    } finally query.stop()
  }

  test("wire control: 'stop NOW' on an injected clock resolves deterministically; " +
    "record timestamps make the Kafka shape replay-stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.schemas.{RunStart => WStart, RunStop => WStop, WireCodecs}
    val startBytes = WireCodecs.encodePl72(WStart("run_wire", 1000L, "muon"))
    val stopNowBytes = WireCodecs.encode6s4t(WStop("run_wire", 0L))

    // injected clock: the wire-fed stream resolves stop-NOW to EXACTLY
    // this stamp — no wall-clock nondeterminism in the closed interval
    val injectedMs = 777777L
    val input = MemoryStream[Array[Byte]]
    val out = RunStream.runIntervals(
      WireIngest.controlFromBinary(input.toDS(), clock = () => injectedMs))
    val ckpt = Files.createTempDirectory("ckpt_wire_now").toString
    val query = out.writeStream
      .format("memory")
      .queryName("runs_wire_now")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(startBytes, stopNowBytes)
      query.processAllAvailable()
      val closed = spark.table("runs_wire_now").collect().filter(r => Option(r.get(2)).isDefined)
      assert(closed.length === 1)
      assert(closed.head.getLong(2) === injectedMs * 1000000L,
        "stop NOW must resolve to the injected clock, exactly")
    } finally query.stop()

    // Kafka shape: (value, broker timestamp) — the stamp rides the record,
    // so a checkpoint replay re-derives the identical resolution
    val stamped = WireIngest.controlFromBinaryTimestamped(
      Seq((startBytes, 111L), (stopNowBytes, 222L)).toDS()).collect().sortBy(_.kind)
    assert(stamped.map(m => (m.kind, m.ingestTimeMs)).toSeq ===
      Seq(("start", 111L), ("stop", 222L)))
  }

  test("nexus sink: a restarted run reusing a name starts its own generation at event_index 0") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("nexus_gen").toString
    val sink = new NexusSink(outDir)
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L, 6L), Array(100, 200), Array(0L, 1L), true, Array(0, 1)),
      AssembledFrame(meta(1), Array(7L), Array(300), Array(2L), true, Array(0, 1))).toDS()
    val gen1Start = meta(0).timestampNs - 1L
    val gen2Start = meta(1).timestampNs + 500L
    val gen1 = aev2
      .withColumn("run_name", lit("run_r"))
      .withColumn("run_start_ns", lit(gen1Start))
    sink.writeBatch(gen1, batchId = 0L)

    // finalize generation 1, then restart the same name
    val nowNs = meta(1).timestampNs + 10000000000L
    val moved = sink.finalizeRuns(
      Seq(("run_r", gen1Start, Some(meta(1).timestampNs + 1L))), nowNs)
    assert(moved === Seq(("run_r", gen1Start)))
    assert(sink.resumeRunGenerations() === Seq.empty)

    val gen2 = aev2
      .withColumn("run_name", lit("run_r"))
      .withColumn("run_start_ns", lit(gen2Start))
    sink.writeBatch(gen2, batchId = 1L)
    // the new generation's frame offsets restart at 0, not at gen1's 3
    val frames = spark.read.parquet(s"$outDir/local/frames")
      .filter(col("run_start_ns") === gen2Start)
      .orderBy("event_time_zero").collect()
    assert(frames.map(_.getAs[Long]("event_index")).toSeq === Seq(0L, 2L))
    // gen1 rows stay in completed/, untouched by the restart
    assert(spark.read.parquet(s"$outDir/completed/events").count() === 3)
    assert(spark.read.parquet(s"$outDir/local/events").count() === 3)
  }

  test("full DAQ chain: per-run log tables (runlog/selog/alarm) written, finalized, archived") {
    import graft.dsp.{DetectorSettings, FixedThreshold}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("chain_logs").toString
    val sink = new NexusSink(outDir)
    val catalog = new RunCatalog

    val startMs = (meta(0).timestampNs - 1000000L) / 1000000L
    val stopMs = (meta(3).timestampNs + 1000000L) / 1000000L

    val control = MemoryStream[ControlMessage]
    val controlQuery = PipelineJobs.controlToCatalog(
      control.toDS(), catalog, Files.createTempDirectory("cl_ctl_ckpt").toString,
      stopSink = Some(sink))

    val runlogIn = MemoryStream[LogData]
    val selogIn = MemoryStream[SampleEnvLog]
    val alarmIn = MemoryStream[Alarm]
    val runlogQuery = PipelineJobs.runlogToNexus(
      runlogIn.toDS(), sink, catalog, Files.createTempDirectory("cl_rl_ckpt").toString)
    val selogQuery = PipelineJobs.selogToNexus(
      selogIn.toDS(), sink, catalog, Files.createTempDirectory("cl_se_ckpt").toString)
    val alarmQuery = PipelineJobs.alarmsToNexus(
      alarmIn.toDS(), sink, catalog, Files.createTempDirectory("cl_al_ckpt").toString)

    val input = MemoryStream[TraceMessage]
    // real wall-clock "now": the 2023-epoch fixture stop lingered out long
    // ago, and an ADVANCING clock lets the interval-gated archive poll
    // fire on a later trigger than the one that finalized the run
    val dataQuery = PipelineJobs.traceToNexusWithLifecycle(
      input.toDS(),
      DetectorSettings(FixedThreshold(5.0, 1, 0)),
      expectedDigitizers = Seq(0, 1),
      sink = sink,
      catalog = catalog,
      ttlMs = 200L,
      checkpoint = Files.createTempDirectory("cl_ckpt").toString,
      lingerMs = 1000L,
      archiveIntervalMs = 1L,
      // maintenance tier on: generations must reach archive/ compacted
      compactBeforeArchive = true)
    def await(what: String)(pred: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      while (!pred && System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(pred, s"timed out waiting for $what")
    }
    try {
      control.addData(ControlMessage("start", "run_logs", startMs, "muon"))
      controlQuery.processAllAvailable()
      assert(catalog.entries === Seq(("run_logs", startMs * 1000000L, None)))

      // in-run log traffic: f144 scalar + array, one se00 packet, one alarm
      val t0 = meta(0).timestampNs
      runlogIn.addData(
        LogData("IN:MUSR:CS:SB:temp", t0 + 1000L, "Double", 1.5, Array.empty),
        LogData("counts", t0 + 2000L, "ArrayInt", 0.0, Array(1.0, 2.0, 3.0)))
      selogIn.addData(SampleEnvLog(
        "IN:MUSR:CS:SB:field", 3, t0 + 5000L, 250000.0, "Middle",
        Array(0.25, 0.5, 0.75, 1.0), Array.empty[Long], 7L))
      alarmIn.addData(Alarm("IN:MUSR:CS:SB:hv", t0 + 9000L, "MAJOR", "over-voltage"))
      input.addData(traceMsg(0, 0), traceMsg(1, 0))

      await("local log tables") {
        countAt(s"$outDir/local/runlog") >= 4 &&
        countAt(s"$outDir/local/selog") >= 4 &&
        countAt(s"$outDir/local/alarm") >= 1
      }
      // typed read-back: per-sample expansion under the run's identity
      val rl = spark.read.parquet(s"$outDir/local/runlog").collect()
      assert(rl.forall(_.getAs[String]("run_name") == "run_logs"))
      assert(rl.count(_.getAs[String]("value_type") == "ArrayInt") === 3)
      assert(rl.filter(_.getAs[String]("source") == "temp")
        .map(_.getAs[Double]("value")).toSeq === Seq(1.5))
      val se = spark.read.parquet(s"$outDir/local/selog")
        .orderBy("sample_idx").collect()
      assert(se.map(_.getAs[Double]("value")).toSeq === Seq(0.25, 0.5, 0.75, 1.0))
      // Middle location + 250 µs delta: sample i stamps packet_ts + i×delta
      assert(se.map(_.getAs[Long]("time_ns")).toSeq ===
        Seq(t0 + 5000L, t0 + 255000L, t0 + 505000L, t0 + 755000L))
      val al = spark.read.parquet(s"$outDir/local/alarm").collect()
      assert(al.map(r => (r.getAs[String]("source"), r.getAs[Int]("severity_code"))).toSeq ===
        Seq(("hv", 2)))

      // stop: finalization moves ALL per-run tables, the archiver drains them
      control.addData(ControlMessage("stop", "run_logs", stopMs, "muon"))
      controlQuery.processAllAvailable()
      await("archive tier") {
        countAt(s"$outDir/archive/runlog") >= 4 &&
        countAt(s"$outDir/archive/selog") >= 4 &&
        countAt(s"$outDir/archive/alarm") >= 1 &&
        countAt(s"$outDir/archive/events") > 0 &&
        countAt(s"$outDir/archive/periods") > 0
      }
      // the periods group mirrors the reference's accumulated period list
      val periodList = spark.read.parquet(s"$outDir/archive/periods")
        .select("period_number").distinct().collect().map(_.getLong(0)).sorted
      assert(periodList.nonEmpty)
      assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/local/runlog/run_name=run_logs")))
      assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/completed/runlog/run_name=run_logs")))
      assert(catalog.entries.isEmpty)
    } finally {
      dataQuery.stop(); controlQuery.stop()
      runlogQuery.stop(); selogQuery.stop(); alarmQuery.stop()
    }
  }

  test("scripted scenario: one ActionSchedule value drives the full DAQ chain to archive") {
    import graft.dsp.{DetectorSettings, FixedThreshold}
    import graft.schemas.TraceMessage
    import graft.sources.ActionSchedule
    import graft.sources.ActionSchedule._
    import graft.sources.TraceGenerator.GeneratorConfig
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the whole "start → frames → logs/alarm mid-run → stop" lifecycle as
    // ONE declarative value (actions.rs:83-137 analog)
    val cfg = GeneratorConfig(nFrames = 2, nDigitizers = 2, timeBins = 64)
    val scenario = Seq(
      Comment("scripted lifecycle"),
      SendRunStart("run_sched"),
      WaitMs(1),
      SetVetoFlags(4),
      FrameLoop(nFrames = 2, digitizers = Seq(0, 1)),
      SendRunLog("IN:MUSR:CS:SB:temp", "Double", 1.5),
      SendAlarm("hv", "MAJOR", "over-voltage"),
      WaitMs(100),
      SendRunStop("run_sched"))
    val compiled = ActionSchedule.compile(scenario, cfg)

    val outDir = Files.createTempDirectory("sched_chain").toString
    val sink = new NexusSink(outDir)
    val catalog = new RunCatalog
    val control = MemoryStream[ControlMessage]
    val controlQuery = PipelineJobs.controlToCatalog(
      control.toDS(), catalog, Files.createTempDirectory("sc_ctl_ckpt").toString,
      stopSink = Some(sink))
    val runlogIn = MemoryStream[LogData]
    val alarmIn = MemoryStream[Alarm]
    val runlogQuery = PipelineJobs.runlogToNexus(
      runlogIn.toDS(), sink, catalog, Files.createTempDirectory("sc_rl_ckpt").toString)
    val alarmQuery = PipelineJobs.alarmsToNexus(
      alarmIn.toDS(), sink, catalog, Files.createTempDirectory("sc_al_ckpt").toString)
    val input = MemoryStream[TraceMessage]
    val dataQuery = PipelineJobs.traceToNexusWithLifecycle(
      input.toDS(),
      DetectorSettings(FixedThreshold(5.0, 1, 0)),
      expectedDigitizers = Seq(0, 1),
      sink = sink,
      catalog = catalog,
      ttlMs = 200L,
      checkpoint = Files.createTempDirectory("sc_ckpt").toString,
      lingerMs = 500L,
      archiveIntervalMs = 1L)
    def await(what: String)(pred: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      while (!pred && System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(pred, s"timed out waiting for $what")
    }
    try {
      // the compiled scenario IS the feed: starts first (catalog warm),
      // then in-run traffic, then the stop
      val (starts, stops) = compiled.control.partition(_.kind == "start")
      control.addData(starts)
      controlQuery.processAllAvailable()
      assert(catalog.entries.map(_._1) === Seq("run_sched"))

      input.addData(ActionSchedule.traces(spark, cfg, compiled).collect().toIndexedSeq)
      runlogIn.addData(compiled.runlog)
      alarmIn.addData(compiled.alarms)
      await("frames + logs in local/") {
        countAt(s"$outDir/local/frames") >= 2 &&
        countAt(s"$outDir/local/runlog") >= 1 &&
        countAt(s"$outDir/local/alarm") >= 1
      }
      // scheduled metadata reached the sink: every frame carries the
      // SetVetoFlags(4) state
      val frames = spark.read.parquet(s"$outDir/local/frames").collect()
      assert(frames.forall(_.getAs[Int]("veto_flags") === 4))

      control.addData(stops)
      controlQuery.processAllAvailable()
      await("archived scripted run") {
        countAt(s"$outDir/archive/frames") >= 2 &&
        countAt(s"$outDir/archive/runlog") >= 1 &&
        countAt(s"$outDir/archive/alarm") >= 1
      }
      assert(catalog.entries.isEmpty)
    } finally {
      dataQuery.stop(); controlQuery.stop(); runlogQuery.stop(); alarmQuery.stop()
    }
  }

  test("restart at scale: 1k-source se00/f144 log tables stay complete, event_index continuous") {
    import graft.dsp.{DetectorSettings, FixedThreshold}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("restart_scale").toString
    val dataCkpt = Files.createTempDirectory("rs_data_ckpt").toString
    val rlCkpt = Files.createTempDirectory("rs_rl_ckpt").toString
    val seCkpt = Files.createTempDirectory("rs_se_ckpt").toString

    val t0 = meta(0).timestampNs
    val startMs = (t0 - 1000000L) / 1000000L
    // 1200 f144 sources + 1000 se00 sources, all inside the run
    def runlogMsg(i: Int) =
      LogData(s"pv_$i", t0 + i.toLong * 1000L, "Double", i / 8.0, Array.empty)
    def selogMsg(i: Int) =
      SampleEnvLog(s"se_$i", i % 8, t0 + i.toLong * 1000L, 250000.0, "Start",
        Array(i / 4.0, i / 2.0), Array.empty[Long], i.toLong)

    val control = MemoryStream[ControlMessage]
    val runlogIn = MemoryStream[LogData]
    val selogIn = MemoryStream[SampleEnvLog]
    val input = MemoryStream[TraceMessage]
    def await(what: String)(pred: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 40000L
      while (!pred && System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(pred, s"timed out waiting for $what")
    }

    def startJobs(sink: NexusSink, catalog: RunCatalog, ctlCkpt: String) = (
      PipelineJobs.controlToCatalog(control.toDS(), catalog, ctlCkpt, stopSink = Some(sink)),
      PipelineJobs.runlogToNexus(runlogIn.toDS(), sink, catalog, rlCkpt),
      PipelineJobs.selogToNexus(selogIn.toDS(), sink, catalog, seCkpt),
      PipelineJobs.traceToNexusWithLifecycle(
        input.toDS(),
        DetectorSettings(FixedThreshold(5.0, 1, 0)),
        expectedDigitizers = Seq(0, 1),
        sink = sink,
        catalog = catalog,
        ttlMs = 200L,
        checkpoint = dataCkpt,
        lingerMs = 120000L)) // linger far out: the run must NOT finalize mid-test

    // ---- phase 1: half the traffic, then a crash (new sink + catalog)
    val catalog1 = new RunCatalog
    val (c1, r1, s1, d1) = startJobs(
      new NexusSink(outDir), catalog1, Files.createTempDirectory("rs_ctl1").toString)
    try {
      control.addData(ControlMessage("start", "run_big", startMs, "muon"))
      c1.processAllAvailable()
      runlogIn.addData((0 until 600).map(runlogMsg))
      selogIn.addData((0 until 500).map(selogMsg))
      input.addData(traceMsg(0, 0), traceMsg(1, 0), traceMsg(0, 1), traceMsg(1, 1))
      await("phase-1 tables") {
        countAt(s"$outDir/local/runlog") >= 600 &&
        countAt(s"$outDir/local/selog") >= 1000 && // 500 packets × 2 samples
        countAt(s"$outDir/local/events") >= 16
      }
    } finally { d1.stop(); c1.stop(); r1.stop(); s1.stop() }

    // ---- phase 2: fresh sink + catalog resumed from disk, same
    // checkpoints; the rest of the traffic, then the stop
    val sink2 = new NexusSink(outDir)
    val catalog2 = new RunCatalog
    catalog2.resumeFrom(sink2)
    assert(catalog2.entries.map(_._1) === Seq("run_big"), "resume must find the open run")
    val (c2, r2, s2, d2) = startJobs(
      sink2, catalog2, Files.createTempDirectory("rs_ctl2").toString)
    try {
      runlogIn.addData((600 until 1200).map(runlogMsg))
      selogIn.addData((500 until 1000).map(selogMsg))
      input.addData(traceMsg(0, 2), traceMsg(1, 2), traceMsg(0, 3), traceMsg(1, 3))
      await("phase-2 tables") {
        countAt(s"$outDir/local/runlog") >= 1200 &&
        countAt(s"$outDir/local/selog") >= 2000 &&
        countAt(s"$outDir/local/events") >= 32
      }
      // completeness: every source exactly once, no replays, no gaps
      val rl = spark.read.parquet(s"$outDir/local/runlog")
      assert(rl.count() === 1200)
      assert(rl.select("source").distinct().count() === 1200)
      val se = spark.read.parquet(s"$outDir/local/selog")
      assert(se.count() === 2000)
      assert(se.select("source").distinct().count() === 1000)
      // event_index continuity across the restart (8 events per frame)
      val frames = spark.read.parquet(s"$outDir/local/frames")
        .orderBy("event_time_zero").collect()
      assert(frames.map(_.getAs[Long]("event_index")).toSeq === Seq(0L, 8L, 16L, 24L))
    } finally { d2.stop(); c2.stop(); r2.stop(); s2.stop() }
  }

  test("late log batch for a finalized generation is discarded, not stranded in local/") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("late_log").toString
    val sink = new NexusSink(outDir)
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L), Array(100), Array(0L), true, Array(0))).toDS()
    val startNs = meta(0).timestampNs - 1L
    sink.writeBatch(
      aev2.withColumn("run_name", lit("run_late")).withColumn("run_start_ns", lit(startNs)),
      batchId = 0L)
    sink.finalizeRuns(Seq(("run_late", startNs, Some(meta(0).timestampNs + 1L))),
      meta(0).timestampNs + 10000000000L)
    // the race shape: a log micro-batch assigned BEFORE the finalize
    // commits its write AFTER — rows must be dropped (the reference's
    // closed-run late-message discard), never recreate local/ dirs that
    // the resume scan would resurrect as an open run
    val lateRows = Seq(("temp", "Double", meta(0).timestampNs, 0.0, 1.5, "run_late", startNs))
      .toDF("source", "value_type", "time_ns", "time_sec", "value", "run_name", "run_start_ns")
    sink.writeLogBatch(lateRows, "runlog", 7L)
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/local/runlog")))
    assert(sink.resumeRunGenerations() === Seq.empty)
    // a log batch for a LIVE generation still writes
    val liveRows = lateRows
      .withColumn("run_name", lit("run_live"))
      .withColumn("run_start_ns", lit(startNs + 5L))
    sink.writeLogBatch(liveRows, "runlog", 8L)
    assert(spark.read.parquet(s"$outDir/local/runlog").count() === 1)
  }

  test("archiver tier: flushToArchive drains completed/, merge-tolerant and idempotent") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("archive_unit").toString
    val sink = new NexusSink(outDir)
    val aev2 = Seq(
      AssembledFrame(meta(0), Array(5L), Array(100), Array(0L), true, Array(0))).toDS()
    val startNs = meta(0).timestampNs - 1L
    sink.writeBatch(
      aev2.withColumn("run_name", lit("run_arc")).withColumn("run_start_ns", lit(startNs)),
      batchId = 0L)
    // nothing completed yet → archive pass is a no-op
    assert(sink.flushToArchive() === Seq.empty)
    sink.finalizeRuns(Seq(("run_arc", startNs, Some(meta(0).timestampNs + 1L))),
      meta(0).timestampNs + 10000000000L)
    assert(sink.flushToArchive() === Seq(("run_arc", startNs)))
    assert(spark.read.parquet(s"$outDir/archive/events").count() === 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/completed/events/run_name=run_arc")))
    // a second generation of the same name archives into the same
    // name-level dir (merge path), and the pass is idempotent when empty
    sink.writeBatch(
      aev2.withColumn("run_name", lit("run_arc"))
        .withColumn("run_start_ns", lit(startNs + 1000L)),
      batchId = 1L)
    sink.finalizeRuns(Seq(("run_arc", startNs + 1000L, Some(meta(0).timestampNs + 2L))),
      meta(0).timestampNs + 10000000000L)
    assert(sink.flushToArchive() === Seq(("run_arc", startNs + 1000L)))
    assert(spark.read.parquet(s"$outDir/archive/events").count() === 2)
    assert(sink.flushToArchive() === Seq.empty)
  }

  test("stream-stream interval join drains to the exact batch-join result") {
    // own fixture with a plain-long ns ts column: the harness parquet's
    // TIMESTAMP(NANOS) physical type needs the nanosAsLong flag, which is
    // context-creation-time and so depends on suite ordering
    val dir = Files.createTempDirectory("graft_sjoin_fixture").toString
    val base = 1700000000000000000L // ns
    val fixture = spark
      .range(0, 300)
      .selectExpr(
        "id AS event_id",
        "id % 20 AS user_id",
        // alternating views and clicks, each event 7 minutes after the
        // previous one for its user → some pairs inside the 60-minute
        // window, later ones outside
        "CASE WHEN (id div 20) % 2 = 0 THEN 'view' ELSE 'click' END AS event_type",
        s"$base + (id div 20) * 420000000000 + (id % 20) * 1000000000 AS ts")
    val scratch = s"$dir/_w"
    fixture.coalesce(1).write.parquet(scratch)
    val part = new java.io.File(scratch).listFiles().filter(_.getName.endsWith(".parquet")).head
    // the stream source's pathGlobFilter matches FILE names — present the
    // fixture as a flat events.parquet file like the harness does
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    val streamed = graft.queries.StreamingQueries
      .streamJoin(spark, dir)
      .collect()
      .map(_.toString)
      .sorted
    // batch equivalent on the same engine: plain inner join with the
    // identical time-range predicate
    val ev = spark.read
      .parquet(s"$dir/events.parquet")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val v = ev
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = ev
      .filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val batch = v
      .join(
        c,
        col("user_id") === col("cu") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 60 MINUTES"))
      .select(
        col("user_id"),
        col("view_id"),
        col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
      .collect()
      .map(_.toString)
      .sorted
    assert(batch.nonEmpty, "fixture must produce at least one view→click pair")
    assert(streamed.toSeq == batch.toSeq, "stream-stream join must equal the batch join")
  }

  test("streaming trace-to-events equals the batch detector chain row-for-row") {
    val dir = "/root/testdata/sf0.001" // unused by both paths (closed-form fixture)
    val streamed = graft.queries.StreamingQueries
      .streamTraceToEvents(spark, dir)
      .collect()
      .map(_.toString)
      .sorted
    val batch = graft.queries.PipelineQueries
      .traceToEvents(spark, dir)
      .collect()
      .map(_.toString)
      .sorted
    assert(batch.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "the same EventFormation operator must produce identical events under both engines")
  }

  test("streaming CDC apply equals the batch MERGE snapshot row-for-row") {
    val dir = "/root/testdata/sf0.001"
    val stream = graft.queries.StreamingQueries
      .streamCdcApply(spark, dir)
      .collect()
      .map(_.toString)
      .sorted
    val batch = graft.queries.RelationalQueries
      .cdcApply(spark, dir)
      .collect()
      .map(_.toString)
      .sorted
    assert(stream.nonEmpty)
    assert(stream.toSeq === batch.toSeq,
      "transformWithState fold must equal the batch latest-per-key MERGE")
  }

  test("streaming minhash band dedup: verdict = min-per-band; drops every batch-pair loser") {
    import graft.functions.TextHash
    val dir = "/root/testdata/sf0.001"
    val verdict = graft.queries.StreamingQueries
      .streamMinhashDedup(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    // independent ground truth: first-arrival band ownership replayed in
    // doc_id order over the same hash kernels
    val docs = graft.Tables
      .documents(spark, dir)
      .filter(length(regexp_replace(col("text"), lit(" "), lit(""))) > 0)
      .select("doc_id", "text")
      .collect()
      .map(r =>
        r.getLong(0) -> TextHash.bandKeys(
          TextHash.minhashSignature(TextHash.shingles(r.getString(1), 1), 128),
          8))
    val owner = scala.collection.mutable.Map.empty[Long, Long]
    docs.sortBy(_._1).foreach { case (d, bands) =>
      bands.foreach(b => if (!owner.contains(b)) owner(b) = d)
    }
    assert(verdict.keySet === docs.map(_._1).toSet)
    docs.foreach { case (d, bands) =>
      val nKept = bands.count(b => owner(b) == d).toLong
      assert(verdict(d) === ((nKept, nKept == 8L)), s"doc $d")
    }
    // every batch-verified near-dup loser (higher id of an est≥0.7 pair)
    // collides on ≥1 band by construction → must be stream-dropped: the
    // streaming verdict is the candidate-level recall superset
    val batchDropped = graft.queries.DedupQueries
      .minhashPairs(spark, dir)
      .select("doc_b")
      .collect()
      .map(_.getLong(0))
      .toSet
    spark.catalog.clearCache()
    val streamDropped = verdict.collect { case (d, (_, false)) => d }.toSet
    assert(batchDropped.subsetOf(streamDropped),
      s"batch losers missing from stream drops: ${(batchDropped -- streamDropped).take(5)}")
    assert(streamDropped.nonEmpty, "fixture must contain banding collisions")
    assert(verdict.values.exists(_._2), "keep-set must be non-empty")
  }

  test("bitmap distinct stream: cross-batch dedup, monotone counts, per-key isolation") {
    val s = graft.Sessions.stateStoreConfigure(spark.newSession())
    implicit val sq = s.sqlContext
    import s.implicits._
    val input = MemoryStream[graft.streaming.BitmapDistinctStream.Obs]
    val out = input
      .toDS()
      .groupByKey(_.event_type)
      .transformWithState(
        new graft.streaming.BitmapDistinctStream,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bmstream_ckpt").toString
    val q = out.writeStream
      .format("memory")
      .queryName("bitmap_stream_test")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    import graft.streaming.BitmapDistinctStream.Obs
    try {
      input.addData(Obs("a", 1L), Obs("a", 2L), Obs("a", 1L), Obs("b", 7L))
      q.processAllAvailable()
      // batch 2 re-sends ids from batch 1 — the bitmap state must absorb them
      input.addData(Obs("a", 2L), Obs("a", 3L), Obs("b", 7L), Obs("b", -7L))
      q.processAllAvailable()
      val rows = s
        .table("bitmap_stream_test")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val lastA = rows.filter(_._1 == "a").map(_._2)
      val lastB = rows.filter(_._1 == "b").map(_._2)
      assert(lastA.sorted.toSeq == Seq(2L, 3L), s"a emissions: ${lastA.toSeq}")
      assert(lastB.sorted.toSeq == Seq(1L, 2L), s"b emissions: ${lastB.toSeq}")
    } finally {
      try q.stop()
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
}
