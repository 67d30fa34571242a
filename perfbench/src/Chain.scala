package perfbench

import graft.dsp.{DetectorSettings, FixedThreshold}
import graft.operators.{EventFormation, FrameAssembly, RunAssignment}
import graft.schemas.TraceMessage
import graft.streaming.{NexusSink, PipelineJobs, RunCatalog, WireIngest}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The two lifecycle-chain workloads. Both drive the program only through
  * `WireIngest.dat2FromBinary` / `controlFromBinaryTimestamped` →
  * `PipelineJobs.controlToCatalog` + `traceToNexusWithLifecycle`, and read
  * back only the sink's on-disk run files.
  */
object Chain {
  val TtlMs = 500L
  val LingerMs = 2000L
  val Settings = DetectorSettings(FixedThreshold(threshold = Inputs.Threshold, duration = 1))

  /** chain_live: an open loop at a fixed frame rate over long traces. */
  object Live {
    val shape = Shape(digitizers = 4, channels = 8, samples = 2000)
    val pulsesPerChannel = 24
    val rateHz = 15
    val runMs = 2000L
    // the first run is the warm-up: it covers the engine's cold start, is
    // checked like every run, and has no beam in its last second (a
    // frame-free tail), so cold micro-batches cannot outlast its linger.
    // Frames outside every run are not an option: with an empty run
    // catalog the chain skips its state commits and cannot restart them
    val warmupMs = 12000L
    val warmupTailMs = 1000L
    // run linger of this workload. The reference's 2 s is shorter than the
    // chain's frame latency here, so run ends would lose frames; those
    // frames are counted as `frames_late_for_2s_linger` instead
    val lingerMs = 5000L
    val referenceLingerMs = 2000L
    val leadMs = 1500L
    val omitShare = 0.02
  }

  /** chain_drain: a pre-generated backlog of ChainSoak-shaped traces. */
  object Drain {
    val shape = Shape(digitizers = 4, channels = 4, samples = 128)
    val chunkFrames = 1000
    val filesPerChunk = 4
    val runFrames = 5000L
    val frameMs = 20L
    val baseMs = 1767225600000L // 2026-01-01T00:00:00Z: the wire format keeps GPS years from 2000
    val archiveMs = 1000L
    val warmupBatches = 3
    // backlog sized for this many frames/s over the window, so the drain
    // never runs dry at the seed; the feeder stops releasing at the window end
    val sizingFps = 1000.0
    def frameTsNs(f: Long): Long = (baseMs + f * frameMs) * 1000000L
    def runStartMs(k: Long): Long = baseMs + k * runFrames * frameMs - 1
  }

  /** One brought-up pipeline: sink, catalog, control and data queries. */
  final class Pipeline(
      val dir: Path,
      val sinkDir: Path,
      val sink: NexusSink,
      val catalog: RunCatalog,
      val control: MemoryStream[(Array[Byte], Long)],
      val controlQ: StreamingQuery,
      val dataQ: StreamingQuery) {
    def stop(): Unit = {
      try dataQ.stop() finally controlQ.stop()
      PipelineJobs.awaitMaintenance(dataQ)
    }
  }

  /** Start the chain on `traces` and wait until it is ready for input:
    * both queries initialised and a warm-up run has made the round trip
    * through the control query into the catalog.
    */
  def bringUp(
      spark: SparkSession,
      dir: Path,
      traces: Dataset[TraceMessage],
      digitizers: Int,
      triggerMs: Long,
      lingerMs: Long,
      nowNs: () => Long,
      archiveMs: Long): Pipeline = {
    import spark.implicits._
    Files.createDirectories(dir)
    val sinkDir = dir.resolve("sink")
    val sink = new NexusSink(sinkDir.toString)
    val catalog = new RunCatalog
    val control = MemoryStream[(Array[Byte], Long)](spark)
    val controlQ = PipelineJobs.controlToCatalog(
      WireIngest.controlFromBinaryTimestamped(control.toDS()),
      catalog,
      dir.resolve("ckpt-control").toString,
      Some(sink))
    val dataQ = PipelineJobs.traceToNexusWithLifecycle(
      traces,
      Settings,
      0 until digitizers,
      sink,
      catalog,
      ttlMs = TtlMs,
      checkpoint = dir.resolve("ckpt-data").toString,
      triggerMs = triggerMs,
      lingerMs = lingerMs,
      nowNs = nowNs,
      archiveIntervalMs = archiveMs,
      compactBeforeArchive = archiveMs > 0)
    val p = new Pipeline(dir, sinkDir, sink, catalog, control, controlQ, dataQ)
    val now = System.currentTimeMillis()
    control.addData(
      (Inputs.runStart("warmup", now - 60000L), now),
      (Inputs.runStop("warmup", now - 59000L), now))
    val deadline = System.currentTimeMillis() + 60000L
    def controlReady = catalog.entries.exists(_._1 == "warmup")
    // the data query has left source initialisation and polls for input
    def dataReady = Option(dataQ.status.message).exists(_ != "Initializing sources")
    while (!(controlReady && dataReady) && System.currentTimeMillis() < deadline &&
      dataQ.isActive && controlQ.isActive)
      Thread.sleep(5L)
    if (!(controlReady && dataReady)) {
      val state = s"control ready: $controlReady (active ${controlQ.isActive}), " +
        s"data status: ${dataQ.status.message} (active ${dataQ.isActive})"
      p.stop()
      throw new IllegalStateException(s"pipeline did not become ready within 60 s; $state")
    }
    p
  }

  /** Bring the pipeline up `reps` times; every bring-up but the last is
    * torn down. Returns the kept pipeline and the bring-up times.
    */
  def setUp(reps: Int, tracer: Tracer)(one: Int => Pipeline): (Pipeline, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var kept: Pipeline = null
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val p = tracer.span("setup")(one(r))
      times += (System.nanoTime() - t0) / 1e9
      if (r < reps) { p.stop(); deleteTree(p.dir) } else kept = p
    }
    (kept, times.toSeq)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Set-up is timed three times in the untraced run; the traced run
    * reports no end-to-end metric and sets up once.
    */
  def setupReps(listeners: Option[Listeners]): Int = if (listeners.isDefined) 1 else 3

  // ---- sink read-back -------------------------------------------------

  private val tiers = Seq("local", "completed", "archive")

  private def readTier(spark: SparkSession, sinkDir: Path, tier: String, table: String): Option[DataFrame] = {
    val p = sinkDir.resolve(tier).resolve(table)
    if (!Files.isDirectory(p)) None
    else
      try {
        val df = spark.read.parquet(p.toString)
        df.schema
        Some(df)
      } catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Frames of every tier: (frame_ts_ns, complete, batch_id or -1). */
  def framesOnDisk(spark: SparkSession, sinkDir: Path): Seq[(Long, Boolean, Long)] =
    tiers.flatMap(t => readTier(spark, sinkDir, t, "frames")).map { df =>
      val batch = if (df.columns.contains("batch_id")) col("batch_id").cast("long") else lit(-1L)
      df.select(
        (col("run_start_ns").cast("long") + col("event_time_zero")).as("ts"),
        col("frame_complete"),
        batch.as("b"))
    }.reduceOption(_ unionByName _) match {
      case None => Seq.empty
      case Some(df) => df.collect().toSeq.map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    }

  /** Event count per frame timestamp, over every tier. */
  def eventsOnDisk(spark: SparkSession, sinkDir: Path): Map[Long, Long] =
    tiers.flatMap(t => readTier(spark, sinkDir, t, "events")).map(_.select(col("frame_ts_ns")))
      .reduceOption(_ unionByName _) match {
      case None => Map.empty
      case Some(df) =>
        df.groupBy(col("frame_ts_ns")).count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  /** (parquet bytes, parquet files) under a directory. */
  def census(p: Path): (Long, Long) =
    if (!Files.isDirectory(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L; var n = 0L
        s.iterator().asScala.foreach { f =>
          if (Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")) {
            bytes += Files.size(f); n += 1
          }
        }
        (bytes, n)
      } finally s.close()
    }

  def genDir(sinkDir: Path, tier: String, table: String, run: String, startNs: Long): Path =
    sinkDir.resolve(tier).resolve(table).resolve(s"run_name=$run").resolve(s"run_start_ns=$startNs")

  /** A generation has left local/ once none of its chain tables is there. */
  def leftLocal(sinkDir: Path, run: String, startNs: Long): Boolean =
    Seq("events", "frames", "periods").forall(t => !Files.exists(genDir(sinkDir, "local", t, run, startNs)))

  // ---- correctness ------------------------------------------------------

  final case class Check(attempted: Long, failed: Long, detail: Map[String, Any])

  /** Every fed frame on disk exactly once, with its planted event count and
    * the planned completeness; no frame that was not fed.
    */
  def checkFrames(
      fed: Map[Long, (Long, Boolean)], // ts → (planted events, complete)
      frames: Seq[(Long, Boolean, Long)],
      events: Map[Long, Long]): Check = {
    val seen = frames.groupBy(_._1)
    var missing, duplicated, extra, wrongComplete, wrongEvents = 0L
    fed.foreach { case (ts, (planted, complete)) =>
      seen.get(ts) match {
        case None => missing += 1
        case Some(rows) =>
          if (rows.size > 1) duplicated += 1
          if (rows.head._2 != complete) wrongComplete += 1
          if (events.getOrElse(ts, 0L) != planted) wrongEvents += 1
      }
    }
    extra = seen.keys.count(ts => !fed.contains(ts)).toLong
    val failed = missing + duplicated + extra + wrongComplete + wrongEvents
    Check(fed.size.toLong, failed, Map(
      "frames_fed" -> fed.size, "missing" -> missing, "duplicated" -> duplicated,
      "extra" -> extra, "wrong_complete" -> wrongComplete, "wrong_event_count" -> wrongEvents))
  }

  // ---- progress helpers -------------------------------------------------

  def commitNs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(p.batchDuration) * 1000000L

  def startNs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L

  /** Per-layer metrics every chain run reads from the data query's
    * progress (observed ingest counters, state operator, engine phases).
    */
  def progressMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def observed(k: String): Double = ps.map { p =>
      Option(p.observedMetrics.get("wire_ingest_dat2")).map(r => r.getAs[Long](k).toDouble).getOrElse(0.0)
    }.sum
    val ops = ps.flatMap(_.stateOperators.headOption)
    val nonEmpty = ps.filter(_.numInputRows > 0)
    Map(
      "schemas.msgs_in" -> observed("n_messages"),
      "schemas.msgs_ok" -> observed("n_ok"),
      "schemas.msgs_malformed" -> observed("n_malformed"),
      "assembly.state_rows_peak" -> (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble),
      "assembly.state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum.toDouble,
      "assembly.state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
      "microbatch.count" -> ps.size.toDouble,
      "microbatch.empty_frac" -> (if (ps.isEmpty) 0.0 else 1.0 - nonEmpty.size.toDouble / ps.size),
      "microbatch.duration_p50_ms" -> nz(Stats.median(nonEmpty.map(_.batchDuration.toDouble))),
      "microbatch.planning_ms" -> ps.map(dur(_, "queryPlanning")).sum,
      "microbatch.addbatch_ms" -> ps.map(dur(_, "addBatch")).sum,
      "microbatch.wal_ms" -> ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum)
  }

  def nz(d: Double): Double = if (d.isNaN) 0.0 else d

  // ---- layer replay (traced runs) ---------------------------------------

  /** One micro-batch-sized slice replayed through each layer's public
    * function in pipeline order. Every step's output is persisted and
    * counted inside its own span, so each span covers that layer's work
    * and nothing upstream of it.
    */
  def replay(
      spark: SparkSession,
      tracer: Tracer,
      listeners: Listeners,
      dir: Path,
      messages: Seq[Array[Byte]],
      digitizers: Int,
      runs: Seq[(String, Long, Long)]): Map[String, Double] = {
    import spark.implicits._
    val sink = new NexusSink(dir.resolve("sink").toString)
    val cores = spark.sparkContext.defaultParallelism
    val raw = spark.sparkContext.parallelize(messages, cores).toDS()
    val runDf = runs.map { case (n, a, b) => (n, a * 1000000L, java.lang.Long.valueOf(b * 1000000L)) }
      .toDF("run_name", "collect_from_ns", "collect_until_ns")
    val times = mutable.LinkedHashMap.empty[String, Double]
    def step[T](layer: String, name: String)(body: => T): T = {
      val g = s"replay:$layer"
      spark.sparkContext.setJobGroup(g, name)
      val t0 = System.nanoTime()
      val spanName = s"replay.$layer.$name"
      try tracer.span(spanName) {
        listeners.groupSpan.put(g, tracer.currentId)
        body
      } finally {
        times(layer) = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
      }
    }
    def materialise[T](ds: Dataset[T]): Dataset[T] = { val c = ds.persist(); c.count(); c }
    tracer.span("replay") {
      val decoded = step("schemas", "dat2FromBinary")(materialise(WireIngest.dat2FromBinary(raw, "replay_dat2")))
      val dev2 = step("formation", "formEvents")(materialise(EventFormation.formEvents(decoded, Settings)))
      val frames = step("assembly", "FrameAssembly.assemble")(materialise(FrameAssembly.assemble(dev2, 0 until digitizers)))
      val assigned = step("assign", "assignFrames")(materialise(RunAssignment.assignFrames(frames, runDf)))
      step("sink.write", "NexusSink.writeBatch")(sink.writeBatch(assigned, 0L))
      step("sink.finalize", "finalizeRuns")(
        sink.finalizeRuns(runs.map { case (n, a, b) => (n, a * 1000000L, Some(b * 1000000L)) }, Long.MaxValue / 4, LingerMs))
      step("sink.compact", "compactCompleted")(sink.compactCompleted(spark))
      step("sink.archive", "flushToArchive")(sink.flushToArchive())
      Seq(decoded, dev2, frames, assigned).foreach(_.unpersist())
    }
    listeners.settle()
    val formationCpu = listeners.totalsFor("replay:formation").cpuNs / 1e9
    Map(
      "schemas.decode_s" -> times("schemas"),
      "formation.busy_s" -> times("formation"),
      "formation.cpu_s" -> formationCpu,
      "assembly.busy_s" -> times("assembly"),
      "assign.busy_s" -> times("assign"),
      "sink.write_s" -> times("sink.write"),
      "sink.finalize_s" -> times("sink.finalize"),
      "sink.compact_s" -> times("sink.compact"),
      "sink.archive_s" -> times("sink.archive"),
      "replay.frames" -> (messages.size / digitizers).toDouble)
  }

  // ---- chain_live ----------------------------------------------------

  /** The open-loop generator: one thread, sending each frame's messages
    * back-to-back at the frame's due time and the control messages on
    * their own schedule, whatever the pipeline is doing.
    */
  final class LiveGenerator(
      inputs: Inputs,
      data: MemoryStream[Array[Byte]],
      control: MemoryStream[(Array[Byte], Long)],
      t0Ms: Long,
      nFrames: Int,
      runs: Seq[(String, Long, Long)],
      tracer: Tracer) extends Thread("perfbench-generator") {
    /** Frames due in the warm-up run's frame-free tail are not sent. */
    def sent(i: Int): Boolean = {
      val ms = (dueNs(i) / 1000000L) - t0Ms
      ms < Live.warmupMs - Live.warmupTailMs || ms >= Live.warmupMs
    }
    val periodNs: Long = 1000000000L / Live.rateHz
    def dueNs(i: Long): Long = t0Ms * 1000000L + i * periodNs + periodNs / 2
    val lateNs = new Array[Long](nFrames)
    val sentMsgs = new AtomicLong(0L)
    // (epoch ns, cumulative messages) after each send, for the backlog
    val sendLog = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var failure: Throwable = null

    private val controlEvents: Seq[(Long, Array[Byte])] = runs.flatMap { case (name, a, b) =>
      Seq(((a - Live.leadMs) * 1000000L, Inputs.runStart(name, a)), (b * 1000000L, Inputs.runStop(name, b)))
    }.sortBy(_._1)

    private def waitUntil(ns: Long): Unit = {
      var d = ns - Clock.epochNs()
      while (d > 0) { LockSupport.parkNanos(d); d = ns - Clock.epochNs() }
    }

    override def run(): Unit = try tracer.span("generator") {
      var c = 0
      var i = 0
      while (i < nFrames || c < controlEvents.size) {
        val nextFrame = if (i < nFrames) dueNs(i) else Long.MaxValue
        if (i < nFrames && !sent(i)) i += 1
        else if (c < controlEvents.size && controlEvents(c)._1 <= nextFrame) {
          waitUntil(controlEvents(c)._1)
          control.addData((controlEvents(c)._2, System.currentTimeMillis()))
          c += 1
        } else {
          val bytes = inputs.frameBytes(i, dueNs(i))
          waitUntil(dueNs(i))
          data.addData(bytes.toSeq)
          val now = Clock.epochNs()
          lateNs(i) = now - dueNs(i)
          val total = sentMsgs.addAndGet(bytes.length)
          sendLog.synchronized(sendLog += ((now, total)))
          i += 1
        }
      }
    } catch { case t: Throwable => failure = t }
  }

  def runLive(
      spark: SparkSession,
      work: Path,
      seed: Long,
      seconds: Int,
      tracer: Tracer,
      listeners: Option[Listeners]): Result = {
    import spark.implicits._
    val inputs = new Inputs(seed, Live.shape, comb = false, Live.pulsesPerChannel, Live.omitShare)
    val cores = spark.sparkContext.defaultParallelism
    var data: MemoryStream[Array[Byte]] = null
    val (p, setupTimes) = setUp(setupReps(listeners), tracer) { r =>
      data = MemoryStream[Array[Byte]](spark, cores)
      bringUp(spark, work.resolve(s"live-$r"), WireIngest.dat2FromBinary(data.toDS()),
        Live.shape.digitizers, triggerMs = 100L, lingerMs = Live.lingerMs,
        nowNs = () => System.currentTimeMillis() * 1000000L, archiveMs = 0L)
    }
    try {
      val measuredMs = ((seconds * 1000L + Live.runMs - 1) / Live.runMs) * Live.runMs
      val totalMs = Live.warmupMs + measuredMs
      val t0Ms = System.currentTimeMillis() + Live.leadMs + 200L
      val nRuns = 1 + (measuredMs / Live.runMs).toInt
      val runs = (f"run_${seed}_warmup", t0Ms, t0Ms + Live.warmupMs) +: (1 until nRuns).map(k =>
        (f"run_${seed}_$k%03d", t0Ms + Live.warmupMs + (k - 1) * Live.runMs, t0Ms + Live.warmupMs + k * Live.runMs))
      val nFrames = (totalMs * Live.rateHz / 1000L).toInt
      val gen = new LiveGenerator(inputs, data, p.control, t0Ms, nFrames, runs, tracer)

      // close-lag watcher: wall time from stop + linger to the generation leaving local/
      val finalizedNs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      @volatile var watching = true
      val watcher = new Thread(() => {
        while (watching) {
          val now = Clock.epochNs()
          runs.zipWithIndex.foreach { case ((name, a, b), k) =>
            if (!finalizedNs.containsKey(k) && (b + Live.lingerMs) * 1000000L < now &&
              leftLocal(p.sinkDir, name, a * 1000000L) &&
              Files.exists(genDir(p.sinkDir, "completed", "frames", name, a * 1000000L)))
              finalizedNs.put(k, now)
          }
          Thread.sleep(2L)
        }
      }, "perfbench-close-watcher")
      watcher.setDaemon(true)

      val cpu = new CpuSampler(Some(gen))
      cpu.start()
      watcher.start()
      gen.start()
      gen.join()
      if (gen.failure != null) throw gen.failure
      // tail: every run finalized (stop + linger + a few batches), bounded
      val tailDeadline = System.currentTimeMillis() + Live.lingerMs + 20000L
      while (finalizedNs.size < nRuns && System.currentTimeMillis() < tailDeadline && p.dataQ.isActive)
        Thread.sleep(20L)
      cpu.finish()
      watching = false
      watcher.join()
      val progress = p.dataQ.recentProgress.toSeq
      p.stop()
      if (p.dataQ.exception.isDefined) throw p.dataQ.exception.get

      // ---- read back and check ----
      val frames = framesOnDisk(spark, p.sinkDir)
      val events = eventsOnDisk(spark, p.sinkDir)
      val fed = (0 until nFrames).filter(gen.sent).map { i =>
        gen.dueNs(i) -> (inputs.plantedEvents(i), inputs.omitted(i) < 0)
      }.toMap
      val chk = checkFrames(fed, frames, events)
      val unfinalized = (0 until nRuns).count(k => !finalizedNs.containsKey(k))

      // frame latency: due time → commit of the micro-batch that wrote it
      val commit = progress.map(pr => pr.batchId -> commitNs(pr)).toMap
      val winStartNs = (t0Ms + Live.warmupMs) * 1000000L
      val winEndNs = winStartNs + seconds * 1000000000L
      val lat = frames.collect {
        case (ts, true, b) if ts >= winStartNs && ts < winEndNs && commit.contains(b) =>
          (commit(b) - ts) / 1e6
      }
      val lags = runs.zipWithIndex.drop(1).flatMap { case ((_, _, b), k) =>
        Option(finalizedNs.get(k)).map(f => (f.longValue - (b + Live.lingerMs) * 1000000L) / 1e6)
      }
      val late = (0 until nFrames).filter(gen.sent).map(i => gen.lateNs(i) / 1e6)
      // frames committed after their run's stop + the reference's 2 s
      // linger: the ones a 2 s linger would have dropped
      val lateFor2s = frames.count { case (ts, _, bid) =>
        commit.get(bid).exists(c => runs.exists { case (_, a, b) =>
          a * 1000000L < ts && ts < b * 1000000L && c > (b + Live.referenceLingerMs) * 1000000L
        })
      }
      val windowFrames = fed.keys.count(ts => ts >= winStartNs && ts < winEndNs)
      val complete = frames.count(_._2)
      val latP50 = Stats.median(lat)
      val latP99 = Stats.tail(lat)
      val committedInWindow = frames.count { case (ts, _, b) => ts >= winStartNs && ts < winEndNs && commit.contains(b) }
      // CPU of the measured window's wall time, generator excluded, per frame due in it
      val cpuMsPerFrame = cpu.between(winStartNs, winEndNs) / 1e6 / math.max(1, windowFrames)

      val e2e = Map(
        "latency_p50_ms" -> latP50,
        "latency_tail_ms" -> latP99,
        // the open loop fixes the delivered rate, so report the rate the
        // host's cores could carry at the measured CPU cost per frame
        "items_per_s" -> cores * 1000.0 / cpuMsPerFrame,
        "cpu_ms_per_item" -> cpuMsPerFrame)
      val (sinkBytes, sinkFiles) = census(p.sinkDir)
      val layer = mutable.Map.empty[String, Double]
      if (listeners.isDefined) {
        layer ++= progressMetrics(progress)
        layer ++= Map(
          "formation.samples" -> gen.sentMsgs.get * Live.shape.channels.toDouble * Live.shape.samples,
          "formation.events" -> events.values.sum.toDouble,
          "assembly.frames_out" -> frames.size.toDouble,
          "assembly.frames_incomplete" -> frames.count(!_._2).toDouble,
          "assign.frames_assigned" -> frames.size.toDouble,
          "assign.frames_unassigned" -> math.max(0, fed.size - frames.map(_._1).distinct.size).toDouble,
          "sink.bytes_written" -> sinkBytes.toDouble,
          "sink.files_written" -> sinkFiles.toDouble,
          "sink.bytes_per_frame" -> sinkBytes.toDouble / math.max(1, frames.size),
          "sink.close_lag_p50_ms" -> nz(Stats.median(lags)),
          "sink.frames_late_for_2s_linger" -> lateFor2s.toDouble,
          "generator.late_ms_max" -> late.max,
          "source.backlog_frames_max" -> backlogMax(gen.sendLog.synchronized(gen.sendLog.toVector), progress) / Live.shape.digitizers)
      }
      Result(
        setupTimes = setupTimes,
        e2e = e2e,
        attempted = chk.attempted + nRuns,
        failed = chk.failed + unfinalized,
        named = Map(
          "frame_latency_p50_ms" -> (latP50, "ms"),
          "frame_latency_tail_ms" -> (latP99, "ms"),
          "run_close_lag_p50_ms" -> (nz(Stats.median(lags)), "ms"),
          "frames_late_for_2s_linger" -> (lateFor2s.toDouble, "count")),
        layer = layer.toMap,
        detail = chk.detail ++ Map(
          "latency_p50_ms_by_run" -> runs.map { case (_, a, b) =>
            nz(Stats.median(frames.collect {
              case (ts, true, bid) if ts > a * 1000000L && ts < b * 1000000L && commit.contains(bid) =>
                (commit(bid) - ts) / 1e6
            }))
          },
          "missing_by_run" -> runs.map { case (_, a, b) =>
            fed.keys.count(ts => ts > a * 1000000L && ts < b * 1000000L && !frames.exists(_._1 == ts))
          },
          "latency_samples" -> lat.size, "window_frames" -> windowFrames, "window_frames_committed" -> committedInWindow,
          "frames_complete" -> complete, "runs" -> nRuns, "runs_unfinalized" -> unfinalized,
          "close_lag_samples" -> lags.size, "rate_hz" -> Live.rateHz,
          "shape" -> s"${Live.shape.digitizers}x${Live.shape.channels}x${Live.shape.samples}"),
        generatorLateMs = Some((Stats.median(late), late.max)),
        replayInput = Some(() => {
          // one median-sized data batch of the same input, from the window start
          val perBatch = math.max(1, Stats.median(progress.filter(_.numInputRows > 0)
            .map(_.numInputRows.toDouble)).toInt / Live.shape.digitizers)
          val first = (Live.warmupMs * Live.rateHz / 1000L).toInt
          val msgs = (first until first + perBatch).flatMap(i => inputs.frameBytes(i, gen.dueNs(i)).toSeq)
          (msgs, runs.map { case (n, a, b) => (n, a, b) })
        }))
    } catch {
      case t: Throwable => try p.stop() catch { case _: Throwable => () }; throw t
    }
  }

  /** Largest gap between messages sent and messages the data query had
    * consumed, sampled at each batch commit.
    */
  def backlogMax(sendLog: Seq[(Long, Long)], progress: Seq[StreamingQueryProgress]): Double = {
    var consumed = 0L
    var worst = 0L
    progress.sortBy(_.batchId).foreach { pr =>
      consumed += pr.numInputRows
      val at = commitNs(pr)
      val sent = sendLog.takeWhile(_._1 <= at).lastOption.map(_._2).getOrElse(0L)
      worst = math.max(worst, sent - consumed)
    }
    worst.toDouble
  }

  // ---- chain_drain -----------------------------------------------------

  /** Encode the backlog as dat2 parquet files, `filesPerChunk` per
    * micro-batch, staged outside the source directory.
    */
  def writeBacklog(spark: SparkSession, seed: Long, chunks: Int, staged: Path): Unit = {
    import spark.implicits._
    val parts = chunks * Drain.filesPerChunk
    val perFile = Drain.chunkFrames / Drain.filesPerChunk
    val shape = Drain.shape
    val tmp = staged.resolve("tmp")
    spark.range(0, parts, 1, parts).as[Long].flatMap { part =>
      val in = new Inputs(seed, shape, comb = true, 0, 0.0)
      (part * perFile until (part + 1) * perFile).iterator.flatMap(f => in.frameBytes(f, Drain.frameTsNs(f)))
    }.toDF("value").write.parquet(tmp.toString)
    val ls = Files.list(tmp)
    try ls.iterator().asScala.foreach { f =>
      val n = f.getFileName.toString
      if (n.startsWith("part-") && n.endsWith(".parquet")) {
        val part = n.stripPrefix("part-").takeWhile(_.isDigit).toInt
        Files.move(f, staged.resolve(f"chunk-${part / Drain.filesPerChunk}%05d-${part % Drain.filesPerChunk}.parquet"))
      }
    } finally ls.close()
    deleteTree(tmp)
  }

  /** Releases staged chunks into the source directory, keeping at most
    * two chunks admitted but not yet consumed, until told to stop.
    */
  final class Feeder(staged: Path, source: Path, chunks: Int, consumedFrames: () => Long)
      extends Thread("perfbench-feeder") {
    @volatile var open = true
    @volatile var released = 0
    val releaseLog = mutable.ArrayBuffer.empty[(Long, Long)]
    private val baseMtime = System.currentTimeMillis()
    override def run(): Unit =
      while (open && released < chunks) {
        val consumed = (consumedFrames() / Drain.chunkFrames).toInt
        if (released - consumed < 2) {
          (0 until Drain.filesPerChunk).foreach { j =>
            val name = f"chunk-$released%05d-$j.parquet"
            val f = staged.resolve(name)
            Files.setLastModifiedTime(f, FileTime.fromMillis(baseMtime + released * 1000L))
            Files.move(f, source.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          }
          released += 1
          releaseLog.synchronized(releaseLog += ((Clock.epochNs(), released.toLong * Drain.chunkFrames * Drain.shape.digitizers)))
        } else Thread.sleep(2L)
      }
  }

  /** Counts the data query's consumed frames from its completed batches:
    * the written-high-water data clock the drain's linger runs on.
    */
  final class DataClock(digitizers: Int) extends StreamingQueryListener {
    @volatile var queryId: java.util.UUID = null
    val frames = new AtomicLong(0L)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == queryId) frames.addAndGet(e.progress.numInputRows / digitizers)
    def nowNs(): Long = Drain.frameTsNs(frames.get())
  }

  final case class DrainRun(
      p: Pipeline, feeder: Feeder, clock: DataClock, progress: Seq[StreamingQueryProgress],
      runs: Seq[(String, Long, Long)], cpu: CpuSampler)

  /** Drain released chunks for `windowMs` (after the warm-up batches),
    * then let the chain finish what was released and archive every run
    * that closed.
    */
  def drainOnce(
      spark: SparkSession,
      dir: Path,
      staged: Path,
      chunks: Int,
      windowMs: Long,
      setupReps: Int,
      tracer: Tracer): (DrainRun, Seq[Double]) = {
    val source = dir.resolve("source")
    Files.createDirectories(source)
    val clock = new DataClock(Drain.shape.digitizers)
    spark.streams.addListener(clock)
    val (p, setupTimes) = setUp(setupReps, tracer) { r =>
      val d = dir.resolve(s"drain-$r")
      val traces = WireIngest.dat2FromBinary(
        spark.readStream.schema("value binary")
          .option("maxFilesPerTrigger", Drain.filesPerChunk.toString)
          .parquet(source.toString)
          .select(col("value")).as[Array[Byte]](Encoders.BINARY))
      val pl = bringUp(spark, d, traces, Drain.shape.digitizers, triggerMs = 0L, lingerMs = LingerMs,
        nowNs = () => clock.nowNs(), archiveMs = Drain.archiveMs)
      clock.queryId = pl.dataQ.id
      pl
    }
    try {
      val totalFrames = chunks.toLong * Drain.chunkFrames
      val nRuns = ((totalFrames + Drain.runFrames - 1) / Drain.runFrames).toInt
      val runs = (0 until nRuns).map(k =>
        (f"run_$k%03d", Drain.runStartMs(k), Drain.runStartMs(k + 1)))
      val now = System.currentTimeMillis()
      runs.foreach { case (n, a, b) =>
        p.control.addData((Inputs.runStart(n, a), now), (Inputs.runStop(n, b), now))
      }
      val deadline = System.currentTimeMillis() + 30000L
      while (!runs.forall(r => p.catalog.entries.exists(_._1 == r._1)) && System.currentTimeMillis() < deadline)
        Thread.sleep(5L)
      require(runs.forall(r => p.catalog.entries.exists(_._1 == r._1)), "control query did not deliver the runs")

      val feeder = new Feeder(staged, source, chunks, () => clock.frames.get())
      val cpu = new CpuSampler(None)
      cpu.start()
      feeder.start()
      // window: from the end of the warm-up batches, for windowMs
      val warm = Drain.warmupBatches.toLong * Drain.chunkFrames
      val hardStop = System.currentTimeMillis() + 150000L
      while (clock.frames.get() < warm && p.dataQ.isActive && System.currentTimeMillis() < hardStop) Thread.sleep(5L)
      val windowEnd = System.currentTimeMillis() + windowMs
      while (System.currentTimeMillis() < windowEnd && feeder.isAlive && p.dataQ.isActive) Thread.sleep(5L)
      feeder.open = false
      feeder.join()
      val releasedFrames = feeder.released.toLong * Drain.chunkFrames
      while (clock.frames.get() < releasedFrames && p.dataQ.isActive && System.currentTimeMillis() < hardStop)
        Thread.sleep(5L)
      cpu.finish()
      // every run whose stop + linger the data clock has passed must be archived
      def eligible = runs.filter { case (_, _, b) => (b + LingerMs) * 1000000L < clock.nowNs() }
      def archived(r: (String, Long, Long)) =
        Files.exists(genDir(p.sinkDir, "archive", "frames", r._1, r._2 * 1000000L)) &&
          leftLocal(p.sinkDir, r._1, r._2 * 1000000L) &&
          !Files.exists(genDir(p.sinkDir, "completed", "frames", r._1, r._2 * 1000000L))
      val archiveDeadline = System.currentTimeMillis() + 30000L
      while (!eligible.forall(archived) && p.dataQ.isActive && System.currentTimeMillis() < archiveDeadline)
        Thread.sleep(20L)
      val progress = p.dataQ.recentProgress.toSeq
      p.stop()
      spark.streams.removeListener(clock)
      if (p.dataQ.exception.isDefined) throw p.dataQ.exception.get
      (DrainRun(p, feeder, clock, progress, runs, cpu), setupTimes)
    } catch {
      case t: Throwable =>
        try p.stop() catch { case _: Throwable => () }
        spark.streams.removeListener(clock)
        throw t
    }
  }

  /** Steady drain rate: frames of the non-empty batches after the warm-up
    * ones, over their summed durations.
    */
  def steady(progress: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    progress.filter(_.numInputRows > 0).sortBy(_.batchId).drop(Drain.warmupBatches)

  /** Steady frames over the wall span from the first steady batch's start
    * to the last one's commit.
    */
  def fps(progress: Seq[StreamingQueryProgress]): Double = {
    val s = steady(progress)
    if (s.isEmpty) 0.0
    else s.map(_.numInputRows).sum.toDouble / Drain.shape.digitizers /
      math.max(1e-9, (commitNs(s.last) - startNs(s.head)) / 1e9)
  }

  def backlogChunks(seconds: Int): Int =
    math.ceil(Drain.sizingFps * (seconds + 6) / Drain.chunkFrames).toInt + Drain.warmupBatches

  def runDrain(
      spark: SparkSession,
      work: Path,
      seed: Long,
      seconds: Int,
      tracer: Tracer,
      listeners: Option[Listeners]): Result = {
    val chunks = backlogChunks(seconds)
    val staged = work.resolve("staged")
    Files.createDirectories(staged)
    val genT0 = System.nanoTime()
    tracer.span("inputs")(writeBacklog(spark, seed, chunks, staged))
    val inputsS = (System.nanoTime() - genT0) / 1e9
    val (run, setupTimes) = drainOnce(spark, work.resolve("main"), staged, chunks, seconds * 1000L, setupReps(listeners), tracer)
    val p = run.p
    val drained = run.clock.frames.get()
    val inputs = new Inputs(seed, Drain.shape, comb = true, 0, 0.0)
    val frames = framesOnDisk(spark, p.sinkDir)
    val events = eventsOnDisk(spark, p.sinkDir)
    val fed = (0L until drained).map(f => Drain.frameTsNs(f) -> (inputs.plantedEvents(f), true)).toMap
    val chk = checkFrames(fed, frames, events)
    val eligible = run.runs.filter { case (_, _, b) => (b + LingerMs) * 1000000L < run.clock.nowNs() }
    val notArchived = eligible.count { case (n, a, _) =>
      !Files.exists(genDir(p.sinkDir, "archive", "frames", n, a * 1000000L)) || !leftLocal(p.sinkDir, n, a * 1000000L)
    }
    val (archBytes, archFiles) = census(p.sinkDir.resolve("archive"))
    val archivedFrames = frames.count { case (ts, _, _) =>
      eligible.exists { case (_, a, b) => a * 1000000L < ts && ts < b * 1000000L }
    }
    val s = steady(run.progress)
    val steadyFrames = s.map(_.numInputRows).sum / Drain.shape.digitizers
    val steadyCpuNs = if (s.isEmpty) 0L else run.cpu.between(startNs(s.head), commitNs(s.last))
    val drainFps = fps(run.progress)
    val bytesPerFrame = archBytes.toDouble / math.max(1, archivedFrames)
    val e2e = Map(
      "latency_p50_ms" -> Stats.median(s.map(_.batchDuration.toDouble)),
      "latency_tail_ms" -> Stats.tail(s.map(_.batchDuration.toDouble)),
      "items_per_s" -> drainFps,
      "cpu_ms_per_item" -> steadyCpuNs / 1e6 / math.max(1L, steadyFrames))
    val layer = mutable.Map.empty[String, Double]
    if (listeners.isDefined) {
      val (allBytes, allFiles) = census(p.sinkDir)
      val comp = p.sink.compactionStats
      layer ++= progressMetrics(run.progress)
      layer ++= Map(
        "formation.samples" -> drained.toDouble * Drain.shape.samplesPerFrame,
        "formation.events" -> events.values.sum.toDouble,
        "assembly.frames_out" -> frames.size.toDouble,
        "assembly.frames_incomplete" -> frames.count(!_._2).toDouble,
        "assign.frames_assigned" -> frames.size.toDouble,
        "assign.frames_unassigned" -> math.max(0L, drained - frames.map(_._1).distinct.size).toDouble,
        "sink.bytes_written" -> allBytes.toDouble,
        "sink.files_written" -> allFiles.toDouble,
        "sink.bytes_per_frame" -> bytesPerFrame,
        "sink.compact_bytes_rewritten" -> comp.map(_.bytesAfter).sum.toDouble,
        "source.backlog_frames_max" -> backlogMax(run.feeder.releaseLog.synchronized(run.feeder.releaseLog.toVector), run.progress) / Drain.shape.digitizers)
    }
    Result(
      setupTimes = setupTimes,
      e2e = e2e,
      attempted = chk.attempted + eligible.size,
      failed = chk.failed + notArchived,
      named = Map(
        "frames_per_s" -> (drainFps, "1/s"),
        "sink_bytes_per_frame" -> (bytesPerFrame, "B")),
      layer = layer.toMap,
      detail = chk.detail ++ Map(
        "backlog_frames" -> chunks.toLong * Drain.chunkFrames, "frames_drained" -> drained,
        "steady_batches" -> s.size, "runs_closed" -> eligible.size, "runs_not_archived" -> notArchived,
        "archive_bytes" -> archBytes, "archive_files" -> archFiles, "archived_frames" -> archivedFrames,
        "inputs_s" -> inputsS, "batch_frames" -> Drain.chunkFrames,
        "shape" -> s"${Drain.shape.digitizers}x${Drain.shape.channels}x${Drain.shape.samples}"),
      generatorLateMs = None,
      replayInput = Some(() => {
        val f0 = Drain.warmupBatches.toLong * Drain.chunkFrames
        val msgs = (f0 until f0 + Drain.chunkFrames).flatMap(f => inputs.frameBytes(f, Drain.frameTsNs(f)).toSeq)
        (msgs, run.runs)
      }),
      oneCore = Some((spark1: SparkSession) => {
        // the same drain at one core, for parallel efficiency: a fresh
        // backlog of a few batches, no set-up repetitions
        val staged1 = work.resolve("staged-1core")
        Files.createDirectories(staged1)
        val c1 = Drain.warmupBatches + 4
        writeBacklog(spark1, seed, c1, staged1)
        val (r1, _) = drainOnce(spark1, work.resolve("one-core"), staged1, c1, 60000L, 1, tracer)
        fps(r1.progress)
      }))
  }
}
