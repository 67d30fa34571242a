package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** What one workload run measured. `e2e` holds the workload-defined
  * end-to-end figures (CPU per item, latency p50 and tail, items per
  * second); set-up and memory are added by [[Main]].
  */
final case class Result(
    setupTimes: Seq[Double],
    e2e: Map[String, Double],
    attempted: Long,
    failed: Long,
    named: Map[String, (Double, String)],
    layer: Map[String, Double],
    detail: Map[String, Any],
    generatorLateMs: Option[(Double, Double)],
    replayInput: Option[() => (Seq[Array[Byte]], Seq[(String, Long, Long)])] = None,
    oneCore: Option[SparkSession => Double] = None)

/** JVM side of the benchmark. Arguments (all required):
  *   --workload chain_live|chain_drain|board --seed N --seconds N
  *   --trace 0|1 --work DIR --out FILE [--sf-dir DIR --board FILE]
  * or `--digest --seed N` to print a digest of the seeded chain inputs.
  */
object Main {
  val Workloads = Seq("chain_live", "chain_drain", "board")

  /** The bounded end-to-end metrics. Wall-clock figures (`latency_p50_ms`,
    * `latency_tail_ms`, `items_per_s`) are reported beside them but not
    * bounded: they follow the host's scheduling noise, spreading up to
    * 0.35 of their median over ten seeds on a shared 4-core host, while
    * CPU time per item spread about 0.1.
    */
  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "cpu_ms_per_item" -> "ms")

  val ReportedUnits: Seq[(String, String)] = Seq(
    "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms", "items_per_s" -> "1/s")

  val LayerUnits: Seq[(String, String)] = Seq(
    "schemas.msgs_in" -> "count", "schemas.msgs_ok" -> "count", "schemas.msgs_malformed" -> "count",
    "schemas.decode_s" -> "s",
    "formation.samples" -> "count", "formation.events" -> "count", "formation.busy_s" -> "s",
    "formation.cpu_s" -> "s",
    "assembly.frames_out" -> "count", "assembly.frames_incomplete" -> "count",
    "assembly.state_rows_peak" -> "count", "assembly.state_update_ms" -> "ms",
    "assembly.state_commit_ms" -> "ms", "assembly.busy_s" -> "s",
    "assign.frames_assigned" -> "count", "assign.frames_unassigned" -> "count", "assign.busy_s" -> "s",
    "sink.write_s" -> "s", "sink.bytes_written" -> "B", "sink.files_written" -> "count",
    "sink.finalize_s" -> "s", "sink.compact_s" -> "s", "sink.compact_bytes_rewritten" -> "B",
    "sink.archive_s" -> "s", "sink.bytes_per_frame" -> "B", "sink.close_lag_p50_ms" -> "ms",
    "sink.frames_late_for_2s_linger" -> "count",
    "microbatch.count" -> "count", "microbatch.empty_frac" -> "ratio",
    "microbatch.duration_p50_ms" -> "ms", "microbatch.planning_ms" -> "ms",
    "microbatch.addbatch_ms" -> "ms", "microbatch.wal_ms" -> "ms",
    "source.backlog_frames_max" -> "count", "generator.late_ms_max" -> "ms",
    "drain.frames_per_s_1core" -> "1/s", "replay.frames" -> "count",
    "board.jobs" -> "count", "board.stages" -> "count", "board.tasks" -> "count",
    "board.executor_run_s" -> "s", "board.executor_cpu_s" -> "s", "board.shuffle_bytes" -> "B",
    "board.scan_bytes" -> "B", "board.scans" -> "count", "board.spill_bytes" -> "B")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--digest")) { digest(args); return }
    val workload = opts("workload")
    require(Workloads.contains(workload), s"--workload: unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    Files.createDirectories(work)

    val load0 = Proc.loadavg
    val cores = Runtime.getRuntime.availableProcessors()
    val runId = java.util.UUID.randomUUID().toString
    val tracer = new Tracer(runId, trace)
    val chain = workload != "board"
    var spark = session(cores, chain)
    val listeners = if (trace) Some(new Listeners(tracer)) else None
    listeners.foreach(_.register(spark))

    val res = workload match {
      case "chain_live" => Chain.runLive(spark, work, seed, seconds, tracer, listeners)
      case "chain_drain" => Chain.runDrain(spark, work, seed, seconds, tracer, listeners)
      case "board" =>
        val expected = Board.load(Paths.get(opts("board")))
        Board.run(spark, opts("sf-dir"), expected, tracer, listeners)
    }
    // everything the run measured is final here; the traced extras below
    // only add per-layer numbers
    val rssMb = Proc.peakRssMb
    val load1 = Proc.loadavg
    var layer = res.layer
    for (l <- listeners; mk <- res.replayInput) {
      val (msgs, runs) = mk()
      val digs = if (workload == "chain_live") Chain.Live.shape.digitizers else Chain.Drain.shape.digitizers
      layer ++= Chain.replay(spark, tracer, l, work.resolve("replay"), msgs, digs, runs)
    }
    for (_ <- listeners; one <- res.oneCore) {
      listeners.foreach(_.unregister(spark))
      spark.stop()
      spark = session(1, chain)
      layer += "drain.frames_per_s_1core" -> one(spark)
    }

    val setupS = Stats.median(res.setupTimes)
    val e2e = res.e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> rssMb)
    val traceFile = if (trace) Some(work.resolve(s"trace-$workload-seed$seed-$runId.json")) else None
    val host = Map(
      "nproc" -> cores, "spark_master" -> s"local[$cores]",
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "seed" -> seed, "seconds" -> seconds, "workload" -> workload, "trace" -> trace, "run_id" -> runId,
      "generator_late_ms" -> res.generatorLateMs.map { case (p50, mx) => Map("p50" -> p50, "max" -> mx) })
    val metrics = E2eUnits.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }
    val perLayer = LayerUnits.map { case (n, u) => n -> Map("value" -> layer.getOrElse(n, 0.0), "unit" -> u) }
    val named = res.named.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) } ++
      ReportedUnits.map { case (k, u) => k -> Map("value" -> res.e2e(k), "unit" -> u) } ++ Map(
      "fail_frac" -> Map("value" -> res.failed.toDouble / math.max(1L, res.attempted), "unit" -> "ratio"))
    val selfTimes = tracer.selfTimes
    val json = Json.obj(
      "correct" -> (res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> Json.Raw(Json.value(scala.collection.immutable.ListMap(metrics: _*))),
      "per_layer" -> Json.Raw(Json.value(scala.collection.immutable.ListMap(perLayer: _*))),
      "named" -> named,
      "setup_times_s" -> res.setupTimes,
      "self_s" -> selfTimes,
      "host" -> host,
      "detail" -> res.detail,
      "trace_file" -> traceFile.map(_.toString))
    traceFile.foreach { f =>
      Files.writeString(f, Json.obj(
        "run_id" -> runId, "workload" -> workload, "seed" -> seed, "host" -> host,
        "self_s" -> selfTimes,
        "per_layer" -> Json.Raw(Json.value(scala.collection.immutable.ListMap(perLayer: _*))),
        "spans" -> Json.Raw(tracer.toJson)))
    }
    Files.writeString(out, json)
    spark.stop()
  }

  def session(cores: Int, chain: Boolean): SparkSession = {
    val spark = Sessions.local("perfbench", cores.toString)
    if (chain) {
      // the production frame-assembly state profile (RocksDB, high
      // churn), as the chain soak runs it
      spark.conf.set(Sessions.StateStoreKey, "rocksdb")
      spark.conf.set("graft.stateStore.highChurn", "true")
      Sessions.stateStoreConfigure(spark)
    }
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    spark
  }

  /** SHA-256 over the first frames of both chain workloads' inputs plus
    * the control messages, for the seeded-input test.
    */
  def digest(args: Array[String]): Unit = {
    val seed = args(args.indexOf("--seed") + 1).toLong
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val live = new Inputs(seed, Chain.Live.shape, comb = false, Chain.Live.pulsesPerChannel, Chain.Live.omitShare)
    val drain = new Inputs(seed, Chain.Drain.shape, comb = true, 0, 0.0)
    (0L until 200L).foreach { f =>
      live.frameBytes(f, Chain.Drain.frameTsNs(f)).foreach(b => md.update(b))
      drain.frameBytes(f, Chain.Drain.frameTsNs(f)).foreach(b => md.update(b))
    }
    md.update(Inputs.runStart(s"run_${seed}_000", 1000L))
    md.update(Inputs.runStop(s"run_${seed}_000", 3000L))
    println(md.digest().map(b => f"$b%02x").mkString)
  }
}
