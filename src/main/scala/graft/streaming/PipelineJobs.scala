package graft.streaming

import graft.dsp.DetectorSettings
import graft.operators.{EventFormation, LogTables, RunAssignment}
import graft.schemas.{Alarm, LogData, SampleEnvLog, TraceMessage}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Driver-side run catalog — the Spark rendering of the reference
  * engine's in-memory run cache (`run_engine/engine.rs:144-173`): the
  * control stream folds its [[RunInterval]] updates in (runs are a tiny
  * dimension — one entry per run generation), the data stream broadcasts
  * a snapshot per micro-batch, and the sink finalizes generations whose
  * stop + linger has passed. Thread-safe: the control and data streams
  * run as separate queries.
  */
final class RunCatalog extends Serializable {
  private val runs =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Option[Long]]()

  def update(intervals: Iterator[RunInterval]): Unit =
    intervals.foreach(r => runs.put((r.runName, r.collectFromNs), r.collectUntilNs))

  /** Snapshot as the run dimension RunAssignment broadcasts. */
  def snapshot(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = runs.asScala.toSeq.map { case ((name, from), until) =>
      (name, from, until.map(java.lang.Long.valueOf).orNull)
    }
    import spark.implicits._
    rows.toDF("run_name", "collect_from_ns", "collect_until_ns")
  }

  /** (name, start, stop) triples for the sink's linger finalization. */
  def entries: Seq[(String, Long, Option[Long])] = {
    import scala.jdk.CollectionConverters._
    runs.asScala.toSeq.map { case ((name, from), until) => (name, from, until) }
  }

  def remove(runName: String, startNs: Long): Unit = runs.remove((runName, startNs))

  /** K6: rebuild the catalog from a sink's on-disk layout after a driver
    * restart — the in-memory cache is process state, but the run files
    * are not (the reference's RunResume path). Generations resume open,
    * except those whose stop was durably marked ([[NexusSink.markStopped]])
    * before the crash — those resume closed so the lifecycle job can
    * still finalize them (the stop transition itself lives in the
    * control checkpoint and is never replayed). Call before starting the
    * lifecycle query; live control updates overwrite resumed entries.
    */
  def resumeFrom(sink: NexusSink): Unit =
    sink.resumeRunGenerations().foreach { case (name, start, stop) =>
      runs.putIfAbsent((name, start), stop)
    }
}

object PipelineJobs {

  /** Spark 4.1's foreachBatch state-commit validation false-positives on
    * EMPTY micro-batches: the planner prunes a stateful operator whose
    * input is empty, so the per-partition commits the coordinator expects
    * never happen and `StateStoreCommitValidationFailed` TERMINATES the
    * query — fatal for these jobs, whose empty batches ARE the
    * finalization/archive poll. Every foreachBatch body here consumes
    * its whole batch (a count, a collect of the tiny run dimension, or
    * the sink's events write, which scans every partition), so the partial
    * consumption the validation hunts for cannot happen; disable it.
    *
    * BLAST RADIUS: the conf is session-wide and NOT restored (restoring
    * after start would re-arm it against this job's later empty
    * batches). An application that wants the guard for its own
    * foreachBatch queries should run these jobs on a session clone
    * (`spark.newSession()`, with the source streams built there).
    */
  private def allowEmptyBatches(ds: Dataset[_]): Unit =
    ds.sparkSession.conf
      .set("spark.sql.streaming.stateStore.commitValidation.enabled", "false")

  /** Control-plane query: fold the run-lifecycle stream into `catalog`.
    * Update output — every accepted start/stop transition lands in the
    * catalog within one micro-batch. When a sink is supplied, stop
    * transitions are durably marked HERE, in the same batch that commits
    * them — a crash between this commit and the data query's next
    * trigger must not lose the stop (the checkpoint never replays it).
    */
  def controlToCatalog(
      control: Dataset[graft.streaming.ControlMessage],
      catalog: RunCatalog,
      checkpoint: String,
      stopSink: Option[NexusSink] = None): StreamingQuery = {
    allowEmptyBatches(control)
    RunStream
      .runIntervals(control)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[RunInterval], _: Long) =>
        // one entry per run transition — driver-side fold is the point
        val intervals = batch.collect()
        catalog.update(intervals.iterator)
        for (sink <- stopSink; r <- intervals; stop <- r.collectUntilNs)
          sink.markStopped(r.runName, r.collectFromNs, stop)
      }
      .start()
  }

  /** Log-plane query: route one log/alarm stream into the sink's per-run
    * log tables — the reference's f144/se00/al00 message handling
    * (`nexus-writer/src/run_engine/engine.rs:240-288`): each message is
    * assigned to its run by message timestamp against the live catalog,
    * then appended per-sample ([[LogTables]]). Messages with no matching
    * run are dropped, as the reference discards them with a warning —
    * start the control query first so the catalog is warm.
    */
  private def logStream(
      rows: DataFrame,
      table: String,
      expand: DataFrame => DataFrame,
      sink: NexusSink,
      catalog: RunCatalog,
      checkpoint: String,
      triggerMs: Long): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val assigned =
          RunAssignment.assignLogs(batch.toDF(), catalog.snapshot(batch.sparkSession))
        sink.writeLogBatch(expand(assigned), table, batchId)
      }
      .start()

  /** f144 run-log stream → `runlog/` per-run table. */
  def runlogToNexus(
      logs: Dataset[LogData],
      sink: NexusSink,
      catalog: RunCatalog,
      checkpoint: String,
      triggerMs: Long = 100L): StreamingQuery =
    logStream(logs.toDF(), "runlog", LogTables.runlogTable, sink, catalog, checkpoint, triggerMs)

  /** se00 sample-environment stream → `selog/` per-run table (assigned on
    * the packet timestamp, like the reference routes the whole message).
    */
  def selogToNexus(
      logs: Dataset[SampleEnvLog],
      sink: NexusSink,
      catalog: RunCatalog,
      checkpoint: String,
      triggerMs: Long = 100L): StreamingQuery =
    logStream(
      logs.toDF()
        .withColumn("timestampNs", col("packetTimestampNs")),
      "selog",
      LogTables.selogTable,
      sink,
      catalog,
      checkpoint,
      triggerMs)

  /** al00 alarm stream → `alarm/` per-run table. */
  def alarmsToNexus(
      alarms: Dataset[Alarm],
      sink: NexusSink,
      catalog: RunCatalog,
      checkpoint: String,
      triggerMs: Long = 100L): StreamingQuery =
    logStream(alarms.toDF(), "alarm", LogTables.alarmTable, sink, catalog, checkpoint, triggerMs)

  /** Conf the frame-assembly queries pin for their `start()` call ONLY
    * (a query snapshots the session conf at start, so the owning
    * session's conf is restored and its other streams keep theirs):
    *   - the one state-store profile ([[graft.Sessions.StateStoreProfile]]:
    *     RocksDB, which the TWS assembler requires, with full snapshots
    *     and compaction on commit);
    *   - ONE shuffle partition, sized to the load: the assembly state is
    *     one TTL of frames (peak 53 rows on perfbench's `chain_live`),
    *     the reference's digitiser-aggregator is one task
    *     (`digitiser-aggregator/src/frame/cache.rs`), and formation, the
    *     only per-sample work, keeps the source's partitions ahead of the
    *     shuffle. The state commit and the sink's events write then run
    *     once per micro-batch, not once per core.
    *     The count lives in a checkpoint's offset log, so a checkpoint
    *     created with more partitions restarts with them.
    */
  private def withAssemblerConf(session: SparkSession)(
      start: => StreamingQuery): StreamingQuery = {
    val pins = graft.Sessions.StateStoreProfile :+ ("spark.sql.shuffle.partitions" -> "1")
    val prior = pins.map { case (k, _) => k -> session.conf.getOption(k) }
    pins.foreach { case (k, v) => session.conf.set(k, v) }
    try start
    finally prior.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }

  /** K1 with REAL wire bytes: the digitiser-aggregator's producer side —
    * assembled frames encode to aev2 FlatBuffers buffers
    * ([[graft.schemas.WireCodecs.encodeAev2]],
    * `digitiser-aggregator/src/data/event.rs:128-157`) and append to a
    * binary "topic": a parquet dir of `value: binary` rows, the offline
    * stand-in for the Frame Events topic (swap the sink format for
    * `kafka` + a `topic` option on a cluster with a broker; the encode
    * stage is the part the engine owns and is broker-agnostic).
    */
  def framesToWireTopic(
      traces: Dataset[TraceMessage],
      settings: DetectorSettings,
      expectedDigitizers: Seq[Int],
      topicDir: String,
      checkpoint: String,
      ttlMs: Long = 500L,
      triggerMs: Long = 100L): StreamingQuery = {
    allowEmptyBatches(traces)
    val dev2 = EventFormation.formEvents(traces, settings)
    val aev2 = FrameAssemblyTws.assemble(dev2, expectedDigitizers, ttlMs)
    // ONE definition of the producer's wire-encode stage, shared with the
    // Kafka writer so the parquet stand-in and a broker deployment can
    // never drift
    withAssemblerConf(traces.sparkSession) {
      KafkaWiring
        .frameWireBytes(aev2)
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", topicDir)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
        .start()
    }
  }

  /** End-to-end streaming DAQ job: the reference's three components
    * chained on one engine (SURVEY §3.1–3.3):
    *
    *   trace stream → event formation (narrow map) → stateful frame
    *   assembly ([[FrameAssemblyTws]]: TTL + completeness) → run
    *   assignment → NeXus run-file sink.
    *
    * The trace source is pluggable: tests inject a MemoryStream; a
    * production deployment reads `spark.readStream.format("kafka")` with
    * the dat2 decode in front. Run intervals come from a snapshot of the
    * live control-fed [[RunCatalog]] per micro-batch — the reference
    * engine's run cache — and the job adds the nexus-writer's linger
    * finalization: stopped generations whose linger window has passed
    * move local/ → completed/ and leave the catalog, exactly the engine's
    * poll loop (`run_engine/engine.rs:329-356`). A processing-time
    * `transformWithState` always asks for another batch, so empty
    * micro-batches keep firing on the trigger and finalization polls even
    * with no new data (the reference polls on `--cache-poll-interval-ms`
    * the same way).
    *
    * A checkpoint of the earlier `flatMapGroupsWithState` assembly has
    * another state schema: start on a fresh checkpoint directory
    * ([[RunCatalog.resumeFrom]] still recovers the runs from the sink).
    *
    * Scale: stage 1 (decode, formation) is shuffle-free on the source's
    * partitions; stage 2 shuffles once on the frame key into ONE
    * partition ([[withAssemblerConf]]) with state bounded by TTL × frame
    * rate; stage 3 broadcasts the run dimension and writes one file per
    * plane per run and batch. A non-empty batch is one state commit and
    * one job: the events write, which observes the frame scalars the
    * driver writes the frames and periods planes from.
    */
  def traceToNexusWithLifecycle(
      traces: Dataset[TraceMessage],
      settings: DetectorSettings,
      expectedDigitizers: Seq[Int],
      sink: NexusSink,
      catalog: RunCatalog,
      ttlMs: Long = 500L,
      checkpoint: String,
      triggerMs: Long = 100L,
      lingerMs: Long = 2000L,
      nowNs: () => Long = () => System.currentTimeMillis() * 1000000L,
      // archiver poll interval (`nexus-writer/src/main.rs:101-103`: 60 s
      // default); 0 disables the completed/ → archive/ tier
      archiveIntervalMs: Long = 0L,
      // compact finalized generations before each archive poll (the
      // small-files maintenance tier — see NexusSink.compactCompleted);
      // off by default to keep the archive path pure moves
      compactBeforeArchive: Boolean = false): StreamingQuery = {
    allowEmptyBatches(traces)
    val dev2 = EventFormation.formEvents(traces, settings)
    val aev2 = FrameAssemblyTws.assemble(dev2, expectedDigitizers, ttlMs)
    val maintenanceSpark = traces.sparkSession
    val query = withAssemblerConf(traces.sparkSession) {
      aev2.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
        .foreachBatch { (batch: Dataset[graft.schemas.AssembledFrame], batchId: Long) =>
          // no run open: the frames drop (logged and counted), as the
          // reference drops frames with no open run (`engine.rs:214-238`).
          // count() runs the stateful operator, which assigning against an
          // empty run dimension would prune, skipping the state commit the
          // next batch loads. Only this thread removes catalog entries, so
          // a non-empty check holds for the snapshot below.
          if (catalog.entries.isEmpty) {
            val dropped = batch.count()
            if (dropped > 0L) {
              sink.framesDroppedNoRun.addAndGet(dropped)
              NexusSink.log.warn(s"batch $batchId: $dropped frame(s) dropped, no run open")
            }
          } else
            sink.writeBatch(
              RunAssignment.assignFrames(batch.toDF(), catalog.snapshot(batch.sparkSession)),
              batchId)
          val now = nowNs()
          // durably mark every stopped generation (idempotent; the
          // control query also marks at stop-commit time when wired with
          // a sink — this is the belt to that suspender)
          catalog.entries.foreach {
            case (n, s, Some(u)) => sink.markStopped(n, s, u)
            case _ => ()
          }
          // the linger predicate lives in finalizeRuns alone; the catalog
          // is updated from what it actually finalized
          sink
            .finalizeRuns(catalog.entries, now, lingerMs)
            .foreach { case (n, s) => catalog.remove(n, s) }
          ()
        }
        .start()
    }
    // archiver tier (flush_to_archive.rs, polled by main.rs:101-103 on
    // its own wall-clock interval): a MAINTENANCE THREAD beside the
    // stream, like the reference's separate poll loop, so a compaction
    // rewrite never stalls the hot path. Completed generations are
    // immutable and the sink's swap/recovery protocol is multi-thread
    // safe under moveLock. A failed pass is logged and counted in the
    // sink's maintenanceFailures and never takes the pipeline down; the
    // thread exits with the query.
    if (archiveIntervalMs > 0L) {
      val archiver = new Thread(
        () =>
          try while (query.isActive) {
            try {
              // compaction first, so generations land in archive/ as
              // few right-sized files instead of one per micro-batch
              if (compactBeforeArchive) sink.compactCompleted(maintenanceSpark)
              sink.flushToArchive()
            } catch {
              case scala.util.control.NonFatal(e) =>
                sink.maintenanceFailures.incrementAndGet()
                NexusSink.log.warn("archiver pass failed", e)
            }
            val next = System.currentTimeMillis() + math.max(archiveIntervalMs, 10L)
            while (query.isActive && System.currentTimeMillis() < next)
              Thread.sleep(10L)
          } finally maintenanceThreads.remove(query.id),
        "nexus-archiver")
      archiver.setDaemon(true)
      maintenanceThreads.put(query.id, archiver)
      archiver.start()
    }
    query
  }

  /** Maintenance (compaction + archive) threads by lifecycle query id: a
    * pass in flight when the query stops runs to completion (sound for the
    * layout, the swap protocol being crash-safe), so a same-process caller
    * that then reads the sink tiers must [[awaitMaintenance]] first.
    */
  private val maintenanceThreads =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Thread]()

  /** Block until the lifecycle query's maintenance thread (if any) has
    * exited — call after `query.stop()` and before reading the sink
    * layout from the same process.
    */
  def awaitMaintenance(query: StreamingQuery): Unit = {
    val t = maintenanceThreads.get(query.id)
    if (t != null) t.join()
  }
}
