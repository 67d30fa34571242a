package graft.streaming

import graft.Reuse
import graft.operators.NexusTables
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{AnalysisException, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** NeXus-layout run-file sink (SURVEY §2.2 K4–K6) — the Parquet mirror of
  * the reference's per-run HDF5 files
  * (`/root/reference/nexus-writer/src/nexus_structure/entry/mod.rs:66-106`):
  * one directory per run GENERATION under `local/` — a run's identity is
  * `(run_name, run_start_ns)`, because run names may be reused by a
  * restarted run (the reference keys its cache the same way: a new
  * RunStart supersedes the old generation, `run_engine/engine.rs:199-204`)
  * — holding `events/` and `frames/` tables (§1.4 layout, running
  * `event_index` included) plus the run's log context as `runlog/`,
  * `selog/`, `alarm/` tables (the reference file's log groups,
  * `nexus_structure/entry/mod.rs:66-106`); completed generations (stop
  * seen + linger elapsed) move atomically to `completed/`
  * (`run_engine/run/mod.rs:116-139`), and the archiver tier
  * ([[flushToArchive]]) drains `completed/` → `archive/`.
  *
  * Batch-by-batch operation inside `foreachBatch`: the run catalog is
  * driver-side state fed by control messages — the same design as the
  * reference's in-memory run cache. Crash resume (K6) rebuilds the
  * catalog by scanning `local/` (`run_engine/engine.rs:144-173`); event
  * data re-appended after a restart is deduplicated by
  * `(run, batch_id)` subdirectories, making the sink idempotent per
  * micro-batch.
  *
  * Scale: a micro-batch is ONE Spark job. The event plane (the corpus)
  * is written with one `partitionBy(run_name, run_start_ns, batch_id)`
  * job — executors write partition dirs directly, the driver never
  * touches event rows — and that job observes the 9 per-frame scalars.
  * The frame and period planes are DERIVED driver-side from the
  * observation and written by the driver's parquet writer, one file per
  * generation and batch, with no Spark job. `outputDir` is a local path.
  */
final class NexusSink(outputDir: String, scratchStaleMs: Long = 15L * 60 * 1000)
    extends Serializable {

  private val local = Paths.get(outputDir, "local")
  private val completed = Paths.get(outputDir, "completed")
  private val archive = Paths.get(outputDir, "archive")
  // generation stop markers (underscore-free name: lives OUTSIDE the
  // partition dirs so Spark readers never see it)
  private val runsMeta = Paths.get(outputDir, "local", "runs_meta")
  Files.createDirectories(local)
  Files.createDirectories(completed)

  /** Per-run tables in the layout — the parquet mirror of the reference
    * run file's groups: event data + frame list
    * (`nexus_structure/entry/event_data.rs`), the runlog/selog/alarm
    * log groups (`nexus_structure/entry/mod.rs:66-106`), and the periods
    * group (`nexus_structure/entry/period.rs:23-55` — the reference
    * accumulates the run's period list from frame metadata via
    * `UpdatePeriodList`; here each batch appends per-period frame/event
    * counts and readers aggregate, so `SELECT DISTINCT period_number`
    * reproduces the labels list).
    */
  private val tables = Seq("events", "frames", "periods", "runlog", "selog", "alarm")
  private val logTables = Set("runlog", "selog", "alarm")

  private def listChildren(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val stream = Files.list(p)
      try stream.iterator().asScala.toSeq
      finally stream.close()
    }

  /** Driver-side running event count per run generation — the reference's
    * in-memory run cache (`run_engine/engine.rs:144-173`). `event_index`
    * is defined as cumulative across the whole run file
    * (`event_data.rs:196`), so each batch's frame table gets the
    * generation's prior total as a base offset. Keyed by
    * `(run_name, run_start_ns)` so a restarted run reusing a name starts
    * its own file at 0 instead of inheriting the finished generation's
    * count. Initialized lazily from partitions already on disk, counting
    * only `batch_id <` the current batch — a replayed batch therefore
    * reconstructs the same offsets it wrote originally.
    */
  private val eventBase = scala.collection.mutable.Map.empty[(String, Long), Long]

  /** Serializes the log-plane writes against finalization/archival moves
    * — all driver-side calls on this sink instance (the data query's
    * foreachBatch thread vs the three log queries' threads).
    */
  private val moveLock = new Object

  /** Spark writes partition directories with Hive path escaping
    * (`run_name=CAL:2026` → `run_name=CAL%3A2026`), so every path this
    * sink builds from a RAW catalog run name must escape the same way —
    * and names read back from directories must unescape — or any run
    * name containing an escapable character (`:`, `/`, space, …)
    * breaks finalization, resume, and the stop markers. Same codec
    * Spark uses, so the mapping can never drift.
    */
  private def escName(runName: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(runName)

  private def unescName(dirName: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(dirName)

  /** A generation's dir of `table` under a tier (`local`, `completed`). */
  private def genDir(tier: Path, table: String, gen: (String, Long)): Path =
    tier.resolve(table).resolve(s"run_name=${escName(gen._1)}").resolve(s"run_start_ns=${gen._2}")

  /** Per-attempt compaction scratch naming (ADVICE r5): each rewrite
    * works in `.compact_tmp-<n>` and registers the path here while in
    * flight, so [[recoverInterruptedCompaction]] — which any archiver
    * poll may run concurrently — sweeps only scratch dirs it KNOWS are
    * dead (crash leftovers from a previous process, or aborted attempts
    * of this one).
    */
  private val scratchCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val liveScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Per-INSTANCE nonce in scratch names (ADVICE r6): liveScratch
    * protects an attempt only from THIS instance's recovery sweeps — a
    * second NexusSink on the same outputDir has its own counter and
    * (empty) live set, so without the nonce it could both collide on
    * `.compact_tmp-<n>` and sweep the first instance's in-flight scratch
    * as a dead leftover. With it, names are globally unique and the
    * sweep deletes only (a) this instance's own dead attempts and
    * (b) foreign scratch older than `scratchStaleMs` — a live rewrite's
    * scratch is freshly modified, a crashed process's leftover goes
    * stale and is reclaimed. NOTE the compaction tier's correctness
    * contract is still one sink per outputDir (moveLock is
    * instance-scoped); the nonce+TTL sweep just makes an accidental
    * violation non-destructive.
    */
  private val scratchNonce: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Foreign-instance sweeps reclaim scratch by mtime staleness (see
    * [[recoverInterruptedCompaction]]) — a rewrite outliving
    * `scratchStaleMs` without refreshing its dir mtime would look dead
    * to them and be swept mid-flight (ADVICE r7). Each rewrite holds a
    * daemon heartbeat that re-touches the scratch dir at a third of the
    * TTL, so a LIVE attempt never goes stale; a crashed process's
    * heartbeat dies with it and the leftover is reclaimed as before.
    */
  private lazy val heartbeatPool = {
    val pool = new java.util.concurrent.ScheduledThreadPoolExecutor(
      1,
      (r: Runnable) => {
        val t = new Thread(r, "nexus-scratch-heartbeat")
        t.setDaemon(true)
        t
      })
    pool.setRemoveOnCancelPolicy(true)
    // Idle-timeout the core thread (ADVICE r8): without this every sink
    // instance parks one daemon thread for the JVM lifetime even after
    // all rewrites finish; with it the pool drains to zero threads when
    // no heartbeat has been scheduled for a TTL period.
    pool.setKeepAliveTime(
      math.max(1L, scratchStaleMs),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  private def startScratchHeartbeat(p: Path): java.util.concurrent.ScheduledFuture[_] = {
    val period = math.max(1L, scratchStaleMs / 3)
    heartbeatPool.scheduleWithFixedDelay(
      () =>
        try
          Files.setLastModifiedTime(
            p,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
        catch { case _: java.io.IOException => () },
      period,
      period,
      java.util.concurrent.TimeUnit.MILLISECONDS)
  }

  /** Generations already moved out of `local/` this process — late log
    * batches for them are discarded under [[moveLock]] (the reference's
    * closed-run late-message discard). One small tuple per finalized run;
    * bounded like the reference's own run bookkeeping (runs are a tiny
    * dimension), and a fresh process starts empty — safe, because with
    * the lock no stray `local/` directories exist for finalized runs, so
    * the resume scan cannot resurrect them.
    */
  private val finalizedGens = scala.collection.mutable.Set.empty[(String, Long)]

  /** Frames the lifecycle job dropped with no run open, and failed
    * maintenance (archiver) passes and generation moves; each is logged.
    */
  val framesDroppedNoRun, maintenanceFailures = new java.util.concurrent.atomic.AtomicLong()

  /** Frames and events [[writeBatch]] wrote, counted from its
    * observation. Written + [[framesDroppedNoRun]] is every frame the
    * lifecycle job assembled, less those an open catalog matched to no
    * run (RunAssignment filters those, uncounted).
    */
  val framesWritten, eventsWritten = new java.util.concurrent.atomic.AtomicLong()

  /** Cumulative compaction outcomes, for auditing write amplification of
    * the maintenance thread's passes. Bounded: one entry per
    * generation×table per compaction pass.
    */
  private val compactionHistory =
    scala.collection.mutable.ArrayBuffer.empty[NexusSink.CompactionStat]

  /** Snapshot of every compaction this instance has performed. */
  def compactionStats: Seq[NexusSink.CompactionStat] =
    compactionHistory.synchronized(compactionHistory.toVector)

  private def onDiskEventCounts(
      spark: SparkSession,
      runKeys: Set[(String, Long)],
      beforeBatchId: Long): Map[(String, Long), Long] = {
    // a run first seen in THIS batch has no earlier batches on disk
    // unless the process is replaying after a crash. The batch's own
    // events already landed (writeBatch writes them first), so probe the
    // generation dirs for a `batch_id < N` partition before paying a
    // Spark scan job: steady-state operation, where new runs arrive
    // constantly, never reads the events plane just to learn the base
    // offset is 0
    val replayed = runKeys.filter { case (n, s) =>
      listChildren(genDir(local, "events", (n, s)))
        .exists(batchIdOf(_).exists(_ < beforeBatchId))
    }
    if (replayed.isEmpty) Map.empty
    else
      try {
        spark.read
          .parquet(local.resolve("events").toString)
          .filter(col("batch_id") < beforeBatchId &&
            col("run_name").isin(replayed.map(_._1).toSeq: _*))
          // partition-column inference types small values as INT (and a
          // numeric-looking run name as INT too) — cast BOTH partition
          // columns so getString/getLong never hit a ClassCastException
          // on read-back, which would crash-loop recovery
          .groupBy(
            col("run_name").cast("string").as("run_name"),
            col("run_start_ns").cast("long").as("run_start_ns"))
          .count()
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
          .toMap
      } catch {
        // only the expected "directory exists but holds no data files yet"
        // case (schema cannot be inferred) initializes to empty — a
        // genuine IO/corruption error must fail the batch so the engine
        // replays it, not silently zero the run's base offset forever
        case _: AnalysisException => Map.empty
      }
  }

  /** Write one micro-batch of run-assigned assembled frames (aev2 layout +
    * `run_name`/`run_start_ns` columns). `batchId` keys the append for
    * idempotent restart.
    *
    * One Spark job: the events write, which runs formation, assembly and
    * the state commit upstream and OBSERVES the 9 per-frame scalars (~80 B
    * a frame, against ≥ 20 B per event written) — the reference appends a
    * frame's events and its frame-list entry in one pass
    * (`event_data.rs:196,236-244`). The frames plane (event_index
    * cumsum), the periods plane and the offset cache derive from them.
    */
  def writeBatch(assignedFrames: DataFrame, batchId: Long): Unit = {
    val observed = new Observation("nexus_frames")
    val scalars = Seq("run_name", "run_start_ns", "metadata.timestampNs", "metadata.periodNumber",
      "metadata.frameNumber", "complete", "metadata.running", "metadata.vetoFlags").map(col) :+
      size(col("time")).cast("long")
    writePlane(
      NexusTables.eventTable(
        assignedFrames.observe(observed, collect_list(struct(scalars: _*)).as("frames"))),
      "events",
      batchId)
    val frameMeta = observed.get("frames").asInstanceOf[scala.collection.Seq[Row]].map(r =>
      NexusSink.FrameMeta(
        r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6), r.getInt(7),
        r.getLong(8)))
    // empty micro-batch (the lifecycle job's finalization poll): the
    // events write above wrote no partition, and there is nothing else
    if (frameMeta.isEmpty) return
    val byGen = frameMeta.groupBy(m => (m.runName, m.runStartNs))
    val batchCounts = byGen.map { case (k, ms) => k -> ms.iterator.map(_.nEvents).sum }
    val newRuns = batchCounts.keySet.diff(eventBase.keySet)
    if (newRuns.nonEmpty) {
      val onDisk = onDiskEventCounts(assignedFrames.sparkSession, newRuns, batchId)
      newRuns.foreach(r => eventBase(r) = onDisk.getOrElse(r, 0L))
    }
    byGen.foreach { case (gen, ms) =>
      // frame plane: per-generation sort by frame timestamp (the ordering
      // NexusTables.frameTable's window declares) and a running cumsum
      // seeded from the offset cache
      var idx = eventBase(gen)
      writeDriverPlane("frames", gen, batchId, NexusSink.framesPlane, ms.sortBy(_.tsNs).map { m =>
        val g = new SimpleGroup(NexusSink.framesPlane)
          .append("event_time_zero", m.tsNs - gen._2)
          .append("event_index", idx)
          .append("period_number", m.periodNumber)
          .append("frame_number", m.frameNumber)
          .append("frame_complete", m.complete)
          .append("running", m.running)
          .append("veto_flags", m.vetoFlags)
        idx += m.nEvents
        g
      })
      // periods group: per-period accumulation from frame metadata
      // (period.rs:23-55, UpdatePeriodList)
      writeDriverPlane("periods", gen, batchId, NexusSink.periodsPlane,
        ms.groupBy(_.periodNumber).toSeq.sortBy(_._1).map { case (p, pms) =>
          new SimpleGroup(NexusSink.periodsPlane)
            .append("period_number", p)
            .append("n_frames", pms.length.toLong)
            .append("n_events", pms.iterator.map(_.nEvents).sum)
        })
    }
    batchCounts.foreach { case (r, n) => eventBase(r) = eventBase(r) + n }
    framesWritten.addAndGet(frameMeta.length.toLong)
    eventsWritten.addAndGet(batchCounts.values.sum)
  }

  /** Write one generation's rows of a driver-derived plane as ONE snappy
    * parquet file of batch `batchId`, in [[writePlane]]'s layout but with
    * no Spark job: the file lands in a dot-prefixed staging dir (readers
    * skip it; the replay of a crashed batch deletes it), any existing
    * `batch_id=N` dir — a replayed batch, whichever writer made it — is
    * deleted, and the staging dir is renamed into place.
    */
  private def writeDriverPlane(
      table: String,
      gen: (String, Long),
      batchId: Long,
      schema: MessageType,
      rows: Iterable[Group]): Unit = {
    val dir = genDir(local, table, gen)
    val stage = dir.resolve(s".stage-batch_id=$batchId")
    deleteRecursively(stage)
    Files.createDirectories(stage)
    val file = stage.resolve(s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(file))
      .withConf(new org.apache.hadoop.conf.Configuration(false))
      .withType(schema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(writer.write)
    finally writer.close()
    val target = dir.resolve(s"batch_id=$batchId")
    deleteRecursively(target)
    Files.move(stage, target)
  }

  /** Write one plane's rows of micro-batch `batchId` under
    * `local/<table>`. Dynamic partition OVERWRITE, not append: replaying
    * a micro-batch after restart must replace its
    * `(run_name, run_start_ns, batch_id)` partitions — a blind append
    * would duplicate every row of the replayed batch.
    *
    * The batch id enters as a STRING literal. Spark inlines a Long
    * literal into the generated Java source, so each new batch id would
    * compile new classes and grow the JIT code cache batch after batch
    * in a long-running job; a string literal is passed by reference, so
    * one compiled write serves every batch. The on-disk layout is the
    * same either way: partition values live only in the `batch_id=N`
    * paths.
    */
  private def writePlane(rows: DataFrame, table: String, batchId: Long): Unit =
    rows
      .withColumn("batch_id", lit(batchId.toString))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_name", "run_start_ns", "batch_id")
      .parquet(local.resolve(table).toString)

  /** Write one micro-batch of run-assigned, per-sample-expanded log rows
    * ([[graft.operators.LogTables]] output) into a per-run log table —
    * the reference's log/alarm append into the open run file
    * (`nexus-writer/src/nexus/logs/f114.rs:25-59`, `se00.rs:71-105`).
    * Same idempotence contract as [[writeBatch]]: dynamic overwrite of
    * the `(run_name, run_start_ns, batch_id)` partitions a replayed
    * micro-batch rewrites.
    *
    * Synchronized against [[finalizeRuns]]: the log planes run as
    * independent streaming queries, so without coordination an in-flight
    * log write could land in `local/` AFTER the run's directories moved
    * to `completed/` — stranding rows no finalize pass would ever pick
    * up, and resurrecting the finalized generation on the next resume
    * scan. Inside the lock, rows for generations already finalized are
    * dropped, mirroring the reference's late-message discard once the
    * run file has closed (`run_engine/engine.rs:329-356`).
    */
  def writeLogBatch(assignedLogs: DataFrame, table: String, batchId: Long): Unit = {
    require(logTables.contains(table), s"unknown log table: $table")
    // one evaluation of the assignment+explode lineage for the key scan
    // AND the write — not one job each (same pattern as writeBatch)
    Reuse.scope {
      val cached = Reuse.pin(assignedLogs)
      val gens = cached
        .select(col("run_name"), col("run_start_ns").cast("long"))
        .distinct()
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // empty micro-batch (trigger with no data) → nothing to write
      if (gens.nonEmpty) moveLock.synchronized {
        val live = gens.filterNot(finalizedGens.contains)
        if (live.nonEmpty) {
          val liveRows =
            if (live.length == gens.length) cached
            else
              cached.filter(
                concat_ws("@", col("run_name"), col("run_start_ns").cast("long"))
                  .isin(live.map { case (n, s) => s"$n@$s" }: _*))
          writePlane(liveRows, table, batchId)
        }
      }
    }
  }

  /** Move finished generations' partitions local/ → completed/ (K5). A
    * run is finished when its stop time plus `lingerMs` is in the past
    * (late frames within the linger window still append,
    * `nexus-writer/src/run_engine/engine.rs:329-356`). Finalized
    * generations are dropped from the in-memory offset cache so a later
    * run reusing the name re-initializes from its own (empty) partitions.
    * Returns the finalized (run_name, run_start_ns) keys — the caller
    * drives its own bookkeeping off this, so the linger predicate lives
    * in exactly one place.
    */
  def finalizeRuns(
      runs: Seq[(String, Long, Option[Long])],
      nowNs: Long,
      lingerMs: Long = 2000L): Seq[(String, Long)] = moveLock.synchronized {
    runs.collect {
      case (runName, startNs, Some(untilNs)) if untilNs + lingerMs * 1000000L < nowNs =>
        finalizedGens += ((runName, startNs))
        tables.foreach { table =>
          val src = genDir(local, table, (runName, startNs))
          val parent = src.getParent
          if (Files.exists(src)) {
            val dst = genDir(completed, table, (runName, startNs))
            Files.createDirectories(dst.getParent)
            if (!Files.exists(dst)) Files.move(src, dst)
            else mergeMove(src, dst)
            // drop the name-level dir once its last generation moved so
            // resume no longer reports the run as locally open
            if (listChildren(parent).isEmpty && Files.exists(parent)) Files.delete(parent)
          }
        }
        Files.deleteIfExists(runsMeta.resolve(s"${escName(runName)}@$startNs.stop"))
        eventBase.remove((runName, startNs))
        (runName, startNs)
    }
  }

  /** K5 second half — the archiver tier
    * (`nexus-writer/src/flush_to_archive.rs:1-118`, polled every 60 s by
    * `main.rs:101-103`): move every finished generation currently under
    * `completed/` to `archive/`. Failure-tolerant like the reference
    * (a failed move logs and leaves the generation in `completed/` for
    * the next poll — it never takes the pipeline down); moves are the
    * same directory-level atomic move + merge fallback as finalization.
    * Returns the `(run_name, run_start_ns)` generations fully archived
    * this poll.
    */
  def flushToArchive(): Seq[(String, Long)] = moveLock.synchronized {
    val moved = scala.collection.mutable.LinkedHashSet.empty[(String, Long)]
    val failed = scala.collection.mutable.Set.empty[(String, Long)]
    tables.foreach { table =>
      listChildren(completed.resolve(table))
        .filter(_.getFileName.toString.startsWith("run_name="))
        .foreach { nameDir =>
          // the RAW (Hive-escaped) dir name rebuilds paths; the returned
          // tuple carries the UNESCAPED run name so callers can
          // cross-reference finalizeRuns/resume output (ADVICE r9 — the
          // same contract as resumeRunGenerations and compaction)
          val rawName = nameDir.getFileName.toString.stripPrefix("run_name=")
          val name = unescName(rawName)
          listChildren(nameDir)
            .filter(_.getFileName.toString.startsWith("run_start_ns="))
            .foreach { src =>
              src.getFileName.toString.stripPrefix("run_start_ns=").toLongOption
                .foreach { start =>
                  try {
                    // a crash between compaction's park and promote
                    // leaves the generation's rows hidden in
                    // .compact_old; archiving that as-is would ship an
                    // empty-reading generation — resolve it first
                    // (reentrant under this lock)
                    recoverInterruptedCompaction(src)
                    val dst = archive
                      .resolve(table)
                      .resolve(s"run_name=$rawName")
                      .resolve(s"run_start_ns=$start")
                    Files.createDirectories(dst.getParent)
                    if (!Files.exists(dst)) Files.move(src, dst)
                    else mergeMove(src, dst)
                    if (listChildren(nameDir).isEmpty && Files.exists(nameDir))
                      Files.delete(nameDir)
                    moved += ((name, start))
                  } catch {
                    // reference behavior: warn and retry next interval
                    case e: java.io.IOException =>
                      failed += ((name, start))
                      maintenanceFailures.incrementAndGet()
                      NexusSink.log.warn(s"archiving $table of $name@$start failed", e)
                  }
                }
            }
        }
    }
    (moved -- failed).toSeq
  }

  /** Compact every finalized generation currently under `completed/`:
    * collapse the per-micro-batch `batch_id=N` partition directories —
    * one small file per batch per table is the classic streaming-sink
    * small-files problem; a year of 1 s micro-batches is 3×10⁷ files per
    * table before a single byte of data demands it — into one
    * `batch_id=<maxBatch>` partition holding ⌈rows / targetRowsPerFile⌉
    * right-sized files. The partition DIRECTORY SHAPE is preserved
    * (still `run_name=/run_start_ns=/batch_id=`), so partition
    * discovery, schema, and every reader are unaffected; only the batch
    * granularity collapses, which is safe exactly because a finalized
    * generation is immutable — `batch_id` exists for live replay
    * idempotence ([[writeBatch]]) and carries no meaning after the stop
    * marker cleared.
    *
    * Crash safety without a transaction log: the rewrite lands in a
    * dot-prefixed scratch dir (invisible to Spark readers); the swap
    * then (1) parks every old batch dir in `.compact_old`, (2) drops a
    * `PARKED` marker recording that the park phase COMPLETED, (3)
    * promotes the scratch dir to `batch_id=<maxBatch>` with ONE atomic
    * rename, (4) deletes the parked originals. Every crash point is
    * unambiguous to [[recoverInterruptedCompaction]]: no marker → the
    * park was partial → restore; marker but no batch dir → promote never
    * happened → restore; marker and a batch dir → promote succeeded →
    * drop the parked copies. A `.compacted` marker makes the pass
    * idempotent — a maintenance loop re-invoking compaction does not
    * re-read and re-write an already-compacted generation forever.
    *
    * The spark jobs run OUTSIDE [[moveLock]] (reads of `completed/`
    * never race the sink's writers, which only touch `local/`); the
    * directory swap shares the lock with the archiver, and re-checks
    * the generation is still present — an archiver poll may have moved
    * it to `archive/` between the rewrite and the swap, in which case
    * the compaction of that generation is simply skipped (its scratch
    * dir travels along dot-prefixed and is cleaned by the next
    * compaction pass of the archive side, or ignored forever — readers
    * never see dot dirs).
    */
  def compactCompleted(
      spark: SparkSession,
      targetRowsPerFile: Long = 4000000L): Seq[NexusSink.CompactionStat] = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[NexusSink.CompactionStat]
    tables.foreach { table =>
      listChildren(completed.resolve(table))
        .filter(_.getFileName.toString.startsWith("run_name="))
        .foreach { nameDir =>
          val name = unescName(nameDir.getFileName.toString.stripPrefix("run_name="))
          listChildren(nameDir)
            .filter(_.getFileName.toString.startsWith("run_start_ns="))
            .foreach { genDir =>
              genDir.getFileName.toString.stripPrefix("run_start_ns=").toLongOption
                .foreach { start =>
                  recoverInterruptedCompaction(genDir)
                  val before = parquetFilesUnder(genDir)
                  val bytesBefore = bytesOf(before)
                  val batchDirs = listChildren(genDir)
                    .filter(_.getFileName.toString.startsWith("batch_id="))
                  val alreadyCompacted = Files.exists(genDir.resolve(".compacted"))
                  if (before.length > 1 && batchDirs.nonEmpty && !alreadyCompacted) {
                    val maxBatch = batchDirs.flatMap(batchIdOf).max
                    // FILE-level pre-image, taken before the rewrite
                    // reads: finalizeRuns' mergeMove can add files INTO
                    // an existing batch_id dir without changing any dir
                    // names, so a dir-name snapshot would wave through a
                    // swap that parks (then deletes) rows the rewrite
                    // never read
                    val snapshot = batchContentSnapshot(genDir)
                    val df = spark.read.parquet(genDir.toString)
                    val rows = df.count()
                    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
                    // per-attempt unique scratch name, registered as live
                    // for the rewrite's duration: recovery sweeps only
                    // scratch dirs NOT in the live set, so a concurrent
                    // archiver poll's recovery pass can never delete this
                    // attempt's scratch mid-rewrite (after a crash the
                    // fresh process's live set is empty — all leftovers
                    // sweep as before)
                    val tmp = genDir.resolve(
                      s".compact_tmp-$scratchNonce-${scratchCounter.incrementAndGet()}")
                    liveScratch.add(tmp)
                    val heartbeat = startScratchHeartbeat(tmp)
                    val swapped = try {
                      df.drop("batch_id")
                        .coalesce(nFiles.toInt)
                        .write
                        .mode(SaveMode.Overwrite)
                        .parquet(tmp.toString)
                      moveLock.synchronized {
                        // the archiver may have moved the generation away
                        // while the rewrite ran — skip, never resurrect
                        if (!Files.exists(genDir) || !Files.exists(tmp)) false
                        else {
                          val current = listChildren(genDir)
                            .filter(_.getFileName.toString.startsWith("batch_id="))
                          // a replayed batch may have merge-moved INTO the
                          // generation while the rewrite ran (finalizeRuns
                          // under this same lock) — the rewrite didn't see
                          // it, so parking it would destroy its rows.
                          // Abort the swap; the next pass re-reads.
                          if (batchContentSnapshot(genDir) != snapshot) {
                            deleteRecursively(tmp)
                            false
                          } else {
                            val old = genDir.resolve(".compact_old")
                            Files.createDirectories(old)
                            current.foreach(d => Files.move(d, old.resolve(d.getFileName)))
                            Files.writeString(old.resolve("PARKED"), "")
                            // ONE atomic rename — recovery never sees a
                            // half-promoted target
                            Files.move(tmp, genDir.resolve(s"batch_id=$maxBatch"))
                            dropCompactOld(old)
                            Files.writeString(genDir.resolve(".compacted"), "")
                            true
                          }
                        }
                      }
                    } finally {
                      heartbeat.cancel(false)
                      liveScratch.remove(tmp)
                    }
                    if (swapped) {
                      val after = parquetFilesUnder(genDir)
                      val stat = NexusSink.CompactionStat(
                        table,
                        name,
                        start,
                        before.length,
                        after.length,
                        bytesBefore,
                        bytesOf(after))
                      stats += stat
                      compactionHistory.synchronized(compactionHistory += stat)
                    }
                  }
                }
            }
        }
    }
    stats.toSeq
  }

  /** Resolve a generation a previous process died on mid-swap, using the
    * `PARKED` marker to disambiguate every crash point (see
    * [[compactCompleted]]): partial park or parked-but-not-promoted →
    * restore the originals; promoted → drop the parked copies.
    * Idempotent; called under [[moveLock]] before every compaction of
    * the generation.
    */
  private def recoverInterruptedCompaction(genDir: Path): Unit = moveLock.synchronized {
    val old = genDir.resolve(".compact_old")
    if (Files.exists(old)) {
      val parkCompleted = Files.exists(old.resolve("PARKED"))
      val promoted = listChildren(genDir)
        .exists(_.getFileName.toString.startsWith("batch_id="))
      if (parkCompleted && promoted) {
        // crash between promote and cleanup — parked copies are dead
        dropCompactOld(old)
      } else {
        // park partial, or parked but never promoted — restore
        listChildren(old)
          .filter(_.getFileName.toString.startsWith("batch_id="))
          .foreach { parked =>
            val back = genDir.resolve(parked.getFileName)
            if (!Files.exists(back)) Files.move(parked, back)
            else deleteRecursively(parked) // partial park re-listed the dir
          }
        deleteRecursively(old)
      }
    }
    // sweep dead scratch dirs only: an attempt still in liveScratch is a
    // rewrite in flight on another thread of THIS process (ADVICE r5);
    // an attempt with a FOREIGN nonce may be in flight in another
    // process — reclaim it only once stale (ADVICE r6)
    val now = System.currentTimeMillis()
    listChildren(genDir)
      .filter(_.getFileName.toString.startsWith(".compact_tmp"))
      .filterNot(liveScratch.contains)
      .filter { p =>
        p.getFileName.toString.startsWith(s".compact_tmp-$scratchNonce-") ||
          // vanished between list and probe: the foreign instance
          // finished and removed it — nothing to sweep, never an abort
          (try now - Files.getLastModifiedTime(p).toMillis >= scratchStaleMs
          catch { case _: java.io.IOException => false })
      }
      .foreach(deleteRecursively)
  }

  /** Delete a `.compact_old` dir in marker-last order: the parked batch
    * dirs go first and `PARKED` very last, so a crash mid-delete can
    * never produce the "no marker but parked dirs remain" state that
    * recovery would misread as a partial park and restore next to the
    * promoted data (duplicating rows).
    */
  private def dropCompactOld(old: Path): Unit = {
    listChildren(old)
      .filter(_.getFileName.toString != "PARKED")
      .foreach(deleteRecursively)
    Files.deleteIfExists(old.resolve("PARKED"))
    Files.deleteIfExists(old)
  }

  /** The N of a `batch_id=N` partition dir. */
  private def batchIdOf(d: Path): Option[Long] = {
    val name = d.getFileName.toString
    if (name.startsWith("batch_id=")) name.stripPrefix("batch_id=").toLongOption else None
  }

  private def bytesOf(files: Seq[Path]): Long =
    files.map(f => try Files.size(f) catch { case _: java.io.IOException => 0L }).sum

  private def parquetFilesUnder(p: Path): Seq[Path] =
    listChildren(p).flatMap { c =>
      val n = c.getFileName.toString
      if (n.startsWith(".") || n.startsWith("_")) Seq.empty
      else if (Files.isDirectory(c)) parquetFilesUnder(c)
      else if (n.endsWith(".parquet")) Seq(c)
      else Seq.empty
    }

  private def deleteRecursively(p: Path): Unit = NexusSink.deleteRecursively(p)

  /** Persist a generation's stop time beside the data (K6 durability):
    * the stop transition lives in the control checkpoint, which is NOT
    * replayed after restart — without this marker a crash inside the
    * linger window would resume the stopped generation as open forever.
    * Idempotent; removed when the generation finalizes.
    */
  def markStopped(runName: String, startNs: Long, stopNs: Long): Unit =
    moveLock.synchronized {
      // under moveLock, and skipped once the generation finalized: a
      // late stop redelivery racing (or trailing) finalizeRuns would
      // otherwise recreate the marker AFTER finalize deleted it, and
      // with the generation gone from local/ nothing ever deletes the
      // orphan again — one leaked runs_meta file per redelivery
      if (finalizedGens.contains((runName, startNs))) return
      Files.createDirectories(runsMeta)
      // escaped name: a raw name containing '/' would resolve outside
      // runs_meta and throw inside the control query's foreachBatch
      val f = runsMeta.resolve(s"${escName(runName)}@$startNs.stop")
      if (!Files.exists(f)) Files.writeString(f, stopNs.toString)
    }

  /** Every regular file under the generation's batch_id dirs, as
    * genDir-relative paths — the compaction pre-image the swap guard
    * compares (file-level, because mergeMove can change CONTENT without
    * changing any directory name).
    */
  private def batchContentSnapshot(genDir: Path): Set[String] =
    listChildren(genDir)
      .filter(_.getFileName.toString.startsWith("batch_id="))
      .flatMap { d =>
        val stream = Files.walk(d)
        try
          stream
            .iterator()
            .asScala
            .filter(Files.isRegularFile(_))
            .map(f => genDir.relativize(f).toString)
            .toList
        finally stream.close()
      }
      .toSet

  private def mergeMove(src: Path, dst: Path): Unit = {
    listChildren(src).foreach { child =>
      val target = dst.resolve(child.getFileName)
      if (Files.exists(target)) mergeMove(child, target)
      else Files.move(child, target)
    }
    Files.deleteIfExists(src)
  }

  /** K6 crash resume, generation-level: every (run_name, run_start_ns,
    * stop_ns?) with data still under local/ — the runs a restarted
    * engine must reopen (the reference re-extracts run parameters from
    * the partial file and resumes with a RunResume warning,
    * `run_engine/run/mod.rs:82-103`). ALL tables are scanned — events/,
    * frames/, periods/ and the log tables (a generation whose frames
    * all carried zero events has no events/ partition, and one that saw
    * only log traffic before the crash has only log partitions); the
    * stop comes from the
    * [[markStopped]] marker when the crash happened inside the linger
    * window. Foreign / non-partition directories are skipped, never
    * fatal.
    */
  def resumeRunGenerations(): Seq[(String, Long, Option[Long])] = {
    val gens = tables
      .flatMap { table =>
        listChildren(local.resolve(table))
          .filter(_.getFileName.toString.startsWith("run_name="))
          .flatMap { nameDir =>
            val name = unescName(nameDir.getFileName.toString.stripPrefix("run_name="))
            listChildren(nameDir).flatMap { g =>
              val dir = g.getFileName.toString
              if (dir.startsWith("run_start_ns="))
                dir.stripPrefix("run_start_ns=").toLongOption.map(name -> _)
              else None
            }
          }
      }
      .distinct
    gens
      .map { case (name, start) =>
        val marker = runsMeta.resolve(s"${escName(name)}@$start.stop")
        val stop =
          if (Files.exists(marker))
            scala.util.Try(Files.readString(marker).trim.toLong).toOption
          else None
        (name, start, stop)
      }
      .sortBy(t => (t._1, t._2))
  }

  /** K6 parameter re-extraction on resume: the reference re-reads run
    * parameters from the PARTIAL file when it reopens a run after a
    * crash (`nexus-writer/src/nexus_structure/entry/mod.rs:108-131`) —
    * the directory name alone is not the state. The parquet mirror does
    * the same: for every open generation the written `periods/` plane
    * yields the accumulated period list with per-period frame/event
    * counts, `frames/` yields the frame count, first frame time, and
    * the running `event_index` high-water mark, and the highest
    * `batch_id` partition tells the engine where idempotent replay may
    * overlap. All aggregates are generation-bounded (periods are a
    * handful of rows; frames a per-run table scanned once at restart).
    */
  def resumeRunParameters(spark: SparkSession): Seq[NexusSink.ResumedRunState] =
    resumeRunGenerations().map { case (name, start, stop) =>
      val periods: Seq[(Long, Long, Long)] = {
        val dir = genDir(local, "periods", (name, start))
        if (!Files.isDirectory(dir)) Seq.empty
        else
          spark.read.parquet(dir.toString)
            .groupBy(col("period_number"))
            .agg(
              sum(col("n_frames")).as("nf"),
              sum(col("n_events")).as("ne"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .sortBy(_._1)
            .toSeq
      }
      val (nFrames, firstFrameNs, maxBatchId) = {
        val dir = genDir(local, "frames", (name, start))
        if (!Files.isDirectory(dir)) (0L, None: Option[Long], None: Option[Long])
        else {
          val r = spark.read.parquet(dir.toString)
            .agg(
              count(lit(1)).as("nf"),
              min(col("event_time_zero")).as("t0"),
              // partition-column inference may type batch_id as INT
              max(col("batch_id").cast("long")).as("mb"))
            .head()
          (
            r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))
        }
      }
      // the event_index high-water mark is the generation's event count
      // — exactly what [[onDiskEventCounts]] seeds eventBase with, so a
      // restarted writer continues the running offset where the crash
      // left it
      val nextEventIndex = {
        val dir = genDir(local, "events", (name, start))
        if (!Files.isDirectory(dir)) 0L
        else spark.read.parquet(dir.toString).count()
      }
      NexusSink.ResumedRunState(
        runName = name,
        runStartNs = start,
        stopNs = stop,
        periodList = periods.map(_._1),
        periodFrames = periods.map(_._2),
        periodEvents = periods.map(_._3),
        nFrames = nFrames,
        firstFrameNs = firstFrameNs,
        nextEventIndex = nextEventIndex,
        maxBatchId = maxBatchId)
    }
}

object NexusSink {

  private[streaming] val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.NexusSink")

  /** Per-frame scalars observed once per micro-batch — everything the
    * frame and period planes plus the offset cache need, with the event
    * payload (time/voltage/channel arrays) left on the executors.
    */
  private final case class FrameMeta(
      runName: String,
      runStartNs: Long,
      tsNs: Long,
      periodNumber: Long,
      frameNumber: Long,
      complete: Boolean,
      running: Boolean,
      vetoFlags: Int,
      nEvents: Long)

  /** Parquet schemas of the driver-written planes: the columns (names,
    * order, types) Spark's partitioned writer puts in a file of
    * NexusTables.frameTable and of the periods aggregate, so both writers'
    * files read back as one table. The partition columns live only in
    * the path.
    */
  private val framesPlane = MessageTypeParser.parseMessageType("message spark_schema { " +
    "required int64 event_time_zero; required int64 event_index; required int64 period_number; " +
    "required int64 frame_number; required boolean frame_complete; required boolean running; " +
    "required int32 veto_flags; }")

  private val periodsPlane = MessageTypeParser.parseMessageType("message spark_schema { " +
    "required int64 period_number; required int64 n_frames; required int64 n_events; }")

  /** Recursive delete for scratch/layout dirs — shared with the
    * fixture queries that stand up a throwaway sink layout.
    */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val stream = Files.list(p)
      try stream.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally stream.close()
    }
    Files.deleteIfExists(p)
  }

  /** Run parameters re-extracted from the partial on-disk layout on
    * resume (K6 parity with the reference's parameter re-read): the
    * period list with per-period frame/event counts, frame count and
    * first frame time, the event_index high-water mark the writer must
    * continue from, and the highest written batch id.
    */
  final case class ResumedRunState(
      runName: String,
      runStartNs: Long,
      stopNs: Option[Long],
      periodList: Seq[Long],
      periodFrames: Seq[Long],
      periodEvents: Seq[Long],
      nFrames: Long,
      firstFrameNs: Option[Long],
      nextEventIndex: Long,
      maxBatchId: Option[Long])

  /** One generation×table compaction outcome (file counts and bytes
    * pre/post — the bytes are what a write-amplification audit sums:
    * `bytesBefore` was written once by the micro-batches and
    * `bytesAfter` a second time by the rewrite).
    */
  final case class CompactionStat(
      table: String,
      runName: String,
      runStartNs: Long,
      filesBefore: Int,
      filesAfter: Int,
      bytesBefore: Long,
      bytesAfter: Long)
}
