package graft.queries

import graft.Reuse
import graft.schemas.EventListMessage
import graft.streaming.FrameAssemblyTws
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming surface exercised through the batch query
  * contract: generated dev2 messages are fed through a MemoryStream into
  * the stateful frame assembler and the emitted aev2 frames are returned
  * once all expected frames dispatched. This is the §3.2 pipeline running
  * on the real streaming engine (state store, timeouts), not the batch
  * group-by.
  */
object StreamingQueries {

  /** Stateful operators open one state store per shuffle partition per
    * micro-batch; for these BOUNDED drains the store-commit overhead
    * dominates, so they run in a session fork with few partitions (a
    * production deployment sizes this to state-key cardinality instead).
    * One definition so every bounded-drain query stays tuned together.
    * `rocksDb` applies the one state-store profile
    * ([[graft.Sessions.stateStoreConfigure]]): `transformWithState`
    * requires the RocksDB provider.
    */
  private def boundedDrainSession(s0: SparkSession, rocksDb: Boolean = false): SparkSession = {
    val s = graft.Sessions.fork(s0)
    // 8 measured as the flat spot (A/B at sf0.1, r8): 8→4→2 partitions
    // moved q_stream_session_window 5.9→6.4→6.7 s and left join/dedup
    // within noise — the drains' fixed cost is checkpoint+trigger
    // machinery, not per-partition store commits, so fewer partitions
    // only costs parallelism.
    s.conf.set("spark.sql.shuffle.partitions", "8")
    if (rocksDb) graft.Sessions.stateStoreConfigure(s)
    s
  }

  /** The events table of `dir` as a FILE STREAM, `ts` normalised to µs
    * TimestampType whatever the parquet stored — ns-since-epoch long
    * (under nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ — the streaming
    * mirror of [[graft.Tables.load]]'s normalisation (the harness
    * regenerates its parquet between rounds and has shipped both
    * physical types; a hard-coded `ts div 1000` breaks the moment the
    * type flips). Session TZ is UTC, so the NTZ cast is wall-clock
    * identity. Each call is a separate source.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    val df = s.readStream
      .schema(raw)
      // the file source wants a directory; glob down to the events table
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Run a bounded drain of `out` to completion: start it on a scratch
    * checkpoint into a memory table (or, given `eachBatch`, into that
    * per-batch function), run `feed` — by default one
    * processAllAvailable — then stop the query and delete the checkpoint
    * whatever `feed` threw. Returns the memory table (empty under
    * `eachBatch`).
    *
    * The checkpoint sits on tmpfs when the host has one (/dev/shm): it is
    * pure harness machinery — the memory sink holds the result and the
    * dir is deleted on stop — so durable-disk fsyncs are a fixed cost with
    * zero recovery value. A/B at sf0.1 recorded in SCALE.md (r9).
    * Production deployments pass a REAL checkpoint location on durable
    * storage; only the drain harness routes through this helper.
    */
  private def drain(
      out: DataFrame,
      mode: String = "append",
      trigger: Trigger = Trigger.ProcessingTime(0L),
      eachBatch: Option[(DataFrame, Long) => Unit] = None,
      feed: StreamingQuery => Unit = _.processAllAvailable()): DataFrame = {
    val s = out.sparkSession
    val base = graft.Sessions.tmpfsScratchDir
      .getOrElse(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    val ckpt = java.nio.file.Files.createTempDirectory(base, "graft_drain_ckpt").toFile
    val writer = out.writeStream
      .queryName(s"drain_${System.nanoTime()}")
      .outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(trigger)
    val query = eachBatch.fold(writer.format("memory"))(writer.foreachBatch(_)).start()
    try feed(query)
    finally {
      // deleteQuietly IS the contract here: best-effort, a deletion
      // failure must never mask the query's own error propagating
      // through the enclosing finally
      try query.stop()
      finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    }
    eachBatch.fold(s.table(query.name))(_ => s.emptyDataFrame)
  }

  /** Watermarked tumbling-window aggregation over the events table read
    * as a FILE STREAM (SURVEY §2.10): the harness parquet drives a real
    * incremental query; since the batch and streaming results coincide
    * once the stream drains, this one is oracle-checked against DuckDB.
    * Scale: per-window partial aggregation, state bounded by the
    * watermark horizon.
    */
  def streamWindowedCounts(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    drain(
      eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("window.start").as("day"), col("event_type"), col("n"), col("sum_value")),
      "complete")
  }

  val streamWindowedCountsSql: String =
    """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
       FROM events GROUP BY 1, 2"""

  /** Streaming exact deduplication (the streams side of the dedup
    * surface): the events file stream unioned with itself — every event
    * arrives twice — then `dropDuplicatesWithinWatermark` on the key
    * restores exactly-once per event before a windible aggregation.
    * State is bounded by the watermark horizon (the unbounded-state
    * `dropDuplicates` variant exists for replay-stable keys); the final
    * counts equal the batch per-type counts, so this is oracle-checked.
    */
  def streamDedup(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    drain(
      eventsStream(s, dir)
        .unionByName(eventsStream(s, dir))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")),
      "complete")
  }

  val streamDedupSql: String =
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"

  /** Continuous heavy hitters: per-day user activity counts aggregated
    * ON the streaming engine (watermarked tumbling windows, complete
    * mode), then the top-3 users per day ranked as a bounded batch
    * post-pass over the drained aggregate — the standard serving shape
    * for streaming top-k (the stream maintains the EXPENSIVE part, the
    * per-key counts; ranking a day's bounded aggregate at read time
    * costs nothing and avoids per-trigger global sorts inside the
    * engine). Deterministic (count desc, user_id) tiebreak.
    */
  def streamHeavyHitters(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col("user_id"), col("n"))
    drain(agg, "complete")
      .withColumn(
        "rank",
        row_number()
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("day"))
            .orderBy(col("n").desc, col("user_id")))
          .cast("long"))
      .filter(col("rank") <= 3)
  }

  val streamHeavyHittersSql: String =
    """WITH counts AS (
         SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id,
                count(*) AS n
         FROM events GROUP BY 1, 2),
       ranked AS (
         SELECT day, user_id, n,
                row_number() OVER (PARTITION BY day ORDER BY n DESC, user_id) AS rank
         FROM counts)
       SELECT day, user_id, n, CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 3"""

  /** Session windows on the REAL streaming engine: the events file
    * stream aggregated into per-user 30-minute-gap sessions
    * (`session_window` state merging, append mode, watermark-driven
    * finalisation) — the streaming twin of
    * [[RelationalQueries.sessionWindow]], checked against the SAME
    * DuckDB oracle, so streaming/batch session parity is the verified
    * property.
    *
    * Append mode only emits a session once the watermark passes its
    * end, and a session's end is its last event + gap — so a bounded
    * file drain would strand every tail session in state forever. A
    * far-future SENTINEL row (user −1, filtered out after the watermark
    * node) advances the watermark past all real sessions — the
    * standard "punctuation" trick for draining event-time state from a
    * bounded source.
    *
    * Scale: session state is per (user, open session) and the
    * watermark evicts closed sessions continuously; the shuffle is one
    * user_id exchange — identical to the batch plan, plus state-store
    * commits.
    */
  def streamSessionWindow(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = eventsStream(s, dir).select(col("user_id"), col("ts"), col("value"))
    val sentinel = MemoryStream[Long]
    sentinel.addData(4102444800L) // 2100-01-01
    val sentinelDf = sentinel
      .toDS()
      .select(
        lit(-1L).as("user_id"),
        timestamp_seconds(col("value")).as("ts"),
        lit(0.0).as("value"))
    // NO sentinel filter anywhere in the STREAMING plan: a user_id
    // predicate — even placed after the aggregation — is pushed through
    // the aggregate (it keys on user_id) and into the union branches,
    // where it constant-folds to `Filter false` on the sentinel branch
    // and starves the watermark collector. The sentinel aggregates like
    // any user and is dropped from the SINK table (a batch DataFrame,
    // outside the streaming plan) after the drain.
    val agg = src
      .unionByName(sentinelDf)
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n_events"),
        col("sum_value"))
    // batch k: file data + sentinel-1 → watermark jumps past every
    // real session AFTER the batch. The evictions themselves happen in
    // the NEXT batch — which processAllAvailable only awaits if it is
    // a DATA batch, so feed a second, later sentinel and drain again
    // (emission-in-no-data-batch is a race this avoids determinsitically)
    drain(agg, feed = q => {
      q.processAllAvailable()
      sentinel.addData(4102531200L) // 2100-01-02
      q.processAllAvailable()
    }).filter(col("user_id") =!= -1L)
  }

  /** Oracle: literally the batch session-window oracle — the streaming
    * drain must produce the identical session set.
    */
  val streamSessionWindowSql: String = RelationalQueries.sessionWindowSql

  /** Per-key running totals on the `transformWithState` arbitrary-state
    * API ([[graft.streaming.RunningTotals]]): the events stream keyed by
    * event_type, each batch updating typed ValueState and emitting the
    * new totals in Update mode. The memory sink accumulates one row per
    * (key, batch) — the final per-key MAX is batching-invariant (both
    * statistics grow monotonically), so the drained result equals the
    * batch aggregate and is oracle-checked.
    *
    * Scale: state is one (long, long) per key on the RocksDB provider
    * (required by transformWithState; forced on the session clone) —
    * keyed state scales with key cardinality, not stream length.
    */
  def streamRunningTotals(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0, rocksDb = true)
    import s.implicits._
    val out = eventsStream(s, dir)
      .select(col("event_type"), col("event_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.RunningTotals,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    drain(out.toDF(), "update")
      .groupBy(col("_1").as("event_type"))
      .agg(max(col("_2")).as("n_events"), max(col("_3")).as("max_event_id"))
  }

  val streamRunningTotalsSql: String =
    """SELECT event_type, count(*) AS n_events, max(event_id) AS max_event_id
       FROM events GROUP BY event_type"""

  /** Stream-stream interval join (view→click attribution): the events
    * file stream joined WITH ITSELF — clicks matched to any view by the
    * same user within the preceding hour — on the real streaming engine
    * (two watermarked inputs, symmetric-hash join state, event-time
    * range condition). The drained result equals the batch interval
    * join, so this is oracle-checked against plain SQL.
    *
    * Scale: both sides shuffle once on user_id (the equality key); the
    * watermark (2 h) + the range condition bound the join state to the
    * horizon — without the time bound the state would grow with the
    * corpus, WITH it eviction is continuous. Append mode emits matches
    * incrementally; nothing waits for end-of-stream.
    */
  def streamJoin(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    drain(views
      .join(
        clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 60 MINUTES"))
      .select(
        col("user_id"),
        col("view_id"),
        col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us")))
  }

  /** LEFT OUTER stream-stream interval join — the semantic the inner
    * join ([[streamJoin]]) cannot express: a view with NO click inside
    * its 60-minute window must still emit (with nulls) once the
    * watermark proves no match can arrive. This is the attribution
    * question asked negatively ("which impressions never converted"),
    * and the state-eviction path it exercises — null emission on
    * watermark passage — is exactly what an inner join never runs.
    *
    * Drain mechanics: the global watermark is the MIN over both inputs,
    * so BOTH sides get a sentinel punctuation row (user −1, year 2100,
    * dropped from the sink table afterwards), and the drain runs twice —
    * evictions fire in the data batch AFTER the watermark jump (same
    * two-sentinel discipline as [[streamSessionWindow]]).
    *
    * Scale: state is watermark-bounded on both sides (2 h + the 60 min
    * interval); unmatched-row emission is driven by the same eviction
    * sweep that bounds the state, so the outer join costs nothing an
    * inner join doesn't already pay. Oracle: the batch LEFT JOIN.
    */
  def streamOuterJoin(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val viewSentinel = MemoryStream[Long]
    val clickSentinel = MemoryStream[Long]
    viewSentinel.addData(4102444800L) // 2100-01-01
    clickSentinel.addData(4102444800L)
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .unionByName(viewSentinel
        .toDS()
        .select(
          lit(-1L).as("user_id"),
          lit(-1L).as("view_id"),
          timestamp_seconds(col("value")).as("view_ts")))
      .withWatermark("view_ts", "2 hours")
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(
        col("user_id").as("click_user"),
        col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .unionByName(clickSentinel
        .toDS()
        .select(
          lit(-1L).as("click_user"),
          lit(-1L).as("click_id"),
          timestamp_seconds(col("value")).as("click_ts")))
      .withWatermark("click_ts", "2 hours")
    val joined = views
      .join(
        clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 60 MINUTES"),
        "leftOuter")
      .select(
        col("user_id"),
        col("view_id"),
        col("click_id"),
        col("click_id").isNotNull.as("converted"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
    drain(joined, feed = q => {
      q.processAllAvailable()
      viewSentinel.addData(4102531200L) // 2100-01-02
      clickSentinel.addData(4102531200L)
      q.processAllAvailable()
    }).filter(col("user_id") =!= -1L)
  }

  /** Oracle: the batch LEFT JOIN — matched rows identical to the inner
    * oracle, plus one null row per never-converted view.
    */
  val streamOuterJoinSql: String =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
              c.event_id IS NOT NULL AS converted,
              date_diff('microsecond', CAST(v.ts AS TIMESTAMP), CAST(c.ts AS TIMESTAMP)) AS lag_us
       FROM events v LEFT JOIN events c
         ON v.user_id = c.user_id
        AND c.event_type = 'click'
        AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 60 MINUTE
       WHERE v.event_type = 'view'"""

  /** NB the CAST(ts AS TIMESTAMP): the harness parquet carries ns
    * precision but the Spark side compares µs-truncated timestamps
    * (`ts div 1000`) — the same ns→µs truncation discipline every other
    * events oracle applies; without it a pair within 1 µs of the
    * 60-minute boundary would flip between engines.
    */
  val streamJoinSql: String =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       date_diff('microsecond', CAST(v.ts AS TIMESTAMP), CAST(c.ts AS TIMESTAMP)) AS lag_us
       FROM events v JOIN events c
         ON v.user_id = c.user_id
        AND v.event_type = 'view' AND c.event_type = 'click'
        AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 60 MINUTE"""

  /** Stream-static enrichment join (the dimension-lookup shape every
    * production stream runs): the events file stream joined to the STATIC
    * `customer` dimension on the user→customer key, aggregated to
    * per-market-segment totals. The static side is explicitly
    * `broadcast()` — a stream-static join holds NO stream state for the
    * static side; each micro-batch probes the broadcast hash table, so
    * the operator is stateless except for the final aggregation.
    *
    * Scale: this is THE pattern for enriching a 100 TB/day stream with a
    * bounded dimension — no shuffle of the stream, no state-store growth;
    * the dimension is re-broadcast per batch (Spark re-plans the static
    * side each micro-batch, which also picks up slowly-changing
    * dimension updates). The drained result equals the batch join, so it
    * is oracle-checked.
    */
  def streamEnrich(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    val cust = graft.Tables
      .customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    drain(
      eventsStream(s, dir)
        .join(broadcast(cust), col("user_id") + 1 === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value")),
      "complete")
  }

  val streamEnrichSql: String =
    """SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 4) AS sum_value
       FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
       GROUP BY 1"""

  /** P1–P5/D1 on the REAL streaming engine: the SAME
    * [[graft.operators.EventFormation.formEvents]] operator object that
    * serves the batch [[PipelineQueries.traceToEvents]] applied to a
    * MemoryStream of dat2 trace messages — the reference's trace-to-events
    * topology (Kafka in → per-message detector chain → Kafka out,
    * `trace-to-events/src/main.rs`) as a streaming query. The operator is
    * a stateless per-message typed map, so it runs unchanged under either
    * engine; the drained result must hash-match the SAME DuckDB
    * gaps-and-islands oracle as the batch path — batch/stream operator
    * parity is the checked property.
    *
    * Scale: stateless map ⇒ no state store, no watermark, no shuffle;
    * throughput scales with partitions exactly like the batch stage.
    */
  def streamTraceToEvents(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    import s.implicits._
    // one MemoryStream partition per session core: the ~2 MB fixture
    // ships as that many tasks and formation runs on every core
    val input = MemoryStream[graft.schemas.TraceMessage](s, s.sparkContext.defaultParallelism)
    input.addData(
      TraceFixtures.arithmeticTraces(s, nFrames = 32, nDigitizers = 4).collect().toSeq)
    val events = graft.operators.EventFormation.formEvents(
      input.toDS(),
      graft.dsp.DetectorSettings(graft.dsp.FixedThreshold(threshold = 100.0), baseline = 50.0))
    drain(PipelineQueries.perEventRows(explode_outer)(events))
  }

  /** Oracle for [[streamTraceToEvents]]: literally the batch
    * trace-to-events oracle — same detector chain, same projection.
    */
  val streamTraceToEventsSql: String = PipelineQueries.traceToEventsSql

  /** A2 on the REAL streaming engine (RocksDB state store,
    * `transformWithState` typed ValueState + registered timers —
    * [[graft.streaming.FrameAssemblyTws]]), oracle-checked:
    * the closed-form
    * [[PipelineQueries.arithmeticDev2Messages]] ORIGINALS are fed
    * digitiser-by-digitiser, complete frames dispatch incrementally,
    * incomplete frames (f%5==0) flush on TTL expiry, and the result must
    * hash-match the SAME DuckDB oracle as the batch
    * [[PipelineQueries.frameAssembly]] — streaming/batch parity is the
    * checked property. Duplicate redeliveries are deliberately NOT in
    * this feed: their winner depends on arrival timing relative to the
    * TTL horizon (a post-expiry redelivery legitimately seeds a fresh
    * partial frame, in the engine and in the reference alike), which is
    * real behavior but not a deterministic hash — P6 stream rejection is
    * locked by StreamingSpec's dedicated late-rejection test instead.
    */
  def streamFrameAssembly(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0, rocksDb = true)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (originals, _) = PipelineQueries.arithmeticDev2Messages
    val nFrames = 32
    val input = MemoryStream[EventListMessage]
    val frames = FrameAssemblyTws
      // TTL sized to the feed: the single addData batch carries every
      // contribution, so a frame is either complete-dispatched from that
      // batch or a permanent partial — the countdown only has to reach
      // the next trigger, not a real digitiser skew window (the dead wait
      // for the f%5==0 partials is TTL + one trigger period)
      .assemble(input.toDS(), Seq(0, 1, 2, 3), ttlMs = 300L)
    // processAllAvailable never returns on a ProcessingTime-timer
    // operator, so the feed polls the memory table against a deadline
    drain(frames.toDF(), trigger = Trigger.ProcessingTime("100 milliseconds"), feed = q => {
      val deadline = System.currentTimeMillis() + 60000L
      // ONE addData → one micro-batch carries every contribution: a
      // frame is complete-dispatched or TTL-flushed from that single
      // batch's state, so no scheduling stall can split a frame's
      // digitisers across the TTL horizon (incremental completion across
      // batches is StreamingSpec's dedicated test, not this oracle's)
      input.addData(originals)
      while (s.table(q.name).count() < nFrames && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
    })
      .select(
        col("metadata.frameNumber").as("frame_number"),
        col("metadata.vetoFlags").as("veto_flags"),
        col("complete"),
        array_join(transform(col("digitizersPresent"), _.cast("string")), ",")
          .as("digitizers_present"),
        size(col("time")).as("n_events"),
        PipelineQueries.weightedChecksum("time", "x").as("time_checksum"),
        PipelineQueries.weightedChecksum("voltage", "cast(x AS bigint)").as("voltage_checksum"),
        PipelineQueries.weightedChecksum("channel", "x").as("channel_checksum"))
  }

  /** Oracle for [[streamFrameAssembly]]: literally the batch assembly
    * oracle — the streaming path must produce the identical frame set.
    */
  val streamFrameAssemblySql: String = PipelineQueries.frameAssemblySql

  /** Streaming MinHash near-dup dedup — the streams side of the banded
    * LSH surface: documents arrive as a stream of (doc_id, band) rows
    * (the SAME 128-perm / 8-band keys as [[DedupQueries.minhashPairs]]),
    * and `dropDuplicatesWithinWatermark` keyed on the band makes every
    * band key single-owner state — the first document to present a band
    * owns it; any later document colliding on it loses that band. The
    * per-document verdict: `keep` iff the document owns ALL its bands,
    * i.e. no earlier document was a banding candidate against it.
    *
    * Relationship to the batch rule (locked in StreamingSpec): a batch
    * [[DedupQueries.minhashPairs]] pair (a, b) shares ≥1 band by
    * construction, so every doc the batch keep-set drops (the higher id
    * of a verified pair) this stream also drops — the streaming verdict
    * is the candidate-level (recall) superset that drops on collision
    * alone, without the estimate check: exactly what a streaming
    * dedup gate can decide with single-key state and no pairwise work.
    *
    * Determinism: the feed arrives in doc_id order through one
    * single-partition MemoryStream batch, so "first arrival" ≡ "minimum
    * doc_id per band" and the verdict has an exact order-free DuckDB
    * oracle ([[DedupQueries.minhashBandVerdictSql]]).
    *
    * Scale: state is ONE row per distinct band key within the watermark
    * horizon (here sized past the bounded feed so streaming ≡ global
    * batch dedup; production trims it to the dedup window, and Spark's
    * RocksDB provider conf moves the key set off-heap). No shuffle beyond
    * the one exchange onto band keys; no pairwise joins anywhere.
    */
  def streamMinhashDedup(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val bandUdf = udf { (text: String) =>
      graft.functions.TextHash.bandKeys(
        graft.functions.TextHash.minhashSignature(
          graft.functions.TextHash.shingles(text, 1), 128),
        8)
    }
    // token-less docs excluded as in the batch path (no shingle set)
    val docBands = Reuse.pin(
      graft.Tables
        .documents(s, dir)
        .filter(length(regexp_replace(col("text"), lit(" "), lit(""))) > 0)
        // DISTINCT band values per doc: a doc whose 8 band keys contain a
        // mod-P collision would otherwise see its own second identical row
        // dropped by the band-keyed state (n_kept < n_bands forever) while
        // the oracle counts both — distinct-ifying makes "owns ALL its
        // bands" well-defined on both engines (~1 doc per 75M hits this)
        .select(col("doc_id"), explode(array_distinct(bandUdf(col("text")))).as("band")))
    // harness feed: the band rows in doc_id order through ONE
    // single-partition MemoryStream batch (collect is test plumbing, not
    // the operator — production points the same dedup at a real source)
    val feed = docBands
      .orderBy(col("doc_id"), col("band"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    // numPartitions pinned to 1 (ADVICE r8): "first arrival ≡ min doc_id
    // per band" needs the feed to reach the state exchange from a single
    // ordered source partition — pinning makes that an explicit contract
    // of the harness feed instead of an implementation accident.
    val input = MemoryStream[(Long, Long)](numPartitions = 1)
    val stream = input
      .toDS()
      .select(
        col("_1").as("doc_id"),
        col("_2").as("band"),
        // event time tracks arrival (doc_id) so the watermark bounds
        // band-key state by recency exactly like production would
        timestamp_seconds(lit(1700000000L) + col("_1")).as("ts"))
    input.addData(feed)
    // verdict: bands each doc still owns after the drain (sink join is a
    // batch DataFrame, outside the streaming plan)
    val kept = drain(stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark("band"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_bands"))
    // the cut materializes the per-doc verdict (one small row per
    // document) so docBands can be freed here (ADVICE r8)
    val verdict = Reuse.cut(
      docBands
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bands"))
        .join(kept, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_kept_bands"), lit(0L)).as("n_kept_bands"),
          (coalesce(col("n_kept_bands"), lit(0L)) === col("n_bands")).as("keep")))
    Reuse.free(docBands)
    verdict
  }

  val streamMinhashDedupSql: String = DedupQueries.minhashBandVerdictSql

  /** Streaming CDC apply ([[graft.streaming.CdcLatest]]): the events
    * file stream folded into one typed ValueState per key on
    * `transformWithState`, Update-mode emissions accumulating in the
    * sink; the snapshot read takes each key's last emission (n_changes
    * is monotone) and drops keys whose final op is a delete. Must equal
    * the batch [[RelationalQueries.cdcApply]] — same oracle SQL, so
    * streaming/batch MERGE parity is the verified property.
    */
  def streamCdcApply(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0, rocksDb = true)
    import s.implicits._
    val src = eventsStream(s, dir)
      .select(
        col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_id"),
        col("event_type"),
        col("value"))
      .as[graft.streaming.CdcLatest.Change]
    val out = src
      .groupByKey(_.user_id)
      .transformWithState(
        new graft.streaming.CdcLatest,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    drain(out.toDF(), "update")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_changes"), col("ts_us"), col("event_id"),
        col("event_type"), col("value"))).as("m"))
      .filter(col("m.event_type") =!= "purchase")
      .select(
        col("user_id"),
        col("m.event_id").as("last_event_id"),
        col("m.ts_us").as("last_ts_us"),
        round(col("m.value"), 4).as("last_value"),
        col("m.n_changes").as("n_changes"))
  }

  /** Oracle: literally the batch CDC-apply oracle — the streaming fold
    * must produce the identical snapshot.
    */
  val streamCdcApplySql: String = RelationalQueries.cdcApplySql

  /** Streaming exact distinct users per event type — the
    * [[graft.streaming.BitmapDistinctStream]] `transformWithState`
    * processor with the batch bitmap family's [[graft.functions.PagedBitmap]]
    * as per-key state. The emitted count is monotone, so the drained
    * last emission per key equals the batch answer regardless of
    * micro-batch boundaries; the oracle is the same `count(DISTINCT)`
    * SQL that checks the batch legs.
    */
  def streamBitmapDistinct(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0, rocksDb = true)
    import s.implicits._
    val out = eventsStream(s, dir)
      .select(col("event_type"), col("user_id"))
      .as[graft.streaming.BitmapDistinctStream.Obs]
      .groupByKey(_.event_type)
      .transformWithState(
        new graft.streaming.BitmapDistinctStream,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    // n_users is monotone per key: max over emissions == final state
    drain(out.toDF(), "update").groupBy(col("event_type")).agg(max(col("n_users")).as("n_users"))
  }

  /** Oracle: exact distinct — the stream state must land exactly. */
  val streamBitmapDistinctSql: String =
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type"

  // --------------------------------------------------------------------
  // q_stream_sgd — online learning on the streaming engine
  // --------------------------------------------------------------------

  /** Online logistic-regression SGD on the REAL streaming engine: the
    * corpus arrives as [[SgdBatches]] deterministic hash-split
    * micro-batches and `foreachBatch` takes one mean-gradient step per
    * batch — the online-learning loop of a continuously-trained
    * quality filter, with the model living driver-side exactly like
    * [[MiningQueries.logregTrain]]'s batch twin. Gradients use the
    * same quantized-integer discipline (⌊t·10¹²⌋ longs summed as
    * decimal(38,0)), so each step is exact and the DuckDB oracle
    * REPLAYS the whole batch sequence (batch b = the md5 bucket, the
    * [[CurationQueries.hashSplit]] convention) to the identical weight
    * trajectory and final accuracy.
    *
    * Harness note: the per-batch FEED collects each split to the
    * driver to push through a MemoryStream — that is the test
    * harness's ingestion, bounded at fixture scale (the StreamingSpec
    * convention); a deployment reads Kafka and the learning loop —
    * one distributed partial-agg gradient per micro-batch, 3 doubles
    * to the driver — is unchanged at any scale.
    */
  val SgdBatches = 5
  val SgdEta = 4.0

  def streamSgd(s0: SparkSession, dir: String): DataFrame = {
    val s = boundedDrainSession(s0)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val toksC = split(col("text"), " ", -1)
    val feat = Reuse.pin(
      s.read
        .parquet(s"$dir/documents.parquet")
        .select(
          (size(toksC).cast("double") / lit(100.0)).as("x1"),
          (size(array_distinct(toksC)).cast("double") / size(toksC).cast("double")).as("x2"),
          when(col("n_chars") >= 300, lit(1.0)).otherwise(lit(0.0)).as("y"),
          expr(OracleHash.bucketExpr("cast(doc_id as string)", SgdBatches)).as("b")))
    val batches = (0 until SgdBatches).map { b =>
      val rows = feat
        .filter(col("b") === b)
        .select(col("x1"), col("x2"), col("y"))
        .as[(Double, Double, Double)]
        .collect()
      require(rows.nonEmpty, s"stream SGD: empty micro-batch $b — oracle replay undefined")
      rows
    }
    val w = new java.util.concurrent.atomic.AtomicReference(Array(0.0, 0.0, 0.0))
    val input = MemoryStream[(Double, Double, Double)]
    val step = (batch: DataFrame, _: Long) => {
      val cur = w.get()
      val z = lit(cur(0)) + lit(cur(1)) * col("x1") + lit(cur(2)) * col("x2")
      val sig = lit(1.0) / (lit(1.0) + exp(-z))
      val g = batch
        // q-domain note (Quantize): per-term bound as in
        // MiningQueries.trainLogregWeights — saturation needs a single
        // ≥ 9.2e8-token document, not corpus growth
        .agg(
          count(lit(1)).as("c"),
          sum(floor((sig - col("y")) * lit(1.0) * lit(1e12)).cast("decimal(38,0)"))
            .as("s0"),
          sum(floor((sig - col("y")) * col("x1") * lit(1e12)).cast("decimal(38,0)"))
            .as("s1"),
          sum(floor((sig - col("y")) * col("x2") * lit(1e12)).cast("decimal(38,0)"))
            .as("s2"))
        .collect()(0)
      val c = g.getLong(0)
      if (c > 0) {
        // exact replica of the oracle's per-batch update expression
        def upd(j: Int, i: Int): Double =
          cur(j) - SgdEta * ((g.getDecimal(i).doubleValue() / 1e12) / c)
        w.set(Array(upd(0, 1), upd(1, 2), upd(2, 3)))
      }
    }
    drain(input.toDS().toDF("x1", "x2", "y"), eachBatch = Some(step), feed = q =>
      batches.foreach { rows =>
        input.addData(rows.toIndexedSeq: _*)
        q.processAllAvailable() // exactly one micro-batch per split
      })
    val fw = w.get()
    val zF = lit(fw(0)) + lit(fw(1)) * col("x1") + lit(fw(2)) * col("x2")
    feat
      .agg(
        count(lit(1)).as("n"),
        sum(when((zF > 0) === (col("y") === lit(1.0)), 1L).otherwise(0L))
          .as("n_correct"))
      .select(
        col("n"),
        col("n_correct"),
        round(lit(fw(0)), 6).as("w0"),
        round(lit(fw(1)), 6).as("w1"),
        round(lit(fw(2)), 6).as("w2"))
  }

  /** DuckDB oracle for [[streamSgd]]: the online pass unrolled — one
    * gradient + weight CTE per hash-split micro-batch, identical
    * quantized/double expression shapes, then the full-corpus accuracy
    * under the final weights.
    */
  def streamSgdSql: String = {
    val one = "CAST(1.0 AS DOUBLE)"
    val bucket = OracleHash.bucketSql("CAST(doc_id AS VARCHAR)", SgdBatches)
    val sb = new StringBuilder
    sb.append(s"""WITH feat AS (
         SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x1,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
                CASE WHEN n_chars >= 300 THEN $one ELSE CAST(0.0 AS DOUBLE) END AS y,
                $bucket AS b
         FROM documents
       ),
       w0 AS (SELECT CAST(0.0 AS DOUBLE) AS wa, CAST(0.0 AS DOUBLE) AS wb,
                     CAST(0.0 AS DOUBLE) AS wc)""")
    for (i <- 1 to SgdBatches) {
      val sig = s"($one / ($one + exp(-(wa + wb*x1 + wc*x2))))"
      sb.append(s""",
       g$i AS (
         SELECT wa, wb, wc, count(*) AS c,
           CAST(sum(CAST(floor(($sig - y) * $one * 1e12) AS BIGINT)) AS BIGINT) AS s0,
           CAST(sum(CAST(floor(($sig - y) * x1 * 1e12) AS BIGINT)) AS BIGINT) AS s1,
           CAST(sum(CAST(floor(($sig - y) * x2 * 1e12) AS BIGINT)) AS BIGINT) AS s2
         FROM (SELECT * FROM feat WHERE b = ${i - 1}), w${i - 1}
         GROUP BY wa, wb, wc
       ),
       w$i AS (
         SELECT wa - $SgdEta * ((CAST(s0 AS DOUBLE) / 1e12) / c) AS wa,
                wb - $SgdEta * ((CAST(s1 AS DOUBLE) / 1e12) / c) AS wb,
                wc - $SgdEta * ((CAST(s2 AS DOUBLE) / 1e12) / c) AS wc
         FROM g$i
       )""")
    }
    sb.append(s"""
       SELECT count(*) AS n,
              CAST(sum(CASE WHEN ((wa + wb*x1 + wc*x2) > 0) = (y = $one)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
              round(wa, 6) AS w0, round(wb, 6) AS w1, round(wc, 6) AS w2
       FROM feat, w$SgdBatches
       GROUP BY wa, wb, wc""")
    sb.toString
  }
}
