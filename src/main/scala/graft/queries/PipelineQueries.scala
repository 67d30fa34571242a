package graft.queries

import graft.dsp.{AdvancedMuon, DetectorSettings, DifferentialThreshold, FixedThreshold}
import graft.operators.{EventFormation, FrameAssembly, NexusTables, RunAssignment}
import graft.schemas.{EventListMessage, FrameMetadata, RunStart, RunStop}
import graft.sources.TraceGenerator
import graft.sources.TraceGenerator.GeneratorConfig
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The DAQ pipeline as declared queries: dat2 traces through event
  * formation, frame assembly, and the NeXus table layout. Queries on the
  * closed-form fixtures ([[TraceFixtures]], [[arithmeticDev2Messages]])
  * carry exact DuckDB oracles — including the full D1/D2/D3 trace→event
  * chains (gaps-and-islands SQL for the threshold FSMs, a recursive
  * phase-walk CTE for the advanced muon FSM); the free-running NOISE
  * generator chain (e2e bench units, scripted simulation) has no
  * faithful ANSI-SQL mirror, so those record rows>0 with semantics
  * locked by DspSpec/PipelineSpec/PlanSpec reference vectors instead
  * (SURVEY §7.4).
  */
object PipelineQueries {

  /** Fixed fixture: 32 frames × 4 digitisers × 8 channels × 500 bins —
    * the reference simulator's default shape (BASELINE.md).
    */
  private def cfg = GeneratorConfig(nFrames = 32, nDigitizers = 4)

  private val expected = Seq(0, 1, 2, 3)

  private def dev2Encoder(s: SparkSession) =
    org.apache.spark.sql.Encoders.product[EventListMessage]

  /** One row per event of formed dev2 messages: the harness compare can't
    * hash array cells, and the SoA triple is exactly an exploded zip.
    * `explodeFn` picks the variant: `explode_outer` keeps zero-event
    * messages visible as `n_events == 0` rows with null event columns
    * (the reference's per-frame surface still shows empty frames);
    * `explode` drops them.
    */
  private[queries] def perEventRows(explodeFn: Column => Column)(
      events: Dataset[EventListMessage]): DataFrame =
    events
      .toDF()
      .select(
        col("digitizerId"),
        col("metadata.frameNumber").as("frame_number"),
        size(col("time")).as("n_events"),
        explodeFn(arrays_zip(col("time"), col("voltage"), col("channel"))).as("ev"))
      .select(
        col("digitizerId"),
        col("frame_number"),
        col("n_events"),
        col("ev.time").as("event_time"),
        col("ev.voltage").as("event_voltage"),
        col("ev.channel").as("event_channel"))

  /** P1–P3/D1/D5 full chain with a DuckDB oracle (VERDICT r4 #4): traces →
    * per-channel threshold FSM → per-message SoA concat → per-event rows,
    * on the closed-form [[TraceFixtures]] grid (same 32×4 shape as the
    * generator default), so gaps-and-islands SQL re-derives every event's
    * time, intensity, and channel plus the per-message counts. The
    * free-running NOISE generator chain stays exercised (and benchmarked)
    * by q_pipeline_e2e / q_wire_e2e; its determinism is locked by
    * PipelineSpec.
    */
  def traceToEvents(s: SparkSession, dir: String): DataFrame =
    EventFormation
      .formEvents(
        TraceFixtures.arithmeticTraces(s, nFrames = 32, nDigitizers = 4),
        DetectorSettings(FixedThreshold(threshold = 100.0), baseline = 50.0))
      .transform(perEventRows(explode_outer))

  /** DuckDB oracle for [[traceToEvents]]: islands per (f, d, c) →
    * per-event rows (time = first index at 1 GS/s, intensity = max
    * normalised value, channel = d*8 + c) joined with the per-message
    * event counts the SoA concat must report.
    */
  val traceToEventsSql: String =
    TraceFixtures.islandsSql(nFrames = 32, nDigitizers = 4) + """
       , msg AS (SELECT f, d, count(*)::INT AS n FROM islands GROUP BY f, d)
       SELECT i.d::INT AS "digitizerId", i.f::BIGINT AS frame_number,
              m.n AS n_events, i.t::BIGINT AS event_time,
              i.h::INT AS event_voltage, (i.d*8 + i.c)::BIGINT AS event_channel
       FROM islands i JOIN msg m ON i.f = m.f AND i.d = m.d"""

  /** D2 full chain with a DuckDB oracle, same treatment as
    * [[traceToEvents]]: the differential FSM (arm on dv > threshold,
    * disarm at dv ≤ 0, height = max value from arm through the disarming
    * sample, end-of-trace latch rule) over the closed-form fixture — the
    * SQL mirror is [[graft.queries.SignalQueries.thresholdEventsDifferentialSql]]'s
    * derivation re-rooted on the regenerated sample grid. The fixture's
    * derivative is 11 within each ramp (so threshold 5 arms every
    * positive run — island boundaries, heights, counts and the latch
    * rule are the checked surface; partial arming is D2's table-query
    * oracle's job, where the data has varied slopes).
    */
  def traceToEventsDifferential(s: SparkSession, dir: String): DataFrame =
    EventFormation
      .formEvents(
        TraceFixtures.arithmeticTraces(s, nFrames = 16, nDigitizers = 4),
        DetectorSettings(DifferentialThreshold(threshold = 5.0), baseline = 50.0))
      .transform(perEventRows(explode_outer))

  /** DuckDB oracle for [[traceToEventsDifferential]] (gaps-and-islands
    * over dv > 0 with the arming/latch rules, per (f, d, c) trace).
    */
  val traceToEventsDifferentialSql: String =
    """WITH samp AS (
         SELECT f, d, c, j, ((f*31 + d*13 + c*7 + j*11) % 400) AS v
         FROM range(16) rf(f), range(4) rd(d), range(8) rc(c), range(500) rj(j)
       ), derived AS (
         SELECT f, d, c, j, v,
                v - lag(v) OVER (PARTITION BY f, d, c ORDER BY j) AS dv
         FROM samp
       ), pos AS (
         SELECT *, j - row_number()
                     OVER (PARTITION BY f, d, c, (dv > 0) ORDER BY j) AS grp
         FROM derived WHERE j >= 1
       ), islands AS (
         SELECT f, d, c, grp,
                min(CASE WHEN dv > 5 THEN j END) AS a,
                max(j) AS e
         FROM pos WHERE dv > 0
         GROUP BY f, d, c, grp
         HAVING min(CASE WHEN dv > 5 THEN j END) IS NOT NULL
       ), emit AS (
         SELECT f, d, c, a, least(e + 1, 499) AS hi
         FROM islands WHERE e < 499 OR e >= a + 1
       ), ev AS (
         SELECT e.f, e.d, e.c, e.a AS t, max(o.v) AS h
         FROM emit e JOIN derived o
           ON o.f = e.f AND o.d = e.d AND o.c = e.c AND o.j BETWEEN e.a AND e.hi
         GROUP BY e.f, e.d, e.c, e.a, e.hi
       ), msg AS (SELECT f, d, count(*)::INT AS n FROM ev GROUP BY f, d)
       SELECT ev.d::INT AS "digitizerId", ev.f::BIGINT AS frame_number,
              m.n AS n_events, ev.t::BIGINT AS event_time,
              ev.h::INT AS event_voltage, (ev.d*8 + ev.c)::BIGINT AS event_channel
       FROM ev JOIN msg m ON ev.f = m.f AND ev.d = m.d"""

  /** D3/D4 full chain with a DuckDB oracle: the three-phase advanced
    * muon FSM (onset/fall/termination derivative crossings, latest-tie
    * superlative tracking, assembler degradient correction) over the
    * closed-form [[TraceFixtures]] grid, through the W2 smoothing
    * (size 3) and W3 finite-difference windows. With `duration = 0` the
    * sustain latch reduces to "the current mode's condition holds on the
    * current derivative" (the reduction reproduces
    * `advanced_muon_detector.rs:319-408`'s test vector exactly — see
    * DspSpec), so [[traceToEventsAdvancedSql]] re-derives every phase
    * transition with a recursive walk CTE and every superlative /
    * corrected peak with span aggregates. Cross-engine bit-exactness
    * holds because the smoothed means are exact integer sums through one
    * IEEE division and every downstream op is the same IEEE expression
    * tree in both engines. The EWMA baseline (W1) stays OUT of this
    * chain (float-recursive — not expressible cross-engine-exact in
    * SQL); it is locked by DspSpec reference vectors instead.
    */
  def traceToEventsAdvanced(s: SparkSession, dir: String): DataFrame =
    EventFormation
      .formEvents(
        TraceFixtures.arithmeticTraces(s, nFrames = 8, nDigitizers = 4),
        DetectorSettings(
          AdvancedMuon(
            muonOnset = 2.0,
            muonFall = -2.0,
            muonTermination = -0.5,
            duration = 0.0,
            baselineLength = None,
            smoothingWindowSize = Some(3)),
          baseline = 0.0))
      // INNER explode, unlike the threshold chains above: the advanced
      // oracle joins ev↔msg inner, so a message with no pulses has no
      // row there — explode_outer would add a null-event row for it
      // (masked only while the sawtooth fixture pulses on every message)
      .transform(perEventRows(explode))

  /** DuckDB oracle for the advanced chain, served under both of its
    * query names. Regenerates the fixture grid, the smoothed means
    * (`(v[j-2]+v[j-1]+v[j])/3` at centred time `j-1`) and the finite
    * differences, then walks the three-phase FSM with a RECURSIVE CTE:
    * from each phase boundary the next boundary is the first later
    * sample whose derivative satisfies the current mode's threshold (the
    * exact duration=0 semantics — see [[traceToEventsAdvanced]]). Superlatives are span aggregates
    * with LATEST-tie argmax/argmin (`max(k) FILTER (value = extreme)` —
    * the FSM's `>=`/`<=` update rule); the assembler's degradient
    * correction and the saturating u16 cast are replicated verbatim.
    */
  val traceToEventsAdvancedSql: String = advancedChainSql(None)

  /** The advanced-chain oracle, optionally with the P4 amplitude band
    * applied to the degradient-CORRECTED peak double (exactly where the
    * Scala assembler filter compares it — before the saturating u16
    * cast), msg counts over the filtered events.
    */
  private def advancedChainSql(band: Option[(Double, Double)]): String = {
    val bandPredicate = band
      .map { case (lo, hi) => s"WHERE corr >= $lo AND corr <= $hi" }
      .getOrElse("")
    s"""WITH RECURSIVE samp AS (
         SELECT f, d, c, j, CAST(50 + ((f*31 + d*13 + c*7 + j*11) % 400) AS DOUBLE) AS v
         FROM range(8) rf(f), range(4) rd(d), range(8) rc(c), range(500) rj(j)
       ), sm AS (
         SELECT f, d, c, j - 1 AS k,
                (lag(v, 2) OVER w + lag(v, 1) OVER w + v) / 3.0 AS m
         FROM samp WINDOW w AS (PARTITION BY f, d, c ORDER BY j)
         QUALIFY j >= 2
       ), der AS (
         SELECT f, d, c, k, m,
                m - lag(m) OVER (PARTITION BY f, d, c ORDER BY k) AS dm
         FROM sm QUALIFY k >= 2
       ), walk AS (
         SELECT f, d, c, CAST(0 AS BIGINT) AS seq, CAST(1 AS BIGINT) AS k, 0 AS mode
         FROM range(8) rf(f), range(4) rd(d), range(8) rc(c)
         UNION ALL
         SELECT f, d, c, seq + 1, nk, (mode + 1) % 3 FROM (
           SELECT w.f, w.d, w.c, w.seq, w.mode,
                  (SELECT min(s.k) FROM der s
                    WHERE s.f = w.f AND s.d = w.d AND s.c = w.c AND s.k > w.k
                      AND ((w.mode = 0 AND s.dm >= 2.0)
                        OR (w.mode = 1 AND s.dm <= -2.0)
                        OR (w.mode = 2 AND s.dm >= -0.5))) AS nk
           FROM walk w) t WHERE nk IS NOT NULL
       ), pulses AS (
         SELECT f, d, c, (seq - 1) // 3 AS pulse,
                max(CASE WHEN (seq - 1) % 3 = 0 THEN k END) AS k1,
                max(CASE WHEN (seq - 1) % 3 = 1 THEN k END) AS k2,
                max(CASE WHEN (seq - 1) % 3 = 2 THEN k END) AS k3
         FROM walk WHERE seq >= 1
         GROUP BY 1, 2, 3, 4 HAVING count(*) = 3
       ), rise AS (
         SELECT p.f, p.d, p.c, p.pulse, p.k1, p.k2, p.k3,
                any_value(s1.m) AS start_val,
                max(s.m) AS peak_val, max(s.dm) AS sr_max
         FROM pulses p
         JOIN der s1 ON s1.f = p.f AND s1.d = p.d AND s1.c = p.c AND s1.k = p.k1
         JOIN der s ON s.f = p.f AND s.d = p.d AND s.c = p.c
                   AND s.k BETWEEN p.k1 AND p.k2
         GROUP BY p.f, p.d, p.c, p.pulse, p.k1, p.k2, p.k3
       ), rise2 AS (
         SELECT r.f, r.d, r.c, r.pulse, r.k1, r.k2, r.k3,
                r.start_val, r.peak_val,
                max(s.k) FILTER (s.m = r.peak_val) AS t_p,
                max(s.k) FILTER (s.dm = r.sr_max) AS t_sr
         FROM rise r
         JOIN der s ON s.f = r.f AND s.d = r.d AND s.c = r.c
                   AND s.k BETWEEN r.k1 AND r.k2
         GROUP BY r.f, r.d, r.c, r.pulse, r.k1, r.k2, r.k3, r.start_val, r.peak_val
       ), fall AS (
         SELECT r.f, r.d, r.c, r.pulse, r.k1, r.k2, r.k3,
                r.start_val, r.peak_val, r.t_p, r.t_sr,
                min(s.m) AS nadir_val
         FROM rise2 r
         JOIN der s ON s.f = r.f AND s.d = r.d AND s.c = r.c
                   AND s.k BETWEEN r.k2 AND r.k3
         GROUP BY r.f, r.d, r.c, r.pulse, r.k1, r.k2, r.k3,
                  r.start_val, r.peak_val, r.t_p, r.t_sr
       ), fall2 AS (
         SELECT fl.f, fl.d, fl.c, fl.k1, fl.start_val, fl.peak_val,
                fl.t_p, fl.t_sr,
                max(s.k) FILTER (s.m = fl.nadir_val) AS t_n
         FROM fall fl
         JOIN der s ON s.f = fl.f AND s.d = fl.d AND s.c = fl.c
                   AND s.k BETWEEN fl.k2 AND fl.k3
         GROUP BY fl.f, fl.d, fl.c, fl.k1, fl.start_val, fl.peak_val,
                  fl.t_p, fl.t_sr
       ), ev AS (
         SELECT f, d, c, CAST(t_sr AS BIGINT) AS t,
                CAST(trunc(least(greatest(corr, 0.0), 65535.0)) AS INT) AS h
         FROM (SELECT *,
                 peak_val - (peak_val - start_val) *
                   (CAST(t_p - k1 AS DOUBLE) / CAST(t_n - k1 AS DOUBLE)) AS corr
               FROM fall2) z
         $bandPredicate
       ), msg AS (SELECT f, d, count(*)::INT AS n FROM ev GROUP BY f, d)
       SELECT e.d::INT AS "digitizerId", e.f::BIGINT AS frame_number,
              m.n AS n_events, e.t AS event_time,
              e.h AS event_voltage, (e.d*8 + e.c)::BIGINT AS event_channel
       FROM ev e JOIN msg m ON e.f = m.f AND e.d = m.d"""
  }

  /** P4 — the amplitude band filter on the assembled advanced-muon
    * pulses (`trace-to-events/src/channels.rs:163-175`): identical chain
    * to [[traceToEventsAdvanced]] with `minAmplitude`/`maxAmplitude`
    * set, so only pulses whose corrected peak lies in [150, 250] survive
    * (the fixture's peaks cluster near 115 with a tail to ~400 — the
    * band rejects ~97% of events and empties 13 of the 32 messages,
    * exercising both the filter and the counts-after-filter surface).
    * First oracle-backed coverage of P4, which DspSpec only locked with
    * reference vectors.
    */
  def traceToEventsBanded(s: SparkSession, dir: String): DataFrame =
    EventFormation
      .formEvents(
        TraceFixtures.arithmeticTraces(s, nFrames = 8, nDigitizers = 4),
        DetectorSettings(
          AdvancedMuon(
            muonOnset = 2.0,
            muonFall = -2.0,
            muonTermination = -0.5,
            duration = 0.0,
            baselineLength = None,
            smoothingWindowSize = Some(3),
            minAmplitude = Some(150.0),
            maxAmplitude = Some(250.0)),
          baseline = 0.0))
      .transform(perEventRows(explode))

  val traceToEventsBandedSql: String = advancedChainSql(Some((150.0, 250.0)))

  /** The arithmetic dev2 fixture shared by [[frameAssembly]],
    * [[streamFrameAssembly]], [[nexusFrameTable]], [[nexusEventTable]]
    * and [[wireRoundtrip]]: 32 frames × 4 digitisers with closed-form
    * event lists (no FSM anywhere in the input path, so a DuckDB oracle
    * regenerates it from `range()` — see [[arithmeticDev2Sql]]).
    * Exercises every assembly rule: veto-flag OR across digitisers,
    * incomplete frames at f%5==0 (digitiser 3 missing), ORDER-SENSITIVE
    * concatenation (position-weighted checksums — a correct set in the
    * wrong order fails the hash), and duplicate-digitiser redeliveries
    * at (f%8==0, d==0) whose payload sorts AFTER the original (+500 on
    * every time, one extra trailing event, same veto flags) — the
    * original must win batch assembly.
    */
  private[queries] def arithmeticDev2Messages: (Seq[EventListMessage], Seq[EventListMessage]) = {
    val base = cfg.startTimestampNs
    def events(f: Int, d: Int): (Array[Long], Array[Int], Array[Long]) = {
      val n = (f * 3 + d * 5) % 7
      (
        Array.tabulate(n)(j => ((f * 97 + d * 31 + j * 13) % 1000).toLong),
        Array.tabulate(n)(j => (f * 53 + d * 17 + j * 11) % 500),
        Array.tabulate(n)(j => (d * 8 + (j % 8)).toLong))
    }
    val originals = for {
      f <- 0 until 32
      d <- 0 until 4
      if !(f % 5 == 0 && d == 3) // incomplete frames
    } yield {
      val m = FrameMetadata(
        timestampNs = base + f.toLong * cfg.frameIntervalNs,
        periodNumber = (f % 4).toLong,
        protonsPerPulse = 4,
        running = true,
        frameNumber = f.toLong,
        vetoFlags = (f * 7 + d) % 16)
      val (t, v, c) = events(f, d)
      EventListMessage(d, m, t, v, c)
    }
    val duplicates = originals
      .filter(m => m.metadata.frameNumber % 8 == 0 && m.digitizerId == 0)
      .map(msg =>
        msg.copy(
          time = msg.time.map(_ + 500L) :+ 1999L,
          voltage = msg.voltage :+ 1,
          channel = msg.channel :+ 7L))
    (originals, duplicates)
  }

  private[queries] def arithmeticDev2(
      s: SparkSession): org.apache.spark.sql.Dataset[EventListMessage] = {
    import s.implicits._
    val (originals, duplicates) = arithmeticDev2Messages
    (originals ++ duplicates).toDS()
  }

  /** Position-weighted array checksum (`sum((i+1) * arr[i])`): makes the
    * driver's order-insensitive row hash sensitive to the ORDER of the
    * assembled SoA arrays — shared by the batch and streaming assembly
    * oracles.
    */
  private[queries] def weightedChecksum(arr: String, elem: String) =
    expr(
      s"aggregate($arr, named_struct('acc', 0L, 'k', 1L), " +
        s"(s, x) -> named_struct('acc', s.acc + s.k * $elem, 'k', s.k + 1L), s -> s.acc)")

  def frameAssembly(s: SparkSession, dir: String): DataFrame = {
    val dev2 = arithmeticDev2(s)
    FrameAssembly
      .assemble(dev2, expected)
      .select(
        col("metadata.frameNumber").as("frame_number"),
        col("metadata.vetoFlags").as("veto_flags"),
        col("complete"),
        array_join(transform(col("digitizersPresent"), _.cast("string")), ",")
          .as("digitizers_present"),
        size(col("time")).as("n_events"),
        weightedChecksum("time", "x").as("time_checksum"),
        weightedChecksum("voltage", "cast(x AS bigint)").as("voltage_checksum"),
        weightedChecksum("channel", "x").as("channel_checksum"))
  }

  /** Shared DuckDB CTE prefix regenerating the [[arithmeticDev2Messages]]
    * ORIGINALS — `msgs(f, d, n)` and the event grid `ev(f, d, j, t, v, c)`
    * — used by every oracle over this fixture, so a fixture change has
    * exactly one SQL mirror.
    */
  private val arithmeticDev2Sql: String =
    """WITH msgs AS (
         SELECT f::INT AS f, d::INT AS d, ((f*3 + d*5) % 7)::INT AS n
         FROM range(32) rf(f), range(4) rd(d)
         WHERE NOT (f % 5 = 0 AND d = 3)
       ), ev AS (
         SELECT f, d, j,
                ((f*97 + d*31 + j*13) % 1000)::BIGINT AS t,
                ((f*53 + d*17 + j*11) % 500)::BIGINT AS v,
                (d*8 + (j % 8))::BIGINT AS c
         FROM msgs, range(7) rj(j) WHERE j < n
       )"""

  /** DuckDB oracle for [[frameAssembly]]: regenerates the winning message
    * set (duplicates excluded by construction — the original sorts first)
    * and re-derives veto OR, presence, completeness, and the
    * position-weighted checksums with the assembled order made explicit
    * as `row_number() OVER (PARTITION BY frame ORDER BY digitiser, j)`.
    */
  val frameAssemblySql: String =
    arithmeticDev2Sql + """, pos AS (
         SELECT f, t, v, c,
                row_number() OVER (PARTITION BY f ORDER BY d, j) AS k
         FROM ev
       ), chk AS (
         SELECT f, sum(k * t)::BIGINT AS time_checksum,
                   sum(k * v)::BIGINT AS voltage_checksum,
                   sum(k * c)::BIGINT AS channel_checksum
         FROM pos GROUP BY f
       ), meta AS (
         SELECT f, bit_or((f*7 + d) % 16)::INT AS veto_flags,
                string_agg(d, ',' ORDER BY d) AS digitizers_present,
                (count(*) = 4) AS complete,
                sum(n)::INT AS n_events
         FROM msgs GROUP BY f
       )
       SELECT m.f::BIGINT AS frame_number, m.veto_flags, m.complete,
              m.digitizers_present, m.n_events,
              coalesce(c.time_checksum, 0) AS time_checksum,
              coalesce(c.voltage_checksum, 0) AS voltage_checksum,
              coalesce(c.channel_checksum, 0) AS channel_checksum
       FROM meta m LEFT JOIN chk c USING (f)"""

  /** Full slice (SURVEY §7.2): assembled frames → run-attached
    * NXevent_data frame table with running `event_index` (A3), on the
    * [[arithmeticDev2]] fixture so DuckDB re-derives run pairing,
    * abort-on-restart capping, strict interval boundaries, and the
    * cumulative event offsets. The run boundaries land EXACTLY on frame
    * 16's timestamp: run_1's abort cap excludes it (`ts < until` strict)
    * and run_2's start excludes it too (`from < ts` strict) — the frame
    * attaches to no run and is dropped, the reference's own no-open-run
    * behavior (`engine.rs:214-238`).
    */
  def nexusFrameTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aev2 = FrameAssembly.assemble(arithmeticDev2(s), expected)
    val base = cfg.startTimestampNs
    val starts = Seq(
      RunStart("run_1", (base - 1000000L) / 1000000L, "muon"),
      RunStart("run_2", (base + 16 * cfg.frameIntervalNs) / 1000000L, "muon")).toDS()
    val stops = Seq(RunStop("run_2", (base + 40 * cfg.frameIntervalNs) / 1000000L)).toDS()
    val runs = RunAssignment.runs(s, starts, stops)
    NexusTables.frameTable(RunAssignment.assignFrames(aev2, runs))
  }

  /** DuckDB oracle for [[nexusFrameTable]]: regenerates the winning
    * message set, re-derives per-frame veto OR / completeness / event
    * counts, applies the run intervals (run_1 aborted at run_2's start;
    * both boundaries strict, so frame 16 at exactly the boundary is
    * dropped), and recomputes `event_index` as the windowed cumulative
    * event count per run. Interval constants are spelled out from the
    * fixture arithmetic: base 1.7e18 ns, frame interval 2e7 ns.
    */
  val nexusFrameTableSql: String =
    arithmeticDev2Sql + """, frames AS (
         SELECT f, 1700000000000000000 + f*20000000 AS ts,
                bit_or((f*7 + d) % 16)::INT AS veto_flags,
                (count(*) = 4) AS frame_complete,
                sum(n)::BIGINT AS n_events
         FROM msgs GROUP BY f
       ), runs(run_name, run_start_ns, until_ns) AS (
         VALUES ('run_1', 1699999999999000000, 1700000000320000000),
                ('run_2', 1700000000320000000, 1700000000800000000)
       ), assigned AS (
         SELECT r.run_name, r.run_start_ns, fr.*
         FROM frames fr JOIN runs r
           ON r.run_start_ns < fr.ts AND fr.ts < r.until_ns
       ), idx AS (
         SELECT *, coalesce(sum(n_events) OVER (
                     PARTITION BY run_name, run_start_ns ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ei
         FROM assigned
       )
       SELECT run_name, run_start_ns::BIGINT AS run_start_ns,
              (ts - run_start_ns)::BIGINT AS event_time_zero,
              ei::BIGINT AS event_index,
              (f % 4)::BIGINT AS period_number, f::BIGINT AS frame_number,
              frame_complete, TRUE AS running, veto_flags
       FROM idx"""

  /** K3/S2 wire codec on the query surface: the [[arithmeticDev2Messages]]
    * originals encode to FlatBuffers dev2 buffers
    * ([[graft.schemas.WireCodecs]], hand-rolled from the public wire
    * spec), pass the identifier check, decode back, and aggregate to
    * per-message event stats — the DuckDB oracle re-derives every value
    * (including the GpsTime-codec'd frame timestamp) from `range()`, so
    * a single wrong byte anywhere in the encode/decode path flips the
    * hash. Both hops are narrow maps: at 100 TB this is the same
    * per-partition decode loop the Kafka consumer stage runs.
    */
  def wireRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (originals, _) = arithmeticDev2Messages
    s.createDataset(originals)
      .map(m => graft.schemas.WireCodecs.encodeDev2(m))
      .map { bytes =>
        require(graft.schemas.WireCodecs.hasIdentifier(bytes, "dev2"))
        graft.schemas.WireCodecs.decodeDev2(bytes)
      }
      .toDF()
      .select(
        col("digitizerId").as("digitizer_id"),
        col("metadata.frameNumber").as("frame_number"),
        col("metadata.timestampNs").as("ts_ns"),
        col("metadata.periodNumber").as("period_number"),
        col("metadata.vetoFlags").as("veto_flags"),
        size(col("time")).as("n_events"),
        weightedChecksum("time", "x").as("time_checksum"),
        weightedChecksum("voltage", "cast(x AS bigint)").as("voltage_checksum"),
        weightedChecksum("channel", "x").as("channel_checksum"))
  }

  /** DuckDB oracle for [[wireRoundtrip]]: the fixture's per-message
    * metadata and position-weighted event checksums, straight from the
    * closed forms.
    */
  val wireRoundtripSql: String =
    arithmeticDev2Sql + """, chk AS (
         SELECT f, d, sum((j+1) * t)::BIGINT AS tc,
                      sum((j+1) * v)::BIGINT AS vc,
                      sum((j+1) * c)::BIGINT AS cc
         FROM ev GROUP BY f, d
       )
       SELECT d AS digitizer_id, f::BIGINT AS frame_number,
              (1700000000000000000 + f*20000000)::BIGINT AS ts_ns,
              (f % 4)::BIGINT AS period_number,
              ((f*7 + d) % 16)::INT AS veto_flags,
              n AS n_events,
              coalesce(tc, 0) AS time_checksum,
              coalesce(vc, 0) AS voltage_checksum,
              coalesce(cc, 0) AS channel_checksum
       FROM msgs LEFT JOIN chk USING (f, d)"""

  /** pl72 file-writer contract over the wire (K3/S5 + J5 feed): eight
    * RunStart messages carrying the FULL reference field set —
    * `nexus_structure` JSON, `job_id`, `filename`, `control_topic`, and
    * the embedded df12 detector-spectrum map
    * (`ecs_pl72_run_start.fbs:14-31`, `ecs_df12_det_spec_map.fbs:6-10`) —
    * encode to wire buffers, decode executor-side, and explode into the
    * per-detector mapping rows the nexus-writer hands to Mantid. The
    * DuckDB oracle regenerates every column (including a value extracted
    * from the opaque JSON pass-through) from `range()`, so one wrong byte
    * in the nested-table codec flips the hash.
    */
  def wireRunStart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.schemas.{SpectraDetectorMap, WireCodecs}
    val buffers = (0 until 8).map { i =>
      val nDet = 4 + i
      WireCodecs.encodePl72(RunStart(
        runName = s"run_$i",
        startTimeMs = 1700000000000L + i * 60000L,
        instrumentName = "MUSR",
        nPeriods = (i % 4) + 1L,
        nexusStructure = s"""{"run":$i,"children":[{"name":"entry","type":"group"}]}""",
        jobId = s"job-$i",
        filename = s"run_$i.nxs",
        controlTopic = "MUSR_runInfo",
        detectorSpectrumMap = Some(SpectraDetectorMap(
          spectrum = (0 until nDet).map(d => 1000 + i * 32 + d),
          detectorId = (0 until nDet).map(d => i * 8 + d),
          nSpectra = nDet))))
    }
    s.createDataset(buffers)
      .map { bytes =>
        require(WireCodecs.hasIdentifier(bytes, "pl72"))
        WireCodecs.decodePl72(bytes)
      }
      .flatMap { rs =>
        val sm = rs.detectorSpectrumMap.get
        sm.mappings.map(m =>
          (rs.runName, rs.startTimeMs, rs.nPeriods, rs.jobId, rs.filename,
            rs.controlTopic, rs.nexusStructure, sm.nSpectra, m.spectrum, m.detectorId))
      }
      .toDF("run_name", "start_time_ms", "n_periods", "job_id", "filename",
        "control_topic", "nexus_structure", "n_spectra", "spectrum", "detector_id")
      .withColumn("json_run", get_json_object(col("nexus_structure"), "$.run").cast("bigint"))
      .drop("nexus_structure")
  }

  /** DuckDB oracle for [[wireRunStart]]: the closed-form field grid. */
  val wireRunStartSql: String =
    """SELECT 'run_' || i AS run_name,
              (1700000000000 + i*60000)::BIGINT AS start_time_ms,
              ((i % 4) + 1)::BIGINT AS n_periods,
              'job-' || i AS job_id,
              'run_' || i || '.nxs' AS filename,
              'MUSR_runInfo' AS control_topic,
              (4 + i)::INT AS n_spectra,
              (1000 + i*32 + d)::INT AS spectrum,
              (i*8 + d)::INT AS detector_id,
              i::BIGINT AS json_run
       FROM range(8) r(i), range(12) rd(d) WHERE d < 4 + i"""

  /** End-to-end pipeline throughput unit for the benchmark: 256 messages
    * × 8 channels × 2000 bins (4.1M samples) through detection, assembly,
    * and the NeXus frame table. The timed count forces the whole chain.
    * The dev2 stage carries `observe()` metrics — the Spark rendering of
    * the reference's events-found / message counters (SURVEY §2.6 A6,
    * §2.3 P5; `trace-to-events/src/processing.rs:60-68`): collected
    * map-side with no extra pass or shuffle, surfaced through
    * `QueryExecution.observedMetrics` / `Observation`.
    *
    * Oracled since r10 (VERDICT r9 #3): the trace leg rides the
    * closed-form [[TraceFixtures]] arithmetic grid at the SAME 4.1M
    * sample shape — generated distributed, so the bench still times the
    * chain — and the DuckDB oracle re-derives the full frame table
    * (islands → per-frame counts → running event_index → veto OR)
    * exactly. The free-running NOISE generator stays exercised by
    * q_sim_schedule / q_trace_to_events_advanced*.
    */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val dev2 = EventFormation
      .formEvents(
        TraceFixtures.arithmeticTraces(s, nFrames = 64, nDigitizers = 4, nSamples = 2000),
        DetectorSettings(FixedThreshold(threshold = 100.0), baseline = 50.0))
      .toDF()
      .observe(
        "event_formation",
        count(lit(1)).as("n_messages"),
        sum(size(col("time")).cast("long")).as("n_events"))
      .as(dev2Encoder(s))
    val aev2 = FrameAssembly.assemble(dev2, expected)
    aev2
      .withColumn("run_name", lit("bench_run"))
      .withColumn("run_start_ns", lit(TraceFixtures.BaseNs - 1L))
      .transform(NexusTables.frameTable)
  }

  /** Shared DuckDB oracle body for [[pipelineE2e]] / [[wireE2e]] (the
    * wire hop is a lossless roundtrip, hash-checked by q_wire_roundtrip,
    * so both chains produce the identical frame table): islands over the
    * 64×4×8×2000 arithmetic grid → per-frame event counts → running
    * event_index ordered by frame timestamp → veto flags OR-folded
    * across the four digitisers.
    */
  private def e2eFrameTableSql: String =
    TraceFixtures.islandsSql(nFrames = 64, nDigitizers = 4, nSamples = 2000) + """
       , n AS (SELECT f, count(*) AS n FROM islands GROUP BY f)
       , per AS (SELECT rf.f, coalesce(n.n, 0) AS n
                 FROM range(64) rf(f) LEFT JOIN n ON rf.f = n.f)
       SELECT 'bench_run' AS run_name,
              1699999999999999999::BIGINT AS run_start_ns,
              (f*20000000 + 1)::BIGINT AS event_time_zero,
              CAST(coalesce(sum(n) OVER (ORDER BY f
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS event_index,
              (f % 4)::BIGINT AS period_number,
              f::BIGINT AS frame_number,
              TRUE AS frame_complete,
              TRUE AS running,
              (((f*7)%16) | ((f*7+1)%16) | ((f*7+2)%16) | ((f*7+3)%16))::INT
                AS veto_flags
       FROM per"""

  val pipelineE2eSql: String = e2eFrameTableSql
  val wireE2eSql: String = e2eFrameTableSql

  /** [[pipelineE2e]] with the WIRE CODEC in the hot path (VERDICT r4 #7):
    * the generated dat2 traces are encoded to FlatBuffers buffers and
    * ingested back through the identifier-routing decoder before
    * detection/assembly/frame-table — the exact chain a broker-fed
    * deployment runs per record. Both codec hops are narrow maps, so the
    * benchmark delta between q_wire_e2e and q_pipeline_e2e isolates the
    * per-record encode+decode cost on 4.1M samples. Oracled since r10
    * (VERDICT r9 #3): runs on the same closed-form arithmetic grid as
    * [[pipelineE2e]] — the wire hop is lossless (q_wire_roundtrip
    * byte-exact), so the same frame-table oracle applies.
    */
  def wireE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wire = TraceFixtures
      .arithmeticTraces(s, nFrames = 64, nDigitizers = 4, nSamples = 2000)
      .map(graft.schemas.WireCodecs.encodeDat2)
    val traces = graft.streaming.WireIngest.dat2FromBinary(wire)
    val dev2 = EventFormation.formEvents(
      traces, DetectorSettings(FixedThreshold(threshold = 100.0), baseline = 50.0))
    FrameAssembly
      .assemble(dev2, expected)
      .withColumn("run_name", lit("bench_run"))
      .withColumn("run_start_ns", lit(TraceFixtures.BaseNs - 1L))
      .transform(NexusTables.frameTable)
  }

  /** J3 directly on the query surface: run-stop pairing + abort-on-
    * restart over a closed-form control schedule that exercises every
    * rule at once — latest-generation stop pairing on a reused name,
    * earliest-stop-wins when a name gets two stops, a stop BEFORE its
    * start rejected (strict pairing), a stop with no matching start
    * dropped, the global cross-name abort cap (one active run per
    * instrument, the reference's single-writer model), and an open
    * final run (null collect_until). The DuckDB oracle re-derives the
    * intervals with the same declarative rules over VALUES.
    */
  def runIntervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 1700000000000L
    val starts = Seq(
      RunStart("alpha", B, "muon"),
      RunStart("beta", B + 10000L, "muon"),
      RunStart("alpha", B + 20000L, "muon"), // reused name: new generation
      RunStart("gamma", B + 30000L, "muon"),
      RunStart("delta", B + 40000L, "muon")).toDS()
    val stops = Seq(
      RunStop("beta", B + 15000L),
      RunStop("beta", B + 17000L), // second stop: earliest wins
      RunStop("alpha", B + 25000L), // pairs with generation 2, never gen 1
      RunStop("gamma", B + 5000L), // precedes gamma's start: rejected
      RunStop("epsilon", B + 99000L)).toDS() // no such run: dropped
    RunAssignment.runs(s, starts, stops)
  }

  /** DuckDB oracle for [[runIntervals]]. */
  val runIntervalsSql: String =
    """WITH starts(run_name, start_ms) AS (
         VALUES ('alpha', 1700000000000), ('beta', 1700000010000),
                ('alpha', 1700000020000), ('gamma', 1700000030000),
                ('delta', 1700000040000)
       ), stops(run_name, stop_ms) AS (
         VALUES ('beta', 1700000015000), ('beta', 1700000017000),
                ('alpha', 1700000025000), ('gamma', 1700000005000),
                ('epsilon', 1700000099000)
       ), paired AS (
         -- each stop pairs with the LATEST same-name start strictly
         -- before it; each start closes at its EARLIEST paired stop
         SELECT run_name, start_ms, min(stop_ms) AS stop_ms
         FROM (
           SELECT s.run_name, s.stop_ms, max(t.start_ms) AS start_ms
           FROM stops s JOIN starts t
             ON t.run_name = s.run_name AND s.stop_ms > t.start_ms
           GROUP BY s.run_name, s.stop_ms)
         GROUP BY run_name, start_ms
       ), iv AS (
         SELECT t.run_name, t.start_ms, p.stop_ms,
                lead(t.start_ms) OVER (ORDER BY t.start_ms) AS next_ms
         FROM starts t LEFT JOIN paired p
           ON p.run_name = t.run_name AND p.start_ms = t.start_ms
       )
       SELECT run_name, 'muon' AS instrument_name, 1::BIGINT AS n_periods,
              (start_ms * 1000000)::BIGINT AS collect_from_ns,
              (CASE WHEN stop_ms IS NOT NULL AND next_ms IS NOT NULL
                    THEN least(stop_ms, next_ms)
                    ELSE coalesce(stop_ms, next_ms) END * 1000000)::BIGINT
                AS collect_until_ns
       FROM iv"""

  /** S6 through the `spark.read` surface: a deterministic binary trace
    * file (written once to the JVM temp dir, atomic move) scanned via
    * the DataSource V2 connector — split planning from the header,
    * column pruning into the record reads — then reduced to per-file
    * stats. Rows-only check; the byte-level semantics are locked by
    * TraceFileSpec.
    */
  def traceFileScan(s: SparkSession, dir: String): DataFrame = {
    // fixture shape — also the cache key: changing any of these renames
    // the file, so a stale cache from an older build can't be read
    val (nEvents, nChannels, nSamples) = (64, 4, 500)
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_trace_scan_${nEvents}x${nChannels}x${nSamples}_v1.gtf")
    def headerMatches: Boolean =
      try {
        val h = graft.sources.TraceFile.readHeader(path.toString)
        h.nEvents == nEvents && h.nChannels == nChannels && h.nSamples == nSamples
      } catch { case _: Throwable => false } // foreign/corrupt file → rewrite
    if (!java.nio.file.Files.exists(path) || !headerMatches) {
      val tmp = java.nio.file.Files.createTempFile("graft_trace_scan", ".part")
      val events = (0 until nEvents).map { i =>
        val ts = 1700000000000000000L + i.toLong * 20000000L
        (ts, Array.tabulate(nChannels)(c =>
          Array.tabulate(nSamples)(j => 50 + ((i * 31 + c * 7 + j * 13) % 400))))
      }
      graft.sources.TraceFile.write(tmp.toString, sampleTimeNs = 1.0, events = events)
      java.nio.file.Files.move(
        tmp,
        path,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    s.read
      .format("trace-file")
      .load(path.toString)
      .agg(
        count(lit(1)).as("n_events"),
        min(col("timestamp_ns")).as("first_ts_ns"),
        max(col("timestamp_ns")).as("last_ts_ns"),
        max(col("sample_rate")).as("sample_rate"),
        sum(expr(
          "aggregate(channels, 0L, (acc, c) -> acc + aggregate(c.voltage, 0L, (a, v) -> a + v))"))
          .as("total_voltage"))
  }

  /** DuckDB oracle for [[traceFileScan]]: the fixture is closed-form
    * (64 events × 4 channels × 500 samples, voltage
    * `50 + ((i*31 + c*7 + j*13) % 400)`), so every aggregate the
    * connector read must produce — count, timestamp extrema, sample
    * rate (`round(1e9 / sampleTimeNs)` with sampleTimeNs = 1.0), and
    * the full voltage sum — is re-derived from `range()`. This
    * hash-checks the DSv2 byte path end-to-end: header decode, split
    * planning, record layout, and the u16 sample reads.
    */
  val traceFileScanSql: String =
    """SELECT 64::BIGINT AS n_events,
              1700000000000000000::BIGINT AS first_ts_ns,
              (1700000000000000000 + 63*20000000)::BIGINT AS last_ts_ns,
              1000000000::BIGINT AS sample_rate,
              (SELECT sum(50 + ((i*31 + c*7 + j*13) % 400))
               FROM range(64) ri(i), range(4) rc(c), range(500) rj(j))::BIGINT
                AS total_voltage"""

  /** S6 write side — the DSv2 round trip: a closed-form event grid is
    * written through `df.write.format("trace-file")` (distributed: 4
    * range partitions, each task streaming its slice into one `.gtf`
    * via the incremental writer, driver commit renaming the temps) and
    * read back through the connector. Per-event position-weighted
    * checksums make any byte-level slip — wrong stride, wrong channel
    * order, truncated sample, mis-patched event count — fail the hash
    * against the `range()`-re-derived oracle.
    */
  def traceFileRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // per-application directory: two concurrent sessions running the
    // query must not interleave their commits on one path (re-runs
    // WITHIN a session reuse the dir via overwrite, which is the point —
    // the second bench pass exercises truncate)
    val out = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_trace_roundtrip_${s.sparkContext.applicationId}")
    val grid = s
      .range(0, 64)
      .select(
        (lit(1700000000000000000L) + col("id") * 20000000L).as("timestamp_ns"),
        lit(1000000000L).as("sample_rate"),
        expr("""transform(sequence(0, 3), c -> named_struct(
                 'channel', cast(c as bigint),
                 'voltage', transform(sequence(0, 249),
                   j -> cast(50 + ((id*37 + c*11 + j*17) % 400) as int))))""")
          .as("channels"))
    grid
      .repartitionByRange(4, col("timestamp_ns"))
      .sortWithinPartitions("timestamp_ns")
      .write
      .format("trace-file")
      .mode("overwrite")
      .save(out.toString)
    s.read
      .format("trace-file")
      .load(out.toString)
      .select(
        col("timestamp_ns"),
        expr("""aggregate(channels, 0L, (acc, ch) -> acc +
                 aggregate(zip_with(ch.voltage, sequence(0, size(ch.voltage) - 1),
                   (v, j) -> cast(v as bigint) * ((ch.channel + 1) * 1000 + j)),
                   0L, (a, x) -> a + x))""").as("checksum"))
  }

  /** DuckDB oracle for [[traceFileRoundtrip]] — the grid re-derived from
    * `range()` with the same position weights.
    */
  val traceFileRoundtripSql: String =
    """SELECT (1700000000000000000 + i*20000000)::BIGINT AS timestamp_ns,
              (SELECT sum((50 + ((i*37 + c*11 + j*17) % 400)) * ((c+1)*1000 + j))
               FROM range(4) rc(c), range(250) rj(j))::BIGINT AS checksum
       FROM range(64) ri(i)"""

  /** One row of the flattened compiled-scenario table ([[simSchedule]]):
    * `stream` discriminates which compiled stream the row came from, and
    * the shared columns carry that stream's fields (control: t_ns =
    * timeMs·10⁶ with the stop-NOW 0 marker preserved, msg = instrument,
    * extra = ingest ms; runlog/selog: num = value/timeDelta, arr_sum =
    * Σ(i+1)·valueᵢ position-weighted checksum, extra = channel; alarm:
    * kind = severity, msg = message; frame: num = protons, arr_sum =
    * period, extra = veto flags, kind = running|paused).
    */
  final case class SimScheduleRow(
      stream: String,
      seq: Long,
      t_ns: Long,
      name: String,
      kind: String,
      msg: Option[String],
      num: Option[Double],
      arr_sum: Option[Double],
      extra: Option[Long])

  /** S7 scripted simulation on the query surface, ORACLE-BACKED: a
    * scenario touching EVERY [[graft.sources.ActionSchedule.Action]] kind
    * (run start/stop + stop-NOW, run log, sample-env log, alarm, all four
    * metadata mutations, two frame loops, waits, comment) is compiled and
    * its five message streams flattened into one discriminated table.
    * The schedule walk is a pure fold over a virtual clock, so the DuckDB
    * oracle regenerates every row literally — frame loops via `range()` —
    * the q_wire_runstart treatment. The distributed trace RENDERING of
    * the frame specs (EWMA noise — not SQL-replicable) stays locked by
    * ActionScheduleSpec's generator bit-identity property and exercised
    * end-to-end by q_pipeline_e2e.
    */
  def simSchedule(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ActionSchedule
    import graft.sources.ActionSchedule._
    import s.implicits._
    val simCfg = GeneratorConfig(nFrames = 16, nDigitizers = 4)
    val scenario = Seq(
      Comment("oracle scenario: every action kind, deterministic clock"),
      SendRunStart("run_sim"),
      WaitMs(1),
      SendRunLog("temp_a", "f64", 1.5),
      FrameLoop(nFrames = 8, digitizers = 0 until 4),
      SendSampleEnv("pressure", 3, Array(1.0, 2.0, 3.0), 16.0, "Middle"),
      SetPeriod(1L),
      SetVetoFlags(2),
      SetProtonsPerPulse(8),
      SetRunning(false),
      SendAlarm("hv_psu", "HIGH", "overvoltage"),
      FrameLoop(nFrames = 8, digitizers = 0 until 4),
      WaitMs(2),
      SendRunLog("temp_a", "f64_array", 0.0, Array(0.5, 1.5, 2.5)),
      SendSampleEnv("pressure", 3, Array(4.0, 5.0), 0.0, "End"),
      SendRunStop("run_sim"),
      SendRunStart("run_sim_2"),
      WaitMs(1),
      SendRunStop("run_sim_2", stopNow = true))
    val cp = ActionSchedule.compile(scenario, simCfg)
    // position-weighted checksum: values are exactly-representable halves,
    // so the sum is exact in both engines regardless of addition order
    def wsum(a: Array[Double]): Option[Double] =
      if (a.isEmpty) None
      else Some(a.iterator.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum)
    val rows =
      cp.control.zipWithIndex.map { case (m, i) =>
        SimScheduleRow("control", i.toLong, m.timeMs * 1000000L, m.runName,
          m.kind, Some(m.instrumentName).filter(_.nonEmpty), None, None,
          Some(m.ingestTimeMs))
      } ++
        cp.runlog.zipWithIndex.map { case (m, i) =>
          SimScheduleRow("runlog", i.toLong, m.timestampNs, m.sourceName,
            m.valueType, None, Some(m.value), wsum(m.arrayValue), None)
        } ++
        cp.selog.map { m =>
          SimScheduleRow("selog", m.messageCounter, m.packetTimestampNs,
            m.name, m.timestampLocation, None, Some(m.timeDelta),
            wsum(m.values), Some(m.channel.toLong))
        } ++
        cp.alarms.zipWithIndex.map { case (m, i) =>
          SimScheduleRow("alarm", i.toLong, m.timestampNs, m.sourceName,
            m.severity, Some(m.message), None, None, None)
        } ++
        cp.frameSpecs.zipWithIndex.map { case (fs, i) =>
          SimScheduleRow("frame", i.toLong, fs.timestampNs,
            s"dig_${fs.digitizerId}",
            if (fs.running) "running" else "paused", None,
            Some(fs.protonsPerPulse.toDouble), Some(fs.periodNumber.toDouble),
            Some(fs.vetoFlags.toLong))
        }
    rows.toDS().toDF()
  }

  /** DuckDB oracle for [[simSchedule]]: the scenario's clock walked by
    * hand — scalar rows as literals, the two frame loops as `range()`
    * cross products (first loop starts at 1.7e18 + 1 ms, second at
    * + 161 ms after eight 20 ms frames; the mutations between the loops
    * flip period/protons/running/veto for the second block only).
    */
  val simScheduleSql: String =
    """SELECT * FROM (VALUES
         ('control', 0::BIGINT, 1700000000000000000::BIGINT, 'run_sim', 'start', 'muon', NULL::DOUBLE, NULL::DOUBLE, 0::BIGINT),
         ('control', 1, 1700000000323000000, 'run_sim', 'stop', NULL, NULL, NULL, 0),
         ('control', 2, 1700000000323000000, 'run_sim_2', 'start', 'muon', NULL, NULL, 0),
         ('control', 3, 0, 'run_sim_2', 'stop', NULL, NULL, NULL, 1700000000324),
         ('runlog', 0, 1700000000001000000, 'temp_a', 'f64', NULL, 1.5, NULL, NULL),
         ('runlog', 1, 1700000000323000000, 'temp_a', 'f64_array', NULL, 0.0, 11.0, NULL),
         ('selog', 1, 1700000000161000000, 'pressure', 'Middle', NULL, 16.0, 14.0, 3),
         ('selog', 2, 1700000000323000000, 'pressure', 'End', NULL, 0.0, 14.0, 3),
         ('alarm', 0, 1700000000161000000, 'hv_psu', 'HIGH', 'overvoltage', NULL, NULL, NULL)
       ) t(stream, seq, t_ns, name, kind, msg, num, arr_sum, extra)
       UNION ALL
       SELECT 'frame', f*4 + d, 1700000000001000000 + f*20000000,
              'dig_' || d, 'running', NULL, 4.0, 0.0, 0
       FROM range(8) rf(f), range(4) rd(d)
       UNION ALL
       SELECT 'frame', 32 + f*4 + d, 1700000000161000000 + f*20000000,
              'dig_' || d, 'paused', NULL, 8.0, 1.0, 2
       FROM range(8) rf(f), range(4) rd(d)"""

  /** Per-event NXevent_data table on the [[arithmeticDev2]] fixture: one
    * open run covers every frame, so the oracle is the fixture's event
    * multiset with run columns attached — duplicate redeliveries must NOT
    * leak extra events through assembly.
    */
  def nexusEventTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aev2 = FrameAssembly.assemble(arithmeticDev2(s), expected)
    val starts = Seq(RunStart("run_1", (cfg.startTimestampNs - 1000000L) / 1000000L, "muon")).toDS()
    val stops = Seq.empty[RunStop].toDS()
    val runs = RunAssignment.runs(s, starts, stops)
    NexusTables.eventTable(RunAssignment.assignFrames(aev2, runs))
  }

  /** DuckDB oracle for [[nexusEventTable]]: the fixture's winning event
    * multiset (duplicates excluded by construction) with the single open
    * run's identity attached.
    */
  val nexusEventTableSql: String =
    arithmeticDev2Sql + """
       SELECT 'run_1' AS run_name,
              1699999999999000000::BIGINT AS run_start_ns,
              (1700000000000000000 + f*20000000)::BIGINT AS frame_ts_ns,
              v::DOUBLE AS pulse_height, c::BIGINT AS event_id,
              t::BIGINT AS event_time_offset
       FROM ev"""
}
