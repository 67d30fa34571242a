package graft.queries

import graft.Reuse
import graft.Tables
import graft.dsp.DetectorKernels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Quantize.q6

/** Signal-processing operators lifted onto the harness tables, so the
  * detector FSMs get an independently-checkable oracle: with duration=1 and
  * cool_off=0 the fixed-threshold discriminator
  * (`/root/reference/trace-to-events/src/pulse_detection/detectors/threshold_detector.rs:44-118`)
  * is equivalent to a gaps-and-islands SQL query — each maximal run of
  * samples above threshold emits (start, max) if it is closed by a later
  * sample, or if it reaches end-of-trace with ≥ 2 samples (the `finish()`
  * flush needs the latch sample at crossing+1).
  */
/** Row shape for the per-user value series ([[SignalQueries.thresholdEvents]]).
  * Top-level so the Catalyst-generated deserializer can reach it.
  */
case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)

object SignalQueries {

  /** Treat each user's value series (ordered by ts, event_id) as a trace
    * and run the fixed-threshold FSM over it. Scale: one shuffle on the
    * group key; per-key state is bounded by trace length (the reference's
    * per-channel model), so this distributes exactly like the trace
    * pipeline — no driver-side collection.
    */
  def thresholdEvents(s: SparkSession, dir: String, threshold: Double = 150.0): DataFrame = {
    import s.implicits._
    implicit val tsOrdering: Ordering[java.sql.Timestamp] =
      (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid: Long, it: Iterator[Ev]) =>
        val trace = it.toArray.sortBy(e => (e.ts, e.event_id))
        val out = Seq.newBuilder[(Long, java.sql.Timestamp, Double)]
        DetectorKernels.threshold(
          trace.map(_.value), dt = 1.0, sign = 1.0, baseline = 0.0,
          thresholdV = threshold, duration = 1, coolOff = 0) { (t, h) =>
          out += ((uid, trace(t.toInt).ts, h))
        }
        out.result()
      }
      .toDF("user_id", "event_time", "pulse_height")
  }

  /** The D2 differential-threshold FSM
    * (`pulse_detection/detectors/differential_threshold_detector.rs:46-130`)
    * over each user's value series: derivative dv = v − lag(v) (the W3
    * finite-difference warm-up drops each trace's first sample), arm on
    * the first dv > threshold of a positive-derivative run, disarm at the
    * first dv ≤ 0, emit (arm time, max value from arm through the
    * disarming sample). At duration=1 / cool_off=0 this is gaps-and-
    * islands over dv > 0 — independently recomputable in SQL, giving D2
    * the same oracle treatment as D1.
    */
  def thresholdEventsDifferential(
      s: SparkSession,
      dir: String,
      threshold: Double = 120.0): DataFrame = {
    import s.implicits._
    implicit val tsOrdering: Ordering[java.sql.Timestamp] =
      (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid: Long, it: Iterator[Ev]) =>
        val trace = it.toArray.sortBy(e => (e.ts, e.event_id))
        val out = Seq.newBuilder[(Long, java.sql.Timestamp, Double)]
        DetectorKernels.differential(
          trace.map(_.value), dt = 1.0, sign = 1.0, baseline = 0.0,
          thresholdV = threshold, duration = 1, coolOff = 0, constantMultiple = None) { (t, h) =>
          out += ((uid, trace(t.toInt).ts, h))
        }
        out.result()
      }
      .toDF("user_id", "event_time", "pulse_height")
  }

  /** Gaps-and-islands oracle for [[thresholdEventsDifferential]]: islands
    * of dv > 0 containing an arming sample (dv > threshold); the
    * disarming sample's value participates in the pulse height; an
    * island reaching end-of-trace emits only if ≥ 1 sample followed the
    * arm (the duration latch).
    */
  val thresholdEventsDifferentialSql: String =
    """WITH ordered AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events
       ), derived AS (
         SELECT user_id, ts, value, rn,
                value - lag(value) OVER (PARTITION BY user_id ORDER BY rn) AS dv,
                max(rn) OVER (PARTITION BY user_id) AS max_rn
         FROM ordered
       ), pos AS (
         SELECT *, rn - row_number()
                     OVER (PARTITION BY user_id, (dv > 0.0) ORDER BY rn) AS grp
         FROM derived WHERE rn >= 2
       ), islands AS (
         SELECT user_id, grp,
                min(CASE WHEN dv > 120.0 THEN rn END) AS a,
                max(rn) AS e, max(max_rn) AS max_rn
         FROM pos WHERE dv > 0.0
         GROUP BY user_id, grp
         HAVING min(CASE WHEN dv > 120.0 THEN rn END) IS NOT NULL
       ), emit AS (
         SELECT user_id, a, least(e + 1, max_rn) AS hi
         FROM islands WHERE e < max_rn OR e >= a + 1
       )
       SELECT e.user_id,
              min(CASE WHEN o.rn = e.a THEN o.ts END) AS event_time,
              max(o.value) AS pulse_height
       FROM emit e JOIN derived o
         ON o.user_id = e.user_id AND o.rn BETWEEN e.a AND e.hi
       GROUP BY e.user_id, e.a, e.hi"""

  /** Gaps-and-islands oracle for [[thresholdEvents]] at duration=1,
    * cool_off=0 (see scaladoc above for the end-of-trace rule).
    */
  val thresholdEventsSql: String =
    """WITH ordered AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n_rows
         FROM events
       ), flagged AS (
         SELECT *, rn - row_number()
                     OVER (PARTITION BY user_id, (value > 150.0) ORDER BY rn) AS grp
         FROM ordered
       ), islands AS (
         SELECT user_id, min(ts) AS event_time, max(value) AS pulse_height,
                count(*) AS n, max(rn) AS last_rn, max(n_rows) AS n_rows
         FROM flagged WHERE value > 150.0
         GROUP BY user_id, grp
       )
       SELECT user_id, event_time, pulse_height FROM islands
       WHERE last_rn < n_rows OR n >= 2"""

  /** CUSUM change-point detection over each event type's daily-mean
    * series: S_i = Σ_{j≤i} (x_j − μ) with μ the series mean; the change
    * point is the day maximizing |S_i| (earliest on ties) — the classic
    * Page/Pettitt-style level-shift locator a monitoring pipeline runs
    * over telemetry to ask "when did this metric's regime change?".
    *
    * Cross-engine exactness: daily means and μ are ROUNDED constants, the
    * per-type series is collected in day order, and every cumulative sum
    * is an explicit left fold over that ordered array — both engines
    * compute bit-identical S_i (the sorted-fold discipline), so argmax
    * and tie-break are exact, no tolerance anywhere.
    *
    * Scale: one (type, day) aggregation (map-side combined), then the
    * fold runs per type over an array bounded by the calendar (365
    * entries/year — O(n²) slices at n=31 is microseconds). The full
    * corpus is never windowed or re-sorted; only the tiny daily series
    * moves past the first aggregate.
    */
  /** The day-ordered daily-mean series shared by [[cusumChangepoint]],
    * [[holtForecast]] and [[autocorrelation]]: per (type, day), the mean
    * of `value` via EXACT integer-cents sums — a plain `avg()` of
    * 2-decimal values can land exactly ON a 5e-7 rounding boundary and
    * round differently per engine sum order (observed for
    * [[RelationalQueries.userFeatures]] at sf0.01); cents/(100·n) is one
    * deterministic correctly-rounded division on both engines. ONE
    * definition here and ONE SQL mirror ([[dailySeriesCte]]) so the three
    * consumers cannot drift.
    */
  private def dailySeries(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(
        sum(round(col("value") * 100).cast("long")).as("cents"),
        count(lit(1)).as("cnt"))
      .select(
        col("event_type"),
        col("day"),
        round(col("cents").cast("double") / (col("cnt").cast("double") * 100.0), 6).as("dm"))

  /** SQL mirror of [[dailySeries]] as a `daily` CTE body. */
  private val dailySeriesCte: String =
    """SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
              round(CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
                    / (CAST(count(*) AS DOUBLE) * 100.0), 6) AS dm
       FROM events GROUP BY 1, 2"""

  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("n", size(col("arr")))
      .withColumn(
        "mu",
        round(expr("aggregate(arr, 0.0D, (a, x) -> a + x.dm) / n"), 6))
      .withColumn(
        "cabs",
        expr("""transform(sequence(1, n),
                  i -> abs(aggregate(slice(arr, 1, i), 0.0D, (a, x) -> a + (x.dm - mu))))"""))
      .withColumn("max_dev", expr("array_max(cabs)"))
      .withColumn(
        "idx",
        expr("array_min(filter(sequence(1, n), i -> element_at(cabs, i) = max_dev))"))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        expr("element_at(arr, idx).day").as("change_day"),
        col("mu").as("baseline_mean"),
        round(col("max_dev"), 6).as("max_cusum"))
  }

  /** Holt double-exponential smoothing (α = β = 0.5) over each event
    * type's daily-mean series: final level, trend, and the one-step-ahead
    * forecast — the trend-aware baseline a capacity/monitoring pipeline
    * projects tomorrow's load from.
    *
    * Cross-engine exactness to the BIT: the smoothing constants are 0.5
    * (multiplication by a power of two is exact IEEE), the inputs are the
    * same rounded daily means as [[cusumChangepoint]], and the recurrence
    * is an explicit left fold in day order with the IDENTICAL expression
    * tree on both engines (Spark `aggregate` with a struct accumulator;
    * DuckDB a recursive-CTE walk) — so level/trend agree bitwise and the
    * `round(_, 6)` on output is belt-and-braces, not a tolerance.
    *
    * Scale: identical shape to [[cusumChangepoint]] — one map-side
    * combined (type, day) aggregate, then a calendar-bounded fold per
    * type. Nothing corpus-sized is sorted or windowed.
    */
  def holtForecast(s: SparkSession, dir: String): DataFrame = {
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      .withColumn(
        "state",
        // get() (0-based) not element_at: a 1-day series must yield a
        // NULL trend like DuckDB's out-of-bounds list index, not an
        // ANSI error
        expr("""aggregate(slice(dms, 2, n - 1),
                  named_struct('l', get(dms, 0),
                               'b', get(dms, 1) - get(dms, 0)),
                  (acc, x) -> named_struct(
                    'l', 0.5D * x + 0.5D * (acc.l + acc.b),
                    'b', 0.5D * ((0.5D * x + 0.5D * (acc.l + acc.b)) - acc.l) + 0.5D * acc.b))"""))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        round(expr("state.l"), 6).as("level"),
        round(expr("state.b"), 6).as("trend"),
        round(expr("state.l + state.b"), 6).as("forecast_next"))
  }

  val holtForecastSql: String =
    s"""WITH RECURSIVE daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       walk(event_type, t, l, b) AS (
         SELECT event_type, 1, dms[1], dms[2] - dms[1] FROM per
         UNION ALL
         SELECT w.event_type, w.t + 1,
                0.5 * p.dms[w.t + 1] + 0.5 * (w.l + w.b),
                0.5 * ((0.5 * p.dms[w.t + 1] + 0.5 * (w.l + w.b)) - w.l) + 0.5 * w.b
         FROM walk w JOIN per p ON w.event_type = p.event_type
         WHERE w.t < p.n)
       SELECT w.event_type, p.n AS n_days,
              round(w.l, 6) AS level, round(w.b, 6) AS trend,
              round(w.l + w.b, 6) AS forecast_next
       FROM walk w JOIN per p ON w.event_type = p.event_type AND w.t = p.n"""

  /** 1-D Kalman filter (random-walk state, Q = 0.25, R = 2.0) over each
    * event type's daily-mean series: the final filtered level, its
    * posterior variance, and the steady-state gain — the optimal
    * noise-adaptive smoother a monitoring pipeline runs where EWMA's
    * fixed α under- or over-trusts the data.
    *
    * Cross-engine exactness: same recipe as [[holtForecast]] — the
    * recurrence (predict P+Q, gain K = Pp/(Pp+R), update) is an ordered
    * left fold in day order with the IDENTICAL expression tree on both
    * engines, seeded x₁ = first observation, P₁ = 1; identical IEEE
    * inputs + identical op order ⇒ bitwise-equal state, and the output
    * rounding is belt-and-braces. Scale: one map-side combined
    * (type, day) aggregate, then a calendar-bounded fold per type.
    */
  def kalmanFilter(s: SparkSession, dir: String): DataFrame = {
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      .withColumn(
        "state",
        expr("""aggregate(slice(dms, 2, n - 1),
                  named_struct('x', get(dms, 0), 'p', 1.0D),
                  (acc, z) -> named_struct(
                    'x', acc.x + ((acc.p + 0.25D) / (acc.p + 0.25D + 2.0D)) * (z - acc.x),
                    'p', (1.0D - (acc.p + 0.25D) / (acc.p + 0.25D + 2.0D)) * (acc.p + 0.25D)))"""))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        round(expr("state.x"), 6).as("xhat"),
        round(expr("state.p"), 9).as("p_var"),
        round(expr("(state.p + 0.25D) / (state.p + 0.25D + 2.0D)"), 9).as("gain"))
  }

  val kalmanFilterSql: String =
    s"""WITH RECURSIVE daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       walk(event_type, t, x, p) AS (
         -- CAST: a bare 1.0 is DECIMAL in DuckDB and would drag the whole
         -- variance recursion into fixed-point arithmetic
         SELECT event_type, 1, dms[1], CAST(1.0 AS DOUBLE) FROM per
         UNION ALL
         SELECT w.event_type, w.t + 1,
                w.x + ((w.p + 0.25) / (w.p + 0.25 + 2.0)) * (q.dms[w.t + 1] - w.x),
                (1.0 - (w.p + 0.25) / (w.p + 0.25 + 2.0)) * (w.p + 0.25)
         FROM walk w JOIN per q ON w.event_type = q.event_type
         WHERE w.t < q.n)
       SELECT w.event_type, p.n AS n_days,
              round(w.x, 6) AS xhat, round(w.p, 9) AS p_var,
              round((w.p + 0.25) / (w.p + 0.25 + 2.0), 9) AS gain
       FROM walk w JOIN per p ON w.event_type = p.event_type AND w.t = p.n"""

  /** Sample autocorrelation (lags 1–7) of each event type's daily-mean
    * series: ρ_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)² — the periodicity
    * detector behind seasonality-aware monitoring (a weekly-cycled
    * metric shows ρ₇ ≫ ρ₁..₆; a level shift inflates every lag).
    *
    * Exactness and scale: identical recipe to [[cusumChangepoint]] /
    * [[holtForecast]] — rounded daily means, a rounded μ, and ordered
    * folds with identical term trees on both engines, over
    * calendar-bounded arrays; the corpus is aggregated once. The lag
    * explode multiplies the tiny per-type row, not the data.
    */
  def autocorrelation(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      // a 1-day series has no lags: without this guard Spark's
      // sequence(1, 0) counts DOWN ([1, 0]) and would emit bogus rows
      // where the DuckDB range(1, 1) is empty
      .filter(col("n") > 1)
      .withColumn("mu", round(expr("aggregate(dms, 0.0D, (a, x) -> a + x) / n"), 6))
      .withColumn(
        "den",
        expr("aggregate(dms, 0.0D, (a, x) -> a + (x - mu) * (x - mu))"))
      .withColumn("lag", explode(sequence(lit(1), least(lit(maxLag), col("n") - 1))))
      .withColumn(
        "num",
        expr("""aggregate(sequence(1, n - lag), 0.0D,
                  (a, t) -> a + (get(dms, t - 1) - mu) * (get(dms, t + lag - 1) - mu))"""))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        col("lag").cast("long").as("lag"),
        round(col("num") / col("den"), 6).as("acf"))
  }

  def autocorrelationSql(maxLag: Int = 7): String =
    s"""WITH daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       m AS (
         SELECT event_type, dms, n,
                round(list_reduce(list_prepend(0.0, dms), (a, b) -> a + b) / n, 6) AS mu
         FROM per),
       d AS (
         SELECT event_type, dms, n, mu,
                list_reduce(list_prepend(0.0, [(x - mu) * (x - mu) FOR x IN dms]),
                            (a, b) -> a + b) AS den
         FROM m),
       lags AS (
         SELECT event_type, dms, n, mu, den, lag
         FROM d, LATERAL (SELECT unnest(range(1, least($maxLag, n - 1) + 1)) AS lag))
       SELECT event_type, n AS n_days, lag,
              round(list_reduce(list_prepend(0.0,
                      [(dms[t] - mu) * (dms[t + lag] - mu) FOR t IN range(1, n - lag + 1)]),
                    (a, b) -> a + b) / den, 6) AS acf
       FROM lags"""

  val cusumChangepointSql: String =
    s"""WITH daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type,
                list(day ORDER BY day) AS days,
                list(dm ORDER BY day) AS dms,
                count(*) AS n
         FROM daily GROUP BY 1),
       folded AS (
         SELECT event_type, days, n,
                round(list_reduce(list_prepend(0.0, dms), (a, b) -> a + b) / n, 6) AS mu,
                dms
         FROM per),
       cus AS (
         SELECT event_type, days, n, mu,
                [abs(list_reduce(list_prepend(0.0, dms[1:i]),
                                 (a, b) -> a + (b - mu))) FOR i IN range(1, n + 1)] AS cabs
         FROM folded)
       SELECT event_type,
              n AS n_days,
              days[list_min([i FOR i IN range(1, n + 1) IF cabs[i] = list_max(cabs)])] AS change_day,
              mu AS baseline_mean,
              round(list_max(cabs), 6) AS max_cusum
       FROM cus"""

  // --------------------------------------------------------------------
  // q_pelt — exact PELT multiple-changepoint segmentation
  // --------------------------------------------------------------------

  /** PELT multiple-changepoint segmentation (Killick et al. 2012) of
    * each event type's daily COUNT series: the globally optimal
    * partition under the within-segment SSE cost with a scale-adaptive
    * per-changepoint penalty, one row per resulting segment. The
    * multi-changepoint upgrade of [[cusumChangepoint]] (which finds the
    * single largest mean shift): this one recovers every shift at once,
    * with the O(T²) worst case pruned to near-linear by the PELT
    * candidate-set recurrence — kernel in [[graft.plans.PeltSegments]],
    * exact scaled-BIGINT cost DP, smallest-argmin tie-break.
    *
    * The DuckDB oracle replays the FULL O(T²) dynamic program (no
    * pruning) in a recursive CTE over the identical integer costs —
    * PELT's pruning is provably lossless, so the two must agree
    * bit-for-bit; segment sums/means then read off the same series.
    *
    * Scale: one map-side-combined (type, day) count aggregate, one
    * bounded per-type day-axis assembly (the calendar bounds T at 365
    * per year regardless of corpus size), decode fused into the
    * projection. Only the tiny daily series crosses the second shuffle.
    */
  /** Dense zero-filled daily COUNT series per event type:
    * (event_type, d0, t, ys) with ys(i) = events on day d0+i. Shared by
    * [[pelt]] and [[pettitt]] — ONE definition and ONE SQL mirror
    * ([[dailyCountSeriesCtes]]) so the changepoint family cannot drift.
    */
  private def dailyCountSeries(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(
        col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(
        min(col("day")).as("d0"),
        (datediff(max(col("day")), min(col("day"))) + 1).as("t"),
        collect_list(struct(col("day"), col("cnt"))).as("arr"))
      // dense zero-filled day axis: offsets map then sequence fill
      .withColumn(
        "m",
        expr("map_from_entries(transform(arr, x -> struct(datediff(x.day, d0), x.cnt)))"))
      .withColumn("ys", expr("transform(sequence(0, t - 1), i -> coalesce(element_at(m, i), 0L))"))
      .select(col("event_type"), col("d0"), col("t"), col("ys"))

  /** SQL mirror of [[dailyCountSeries]]: CTE bodies ending in
    * `ser(event_type, d0, t, ys)`.
    */
  private val dailyCountSeriesCtes: String =
    """daysc AS (
         SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       ser0 AS (
         SELECT event_type, min(day) AS d0,
                CAST(date_diff('day', min(day), max(day)) AS INT) + 1 AS t
         FROM daysc GROUP BY 1),
       dense AS (
         SELECT s.event_type, s.d0, s.t, gs.o, COALESCE(d.cnt, 0) AS y
         FROM ser0 s
         CROSS JOIN unnest(generate_series(0, s.t - 1)) gs(o)
         LEFT JOIN daysc d
           ON d.event_type = s.event_type
          AND CAST(date_diff('day', s.d0, d.day) AS INT) = gs.o),
       ser AS (
         SELECT event_type, any_value(d0) AS d0, any_value(t) AS t,
                list(y ORDER BY o) AS ys
         FROM dense GROUP BY 1)"""

  def pelt(s: SparkSession, dir: String): DataFrame = {
    graft.plans.PeltSegments.register(s, "pelt_cps", PeltPenaltyMult)
    dailyCountSeries(s, dir)
      .withColumn("cps", expr("pelt_cps(ys)"))
      .withColumn("b", expr("concat(array(0L), cps, array(cast(t as bigint)))"))
      .select(
        col("event_type"),
        col("d0"),
        col("ys"),
        explode(expr(
          """transform(sequence(1, size(b) - 1),
                       i -> struct(cast(i as bigint) as seg_idx,
                                   element_at(b, i) as lo,
                                   element_at(b, i + 1) as hi))""")).as("g"))
      .select(
        col("event_type"),
        col("g.seg_idx"),
        date_add(col("d0"), col("g.lo").cast("int")).as("start_day"),
        date_add(col("d0"), (col("g.hi") - 1).cast("int")).as("end_day"),
        (col("g.hi") - col("g.lo")).as("seg_len"),
        expr("aggregate(slice(ys, cast(g.lo + 1 as int), cast(g.hi - g.lo as int)), 0L, (a, x) -> a + x)")
          .as("seg_events"))
      .withColumn(
        "seg_mean",
        // q6 domain (Quantize): the operand is a per-day MEAN event
        // count — saturation would need ≥ 9.2e12 events per type-day
        q6(col("seg_events").cast("double") / col("seg_len").cast("double")))
  }

  /** Penalty multiplier for [[pelt]]: β = (1 + Mult·mean_level)·SCALE.
    * For a Poisson-like count series σ² ≈ mean, so Mult·mean is an
    * AIC-flavored ≈ 2σ² penalty — strong enough to suppress white-noise
    * splits (expected saving ≈ 2σ²·χ²₁/2) while recovering the
    * fixture's real weekly rate blocks (Mon-Tue runs ~25% above the
    * rest; measured 3-8 segments per type at both SFs). The BIC-flavored
    * Mult = 8 (2·ln 30·σ²) was measured too conservative for the
    * per-type signal dilution: it returns one segment everywhere.
    */
  private val PeltPenaltyMult = 2L

  val peltSql: String = {
    val S = graft.plans.PeltSegments.Scale
    val M = PeltPenaltyMult
    // scaled integer cost of segment (s, e] given prefix lists cm/cq
    // (1-based with the 0 prefix at index 1); identical arithmetic to
    // PeltSegments.cost — `//` floors, operands non-negative
    def cost(sV: String, eV: String): String =
      s"""((cq[($eV) + 1] - cq[($sV) + 1]) * $S
          - ((cm[($eV) + 1] - cm[($sV) + 1]) * (cm[($eV) + 1] - cm[($sV) + 1]) * $S)
            // (($eV) - ($sV)))"""
    s"""WITH RECURSIVE $dailyCountSeriesCtes,
       pre AS (
         SELECT event_type, d0, t, ys,
                list_prepend(CAST(0 AS BIGINT),
                  [CAST(list_sum(ys[1:i]) AS BIGINT) FOR i IN range(1, t + 1)]) AS cm,
                list_prepend(CAST(0 AS BIGINT),
                  [CAST(list_sum(list_transform(ys[1:i], v -> v * v)) AS BIGINT)
                   FOR i IN range(1, t + 1)]) AS cq
         FROM ser),
       pen AS (
         SELECT *, (1 + $M * (cm[t + 1] // t)) * $S AS penq FROM pre),
       dp AS (
         SELECT event_type, d0, t, ys, cm, cq, penq, 0 AS e,
                [CAST(-penq AS BIGINT)] AS f,
                CAST([] AS BIGINT[]) AS am
         FROM pen
         UNION ALL
         SELECT event_type, d0, t, ys, cm, cq, penq, e + 1,
                list_append(f, list_min(cands)),
                list_append(am, CAST(list_position(cands, list_min(cands)) AS BIGINT) - 1)
         FROM (
           SELECT *,
                  list_transform(range(0, e + 1),
                    s -> f[s + 1] + ${cost("s", "e + 1")} + penq) AS cands
           FROM dp WHERE e < t) step),
       fin AS (SELECT event_type, d0, t, ys, am FROM dp WHERE e = t),
       bt AS (
         SELECT event_type, d0, t, ys, am, CAST(t AS BIGINT) AS j,
                CAST([] AS BIGINT[]) AS cps
         FROM fin
         UNION ALL
         SELECT event_type, d0, t, ys, am, am[CAST(j AS INT)],
                CASE WHEN am[CAST(j AS INT)] > 0
                     THEN list_prepend(am[CAST(j AS INT)], cps) ELSE cps END
         FROM bt WHERE j > 0),
       segs AS (
         SELECT event_type, d0, t, ys,
                list_concat(list_prepend(CAST(0 AS BIGINT), cps),
                            [CAST(t AS BIGINT)]) AS b
         FROM bt WHERE j = 0)
       SELECT event_type, CAST(i AS BIGINT) AS seg_idx,
              d0 + CAST(b[i] AS INT) AS start_day,
              d0 + CAST(b[i + 1] - 1 AS INT) AS end_day,
              CAST(b[i + 1] - b[i] AS BIGINT) AS seg_len,
              CAST(list_sum(ys[CAST(b[i] + 1 AS INT):CAST(b[i + 1] AS INT)]) AS BIGINT)
                AS seg_events,
              floor(CAST(list_sum(ys[CAST(b[i] + 1 AS INT):CAST(b[i + 1] AS INT)]) AS DOUBLE)
                    / CAST(b[i + 1] - b[i] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS seg_mean
       FROM segs, unnest(generate_series(1, len(b) - 1)) g(i)"""
  }

  // --------------------------------------------------------------------
  // q_pettitt — nonparametric single-changepoint test
  // --------------------------------------------------------------------

  /** Pettitt test (Pettitt 1979) per event type over the same dense
    * daily count series as [[pelt]]: U_t = Σ_{i≤t} Σ_{j>t} sgn(y_i−y_j)
    * for every split t, K = max|U_t| with the SMALLEST argmax as the
    * change day, and the standard approximation
    * p ≈ min(1, 2·exp(−6K²/(T³+T²))). The rank-based complement to
    * PELT's parametric SSE segmentation: distribution-free, so a heavy
    * tail can't buy a spurious changepoint. U_t is a pure integer
    * pairwise sgn sum — exact in both engines; only the final p pays a
    * quantized exp.
    *
    * Scale: identical shape to [[pelt]] — one map-side-combined
    * (type, day) count aggregate, then the O(T²) pair sums fold over a
    * calendar-bounded array inside the projection.
    */
  def pettitt(s: SparkSession, dir: String): DataFrame = {
    val sgn =
      """CASE WHEN element_at(ys, i) > element_at(ys, j) THEN 1L
              WHEN element_at(ys, i) < element_at(ys, j) THEN -1L
              ELSE 0L END"""
    dailyCountSeries(s, dir)
      // t >= 2, guarded IDENTICALLY in the oracle: a single-day series
      // has no split to test, and Spark's step-less sequence(1, t - 1)
      // would count DOWN to [1, 0] at t = 1 (the EvalQueries.scala:57
      // footgun) and error under ANSI where DuckDB's empty range(1, 1)
      // silently yields a NULL row — filter, don't diverge
      .filter(col("t") >= 2)
      .withColumn(
        "us",
        expr(
          s"""transform(sequence(1, t - 1), tt ->
                aggregate(sequence(1, tt), 0L, (a, i) ->
                  a + aggregate(sequence(tt + 1, t), 0L, (b, j) -> b + ($sgn))))"""))
      .withColumn("k_stat", expr("array_max(transform(us, u -> abs(u)))"))
      .withColumn(
        "t_star",
        expr("array_min(filter(sequence(1, t - 1), i -> abs(element_at(us, i)) = k_stat))"))
      .withColumn(
        "u_sign",
        expr("""cast(CASE WHEN element_at(us, t_star) > 0 THEN 1
                          WHEN element_at(us, t_star) < 0 THEN -1
                          ELSE 0 END AS BIGINT)"""))
      .withColumn(
        "p_value",
        expr(
          """floor(least(1.0D, 2.0D * exp(-6.0D * cast(k_stat AS DOUBLE) * cast(k_stat AS DOUBLE)
                / (cast(t AS DOUBLE) * cast(t AS DOUBLE) * cast(t AS DOUBLE)
                   + cast(t AS DOUBLE) * cast(t AS DOUBLE)))) * 1e6 + 0.5) / 1e6"""))
      .select(
        col("event_type"),
        col("t").cast("long").as("n_days"),
        date_add(col("d0"), (col("t_star") - 1).cast("int")).as("change_day"),
        col("u_sign"),
        col("k_stat"),
        col("p_value"))
  }

  val pettittSql: String = {
    val sgn = "(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END)"
    s"""WITH $dailyCountSeriesCtes,
       us AS (
         SELECT event_type, d0, t, ys,
                [CAST(list_sum(flatten(
                   [[${sgn.replace("d ", "(ys[i] - ys[j]) ")}
                     FOR j IN range(tt + 1, t + 1)]
                    FOR i IN range(1, tt + 1)])) AS BIGINT)
                 FOR tt IN range(1, t)] AS us
         FROM ser WHERE t >= 2),
       kk AS (
         SELECT event_type, d0, t, us,
                list_max(list_transform(us, u -> abs(u))) AS k_stat
         FROM us),
       ts AS (
         SELECT event_type, d0, t, us, k_stat,
                list_min([i FOR i IN range(1, t) IF abs(us[i]) = k_stat]) AS t_star
         FROM kk)
       SELECT event_type, CAST(t AS BIGINT) AS n_days,
              d0 + CAST(t_star - 1 AS INT) AS change_day,
              CAST(CASE WHEN us[t_star] > 0 THEN 1 WHEN us[t_star] < 0 THEN -1 ELSE 0 END
                   AS BIGINT) AS u_sign,
              CAST(k_stat AS BIGINT) AS k_stat,
              floor(least(1.0, 2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE)
                    / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                       + CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))) * 1e6 + 0.5) / 1e6 AS p_value
       FROM ts"""
  }

  /** Incremental view maintenance: per-type stats are computed as two
    * independent PARTIAL states — a "base" snapshot (events before the
    * split day) and a "delta" batch (events on/after it) — then MERGED,
    * exactly how an incremental rollup avoids rescanning history when a
    * new partition lands. The oracle recomputes from the full table, so
    * the gate proves merge(base, delta) ≡ recompute.
    *
    * Every mergeable state is exact-integer (counts, cents, cents²) or
    * order-free (min/max), so the merge is bit-deterministic; derived
    * floats (mean, sample variance) are computed once from the merged
    * integers with an identical expression tree in both engines. At
    * 100 TB only the delta partition is scanned per refresh — history
    * stays materialised as its partial state.
    */
  def incrementalAgg(
      s: SparkSession,
      dir: String,
      splitDay: String = "2024-01-16"): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("cents")).as("sum_cents"),
          sum(col("cents") * col("cents")).as("sumsq_cents"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
    val base = partial(ev.filter(col("ts") < to_timestamp(lit(splitDay))))
    val delta = partial(ev.filter(col("ts") >= to_timestamp(lit(splitDay))))
    base
      .unionByName(delta)
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"),
        sum(col("sumsq_cents")).as("sumsq_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .select(
        col("event_type"),
        col("n_events"),
        round(
          col("sum_cents").cast("double") / (col("n_events").cast("double") * 100.0),
          6).as("mean_value"),
        round(
          (col("sumsq_cents").cast("double")
            - col("sum_cents").cast("double") * col("sum_cents").cast("double")
              / col("n_events").cast("double"))
            / ((col("n_events") - 1).cast("double") * 10000.0),
          6).as("var_value"),
        round(col("min_cents").cast("double") / 100.0, 6).as("min_value"),
        round(col("max_cents").cast("double") / 100.0, 6).as("max_value"))
  }

  def incrementalAggSql(splitDay: String = "2024-01-16"): String =
    // the oracle is the FULL recompute — no split — proving the
    // base+delta merge reproduces it exactly
    s"""WITH ev AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
         FROM events),
       agg AS (
         SELECT event_type,
                count(*) AS n_events,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(sum(cents * cents) AS BIGINT) AS sumsq_cents,
                min(cents) AS min_cents,
                max(cents) AS max_cents
         FROM ev GROUP BY 1)
       SELECT event_type, n_events,
              round(CAST(sum_cents AS DOUBLE) / (CAST(n_events AS DOUBLE) * 100.0), 6)
                AS mean_value,
              round((CAST(sumsq_cents AS DOUBLE)
                     - CAST(sum_cents AS DOUBLE) * CAST(sum_cents AS DOUBLE)
                       / CAST(n_events AS DOUBLE))
                    / (CAST(n_events - 1 AS DOUBLE) * 10000.0), 6) AS var_value,
              round(CAST(min_cents AS DOUBLE) / 100.0, 6) AS min_value,
              round(CAST(max_cents AS DOUBLE) / 100.0, 6) AS max_value
       FROM agg"""

  /** Hour-of-day seasonality profile per event type: each (type, hour)
    * cell's share of the type's events and its lift over a uniform
    * 1/24 baseline — the diurnal-shape detector behind traffic
    * forecasting and anomaly baselining.
    *
    * Oracle parity: counts are exact; share/lift are single divisions of
    * exact integers (identical expression tree both engines). Scale: ONE
    * shuffle on the bounded (type × 24) key space with map-side partial
    * agg; the per-type totals join is a broadcast of |types| rows.
    */
  def seasonalProfile(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val totals = cells
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_type"))
    cells
      .join(broadcast(totals), "event_type")
      .select(
        col("event_type"),
        col("hour_of_day"),
        col("n"),
        round(col("n").cast("double") / col("n_type").cast("double"), 6).as("share"),
        round(
          col("n").cast("double") * 24.0 / col("n_type").cast("double"),
          6).as("lift"),
        round(col("cents").cast("double") / (col("n").cast("double") * 100.0), 6)
          .as("mean_value"))
  }

  /** Classical additive seasonal decomposition of each event type's
    * daily revenue series: trend = centered 7-day moving average,
    * seasonal = per-weekday mean deviation from trend, residual = the
    * rest. The trend/seasonality/anomaly split behind capacity
    * forecasting and regression detection.
    *
    * Oracle parity: the detrended series is kept as the EXACT integer
    * `7·cents − Σ₇cents` (value scaled by 7·100), so the weekday means
    * are exact-integer sums divided once — no float reduction anywhere;
    * trend/seasonal/residual are single divisions of exact integers
    * with identical trees. Edge days (incomplete 7-row window) carry
    * NULL trend/residual and are excluded from the seasonal fit, same
    * rule both engines.
    *
    * Scale: ONE shuffle to the (type, day) aggregate; the windows run
    * per type over DAY-granularity rows (calendar-bounded, thousands of
    * rows per type at any corpus size); weekday indices broadcast back.
    */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = Reuse.pin(
      Tables
        .events(s, dir)
        .groupBy(
          col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents")))
    val w7 = Window
      .partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("sum7", sum(col("cents")).over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .withColumn(
        "d_int",
        when(col("cnt7") === 7, col("cents") * 7 - col("sum7")))
    val seasonal = trended
      .filter(col("d_int").isNotNull)
      .groupBy(col("event_type"), dayofweek(col("day")).cast("long").as("wd"))
      .agg(sum(col("d_int")).as("sd"), count(lit(1)).as("k"))
    trended
      .alias("t")
      .join(
        broadcast(seasonal.alias("sf")),
        col("t.event_type") === col("sf.event_type")
          && dayofweek(col("t.day")).cast("long") === col("sf.wd"),
        "left")
      .select(
        col("t.event_type").as("event_type"),
        col("t.day").as("day"),
        round(col("cents").cast("double") / 100.0, 6).as("value"),
        round(when(col("cnt7") === 7, col("sum7").cast("double") / 700.0), 6)
          .as("trend"),
        round(col("sd").cast("double") / (lit(700.0) * col("k").cast("double")), 6)
          .as("seasonal"),
        round(
          col("d_int").cast("double") / 700.0
            - col("sd").cast("double") / (lit(700.0) * col("k").cast("double")),
          6).as("residual"))
  }

  val seasonalDecomposeSql: String =
    """WITH daily AS (
         SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY 1, 2),
       trended AS (
         SELECT *,
                CAST(sum(cents) OVER w AS BIGINT) AS sum7,
                count(*) OVER w AS cnt7,
                CASE WHEN count(*) OVER w = 7
                     THEN cents * 7 - CAST(sum(cents) OVER w AS BIGINT) END AS d_int
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       seasonal AS (
         SELECT event_type, CAST(dayofweek(day) + 1 AS BIGINT) AS wd,
                CAST(sum(d_int) AS BIGINT) AS sd, count(*) AS k
         FROM trended WHERE d_int IS NOT NULL GROUP BY 1, 2)
       SELECT t.event_type, t.day,
              round(CAST(t.cents AS DOUBLE) / 100.0, 6) AS value,
              round(CASE WHEN t.cnt7 = 7
                         THEN CAST(t.sum7 AS DOUBLE) / 700.0 END, 6) AS trend,
              round(CAST(s.sd AS DOUBLE) / (700.0 * CAST(s.k AS DOUBLE)), 6)
                AS seasonal,
              round(CAST(t.d_int AS DOUBLE) / 700.0
                    - CAST(s.sd AS DOUBLE) / (700.0 * CAST(s.k AS DOUBLE)), 6)
                AS residual
       FROM trended t
       LEFT JOIN seasonal s
         ON t.event_type = s.event_type
        AND CAST(dayofweek(t.day) + 1 AS BIGINT) = s.wd"""

  val seasonalProfileSql: String =
    """WITH cells AS (
         SELECT event_type,
                CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour_of_day,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY 1, 2),
       totals AS (
         SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
         FROM cells GROUP BY 1)
       SELECT c.event_type, c.hour_of_day, c.n,
              round(CAST(c.n AS DOUBLE) / CAST(t.n_type AS DOUBLE), 6) AS share,
              round(CAST(c.n AS DOUBLE) * 24.0 / CAST(t.n_type AS DOUBLE), 6) AS lift,
              round(CAST(c.cents AS DOUBLE) / (CAST(c.n AS DOUBLE) * 100.0), 6)
                AS mean_value
       FROM cells c JOIN totals t USING (event_type)"""

  /** FFT window length for [[powerSpectrum]] (power of two; 64 samples
    * at 1 GS/s = the first 64 ns of each trace).
    */
  val SpectrumWindow = 64

  /** Per-channel power spectrum over the arithmetic trace fixture — the
    * spectral-diagnostics pass (mains pickup, digitiser oscillation) the
    * reference's time-domain detectors do not cover: each (frame,
    * channel) trace's first [[SpectrumWindow]] samples go through the
    * [[graft.dsp.Fft]] radix-2 butterfly; output is the one-sided
    * n²-normalised power per bin.
    *
    * Cross-algorithm, cross-engine verification: the DuckDB oracle
    * computes the O(n²) DFT (explicit Σ v·cos / Σ v·sin per bin) over
    * the same closed-form sample grid — no shared code with the
    * butterfly, different summation order, different trig
    * implementations. The n² normalisation keeps |X|² ≤ ~2·10⁵ with
    * cross-engine float drift ≤ ~1e-9, so the shared round(4) compares
    * exactly.
    *
    * Scale: the FFT is a pure per-row kernel inside one map stage —
    * windows distribute with the traces, O(n log n) each, no shuffle at
    * all until the tiny result projection (PlanAuditSpec-style shape:
    * explode bounded by n/2+1 bins/window).
    */
  def powerSpectrum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = SpectrumWindow
    TraceFixtures
      .arithmeticTraces(s, nFrames = 4, nDigitizers = 2)
      .flatMap { msg =>
        msg.channels.map { ch =>
          val x = ch.voltage.take(n).map(_.toDouble)
          (msg.metadata.frameNumber, ch.channel, graft.dsp.Fft.powerSpectrum(x))
        }
      }
      .toDF("frame_number", "channel", "spec")
      .select(
        col("frame_number"),
        col("channel"),
        posexplode(col("spec")).as(Seq("bin", "p")))
      .select(
        col("frame_number"),
        col("channel"),
        col("bin").cast("long").as("bin"),
        round(col("p"), 4).as("power"))
  }

  /** DuckDB oracle for [[powerSpectrum]]: the naive DFT over the
    * closed-form fixture grid (voltage = 50 + ((f·31 + d·13 + c·7 +
    * j·11) mod 400), channel = d·8 + c).
    */
  val powerSpectrumSql: String = {
    val n = SpectrumWindow
    s"""WITH grid AS (
         SELECT f, d, c, k, j,
                CAST(50 + ((f*31 + d*13 + c*7 + j*11) % 400) AS DOUBLE) AS v
         FROM range(4) rf(f), range(2) rd(d), range(8) rc(c),
              range(${n / 2 + 1}) rk(k), range($n) rj(j)
       ), ft AS (
         SELECT f, d, c, k,
                sum(v * cos(2 * pi() * j * k / $n)) AS re,
                sum(-v * sin(2 * pi() * j * k / $n)) AS im
         FROM grid GROUP BY 1, 2, 3, 4
       )
       SELECT f AS frame_number, d * 8 + c AS channel, k AS bin,
              round((re * re + im * im) / (${n.toDouble} * ${n.toDouble}), 4) AS power
       FROM ft"""
  }

  /** Welch-averaged power spectral density per channel — the noise-floor
    * estimate an operator actually reads (a single periodogram has ~100%
    * variance per bin; averaging the [[powerSpectrum]] periodograms
    * across frames shrinks it by 1/√frames, the Welch/Bartlett method
    * with frame-sized segments). Output per (channel, bin): the mean
    * power across the 4 fixture frames, the min/max envelope, and the
    * channel's dominant non-DC bin flag.
    *
    * Exactness: the per-frame periodograms are the ROUNDED q_power_
    * spectrum values (round 4), so the cross-frame mean is arithmetic on
    * identical inputs in both engines; mean re-rounded to 6. Scale: a
    * keyed partial-agg over (channel, bin) — frames×channels×bins rows
    * in, channels×bins out, the map-side-combine shape.
    */
  def welchPsd(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = powerSpectrum(s, dir)
    val agg = per
      .groupBy(col("channel"), col("bin"))
      .agg(
        round(avg(col("power")), 6).as("mean_power"),
        min(col("power")).as("min_power"),
        max(col("power")).as("max_power"))
    val w = Window.partitionBy(col("channel"))
    agg
      .withColumn(
        "dom",
        max(when(col("bin") =!= 0, col("mean_power"))).over(w))
      .withColumn(
        "is_dominant",
        col("bin") =!= 0 && col("mean_power") === col("dom"))
      .drop("dom")
  }

  /** DuckDB oracle for [[welchPsd]]: the [[powerSpectrumSql]] grid
    * averaged across frames, same envelope and dominant-bin flag.
    */
  val welchPsdSql: String =
    s"""WITH per AS ($powerSpectrumSql),
       agg AS (
         SELECT channel, bin,
                round(avg(power), 6) AS mean_power,
                min(power) AS min_power,
                max(power) AS max_power
         FROM per GROUP BY 1, 2
       )
       SELECT channel, bin, mean_power, min_power, max_power,
              bin <> 0 AND mean_power = max(CASE WHEN bin <> 0 THEN mean_power END)
                            OVER (PARTITION BY channel) AS is_dominant
       FROM agg"""

  /** Matched-filter window: signal length (first 128 samples) and the
    * Gaussian template (length 16, centre 8, σ² = 4), whose values both
    * engines round to 6 dp BEFORE correlating so the template is
    * bit-identical across exp() implementations.
    */
  val FilterSignal = 128
  val FilterTemplate = 16

  /** Matched-filter pulse search — correlate every trace window with a
    * Gaussian pulse template and report the best-matching offset: the
    * optimal linear detector for a known pulse shape in white noise, the
    * spectral sibling of the reference's time-domain threshold FSMs.
    *
    * The Spark side computes the correlation by the FFT correlation
    * theorem ([[graft.dsp.Fft.crossCorrelate]]: pad → fft → ×conj →
    * ifft, O(N log N)); the DuckDB oracle computes the DIRECT sum
    * `Σⱼ v(t+j)·g(j)` — different algorithm and engine, shared round(4)
    * sized to the ~1e-9 drift. Peak selection (max correlation, earliest
    * offset on ties) happens on the ROUNDED values in both engines, so
    * the comparison is exact.
    *
    * Scale: one map kernel per (frame, channel) window — no shuffle
    * until the 64-row peak projection; at production trace lengths the
    * O(N log N) path wins over direct O(n·m) correlation for any
    * template beyond a few taps, and both stay embarrassingly parallel.
    */
  def matchedFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = FilterTemplate
    val template = Array.tabulate(m) { i =>
      math.round(math.exp(-((i - 8.0) * (i - 8.0)) / 8.0) * 1e6) / 1e6
    }
    TraceFixtures
      .arithmeticTraces(s, nFrames = 4, nDigitizers = 2)
      .flatMap { msg =>
        msg.channels.map { ch =>
          val x = ch.voltage.take(FilterSignal).map(_.toDouble)
          val corr = graft.dsp.Fft
            .crossCorrelate(x, template)
            .map(v => math.round(v * 1e4) / 1e4)
          var best = 0
          var i = 1
          while (i < corr.length) {
            if (corr(i) > corr(best)) best = i
            i += 1
          }
          (msg.metadata.frameNumber, ch.channel, best.toLong, corr(best))
        }
      }
      .toDF("frame_number", "channel", "peak_t", "peak_corr")
  }

  /** DuckDB oracle for [[matchedFilter]]: direct correlation sums over
    * the closed-form fixture grid, peak = max rounded correlation with
    * earliest-offset tie-break.
    */
  val matchedFilterSql: String = {
    val n = FilterSignal
    val m = FilterTemplate
    s"""WITH tmpl AS (
         SELECT i, round(exp(-((i - 8.0) * (i - 8.0)) / 8.0), 6) AS g
         FROM range($m) r(i)
       ), grid AS (
         SELECT f, d, c, j,
                CAST(50 + ((f*31 + d*13 + c*7 + j*11) % 400) AS DOUBLE) AS v
         FROM range(4) rf(f), range(2) rd(d), range(8) rc(c), range($n) rj(j)
       ), corr AS (
         SELECT g2.f, g2.d, g2.c, rt.t, round(sum(g2.v * tmpl.g), 4) AS corr
         FROM range(${n - m + 1}) rt(t)
         CROSS JOIN tmpl
         JOIN grid g2 ON g2.j = rt.t + tmpl.i
         GROUP BY 1, 2, 3, 4
       ), peak AS (
         SELECT f, d, c, max(corr) AS peak_corr FROM corr GROUP BY 1, 2, 3
       )
       SELECT p.f AS frame_number, p.d * 8 + p.c AS channel,
              CAST(min(c2.t) AS BIGINT) AS peak_t, p.peak_corr
       FROM peak p
       JOIN corr c2 ON c2.f = p.f AND c2.d = p.d AND c2.c = p.c AND c2.corr = p.peak_corr
       GROUP BY 1, 2, 4"""
  }

  // --------------------------------------------------------------------
  // q_sax_motifs — SAX symbolization + motif frequency per channel
  // --------------------------------------------------------------------

  /** SAX (Symbolic Aggregate approXimation) motif mining over the trace
    * fixture — the classic time-series-to-text bridge (Lin et al. 2003):
    * z-normalize each trace, PAA-average fixed segments, map each
    * segment mean to an alphabet letter at the Gaussian quartile
    * breakpoints (±0.6745, 0), and count the resulting 4-letter words
    * per channel. Recurring words are the channel's motifs; a word seen
    * in one channel but never in others is an anomaly cue.
    *
    * Tiling: 500 samples → 25 words × (4 segments × 5 samples); the
    * trailing 0-padding-free layout keeps every word fully inside the
    * trace.
    *
    * Float determinism: trace mean/variance come from exact integer
    * sums (`Σv`, `Σv²` < 2⁵³), PAA means from exact 5-sample integer
    * sums — the only double ops are the final (m − mean)/std with the
    * identical expression shape in the oracle, so letter assignment is
    * bit-reproducible across engines.
    *
    * Scale: the whole symbolization is per-row higher-order-function
    * arithmetic inside one codegen'd map stage — zero shuffles until
    * the (channel, word) count, whose key domain is bounded by
    * channels × 4⁴ words.
    */
  def saxMotifs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nSamples = 500
    val seg = 5 // samples per PAA segment
    val wlen = 4 // letters per word
    val nWords = nSamples / (seg * wlen)
    TraceFixtures
      .arithmeticTraces(s, nFrames = 4, nDigitizers = 2)
      .flatMap(msg => msg.channels.map(ch => (ch.channel, ch.voltage)))
      .toDF("channel", "voltage")
      .withColumn("sv", expr("aggregate(voltage, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("svv", expr("aggregate(voltage, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT) * x)"))
      .withColumn("mean", expr(s"sv / $nSamples.0"))
      .withColumn("std", expr(s"sqrt((svv - sv * sv / $nSamples.0) / $nSamples.0)"))
      .select(
        col("channel"),
        posexplode(expr(
          s"""transform(sequence(0, ${nWords - 1}), w ->
                concat_ws('', transform(sequence(0, ${wlen - 1}), g ->
                  CASE
                    WHEN (aggregate(slice(voltage, w * ${seg * wlen} + g * $seg + 1, $seg),
                                    CAST(0 AS BIGINT), (a, x) -> a + x) / $seg.0 - mean) / std
                         < -0.6745 THEN 'a'
                    WHEN (aggregate(slice(voltage, w * ${seg * wlen} + g * $seg + 1, $seg),
                                    CAST(0 AS BIGINT), (a, x) -> a + x) / $seg.0 - mean) / std
                         < 0.0 THEN 'b'
                    WHEN (aggregate(slice(voltage, w * ${seg * wlen} + g * $seg + 1, $seg),
                                    CAST(0 AS BIGINT), (a, x) -> a + x) / $seg.0 - mean) / std
                         < 0.6745 THEN 'c'
                    ELSE 'd'
                  END)))""")).as(Seq("word_pos", "word")))
      .groupBy(col("channel"), col("word"))
      .agg(count(lit(1)).as("n"), min(col("word_pos")).cast("long").as("first_pos"))
  }

  /** DuckDB oracle for [[saxMotifs]]: regenerates the fixture grid with
    * `range()` and re-derives the identical z-norm / PAA / breakpoint
    * arithmetic (same expression shape, so same doubles).
    */
  val saxMotifsSql: String =
    """WITH g AS (
         SELECT f, d, c, j,
                CAST(50 + ((f*31 + d*13 + c*7 + j*11) % 400) AS BIGINT) AS v
         FROM range(4) rf(f), range(2) rd(d), range(8) rc(c), range(500) rj(j)
       ), st AS (
         SELECT f, d, c, sum(v) AS sv, sum(v * v) AS svv
         FROM g GROUP BY 1, 2, 3
       ), seg AS (
         SELECT f, d, c, j // 20 AS w, (j % 20) // 5 AS sg, sum(v) AS segsum
         FROM g GROUP BY 1, 2, 3, 4, 5
       ), lt AS (
         SELECT seg.f, seg.d, seg.c, w, sg,
                CASE
                  WHEN (segsum / 5.0 - sv / 500.0) / sqrt((svv - sv * sv / 500.0) / 500.0)
                       < -0.6745 THEN 'a'
                  WHEN (segsum / 5.0 - sv / 500.0) / sqrt((svv - sv * sv / 500.0) / 500.0)
                       < 0.0 THEN 'b'
                  WHEN (segsum / 5.0 - sv / 500.0) / sqrt((svv - sv * sv / 500.0) / 500.0)
                       < 0.6745 THEN 'c'
                  ELSE 'd'
                END AS l
         FROM seg JOIN st ON seg.f = st.f AND seg.d = st.d AND seg.c = st.c
       ), words AS (
         SELECT f, d, c, w, string_agg(l, '' ORDER BY sg) AS word
         FROM lt GROUP BY 1, 2, 3, 4
       )
       SELECT d * 8 + c AS channel, word, count(*) AS n,
              CAST(min(w) AS BIGINT) AS first_pos
       FROM words GROUP BY 1, 2"""

  // --------------------------------------------------------------------
  // q_holt_winters — triple exponential smoothing (additive, m = 7)
  // --------------------------------------------------------------------

  /** Holt–Winters additive triple smoothing (α = β = γ = 0.5, weekly
    * period m = 7) over each event type's daily-mean series — the
    * seasonality-aware upgrade of [[holtForecast]]: level, trend, AND a
    * 7-slot seasonal profile evolve together, so the one-step forecast
    * projects tomorrow's load including its day-of-week effect.
    * Standard textbook init: l₀ = mean(week 1), b₀ = (mean(week 2) −
    * mean(week 1))/7, s = week 1 deviations from l₀; the fold runs from
    * day 8. Types with under 15 days (two init weeks + one step) are
    * excluded on both engines.
    *
    * Cross-engine exactness: same recipe as [[holtForecast]] — rounded
    * cents daily means, α = 0.5 multiplications (exact IEEE), and one
    * sequential left fold with the identical expression tree (Spark
    * `aggregate` carrying struct(l, b, t, s-array); DuckDB a
    * recursive-CTE walk carrying a LIST) — so every output hashes
    * identically unrounded; round(6) is belt-and-braces.
    *
    * Scale: one map-side combined (type, day) aggregate; the fold walks
    * a calendar-bounded array per type. Nothing corpus-sized is sorted.
    */
  def holtWinters(s: SparkSession, dir: String): DataFrame = {
    val lnew =
      "0.5D * (x - element_at(acc.s, cast((acc.t % 7) + 1 as int))) + 0.5D * (acc.l + acc.b)"
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      .filter(col("n") >= 15)
      .withColumn("l0", expr("aggregate(slice(dms, 1, 7), 0D, (a, x) -> a + x) / 7.0D"))
      .withColumn(
        "b0",
        expr("(aggregate(slice(dms, 8, 7), 0D, (a, x) -> a + x) / 7.0D" +
          " - aggregate(slice(dms, 1, 7), 0D, (a, x) -> a + x) / 7.0D) / 7.0D"))
      .withColumn(
        "state",
        // slot of day t (1-based) is ((t-1) mod 7)+1; acc.t is the PREVIOUS
        // day index, so the processed day's slot is ((acc.t) mod 7)+1.
        // No let-binding in SQL lambdas: l_new repeats inline in b/s with
        // the identical subtree (same bits; DuckDB computes it once via a
        // lateral alias — same value either way).
        expr(s"""aggregate(slice(dms, 8, n - 7),
                  named_struct('l', l0, 'b', b0, 't', 7,
                               's', transform(slice(dms, 1, 7), x -> x - l0)),
                  (acc, x) -> named_struct(
                    'l', $lnew,
                    'b', 0.5D * (($lnew) - acc.l) + 0.5D * acc.b,
                    't', acc.t + 1,
                    's', transform(acc.s, (v, i) ->
                           IF(i = cast(acc.t % 7 as int),
                              0.5D * (x - ($lnew))
                                + 0.5D * element_at(acc.s, cast((acc.t % 7) + 1 as int)),
                              v))))"""))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        round(expr("state.l"), 6).as("level"),
        round(expr("state.b"), 6).as("trend"),
        expr("cast(array_position(state.s, array_max(state.s)) as long)").as("peak_slot"),
        round(
          expr("state.l + state.b + element_at(state.s, cast((n % 7) + 1 as int))"),
          6).as("forecast_next"))
  }

  val holtWintersSql: String = {
    val lnewSql = "0.5 * (p.dms[w.t + 1] - w.s[(w.t % 7) + 1]) + 0.5 * (w.l + w.b)"
    s"""WITH RECURSIVE daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1 HAVING count(*) >= 15),
       init AS (
         SELECT event_type, n,
                list_sum(dms[1:7]) / 7.0 AS l0,
                (list_sum(dms[8:14]) / 7.0 - list_sum(dms[1:7]) / 7.0) / 7.0 AS b0,
                list_transform(dms[1:7], x -> x - list_sum(dms[1:7]) / 7.0) AS s0
         FROM per),
       walk(event_type, t, l, b, s) AS (
         SELECT event_type, 7, l0, b0, s0 FROM init
         UNION ALL
         SELECT w.event_type, w.t + 1,
                $lnewSql,
                0.5 * (($lnewSql) - w.l) + 0.5 * w.b,
                list_transform(w.s, (v, i) ->
                  CASE WHEN i = (w.t % 7) + 1
                       THEN 0.5 * (p.dms[w.t + 1] - ($lnewSql))
                            + 0.5 * w.s[(w.t % 7) + 1]
                       ELSE v END)
         FROM walk w JOIN per p ON w.event_type = p.event_type
         WHERE w.t < p.n)
       SELECT w.event_type, p.n AS n_days,
              round(w.l, 6) AS level, round(w.b, 6) AS trend,
              CAST(list_position(w.s, list_max(w.s)) AS BIGINT) AS peak_slot,
              round(w.l + w.b + w.s[(p.n % 7) + 1], 6) AS forecast_next
       FROM walk w JOIN per p ON w.event_type = p.event_type AND w.t = p.n"""
  }

  // ------------------------------------------------------------------
  // q_ljung_box — portmanteau whiteness test
  // ------------------------------------------------------------------

  /** Ljung–Box portmanteau statistic Q = n(n+2) Σ_{k=1..7} ρ_k²/(n−k)
    * per event type — "is this daily series white noise?", the residual
    * whiteness check run after any forecast fit (χ²₇ under H₀). The ρ
    * vector reuses [[autocorrelation]]'s fold recipe verbatim; the
    * 7-term Q sum folds in lag order on the per-type row.
    *
    * Scale: identical to [[pacf]] — one keyed daily aggregate, then
    * constant-size math.
    */
  def ljungBox(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      .filter(col("n") > maxLag)
      .withColumn("lmax", lit(maxLag))
      .withColumn("mu", round(expr("aggregate(dms, 0.0D, (a, x) -> a + x) / n"), 6))
      .withColumn("den", expr("aggregate(dms, 0.0D, (a, x) -> a + (x - mu) * (x - mu))"))
      .withColumn(
        "rho",
        expr("""transform(sequence(1, lmax), lag ->
                  aggregate(sequence(1, n - lag), 0.0D,
                    (a, t) -> a + (get(dms, t - 1) - mu) * (get(dms, t + lag - 1) - mu))
                  / den)"""))
      .withColumn(
        "q_lb",
        expr("""cast(n as double) * cast(n + 2 as double)
                * aggregate(sequence(1, lmax), 0.0D,
                    (a, k) -> a + element_at(rho, k) * element_at(rho, k)
                              / cast(n - k as double))"""))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        col("lmax").cast("long").as("dof"),
        q6(col("q_lb")).as("q_lb"))
  }

  def ljungBoxSql(maxLag: Int = 7): String =
    s"""WITH daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       m AS (
         SELECT event_type, dms, n,
                round(list_reduce(list_prepend(0.0, dms), (a, b) -> a + b) / n, 6) AS mu
         FROM per WHERE n > $maxLag),
       d AS (
         SELECT event_type, dms, n, mu,
                list_reduce(list_prepend(0.0, [(x - mu) * (x - mu) FOR x IN dms]),
                            (a, b) -> a + b) AS den
         FROM m),
       rhos AS (
         SELECT event_type, n,
                [list_reduce(list_prepend(0.0,
                   [(dms[t] - mu) * (dms[t + lag] - mu) FOR t IN range(1, n - lag + 1)]),
                   (a, b) -> a + b) / den FOR lag IN range(1, $maxLag + 1)] AS rho
         FROM d)
       SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST($maxLag AS BIGINT) AS dof,
              floor(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                    * list_reduce(list_prepend(0.0,
                        [rho[k] * rho[k] / CAST(n - k AS DOUBLE) FOR k IN range(1, $maxLag + 1)]),
                        (a, b) -> a + b) * 1e6 + 0.5) / 1e6 AS q_lb
       FROM rhos"""

  // ------------------------------------------------------------------
  // q_runs_test — Wald–Wolfowitz randomness test
  // ------------------------------------------------------------------

  /** Wald–Wolfowitz runs test per event type: is the daily-mean series
    * randomly ordered around its mean, or does it trend/oscillate?
    * Signs are dm > μ (exact equals dropped), R = 1 + #sign changes
    * (exact integers over the day-ordered array), z against the exact
    * run-count moments, two-sided p from the shared erf polynomial —
    * the sanity check run before fitting any AR structure.
    */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    val zSql =
      """((CAST(r AS DOUBLE) - (2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0))
          / sqrt(2.0 * CAST(n1 * n2 AS DOUBLE)
                 * (2.0 * CAST(n1 * n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE))
                 / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                    * CAST(n1 + n2 - 1 AS DOUBLE))))"""
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      .filter(col("n") > 2)
      .withColumn("mu", round(expr("aggregate(dms, 0.0D, (a, x) -> a + x) / n"), 6))
      .withColumn("sgns", expr("transform(filter(dms, x -> x != mu), x -> IF(x > mu, 1, 0))"))
      .withColumn("n1", expr("size(filter(sgns, x -> x = 1))").cast("long"))
      .withColumn("n2", expr("size(filter(sgns, x -> x = 0))").cast("long"))
      .withColumn(
        "r",
        expr("""1L + aggregate(sequence(2, size(sgns)), 0L,
                  (a, i) -> a + IF(element_at(sgns, i) != element_at(sgns, i - 1), 1L, 0L))"""))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("z", expr(zSql))
      .select(
        col("event_type"), col("n1"), col("n2"), col("r").as("runs"),
        q6(col("z")).as("z"),
        q6(expr(EvalQueries.pValSql("abs(z)"))).as("p"))
  }

  val runsTestSql: String = {
    val z =
      """((CAST(r AS DOUBLE) - (2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0))
          / sqrt(2.0 * CAST(n1 * n2 AS DOUBLE)
                 * (2.0 * CAST(n1 * n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE))
                 / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                    * CAST(n1 + n2 - 1 AS DOUBLE))))"""
    s"""WITH daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       m AS (
         SELECT event_type, dms, n,
                round(list_reduce(list_prepend(0.0, dms), (a, b) -> a + b) / n, 6) AS mu
         FROM per WHERE n > 2),
       sg AS (
         SELECT event_type,
                [CASE WHEN x > mu THEN 1 ELSE 0 END FOR x IN list_filter(dms, x -> x <> mu)]
                  AS sgns
         FROM m),
       cnt AS (
         SELECT event_type,
                CAST(len(list_filter(sgns, x -> x = 1)) AS BIGINT) AS n1,
                CAST(len(list_filter(sgns, x -> x = 0)) AS BIGINT) AS n2,
                1 + CAST(COALESCE(list_sum(list_transform(
                      generate_series(2, CAST(len(sgns) AS INT)),
                      i -> CASE WHEN sgns[i] <> sgns[i - 1] THEN 1 ELSE 0 END)), 0) AS BIGINT)
                  AS r
         FROM sg)
       SELECT event_type, n1, n2, r AS runs,
              floor(($z) * 1e6 + 0.5) / 1e6 AS z,
              floor((${EvalQueries.pValSql(s"abs($z)")}) * 1e6 + 0.5) / 1e6 AS p
       FROM cnt WHERE n1 > 0 AND n2 > 0"""
  }

  // ------------------------------------------------------------------
  // q_page_hinkley — sequential drift detection
  // ------------------------------------------------------------------

  /** Page–Hinkley drift statistic per event type over the daily-mean
    * series: with the running prefix mean x̄_t and slack δ = 0.005,
    * m_t = Σ_{i≤t}(x_i − x̄_i − δ) and PH = max_t (m_t − min_{i≤t} m_i)
    * — the online mean-shift detector (the streaming cousin of
    * [[cusumChangepoint]]'s batch scan), with the day the excursion
    * peaks. All prefix quantities are cumulative windows over the
    * calendar-bounded day axis, evaluated in day order by both engines.
    */
  def pageHinkley(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window
      .partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    val d = dailySeries(s, dir)
      .withColumn("csum", sum(col("dm")).over(wCum))
      .withColumn("cn", count(lit(1)).over(wCum))
      .withColumn("dev", col("dm") - col("csum") / col("cn") - lit(0.005))
      .withColumn("m", sum(col("dev")).over(wCum))
      .withColumn("mn", min(col("m")).over(wCum))
      // q-domain (Quantize): m − mn ≤ Σ|dev| ≤ T·(value scale + drift),
      // calendar-bounded T — orders of magnitude inside the 9.2e9 bound
      .withColumn("ph_t", floor((col("m") - col("mn")) * lit(1e9) + lit(0.5)) / lit(1e9))
      .withColumn("ph", max(col("ph_t")).over(wAll))
    d.filter(col("ph_t") === col("ph"))
      .groupBy(col("event_type"))
      .agg(min(col("day")).as("peak_day"), first(col("ph")).as("ph"))
      .select(
        col("event_type"),
        col("peak_day").cast("date").cast("string").as("peak_day"),
        q6(col("ph")).as("ph"))
  }

  val pageHinkleySql: String =
    s"""WITH daily AS ($dailySeriesCte),
       c AS (
         SELECT event_type, day, dm,
                sum(dm) OVER w AS csum,
                count(*) OVER w AS cn
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       mt AS (
         SELECT event_type, day,
                sum(dm - csum / cn - 0.005) OVER w AS m
         FROM c
         WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       pht AS (
         SELECT event_type, day,
                floor((m - min(m) OVER w) * 1e9 + 0.5) / 1e9 AS ph_t
         FROM mt
         WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       px AS (SELECT *, max(ph_t) OVER (PARTITION BY event_type) AS ph FROM pht)
       SELECT event_type,
              CAST(CAST(min(day) AS DATE) AS VARCHAR) AS peak_day,
              floor(any_value(ph) * 1e6 + 0.5) / 1e6 AS ph
       FROM px WHERE ph_t = ph GROUP BY 1"""

  // ------------------------------------------------------------------
  // q_yule_walker — AR(2) fit from the autocorrelations
  // ------------------------------------------------------------------

  /** Yule–Walker AR(2) coefficients per event type from the first two
    * autocorrelations of the daily-mean series:
    *
    *   φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²),  φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²),
    *   σ²/γ₀ = 1 − φ₁ρ₁ − φ₂ρ₂  (innovation-variance ratio)
    *
    * — the closed-form AR(2) identification step (Box–Jenkins) that
    * [[pacf]]'s cut-off diagnosis feeds. The ρ values reuse
    * [[autocorrelation]]'s fold recipe verbatim; the solve is one
    * shared float expression per 5-row group.
    */
  def yuleWalker(s: SparkSession, dir: String): DataFrame = {
    def rhoExpr(lag: Int): String =
      s"""aggregate(sequence(1, n - $lag), 0.0D,
            (a, t) -> a + (get(dms, t - 1) - mu) * (get(dms, t + $lag - 1) - mu)) / den"""
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      .filter(col("n") > 2)
      .withColumn("mu", round(expr("aggregate(dms, 0.0D, (a, x) -> a + x) / n"), 6))
      .withColumn("den", expr("aggregate(dms, 0.0D, (a, x) -> a + (x - mu) * (x - mu))"))
      .withColumn("r1", expr(rhoExpr(1)))
      .withColumn("r2", expr(rhoExpr(2)))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        q6(expr("r1 * (1.0D - r2) / (1.0D - r1 * r1)")).as("phi1"),
        q6(expr("(r2 - r1 * r1) / (1.0D - r1 * r1)")).as("phi2"),
        q6(expr(
          """1.0D - (r1 * (1.0D - r2) / (1.0D - r1 * r1)) * r1
             - ((r2 - r1 * r1) / (1.0D - r1 * r1)) * r2""")).as("var_ratio"))
  }

  val yuleWalkerSql: String = {
    def rho(lag: Int): String =
      s"""(list_reduce(list_prepend(0.0,
            [(dms[t] - mu) * (dms[t + $lag] - mu) FOR t IN range(1, n - $lag + 1)]),
            (a, b) -> a + b) / den)"""
    s"""WITH daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       m AS (
         SELECT event_type, dms, n,
                round(list_reduce(list_prepend(0.0, dms), (a, b) -> a + b) / n, 6) AS mu
         FROM per WHERE n > 2),
       d AS (
         SELECT event_type, dms, n, mu,
                list_reduce(list_prepend(0.0, [(x - mu) * (x - mu) FOR x IN dms]),
                            (a, b) -> a + b) AS den
         FROM m),
       r AS (SELECT event_type, n, ${rho(1)} AS r1, ${rho(2)} AS r2 FROM d)
       SELECT event_type, CAST(n AS BIGINT) AS n_days,
              floor(r1 * (1.0 - r2) / (1.0 - r1 * r1) * 1e6 + 0.5) / 1e6 AS phi1,
              floor((r2 - r1 * r1) / (1.0 - r1 * r1) * 1e6 + 0.5) / 1e6 AS phi2,
              floor((1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
                     - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2) * 1e6 + 0.5) / 1e6
                AS var_ratio
       FROM r"""
  }

  // ------------------------------------------------------------------
  // q_hurst — rescaled-range Hurst exponent
  // ------------------------------------------------------------------

  /** Hurst exponent H of each event type's daily-mean series by
    * classical rescaled-range analysis (Hurst 1951 / Mandelbrot–Wallis):
    * for window sizes w ∈ {5, 10, 15}, split the series into ⌊n/w⌋
    * blocks, per block compute R/S = (max − min cumulative deviation) /
    * population σ, average over blocks in block order, and fit
    * ln(R/S) = H·ln(w) + c by least squares over the three points —
    * H ≈ 0.5 for a random walk, > 0.5 for trending (persistent) load,
    * < 0.5 for mean-reverting load.
    *
    * Exactness: both engines explode the SAME bounded (type, w, block)
    * grid and evaluate the same expression text per row — every fold
    * (cumulative deviations, block averages, the 3-point regression
    * sums) is ordered. Scale: the corpus aggregates once to the
    * calendar-bounded daily table; the grid is |types|·3·⌊n/w⌋ rows.
    */
  def hurst(s: SparkSession, dir: String): DataFrame = {
    val blocks = dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      .filter(col("n") >= 15)
      .withColumn("w", explode(expr("array(5, 10, 15)")))
      .withColumn("k", explode(expr("sequence(0, n div w - 1)")))
      .withColumn("seg", expr("slice(dms, k * w + 1, w)"))
      .withColumn("mb", expr("aggregate(seg, 0.0D, (a, x) -> a + x) / w"))
      .withColumn(
        "cumdevs",
        expr("""transform(sequence(1, w), t ->
                  aggregate(transform(slice(seg, 1, t), x -> x - mb),
                            0.0D, (a, b) -> a + b))"""))
      .withColumn(
        "sd",
        expr("sqrt(aggregate(transform(seg, x -> (x - mb) * (x - mb)), 0.0D, (a, b) -> a + b) / w)"))
      .withColumn(
        "rs",
        expr("""CASE WHEN sd > 0.0D
                THEN (array_max(cumdevs) - array_min(cumdevs)) / sd
                ELSE 0.0D END"""))
    val perW = blocks
      .groupBy(col("event_type"), col("n"), col("w"))
      .agg(sort_array(collect_list(struct(col("k"), col("rs")))).as("krs"))
      .withColumn(
        "rs_avg",
        expr("aggregate(krs, 0.0D, (a, x) -> a + x.rs) / size(krs)"))
      .select(
        col("event_type"), col("n"),
        col("w"), log(col("w").cast("double")).as("lx"), log(col("rs_avg")).as("ly"),
        col("rs_avg"))
    perW
      .groupBy(col("event_type"), col("n"))
      .agg(
        sort_array(collect_list(struct(col("w"), col("lx"), col("ly"), col("rs_avg"))))
          .as("pts"))
      .withColumn("sx", expr("aggregate(pts, 0.0D, (a, x) -> a + x.lx)"))
      .withColumn("sy", expr("aggregate(pts, 0.0D, (a, x) -> a + x.ly)"))
      .withColumn("sxy", expr("aggregate(pts, 0.0D, (a, x) -> a + x.lx * x.ly)"))
      .withColumn("sxx", expr("aggregate(pts, 0.0D, (a, x) -> a + x.lx * x.lx)"))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        q6(expr("element_at(pts, 1).rs_avg")).as("rs5"),
        q6(expr("element_at(pts, 2).rs_avg")).as("rs10"),
        q6(expr("element_at(pts, 3).rs_avg")).as("rs15"),
        q6(expr("(3.0D * sxy - sx * sy) / (3.0D * sxx - sx * sx)")).as("hurst"))
  }

  val hurstSql: String =
    s"""WITH daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       grid AS (
         SELECT event_type, n, dms, w, k, dms[k * w + 1 : k * w + w] AS seg
         FROM per,
              LATERAL (SELECT unnest([5, 10, 15]) AS w) lw,
              LATERAL (SELECT unnest(range(0, n // w)) AS k) lk
         WHERE n >= 15),
       mbs AS (
         SELECT *, list_reduce(list_prepend(0.0, seg), (a, x) -> a + x) / w AS mb
         FROM grid),
       rsx AS (
         SELECT event_type, n, w, k,
                CASE WHEN sd > 0.0 THEN (list_max(cumdevs) - list_min(cumdevs)) / sd
                     ELSE 0.0 END AS rs
         FROM (
           SELECT event_type, n, w, k,
                  [list_reduce(list_prepend(0.0, [x - mb FOR x IN seg[1:t]]),
                               (a, b) -> a + b) FOR t IN range(1, w + 1)] AS cumdevs,
                  sqrt(list_reduce(list_prepend(0.0, [(x - mb) * (x - mb) FOR x IN seg]),
                                   (a, b) -> a + b) / w) AS sd
           FROM mbs) t),
       perw AS (
         SELECT event_type, n, w,
                list_reduce(list_prepend(0.0, list(rs ORDER BY k)), (a, b) -> a + b)
                  / count(*) AS rs_avg
         FROM rsx GROUP BY 1, 2, 3),
       pts AS (
         SELECT event_type, n,
                list(rs_avg ORDER BY w) AS rsl,
                list(ln(CAST(w AS DOUBLE)) ORDER BY w) AS lxs,
                list(ln(rs_avg) ORDER BY w) AS lys
         FROM perw GROUP BY 1, 2),
       reg AS (
         SELECT event_type, n, rsl,
                list_reduce(list_prepend(0.0, lxs), (a, b) -> a + b) AS sx,
                list_reduce(list_prepend(0.0, lys), (a, b) -> a + b) AS sy,
                list_reduce(list_prepend(0.0,
                  [lxs[i] * lys[i] FOR i IN range(1, 4)]), (a, b) -> a + b) AS sxy,
                list_reduce(list_prepend(0.0,
                  [lxs[i] * lxs[i] FOR i IN range(1, 4)]), (a, b) -> a + b) AS sxx
         FROM pts)
       SELECT event_type, CAST(n AS BIGINT) AS n_days,
              floor(rsl[1] * 1e6 + 0.5) / 1e6 AS rs5,
              floor(rsl[2] * 1e6 + 0.5) / 1e6 AS rs10,
              floor(rsl[3] * 1e6 + 0.5) / 1e6 AS rs15,
              floor((3.0 * sxy - sx * sy) / (3.0 * sxx - sx * sx) * 1e6 + 0.5) / 1e6
                AS hurst
       FROM reg"""

  // ------------------------------------------------------------------
  // q_pacf — partial autocorrelation via Durbin–Levinson
  // ------------------------------------------------------------------

  /** Partial autocorrelation φ_kk (lags 1–7) of each event type's
    * daily-mean series by the Durbin–Levinson recursion — the AR-order
    * identification companion to [[autocorrelation]] (Box–Jenkins: the
    * PACF cuts off at the AR order where the ACF only tails off):
    *
    *   φ₁₁ = ρ₁;  φ_kk = (ρ_k − Σⱼ φ_{k−1,j} ρ_{k−j}) /
    *                     (1 − Σⱼ φ_{k−1,j} ρ_j);
    *   φ_{k,j} = φ_{k−1,j} − φ_kk φ_{k−1,k−j}
    *
    * Exactness: the ρ vector reuses [[autocorrelation]]'s fold recipe
    * verbatim (rounded μ, ordered folds); the recursion itself runs as
    * an `aggregate()` fold over the ≤7-element ρ array on the tiny
    * per-type row, with every inner Σ a left fold ordered by j — the
    * DuckDB twin replays the identical recursion step-for-step in a
    * recursive CTE (kk hoisted into a derived table so the float
    * expression is evaluated once, exactly as Spark's lambda does).
    *
    * Scale: identical to the rest of this file — the corpus aggregates
    * once to calendar-bounded per-type arrays; everything after is
    * constant-size driverless math.
    */
  def pacf(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    def innerSum(term: String): String =
      s"aggregate(sequence(1, k - 1), 0.0D, (a, j) -> a + $term)"
    val kk =
      s"""((element_at(rho, k) - ${innerSum("element_at(st.phi, j) * element_at(rho, k - j)")})
          / (1.0D - ${innerSum("element_at(st.phi, j) * element_at(rho, j)")}))"""
    // kk is bound ONCE per step by mapping over a single-element array
    // (SQL lambdas have no let): inlining it three times cubed the
    // Catalyst tree and cost ~7 s of analysis/codegen per run
    val dlFold =
      s"""aggregate(
            sequence(2, lmax),
            named_struct('phi', array(element_at(rho, 1)),
                         'pacf', array(element_at(rho, 1))),
            (st, k) -> element_at(transform(array($kk), kkv -> named_struct(
              'phi', transform(sequence(1, k),
                       j -> IF(j = k, kkv,
                               element_at(st.phi, j) - kkv * element_at(st.phi, k - j))),
              'pacf', concat(st.pacf, array(kkv)))), 1))"""
    dailySeries(s, dir)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("dm")))).as("arr"))
      .withColumn("dms", expr("transform(arr, x -> x.dm)"))
      .withColumn("n", size(col("dms")))
      // Durbin–Levinson needs at least two lags; with daily fixtures n ≫ 8
      .filter(col("n") > 2)
      .withColumn("lmax", least(lit(maxLag), col("n") - 1))
      .withColumn("mu", round(expr("aggregate(dms, 0.0D, (a, x) -> a + x) / n"), 6))
      .withColumn("den", expr("aggregate(dms, 0.0D, (a, x) -> a + (x - mu) * (x - mu))"))
      .withColumn(
        "rho",
        expr("""transform(sequence(1, lmax), lag ->
                  aggregate(sequence(1, n - lag), 0.0D,
                    (a, t) -> a + (get(dms, t - 1) - mu) * (get(dms, t + lag - 1) - mu))
                  / den)"""))
      .withColumn("st", expr(dlFold))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_days"),
        posexplode(col("st.pacf")))
      .withColumnRenamed("pos", "p0")
      .select(
        col("event_type"),
        col("n_days"),
        (col("p0") + 1).cast("long").as("lag"),
        q6(col("col")) as "pacf")
  }

  def pacfSql(maxLag: Int = 7): String =
    s"""WITH RECURSIVE daily AS ($dailySeriesCte),
       per AS (
         SELECT event_type, list(dm ORDER BY day) AS dms, count(*) AS n
         FROM daily GROUP BY 1),
       m AS (
         SELECT event_type, dms, n, least($maxLag, n - 1) AS lmax,
                round(list_reduce(list_prepend(0.0, dms), (a, b) -> a + b) / n, 6) AS mu
         FROM per WHERE n > 2),
       d AS (
         SELECT event_type, dms, n, lmax, mu,
                list_reduce(list_prepend(0.0, [(x - mu) * (x - mu) FOR x IN dms]),
                            (a, b) -> a + b) AS den
         FROM m),
       rhos AS (
         SELECT event_type, n, lmax,
                [list_reduce(list_prepend(0.0,
                   [(dms[t] - mu) * (dms[t + lag] - mu) FOR t IN range(1, n - lag + 1)]),
                   (a, b) -> a + b) / den FOR lag IN range(1, lmax + 1)] AS rho
         FROM d),
       dl AS (
         SELECT event_type, n, lmax, rho, 1 AS k,
                [rho[1]] AS phi, [rho[1]] AS pacf
         FROM rhos
         UNION ALL
         SELECT event_type, n, lmax, rho, nk AS k,
                list_transform(generate_series(1, nk),
                  j -> CASE WHEN j = nk THEN kk ELSE phi[j] - kk * phi[nk - j] END) AS phi,
                list_append(pacf, kk) AS pacf
         FROM (
           SELECT event_type, n, lmax, rho, phi, pacf, k + 1 AS nk,
                  (rho[k + 1] - list_reduce(list_prepend(0.0,
                     [phi[j] * rho[k + 1 - j] FOR j IN range(1, k + 1)]), (a, b) -> a + b))
                  / (1.0 - list_reduce(list_prepend(0.0,
                     [phi[j] * rho[j] FOR j IN range(1, k + 1)]), (a, b) -> a + b)) AS kk
           FROM dl WHERE k < lmax) t)
       SELECT event_type, CAST(n AS BIGINT) AS n_days, lag,
              floor(pacf[lag] * 1e6 + 0.5) / 1e6 AS pacf
       FROM dl, LATERAL (SELECT unnest(range(1, lmax + 1)) AS lag) l
       WHERE k = lmax"""
}
