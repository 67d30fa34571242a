package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational query inventory over the harness star schema.
  *
  * Each query has a DuckDB-equivalent oracle (SparkEntry.oracleSql) — the
  * correctness gate. Design rules for oracle parity:
  *   - alias every computed column identically in Spark and SQL;
  *   - round double aggregates to a fixed scale (sum order differs between
  *     engines, so raw f64 sums are not bit-identical);
  *   - never ORDER BY a computed double when a LIMIT follows — top-k only
  *     on stored values with a unique tiebreak.
  *
  * Scale notes are inline: what each plan does on a real cluster at 100 TB.
  */
object RelationalQueries {

  /** TPC-H Q1-style pricing summary (§2.6 A-class). Scale: single shuffle
    * on a tiny group-by key space; partial aggregation map-side; the
    * shipdate filter and 6-column projection push to the parquet scan.
    *
    * Exactness (r12 sf1 sweep fix): the original raw `sum(double)` form
    * drifted past the round(4) guard once groups reached sf1's ~1.5M
    * rows/group (engines sum in different orders) — every money/qty
    * aggregate now runs on exact integer units (cents, cents×(100−dc),
    * integral qty) summed as BIGINT, with ONE double division at the
    * end; avg_qty floor-quantizes the single exact ratio.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .select(
        col("l_returnflag"),
        col("l_linestatus"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_discount") * 100).cast("long").as("dc"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("qty")).as("qtys"),
        sum(col("cents")).as("cs"),
        sum(col("cents") * (lit(100L) - col("dc"))).as("rev4"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"),
        col("l_linestatus"),
        col("qtys").cast("double").as("sum_qty"),
        (col("cs").cast("double") / lit(100.0)).as("sum_base_price"),
        (col("rev4").cast("double") / lit(10000.0)).as("sum_disc_price"),
        (floor(col("qtys").cast("double") / col("count_order").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
          .as("avg_qty"),
        col("count_order"))

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0
         AS sum_disc_price,
       floor(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS avg_qty,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus"""

  /** Multi-way join + aggregation: revenue per nation for one region
    * (TPC-H Q5 shape; §2.7 J4/J5). Scale: region/nation are broadcast
    * (hinted); customer⋈orders⋈lineitem shuffle on their keys with AQE
    * free to re-plan; the region filter prunes before the big joins.
    */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(s, dir)
    val orders = Tables.orders(s, dir)
    val lineitem = Tables.lineitem(s, dir)
    val nation = Tables.nation(s, dir)
    val region = Tables.region(s, dir)
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        // exact rev4 units (cents × (100 − disc_cents)) summed as
        // BIGINT, one double division at the end: nation groups reach
        // millions of rows at sf1, where a raw double sum drifts past
        // any fixed rounding guard (engines sum in different orders —
        // caught by the r12 sf1 sweep)
        sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"),
        count(lit(1)).as("n_items"))
      .select(
        col("r_name"),
        col("n_name"),
        (col("rev4").cast("double") / lit(10000.0)).as("revenue"),
        col("n_items"))
  }

  val regionRevenueSql: String =
    """SELECT r_name, n_name,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0
         AS revenue,
       count(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name"""

  /** Segment revenue by order (TPC-H Q3 shape, no top-k so doubles stay
    * hash-safe after rounding).
    */
  def segmentRevenue(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01")))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))

  val segmentRevenueSql: String =
    """SELECT o_orderkey, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON o_orderkey = l_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
       GROUP BY o_orderkey, o_orderpriority"""

  /** Projection + predicate scan (§2.3 P-class). Scale: both the filter and
    * the 2-column read schema reach the parquet reader (PushedFilters /
    * ReadSchema) — verified in the plan spec.
    */
  def scanPrune(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  val scanPruneSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount > 0.05"""

  /** Top-k on stored (not computed) values with unique tiebreak (§2.8 O4):
    * exact doubles compare identically across engines. Scale: TakeOrdered
    * — per-partition top-k then driver merge, no full sort.
    */
  def topOrders(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(25)

  val topOrdersSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"""

  /** Set operations (§2.8): customers active in 1995 INTERSECT 1996,
    * EXCEPT those in the BUILDING segment.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    def activeIn(year: Int): DataFrame =
      orders
        .filter(
          col("o_orderdate") >= to_timestamp(lit(f"$year-01-01")) &&
            col("o_orderdate") < to_timestamp(lit(f"${year + 1}-01-01")))
        .select(col("o_custkey"))
    val building =
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
    activeIn(1995).intersect(activeIn(1996)).except(building)
  }

  val setOpsSql: String =
    """SELECT o_custkey FROM orders
       WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
       INTERSECT
       SELECT o_custkey FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       EXCEPT
       SELECT c_custkey AS o_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"""

  /** Exact interpolated percentiles per group (diagnostics-style
    * distribution stats). Both engines implement the same continuous
    * quantile definition, so this carries an exact oracle.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))

  val percentilesSql: String =
    """SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
       FROM events GROUP BY event_type"""

  /** Robust outlier detection per event type: median + MAD (median
    * absolute deviation), flagging values beyond 3σ-equivalent
    * (|x − med| > 3·1.4826·MAD) — the estimator that survives the very
    * outliers it hunts, unlike mean/stddev z-scores which a single 10⁶×
    * spike drags. The data-quality gate a training pipeline runs over
    * numeric telemetry before trusting aggregates.
    *
    * Cross-engine determinism: med and MAD are ROUNDED (6 dp) before the
    * threshold comparison, so both engines compare against the identical
    * constant — a last-ulp interpolation difference inside `percentile`
    * cannot flip a flag. Scale: two grouped percentile passes over a
    * persisted narrow projection (|types| keys); the flag pass is a
    * broadcast join of a |types|-row dimension — no corpus-wide sort, no
    * second scan. (At 100 TB the exact percentile swaps for
    * [[SketchQueries.quantileSketch]]'s mergeable histogram — same plan,
    * bounded state.)
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame = {
    val ev = Reuse.pin(Tables.events(s, dir).select(col("event_type"), col("value")))
    val med = ev
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = ev
      .join(broadcast(med), "event_type")
      .select(col("event_type"), col("value"), col("med"), abs(col("value") - col("med")).as("adev"))
    val mad = dev
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    dev
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(abs(col("value") - col("med")) > lit(4.4478) * col("mad"), 1).otherwise(0))
          .as("n_outliers"))
      .select(
        col("event_type"),
        col("n"),
        col("med"),
        col("mad"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6)
          .as("outlier_frac"))
  }

  val anomalyMadSql: String =
    """WITH ev AS (SELECT event_type, value FROM events),
       med AS (
         SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
         FROM ev GROUP BY 1),
       dev AS (
         SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
         FROM ev e JOIN med m USING (event_type)),
       mad AS (
         SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
         FROM dev GROUP BY 1)
       SELECT d.event_type, count(*) AS n, max(d.med) AS med, max(a.mad) AS mad,
              CAST(sum(CASE WHEN abs(d.value - d.med) > 4.4478 * a.mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              round(CAST(CAST(sum(CASE WHEN abs(d.value - d.med) > 4.4478 * a.mad
                                       THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS outlier_frac
       FROM dev d JOIN mad a USING (event_type)
       GROUP BY d.event_type"""

  /** Bitwise-OR aggregation (§2.8 O6 — veto-flag union analog). */
  def bitOrSizes(s: SparkSession, dir: String): DataFrame =
    Tables
      .part(s, dir)
      .groupBy(col("p_brand"))
      .agg(expr("bit_or(p_size)").as("size_mask"), count(lit(1)).as("n_parts"))

  val bitOrSizesSql: String =
    "SELECT p_brand, bit_or(p_size) AS size_mask, count(*) AS n_parts FROM part GROUP BY p_brand"

  /** Running event offset per key (§2.6 A3 — the NeXus `event_index`
    * semantics: running totals over an ordered frame sequence). Scale: one
    * shuffle on user_id; within-partition ordered scan, no global sort.
    */
  def runningOffsets(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("ts"),
        col("event_id"),
        coalesce(sum(lit(1)).over(w), lit(0)).as("event_index"),
        round(coalesce(sum(col("value")).over(w), lit(0.0)), 4).as("value_before"))
  }

  val runningOffsetsSql: String =
    """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
       coalesce(count(*) OVER w, 0) AS event_index,
       round(coalesce(sum(value) OVER w, 0), 4) AS value_before
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""

  /** Per-key per-day stats (§2.6 A5 — the live diagnostics aggregation
    * shape: counts, first/last timestamps, extrema per digitiser).
    */
  def userDayStats(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        round(sum(col("value")), 4).as("sum_value"),
        max(col("value")).as("max_value"))

  val userDayStatsSql: String =
    """SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       count(*) AS n_events,
       min(CAST(ts AS TIMESTAMP)) AS first_ts,
       max(CAST(ts AS TIMESTAMP)) AS last_ts,
       round(sum(value), 4) AS sum_value,
       max(value) AS max_value
       FROM events GROUP BY 1, 2"""

  /** Cohort retention — the product-analytics staple the diagnostics
    * surface otherwise lacks: users cohorted by FIRST-seen day, then for
    * every (cohort_day, day_offset) the distinct users still active that
    * many days later, with the cohort size and retention rate attached.
    *
    * Scale: the first-seen reduction is one uniform user_id shuffle with
    * map-side partial `min`; the join back is equi-keyed on user_id
    * (never a range scan); the (cohort × offset) rollup is tiny and the
    * cohort-size dimension (≤ days observed) broadcasts. The rate is a
    * single integer-over-integer division — deterministic cross-engine.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    // persisted: the cohort reduction AND the join probe both consume
    // this 2-column projection — caching it reads events once
    // (plan-audit-locked).
    val ev = Reuse.pin(
      Tables
        .events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohorts
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    ev.join(cohorts, Seq("user_id"))
      .groupBy(
        col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(
        col("cohort_day"),
        col("day_offset"),
        col("n_users"),
        col("cohort_size"),
        (col("n_users").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
  }

  /** Ordered funnel conversion (view → click → purchase): a user
    * converts at step k when each step's FIRST occurrence strictly
    * follows the previous step's first occurrence — the standard
    * product-analytics funnel with step ordering enforced, not mere
    * co-occurrence. Output: one row per step with distinct converted
    * users and the conversion rate off step 1.
    *
    * Scale: ONE user_id shuffle computes the three first-occurrence
    * timestamps as conditional `min`s in a single aggregate (map-side
    * partials); the funnel logic is then a narrow projection and the
    * step rollup is 3 rows. No joins at all. Rates are single
    * divisions — deterministic cross-engine.
    */
  def funnelSteps(s: SparkSession, dir: String): DataFrame =
    funnel(
      s,
      dir,
      Seq(
        "view" -> (col("event_type") === "view"),
        "click_after_view" -> (col("event_type") === "click"),
        "purchase_after_click" -> (col("event_type") === "purchase")))

  /** N-step parameterized funnel — the reusable primitive behind
    * [[funnelSteps]]: `steps` is an ordered list of (name, predicate)
    * pairs; a user converts at step k when each step's FIRST matching
    * event strictly follows the previous step's first match. Same
    * one-shuffle shape at any N: a single user_id aggregate computes
    * every step's conditional `min(ts)` (map-side partials), the chain
    * check is a narrow projection, and ONE global aggregate row fans out
    * into the N step rows via an exploded struct array — adding steps
    * widens expressions, never adds shuffles or scans.
    */
  def funnel(s: SparkSession, dir: String, steps: Seq[(String, Column)]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val n = steps.length
    val firstAggs = steps.zipWithIndex.map { case ((_, pred), i) =>
      min(when(pred, col("ts"))).as(s"_t$i")
    }
    val firsts = Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .agg(firstAggs.head, firstAggs.tail: _*)
    val flags = (0 until n).map { k =>
      (1 to k)
        .foldLeft(col("_t0").isNotNull) { (acc, i) =>
          acc && col(s"_t$i") > col(s"_t${i - 1}")
        }
        .as(s"_s$k")
    }
    val counts = (0 until n).map(k => count(when(col(s"_s$k"), 1)).as(s"_n$k"))
    val stepRows = steps.zipWithIndex.map { case ((name, _), k) =>
      struct(
        lit((k + 1).toLong).as("step"),
        lit(name).as("step_name"),
        col(s"_n$k").as("n_users"))
    }
    firsts
      .select(flags: _*)
      .agg(counts.head, counts.tail: _*)
      .select(explode(array(stepRows: _*)).as("r"), col("_n0"))
      .select(
        col("r.step").as("step"),
        col("r.step_name").as("step_name"),
        col("r.n_users").as("n_users"),
        (col("r.n_users").cast("double") / col("_n0").cast("double"))
          .as("conversion"))
  }

  val funnelStepsSql: String =
    """WITH f AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
                min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
                min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
         FROM events GROUP BY user_id
       ), s AS (
         SELECT t_view IS NOT NULL AS s1,
                t_view IS NOT NULL AND t_click > t_view AS s2,
                t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click AS s3
         FROM f
       ), c AS (
         SELECT count(CASE WHEN s1 THEN 1 END) AS n1,
                count(CASE WHEN s2 THEN 1 END) AS n2,
                count(CASE WHEN s3 THEN 1 END) AS n3
         FROM s
       )
       SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, n1 AS n_users,
              CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS conversion FROM c
       UNION ALL
       SELECT 2, 'click_after_view', n2, CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM c
       UNION ALL
       SELECT 3, 'purchase_after_click', n3, CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM c"""

  val retentionCohortsSql: String =
    """WITH e AS (SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
                  FROM events),
       c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
       sz AS (SELECT cohort_day, count(*) AS cohort_size FROM c GROUP BY 1),
       r AS (SELECT c.cohort_day,
                    CAST(date_diff('day', c.cohort_day, e.day) AS BIGINT) AS day_offset,
                    count(DISTINCT e.user_id) AS n_users
             FROM e JOIN c USING (user_id) GROUP BY 1, 2)
       SELECT r.cohort_day, r.day_offset, r.n_users, sz.cohort_size,
              CAST(r.n_users AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
       FROM r JOIN sz USING (cohort_day)"""

  /** Interval join (§2.7 J1 — "event belongs to the run whose window
    * contains it"): signup events open a 24 h run window; all of the
    * user's events inside the window join to it. Scale: the equi-key
    * (user_id) carries the shuffle; the range predicate is evaluated
    * post-match, so this stays a hash/sort-merge join, never a cartesian.
    */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val runs = events
      .filter(col("event_type") === "signup")
      .select(
        col("event_id").as("run_id"),
        col("user_id").as("run_user"),
        col("ts").as("run_start"))
    events
      .join(
        runs,
        col("user_id") === col("run_user") &&
          col("ts") >= col("run_start") &&
          col("ts") < col("run_start") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("run_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
  }

  val intervalJoinSql: String =
    """SELECT s.event_id AS run_id, count(*) AS n_events,
       round(sum(e.value), 4) AS sum_value
       FROM (SELECT * FROM events WHERE event_type = 'signup') s
       JOIN events e ON e.user_id = s.user_id
        AND CAST(e.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
        AND CAST(e.ts AS TIMESTAMP) < CAST(s.ts AS TIMESTAMP) + INTERVAL 24 HOURS
       GROUP BY s.event_id"""

  /** Time-travel scan (§2.8 O4/O5 — the Kafka offsets-by-timestamp
    * "dragnet" search rendered on a batch table): bounded time window +
    * predicate + deterministic limit. Scale: the timestamp filter pushes
    * to the scan (partition pruning on a date-partitioned layout) and the
    * limit plans as TakeOrdered.
    */
  def timeTravel(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .filter(
        col("ts") >= to_timestamp(lit("2024-01-10")) &&
          col("ts") < to_timestamp(lit("2024-01-11")) &&
          col("event_type") === "error")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .limit(50)

  val timeTravelSql: String =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
       WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
         AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-11 00:00:00'
         AND event_type = 'error'
       ORDER BY ts, event_id LIMIT 50"""

  /** Period-list accumulation (§2.6 A4 — distinct periods seen per run):
    * distinct activity days per event type.
    */
  def periodList(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(date_trunc("day", col("ts"))).as("n_periods"),
        min(date_trunc("day", col("ts"))).as("first_period"),
        max(date_trunc("day", col("ts"))).as("last_period"))

  val periodListSql: String =
    """SELECT event_type,
       count(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP))) AS n_periods,
       min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS first_period,
       max(date_trunc('day', CAST(ts AS TIMESTAMP))) AS last_period
       FROM events GROUP BY event_type"""

  /** Gap-based sessionization — the analytics rendering of the run/frame
    * "session with TTL" semantics (§2.10): a new session starts when a
    * user's inter-event gap exceeds 30 minutes. Pure window functions, so
    * it carries an exact oracle; one shuffle on user_id.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        // µs integer arithmetic on both engines — second-cast truncation
        // disagrees with DuckDB's epoch() on sub-second boundaries
        (col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L).cast("int"))
      .withColumn("session_seq", sum(col("new_session")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** The same sessionisation as [[sessionize]] through Spark's NATIVE
    * `session_window` operator — the engine merges per-event gap windows
    * itself (batch here; the identical expression works under
    * Structured Streaming with state-store-backed merging). The oracle
    * recomputes sessions with gaps-and-islands and appends the gap to
    * the last event, which is how `session_window` defines `end`.
    */
  def sessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n_events"),
        col("sum_value"))

  val sessionWindowSql: String =
    """WITH marked AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) >= 1800000000
                     THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       ), numbered AS (
         SELECT *, sum(new_session) OVER
                  (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
         FROM marked
       )
       SELECT user_id, min(ts) AS session_start,
              max(ts) + INTERVAL 30 MINUTE AS session_end,
              count(*) AS n_events, round(sum(value), 4) AS sum_value
       FROM numbered GROUP BY user_id, session_seq"""

  /** As-of join — the canonical operator Spark lacks natively (SURVEY
    * §2.8 O4's timestamp search generalised to a join): every click
    * event is paired with the same user's latest purchase at-or-before
    * it, the DAQ shape being "attach the most recent slow-control
    * reading to each detector event". Scalable rendering: the union +
    * ordered-window trick — both sides interleave in ONE window
    * partitioned by the key and ordered by time (build side sorting
    * before probe side on ties, so at-or-before is inclusive), and
    * `last(_, ignoreNulls)` carries the most recent build row forward.
    * One shuffle on user_id, no nested loop, no per-key driver logic —
    * survives any key cardinality. DuckDB validates with its native
    * ASOF JOIN.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // dedupe equal-timestamp purchases deterministically so both engines
    // agree on which row an as-of match selects
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val unioned = clicks
      .select(
        col("user_id"),
        col("ts"),
        lit(1).as("is_click"),
        col("event_id"),
        col("value"),
        lit(null).cast("timestamp_ntz").as("purchase_ts"),
        lit(null).cast("double").as("purchase_value"))
      .unionByName(purchases.select(
        col("user_id"),
        col("ts"),
        lit(0).as("is_click"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"),
        col("ts").as("purchase_ts"),
        col("purchase_value")))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_click"))
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn("last_purchase_ts", last(col("purchase_ts"), ignoreNulls = true).over(w))
      .withColumn("last_purchase_value", last(col("purchase_value"), ignoreNulls = true).over(w))
      .filter(col("is_click") === 1)
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        col("value"),
        col("last_purchase_ts"),
        col("last_purchase_value"))
  }

  /** [[asofJoin]] through the custom whole-operator path
    * ([[graft.plans.AsOfJoin]]): custom logical node → custom strategy →
    * co-partitioned merge exec. Must hash-match the SAME DuckDB
    * `ASOF LEFT JOIN` oracle as the composed union+window variant — the
    * two engines' plans differ completely, the results may not.
    */
  def asofJoinCustom(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
      .select(
        col("user_id").as("p_user_id"),
        col("ts").as("p_ts"),
        col("purchase_value"))
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.plans.AsOfJoin
      .join(
        clicks,
        purchases,
        leftKeys = Seq("user_id"),
        rightKeys = Seq("p_user_id"),
        leftTs = "ts",
        rightTs = "p_ts")
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        col("value"),
        col("p_ts").as("last_purchase_ts"),
        col("purchase_value").as("last_purchase_value"))
  }

  val asofJoinSql: String =
    """WITH p AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, max(value) AS purchase_value
         FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
       ), c AS (
         SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
         FROM events WHERE event_type = 'click'
       )
       SELECT c.event_id, c.user_id, c.ts, c.value,
              p.pts AS last_purchase_ts, p.purchase_value AS last_purchase_value
       FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.pts"""

  val sessionizeSql: String =
    """WITH marked AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
                CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
                     THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), numbered AS (
         SELECT *, CAST(sum(new_session) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         FROM marked
       )
       SELECT user_id, session_seq, min(ts) AS session_start,
              max(ts) AS session_end, count(*) AS n_events,
              round(sum(value), 4) AS sum_value
       FROM numbered GROUP BY user_id, session_seq"""

  /** Hierarchical ROLLUP aggregation (region → nation → grand total) —
    * grouping-set surface with the null-filled subtotal rows both engines
    * share.
    */
  def rollupRevenue(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 4).as("sum_bal"))

  val rollupRevenueSql: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 4) AS sum_bal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP (r_name, n_name)"""

  /** Full CUBE over (region, market segment) — all four grouping sets in
    * one pass (the rollup's lattice completion). Spark plans a single
    * Expand + aggregate: one shuffle regardless of how many grouping sets
    * the lattice has; the NULL-filled subtotal rows match DuckDB's.
    */
  def cubeRevenue(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 4).as("sum_bal"))

  val cubeRevenueSql: String =
    """SELECT r_name, c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 4) AS sum_bal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY CUBE (r_name, c_mktsegment)"""

  /** Latest event per (user, type) — the CDC/upsert compaction shape:
    * keep only each key's most recent row. One shuffle on the key; the
    * rank window runs inside bounded per-key groups (WindowGroupLimit
    * cuts to 1 row per key map-side), so state never exceeds one row per
    * key per partition. Ordering ties break on event_id so the pick is
    * deterministic; the oracle orders by the SAME µs-truncated timestamp
    * Spark reads (ns-precision ordering would break ties differently).
    */
  def latestByKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables
      .events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_type"),
        col("event_id").as("last_event_id"),
        col("ts").as("last_ts"),
        round(col("value"), 4).as("last_value"))
  }

  val latestByKeySql: String =
    """SELECT user_id, event_type, event_id AS last_event_id,
       CAST(ts AS TIMESTAMP) AS last_ts, round(value, 4) AS last_value
       FROM events
       QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1"""

  /** Equi-depth activity deciles WITHOUT a global sort — the scale-safe
    * ranking pattern (the [[CurationQueries.langMixture]] running-offset
    * machinery, with the activity total as the natural salt): per-user
    * totals histogram → running offsets over the tiny (distinct totals)
    * table → within-total row_number in bounded groups. rank = offset +
    * intra-group position, decile = (rank−1)·10 div n + 1; per-decile
    * stats are all-integer, so the result is exact on both engines.
    */
  def userDeciles(s: SparkSession, dir: String): DataFrame = {
    val totals = Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("total"))
    val hist = totals.groupBy(col("total")).agg(count(lit(1)).as("cnt"))
    val wOff = Window
      .orderBy(col("total").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = hist
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("total"), col("off"))
    val nn = totals.agg(count(lit(1)).as("cnt_all"))
    val wIn = Window.partitionBy(col("total")).orderBy(col("user_id"))
    totals
      .join(broadcast(offs), Seq("total"))
      .withColumn("rnk", col("off") + row_number().over(wIn))
      .crossJoin(broadcast(nn))
      .withColumn("decile", expr("((rnk - 1) * 10) DIV cnt_all") + lit(1L))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_users"),
        min(col("total")).as("min_total"),
        max(col("total")).as("max_total"),
        sum(col("total")).as("sum_total"))
  }

  val userDecilesSql: String =
    """WITH totals AS (SELECT user_id, count(*) AS total FROM events GROUP BY 1),
       hist AS (SELECT total, count(*) AS cnt FROM totals GROUP BY 1),
       offs AS (SELECT total,
                       CAST(COALESCE(sum(cnt) OVER (ORDER BY total DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS off
                FROM hist),
       nn AS (SELECT count(*) AS cnt_all FROM totals),
       ranked AS (
         SELECT t.user_id, t.total,
                o.off + row_number() OVER (PARTITION BY t.total ORDER BY t.user_id) AS rnk
         FROM totals t JOIN offs o USING (total))
       SELECT CAST((rnk - 1) * 10 // cnt_all AS BIGINT) + 1 AS decile,
              count(*) AS n_users,
              min(total) AS min_total,
              max(total) AS max_total,
              CAST(sum(total) AS BIGINT) AS sum_total
       FROM ranked CROSS JOIN nn GROUP BY 1"""

  /** Pearson correlations between per-user activity counts (view↔click,
    * view↔purchase, click↔purchase) — the engagement-funnel statistic
    * behind "do viewers click?" dashboards.
    *
    * Float discipline better than any fold: every moment (Σx, Σxy, Σx²)
    * is an INTEGER sum of per-user counts — exact, commutative,
    * order-FREE — so the only floating-point work is the final closed
    * form over ten scalars, written as the same expression tree in both
    * engines (sqrt is correctly rounded ⇒ bit-identical). Scale: one
    * user_id shuffle with map-side partial agg + one scalar aggregate;
    * nothing is collected, nothing is sorted.
    */
  def engagementCorr(s: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
    val st = per.agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("sv"),
      sum(col("c")).as("sc"),
      sum(col("p")).as("sp"),
      sum(col("v") * col("c")).as("svc"),
      sum(col("v") * col("p")).as("svp"),
      sum(col("c") * col("p")).as("scp"),
      sum(col("v") * col("v")).as("svv"),
      sum(col("c") * col("c")).as("scc"),
      sum(col("p") * col("p")).as("spp"))
    def r(sxy: String, sx: String, sy: String, sxx: String, syy: String) = {
      val n = col("n").cast("double")
      val num = n * col(sxy).cast("double") - col(sx).cast("double") * col(sy).cast("double")
      val dx = sqrt(n * col(sxx).cast("double") - col(sx).cast("double") * col(sx).cast("double"))
      val dy = sqrt(n * col(syy).cast("double") - col(sy).cast("double") * col(sy).cast("double"))
      round(num / (dx * dy), 6)
    }
    st.select(
      col("n").as("n_users"),
      r("svc", "sv", "sc", "svv", "scc").as("r_view_click"),
      r("svp", "sv", "sp", "svv", "spp").as("r_view_purchase"),
      r("scp", "sc", "sp", "scc", "spp").as("r_click_purchase"))
  }

  val engagementCorrSql: String =
    """WITH per AS (
         SELECT user_id,
                SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
                SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
         FROM events GROUP BY 1),
       st AS (
         SELECT count(*) AS n, SUM(v) AS sv, SUM(c) AS sc, SUM(p) AS sp,
                SUM(v * c) AS svc, SUM(v * p) AS svp, SUM(c * p) AS scp,
                SUM(v * v) AS svv, SUM(c * c) AS scc, SUM(p * p) AS spp
         FROM per)
       SELECT n AS n_users,
              round((CAST(n AS DOUBLE) * CAST(svc AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sc AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 6)
                AS r_view_click,
              round((CAST(n AS DOUBLE) * CAST(svp AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sp AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 6)
                AS r_view_purchase,
              round((CAST(n AS DOUBLE) * CAST(scp AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sp AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 6)
                AS r_click_purchase
       FROM st"""

  /** Hopping (sliding) window aggregation — `window(ts, "1 day",
    * "6 hours")`: every event contributes to the 4 overlapping 24-hour
    * windows that contain it, the windowing mode behind trailing-24h
    * dashboards (tumbling = q_stream_windowed_counts; session =
    * q_session_window; this completes the trio).
    *
    * Scale: Spark expands each row to its window memberships (a fixed
    * 4× amplification from day/6h — narrow, no join) and aggregates on
    * the (window, type) key — ONE bounded-key shuffle with map-side
    * partial agg. Windows are epoch-aligned, which the oracle mirrors
    * with integer epoch-µs arithmetic.
    */
  def hoppingCounts(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  val hoppingCountsSql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
       x AS (SELECT event_type,
                    make_timestamp((epoch_us(ts) // 21600000000) * 21600000000
                                   - k * 21600000000) AS win_start
             FROM e CROSS JOIN generate_series(0, 3) g(k))
       SELECT win_start, event_type, count(*) AS n
       FROM x GROUP BY 1, 2"""

  /** Per-user exponentially-weighted moving average over the event value
    * stream (α = 0.1, seeded with the first observation) — W1's EWMA
    * smoothing (SURVEY §2.4) applied to the relational events surface:
    * the per-entity smoothed-state primitive behind anomaly baselines
    * and engagement scores.
    *
    * An EWMA is inherently sequential, so the operator makes the
    * ordering EXPLICIT instead of leaning on shuffle order: per user,
    * values are collected, sorted by (ts, event_id) — a total order —
    * and folded left-to-right (`aggregate` seeded with `get(vals, 0)` ↔
    * DuckDB `list_reduce`, which seeds from the first element), so the
    * result is deterministic and cross-engine bit-compatible. Scale:
    * ONE user_id shuffle; per-group state is bounded by the user's
    * event count (the same bound any per-entity sequential model pays);
    * at 100 TB the same fold runs per user without any global sort.
    */
  def userEwma(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .filter(col("user_id") < 50)
      .select(
        col("user_id"),
        struct(unix_micros(col("ts").cast("timestamp")).as("tsu"), col("event_id"), col("value")).as("e"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), collect_list(col("e")).as("es"))
      .withColumn("vals", expr("transform(array_sort(es), s -> s.value)"))
      .select(
        col("user_id"),
        col("n_events"),
        round(
          expr(
            "aggregate(slice(vals, 2, size(vals) - 1), get(vals, 0), " +
              "(acc, x) -> acc * 0.9 + x * 0.1)"),
          6).as("ewma"))

  val userEwmaSql: String =
    """WITH ev AS (
         SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, event_id, value
         FROM events WHERE user_id < 50),
       g AS (SELECT user_id, count(*) AS n_events,
                    list(value ORDER BY tsu, event_id) AS vals
             FROM ev GROUP BY 1)
       SELECT user_id, n_events,
              round(list_reduce(vals, (acc, x) -> acc * 0.9 + x * 0.1), 6) AS ewma
       FROM g"""

  /** Calendar resampling with gap fill (the Pandas-`resample` class of
    * operation): per-user DAILY event counts over the full corpus
    * calendar, absent days emitted as zero — the regularisation step
    * before any per-entity time-series model.
    *
    * Scale: the observed counts are one (user, day) shuffle with
    * map-side partial agg; the dense calendar is GENERATED (a
    * sequence-explode over the broadcast [min, max] day range crossed
    * with the distinct user dimension), never scanned, and the fill
    * join is keyed on (user, day) — uniform keys, AQE-handled. Calendar
    * size = users × days, which is the OUTPUT size — nothing bigger is
    * materialised.
    */
  def timeResample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val counts = ev.groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n_events"))
    val range = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val users = ev.select(col("user_id")).distinct()
    val calendar = users
      .crossJoin(broadcast(range))
      .select(
        col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    calendar
      .join(counts, Seq("user_id", "day"), "left")
      .select(
        col("user_id"),
        col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  val timeResampleSql: String =
    """WITH ev AS (
         SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         FROM events WHERE user_id < 20),
       counts AS (SELECT user_id, day, count(*) AS n_events FROM ev GROUP BY 1, 2),
       rng AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       cal AS (
         SELECT u.user_id,
                CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                            INTERVAL 1 DAY)) AS DATE) AS day
         FROM (SELECT DISTINCT user_id FROM ev) u
         CROSS JOIN rng)
       SELECT cal.user_id, cal.day, COALESCE(counts.n_events, 0) AS n_events
       FROM cal LEFT JOIN counts ON cal.user_id = counts.user_id AND cal.day = counts.day"""

  /** Pivot (§2.6 aggregation surface): the per-user event-type matrix —
    * `groupBy(user).pivot(event_type, [explicit values]).count()` — the
    * long→wide reshape every analytics stack ships. The value list is
    * EXPLICIT (never inferred): inference costs a full pre-pass over the
    * corpus to discover the domain and makes the output schema
    * data-dependent — at 100 TB the pivot must be one shuffle with a
    * fixed schema, which the explicit list guarantees (Spark compiles it
    * to per-value conditional aggregates, the same shape as the DuckDB
    * mirror).
    */
  def pivotEventMatrix(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  val pivotEventMatrixSql: String =
    """SELECT user_id,
       count(*) FILTER (event_type = 'view') AS view,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup') AS signup,
       count(*) FILTER (event_type = 'error') AS error
       FROM events WHERE user_id < 50 GROUP BY user_id"""

  /** Per-user feature materialization — the feature-store table a churn
    * or ranking model trains on: activity volume, active-day span,
    * recency vs the corpus horizon, purchase count, error rate, value
    * stats. ONE user-keyed aggregation pass; the corpus horizon (max
    * day) is a broadcast one-row aggregate; every rate/mean is rounded
    * for cross-engine hash parity; everything else is integer-exact.
    *
    * Scale: this is the canonical "wide aggregate" feature job — all
    * features fold in the same partial aggregate (one shuffle on
    * user_id, map-side combined), so adding features widens the row,
    * never the plan. At 100 TB the same job feeds incremental feature
    * stores by running per partition-date and merging the mergeable
    * pieces (sums/counts/maxes).
    */
  def userFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val horizon = ev.agg(date_trunc("day", max(col("ts"))).as("horizon_day"))
    ev
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(date_trunc("day", col("ts"))).as("n_active_days"),
        date_trunc("day", min(col("ts"))).as("first_day"),
        date_trunc("day", max(col("ts"))).as("last_day"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
        // 2-decimal values → exact integer cents: a plain avg() can land
        // exactly ON a 5e-7 rounding boundary and flip the last rounded
        // digit with engine sum order (observed at sf0.01)
        sum(round(col("value") * 100).cast("long")).as("cents"),
        max(col("value")).as("max_value"))
      .crossJoin(broadcast(horizon))
      .select(
        col("user_id"),
        col("n_events"),
        col("n_active_days"),
        datediff(col("last_day"), col("first_day")).cast("long").as("tenure_days"),
        datediff(col("horizon_day"), col("last_day")).cast("long").as("recency_days"),
        col("n_purchases"),
        round(col("n_errors").cast("double") / col("n_events").cast("double"), 6)
          .as("error_rate"),
        round(col("cents").cast("double") / (col("n_events").cast("double") * 100.0), 6)
          .as("avg_value"),
        col("max_value"))
  }

  val userFeaturesSql: String =
    """WITH horizon AS (
         SELECT date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS horizon_day FROM events),
       per AS (
         SELECT user_id,
                count(*) AS n_events,
                count(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP))) AS n_active_days,
                date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS first_day,
                date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS last_day,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                max(value) AS max_value
         FROM events GROUP BY 1)
       SELECT user_id, n_events, n_active_days,
              date_diff('day', first_day, last_day) AS tenure_days,
              date_diff('day', last_day, horizon_day) AS recency_days,
              n_purchases,
              round(CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE), 6) AS error_rate,
              round(CAST(cents AS DOUBLE) / (CAST(n_events AS DOUBLE) * 100.0), 6) AS avg_value,
              max_value
       FROM per CROSS JOIN horizon"""

  /** Rolling active-user engagement: per day, DAU (distinct users that
    * day), trailing-7-day WAU, and the DAU/WAU stickiness ratio — the
    * engagement triple every product dashboard leads with.
    *
    * Scale: the (user, day) distinct is one user-keyed shuffle; the
    * trailing window is a join of that pair table to the BOUNDED day
    * dimension (365 rows/year, broadcast) with a 0–6 day range predicate
    * — amplification ≤ 7 rows per user-day, then a per-day distinct
    * count. No self-join of the fact table, no sliding-window state.
    */
  def activeUsers(s: SparkSession, dir: String): DataFrame = {
    val ud = Reuse.pin(
      Tables
        .events(s, dir)
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct())
    val days = ud.select(col("day").as("d")).distinct()
    val wau = ud
      .join(broadcast(days), datediff(col("d"), col("day")).between(0, 6))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    dau
      .join(wau, col("day") === col("d"))
      .select(
        col("day"),
        col("dau"),
        col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6).as("stickiness"))
  }

  val activeUsersSql: String =
    """WITH ud AS (
         SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
         FROM events),
       days AS (SELECT DISTINCT day AS d FROM ud),
       wau AS (
         SELECT d, count(DISTINCT user_id) AS wau
         FROM ud JOIN days ON date_diff('day', day, d) BETWEEN 0 AND 6
         GROUP BY 1),
       dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
       SELECT day, dau, wau,
              round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
       FROM dau JOIN wau ON day = d"""

  /** Pointwise mutual information between event types over (user, day)
    * baskets: PMI(a,b) = ln(d_ab·N / (d_a·d_b)) where d_x counts baskets
    * containing x and N is the basket universe — the co-occurrence
    * statistic behind association mining and word-vector objectives
    * (positive PMI = the pair travels together; negative = they repel).
    *
    * Cross-engine exactness: every count is an integer, the numerator
    * and denominator products stay integer (exact in int64), and the
    * single ln rides `round(_, 6)` — no float accumulation anywhere.
    *
    * Scale: baskets = one distinct over (user, day, type) — the same
    * user-keyed shuffle the per-user stats pay; the pair join is keyed
    * on (user, day) with at most |types| rows per basket side (bounded
    * fan-out, never a product over users); singles and N are a
    * |types|-row broadcast dimension and a broadcast scalar.
    */
  def eventPmi(s: SparkSession, dir: String): DataFrame = {
    val baskets = Reuse.pin(
      Tables
        .events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("event_type"))
        .distinct())
    val nb = baskets
      .select(col("user_id"), col("day"))
      .distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val singles = baskets.groupBy(col("event_type")).agg(count(lit(1)).as("d"))
    val pairs = baskets
      .as("a")
      .join(
        baskets.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("d_ab"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("type_a"), col("d").as("d_a"))), "type_a")
      .join(broadcast(singles.select(col("event_type").as("type_b"), col("d").as("d_b"))), "type_b")
      .crossJoin(broadcast(nb))
      .select(
        col("type_a"),
        col("type_b"),
        col("d_ab"),
        round(
          log((col("d_ab") * col("n_baskets")).cast("double") /
            (col("d_a") * col("d_b")).cast("double")),
          6).as("pmi"))
  }

  val eventPmiSql: String =
    """WITH baskets AS (
         SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type
         FROM events),
       nb AS (
         SELECT count(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM baskets)),
       singles AS (SELECT event_type, count(*) AS d FROM baskets GROUP BY 1),
       pairs AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS d_ab
         FROM baskets a
         JOIN baskets b ON a.user_id = b.user_id AND a.day = b.day
                       AND a.event_type < b.event_type
         GROUP BY 1, 2)
       SELECT p.type_a, p.type_b, p.d_ab,
              round(ln(CAST(p.d_ab * nb.n_baskets AS DOUBLE)
                       / CAST(sa.d * sb.d AS DOUBLE)), 6) AS pmi
       FROM pairs p
       JOIN singles sa ON sa.event_type = p.type_a
       JOIN singles sb ON sb.event_type = p.type_b
       CROSS JOIN nb"""

  /** Markov transition matrix over per-user event sequences: P(next event
    * type | current event type), estimated from every consecutive pair in
    * (ts, event_id) order — the behavioral fingerprint a product-analytics
    * pipeline watches for drift (a rising view→error probability is an
    * incident; a falling click→purchase probability is a funnel leak).
    *
    * Scale: ONE user-keyed shuffle for the lead() window (the same
    * partitioning sessionize uses — at 100 TB this is the unavoidable
    * per-entity ordering pass), then the pair counts collapse map-side to
    * at most |types|² rows, and the row-normalization window runs on that
    * tiny matrix. No joins, no second scan.
    */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    pairs.select(
      col("prev_type"),
      col("next_type"),
      col("n"),
      round(
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"),
        6).as("prob"))
  }

  val markovTransitionsSql: String =
    """WITH seq AS (
         SELECT user_id, event_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
         FROM events),
       pairs AS (
         SELECT event_type AS prev_type, next_type, count(*) AS n
         FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
       SELECT prev_type, next_type, n,
              round(CAST(n AS DOUBLE) /
                    CAST(CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS DOUBLE),
                    6) AS prob
       FROM pairs"""

  /** First-touch / last-touch conversion attribution: each `purchase` is
    * credited to the earliest and the latest touch event (view / click /
    * signup) since the user's previous purchase. The output is the
    * per-channel attribution table marketing pipelines reconcile —
    * first-touch rewards discovery channels, last-touch rewards closers.
    *
    * Semantics: conversion windows are delimited by purchases — a
    * running count of STRICTLY PRECEDING purchases groups each touch
    * with the purchase that follows it; purchases with no touch in
    * their window (cold conversions) are reported in the `(none)` row.
    *
    * Scale: the window pass is the same single user-keyed shuffle as
    * [[markovTransitions]]/[[sessionize]]; first/last per conversion
    * window are `min_by`/`max_by` partial aggregates on a unique
    * zero-padded (µs, event_id) sort key (no self-join, no row_number
    * over the full table), and the final attribution matrix is
    * |channels|-sized.
    */
  def touchAttribution(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn(
        "conv_seq",
        coalesce(
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .over(byUser.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn(
        "ord",
        // %019d: FIXED width for any positive long — %010d is only a
        // minimum and an 11-digit event_id would mis-sort lexically
        format_string("%020d%019d", unix_micros(col("ts").cast("timestamp")), col("event_id")))
    val touches = ev
      .filter(col("event_type").isin("view", "click", "signup"))
      .groupBy(col("user_id"), col("conv_seq"))
      .agg(
        min_by(col("event_type"), col("ord")).as("first_touch"),
        max_by(col("event_type"), col("ord")).as("last_touch"))
    val convs = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("conv_seq"))
    val attributed = convs
      .join(touches, Seq("user_id", "conv_seq"), "left")
      .select(
        coalesce(col("first_touch"), lit("(none)")).as("first_touch"),
        coalesce(col("last_touch"), lit("(none)")).as("last_touch"))
    val byFirst = attributed
      .groupBy(col("first_touch").as("touch_type"))
      .agg(count(lit(1)).as("n_first"))
    val byLast = attributed
      .groupBy(col("last_touch").as("touch_type"))
      .agg(count(lit(1)).as("n_last"))
    byFirst
      .join(byLast, Seq("touch_type"), "full_outer")
      .select(
        col("touch_type"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"))
  }

  val touchAttributionSql: String =
    """WITH ev AS (
         SELECT user_id, event_type,
                COALESCE(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS conv_seq,
                printf('%020d%019d', epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS ord
         FROM events),
       touches AS (
         SELECT user_id, conv_seq,
                arg_min(event_type, ord) AS first_touch,
                arg_max(event_type, ord) AS last_touch
         FROM ev WHERE event_type IN ('view', 'click', 'signup')
         GROUP BY 1, 2),
       convs AS (
         SELECT user_id, conv_seq FROM ev WHERE event_type = 'purchase'),
       attributed AS (
         SELECT COALESCE(t.first_touch, '(none)') AS first_touch,
                COALESCE(t.last_touch, '(none)') AS last_touch
         FROM convs c LEFT JOIN touches t USING (user_id, conv_seq)),
       byfirst AS (
         SELECT first_touch AS touch_type, count(*) AS n_first
         FROM attributed GROUP BY 1),
       bylast AS (
         SELECT last_touch AS touch_type, count(*) AS n_last
         FROM attributed GROUP BY 1)
       SELECT touch_type,
              COALESCE(n_first, 0) AS n_first,
              COALESCE(n_last, 0) AS n_last
       FROM byfirst FULL JOIN bylast USING (touch_type)"""

  /** Semi/anti join surface (§2.7): customers with ≥1 order but no
    * high-value order.
    */
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(s, dir)
    val orders = Tables.orders(s, dir)
    val big = orders.filter(col("o_totalprice") > 400000.0)
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val semiAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey IN (SELECT o_custkey FROM orders)
         AND c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)"""

  /** SCD Type-2 dimension build from a CDC-style change stream — the
    * lakehouse pattern of turning an event log into validity intervals.
    * Here the tracked attribute is the user's current activity state
    * (`event_type`): consecutive same-state events are collapsed (a true
    * SCD2 compresses no-change updates), each retained row opens an
    * interval `[valid_from, valid_to)` closed by the next state change,
    * and the open interval is flagged `is_current`.
    *
    * Scale: ONE shuffle on `user_id`; both windows (the change detector
    * and the interval closer) share the same `(user_id | ts, event_id)`
    * partitioning+ordering, so Spark plans them in a single sort — no
    * second exchange. Per-user history is bounded (no global sort), so
    * this holds at 100 TB of events.
    */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(
        col("user_id"),
        col("event_type").as("state"),
        col("ts").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current"),
        col("version"))
  }

  val scd2IntervalsSql: String =
    """WITH ev AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
         FROM events),
       changes AS (
         SELECT *,
                lag(event_type) OVER w AS prev_state
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       kept AS (
         SELECT * FROM changes
         WHERE prev_state IS NULL OR prev_state <> event_type)
       SELECT user_id, event_type AS state, ts AS valid_from,
              lead(ts) OVER w AS valid_to,
              (lead(ts) OVER w IS NULL) AS is_current,
              CAST(row_number() OVER w AS BIGINT) AS version
       FROM kept
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** RFM customer segmentation over `orders` — recency (days since last
    * order at the data horizon), frequency (order count), monetary
    * (lifetime spend, exact integer cents). Each metric is scored 1–4 by
    * its own exact quartile thresholds; the composite segment label is
    * the standard champions / loyal / at-risk / hibernating read.
    *
    * Oracle parity: metrics are exact integers (days / counts / cents),
    * thresholds are interpolated quartiles ROUNDED to 6 dp before any
    * comparison — an exact integer compared to an identical rounded
    * constant can never flip between engines.
    *
    * Scale: orders is scanned ONCE into the persisted per-customer
    * aggregate (one `o_custkey` shuffle, map-side partial agg); the
    * horizon and the 9 thresholds are tiny aggregates of that table,
    * broadcast back. No global sort — the classic `ntile(4)` formulation
    * would total-order every customer through one partition; threshold
    * scoring keeps the final pass embarrassingly parallel at 100 TB.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val cust = Reuse.pin(
      Tables
        .orders(s, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(
          count(lit(1)).as("frequency"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_cents"),
          date_trunc("day", max(col("o_orderdate"))).as("last_day")))
    val horizon = cust.agg(max(col("last_day")).as("horizon_day"))
    val rec = cust
      .crossJoin(broadcast(horizon))
      .withColumn(
        "recency_days",
        datediff(col("horizon_day"), col("last_day")).cast("long"))
    val thr = rec.agg(
      round(expr("percentile(recency_days, 0.25)"), 6).as("r25"),
      round(expr("percentile(recency_days, 0.5)"), 6).as("r50"),
      round(expr("percentile(recency_days, 0.75)"), 6).as("r75"),
      round(expr("percentile(frequency, 0.25)"), 6).as("f25"),
      round(expr("percentile(frequency, 0.5)"), 6).as("f50"),
      round(expr("percentile(frequency, 0.75)"), 6).as("f75"),
      round(expr("percentile(monetary_cents, 0.25)"), 6).as("m25"),
      round(expr("percentile(monetary_cents, 0.5)"), 6).as("m50"),
      round(expr("percentile(monetary_cents, 0.75)"), 6).as("m75"))
    val score = (m: Column, t25: Column, t50: Column, t75: Column) =>
      (lit(1) + when(m > t25, 1).otherwise(0) + when(m > t50, 1).otherwise(0)
        + when(m > t75, 1).otherwise(0)).cast("long")
    rec
      .crossJoin(broadcast(thr))
      .withColumn(
        "r_score",
        // recency: LOWER is better — score counts thresholds we are below
        (lit(1) + when(col("recency_days") < col("r75"), 1).otherwise(0)
          + when(col("recency_days") < col("r50"), 1).otherwise(0)
          + when(col("recency_days") < col("r25"), 1).otherwise(0)).cast("long"))
      .withColumn("f_score", score(col("frequency"), col("f25"), col("f50"), col("f75")))
      .withColumn(
        "m_score",
        score(col("monetary_cents"), col("m25"), col("m50"), col("m75")))
      .withColumn(
        "segment",
        when(col("r_score") >= 3 && col("f_score") >= 3, "champion")
          .when(col("f_score") >= 3, "at_risk_loyal")
          .when(col("r_score") >= 3, "recent_light")
          .otherwise("hibernating"))
      .select(
        col("custkey"),
        col("recency_days"),
        col("frequency"),
        col("monetary_cents"),
        col("r_score"),
        col("f_score"),
        col("m_score"),
        col("segment"))
  }

  val rfmSegmentsSql: String =
    """WITH cust AS (
         SELECT o_custkey AS custkey,
                count(*) AS frequency,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS monetary_cents,
                date_trunc('day', max(o_orderdate)) AS last_day
         FROM orders GROUP BY 1),
       horizon AS (SELECT max(last_day) AS horizon_day FROM cust),
       rec AS (
         SELECT c.*, date_diff('day', c.last_day, h.horizon_day) AS recency_days
         FROM cust c CROSS JOIN horizon h),
       thr AS (
         SELECT round(quantile_cont(recency_days, 0.25), 6) AS r25,
                round(quantile_cont(recency_days, 0.5), 6) AS r50,
                round(quantile_cont(recency_days, 0.75), 6) AS r75,
                round(quantile_cont(frequency, 0.25), 6) AS f25,
                round(quantile_cont(frequency, 0.5), 6) AS f50,
                round(quantile_cont(frequency, 0.75), 6) AS f75,
                round(quantile_cont(monetary_cents, 0.25), 6) AS m25,
                round(quantile_cont(monetary_cents, 0.5), 6) AS m50,
                round(quantile_cont(monetary_cents, 0.75), 6) AS m75
         FROM rec),
       scored AS (
         SELECT r.custkey, r.recency_days, r.frequency, r.monetary_cents,
                CAST(1 + CASE WHEN r.recency_days < t.r75 THEN 1 ELSE 0 END
                       + CASE WHEN r.recency_days < t.r50 THEN 1 ELSE 0 END
                       + CASE WHEN r.recency_days < t.r25 THEN 1 ELSE 0 END
                     AS BIGINT) AS r_score,
                CAST(1 + CASE WHEN r.frequency > t.f25 THEN 1 ELSE 0 END
                       + CASE WHEN r.frequency > t.f50 THEN 1 ELSE 0 END
                       + CASE WHEN r.frequency > t.f75 THEN 1 ELSE 0 END
                     AS BIGINT) AS f_score,
                CAST(1 + CASE WHEN r.monetary_cents > t.m25 THEN 1 ELSE 0 END
                       + CASE WHEN r.monetary_cents > t.m50 THEN 1 ELSE 0 END
                       + CASE WHEN r.monetary_cents > t.m75 THEN 1 ELSE 0 END
                     AS BIGINT) AS m_score
         FROM rec r CROSS JOIN thr t)
       SELECT custkey, recency_days, frequency, monetary_cents,
              r_score, f_score, m_score,
              CASE WHEN r_score >= 3 AND f_score >= 3 THEN 'champion'
                   WHEN f_score >= 3 THEN 'at_risk_loyal'
                   WHEN r_score >= 3 THEN 'recent_light'
                   ELSE 'hibernating' END AS segment
       FROM scored"""

  /** Record-linkage fuzzy match: customer pairs whose names are within
    * Levenshtein distance `maxDist` (fixed at 2), found inside nation
    * blocks. The r11 shape — enumerate every in-nation pair — made
    * candidates grow as Σ block² (116.9× wall at 10× data, SCALE.md
    * r11); this round replaces enumeration with an EXACT composite
    * candidate generator, all equi-joins, no pair ever materialized
    * outside a selective key bucket:
    *
    *   1. SUBSTITUTION leg (Hamming pigeonhole, pair-of-classes form):
    *      every name's positions are partitioned into 4 character
    *      classes; ≤2 substituted positions touch ≤2 classes, leaving
    *      ≥2 classes untouched — so an equal-length pair within 2
    *      substitutions must agree EXACTLY on at least one of the
    *      C(4,2) = 6 unordered class PAIRS. Join key = (nation, length,
    *      pair_idx, pair_chars). A pair key concatenates TWO classes'
    *      characters, so its selectivity is roughly the SQUARE of a
    *      single class key's — the reason this beats the classic
    *      (k+1)-piece scheme (3 classes, key = 1 class): 6 exploded
    *      rows per name instead of 3 buys quadratically smaller
    *      candidate buckets. The partition itself is DATA-DRIVEN
    *      ([[fuzzyClassProfiles]]): positions dealt by measured
    *      per-position collision entropy in snake order, so every class
    *      carries a balanced share of the corpus's discriminating
    *      characters — contiguous segments die on shared prefixes
    *      ("Customer#" would make any head segment a zero-selectivity
    *      key), and even round-robin mod 3 left one class holding ~20
    *      distinct values at sf1, and that class carried most of the
    *      52M surviving candidates (SCALE.md r12).
    *   2. INDEL legs (bounded deletion neighborhoods, FastSS-style):
    *      any ≤2-op script with an insertion or deletion forces a
    *      shared string in the deletion neighborhoods: equal-length
    *      ins+del pairs meet at depth (1,1); pure 1-deletion pairs at
    *      (1,0); deletion+substitution at (2,1); 2-deletion at (2,0).
    *      Join key = (nation, variant). Depth-2 variants (the |name|²/2
    *      expansion) are generated ONLY when the corpus actually
    *      contains name lengths differing by 1 or 2 — decided from a
    *      driver-side scalar aggregate over the (tiny) distinct-length
    *      set, so a fixed-width corpus like this one never pays the
    *      quadratic neighborhood at all.
    *
    * Case analysis over ld = |len_a − len_b| proves the union complete:
    * ld=0 → (s≤2 subs → leg 1) or (1 ins + 1 del → depth (1,1));
    * ld=1 → (1 del → (1,0)) or (1 del + 1 sub → (2,1)); ld=2 → (2,0).
    * Every candidate is then verified by the banded DP, so the filter
    * only needs NO FALSE NEGATIVES — which the theorem gives — and the
    * output is identical to brute in-block enumeration (the oracle is
    * unchanged). Measured on the fixture: candidates drop ~19× at sf1
    * (SCALE.md r12).
    *
    * Scale: every join is a shuffle on a selective composite key; the
    * verified-pair dedup is one exchange on the canonical pair id. At
    * 100 TB the class count and deletion depth stay constants — the
    * candidate volume tracks key selectivity, not block².
    */
  def fuzzyMatch(s: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    graft.plans.BoundedLev.register(s)
    require(maxDist == 2,
      "fuzzyMatch's exact candidate generator is built for maxDist=2 " +
        "(4 pigeonhole classes joined on class pairs + depth-2 deletion " +
        "neighborhoods)")
    val verified = fuzzyCandidates(s, dir)
      // the native banded expression (prefix/suffix trim + O(k·n) byte
      // DP with early exit, codegen'd) — ~10× the builtin full-matrix
      // levenshtein on linkage-shaped names; same contract (−1 = over
      // threshold), locked against the builtin in BoundedLevSpec
      .withColumn(
        "dist",
        expr(s"bounded_lev(name_a, name_b, $maxDist)").cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    verified.select(
      col("block").cast("long").as("block"),
      col("cust_a"),
      col("cust_b"),
      col("dist"),
      round(
        lit(1.0) - col("dist").cast("double") /
          greatest(length(col("name_a")), length(col("name_b"))).cast("double"),
        6).as("name_sim"))
  }

  /** Number of pigeonhole classes in [[fuzzyClassProfiles]]. 4, not the
    * minimal k+1 = 3: the candidate join keys are the C(4,2) = 6 class
    * PAIRS, each carrying two classes' entropy — quadratically more
    * selective than a lone class for a 2× explode cost.
    */
  val FuzzyClassCount = 4

  /** The C(4,2) unordered class pairs, in a fixed enumeration shared by
    * the key builder and the audit spec.
    */
  val FuzzyClassPairs: Seq[(Int, Int)] =
    for { i <- 0 until FuzzyClassCount; j <- (i + 1) until FuzzyClassCount }
      yield (i, j)

  /** Per-length pigeonhole class assignment for [[fuzzyCandidates]]
    * leg 1, PROFILED FROM THE DATA rather than fixed round-robin.
    * Positions are weighted by measured collision entropy
    * (−ln Σ_c p_c², Rényi order 2 — chosen over Shannon because the
    * candidate volume a class key admits tracks COLLISION probability,
    * not code length) and dealt into the [[FuzzyClassCount]] classes in
    * snake order (0,1,2,3,3,2,1,0,…) by descending weight. Snake
    * dealing bounds the imbalance: max − min summed class weight ≤ the
    * single largest position weight, so no class is ever left holding
    * only the corpus's near-constant positions.
    *
    * EXACTNESS is assignment-independent: the pigeonhole theorem (≤2
    * substituted positions touch ≤2 of the 4 classes, so ≥1 enumerated
    * class pair is untouched) holds for ANY fixed partition of {1..len}
    * — the assignment only has to be the same on both sides of a pair,
    * guaranteed because it is a pure function of the global profile and
    * the name length. Short names are safe by construction: a name
    * shorter than the class count simply gets empty classes (an
    * explicit position array indexes nothing — no `sequence(lo, hi)`
    * boundary to trip on).
    *
    * The profile is one map-side-combined aggregate over the customer
    * dimension, collapsing to Σ_len len rows (a few hundred) before the
    * driver sees it — safe at any corpus size. The cnt² partial stays
    * below 2⁶³ up to ~3e9 same-length rows; past that ANSI fails loudly
    * rather than mis-profiling.
    */
  final case class FuzzyClassProfile(
      len: Int,
      classes: Array[Array[Int]], // cls_idx → ascending positions
      weights: Array[Double], // cls_idx → summed collision entropy
      maxPositionWeight: Double)

  def fuzzyClassProfiles(s: SparkSession, dir: String): Seq[FuzzyClassProfile] = {
    val prof = Tables
      .customer(s, dir)
      .select(col("c_name").as("nm"), length(col("c_name")).as("len"))
      .select(
        col("len"),
        posexplode(expr("transform(sequence(1, len), p -> substring(nm, p, 1))")))
      .groupBy(col("len"), (col("pos") + 1).as("p"), col("col").as("ch"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("len"), col("p"))
      .agg(sum(col("cnt")).as("n"), sum(col("cnt") * col("cnt")).as("sq"))
      .collect()
    prof
      .groupBy(_.getInt(0))
      .toSeq
      .map { case (len, rows) =>
        val posW = rows.map { r =>
          val n = r.getLong(2).toDouble
          val cp = math.min(1.0, r.getLong(3).toDouble / (n * n))
          (r.getInt(1), -math.log(math.max(cp, 1e-300)))
        }
        // descending weight, ascending position as the deterministic
        // tie-break (profile counts are exact integers, so the order —
        // and with it the whole assignment — is run-stable)
        val dealt = posW.sortBy { case (p, w) => (-w, p) }
        val q = FuzzyClassCount
        val classes = Array.fill(q)(Vector.empty[Int])
        val weights = Array.fill(q)(0.0)
        dealt.zipWithIndex.foreach { case ((p, w), k) =>
          val r = k % (2 * q)
          val ci = if (r < q) r else 2 * q - 1 - r
          classes(ci) :+= p
          weights(ci) += w
        }
        FuzzyClassProfile(
          len,
          classes.map(_.sorted.toArray),
          weights,
          if (dealt.isEmpty) 0.0 else dealt.head._2)
      }
      .sortBy(_.len)
  }

  /** Deduplicated candidate pairs for [[fuzzyMatch]] (exposed so the
    * scale study can count candidates without running the verify DP).
    * Columns: block, cust_a < cust_b, name_a, name_b.
    *
    * Note (ADVICE r15): with xxhash64 cand_keys the candidate set is an
    * UPPER BOUND modulo within-block 64-bit hash collisions — a
    * collision can admit a pair the brute in-block enumeration would
    * not. Exactness holds only after the bounded-Levenshtein verify,
    * which every registered query consumer applies.
    */
  def fuzzyCandidates(s: SparkSession, dir: String): DataFrame =
    fuzzyCandidatesOn(
      s,
      Tables
        .customer(s, dir)
        .select(
          col("c_nationkey").as("block"),
          col("c_custkey").as("ck"),
          col("c_name").as("nm"),
          length(col("c_name")).as("len")),
      fuzzyClassProfiles(s, dir))

  /** [[fuzzyCandidates]] generalized over the blocking key: `c` carries
    * (block, ck, nm, len) with `block` of ANY equatable type — the
    * exactness theorem only needs both sides of a pair to share the
    * block value, so a caller may pass a composite key (e.g.
    * [[entityResolution]]'s nation#band string) and every leg's join
    * gets the tighter bucket for free. `profiles` is the per-length
    * class assignment ([[fuzzyClassProfiles]]) — a pure function of the
    * corpus, shared across block schemes.
    */
  private[queries] def fuzzyCandidatesOn(
      s: SparkSession,
      c: DataFrame,
      profiles: Seq[FuzzyClassProfile]): DataFrame = {
    val lens = profiles.map(_.len).toSet
    val needDepth2 = lens.exists(l => lens.contains(l + 1) || lens.contains(l + 2))

    // Every candidate join below keys on (block, cand_key) where
    // cand_key is the xxhash64 of the leg's composite string key rather
    // than the string itself: equal strings hash equal, so no true
    // candidate is ever lost, and a within-block 64-bit collision only
    // ADDS a candidate that the bounded-DP verification then filters —
    // the output contract (identical to brute in-block enumeration) is
    // unchanged, while the pair shuffle carries an 8-byte long instead
    // of a 10–22-char string and the SMJ sorts compare longs (measured
    // at sf1: fuzzyMatch 19.4 → 17.0 s, entityResolution 25.0 → 20.3 s;
    // at sf10 both variants are output-bound — 109M verified pairs —
    // and read a wash in one-JVM A/B, 200.9 vs 193.3 s).
    // The block column stays OUTSIDE the hash: a cross-block collision
    // must never manufacture a pair the blocking contract excludes.

    // ---- leg 1: entropy-dealt pigeonhole classes, joined on class
    // PAIRS — each of the 6 keys concatenates two classes' characters
    // (positions kept in ascending order so both sides build the same
    // string). The (len, pair_idx) → position-array map is a handful of
    // rows; broadcast it and extract by explicit position list.
    import s.implicits._
    val classDef = profiles
      .flatMap(pr =>
        FuzzyClassPairs.zipWithIndex.map { case ((i, j), idx) =>
          (pr.len, idx, (pr.classes(i) ++ pr.classes(j)).sorted.toSeq)
        })
      .toDF("len", "cls_idx", "pos_arr")
    val classes = c
      .join(broadcast(classDef), Seq("len"))
      .select(
        col("block"), col("ck"),
        xxhash64(
          col("len"), col("cls_idx"),
          expr("concat_ws('', transform(pos_arr, p -> substring(nm, p, 1)))"))
          .as("cand_key"))
    val clsPairs = classes.as("x")
      .join(classes.as("y"), Seq("block", "cand_key"))
      .filter(col("x.ck") < col("y.ck"))
      .select(col("block"), col("x.ck").as("cust_a"), col("y.ck").as("cust_b"))

    // ---- legs 2: deletion neighborhoods -----------------------------
    // depth ≤ 1 variants: the name itself + every 1-deletion string.
    // The hash is applied AFTER the explode as a top-level expression,
    // not inside the transform lambda — a lambda body evaluates
    // interpreted per element (the r13 HOF lesson); post-explode it
    // rides whole-stage codegen and the string variant is pruned
    // before the shuffle.
    val v01 = c.select(
      col("block"), col("ck"),
      explode(expr(
        """array_union(array(nm),
          |  transform(sequence(1, len),
          |            i -> concat(substring(nm, 1, i - 1),
          |                        substring(nm, i + 1, len))))"""
          .stripMargin)).as("u"))
      .select(col("block"), col("ck"), xxhash64(col("u")).as("cand_key"))
    val delPairs01 = v01.as("x")
      .join(v01.as("y"), Seq("block", "cand_key"))
      .filter(col("x.ck") < col("y.ck"))
      .select(col("block"), col("x.ck").as("cust_a"), col("y.ck").as("cust_b"))

    val legs =
      if (!needDepth2) Seq(clsPairs, delPairs01)
      else {
        // depth-2 variants of the LONGER side join depth ≤1 variants of
        // the shorter ((2,0) and (2,1) in the case analysis); depth
        // (2,2) is deliberately never materialized — every true pair it
        // could catch is already covered by a cheaper leg
        val v2 = c.select(
          col("block"), col("ck"),
          explode(expr(
            """flatten(transform(sequence(1, len - 1), i ->
              |  transform(sequence(i + 1, len), j ->
              |    concat(substring(nm, 1, i - 1),
              |           substring(nm, i + 1, j - i - 1),
              |           substring(nm, j + 1, len)))))""".stripMargin)).as("u"))
          .select(col("block"), col("ck"), xxhash64(col("u")).as("cand_key"))
        val delPairs2 = v2.as("x")
          .join(v01.as("y"), Seq("block", "cand_key"))
          .filter(col("x.ck") =!= col("y.ck"))
          .select(
            col("block"),
            least(col("x.ck"), col("y.ck")).as("cust_a"),
            greatest(col("x.ck"), col("y.ck")).as("cust_b"))
        Seq(clsPairs, delPairs01, delPairs2)
      }
    // dedup on the bare (block, key, key) triple — a far lighter
    // exchange than carrying both 18+-char names through the shuffle —
    // then re-attach names via two joins against the (dimension-sized,
    // broadcastable) customer projection
    val pairs = legs.reduce(_ unionByName _).distinct()
    val names = c.select(col("ck"), col("nm"))
    pairs
      .join(broadcast(names.select(col("ck").as("cust_a"), col("nm").as("name_a"))), Seq("cust_a"))
      .join(broadcast(names.select(col("ck").as("cust_b"), col("nm").as("name_b"))), Seq("cust_b"))
      .select(col("block"), col("cust_a"), col("cust_b"), col("name_a"), col("name_b"))
  }

  def fuzzyMatchSql(maxDist: Int = 2): String =
    s"""SELECT CAST(a.c_nationkey AS BIGINT) AS block,
              a.c_custkey AS cust_a, b.c_custkey AS cust_b,
              CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
              round(1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
                    / greatest(length(a.c_name), length(b.c_name)), 6) AS name_sim
       FROM customer a JOIN customer b
         ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
       WHERE levenshtein(a.c_name, b.c_name) <= $maxDist"""

  /** One-pass data-profiling report over `lineitem` — per column: row
    * count, null count, distinct count, and numeric min/max (timestamps
    * profiled as epoch-microseconds; string columns keep min/max length
    * instead). The DQ summary a lakehouse runs before trusting a new
    * drop of data.
    *
    * Scale: a SINGLE scan either way, but the distinct mode changes the
    * constant factor. The DEFAULT (`approxDistinct = true`) is the
    * 100-TB mode: every per-column aggregate — including the 11
    * `approx_count_distinct` HLL sketches — runs as ONE plain
    * partial-aggregation pass, no Expand, no row multiplication
    * (plan-locked in PlanAuditSpec). The exact mode keeps the oracle
    * bit-exact as `size(collect_set(c))`: still one plain
    * partial-aggregation pass (sets dedup map-side, the exchange
    * carries one partial row per task) instead of the 12-way Expand
    * Spark plans for 11 multi-distincts — measured 4.9 s → 0.3 s at
    * sf0.1. The trade is explicit: exact-mode memory is Σ per-column
    * distinct VALUES (fine at verification scale, ~1.5 M longs per
    * heavy column at sf1; the mode a 100-TB profile run should never
    * pick — that's what the HLL default is for). The 1-row result is
    * then unpivoted with `stack`.
    */
  def dataProfile(
      s: SparkSession,
      dir: String,
      approxDistinct: Boolean = true): DataFrame = {
    val numeric = Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val strings = Seq("l_returnflag", "l_linestatus")
    val ts = Seq("l_shipdate")
    val li = Tables.lineitem(s, dir)
    // collect_set dedups with BOXED equality, under which -0.0 != 0.0
    // (and countDistinct's grouping normalizes -0.0 to 0.0), so the
    // exact mode must pre-normalize floating columns: `x + 0.0` maps
    // -0.0 to +0.0 and is identity elsewhere (NaN stays a single boxed
    // NaN — java.lang.Double.equals is reflexive on NaN, matching the
    // grouping normalization). Integer/decimal columns are left alone:
    // a double cast would collide distinct longs beyond 2^53.
    val floatCols: Set[String] = li.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType => f.name
    }.toSet
    // integral columns take the paged-bitmap exact-distinct aggregate
    // instead of collect_set (r17, guide §"per-task work"): the whole
    // 45-function aggregate runs in ObjectHashAggregateExec (interpreted
    // — collect_set forces the object tier), and the per-row cost of the
    // high-cardinality id columns was a BOXED HashSet insert with a
    // single-threaded boxed re-insert merge at the final stage. A bitmap
    // add is a word OR and its merge a page OR (exact same counts: both
    // skip nulls, both exact) — measured sf0.1 A/B in OPTIMIZATION_r17.
    val intCols: Set[String] = li.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType => f.name
    }.toSet
    if (!approxDistinct) graft.functions.BitmapAgg.register(s)
    def exactDistinctArg(c: String): Column =
      if (floatCols(c)) col(c) + lit(0.0) else col(c)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        (numeric ++ strings ++ ts).flatMap { c =>
          Seq(
            (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
            (if (approxDistinct) approx_count_distinct(col(c))
             else if (intCols(c)) expr(s"bitmap_distinct($c)")
             // size(collect_set) = exact distinct (both skip nulls) with
             // no Expand — see the mode trade in the Scaladoc above
             else size(collect_set(exactDistinctArg(c))).cast("long"))
              .as(s"${c}_distinct"))
        } ++
        numeric.flatMap { c =>
          Seq(
            round(min(col(c)).cast("double"), 6).as(s"${c}_min"),
            round(max(col(c)).cast("double"), 6).as(s"${c}_max"))
        } ++
        ts.flatMap { c =>
          // parquet reads TIMESTAMP_NTZ; session TZ is UTC so the cast to
          // TIMESTAMP is wall-clock identity and epoch_us parity holds
          Seq(
            unix_micros(min(col(c)).cast("timestamp")).cast("double").as(s"${c}_min"),
            unix_micros(max(col(c)).cast("timestamp")).cast("double").as(s"${c}_max"))
        } ++
        strings.flatMap { c =>
          Seq(
            min(length(col(c))).cast("double").as(s"${c}_min"),
            max(length(col(c))).cast("double").as(s"${c}_max"))
        }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val cols = numeric ++ ts ++ strings
    val stackArgs = cols
      .map(c => s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
      .mkString(", ")
    one.select(
      expr(
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_null, n_distinct, min_value, max_value)"),
      col("n_rows"))
      .select(
        col("column_name"),
        col("n_rows"),
        col("n_null"),
        col("n_distinct"),
        col("min_value"),
        col("max_value"),
        // the mode rides in the report (ADVICE r8): a direct caller on the
        // approx default sees "approx" in every row instead of silently
        // consuming HLL estimates as exact counts
        lit(if (approxDistinct) "approx" else "exact").as("distinct_mode"))
  }

  val dataProfileSql: String = {
    val numeric = Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rows =
      numeric.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           round(CAST(min($c) AS DOUBLE), 6) AS min_value,
           round(CAST(max($c) AS DOUBLE), 6) AS max_value,
           'exact' AS distinct_mode FROM lineitem"""
      } ++ Seq(
        """SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
           count(DISTINCT l_shipdate),
           CAST(epoch_us(min(l_shipdate)) AS DOUBLE),
           CAST(epoch_us(max(l_shipdate)) AS DOUBLE),
           'exact' FROM lineitem""",
        """SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag),
           CAST(min(length(l_returnflag)) AS DOUBLE),
           CAST(max(length(l_returnflag)) AS DOUBLE),
           'exact' FROM lineitem""",
        """SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
           count(DISTINCT l_linestatus),
           CAST(min(length(l_linestatus)) AS DOUBLE),
           CAST(max(length(l_linestatus)) AS DOUBLE),
           'exact' FROM lineitem""")
    rows.mkString("\n UNION ALL\n")
  }

  /** Declarative data-quality gate: a fixed rule book of range,
    * consistency, and referential-integrity checks, each reported as
    * (rule, rows checked, violations, violation fraction). The
    * expectation-suite operator every ingest pipeline runs as a
    * circuit-breaker before publishing a batch.
    *
    * Scale: all range/consistency rules on one table fold into a SINGLE
    * conditional-aggregation scan of that table (no per-rule passes);
    * each FK rule is one left-anti join, broadcast when the dimension
    * fits, shuffle-hash otherwise. The result is a handful of 1-row
    * aggregates unioned — driver-size output regardless of input size.
    */
  def qualityChecks(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val orders = Tables.orders(s, dir)
    val docs = Tables.documents(s, dir)
    val ev = Tables.events(s, dir)
    def rule(name: String, checked: Column, violated: Column): Column =
      struct(
        lit(name).as("check_name"),
        sum(checked.cast("long")).as("n_checked"),
        sum(violated.cast("long")).as("n_violations"))
    // one scan per TABLE, not per rule: conditional sums share the pass
    val liChecks = li.agg(
      rule(
        "lineitem_qty_in_1_50",
        lit(true),
        !col("l_quantity").between(1.0, 50.0)).as("a"),
      rule(
        "lineitem_discount_le_008",
        lit(true),
        col("l_discount") > 0.08).as("b"))
    val ordChecks = orders.agg(
      rule("orders_price_le_400k", lit(true), col("o_totalprice") > 400000.0).as("a"),
      rule(
        "orders_status_known",
        lit(true),
        !col("o_orderstatus").isin("O", "F", "P")).as("b"))
    val docChecks = docs.agg(
      rule(
        "documents_n_chars_consistent",
        lit(true),
        col("n_chars") =!= length(col("text"))).as("a"))
    val evChecks = ev.agg(
      rule("events_value_lt_400", lit(true), col("value") >= 400.0).as("a"))
    val fkOrders = orders
      .join(
        Tables.customer(s, dir).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"),
        "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .crossJoin(broadcast(orders.agg(count(lit(1)).as("n_all"))))
      .select(
        struct(
          lit("orders_fk_customer").as("check_name"),
          col("n_all").as("n_checked"),
          col("n_orphans").as("n_violations")).as("a"))
    val unioned = Seq(
      liChecks.select(explode(array(col("a"), col("b"))).as("r")),
      ordChecks.select(explode(array(col("a"), col("b"))).as("r")),
      docChecks.select(col("a").as("r")),
      evChecks.select(col("a").as("r")),
      fkOrders.select(col("a").as("r"))).reduce(_ unionByName _)
    unioned.select(
      col("r.check_name").as("check_name"),
      col("r.n_checked").as("n_checked"),
      col("r.n_violations").as("n_violations"),
      round(
        col("r.n_violations").cast("double") / col("r.n_checked").cast("double"),
        6).as("violation_frac"))
  }

  val qualityChecksSql: String =
    """WITH li AS (
         SELECT 'lineitem_qty_in_1_50' AS check_name, count(*) AS n_checked,
                CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 50.0)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_discount_le_008', count(*),
                CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem),
       ord AS (
         SELECT 'orders_price_le_400k' AS check_name, count(*) AS n_checked,
                CAST(sum(CASE WHEN o_totalprice > 400000.0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_violations
         FROM orders
         UNION ALL
         SELECT 'orders_status_known', count(*),
                CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                              THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders),
       doc AS (
         SELECT 'documents_n_chars_consistent' AS check_name, count(*) AS n_checked,
                CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_violations
         FROM documents),
       ev AS (
         SELECT 'events_value_lt_400' AS check_name, count(*) AS n_checked,
                CAST(sum(CASE WHEN value >= 400.0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_violations
         FROM events),
       fk AS (
         SELECT 'orders_fk_customer' AS check_name,
                (SELECT count(*) FROM orders) AS n_checked,
                (SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                  AS n_violations),
       unioned AS (
         SELECT * FROM li UNION ALL SELECT * FROM ord UNION ALL
         SELECT * FROM doc UNION ALL SELECT * FROM ev UNION ALL
         SELECT * FROM fk)
       SELECT check_name, n_checked, n_violations,
              round(CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE), 6)
                AS violation_frac
       FROM unioned"""

  /** Revenue-concentration (Gini) per market segment — the inequality
    * measure behind "how head-heavy is this segment's spend?". Exact
    * Gini needs every customer's global revenue RANK, the classic
    * scale trap: a bare `row_number() OVER (ORDER BY revenue)` funnels
    * the corpus through one partition. Here the rank is two-level (the
    * [[userDeciles]] / lang-mixture pattern): an equi-width revenue
    * bucket (monotone in the sort key, so offset+in-bucket rank IS the
    * global rank), a rank window bounded per (segment, bucket), and
    * running bucket offsets over the tiny (segment × buckets) count
    * table. Gini then folds from three exact-integer sums —
    * engine-deterministic with one final division.
    *
    * Scale: orders scanned once into the persisted per-customer table;
    * the segment dim joins keyed; bounds/offsets ride broadcasts. Σ
    * rank·cents stays < 2⁶³ to ~10⁹ customers × $10⁷ lifetime — beyond
    * that swap the two sums to decimal(38).
    */
  def giniConcentration(s: SparkSession, dir: String, buckets: Int = 64): DataFrame = {
    val rev = Tables
      .orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val seg = Tables
      .customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val base = Reuse.pin(
      rev
        .join(seg, col("custkey") === col("c_custkey"))
        .select(col("segment"), col("custkey"), col("cents")))
    val bounds = base
      .groupBy(col("segment"))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    val bucketed = base
      .join(broadcast(bounds), "segment")
      .withColumn(
        "bucket",
        least(
          lit(buckets - 1),
          (col("cents") - col("lo")) * buckets / (col("hi") - col("lo") + 1)).cast("long"))
    val wIn = Window
      .partitionBy(col("segment"), col("bucket"))
      .orderBy(col("cents"), col("custkey"))
    val counts = bucketed.groupBy(col("segment"), col("bucket")).agg(count(lit(1)).as("n_b"))
    val wOff = Window
      .partitionBy(col("segment"))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.withColumn("offset", coalesce(sum(col("n_b")).over(wOff), lit(0L)))
    bucketed
      .withColumn("r_in", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets.select(col("segment"), col("bucket"), col("offset"))),
        Seq("segment", "bucket"))
      .withColumn("rank", col("offset") + col("r_in"))
      .groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(col("rank") * col("cents")).as("srx"))
      .select(
        col("segment"),
        col("n_customers"),
        col("total_cents"),
        round(
          (lit(2.0) * col("srx").cast("double")
            - (col("n_customers") + 1).cast("double") * col("total_cents").cast("double"))
            / (col("n_customers").cast("double") * col("total_cents").cast("double")),
          6).as("gini"))
  }

  val giniConcentrationSql: String =
    """WITH rev AS (
         SELECT o_custkey AS custkey,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY 1),
       base AS (
         SELECT c.c_mktsegment AS segment, r.custkey, r.cents
         FROM rev r JOIN customer c ON r.custkey = c.c_custkey),
       ranked AS (
         SELECT segment, cents,
                CAST(row_number() OVER
                  (PARTITION BY segment ORDER BY cents, custkey) AS BIGINT) AS rank
         FROM base),
       agg AS (
         SELECT segment, count(*) AS n_customers,
                CAST(sum(cents) AS BIGINT) AS total_cents,
                CAST(sum(rank * cents) AS BIGINT) AS srx
         FROM ranked GROUP BY 1)
       SELECT segment, n_customers, total_cents,
              round((2.0 * CAST(srx AS DOUBLE)
                     - CAST(n_customers + 1 AS DOUBLE) * CAST(total_cents AS DOUBLE))
                    / (CAST(n_customers AS DOUBLE) * CAST(total_cents AS DOUBLE)), 6)
                AS gini
       FROM agg"""

  /** Cohort lifetime-value curves: customers cohorted by first-order
    * year; each (cohort, order-year) cell carries that year's revenue,
    * the running cumulative, and cumulative LTV per cohort member — the
    * retention-economics read behind "do newer cohorts monetise
    * faster?".
    *
    * Scale: orders collapses map-side to per-(customer, year) cents
    * (persisted — scanned once); the cohort assignment is a keyed
    * self-join on custkey over that already-reduced table; everything
    * after lives on |cohorts|×|years| rows, windows included. All sums
    * exact integer cents.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val perYear = Reuse.pin(
      Tables
        .orders(s, dir)
        .select(
          col("o_custkey").as("custkey"),
          year(col("o_orderdate")).cast("long").as("order_year"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("custkey"), col("order_year"))
        .agg(sum(col("cents")).as("cents")))
    val cohorts = perYear
      .groupBy(col("custkey"))
      .agg(min(col("order_year")).as("cohort_year"))
    val sizes = cohorts.groupBy(col("cohort_year")).agg(count(lit(1)).as("cohort_size"))
    val w = Window
      .partitionBy(col("cohort_year"))
      .orderBy(col("order_year"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perYear
      .join(cohorts, "custkey")
      .groupBy(col("cohort_year"), col("order_year"))
      .agg(sum(col("cents")).as("year_cents"))
      .withColumn("cum_cents", sum(col("year_cents")).over(w))
      .join(broadcast(sizes), "cohort_year")
      .select(
        col("cohort_year"),
        col("order_year"),
        col("cohort_size"),
        col("year_cents"),
        col("cum_cents"),
        round(
          col("cum_cents").cast("double") / (col("cohort_size").cast("double") * 100.0),
          6).as("cum_ltv_per_customer"))
  }

  val cohortLtvSql: String =
    """WITH per_year AS (
         SELECT o_custkey AS custkey,
                CAST(year(o_orderdate) AS BIGINT) AS order_year,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY 1, 2),
       cohorts AS (
         SELECT custkey, min(order_year) AS cohort_year
         FROM per_year GROUP BY 1),
       sizes AS (
         SELECT cohort_year, count(*) AS cohort_size FROM cohorts GROUP BY 1),
       cells AS (
         SELECT c.cohort_year, p.order_year, CAST(sum(p.cents) AS BIGINT) AS year_cents
         FROM per_year p JOIN cohorts c USING (custkey)
         GROUP BY 1, 2),
       cum AS (
         SELECT *, CAST(sum(year_cents) OVER
                  (PARTITION BY cohort_year ORDER BY order_year
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum_cents
         FROM cells)
       SELECT m.cohort_year, m.order_year, s.cohort_size, m.year_cents, m.cum_cents,
              round(CAST(m.cum_cents AS DOUBLE)
                    / (CAST(s.cohort_size AS DOUBLE) * 100.0), 6)
                AS cum_ltv_per_customer
       FROM cum m JOIN sizes s USING (cohort_year)"""

  /** Welch's two-sample t-test per event type between a deterministic
    * 50/50 A/B split of users (md5 parity of user_id — the
    * [[CurationQueries]] hash-split convention, so assignment is stable
    * under re-partitioning and re-runs). Reports per-variant means and
    * the t statistic with Welch–Satterthwaite degrees of freedom — the
    * experimentation-platform readout.
    *
    * Oracle parity: each variant's moments are exact integers (n,
    * Σcents, Σcents²); mean/variance/t/df are scalar arithmetic on
    * those six integers with an identical expression tree in both
    * engines. Scale: ONE shuffle on the bounded (type × variant) key
    * space; the variant key is a pure map expression.
    */
  /** Sample-ratio-mismatch check — the experiment-ops gate that runs
    * BEFORE anyone reads an A/B readout: with a 50/50 md5 split, the
    * two-cell χ² collapses to the exact integer identity
    * `(n0 − n1)² / n`, computed once on the one-row arm counts and
    * compared against the 95% critical value. A triggered flag means
    * the assignment itself is broken and every downstream metric is
    * suspect.
    */
  def srmCheck(s: SparkSession, dir: String): DataFrame = {
    val variant = expr(OracleHash.bucketExpr("cast(user_id as string)", 2))
    Tables
      .events(s, dir)
      .select(col("user_id"))
      .distinct()
      .select(variant.as("variant"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
      .select(
        col("n0"),
        col("n1"),
        round(
          ((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double") /
            (col("n0") + col("n1")).cast("double"),
          6).as("chi2"),
        (((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double") /
          (col("n0") + col("n1")).cast("double") > lit(3.841)).as("srm_flag"))
  }

  val srmCheckSql: String = {
    val arm = OracleHash.bucketSql("CAST(user_id AS VARCHAR)", 2)
    s"""WITH arms AS (
         SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
         FROM (SELECT DISTINCT user_id, $arm AS v FROM events))
       SELECT n0, n1,
              round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                    / CAST(n0 + n1 AS DOUBLE), 6) AS chi2,
              CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                / CAST(n0 + n1 AS DOUBLE) > 3.841 AS srm_flag
       FROM arms"""
  }

  /** Minimum detectable effect — the experiment-sizing readout: from
    * the exact per-user spend moments, the absolute and relative
    * effect a 50/50 split of THIS population can detect at α=0.05,
    * power 0.8 (the (z_{α/2}+z_β) constant written as one literal in
    * both engines). Variance from the exact integer moment identity;
    * sqrt is IEEE-correctly-rounded, so the result is bit-stable.
    */
  def mdeReadout(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
    perUser
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sx"),
        sum(col("cents") * col("cents")).as("sxx"))
      .select(
        col("n").as("n_users"),
        round(col("sx").cast("double") / col("n").cast("double") / lit(100.0), 6)
          .as("mean_spend"),
        round(
          sqrt(
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
              (col("n").cast("double") * (col("n").cast("double") - lit(1.0)))) / lit(100.0),
          6).as("sd_spend"),
        round(
          lit(2.8015852186) *
            sqrt(
              lit(2.0) *
                ((col("n").cast("double") * col("sxx").cast("double") -
                  col("sx").cast("double") * col("sx").cast("double")) /
                  (col("n").cast("double") * (col("n").cast("double") - lit(1.0)))) /
                (col("n").cast("double") / lit(2.0))) / lit(100.0),
          6).as("mde_abs"))
  }

  val mdeReadoutSql: String =
    """WITH pu AS (
         SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS cents
         FROM events GROUP BY 1),
       m AS (
         SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS sx,
                CAST(sum(cents * cents) AS BIGINT) AS sxx
         FROM pu)
       SELECT n AS n_users,
              round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_spend,
              round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0, 6)
                AS sd_spend,
              round(2.8015852186
                    * sqrt(2.0 * ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                           / (CAST(n AS DOUBLE) / 2.0)) / 100.0, 6) AS mde_abs
       FROM m"""

  def abTtest(s: SparkSession, dir: String): DataFrame = {
    val variant = expr(OracleHash.bucketExpr("cast(user_id as string)", 2))
    val m = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        variant.as("variant"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("variant"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
    val a = m.filter(col("variant") === 0).select(
      col("event_type"), col("n").as("n_a"), col("s1").as("s1_a"), col("s2").as("s2_a"))
    val b = m.filter(col("variant") === 1).select(
      col("event_type"), col("n").as("n_b"), col("s1").as("s1_b"), col("s2").as("s2_b"))
    def mean(s1: Column, n: Column): Column =
      s1.cast("double") / (n.cast("double") * 100.0)
    def variance(s2: Column, s1: Column, n: Column): Column =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / n.cast("double")) /
        ((n - 1).cast("double") * 10000.0)
    val joined = a
      .join(b, "event_type")
      .withColumn("mean_a", mean(col("s1_a"), col("n_a")))
      .withColumn("mean_b", mean(col("s1_b"), col("n_b")))
      .withColumn("var_a", variance(col("s2_a"), col("s1_a"), col("n_a")))
      .withColumn("var_b", variance(col("s2_b"), col("s1_b"), col("n_b")))
      .withColumn("se_a", col("var_a") / col("n_a").cast("double"))
      .withColumn("se_b", col("var_b") / col("n_b").cast("double"))
    joined.select(
      col("event_type"),
      col("n_a"),
      col("n_b"),
      round(col("mean_a"), 6).as("mean_a"),
      round(col("mean_b"), 6).as("mean_b"),
      round((col("mean_a") - col("mean_b")) / sqrt(col("se_a") + col("se_b")), 6)
        .as("t_stat"),
      round(
        (col("se_a") + col("se_b")) * (col("se_a") + col("se_b")) /
          (col("se_a") * col("se_a") / (col("n_a") - 1).cast("double")
            + col("se_b") * col("se_b") / (col("n_b") - 1).cast("double")),
        6).as("welch_df"))
  }

  val abTtestSql: String =
    s"""WITH m AS (
         SELECT event_type,
                ${OracleHash.bucketSql("CAST(user_id AS VARCHAR)", 2)} AS variant,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
                CAST(sum(CAST(round(value * 100) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
         FROM events GROUP BY 1, 2),
       a AS (SELECT event_type, n AS n_a, s1 AS s1_a, s2 AS s2_a FROM m WHERE variant = 0),
       b AS (SELECT event_type, n AS n_b, s1 AS s1_b, s2 AS s2_b FROM m WHERE variant = 1),
       j AS (
         SELECT event_type, n_a, n_b,
                CAST(s1_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0) AS mean_a,
                CAST(s1_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0) AS mean_b,
                ((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE)
                    / CAST(n_a AS DOUBLE)) / (CAST(n_a - 1 AS DOUBLE) * 10000.0))
                  / CAST(n_a AS DOUBLE) AS se_a,
                ((CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE)
                    / CAST(n_b AS DOUBLE)) / (CAST(n_b - 1 AS DOUBLE) * 10000.0))
                  / CAST(n_b AS DOUBLE) AS se_b
         FROM a JOIN b USING (event_type))
       SELECT event_type, n_a, n_b,
              round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
              round((mean_a - mean_b) / sqrt(se_a + se_b), 6) AS t_stat,
              round((se_a + se_b) * (se_a + se_b)
                    / (se_a * se_a / CAST(n_a - 1 AS DOUBLE)
                       + se_b * se_b / CAST(n_b - 1 AS DOUBLE)), 6) AS welch_df
       FROM j"""

  /** Winsorized robust statistics per event type: values clamped at
    * discrete p05/p95 thresholds before averaging — the
    * outlier-tolerant mean a metrics pipeline reports next to the raw
    * one. The thresholds are DISCRETE order statistics derived with
    * pure integer arithmetic (smallest cents value whose cumulative
    * count × 20 reaches n, resp. 19n) — an interpolated
    * `percentile(…, 0.05)` rounded to the cents grid can land on an
    * engine-divergent rounding boundary, so no float touches the
    * threshold definition at all.
    *
    * Scale: events collapses map-side to the (type, cents) VALUE
    * distribution — the cumulative window runs over value-domain-sized
    * groups (bounded by the price grid, not the corpus); thresholds
    * broadcast back (|types| rows) into one conditional-aggregation
    * pass over the same persisted distribution. Exact integer sums
    * throughout; final divisions only. Since r10 the same pass also
    * emits the TRIMMED mean (outliers dropped rather than clamped):
    * the rank window (⌈n/20⌉, ⌈19n/20⌉] with exact partial-count
    * overlap at boundary ties — ties at the cut are split by COUNT,
    * never by row sampling.
    */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val dist = Reuse.pin(
      Tables
        .events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c")))
    val tot = dist.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val wCum = Window
      .partitionBy(col("event_type"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist
      .withColumn("cum", sum(col("c")).over(wCum))
      .join(broadcast(tot), "event_type")
    val thr = cum
      .groupBy(col("event_type"))
      .agg(
        min(when(col("cum") * 20 >= col("n"), col("cents"))).as("lo_cents"),
        min(when(col("cum") * 20 >= col("n") * 19, col("cents"))).as("hi_cents"))
    // trimmed mean (r10): the rank window (⌈n/20⌉, ⌈19n/20⌉] with exact
    // partial-count overlap at boundary ties — each distinct value
    // contributes min(cum, khi) − max(cum − c, klo) clamped at 0, so
    // ties at the cut are split by COUNT, never by row sampling
    val klo = expr("(n + 19) div 20")
    val khi = expr("(19 * n + 19) div 20")
    cum
      .join(broadcast(thr), "event_type")
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        max(col("lo_cents")).as("lo_cents"),
        max(col("hi_cents")).as("hi_cents"),
        sum(when(col("cents") < col("lo_cents"), col("c")).otherwise(0L))
          .as("n_clamped_low"),
        sum(when(col("cents") > col("hi_cents"), col("c")).otherwise(0L))
          .as("n_clamped_high"),
        sum(col("c") * col("cents")).as("raw_cents"),
        sum(
          col("c") * least(greatest(col("cents"), col("lo_cents")), col("hi_cents")))
          .as("win_cents"),
        sum(greatest(
          lit(0L),
          least(col("cum"), khi) - greatest(col("cum") - col("c"), klo)) * col("cents"))
          .as("trim_cents"),
        max(khi - klo).as("n_trimmed"))
      .select(
        col("event_type"),
        col("n"),
        round(col("lo_cents").cast("double") / 100.0, 2).as("p05"),
        round(col("hi_cents").cast("double") / 100.0, 2).as("p95"),
        col("n_clamped_low"),
        col("n_clamped_high"),
        round(col("raw_cents").cast("double") / (col("n").cast("double") * 100.0), 6)
          .as("raw_mean"),
        round(col("win_cents").cast("double") / (col("n").cast("double") * 100.0), 6)
          .as("winsorized_mean"),
        round(
          col("trim_cents").cast("double") / (col("n_trimmed").cast("double") * 100.0),
          6).as("trimmed_mean"))
  }

  val winsorizedStatsSql: String =
    """WITH dist AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
                count(*) AS c
         FROM events GROUP BY 1, 2),
       tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM dist GROUP BY 1),
       cum AS (
         SELECT d.event_type, d.cents, d.c, t.n,
                CAST(sum(d.c) OVER
                  (PARTITION BY d.event_type ORDER BY d.cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM dist d JOIN tot t USING (event_type)),
       thr AS (
         SELECT event_type,
                min(CASE WHEN cum * 20 >= n THEN cents END) AS lo_cents,
                min(CASE WHEN cum * 20 >= n * 19 THEN cents END) AS hi_cents
         FROM cum GROUP BY 1)
       SELECT d.event_type,
              CAST(max(d.n) AS BIGINT) AS n,
              round(CAST(max(t.lo_cents) AS DOUBLE) / 100.0, 2) AS p05,
              round(CAST(max(t.hi_cents) AS DOUBLE) / 100.0, 2) AS p95,
              CAST(sum(CASE WHEN d.cents < t.lo_cents THEN d.c ELSE 0 END) AS BIGINT)
                AS n_clamped_low,
              CAST(sum(CASE WHEN d.cents > t.hi_cents THEN d.c ELSE 0 END) AS BIGINT)
                AS n_clamped_high,
              round(CAST(CAST(sum(d.c * d.cents) AS BIGINT) AS DOUBLE)
                    / (CAST(CAST(max(d.n) AS BIGINT) AS DOUBLE) * 100.0), 6)
                AS raw_mean,
              round(CAST(CAST(sum(d.c * least(greatest(d.cents, t.lo_cents), t.hi_cents))
                              AS BIGINT) AS DOUBLE)
                    / (CAST(CAST(max(d.n) AS BIGINT) AS DOUBLE) * 100.0), 6)
                AS winsorized_mean,
              round(CAST(CAST(sum(greatest(0, least(d.cum, (19 * d.n + 19) // 20)
                                              - greatest(d.cum - d.c, (d.n + 19) // 20))
                                  * d.cents) AS BIGINT) AS DOUBLE)
                    / (CAST(CAST(max((19 * d.n + 19) // 20 - (d.n + 19) // 20)
                             AS BIGINT) AS DOUBLE) * 100.0), 6)
                AS trimmed_mean
       FROM cum d JOIN thr t USING (event_type)
       GROUP BY 1"""

  /** Tukey IQR outlier fences per event type — the robust DQ screen
    * next to [[winsorizedStats]] (shared machinery: exact integer-cents
    * value histogram, `percentile_disc`-style order statistics from a
    * cumulative count — no floating-point interpolation, so the
    * quartiles are cross-engine exact). Fences at Q1 − 1.5·IQR and
    * Q3 + 1.5·IQR; the ×2 comparison keeps the half-cent fence in
    * integers.
    *
    * Scale: the histogram collapses the corpus to (type, distinct cent)
    * rows — the window runs over THAT, never the raw events (same shape
    * as winsorizedStats; the distinct-value table is bounded by value
    * cardinality, and a per-type cumulative window over it is keyed).
    */
  def iqrOutliers(s: SparkSession, dir: String): DataFrame = {
    val dist = Reuse.pin(
      Tables
        .events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c")))
    val tot = dist.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val wCum = Window
      .partitionBy(col("event_type"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist
      .withColumn("cum", sum(col("c")).over(wCum))
      .join(broadcast(tot), "event_type")
    val thr = cum
      .groupBy(col("event_type"))
      .agg(
        min(when(col("cum") * 4 >= col("n"), col("cents"))).as("q1_cents"),
        min(when(col("cum") * 4 >= col("n") * 3, col("cents"))).as("q3_cents"))
    val iqr = col("q3_cents") - col("q1_cents")
    dist
      .join(broadcast(thr), "event_type")
      .groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n"),
        max(col("q1_cents")).as("q1c"),
        max(col("q3_cents")).as("q3c"),
        sum(when(col("cents") * 2 < col("q1_cents") * 2 - iqr * 3, col("c"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("cents") * 2 > col("q3_cents") * 2 + iqr * 3, col("c"))
          .otherwise(0L)).as("n_high"))
      .select(
        col("event_type"),
        col("n"),
        round(col("q1c").cast("double") / 100.0, 2).as("q1"),
        round(col("q3c").cast("double") / 100.0, 2).as("q3"),
        round((col("q3c") - col("q1c")).cast("double") / 100.0, 2).as("iqr"),
        col("n_low"),
        col("n_high"),
        round((col("n_low") + col("n_high")).cast("double") / col("n").cast("double"), 6)
          .as("outlier_frac"))
  }

  val iqrOutliersSql: String =
    """WITH dist AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
                count(*) AS c
         FROM events GROUP BY 1, 2),
       tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM dist GROUP BY 1),
       cum AS (
         SELECT d.event_type, d.cents, d.c, t.n,
                CAST(sum(d.c) OVER
                  (PARTITION BY d.event_type ORDER BY d.cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM dist d JOIN tot t USING (event_type)),
       thr AS (
         SELECT event_type,
                min(CASE WHEN cum * 4 >= n THEN cents END) AS q1_cents,
                min(CASE WHEN cum * 4 >= n * 3 THEN cents END) AS q3_cents
         FROM cum GROUP BY 1)
       SELECT d.event_type,
              CAST(sum(d.c) AS BIGINT) AS n,
              round(CAST(max(t.q1_cents) AS DOUBLE) / 100.0, 2) AS q1,
              round(CAST(max(t.q3_cents) AS DOUBLE) / 100.0, 2) AS q3,
              round(CAST(max(t.q3_cents) - max(t.q1_cents) AS DOUBLE) / 100.0, 2) AS iqr,
              CAST(sum(CASE WHEN d.cents * 2 < t.q1_cents * 2 - (t.q3_cents - t.q1_cents) * 3
                            THEN d.c ELSE 0 END) AS BIGINT) AS n_low,
              CAST(sum(CASE WHEN d.cents * 2 > t.q3_cents * 2 + (t.q3_cents - t.q1_cents) * 3
                            THEN d.c ELSE 0 END) AS BIGINT) AS n_high,
              round(CAST(sum(CASE WHEN d.cents * 2 < t.q1_cents * 2 - (t.q3_cents - t.q1_cents) * 3
                                   OR d.cents * 2 > t.q3_cents * 2 + (t.q3_cents - t.q1_cents) * 3
                              THEN d.c ELSE 0 END) AS DOUBLE)
                    / CAST(sum(d.c) AS DOUBLE), 6) AS outlier_frac
       FROM dist d JOIN thr t USING (event_type)
       GROUP BY 1"""

  /** CDC apply: collapse an upsert/delete change stream into the final
    * snapshot — the MERGE step of every incremental lakehouse table.
    * The events table plays the op log: key = user_id, op = event_type
    * (`purchase` ⇒ DELETE, anything else ⇒ UPSERT of `value`), latest
    * change per key wins (ts, then event_id as the unique tiebreak);
    * keys whose last op is a delete vanish from the snapshot.
    *
    * Scale: latest-per-key is ONE partial-aggregated `max(struct)` —
    * map-side combine collapses each partition to one candidate per key
    * before the single shuffle; no window, no sort of the full log
    * (same pattern as the first-occurrence dedups, plan-locked). The
    * change count rides the same aggregate.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      // µs-integer event time: exact ordering in both engines (Tables
      // normalises ts to µs TimestampType whatever the file stored)
      .select(
        col("user_id"),
        struct(unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("event_id"),
          col("event_type"), col("value")).as("ch"))
      .groupBy(col("user_id"))
      .agg(max(col("ch")).as("last"), count(lit(1)).as("n_changes"))
      .filter(col("last.event_type") =!= "purchase")
      .select(
        col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.ts_us").as("last_ts_us"),
        round(col("last.value"), 4).as("last_value"),
        col("n_changes"))

  val cdcApplySql: String =
    """SELECT user_id, event_id AS last_event_id,
              epoch_us(CAST(ts AS TIMESTAMP)) AS last_ts_us,
              round(value, 4) AS last_value, n_changes
       FROM (SELECT user_id, event_id, ts, value, event_type,
                    count(*) OVER (PARTITION BY user_id) AS n_changes,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                                event_id DESC) AS rn
             FROM events)
       WHERE rn = 1 AND event_type <> 'purchase'"""

  /** Benford's-law first-digit audit of `l_extendedprice` — the
    * fraud/synthetic-data screen a DQ suite runs on monetary columns:
    * observed first-significant-digit counts against the Benford
    * expectation P(d) = log10(1 + 1/d), with the per-digit χ²
    * contribution surfaced (large contributions localize the deviation).
    *
    * Exactness: prices carry 2 decimals, so ×100 + round recovers exact
    * integer cents; the first digit comes from the integer's decimal
    * string (identical in both engines — no log10 floor, whose last-ulp
    * rounding flips at powers of ten); the Benford shares are inlined
    * literals, not engine log10 calls.
    *
    * Scale: one narrow scan → 9-group aggregate; the scalar total joins
    * back by broadcast. Nothing here grows with data size but the scan.
    */
  def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    val benford = Seq(0.3010299957, 0.1760912591, 0.1249387366, 0.0969100130,
      0.0791812460, 0.0669467896, 0.0579919470, 0.0511525224, 0.0457574906)
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val obs = Tables
      .lineitem(s, dir)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    // total from the 9-row digit table, NOT a second corpus scan
    val total = obs.agg(sum(col("n_obs")).as("n_total"))
    val share = element_at(array(benford.map(lit): _*), col("digit"))
    obs
      .crossJoin(broadcast(total))
      .withColumn("expected_n", col("n_total") * share)
      .select(
        col("digit"),
        col("n_obs"),
        round(col("expected_n"), 4).as("expected_n"),
        round(
          (col("n_obs") - col("expected_n")) * (col("n_obs") - col("expected_n"))
            / col("expected_n"),
          6).as("chi2_contrib"))
  }

  val benfordDigitsSql: String =
    """WITH obs AS (
         SELECT substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1)::INT
                  AS digit,
                count(*) AS n_obs
         FROM lineitem GROUP BY 1
       ), tot AS (SELECT count(*) AS n_total FROM lineitem),
       sh AS (
         SELECT o.digit, o.n_obs,
                t.n_total * ([0.3010299957, 0.1760912591, 0.1249387366, 0.0969100130,
                              0.0791812460, 0.0669467896, 0.0579919470, 0.0511525224,
                              0.0457574906][o.digit]) AS expected_n
         FROM obs o CROSS JOIN tot t
       )
       SELECT digit, n_obs, round(expected_n, 4) AS expected_n,
              round((n_obs - expected_n) * (n_obs - expected_n) / expected_n, 6)
                AS chi2_contrib
       FROM sh"""

  /** Sweep-line concurrency: the maximum number of simultaneously open
    * 30-minute activity intervals per day — the "peak concurrent
    * sessions" metric capacity planning reads. Each event opens a
    * half-open presence interval `[ts, ts+30 min)`; +1/−1 boundary
    * points are swept in (time, delta) order (the −1 sorts first at a
    * shared instant, honoring half-openness), and the running sum's
    * daily maximum is the answer.
    *
    * Scale: NO global-order window (the naive sweep funnels the corpus
    * through one partition). The prefix sum decomposes: a per-DAY
    * window handles the points (keyed exchange, bounded partitions),
    * day-level totals form a tiny control-plane table whose own prefix
    * sum (window over #days rows) offsets each day's running values —
    * the langMixture/userDeciles running-offset pattern applied to time.
    * All-integer arithmetic; the RANGE window frame gives boundary ties
    * the group-total value in both engines, so the max is
    * order-invariant and exact.
    */
  def concurrency(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val sessionUs = 30L * 60 * 1000000L
    // both boundary points from ONE scan (explode, not a self-union that
    // reads the file twice)
    val pts = ev
      .select(explode(array(
        struct(col("ts_us").as("t"), lit(1L).as("delta")),
        struct((col("ts_us") + sessionUs).as("t"), lit(-1L).as("delta")))).as("p"))
      .select(col("p.t").as("t"), col("p.delta").as("delta"))
      .withColumn("day", to_date(timestamp_micros(col("t"))))
    val wDay = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
    val inDay = pts.withColumn("run_in_day", sum(col("delta")).over(wDay))
    // per-day max AND total in the SAME aggregation — one pass over the
    // points; the cross-day offset window then runs on the tiny per-day
    // table only
    val wOff = Window
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    inDay
      .groupBy(col("day"))
      .agg(
        max(col("run_in_day")).as("max_in_day"),
        sum(col("delta")).as("day_total"))
      .withColumn("day_offset", coalesce(sum(col("day_total")).over(wOff), lit(0L)))
      .select(
        col("day"),
        (col("day_offset") + col("max_in_day")).as("max_concurrent"))
  }

  val concurrencySql: String =
    """WITH pts AS (
         SELECT CAST(ts AS TIMESTAMP) AS t, 1 AS delta FROM events
         UNION ALL
         SELECT CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events
       ),
       sweep AS (
         SELECT CAST(date_trunc('day', t) AS DATE) AS day,
                sum(delta) OVER (ORDER BY t, delta) AS running
         FROM pts
       )
       SELECT day, CAST(max(running) AS BIGINT) AS max_concurrent
       FROM sweep GROUP BY day"""

  /** Top-N per group — the most common analytics ask (here: each
    * customer's 3 highest-value orders). The rank-filter shape matters
    * at 100 TB: Spark 4 plans `row_number ≤ k` as
    * `WindowGroupLimit(Partial)` BELOW the exchange, cutting every scan
    * partition to its per-group top-k map-side, so the shuffle carries
    * ≤ k rows per (group, partition) instead of the whole fact table
    * (plan-locked in PlanAuditSpec — losing that rewrite silently turns
    * this into a full-table window sort).
    */
  def topPerGroup(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables
      .orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("o_custkey"),
        col("rank"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
  }

  def topPerGroupSql(k: Int = 3): String =
    s"""SELECT o_custkey,
              CAST(row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
                AS rank,
              o_orderkey, round(o_totalprice, 2) AS o_totalprice
       FROM orders
       QUALIFY rank <= $k"""

  /** Z-order layout audit: every lineitem row mapped onto the 32-bit
    * Morton curve over (orderkey, partkey) low-16-bit coordinates
    * ([[graft.plans.ZOrderKey]], codegen'd), then grouped into the
    * curve's 4096 top-level buckets with each bucket's min/max along
    * BOTH dimensions. This is the audit a layout job runs after
    * `OPTIMIZE ZORDER BY`-style clustering: because a bucket fixes the
    * top 6 interleaved bits of each dimension, every bucket's span is
    * < 2¹⁰ on both axes (locked in PlanSpec) — i.e. file-level min/max
    * statistics prune scans filtered on EITHER column, the point of
    * z-ordering.
    *
    * Scale: the key is a branch-free native expression inside
    * whole-stage codegen (one evaluation per row, no lambda); the audit
    * itself is one 4096-group aggregate. The layout write this audits
    * is `df.repartitionByRange(col("z"))...write` — same key, same
    * expression.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    graft.plans.ZOrderKey.register(s)
    Tables
      .lineitem(s, dir)
      .select(
        (col("l_orderkey") % 65536).cast("long").as("p16"),
        (col("l_partkey") % 65536).cast("long").as("s16"))
      .withColumn("z", expr("z_order_key(p16, s16)"))
      .groupBy(shiftright(col("z"), 20).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("p16")).as("p_min"),
        max(col("p16")).as("p_max"),
        min(col("s16")).as("s_min"),
        max(col("s16")).as("s_max"))
  }

  val zorderLayoutSql: String =
    """WITH z AS (
         SELECT list_sum([(((l_orderkey % 65536) >> i) & 1) * (1::BIGINT << (2*i))
                          + (((l_partkey % 65536) >> i) & 1) * (1::BIGINT << (2*i+1))
                          FOR i IN range(16)]) AS zkey,
                (l_orderkey % 65536)::BIGINT AS p16,
                (l_partkey % 65536)::BIGINT AS s16
         FROM lineitem
       )
       SELECT (zkey // 1048576)::BIGINT AS bucket, count(*) AS n,
              min(p16) AS p_min, max(p16) AS p_max,
              min(s16) AS s_min, max(s16) AS s_max
       FROM z GROUP BY 1"""

  /** Dynamic partition pruning end-to-end: the fact table is written
    * date-partitioned (the layout every 100 TB event store uses), then
    * joined against a filtered busy-day dimension — Spark injects the
    * dim's date set as a runtime `dynamicpruning` partition filter into
    * the fact scan, so only the qualifying date directories are read.
    * This is THE mechanism that turns a full 100 TB scan into a
    * several-partition read when the filter lives on the dimension; the
    * static sibling is [[scanPrune]] (literal predicates pushed at plan
    * time). PlanAuditSpec locks the `dynamicpruning` partition filter
    * in the scan.
    *
    * Scratch: per-application tmp dir, overwritten per run (second
    * bench pass exercises the truncate path), mirroring
    * [[PipelineQueries.traceFileRoundtrip]].
    *
    * Determinism: the busy-day threshold (count > 1.05·mean) is exact
    * integer counts against one double product, derived identically in
    * the oracle; cents sums are exact LONGs.
    */
  def partitionPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Paths
      .get(
        System.getProperty("java.io.tmpdir"),
        s"graft_events_partitioned_${s.sparkContext.applicationId}")
      .toString
    Tables
      .events(s, dir)
      .select(
        to_date(col("ts")).as("event_date"),
        round(col("value") * 100).cast("long").as("cents"))
      .write
      .mode("overwrite")
      .partitionBy("event_date")
      .parquet(out)
    // Fixture-scale nudge (same knobs Spark's own DPP suite uses): the
    // insertion heuristic compares estimated pruned bytes against the
    // dim-subquery cost — at a few KB of fixture data that benefit
    // check always declines, while at production scale the stats
    // themselves justify insertion. Set on a FORKED session (ADVICE r9):
    // the returned DataFrame is lazy, so a try/finally restore would
    // revert the confs before planning ever ran; the fork carries the
    // altered heuristics for this plan only and the caller's session is
    // never mutated.
    val sc = graft.Sessions.fork(s)
    sc.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    sc.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "50.0")
    val fact = sc.read.parquet(out)
    val daily = Tables
      .events(sc, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("c"))
    // The busy-day threshold is collected as a one-row control-plane
    // scalar and inlined as a LITERAL: Spark's DPP insertion gate
    // (isLikelySelective) only accepts attribute-vs-literal dim
    // filters — an attribute-vs-attribute comparison (c > avg_c·1.05
    // via cross join) is never treated as selective and silently
    // disables the pruning this operator exists to demonstrate.
    val thr = daily.agg(avg(col("c"))).collect()(0).getDouble(0) * 1.05
    val dim = broadcast(daily.filter(col("c") > thr).select(col("event_date")))
    fact
      .join(dim, "event_date")
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
      .select(
        col("event_date").cast("date").as("event_date"),
        col("n_events"),
        col("total_cents"))
  }

  val partitionPrunedJoinSql: String =
    """WITH ev AS (
         SELECT CAST(ts AS DATE) AS event_date,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events
       ), daily AS (
         SELECT event_date, count(*) AS c FROM ev GROUP BY 1
       ), dim AS (
         SELECT event_date FROM daily
         WHERE c > (SELECT avg(c) FROM daily) * 1.05
       )
       SELECT ev.event_date, count(*) AS n_events,
              CAST(sum(cents) AS BIGINT) AS total_cents
       FROM ev JOIN dim USING (event_date) GROUP BY 1"""

  /** GROUPING SETS lattice slice — the OLAP shape between [[rollupRevenue]]
    * and [[cubeRevenue]]: exactly the chosen aggregation levels
    * ((flag, status), (flag), ()), each row tagged with its grouping
    * indicators. Declared in SQL (the DataFrame API exposes only
    * cube/rollup); Catalyst plans the same single-Expand aggregate the
    * cube gets — one scan regardless of how many sets.
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem_gs
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
  }

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
              CAST(grouping(l_returnflag) AS INT) AS g_flag,
              CAST(grouping(l_linestatus) AS INT) AS g_status,
              count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"""

  /** Interval-OVERLAP join via the bin-bucketing rewrite — the range-join
    * shape Spark has no native operator for (its inequality joins plan as
    * nested loops). Each lineitem carries a deterministic transit window
    * [shipdate, shipdate + 1 + orderkey % 14 days]; the query counts, per
    * supplier, the pairs of that supplier's shipments whose windows
    * overlap, plus their total overlap days — the "concurrent shipments"
    * question every logistics/sessions dataset asks.
    *
    * The rewrite: quantize time into W-day bins sized to the max interval
    * length, explode each interval to the bins it touches (≤ 2 here), and
    * equi-join on (supplier, bin). A pair sharing several bins is counted
    * once without a distinct: it is kept only in the bin containing the
    * later start (`bin == greatest(floor(a.s/W), floor(b.s/W))` — that bin
    * is covered by both intervals whenever they overlap, and is unique).
    *
    * Scale: the naive predicate `a.s <= b.e AND b.s <= a.e` forces a
    * nested-loop/cartesian plan — O(n²) per supplier and a broadcast of a
    * whole side. The bin rewrite is a plain shuffled equi-join on
    * (suppkey, bin): candidate pairs are only those near in time, work is
    * proportional to true collisions, AQE handles skewed bins, and the
    * explode factor is bounded by ⌈len/W⌉+1 ≤ 2 by construction.
    * PlanAuditSpec locks the equi-join (no BNLJ/cartesian).
    */
  def overlapJoin(s: SparkSession, dir: String, binDays: Int = 16): DataFrame = {
    val iv = Tables
      .lineitem(s, dir)
      .select(
        col("l_suppkey"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        to_date(col("l_shipdate")).as("s"),
        date_add(to_date(col("l_shipdate")), (lit(1) + col("l_orderkey") % 14).cast("int"))
          .as("e"))
      .withColumn("sday", datediff(col("s"), lit("1970-01-01").cast("date")))
      .withColumn("eday", datediff(col("e"), lit("1970-01-01").cast("date")))
    val binned = iv.withColumn(
      "bin",
      explode(sequence(floor(col("sday") / binDays), floor(col("eday") / binDays))))
    // SHUFFLE_HASH: equal-size sides, keyed equi-join — hashing one side
    // per partition skips BOTH sort passes SMJ would pay on the exploded
    // relation (A/B-measured in SCALE.md)
    val a = binned.alias("a")
    val b = binned.hint("shuffle_hash").alias("b")
    a.join(
        b,
        col("a.l_suppkey") === col("b.l_suppkey") &&
          col("a.bin") === col("b.bin") &&
          col("a.id") < col("b.id") &&
          col("a.s") <= col("b.e") && col("b.s") <= col("a.e") &&
          col("a.bin") === greatest(
            floor(col("a.sday") / binDays),
            floor(col("b.sday") / binDays)))
      .groupBy(col("a.l_suppkey").as("l_suppkey"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(
          datediff(least(col("a.e"), col("b.e")), greatest(col("a.s"), col("b.s"))) + 1)
          .as("overlap_days"))
  }

  /** DuckDB oracle for [[overlapJoin]]: the naive O(n²)-per-supplier
    * overlap join — tractable at oracle scale, value-identical to the
    * binned rewrite by construction.
    */
  val overlapJoinSql: String =
    """WITH iv AS (
         SELECT l_suppkey,
                l_orderkey * 10 + l_linenumber AS id,
                CAST(l_shipdate AS DATE) AS s,
                CAST(l_shipdate AS DATE) + CAST(1 + l_orderkey % 14 AS INT) AS e
         FROM lineitem)
       SELECT a.l_suppkey, count(*) AS n_pairs,
              CAST(sum(datediff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1) AS BIGINT)
                AS overlap_days
       FROM iv a JOIN iv b
         ON a.l_suppkey = b.l_suppkey AND a.id < b.id
        AND a.s <= b.e AND b.s <= a.e
       GROUP BY 1"""

  /** Exact WEIGHTED quantiles (p25 / median / p75 of price, weighted by
    * quantity) per return flag — without the global per-group sort the
    * textbook cumulative-weight window needs. The lower weighted
    * quantile: smallest v whose cumulative weight reaches q of the
    * total; all thresholds are integer arithmetic (`b·cum ≥ a·total`),
    * so engines agree bit-for-bit.
    *
    * The sort-free construction (the [[userDeciles]] / quantileSketch
    * bucket pattern, upgraded to weighted + exact): (1) project the
    * (flag, value, weight) columns once and persist — RAW rows, no
    * value-dedup shuffle: the lower-quantile crossing value is the same
    * whatever order ties arrive in, so pre-grouping by value would spend
    * a full-data shuffle to buy nothing; (2) histogram the values into a
    * BOUNDED bucket grid (global min/max broadcast), partial-agg
    * map-side so only ~flags×buckets rows shuffle, prefix-sum over that
    * tiny table; (3) locate, per quantile, the one bucket where the
    * threshold crosses; (4) order only INSIDE that bucket (≈ n/buckets
    * rows) with the bucket's prefix as carry. Windows run over the
    * bucket table and single-bucket slices — never over the full value
    * set, so no single-partition-per-group sort and no full-data
    * exchange at any scale. PlanAuditSpec locks the shape.
    */
  def weightedQuantiles(s: SparkSession, dir: String, nBuckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vw = Reuse.pin(
      Tables
        .lineitem(s, dir)
        .select(
          col("l_returnflag"),
          col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("wt")))
    val mm = vw.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val bucketed = vw
      .crossJoin(broadcast(mm))
      .withColumn(
        "bkt",
        least(
          lit(nBuckets - 1),
          floor((col("v") - col("vmin")) / ((col("vmax") - col("vmin")) / nBuckets + 1e-9))
            .cast("int")))
    val bw = bucketed.groupBy(col("l_returnflag"), col("bkt")).agg(sum(col("wt")).as("bwt"))
    val wOff = Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = bw.withColumn("boff", coalesce(sum(col("bwt")).over(wOff), lit(0L)))
    val tot = vw.groupBy(col("l_returnflag")).agg(sum(col("wt")).as("total_weight"))
    import s.implicits._
    val qs = broadcast(Seq(("w_p25", 1L, 4L), ("w_median", 1L, 2L), ("w_p75", 3L, 4L))
      .toDF("q", "a", "b"))
    // the one bucket per (flag, quantile) where b*cum first reaches a*total
    val tgt = boff
      .join(tot, "l_returnflag")
      .crossJoin(qs)
      .filter(col("b") * (col("boff") + col("bwt")) >= col("a") * col("total_weight"))
      .groupBy(col("l_returnflag"), col("q"), col("a"), col("b"), col("total_weight"))
      .agg(min(col("bkt")).as("bkt"), min_by(col("boff"), col("bkt")).as("carry"))
    val wIn = Window
      .partitionBy(col("l_returnflag"), col("q"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val answers = bucketed
      .join(tgt, Seq("l_returnflag", "bkt"))
      .withColumn("cum", col("carry") + sum(col("wt")).over(wIn))
      .filter(col("b") * col("cum") >= col("a") * col("total_weight"))
      .groupBy(col("l_returnflag"), col("q"), col("total_weight"))
      .agg(min(col("v")).as("ans"))
    answers
      .groupBy(col("l_returnflag"), col("total_weight"))
      .pivot("q", Seq("w_p25", "w_median", "w_p75"))
      .agg(first(col("ans")))
      .select(
        col("l_returnflag"),
        col("w_p25"),
        col("w_median"),
        col("w_p75"),
        col("total_weight"))
  }

  /** DuckDB oracle for [[weightedQuantiles]]: the textbook cumulative
    * window over distinct values — tractable at oracle scale; all
    * threshold arithmetic integer, so equality is exact.
    */
  val weightedQuantilesSql: String =
    """WITH vw AS (
         SELECT l_returnflag, l_extendedprice AS v,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
         FROM lineitem GROUP BY 1, 2
       ), tot AS (
         SELECT l_returnflag, CAST(sum(wt) AS BIGINT) AS total_weight
         FROM vw GROUP BY 1
       ), cum AS (
         SELECT l_returnflag, v,
                CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cw
         FROM vw
       )
       SELECT c.l_returnflag,
              min(CASE WHEN 4 * cw >= 1 * total_weight THEN v END) AS w_p25,
              min(CASE WHEN 2 * cw >= 1 * total_weight THEN v END) AS w_median,
              min(CASE WHEN 4 * cw >= 3 * total_weight THEN v END) AS w_p75,
              total_weight
       FROM cum c JOIN tot t USING (l_returnflag)
       GROUP BY 1, 5"""

  /** Time-series gap fill by LINEAR INTERPOLATION — the reindex +
    * interpolate step every metrics/feature pipeline runs before
    * modeling (pandas' `resample().interpolate()`, reshaped to a
    * distributed plan). The per-type daily mean of high-value events is
    * sparse (not every day has a qualifying event); the operator rebuilds
    * the full day grid per series and fills each gap from its two
    * neighboring observations: v = vₚ + (vₙ − vₚ)·(d − dₚ)/(dₙ − dₚ).
    *
    * Determinism across engines: the daily mean is rounded to 6 dp
    * BEFORE interpolating (killing sum-order ulps), the interpolation
    * expression is written identically on both sides (IEEE doubles are
    * deterministic for an identical op sequence), and the result rounds
    * to 6 dp again.
    *
    * Scale: the grid explode is bounded by series span; windows
    * partition by series key — state per partition is the series length,
    * never corpus-wide, and the number of series scales out. The
    * neighbor lookup is the classic last-non-null/first-non-null pair of
    * frame-bounded windows (one exchange on the series key serves both
    * directions). Edge days are observed by construction (the grid spans
    * min..max observed), so no extrapolation branch.
    */
  def interpolateSeries(s: SparkSession, dir: String, minValue: Double = 180.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = Tables
      .events(s, dir)
      .filter(col("value") > minValue)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(avg(col("value")), 6).as("v"))
    val span = obs.groupBy(col("event_type")).agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = span.select(
      col("event_type"),
      explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val j = grid.join(obs, Seq("event_type", "day"), "left")
    val wPrev = Window
      .partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window
      .partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    j.withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn(
        "pd",
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn(
        "nd",
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wNext))
      .select(
        col("event_type"),
        col("day"),
        col("v").isNotNull.as("is_obs"),
        round(
          when(col("v").isNotNull, col("v"))
            .otherwise(
              col("pv") + (col("nv") - col("pv")) *
                (datediff(col("day"), col("pd")).cast("double") /
                  datediff(col("nd"), col("pd")).cast("double"))),
          6).as("value_filled"))
  }

  /** DuckDB oracle for [[interpolateSeries]]: identical grid, neighbor
    * windows, and interpolation expression.
    */
  def interpolateSeriesSql(minValue: Double = 180.0): String =
    s"""WITH obs AS (
         SELECT event_type, CAST(ts AS DATE) AS day, round(avg(value), 6) AS v
         FROM events WHERE value > $minValue GROUP BY 1, 2
       ), span AS (
         SELECT event_type, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1
       ), grid AS (
         SELECT event_type, CAST(gs AS DATE) AS day
         FROM span, unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS s(gs)
       ), j AS (
         SELECT g.event_type, g.day, o.v
         FROM grid g LEFT JOIN obs o USING (event_type, day)
       ), f AS (
         SELECT *,
                last_value(v IGNORE NULLS) OVER w AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER w AS pd,
                first_value(v IGNORE NULLS) OVER w2 AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER w2 AS nd
         FROM j
         WINDOW
           w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       )
       SELECT event_type, day, v IS NOT NULL AS is_obs,
              round(CASE WHEN v IS NOT NULL THEN v
                    ELSE pv + (nv - pv) *
                         (CAST(datediff('day', pd, day) AS DOUBLE) /
                          CAST(datediff('day', pd, nd) AS DOUBLE)) END, 6) AS value_filled
       FROM f"""

  /** Incremental JOIN-view maintenance — the delta algebra a 100 TB
    * deployment uses to keep a materialized join current without
    * re-joining history: with stored view V = A ⋈ B and day-partitioned
    * deltas ΔA, ΔB, the updated view is the DISJOINT union
    *
    *   V ∪ (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
    *
    * (each pair is classified uniquely by which side of the cut its two
    * rows fall on). Here A = click events, B = purchase events, joined
    * per (user, day); the cut splits the last 5 days off as deltas. The
    * query materializes BOTH the incremental union and the full
    * recompute and emits them side by side per user — the oracle pins
    * them equal, so a classification bug (dropped or double-counted
    * cross term) is a hash mismatch, not a silent drift.
    *
    * Scale: the three delta terms BROADCAST the delta side (deltas are
    * small by construction — that is the whole premise of IVM), so
    * maintenance cost is ∝|Δ| with zero re-shuffle of the stored sides;
    * the stored view V is persisted once, standing in for the
    * materialized table a deployment would read, not recompute.
    * PlanAuditSpec locks the delta joins to BroadcastHashJoin.
    */
  def incrementalJoin(s: SparkSession, dir: String, cut: String = "2024-01-26"): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        col("user_id"),
        to_date(col("ts")).as("day"),
        col("event_id"),
        col("event_type"))
    def side(t: String) = ev.filter(col("event_type") === t).drop("event_type")
    val a = side("click")
    val b = side("purchase")
    val cutD = lit(cut).cast("date")
    val (aOld, aDelta) = (a.filter(col("day") < cutD), a.filter(col("day") >= cutD))
    val (bOld, bDelta) = (b.filter(col("day") < cutD), b.filter(col("day") >= cutD))
    def pairs(x: DataFrame, y: DataFrame) =
      x.withColumnRenamed("event_id", "aid")
        .join(y.withColumnRenamed("event_id", "bid"), Seq("user_id", "day"))
        .select(col("user_id"), col("aid"), col("bid"))
    val vOld = Reuse.pin(pairs(aOld, bOld)) // the stored materialized view
    val incr = vOld
      .unionByName(pairs(broadcast(aDelta), bOld))
      .unionByName(pairs(aOld, broadcast(bDelta)))
      .unionByName(pairs(broadcast(aDelta), broadcast(bDelta)))
    val full = pairs(a, b)
    def summarize(df: DataFrame, n: String, ck: String) =
      df.groupBy(col("user_id"))
        .agg(
          count(lit(1)).as(n),
          sum(col("aid") * 31 + col("bid")).as(ck))
    summarize(incr, "n_pairs_incr", "checksum_incr")
      .join(summarize(full, "n_pairs_full", "checksum_full"), "user_id")
  }

  /** DuckDB oracle for [[incrementalJoin]]: the full join computed once,
    * reported under both the incremental and full column names — the
    * incremental union must land exactly on it.
    */
  val incrementalJoinSql: String =
    """WITH a AS (
         SELECT user_id, CAST(ts AS DATE) AS day, event_id AS aid
         FROM events WHERE event_type = 'click'
       ), b AS (
         SELECT user_id, CAST(ts AS DATE) AS day, event_id AS bid
         FROM events WHERE event_type = 'purchase'
       ), p AS (
         SELECT a.user_id, aid, bid FROM a JOIN b USING (user_id, day)
       ), agg AS (
         SELECT user_id, count(*) AS n, CAST(sum(aid * 31 + bid) AS BIGINT) AS ck
         FROM p GROUP BY 1
       )
       SELECT user_id, n AS n_pairs_incr, ck AS checksum_incr,
              n AS n_pairs_full, ck AS checksum_full
       FROM agg"""

  /** Snapshot diff — the table-migration audit: compare the 1999
    * snapshot of orders against the 2000 snapshot (with a deterministic
    * mutation on keys ≡ 0 mod 97 standing in for in-place updates) and
    * classify every key as added / removed / changed. One full-outer
    * join on the key with exact-cent comparison; unchanged rows are
    * dropped BEFORE the output so the result is delta-sized, not
    * table-sized (the property that matters when diffing 100 TB
    * snapshots — the join shuffles once on the key, the output is the
    * drift).
    */
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val snapA = orders
      .filter(col("o_orderdate") < to_timestamp(lit("1999-01-01")))
      .select(col("o_orderkey").as("ka"),
        round(col("o_totalprice") * 100).cast("long").as("cents_a"))
    val snapB = orders
      .filter(col("o_orderdate") < to_timestamp(lit("2000-01-01")))
      .select(
        col("o_orderkey").as("kb"),
        (round(col("o_totalprice") * 100).cast("long") +
          when(col("o_orderkey") % 97 === 0, lit(1L)).otherwise(lit(0L))).as("cents_b"))
    snapA
      .join(snapB, col("ka") === col("kb"), "full_outer")
      .withColumn(
        "change_type",
        when(col("ka").isNull, lit("added"))
          .when(col("kb").isNull, lit("removed"))
          .when(col("cents_a") =!= col("cents_b"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(
        coalesce(col("ka"), col("kb")).as("o_orderkey"),
        col("change_type"),
        col("cents_a"),
        col("cents_b"))
  }

  val tableDiffSql: String =
    """WITH a AS (
         SELECT o_orderkey AS ka, CAST(round(o_totalprice*100) AS BIGINT) AS cents_a
         FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'),
       b AS (
         SELECT o_orderkey AS kb,
                CAST(round(o_totalprice*100) AS BIGINT)
                  + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS cents_b
         FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
       d AS (
         SELECT coalesce(ka, kb) AS o_orderkey,
                CASE WHEN ka IS NULL THEN 'added'
                     WHEN kb IS NULL THEN 'removed'
                     WHEN cents_a <> cents_b THEN 'changed'
                     ELSE 'unchanged' END AS change_type,
                cents_a, cents_b
         FROM a FULL OUTER JOIN b ON ka = kb)
       SELECT * FROM d WHERE change_type <> 'unchanged'"""

  /** Time-constrained funnel — the conversion-window variant of
    * [[funnelSteps]]: first view, then first click within 1 HOUR of
    * that view, then first purchase within 24 HOURS of that click.
    * Three sequential user-keyed conditional-min aggregates (each step
    * joins the previous step's timestamp back to the events on the
    * user key — the chain depth is the funnel length, each link one
    * keyed join + one map-side-combined aggregate; no per-user arrays,
    * no window over the event stream). Timestamps compare exactly, so
    * the oracle is a CTE chain.
    */
  def timedFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val tV = ev
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t_v"))
    val tC = ev
      .join(tV, "user_id")
      .filter(
        col("event_type") === "click" &&
          col("ts") > col("t_v") &&
          col("ts") <= col("t_v") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t_c"))
    val tP = ev
      .join(tC, "user_id")
      .filter(
        col("event_type") === "purchase" &&
          col("ts") > col("t_c") &&
          col("ts") <= col("t_c") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t_p"))
    val counts = tV
      .agg(count(lit(1)).as("n_view"))
      .crossJoin(tC.agg(count(lit(1)).as("n_click_1h")))
      .crossJoin(tP.agg(count(lit(1)).as("n_purchase_24h")))
    counts.select(
      col("n_view"),
      col("n_click_1h"),
      col("n_purchase_24h"),
      round(col("n_click_1h").cast("double") / col("n_view").cast("double"), 6)
        .as("view_to_click"),
      round(col("n_purchase_24h").cast("double") /
        when(col("n_click_1h") > 0, col("n_click_1h").cast("double")), 6)
        .as("click_to_purchase"))
  }

  val timedFunnelSql: String =
    """WITH tv AS (
         SELECT user_id, min(ts) AS t_v FROM events
         WHERE event_type = 'view' GROUP BY 1),
       tc AS (
         SELECT e.user_id, min(e.ts) AS t_c
         FROM events e JOIN tv ON e.user_id = tv.user_id
         WHERE e.event_type = 'click'
           AND e.ts > tv.t_v AND e.ts <= tv.t_v + INTERVAL 1 HOUR
         GROUP BY 1),
       tp AS (
         SELECT e.user_id, min(e.ts) AS t_p
         FROM events e JOIN tc ON e.user_id = tc.user_id
         WHERE e.event_type = 'purchase'
           AND e.ts > tc.t_c AND e.ts <= tc.t_c + INTERVAL 24 HOUR
         GROUP BY 1),
       c AS (SELECT (SELECT count(*) FROM tv) AS n_view,
                    (SELECT count(*) FROM tc) AS n_click_1h,
                    (SELECT count(*) FROM tp) AS n_purchase_24h)
       SELECT n_view, n_click_1h, n_purchase_24h,
              round(CAST(n_click_1h AS DOUBLE) / CAST(n_view AS DOUBLE), 6)
                AS view_to_click,
              round(CAST(n_purchase_24h AS DOUBLE)
                    / CASE WHEN n_click_1h > 0 THEN CAST(n_click_1h AS DOUBLE) END, 6)
                AS click_to_purchase
       FROM c"""

  /** The SQL gateway: the same library surface driven through
    * `spark.sql` TEXT against registered temp views — what a BI tool or
    * notebook user actually sends. The query is the pricing-summary
    * rollup expressed as ANSI SQL; Catalyst plans it identically to the
    * DataFrame build (same aggregate, same exact-cents discipline), so
    * the oracle is shared verbatim with the SQL text modulo dialect.
    */
  def sqlApi(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             count(*) AS count_order
      FROM lineitem_v
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus""")
  }

  val sqlApiSql: String =
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus"""

  /** End-to-end entity resolution: the [[fuzzyMatch]] candidate pairs
    * (nation-blocked, bounded-edit-distance ≤ 2) become match edges,
    * [[graft.operators.ConnectedComponents]] collapses them into
    * entity clusters (Shiloach–Vishkin, O(log n) rounds), and each
    * clustered record reports its entity id (= the min member key, the
    * CC labeling), cluster size, and the canonical member's name. The
    * record-linkage pipeline in one query: block → score → cluster →
    * canonicalize.
    *
    * Scale: blocking bounds the pair space (the fuzzyMatch contract),
    * CC is the repo's scalar-driver-traffic loop, and the
    * canonical-name join keys on the entity id. The oracle replays the
    * closure recursively.
    *
    * r15: the match edges ride [[fuzzyCandidatesOn]] — the same exact
    * composite candidate generator as [[fuzzyMatch]] — keyed on the
    * nation#band block instead of a naive in-block all-pairs join. The
    * old shape enumerated Σ block² pairs and paid a bounded-lev call on
    * every one (the r11 fuzzyMatch regression, re-created here); the
    * generator's pigeonhole/deletion-neighborhood keys bound candidates
    * by key selectivity, and the two-key block makes every bucket
    * ~|bands|× tighter than fuzzyMatch's own. Exactness carries over
    * verbatim: the theorem holds for any fixed per-pair-shared block
    * value, and the string key can never collide two distinct
    * (nation, band) blocks.
    */
  /** [[entityResolution]]'s match edges, exposed so the plan audit can
    * lock the candidate-join shape (the CC operator materializes edges
    * through an RDD barrier, hiding these joins from the final plan).
    */
  private[graft] def entityResolutionPairs(s: SparkSession, dir: String): DataFrame = {
    graft.plans.BoundedLev.register(s)
    // two-key blocking (nation × acctbal band): with sequential
    // synthetic names, nation-only blocking chains every record in a
    // block into one entity through dist-1 neighbor links — the classic
    // transitive over-merge. The band key keeps candidate groups small
    // the way a real blocking key would.
    val cust = Tables
      .customer(s, dir)
      .select(
        concat_ws(
          "#",
          col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long")).as("block"),
        col("c_custkey").as("ck"),
        col("c_name").as("nm"),
        length(col("c_name")).as("len"))
    fuzzyCandidatesOn(s, cust, fuzzyClassProfiles(s, dir))
      .filter(expr("bounded_lev(name_a, name_b, 2)").between(0, 2))
      .select(col("cust_a").as("src"), col("cust_b").as("dst"))
  }

  def entityResolution(s: SparkSession, dir: String): DataFrame = {
    val pairs = entityResolutionPairs(s, dir)
    val comp = graft.operators.ConnectedComponents
      .components(pairs)
      .select(col("id").as("c_custkey"), col("component").as("entity"))
    val names = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    val sizes = comp.groupBy(col("entity")).agg(count(lit(1)).as("n_members"))
    comp
      .join(names, "c_custkey")
      .join(sizes, "entity")
      .join(
        names.select(col("c_custkey").as("entity"), col("c_name").as("canonical_name")),
        "entity")
      .select(col("c_custkey"), col("entity"), col("n_members"),
        col("c_name"), col("canonical_name"))
  }

  /** Verified fuzzy-pair CTE shared by [[entityResolutionSql]] and its
    * --decompose edges path.
    */
  private val entityPairsCteSql: String =
    """fp AS (
         SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey
          AND floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
          AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 2)"""

  /** Tail of [[entityResolutionSql]] after the `comp` labeling. */
  private val entityResolutionTailSql: String =
    """sizes AS (SELECT entity, count(*) AS n_members FROM comp GROUP BY 1)
       SELECT c.c_custkey, c.entity, s.n_members, n.c_name, cn.c_name AS canonical_name
       FROM comp c
       JOIN customer n ON c.c_custkey = n.c_custkey
       JOIN sizes s ON c.entity = s.entity
       JOIN customer cn ON c.entity = cn.c_custkey"""

  val entityResolutionSql: String =
    s"""WITH RECURSIVE $entityPairsCteSql,
       e AS (SELECT cust_a AS a, cust_b AS b FROM fp
             UNION SELECT cust_b, cust_a FROM fp),
       reach(a, b) AS (
         SELECT a, b FROM e
         UNION
         SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
       comp AS (
         SELECT a AS c_custkey, least(a, min(b)) AS entity
         FROM reach GROUP BY a),
       $entityResolutionTailSql"""

  /** --decompose path (see DedupQueries.dedupClustersDecomposed). */
  val entityResolutionDecomposed: (String, String) = (
    s"WITH $entityPairsCteSql SELECT cust_a AS a, cust_b AS b FROM fp",
    s"""WITH comp AS (SELECT node AS c_custkey, component AS entity FROM uf_comp),
       $entityResolutionTailSql""")

  /** Multi-format interchange round-trip: the same event slice written
    * to CSV, JSON and ORC (scratch under /tmp), read back through each
    * format's parser with an EXPLICIT schema (no inference — the
    * production discipline), and reduced to a per-format
    * (count, checksum, cent-sum) fingerprint. All three rows must equal
    * the parquet-derived oracle row: a lossy parser, a schema drift, or
    * a type coercion in any format shows up as a fingerprint mismatch.
    * The projection is integers-and-enum-strings by construction —
    * timestamps deliberately stay out of the interchange surface (CSV
    * timestamp parsing is timezone-fragile; a real pipeline ships
    * epoch integers, which is what `cents`/ids model).
    *
    * Scale: the fingerprint is one map-side-combined aggregate per
    * format; the write is the data's own size. (The /tmp scratch is the
    * test-rig stand-in for a staging bucket.)
    */
  /** Recursive scratch delete — the repeated-bench /tmp-hygiene
    * discipline (same reason the streaming drains drop their
    * checkpoints).
    */
  private def deleteScratch(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(base)) {
      java.nio.file.Files
        .walk(base)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator()
        .asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  def formatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import s.implicits._
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("cents", LongType)))
    val subset = Tables
      .events(s, dir)
      .filter(col("event_id") % 10 === 0)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val base = java.nio.file.Files.createTempDirectory("graft_fmt")
    try {
      // the fingerprints are 3 tiny rows — materialize them eagerly so
      // the scratch copies can be deleted before returning (repeated
      // bench/verify runs must not accumulate data in /tmp)
      val rows = Seq("csv", "json", "orc").map { fmt =>
        val path = s"$base/$fmt"
        val w = subset.write.mode("overwrite")
        (if (fmt == "csv") w.option("header", "true") else w).format(fmt).save(path)
        val r = s.read.schema(schema)
        val back = (if (fmt == "csv") r.option("header", "true") else r).format(fmt).load(path)
        val agg = back
          .agg(
            count(lit(1)).as("n"),
            sum(col("event_id") * 31 + col("user_id") * 7 + col("cents")).as("checksum"),
            sum(col("cents")).as("sum_cents"))
          .collect()
          .head
        (fmt, agg.getLong(0), agg.getLong(1), agg.getLong(2))
      }
      rows.toDF("format", "n", "checksum", "sum_cents")
    } finally deleteScratch(base)
  }

  val formatRoundtripSql: String =
    """WITH fp AS (
         SELECT count(*) AS n,
                CAST(sum(event_id * 31 + user_id * 7
                         + CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS checksum,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events WHERE event_id % 10 = 0)
       SELECT f.format, fp.n, fp.checksum, fp.sum_cents
       FROM fp, (VALUES ('csv'), ('json'), ('orc')) f(format)"""

  /** Event-time lateness profile — the data-driven watermark-choice
    * analysis every streaming deployment needs: treating event_id as
    * arrival order, each event's lateness is how far its event time
    * sits behind the running maximum seen so far (exact µs integers),
    * histogrammed into the delay classes a watermark would be chosen
    * from. The running max uses the bucketed-carry discipline (local
    * running max per event_id block + broadcast prefix-block maxima) —
    * the only partition-less window runs on the BLOCK table, never the
    * events.
    */
  def latenessProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Reuse.pin(
      Tables
        .events(s, dir)
        // NTZ files: cast to TIMESTAMP first (identity under the UTC
        // session contract) — unix_micros rejects TIMESTAMP_NTZ directly.
        // event_id is assigned in timestamp order in the test data, so a
        // deterministic ±100-position md5 jitter models the bounded
        // out-of-orderness a real transport introduces (without it every
        // event is 'in_order' and the profile is vacuous)
        .select(
          col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"),
          (col("event_id") +
            expr(OracleHash.bucketExpr("cast(event_id as string)", 200)) - lit(100L))
            .as("jk"))
        .withColumn("blk", expr("jk div 1000")))
    val wCarry = Window
      .orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = ev
      .groupBy(col("blk"))
      .agg(max(col("us")).as("bmax"))
      .withColumn("pmax", max(col("bmax")).over(wCarry))
      .select(col("blk"), col("pmax"))
    val wIn = Window
      .partitionBy(col("blk"))
      .orderBy(col("jk"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lateness = ev
      .join(broadcast(carry), Seq("blk"))
      .withColumn("lmax", max(col("us")).over(wIn))
      .withColumn("runmax", greatest(coalesce(col("lmax"), lit(Long.MinValue)),
        coalesce(col("pmax"), lit(Long.MinValue))))
      .withColumn(
        "late_us",
        when(col("runmax") === Long.MinValue, lit(0L))
          .otherwise(greatest(col("runmax") - col("us"), lit(0L))))
    lateness
      .withColumn(
        "delay_class",
        when(col("late_us") === 0, "in_order")
          .when(col("late_us") <= 60L * 1000000L, "le_1m")
          .when(col("late_us") <= 300L * 1000000L, "le_5m")
          .when(col("late_us") <= 1800L * 1000000L, "le_30m")
          .otherwise("gt_30m"))
      .groupBy(col("delay_class"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("late_us")).as("max_late_us"))
  }

  val latenessProfileSql: String =
    s"""WITH ev AS (
         SELECT event_id, epoch_us(ts) AS us,
                event_id + ${OracleHash.bucketSql("CAST(event_id AS VARCHAR)", 200)} - 100
                  AS jk
         FROM events),
       l AS (
         SELECT event_id, us,
                max(us) OVER (ORDER BY jk, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
         FROM ev),
       lat AS (
         SELECT CASE WHEN runmax IS NULL THEN 0
                     WHEN runmax - us > 0 THEN runmax - us ELSE 0 END AS late_us
         FROM l)
       SELECT CASE WHEN late_us = 0 THEN 'in_order'
                   WHEN late_us <= 60000000 THEN 'le_1m'
                   WHEN late_us <= 300000000 THEN 'le_5m'
                   WHEN late_us <= 1800000000 THEN 'le_30m'
                   ELSE 'gt_30m' END AS delay_class,
              count(*) AS n_events,
              CAST(max(late_us) AS BIGINT) AS max_late_us
       FROM lat GROUP BY 1"""

  /** Clamped running inventory — the non-linear recurrence SQL cannot
    * window (pos ← max(0, pos + δ) has no prefix-sum form): per part,
    * lineitems replay in (shipdate, orderkey, linenumber) order with
    * even linenumbers as receipts and odd as issues, the position
    * clamping at zero and each clamp counted as a stockout. The fold
    * is per-part and bounded (≤ ~50 rows/part at any SF — order
    * fan-out, not corpus growth); the oracle replays it as a
    * per-part recursive CTE. All arithmetic exact integers.
    */
  def inventoryPosition(s: SparkSession, dir: String): DataFrame = {
    Tables
      .lineitem(s, dir)
      .select(
        col("l_partkey"),
        col("l_shipdate"),
        col("l_orderkey"),
        col("l_linenumber"),
        (col("l_quantity").cast("long") *
          when(col("l_linenumber") % 2 === 0, 1L).otherwise(-1L)).as("delta"))
      .groupBy(col("l_partkey"))
      .agg(array_sort(
        collect_list(struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("delta")))).as("arr"))
      .withColumn(
        "state",
        expr("""aggregate(arr,
                  named_struct('pos', 0L, 'so', 0L),
                  (acc, x) -> named_struct(
                    'pos', CASE WHEN acc.pos + x.delta < 0L THEN 0L
                                ELSE acc.pos + x.delta END,
                    'so', acc.so + CASE WHEN acc.pos + x.delta < 0L THEN 1L
                                        ELSE 0L END))"""))
      .select(
        col("l_partkey"),
        expr("state.pos").as("final_position"),
        expr("state.so").as("n_stockouts"))
  }

  val inventoryPositionSql: String =
    """WITH RECURSIVE f AS (
         SELECT l_partkey AS p,
                CAST(l_quantity AS BIGINT)
                  * CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE -1 END AS delta,
                row_number() OVER (PARTITION BY l_partkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
         FROM lineitem),
       walk(p, rn, pos, so) AS (
         SELECT p, 1,
                CASE WHEN delta < 0 THEN 0 ELSE delta END,
                CASE WHEN delta < 0 THEN 1 ELSE 0 END
         FROM f WHERE rn = 1
         UNION ALL
         SELECT w.p, w.rn + 1,
                CASE WHEN w.pos + f.delta < 0 THEN 0 ELSE w.pos + f.delta END,
                w.so + CASE WHEN w.pos + f.delta < 0 THEN 1 ELSE 0 END
         FROM walk w JOIN f ON f.p = w.p AND f.rn = w.rn + 1)
       SELECT w.p AS l_partkey,
              CAST(w.pos AS BIGINT) AS final_position,
              CAST(w.so AS BIGINT) AS n_stockouts
       FROM walk w
       JOIN (SELECT p, max(rn) AS mx FROM f GROUP BY 1) m
         ON w.p = m.p AND w.rn = m.mx"""

  /** Malformed-record quarantine ingest — the table-side analog of the
    * wire pipeline's P5 decode-bomb filter: a CSV staging file is
    * seeded with the good slice PLUS deliberately malformed lines
    * (wrong arity, non-numeric keys, truncated rows), read back in
    * PERMISSIVE mode with a corrupt-record capture column, and split
    * into the quarantine count and the good-row fingerprint — which
    * must equal the parquet truth EXACTLY, proving the parser neither
    * dropped a good row nor silently coerced a bad one. (FAILFAST
    * would kill the job on the first bad byte; DROPMALFORMED would
    * hide the loss — PERMISSIVE + quarantine is the production
    * posture, and this query audits it.)
    */
  def quarantineIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val subset = Tables
      .events(s, dir)
      .filter(col("event_id") % 10 === 0)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_quarantine")
    val goodDir = base.resolve("good").toString
    subset.coalesce(1).write.mode("overwrite").option("header", "false").csv(goodDir)
    // seed four malformed lines into a sibling part file: wrong arity,
    // non-numeric key, truncated, and raw garbage
    val badLines = Seq(
      "1,2,click", // wrong arity (3 < 4 tokens)
      "not_a_number,7,view,123", // type failure on the key
      "1,2", // truncated
      "garbage line with no commas at all ") // single token
    java.nio.file.Files.write(
      java.nio.file.Paths.get(goodDir, "part-bad.csv"),
      badLines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("cents", LongType),
      StructField("_corrupt", StringType)))
    try {
      // corrupt-record capture requires materializing the raw parse
      val back = Reuse.pin(
        s.read
          .schema(schema)
          .option("header", "false")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(goodDir))
      back.count()
      // one tiny row — materialize eagerly so the staging dir can be
      // deleted before returning (the /tmp-hygiene discipline)
      val r = back
        .agg(
          sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(col("_corrupt").isNull,
            col("event_id") * 31 + col("user_id") * 7 + col("cents")).otherwise(0L))
            .as("good_checksum"))
        .collect()
        .head
      Reuse.free(back)
      Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("n_good", "n_quarantined", "good_checksum")
    } finally deleteScratch(base)
  }

  val quarantineIngestSql: String =
    """SELECT count(*) AS n_good,
              CAST(4 AS BIGINT) AS n_quarantined,
              CAST(sum(event_id * 31 + user_id * 7
                       + CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS good_checksum
       FROM events WHERE event_id % 10 = 0"""

  /** The analytic-window reference suite: lag/lead deltas, running
    * rank statistics (percent_rank, cume_dist), equi-depth quartile
    * (ntile) and per-partition extremes over each user's event stream,
    * ordered by the unique event_id so every function is deterministic.
    * Rank fractions are doubles computed from integer ranks with the
    * identical formula both engines. All windows share ONE
    * (user_id, event_id) partitioning+sort, so the physical plan pays a
    * single window sort, not five.
    */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .withColumn("next_cents", lead(col("cents"), 1).over(w))
      .withColumn("delta", col("cents") - col("prev_cents"))
      .withColumn("pr", round(percent_rank().over(w), 9))
      .withColumn("cd", round(cume_dist().over(w), 9))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("run_max", max(col("cents")).over(w))
  }

  val windowFuncsSql: String =
    """SELECT user_id, event_id,
              CAST(round(value*100) AS BIGINT) AS cents,
              lag(CAST(round(value*100) AS BIGINT), 1)
                OVER (PARTITION BY user_id ORDER BY event_id) AS prev_cents,
              lead(CAST(round(value*100) AS BIGINT), 1)
                OVER (PARTITION BY user_id ORDER BY event_id) AS next_cents,
              CAST(round(value*100) AS BIGINT)
                - lag(CAST(round(value*100) AS BIGINT), 1)
                  OVER (PARTITION BY user_id ORDER BY event_id) AS delta,
              round(percent_rank() OVER (PARTITION BY user_id ORDER BY event_id), 9) AS pr,
              round(cume_dist() OVER (PARTITION BY user_id ORDER BY event_id), 9) AS cd,
              CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS quartile,
              max(CAST(round(value*100) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY event_id) AS run_max
       FROM events"""

}
