package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Quantize.{q6, q6Sql}

/** Robust statistics, ranking evaluation and process-control operators —
  * the monitoring/QA layer a production data pipeline runs beside the
  * reference's live per-digitiser statistics (`kafka-daq-report`'s
  * mean/σ rollups, `diagnostics/src/daq_trace.rs`): trend detection that
  * survives outliers (Theil–Sen, Mann–Kendall), distribution-free
  * prediction intervals (split conformal), control-chart rules
  * (Western Electric), and top-k ranking quality (NDCG/MRR) for the
  * retrieval surface.
  *
  * Exactness contract (the r11 sf0.1-sweep discipline): every aggregate
  * runs in an exact integer domain (cents / 1e-4-dollar revenue units /
  * counts) so sums are order-independent; float divisions happen once,
  * after aggregation, with the identical expression shape on both
  * engines; float OUTPUTS are quantized tie-free as
  * `floor(x·10⁶ + 0.5)/10⁶` (identical IEEE multiply/add/floor/divide —
  * never `round(double, n)`, which Spark and DuckDB resolve a last ulp
  * apart on decimal ties); median/quantile SELECTION averages the middle
  * VALUES under a value-ordered rank, so equal-double ties cannot change
  * the result.
  *
  * Scale notes (100 TB): the per-nation monthly series is a
  * time-bucketed aggregate — its row count is bounded by
  * |nation| × |months| at ANY data scale, so the O(n²) pairwise-slope
  * join is bounded by construction and every window below is either
  * partitioned by nation or runs over one of these bounded aggregate
  * tables. The conformal quantile deliberately avoids a global sort:
  * rank selection is two-phase (coarse residual buckets → prefix over
  * the bounded bucket table → in-bucket partitioned rank), the same
  * shape as q_zipf_slope's bucketed rank.
  */
object RobustQueries {

  // --------------------------------------------------------------------
  // shared per-nation monthly revenue series (exact 1e-4-dollar units)
  // --------------------------------------------------------------------

  /** `persist = false` callers (dtw, mannKendall): their consumer
    * branches canonicalize identically, so plain exchange reuse already
    * bounds the corpus work to one scan — measured r17, the persist only
    * ADDED a materialization barrier there (dtw 0.96 → 1.42 s). The
    * persist is for consumers whose branches diverge (see below).
    */
  private[queries] def nationMonthlySeries(
      s: SparkSession,
      dir: String,
      persist: Boolean = true): DataFrame = {
    val supNation = Tables
      .supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(
        broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val base = Tables
      .lineitem(s, dir)
      .select(
        col("l_suppkey"),
        ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
          .cast("long")
          .as("m"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
      // supplier is a GROWING dimension: no broadcast hint — AQE picks
      // broadcast small, shuffled-hash large (SCALE.md §broadcast-hints)
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("m"))
      .agg(sum(col("rev4")).as("y"))
    // persisted (r17) for consumers that reference the series 2–3× in
    // branches that canonicalize DIFFERENTLY (theilSen a/b/resid,
    // granger y/y1/x1, kendallW months/filled): measured, plans/r17,
    // theilSen's FINAL adaptive plan carried TWO full lineitem scans
    // (the resid branch's pruned scan canonicalizes apart, the
    // waiting-suppliers lesson), so the corpus join + aggregate ran
    // once per divergent branch. The series is |nation|×|months| rows
    // (~1.2k at any SF — the bound the object Scaladoc above names), so
    // persisting bounds the corpus work to ONE scan at no scale cost.
    // coalesce(1) first: the cached plan keeps its shuffle-partition
    // layout (AQE may not re-coalesce under a cache by default), so
    // without it every downstream stage over the ~1.2k-row cache pays
    // one task per shuffle partition — measured r17, 1.2–1.6×
    // regressions from exactly that. One partition is the right layout
    // for a table whose row bound is |nation|×|months| at any SF.
    if (persist) Reuse.pin(base.coalesce(1)) else base
  }

  private[queries] val seriesCteSql: String =
    """series AS (
         SELECT n.n_name,
                (year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate) - 1 AS m,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS y
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         GROUP BY 1, 2)"""

  // --------------------------------------------------------------------
  // q_theil_sen — robust trend (median of pairwise slopes)
  // --------------------------------------------------------------------

  /** Theil–Sen estimator per nation: slope = median over month pairs
    * (i < j) of (yⱼ−yᵢ)/(xⱼ−xᵢ), intercept = median of (yᵢ − slope·xᵢ) —
    * the 29.3%-breakdown robust alternative to OLS for revenue-trend
    * monitoring (one anomalous month cannot move it).
    *
    * Median selection: rank by (slope, x1, x2) within nation and average
    * the rows at ranks ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋ — the mean of the two
    * middle VALUES, so equal-slope tie order is irrelevant. Slopes are
    * single divisions of exact BIGINTs (identical doubles both engines).
    *
    * Scale: the pair join is series×series within nation — bounded by
    * |nation|·|months|² at any SF (≈ 87k rows here); windows are
    * nation-partitioned.
    */
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val ser = nationMonthlySeries(s, dir)
    val a = ser.select(col("n_name"), col("m").as("x1"), col("y").as("y1"))
    val b = ser.select(col("n_name"), col("m").as("x2"), col("y").as("y2"))
    val pairs = a
      .join(b, Seq("n_name"))
      .filter(col("x1") < col("x2"))
      .select(
        col("n_name"),
        col("x1"),
        col("x2"),
        ((col("y2") - col("y1")).cast("double") /
          ((col("x2") - col("x1")) * lit(10000L)).cast("double")).as("slope"))
    val wRank = Window.partitionBy(col("n_name")).orderBy(col("slope"), col("x1"), col("x2"))
    val wAll = Window.partitionBy(col("n_name"))
    val slopeMed = pairs
      .withColumn("rn", row_number().over(wRank))
      .withColumn("np", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(np + 1) div 2") || col("rn") === expr("(np + 2) div 2"))
      .groupBy(col("n_name"))
      .agg(avg(col("slope")).as("slope_med"), first(col("np")).as("n_pairs"))
    val resid = ser
      .join(slopeMed, "n_name")
      .select(
        col("n_name"),
        col("m"),
        col("slope_med"),
        col("n_pairs"),
        (col("y").cast("double") / lit(1e4) - col("slope_med") * col("m").cast("double"))
          .as("r"))
    val wR = Window.partitionBy(col("n_name")).orderBy(col("r"), col("m"))
    resid
      .withColumn("rn", row_number().over(wR))
      .withColumn("nm", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(nm + 1) div 2") || col("rn") === expr("(nm + 2) div 2"))
      .groupBy(col("n_name"))
      .agg(
        first(col("n_pairs")).as("n_pairs"),
        q6(first(col("slope_med"))).as("slope"),
        q6(avg(col("r"))).as("intercept"))
  }

  val theilSenSql: String =
    s"""WITH $seriesCteSql,
       pairs AS (
         SELECT a.n_name, a.m AS x1, b.m AS x2,
                CAST(b.y - a.y AS DOUBLE) / CAST((b.m - a.m) * 10000 AS DOUBLE) AS slope
         FROM series a JOIN series b ON a.n_name = b.n_name AND a.m < b.m),
       rk AS (SELECT n_name, slope, x1, x2,
                     row_number() OVER (PARTITION BY n_name ORDER BY slope, x1, x2) AS rn,
                     count(*) OVER (PARTITION BY n_name) AS np
              FROM pairs),
       sm AS (SELECT n_name, avg(slope) AS slope_med, any_value(np) AS n_pairs
              FROM rk WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2 GROUP BY 1),
       res AS (SELECT s.n_name, s.m, sm.slope_med, sm.n_pairs,
                      CAST(s.y AS DOUBLE) / 1e4 - sm.slope_med * CAST(s.m AS DOUBLE) AS r
               FROM series s JOIN sm USING (n_name)),
       rr AS (SELECT n_name, r, slope_med, n_pairs,
                     row_number() OVER (PARTITION BY n_name ORDER BY r, m) AS rn,
                     count(*) OVER (PARTITION BY n_name) AS nm
              FROM res)
       SELECT n_name, any_value(n_pairs) AS n_pairs,
              ${q6Sql("any_value(slope_med)")} AS slope,
              ${q6Sql("avg(r)")} AS intercept
       FROM rr WHERE rn = (nm + 1) // 2 OR rn = (nm + 2) // 2
       GROUP BY n_name"""

  // --------------------------------------------------------------------
  // q_mann_kendall — non-parametric monotone-trend test
  // --------------------------------------------------------------------

  /** Mann–Kendall S statistic with tie-corrected variance per nation:
    * S = Σ_{i<j} sign(yⱼ − yᵢ) (exact BIGINT), Var(S) =
    * [n(n−1)(2n+5) − Σₜ t(t−1)(2t+5)]/18, z with ±1 continuity
    * correction. The standard monotone-trend companion to [[theilSen]] —
    * it answers "is there a trend" where Theil–Sen answers "how steep".
    *
    * Everything is integer until the final /18 and /√Var divisions, so
    * the result is order-independent by construction. Same bounded pair
    * join as Theil–Sen.
    */
  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    // persist = false: all four branches reuse the series exchange as-is
    // (measured r17 — the persist regressed this query 1.2×)
    val ser = nationMonthlySeries(s, dir, persist = false)
    val a = ser.select(col("n_name"), col("m").as("x1"), col("y").as("y1"))
    val b = ser.select(col("n_name"), col("m").as("x2"), col("y").as("y2"))
    val sStat = a
      .join(b, Seq("n_name"))
      .filter(col("x1") < col("x2"))
      .select(
        col("n_name"),
        when(col("y2") > col("y1"), 1L)
          .when(col("y2") < col("y1"), -1L)
          .otherwise(0L)
          .as("sg"))
      .groupBy(col("n_name"))
      .agg(sum(col("sg")).as("s_stat"))
    val nN = ser.groupBy(col("n_name")).agg(count(lit(1)).as("n"))
    val ties = ser
      .groupBy(col("n_name"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("n_name"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tcorr"))
    sStat
      .join(nN, "n_name")
      .join(ties, "n_name")
      .withColumn(
        "var_s",
        (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tcorr")).cast("double") /
          lit(18.0))
      .select(
        col("n_name"),
        col("n"),
        col("s_stat"),
        q6(col("var_s")).as("var_s"),
        q6(
          when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
            .otherwise(lit(0.0))).as("z_score"))
  }

  val mannKendallSql: String =
    s"""WITH $seriesCteSql,
       st AS (
         SELECT a.n_name,
                CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
                     AS BIGINT) AS s_stat
         FROM series a JOIN series b ON a.n_name = b.n_name AND a.m < b.m
         GROUP BY 1),
       nn AS (SELECT n_name, count(*) AS n FROM series GROUP BY 1),
       tg AS (SELECT n_name, y, count(*) AS t FROM series GROUP BY 1, 2),
       tc AS (SELECT n_name, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tcorr
              FROM tg GROUP BY 1),
       v AS (SELECT st.n_name, nn.n, st.s_stat,
                    CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - tc.tcorr AS DOUBLE) / 18.0
                      AS var_s
             FROM st JOIN nn USING (n_name) JOIN tc USING (n_name))
       SELECT n_name, n, s_stat,
              ${q6Sql("var_s")} AS var_s,
              ${q6Sql(
        """CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                ELSE 0.0 END""")} AS z_score
       FROM v"""

  // --------------------------------------------------------------------
  // q_ndcg — NDCG@10 + MRR ranking evaluation
  // --------------------------------------------------------------------

  /** Offline ranking evaluation of the popularity recommender: rank the
    * (bounded, ≤100-item) catalogue by view count, grade each user's
    * top-10 list against their actual purchases (graded relevance =
    * min(3, purchase count), exponential gain 2^rel − 1) — NDCG@10 — and
    * report MRR (1/rank of the first purchased item in the full
    * popularity order).
    *
    * DCG/IDCG folds run over ≤10 value-sorted doubles per user (the
    * [[GraphQueries]] ordered-fold idiom), so summation order is pinned
    * on both engines. The only unpartitioned window orders the ≤100-row
    * item AGGREGATE — bounded by the catalogue, not the data.
    *
    * Scale: per-user work is a broadcast of the 10-row ranked list plus
    * a user-partitioned top-10 window; everything else is keyed
    * aggregation.
    */
  def ndcgAtK(s: SparkSession, dir: String): DataFrame = {
    // persisted (r17): ev is referenced by both the popularity and the
    // relevance legs — unpersisted, the events scan AND the per-row JSON
    // item extraction ran twice (5 events scans in the final plan with
    // rel's four consumers). 3-column projection.
    val ev = Reuse.pin(
      Tables
        .events(s, dir)
        .select(
          col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"),
          col("event_type")))
    val pop = ev
      .filter(col("event_type") === "view")
      .groupBy(col("item"))
      .agg(count(lit(1)).as("views"))
    val rankedAll = pop
      .withColumn("pos", row_number().over(Window.orderBy(col("views").desc, col("item"))))
    val top10 = rankedAll.filter(col("pos") <= 10)
    val gain = (relCol: Column) =>
      when(relCol === 1, 1.0).when(relCol === 2, 3.0).when(relCol === 3, 7.0).otherwise(0.0)
    // persisted (r17): rel feeds FOUR consumers (users, the dcg join,
    // idcg, rr) — bounded by distinct (user, purchased item) pairs
    val rel = Reuse.pin(
      ev
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("item"))
        .agg(least(count(lit(1)), lit(3L)).as("rel")))
    val users = rel.select(col("user_id")).distinct()
    val dcg = users
      .crossJoin(broadcast(top10.select(col("item"), col("pos"))))
      .join(rel, Seq("user_id", "item"), "left")
      .select(
        col("user_id"),
        (gain(coalesce(col("rel"), lit(0L))) / log2(col("pos") + 1)).as("term"))
      .groupBy(col("user_id"))
      .agg(
        aggregate(array_sort(collect_list(col("term"))), lit(0.0), (acc, x) => acc + x)
          .as("dcg"))
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("rel").desc, col("item"))
    val idcg = rel
      .withColumn("ipos", row_number().over(wUser))
      .filter(col("ipos") <= 10)
      .select(col("user_id"), (gain(col("rel")) / log2(col("ipos") + 1)).as("term"))
      .groupBy(col("user_id"))
      .agg(
        aggregate(array_sort(collect_list(col("term"))), lit(0.0), (acc, x) => acc + x)
          .as("idcg"),
        count(lit(1)).as("n_rel"))
    val rr = rel
      .join(rankedAll.select(col("item"), col("pos")), "item")
      .groupBy(col("user_id"))
      .agg(min(col("pos")).as("first_pos"))
    dcg
      .join(idcg, "user_id")
      .join(rr, Seq("user_id"), "left")
      .select(
        col("user_id"),
        col("n_rel"),
        q6(col("dcg") / col("idcg")).as("ndcg_10"),
        q6(coalesce(lit(1.0) / col("first_pos").cast("double"), lit(0.0))).as("rr"))
  }

  val ndcgSql: String =
    s"""WITH ev AS (
         SELECT user_id, CAST(json_extract(props, '$$.k') AS BIGINT) AS item, event_type
         FROM events),
       pop AS (SELECT item, count(*) AS views FROM ev WHERE event_type = 'view' GROUP BY 1),
       ranked AS (SELECT item, row_number() OVER (ORDER BY views DESC, item) AS pos FROM pop),
       rel AS (SELECT user_id, item, least(count(*), 3) AS rel
               FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
       users AS (SELECT DISTINCT user_id FROM rel),
       dcg AS (
         SELECT u.user_id,
                list_reduce(list_sort(list(
                  (CASE coalesce(r.rel, 0) WHEN 1 THEN 1.0 WHEN 2 THEN 3.0
                        WHEN 3 THEN 7.0 ELSE 0.0 END) / log2(t.pos + 1))),
                  (a, b) -> a + b) AS dcg
         FROM users u
         CROSS JOIN (SELECT item, pos FROM ranked WHERE pos <= 10) t
         LEFT JOIN rel r ON r.user_id = u.user_id AND r.item = t.item
         GROUP BY 1),
       ir AS (SELECT user_id, rel,
                     row_number() OVER (PARTITION BY user_id ORDER BY rel DESC, item)
                       AS ipos
              FROM rel),
       idcg AS (
         SELECT user_id,
                list_reduce(list_sort(list(
                  (CASE rel WHEN 1 THEN 1.0 WHEN 2 THEN 3.0 WHEN 3 THEN 7.0
                        ELSE 0.0 END) / log2(ipos + 1))),
                  (a, b) -> a + b) AS idcg,
                count(*) AS n_rel
         FROM ir WHERE ipos <= 10 GROUP BY 1),
       fp AS (SELECT r.user_id, min(k.pos) AS first_pos
              FROM rel r JOIN ranked k ON r.item = k.item GROUP BY 1)
       SELECT d.user_id, i.n_rel,
              ${q6Sql("d.dcg / i.idcg")} AS ndcg_10,
              ${q6Sql("coalesce(1.0 / CAST(fp.first_pos AS DOUBLE), 0.0)")} AS rr
       FROM dcg d JOIN idcg i USING (user_id) LEFT JOIN fp USING (user_id)"""

  // --------------------------------------------------------------------
  // q_conformal_interval — split-conformal prediction interval
  // --------------------------------------------------------------------

  /** Distribution-free 90% prediction interval for line-item price given
    * quantity, by split conformal: OLS fit on the train split (exact
    * integer moment sums in the cent domain), conformity scores
    * |y − ŷ| on the calibration split, q̂ = the ⌈0.9(n+1)⌉-th smallest
    * score, then EMPIRICAL coverage measured on the held-out test split
    * — the finite-sample-valid interval construction (Vovk; Lei et al.).
    *
    * The rank-k score selection is two-phase to avoid a global sort:
    * coarse 2²⁰-cent residual buckets → cumulative counts over the
    * BOUNDED bucket table locate the target bucket → one
    * bucket-partitioned rank inside it (the q_zipf_slope shape). Moment
    * products ride decimal(38,0) (Spark) / HUGEINT (DuckDB): n·Σxy
    * overflows BIGINT beyond ~sf0.1, and both engines round the exact
    * integer to the same double at the end.
    */
  def conformalInterval(s: SparkSession, dir: String): DataFrame = {
    // persisted (r17): the split-conformal recipe is inherently
    // sequential (fit -> calibrate -> rank -> test), and each stage
    // re-referenced this projection — FOUR full lineitem scans in the
    // final adaptive plan. Pinning the 3-column integer projection
    // bounds it to one scan; the cached footprint is the projection,
    // not the table.
    val li = Reuse.pin(
      Tables
        .lineitem(s, dir)
        .select(
          round(col("l_quantity")).cast("long").as("x"),
          round(col("l_extendedprice") * 100).cast("long").as("y"),
          ((col("l_orderkey") * 31 + col("l_linenumber")) % 4).as("h")))
    val train = li.filter(col("h") <= 1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val fit = train
      .agg(
        count(lit(1)).as("n_train"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        col("n_train"),
        col("sx"),
        col("sy"),
        ((dec(col("n_train")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy")))
          .cast("double") /
          (dec(col("n_train")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
            .cast("double")).as("slope"))
      .select(
        col("n_train"),
        col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n_train").cast("double")).as("icept"))
    val calib = li
      .filter(col("h") === 2)
      .crossJoin(broadcast(fit))
      .select(
        col("n_train"),
        col("slope"),
        col("icept"),
        col("x"),
        col("y"),
        abs(col("y").cast("double") - (col("icept") + col("slope") * col("x").cast("double")))
          .as("r"))
    val withB = calib.withColumn("b", expr("CAST(floor(r) AS BIGINT) div 1048576"))
    val buckets = withB.groupBy(col("b")).agg(count(lit(1)).as("bn"))
    // bounded bucket table (residuals span a few buckets at any SF)
    val wB = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val cum = buckets
      .withColumn("before", coalesce(sum(col("bn")).over(wB), lit(0L)))
      .withColumn("nc", sum(col("bn")).over(Window.partitionBy()))
      .withColumn("k", expr("(9 * (nc + 1) + 9) div 10"))
      .filter(col("before") < col("k") && col("before") + col("bn") >= col("k"))
      .select(col("b").as("tb"), col("before"), col("nc"), col("k"))
    val qHat = withB
      .join(broadcast(cum), col("b") === col("tb"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("b")).orderBy(col("r"), col("x"), col("y"))))
      .filter(col("rn") === col("k") - col("before"))
      .select(
        col("n_train"),
        col("nc").as("n_calib"),
        col("slope"),
        col("icept"),
        col("r").as("qhat"))
    val test = li.filter(col("h") === 3).crossJoin(broadcast(qHat))
    test
      .groupBy(col("n_train"), col("n_calib"), col("slope"), col("icept"), col("qhat"))
      .agg(
        count(lit(1)).as("n_test"),
        sum(
          when(
            abs(col("y").cast("double") -
              (col("icept") + col("slope") * col("x").cast("double"))) <= col("qhat"),
            1L).otherwise(0L)).as("covered"))
      .select(
        col("n_train"),
        col("n_calib"),
        col("n_test"),
        q6(col("slope")).as("slope"),
        q6(col("icept")).as("intercept"),
        q6(col("qhat")).as("q_hat"),
        col("covered"),
        q6(col("covered").cast("double") / col("n_test").cast("double")).as("coverage"))
  }

  val conformalIntervalSql: String =
    s"""WITH li AS (
         SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
                (l_orderkey * 31 + l_linenumber) % 4 AS h
         FROM lineitem),
       fit0 AS (
         SELECT count(*) AS n_train, CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                sum(CAST(x AS HUGEINT) * y) AS sxy,
                sum(CAST(x AS HUGEINT) * x) AS sxx
         FROM li WHERE h <= 1),
       fit1 AS (
         SELECT n_train, sx, sy,
                CAST(CAST(n_train AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                CAST(CAST(n_train AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                  AS slope
         FROM fit0),
       fit AS (
         SELECT n_train, slope,
                (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n_train AS DOUBLE)
                  AS icept
         FROM fit1),
       calib AS (
         SELECT f.n_train, f.slope, f.icept, li.x, li.y,
                abs(CAST(li.y AS DOUBLE) - (f.icept + f.slope * CAST(li.x AS DOUBLE))) AS r
         FROM li CROSS JOIN fit f WHERE li.h = 2),
       wb AS (SELECT *, CAST(floor(r) AS BIGINT) // 1048576 AS b FROM calib),
       bk AS (SELECT b, count(*) AS bn FROM wb GROUP BY 1),
       cm AS (SELECT b, bn,
                     coalesce(sum(bn) OVER (ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
                     sum(bn) OVER () AS nc
              FROM bk),
       tb AS (SELECT b AS tb, before, nc, (9 * (nc + 1) + 9) // 10 AS k
              FROM cm WHERE before < (9 * (nc + 1) + 9) // 10
                        AND before + bn >= (9 * (nc + 1) + 9) // 10),
       qh AS (
         SELECT n_train, CAST(nc AS BIGINT) AS n_calib, slope, icept, r AS qhat
         FROM (SELECT w.*, t.before, t.nc, t.k,
                      row_number() OVER (PARTITION BY w.b ORDER BY w.r, w.x, w.y) AS rn
               FROM wb w JOIN tb t ON w.b = t.tb)
         WHERE rn = k - before)
       SELECT q.n_train, q.n_calib, count(*) AS n_test,
              ${q6Sql("any_value(q.slope)")} AS slope,
              ${q6Sql("any_value(q.icept)")} AS intercept,
              ${q6Sql("any_value(q.qhat)")} AS q_hat,
              CAST(sum(CASE WHEN abs(CAST(li.y AS DOUBLE) -
                       (q.icept + q.slope * CAST(li.x AS DOUBLE))) <= q.qhat
                       THEN 1 ELSE 0 END) AS BIGINT) AS covered,
              ${q6Sql(
        """CAST(sum(CASE WHEN abs(CAST(li.y AS DOUBLE) -
                       (q.icept + q.slope * CAST(li.x AS DOUBLE))) <= q.qhat
                       THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)""")}
                AS coverage
       FROM li CROSS JOIN qh q WHERE li.h = 3
       GROUP BY q.n_train, q.n_calib"""

  // --------------------------------------------------------------------
  // q_spc_rules — Western Electric control-chart rules
  // --------------------------------------------------------------------

  /** Western Electric run rules over the daily error-event count — the
    * alarm layer a pipeline operator runs on its own throughput metrics
    * (the reference's per-digitiser live stats feed exactly such charts):
    *   r1: point beyond μ±3σ;
    *   r2: ≥2 of the last 3 points beyond 2σ on the SAME side;
    *   r3: ≥4 of the last 5 points beyond 1σ on the same side;
    *   r4: 8 consecutive points on the same side of μ.
    * μ/σ come from the first 10 BASELINE days (population σ from exact
    * integer count sums). All rule comparisons are double-vs-double with
    * identical inputs, so flags match bit-for-bit.
    *
    * Scale: the series is a day-bucketed aggregate — the windows run over
    * a bounded time axis (days), not over raw events.
    */
  def spcRules(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).cast("long").as("d"))
      .agg(count(lit(1)).as("c"))
    val d0 = daily.agg(min(col("d")).as("dmin"))
    val base = daily
      .crossJoin(broadcast(d0))
      .filter(col("d") < col("dmin") + 10)
      .agg(count(lit(1)).as("nb"), sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"))
      .select(
        (col("sc").cast("double") / col("nb").cast("double")).as("mu"),
        sqrt(
          (col("nb") * col("scc") - col("sc") * col("sc")).cast("double") /
            (col("nb") * col("nb")).cast("double")).as("sigma"))
    val w3 = Window.orderBy(col("d")).rowsBetween(-2, 0)
    val w5 = Window.orderBy(col("d")).rowsBetween(-4, 0)
    val w8 = Window.orderBy(col("d")).rowsBetween(-7, 0)
    // unpartitioned windows over the bounded day-axis aggregate (≤ a few
    // hundred rows at any SF) — the documented benign class
    daily
      .crossJoin(broadcast(base))
      .withColumn("cd", col("c").cast("double"))
      .withColumn("ab1", when(col("cd") > col("mu") + col("sigma"), 1L).otherwise(0L))
      .withColumn("bl1", when(col("cd") < col("mu") - col("sigma"), 1L).otherwise(0L))
      .withColumn("ab2", when(col("cd") > col("mu") + col("sigma") * 2, 1L).otherwise(0L))
      .withColumn("bl2", when(col("cd") < col("mu") - col("sigma") * 2, 1L).otherwise(0L))
      .withColumn("abm", when(col("cd") > col("mu"), 1L).otherwise(0L))
      .withColumn("blm", when(col("cd") < col("mu"), 1L).otherwise(0L))
      .select(
        col("d"),
        col("c"),
        when(
          col("cd") > col("mu") + col("sigma") * 3 || col("cd") < col("mu") - col("sigma") * 3,
          1L).otherwise(0L).as("r1"),
        when(sum(col("ab2")).over(w3) >= 2 || sum(col("bl2")).over(w3) >= 2, 1L)
          .otherwise(0L)
          .as("r2"),
        when(sum(col("ab1")).over(w5) >= 4 || sum(col("bl1")).over(w5) >= 4, 1L)
          .otherwise(0L)
          .as("r3"),
        when(sum(col("abm")).over(w8) === 8 || sum(col("blm")).over(w8) === 8, 1L)
          .otherwise(0L)
          .as("r4"))
  }

  val spcRulesSql: String =
    """WITH daily AS (
         SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d, count(*) AS c
         FROM events WHERE event_type = 'error' GROUP BY 1),
       base AS (
         SELECT CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
                sqrt(CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS DOUBLE) /
                     CAST(count(*) * count(*) AS DOUBLE)) AS sigma
         FROM daily WHERE d < (SELECT min(d) FROM daily) + 10),
       f AS (
         SELECT d, c, CAST(c AS DOUBLE) AS cd, mu, sigma,
                CASE WHEN CAST(c AS DOUBLE) > mu + sigma THEN 1 ELSE 0 END AS ab1,
                CASE WHEN CAST(c AS DOUBLE) < mu - sigma THEN 1 ELSE 0 END AS bl1,
                CASE WHEN CAST(c AS DOUBLE) > mu + 2 * sigma THEN 1 ELSE 0 END AS ab2,
                CASE WHEN CAST(c AS DOUBLE) < mu - 2 * sigma THEN 1 ELSE 0 END AS bl2,
                CASE WHEN CAST(c AS DOUBLE) > mu THEN 1 ELSE 0 END AS abm,
                CASE WHEN CAST(c AS DOUBLE) < mu THEN 1 ELSE 0 END AS blm
         FROM daily CROSS JOIN base)
       SELECT d, c,
              CAST(CASE WHEN cd > mu + 3 * sigma OR cd < mu - 3 * sigma
                   THEN 1 ELSE 0 END AS BIGINT) AS r1,
              CAST(CASE WHEN sum(ab2) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                     OR sum(bl2) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                   THEN 1 ELSE 0 END AS BIGINT) AS r2,
              CAST(CASE WHEN sum(ab1) OVER (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4
                     OR sum(bl1) OVER (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4
                   THEN 1 ELSE 0 END AS BIGINT) AS r3,
              CAST(CASE WHEN sum(abm) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
                     OR sum(blm) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
                   THEN 1 ELSE 0 END AS BIGINT) AS r4
       FROM f"""
}
