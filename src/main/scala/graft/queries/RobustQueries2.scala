package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Quantize.{q6, q6Sql, q6u, q6uSql}

/** Second tranche of the robust-statistics / evaluation family:
  * exact-integer isotonic regression (the calibration fit under the
  * monotonicity constraint), Kneser–Ney smoothed bigram language
  * modelling on a held-out split (the state-of-the-art count-based LM
  * smoother — Chen & Goodman 1999), and HITS hubs/authorities over the
  * user→item purchase graph (Kleinberg 1999).
  *
  * Same exactness contract as [[RobustQueries]]: integer domains until
  * one final division, tie-free `floor(x·10⁶+0.5)/10⁶` output
  * quantization, value-ordered folds for every float sum, quantized
  * `⌊ln·10⁹⌋` BIGINT sums for log-likelihoods.
  */
object RobustQueries2 {

  // --------------------------------------------------------------------
  // q_isotonic_fit — weighted isotonic regression via exact minimax
  // --------------------------------------------------------------------

  /** Weighted isotonic regression of purchase rate against the event
    * value, on 64 value bins: the PAVA solution computed by its minimax
    * characterization fit(i) = max_{j≤i} min_{k≥i} mean(y[j..k]) —
    * the calibration-curve fit under the monotone constraint
    * (Barlow et al. 1972; what `IsotonicRegression` fits in ML libs).
    *
    * Exactness: interval means are ratios of exact BIGINT prefix sums;
    * both engines evaluate the same num/den double division, and min/max
    * select VALUES, so equal-double ties cannot diverge. The whole
    * computation happens on the 64-row bin aggregate: the (j,i,k)
    * triple enumeration (≤ 64³/6 rows) comes from `sequence`/
    * `generate_series` explosion of the bounded pair table — no join
    * against data-scaled rows anywhere past the first aggregate.
    */
  def isotonicFit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(
        least(lit(63L), expr("CAST(round(value * 100) AS BIGINT) div 768")).as("b"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
    val bins = ev.groupBy(col("b")).agg(count(lit(1)).as("n"), sum(col("p")).as("pos"))
    // bounded 64-row aggregate: the unpartitioned prefix window is benign
    val wCum = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, 0)
    val pref = bins
      .withColumn("cum_p", sum(col("pos")).over(wCum))
      .withColumn("cum_w", sum(col("n")).over(wCum))
      .withColumn("bef_p", col("cum_p") - col("pos"))
      .withColumn("bef_w", col("cum_w") - col("n"))
    val jk = pref
      .select(col("b").as("j"), col("bef_p"), col("bef_w"))
      .join(pref.select(col("b").as("k"), col("cum_p"), col("cum_w")), col("j") <= col("k"))
      .select(
        col("j"),
        col("k"),
        ((col("cum_p") - col("bef_p")).cast("double") /
          (col("cum_w") - col("bef_w")).cast("double")).as("frac"))
    val fit = jk
      .select(col("j"), col("frac"), explode(expr("sequence(j, k)")).as("i"))
      .groupBy(col("i"), col("j"))
      .agg(min(col("frac")).as("mn"))
      .groupBy(col("i"))
      .agg(max(col("mn")).as("fit"))
    bins
      .join(fit, col("b") === col("i"))
      .select(
        col("b"),
        col("n"),
        col("pos"),
        q6(col("pos").cast("double") / col("n").cast("double")).as("rate"),
        q6(col("fit")).as("fit"))
  }

  val isotonicFitSql: String =
    s"""WITH ev AS (
         SELECT least(63, CAST(round(value * 100) AS BIGINT) // 768) AS b,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
         FROM events WHERE event_type IN ('view', 'click', 'purchase')),
       bins AS (SELECT b, count(*) AS n, CAST(sum(p) AS BIGINT) AS pos
                FROM ev GROUP BY 1),
       pref AS (
         SELECT b, n, pos,
                CAST(sum(pos) OVER (ORDER BY b) AS BIGINT) AS cum_p,
                CAST(sum(n) OVER (ORDER BY b) AS BIGINT) AS cum_w
         FROM bins),
       jk AS (
         SELECT j.b AS j, k.b AS k,
                CAST(k.cum_p - (j.cum_p - j.pos) AS DOUBLE) /
                CAST(k.cum_w - (j.cum_w - j.n) AS DOUBLE) AS frac
         FROM pref j JOIN pref k ON j.b <= k.b),
       tri AS (SELECT j, frac, unnest(generate_series(j, k)) AS i FROM jk),
       mn AS (SELECT i, j, min(frac) AS mn FROM tri GROUP BY 1, 2),
       ft AS (SELECT i, max(mn) AS fit FROM mn GROUP BY 1)
       SELECT b, n, pos,
              ${q6Sql("CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)")} AS rate,
              ${q6Sql("fit")} AS fit
       FROM bins JOIN ft ON bins.b = ft.i"""

  // --------------------------------------------------------------------
  // q_kneser_ney — interpolated Kneser–Ney bigram LM, held-out ppl
  // --------------------------------------------------------------------

  /** Interpolated Kneser–Ney bigram language model (absolute discount
    * d = 0.75) trained on docs with (doc_id div 20) % 5 ≠ 0 and evaluated as
    * held-out perplexity per source on the (doc_id div 20) % 5 = 0 split
    * (the div-20 decorrelates the split from source = doc_id mod 20):
    *
    *   P(w₂|w₁) = (max(c₁₂−d, 0) + d·N₁₊(w₁·)·P_cont(w₂)) / c₁
    *   P_cont(w₂) = N₁₊(·w₂) / |bigram types|
    *
    * with unigram-continuation backoff for unseen contexts and OOV
    * (P_cont undefined) tokens skipped and counted. The smoother that
    * made count-based LMs competitive (Chen & Goodman 1999) — and the
    * quality-scoring backbone of CCNet-style corpus filters.
    *
    * Log-likelihoods are quantized (⌊ln P·10⁹⌋ BIGINT) before the
    * per-source sum, so aggregation order cannot move the result.
    * Scale: every aggregate is vocabulary-keyed; held-out bigrams join
    * the model tables on their natural keys — no broadcast hints, AQE
    * decides (the q_lm_perplexity lesson).
    */
  def kneserNey(s: SparkSession, dir: String): DataFrame = {
    val d = 0.75
    val docs = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ", -1).as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigramsOf = (df: DataFrame) =>
      df.select(
        col("doc_id"),
        col("source"),
        explode(expr(
          "transform(sequence(0, size(ws) - 2), " +
            "i -> struct(element_at(ws, i + 1) AS w1, element_at(ws, i + 2) AS w2))"))
          .as("bg"))
        .select(col("doc_id"), col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val train = bigramsOf(docs.filter(expr("(doc_id div 20) % 5") =!= 0))
    val held = bigramsOf(docs.filter(expr("(doc_id div 20) % 5") === 0))
    val c12 = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = c12
      .groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1pl"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1pr"))
    val nTypes = c12.agg(count(lit(1)).as("bt"))
    val scored = held
      .join(cont, Seq("w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(nTypes))
      .withColumn("pcont", col("n1pr").cast("double") / col("bt").cast("double"))
      .withColumn(
        "p",
        when(col("n1pr").isNull, lit(null))
          .when(
            col("c1").isNotNull,
            (greatest(coalesce(col("c12"), lit(0L)).cast("double") - lit(d), lit(0.0)) +
              lit(d) * col("n1pl").cast("double") * col("pcont")) /
              col("c1").cast("double"))
          .otherwise(col("pcont")))
    scored
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("p").isNull, 1L).otherwise(0L)).as("n_oov"),
        // per-term |⌊ln p · 1e9⌋| ≤ 6.9e11 (p floored at 1e-300), but
        // the SUM scales with scored-bigram volume: decimal(38,0), not
        // BIGINT, so ANSI Spark doesn't error where DuckDB's HUGEINT
        // sum keeps going (the oracle's sum is HUGEINT-wide already)
        sum(when(col("p").isNotNull, floor(log(col("p")) * lit(1e9)))
          .otherwise(0L).cast("decimal(38,0)")).as("qsum"),
        sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("n_scored"))
      .select(
        col("source"),
        col("n_bigrams"),
        col("n_oov"),
        q6(col("n_oov").cast("double") / col("n_bigrams").cast("double")).as("oov_rate"),
        q6(
          exp((col("qsum").cast("double") / lit(1e9)) * lit(-1.0) /
            col("n_scored").cast("double"))).as("ppl"))
  }

  val kneserNeySql: String =
    s"""WITH docs AS (
         SELECT doc_id, source, string_split(text, ' ') AS ws
         FROM documents WHERE len(string_split(text, ' ')) >= 2),
       bg AS (
         SELECT doc_id, source,
                unnest([ws[i+1] FOR i IN range(len(ws) - 1)]) AS w1,
                unnest([ws[i+2] FOR i IN range(len(ws) - 1)]) AS w2
         FROM docs),
       train AS (SELECT * FROM bg WHERE (doc_id // 20) % 5 <> 0),
       held AS (SELECT * FROM bg WHERE (doc_id // 20) % 5 = 0),
       c12 AS (SELECT w1, w2, count(*) AS c12 FROM train GROUP BY 1, 2),
       ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1pl
               FROM c12 GROUP BY 1),
       cont AS (SELECT w2, count(*) AS n1pr FROM c12 GROUP BY 1),
       nt AS (SELECT count(*) AS bt FROM c12),
       scored AS (
         SELECT h.source,
                CASE WHEN co.n1pr IS NULL THEN NULL
                     WHEN cx.c1 IS NOT NULL THEN
                       (greatest(CAST(coalesce(c.c12, 0) AS DOUBLE) - 0.75, 0.0)
                          + 0.75 * CAST(cx.n1pl AS DOUBLE)
                            * (CAST(co.n1pr AS DOUBLE) / CAST(nt.bt AS DOUBLE)))
                         / CAST(cx.c1 AS DOUBLE)
                     ELSE CAST(co.n1pr AS DOUBLE) / CAST(nt.bt AS DOUBLE) END AS p
         FROM held h
         LEFT JOIN cont co ON h.w2 = co.w2
         LEFT JOIN ctx cx ON h.w1 = cx.w1
         LEFT JOIN c12 c ON h.w1 = c.w1 AND h.w2 = c.w2
         CROSS JOIN nt)
       SELECT source, count(*) AS n_bigrams,
              CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
              ${q6Sql(
        "CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
                AS oov_rate,
              ${q6Sql(
        """exp((CAST(sum(CASE WHEN p IS NOT NULL
                 THEN CAST(floor(ln(p) * 1e9) AS BIGINT) ELSE 0 END) AS DOUBLE)
               / 1e9) * (-1.0)
              / CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE))""")} AS ppl
       FROM scored GROUP BY source"""

  // --------------------------------------------------------------------
  // q_hits — HITS hubs & authorities on the user→item purchase graph
  // --------------------------------------------------------------------

  /** Kleinberg's HITS on the bipartite user→item purchase graph: 4
    * synchronous rounds of a(i) = Σ h(u), h(u) = Σ a(i), each side
    * max-normalized per round — hub users are broad curators, authority
    * items attract them. Max normalization (not L2/L1) keeps every
    * round's division a scalar broadcast of an order-independent
    * aggregate, so no global float sum exists anywhere; the per-node
    * sums fold value-sorted lists (the pagerank idiom).
    *
    * Scale: edges are the DISTINCT (user, item) purchase pairs; every
    * round is two keyed aggregations + one scalar-max broadcast. The
    * item side is catalogue-bounded; the user side shards on user_id.
    */
  def hits(s: SparkSession, dir: String): DataFrame = {
    val edges = Reuse.pin(
      Tables
        .events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .distinct())
    val users = edges.select(col("user_id")).distinct()
    var hub = users.select(col("user_id"), lit(1.0).as("h"))
    var auth: DataFrame = null
    var raws = Seq.empty[DataFrame]
    val foldSum = (c: Column) =>
      aggregate(array_sort(collect_list(c)), lit(0.0), (acc, x) => acc + x)
    for (_ <- 1 to 4) {
      // each round's raw table is consumed TWICE (scalar max + the
      // normalize projection feeding the next join): without a
      // truncation point the round-4 plan re-executes every earlier
      // round multiplicatively (~4^rounds) — the ConnectedComponents
      // localCheckpoint rule, measured here as 29 s -> ~2 s at sf0.1
      val aRaw = Reuse.cut(
        edges
          .join(hub, "user_id")
          .groupBy(col("item"))
          .agg(foldSum(col("h")).as("a_raw")))
      val aMax = aRaw.agg(max(col("a_raw")).as("am"))
      auth = aRaw
        .crossJoin(broadcast(aMax))
        .select(col("item"), (col("a_raw") / col("am")).as("a"))
      val hRaw = Reuse.cut(
        edges
          .join(auth, "item")
          .groupBy(col("user_id"))
          .agg(foldSum(col("a")).as("h_raw")))
      val hMax = hRaw.agg(max(col("h_raw")).as("hm"))
      hub = hRaw
        .crossJoin(broadcast(hMax))
        .select(col("user_id"), (col("h_raw") / col("hm")).as("h"))
      // the previous round's two tables fed only this round's cuts
      raws.foreach(Reuse.free)
      raws = Seq(aRaw, hRaw)
    }
    val out = auth
      .select(lit("item").as("kind"), col("item").as("id"), q6(col("a")).as("score"))
      .unionAll(
        hub.select(lit("user").as("kind"), col("user_id").as("id"), q6(col("h")).as("score")))
    Reuse.free(edges)
    out
  }

  val hitsSql: String = {
    val rounds = (1 to 4)
      .map { r =>
        // MATERIALIZED: each round is read twice, and DuckDB would
        // otherwise re-evaluate every earlier round for each read
        s"""ar$r AS MATERIALIZED (SELECT e.item,
                        list_reduce(list_sort(list(h.h)), (a, b) -> a + b) AS a_raw
                 FROM edges e JOIN h${r - 1} h ON e.user_id = h.user_id
                 GROUP BY 1),
         a$r AS MATERIALIZED (SELECT item, a_raw / (SELECT max(a_raw) FROM ar$r) AS a FROM ar$r),
         hr$r AS MATERIALIZED (SELECT e.user_id,
                        list_reduce(list_sort(list(a.a)), (x, y) -> x + y) AS h_raw
                 FROM edges e JOIN a$r a ON e.item = a.item
                 GROUP BY 1),
         h$r AS MATERIALIZED (SELECT user_id, h_raw / (SELECT max(h_raw) FROM hr$r) AS h FROM hr$r)"""
      }
      .mkString(",\n       ")
    s"""WITH edges AS (
         SELECT DISTINCT user_id, CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         FROM events WHERE event_type = 'purchase'),
       h0 AS (SELECT DISTINCT user_id, CAST(1.0 AS DOUBLE) AS h FROM edges),
       $rounds
       SELECT 'item' AS kind, item AS id, ${q6Sql("a")} AS score FROM a4
       UNION ALL
       SELECT 'user' AS kind, user_id AS id, ${q6Sql("h")} AS score FROM h4"""
  }

  // --------------------------------------------------------------------
  // q_dtw — banded Dynamic Time Warping over nation revenue curves
  // --------------------------------------------------------------------

  /** Pairwise banded DTW distance between per-nation monthly revenue
    * curves (Sakoe–Chiba r = 10) — the elastic time-series similarity
    * that rigid lag-free metrics (Euclidean, correlation) get wrong when
    * seasonal peaks shift a month: which nations' revenue rhythms track
    * each other?
    *
    * The kernel is [[graft.plans.DtwDistance]], a codegen'd Catalyst
    * expression over exact BIGINT series — the whole DP stays integer,
    * so the DuckDB oracle replays the identical recurrence by
    * anti-diagonal recursion (each recursive step advances one
    * anti-diagonal; within a diagonal the cells are independent, which
    * is what makes the list-transform step exact) and matches
    * hash-for-hash. dtw_norm is the per-step cost in dollars.
    *
    * Scale: series are |nation|×|months|-bounded aggregates; the pair
    * grid is bounded; the DP is fused into the projection by codegen.
    */
  def dtw(s: SparkSession, dir: String): DataFrame = {
    graft.plans.DtwDistance.register(s)
    // persist = false: the a/b self-join branches reuse the series
    // exchange as-is (measured r17 — the persist regressed dtw 1.5×)
    val arr = RobustQueries
      .nationMonthlySeries(s, dir, persist = false)
      .groupBy(col("n_name"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("m"), col("y")))),
          x => x.getField("y")).as("ys"),
        count(lit(1)).as("len"))
    val a = arr.select(col("n_name").as("nation_a"), col("ys").as("ya"), col("len").as("la"))
    val b = arr.select(col("n_name").as("nation_b"), col("ys").as("yb"), col("len").as("lb"))
    a.join(b, col("nation_a") < col("nation_b"))
      .select(
        col("nation_a"),
        col("nation_b"),
        expr("dtw_dist(ya, yb, 10)").as("dtw"),
        col("la"),
        col("lb"))
      .select(
        col("nation_a"),
        col("nation_b"),
        col("dtw"),
        // kernel returns -1 when the Sakoe-Chiba band can't reach the
        // corner (|n-m| > band); propagate the sentinel to dtw_norm
        // instead of normalizing it into a meaningless small negative
        when(col("dtw") === -1, lit(-1.0))
          .otherwise(q6(
            col("dtw").cast("double") / lit(1e4) /
              (col("la") + col("lb")).cast("double")))
          .as("dtw_norm"))
  }

  val dtwSql: String =
    s"""WITH RECURSIVE ${RobustQueries.seriesCteSql},
       arr AS (
         SELECT n_name,
                list_transform(list_sort(list({'m': m, 'y': y})), x -> x.y) AS ys,
                count(*) AS len
         FROM series GROUP BY 1),
       pairs AS (
         SELECT a.n_name AS nation_a, b.n_name AS nation_b,
                a.ys AS ya, b.ys AS yb,
                CAST(a.len AS INT) AS n, CAST(b.len AS INT) AS m
         FROM arr a JOIN arr b ON a.n_name < b.n_name),
       dp AS (
         SELECT nation_a, nation_b, ya, yb, n, m, 0 AS d,
                list_transform(range(1, n + 1), ii ->
                  CASE WHEN ii = 1 THEN abs(ya[1] - yb[1]) ELSE NULL END) AS cur,
                CAST(NULL AS BIGINT[]) AS prev
         FROM pairs
         UNION ALL
         SELECT nation_a, nation_b, ya, yb, n, m, d + 1,
                list_transform(range(1, n + 1), ii ->
                  CASE WHEN (d + 1 - (ii - 1)) BETWEEN 0 AND (m - 1)
                         AND abs((ii - 1) - (d + 1 - (ii - 1))) <= 10
                    THEN abs(ya[ii] - yb[d + 3 - ii])
                         + least(cur[ii - 1], cur[ii], prev[ii - 1])
                    ELSE NULL END) AS cur,
                cur AS prev
         FROM dp WHERE d < n + m - 2)
       SELECT nation_a, nation_b, COALESCE(cur[n], -1) AS dtw,
              CASE WHEN cur[n] IS NULL THEN CAST(-1.0 AS DOUBLE)
                   ELSE ${q6Sql("CAST(cur[n] AS DOUBLE) / 1e4 / CAST(n + m AS DOUBLE)")}
              END AS dtw_norm
       FROM dp WHERE d = n + m - 2"""

  // --------------------------------------------------------------------
  // q_emd_1d — 1-D earth mover's distance between arm distributions
  // --------------------------------------------------------------------

  /** 1-D Wasserstein-1 (earth mover's) distance between the event-value
    * distributions of the two experiment arms (user_id parity), via the
    * closed form W₁ = Σ_bins |F_A − F_B| · Δ over a shared 64-bin axis —
    * the optimal-transport distance an experimentation platform reports
    * when a mean shift under-describes a distributional change (and the
    * drift metric embedding pipelines use between corpus snapshots).
    *
    * CDF values are ratios of exact BIGINT cumulative counts; the 64
    * |ΔF| terms are summed by a value-ordered fold. Everything after
    * the one keyed (bin, arm) aggregate runs on the bounded bin axis.
    */
  def emd1d(s: SparkSession, dir: String): DataFrame = {
    val binned = Tables
      .events(s, dir)
      .select(
        least(lit(63L), expr("CAST(round(value * 100) AS BIGINT) div 768")).as("b"),
        (col("user_id") % 2).as("arm"))
      .groupBy(col("b"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"))
    val wCum = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val cum = binned
      .select(
        col("b"),
        sum(col("na")).over(wCum).as("ca"),
        sum(col("nb")).over(wCum).as("cb"),
        sum(col("na")).over(wAll).as("ta"),
        sum(col("nb")).over(wAll).as("tb"))
      .select(
        col("ta"),
        col("tb"),
        abs(
          col("ca").cast("double") / col("ta").cast("double") -
            col("cb").cast("double") / col("tb").cast("double")).as("df"))
    cum
      .groupBy(col("ta"), col("tb"))
      .agg(
        aggregate(array_sort(collect_list(col("df"))), lit(0.0), (acc, x) => acc + x)
          .as("s"))
      .select(
        col("ta").as("n_a"),
        col("tb").as("n_b"),
        q6(col("s") * lit(7.68)).as("emd_dollars"))
  }

  val emd1dSql: String =
    s"""WITH binned AS (
         SELECT least(63, CAST(round(value * 100) AS BIGINT) // 768) AS b,
                CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
         FROM events GROUP BY 1),
       cum AS (
         SELECT b,
                CAST(sum(na) OVER (ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
                CAST(sum(nb) OVER (ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
                CAST(sum(na) OVER () AS BIGINT) AS ta,
                CAST(sum(nb) OVER () AS BIGINT) AS tb
         FROM binned)
       SELECT ta AS n_a, tb AS n_b,
              ${q6Sql(
        """list_reduce(list_sort(list(
             abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)))),
             (x, y) -> x + y) * 7.68""")} AS emd_dollars
       FROM cum GROUP BY ta, tb"""

  // --------------------------------------------------------------------
  // q_hampel — rolling-median Hampel outlier filter
  // --------------------------------------------------------------------

  /** Hampel filter over the per-event-type daily count series: rolling
    * window of 7 (±3 days), rolling median m and MAD; a point is an
    * outlier when |x − m| > 3·1.4826·MAD, and the filtered series
    * replaces outliers by the rolling median — the robust despiking
    * filter (vs. the global-MAD q_anomaly_mad): one bad ingest day
    * cannot poison its own detection threshold.
    *
    * Window medians come from value-sorted ≤7-element lists with the
    * same 1-based middle-pair rule on both engines; counts are exact
    * BIGINTs, so medians and MADs are identical doubles. The windows
    * run per event_type over the bounded day axis.
    */
  def hampel(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(s, dir)
      .groupBy(
        col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).cast("long").as("d"))
      .agg(count(lit(1)).as("c"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("d")).rowsBetween(-3, 3)
    val medOf = (arr: Column) => {
      val sorted = array_sort(arr)
      val n = size(sorted)
      // Column `/` is double division; truncate-to-int = floor for the
      // positive indexes here, matching DuckDB's `//`
      (element_at(sorted, ((n + 1) / lit(2)).cast("int")).cast("double") +
        element_at(sorted, ((n + 2) / lit(2)).cast("int")).cast("double")) / lit(2.0)
    }
    val withMed = daily
      .withColumn("win", collect_list(col("c")).over(w7))
      .withColumn("med", medOf(col("win")))
    withMed
      .withColumn(
        "mad",
        medOf(transform(col("win"), x => abs(x.cast("double") - col("med")))))
      .select(
        col("event_type"),
        col("d"),
        col("c"),
        q6(col("med")).as("med"),
        q6(col("mad")).as("mad"),
        when(abs(col("c").cast("double") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)
          .as("is_outlier"),
        q6(
          when(
            abs(col("c").cast("double") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"),
            col("med")).otherwise(col("c").cast("double"))).as("filtered"))
  }

  val hampelSql: String =
    s"""WITH daily AS (
         SELECT event_type,
                date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
                count(*) AS c
         FROM events GROUP BY 1, 2),
       win AS (
         SELECT event_type, d, c,
                list(c) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
         FROM daily),
       med AS (
         SELECT *,
                (CAST(list_sort(win)[(len(win) + 1) // 2] AS DOUBLE)
                 + CAST(list_sort(win)[(len(win) + 2) // 2] AS DOUBLE)) / 2.0 AS med
         FROM win),
       mad AS (
         SELECT *,
                (CAST(list_sort(list_transform(win, x -> abs(CAST(x AS DOUBLE) - med)))
                        [(len(win) + 1) // 2] AS DOUBLE)
                 + CAST(list_sort(list_transform(win, x -> abs(CAST(x AS DOUBLE) - med)))
                        [(len(win) + 2) // 2] AS DOUBLE)) / 2.0 AS mad
         FROM med)
       SELECT event_type, d, c,
              ${q6Sql("med")} AS med,
              ${q6Sql("mad")} AS mad,
              CAST(CASE WHEN abs(CAST(c AS DOUBLE) - med) > 3.0 * 1.4826 * mad
                   THEN 1 ELSE 0 END AS BIGINT) AS is_outlier,
              ${q6Sql(
        """CASE WHEN abs(CAST(c AS DOUBLE) - med) > 3.0 * 1.4826 * mad
                THEN med ELSE CAST(c AS DOUBLE) END""")} AS filtered
       FROM mad"""

  // --------------------------------------------------------------------
  // q_kendall_tau — tau-b rank correlation between revenue and volume
  // --------------------------------------------------------------------

  /** Kendall tau-b (tie-corrected) between each nation's monthly
    * revenue and monthly shipped quantity — "do the months rank the
    * same by money as by volume?", the robust rank-correlation readout
    * when Pearson is distorted by a few giant orders. C, D and the tie
    * counts are exact BIGINT pair counts over the calendar-bounded
    * month-pair grid; tau_b = (C − D) / √((n₀ − Tx)(n₀ − Ty)) is one
    * shared float expression.
    *
    * Scale: the corpus aggregates once to |nation|×|months| rows; the
    * pair grid is month²-bounded per nation (the [[dtw]] shape) and
    * never touches fact rows.
    */
  def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val supNation = Tables
      .supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(
        broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val monthly = Tables
      .lineitem(s, dir)
      .select(
        col("l_suppkey"),
        ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
          .cast("long")
          .as("m"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"),
        round(col("l_quantity")).cast("long").as("qty"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("m"))
      .agg(sum(col("rev4")).as("x"), sum(col("qty")).as("y"))
    val a = monthly.select(
      col("n_name"), col("m").as("ma"), col("x").as("xa"), col("y").as("ya"))
    val b = monthly.select(
      col("n_name"), col("m").as("mb"), col("x").as("xb"), col("y").as("yb"))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val pairs = a
      .join(b, Seq("n_name"))
      .filter(col("ma") < col("mb"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n0"),
        cnt((col("xa") < col("xb") && col("ya") < col("yb")) ||
          (col("xa") > col("xb") && col("ya") > col("yb"))).as("c"),
        cnt((col("xa") < col("xb") && col("ya") > col("yb")) ||
          (col("xa") > col("xb") && col("ya") < col("yb"))).as("d"),
        cnt(col("xa") === col("xb")).as("tx"),
        cnt(col("ya") === col("yb")).as("ty"))
    val tau =
      """(CAST(c - d AS DOUBLE)
          / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)))"""
    pairs.select(
      col("n_name"), col("n0"), col("c"), col("d"), col("tx"), col("ty"),
      q6(expr(tau)).as("tau_b"))
  }

  // --------------------------------------------------------------------
  // q_anova_oneway — one-way ANOVA across event types
  // --------------------------------------------------------------------

  /** One-way ANOVA of event value (exact cents) across the five event
    * types: SSB = Σ S_g²/n_g − S²/n and SSW = Σ (Q_g − S_g²/n_g) from
    * exact BIGINT (n, Σx, Σx²) triples, F = (SSB/(k−1))/(SSW/(n−k)),
    * η² = SSB/(SSB+SSW) — the omnibus "do the arms differ at all?"
    * readout that precedes pairwise testing. The per-group float terms
    * fold in group order (sorted ≤5-element array).
    *
    * Scale: one map-side-combined aggregate to k rows; constant math
    * after.
    */
  def anovaOneway(s: SparkSession, dir: String): DataFrame = {
    val g = Tables
      .events(s, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("ng"),
        sum(col("c")).as("sg"),
        sum(col("c") * col("c")).as("qg"))
    val one = g
      .groupBy()
      .agg(
        count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("sg")).as("s"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), col("ng"), col("sg"), col("qg")))),
          lit(0.0),
          (acc, x) =>
            acc + x.getField("sg").cast("double") * x.getField("sg").cast("double") /
              x.getField("ng").cast("double")).as("ssg"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), col("ng"), col("sg"), col("qg")))),
          lit(0.0),
          (acc, x) =>
            acc + (x.getField("qg").cast("double") -
              x.getField("sg").cast("double") * x.getField("sg").cast("double") /
                x.getField("ng").cast("double"))).as("ssw"))
    val ssb = "(ssg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    one.select(
      col("k"), col("n"),
      q6u(expr(ssb)).as("ssb"),
      q6u(col("ssw")).as("ssw"),
      q6(expr(s"($ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))")).as("f"),
      q6(expr(s"$ssb / ($ssb + ssw)")).as("eta2"))
  }

  val anovaOnewaySql: String = {
    val ssb = "(ssg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH g AS (
         SELECT event_type, count(*) AS ng,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sg,
                CAST(sum(CAST(round(value * 100) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS qg
         FROM events GROUP BY 1),
       one AS (
         SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s,
                list_reduce(list_prepend(0.0, list(
                  CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
                  ORDER BY event_type)), (a, b) -> a + b) AS ssg,
                list_reduce(list_prepend(0.0, list(
                  CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
                  ORDER BY event_type)), (a, b) -> a + b) AS ssw
         FROM g)
       SELECT k, n, ${q6uSql(ssb)} AS ssb, ${q6uSql("ssw")} AS ssw,
              ${q6Sql(s"($ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))")} AS f,
              ${q6Sql(s"$ssb / ($ssb + ssw)")} AS eta2
       FROM one"""
  }

  // --------------------------------------------------------------------
  // q_levene — Brown–Forsythe variance-homogeneity test
  // --------------------------------------------------------------------

  /** Brown–Forsythe test (Levene with group MEDIANS): z = |cents −
    * median_g| and a one-way ANOVA F over z across event types — "are
    * the arms' spreads equal?", the guard a platform checks before
    * trusting a pooled-variance t-test. Medians of BIGINT cents
    * interpolate at worst to exact .5 halves, so every z is an exact
    * .5-quantum double and the z/z² sums are order-independent —
    * plain distributed sums, no fold needed anywhere.
    *
    * Scale: one aggregate for medians (broadcast back), one for the z
    * sums; both map-side combined.
    */
  def levene(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables
      .events(s, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val med = vals
      .groupBy(col("event_type"))
      .agg(expr("percentile(c, 0.5D)").as("med"))
    val zg = vals
      .join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("c").cast("double") - col("med")).as("z"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ng"), sum(col("z")).as("szg"), sum(col("z") * col("z")).as("qzg"))
    val one = zg
      .groupBy()
      .agg(
        count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("szg")).as("sz"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), col("ng"), col("szg"), col("qzg")))),
          lit(0.0),
          (acc, x) => acc + x.getField("szg") * x.getField("szg") / x.getField("ng").cast("double"))
          .as("ssg"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), col("ng"), col("szg"), col("qzg")))),
          lit(0.0),
          (acc, x) =>
            acc + (x.getField("qzg") - x.getField("szg") * x.getField("szg") /
              x.getField("ng").cast("double"))).as("ssw"))
    val ssb = "(ssg - sz * sz / CAST(n AS DOUBLE))"
    one.select(
      col("k"), col("n"),
      q6u(expr(ssb)).as("ssb_z"),
      q6u(col("ssw")).as("ssw_z"),
      q6(expr(s"($ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))")).as("f_bf"))
  }

  val leveneSql: String = {
    val ssb = "(ssg - sz * sz / CAST(n AS DOUBLE))"
    s"""WITH vals AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
       med AS (SELECT event_type, median(c) AS med FROM vals GROUP BY 1),
       zg AS (
         SELECT v.event_type, count(*) AS ng,
                sum(abs(CAST(v.c AS DOUBLE) - m.med)) AS szg,
                sum(abs(CAST(v.c AS DOUBLE) - m.med) * abs(CAST(v.c AS DOUBLE) - m.med)) AS qzg
         FROM vals v JOIN med m USING (event_type)
         GROUP BY 1),
       one AS (
         SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n, sum(szg) AS sz,
                list_reduce(list_prepend(0.0, list(
                  szg * szg / CAST(ng AS DOUBLE) ORDER BY event_type)), (a, b) -> a + b) AS ssg,
                list_reduce(list_prepend(0.0, list(
                  qzg - szg * szg / CAST(ng AS DOUBLE) ORDER BY event_type)),
                  (a, b) -> a + b) AS ssw
         FROM zg)
       SELECT k, n, ${q6uSql(ssb)} AS ssb_z, ${q6uSql("ssw")} AS ssw_z,
              ${q6Sql(s"($ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))")} AS f_bf
       FROM one"""
  }

  // --------------------------------------------------------------------
  // q_mahalanobis — multivariate outliers in (hour, value, weekday)
  // --------------------------------------------------------------------

  /** Top-20 multivariate outliers by squared Mahalanobis distance over
    * the 3-feature event vector (hour-of-day, cents, day-of-week) — the
    * covariance-aware anomaly score that catches points none of the
    * univariate screens (MAD, IQR) flag because each coordinate is
    * individually unremarkable. The covariance matrix comes from exact
    * BIGINT moment sums; its inverse is the shared-text 3×3 adjugate;
    * d² is quantized to 1e-9 BEFORE the ranking so the top-20 order is
    * engine-stable (ties → event_id).
    *
    * Scale: one moments aggregate (broadcast back), the d² projection,
    * and a row_number ≤ 20 that Spark executes as a WindowGroupLimit
    * partial top-k below the single final exchange — the cosine-topk
    * shape, never a full sort.
    */
  def mahalanobis(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables
      .events(s, dir)
      .select(
        col("event_id"),
        col("event_type"),
        expr("CAST(hour(ts) AS BIGINT)").as("x"),
        round(col("value") * 100).cast("long").as("y"),
        expr("CAST(dayofweek(ts) AS BIGINT)").as("z"))
    val mom = vals
      .groupBy()
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def cov(sab: String, sa: String, sb: String) =
      s"((${d(sab)} - ${d(sa)} * ${d(sb)} / ${d("n")}) / ${d("n - 1")})"
    val (cxx, cyy, czz) = (cov("sxx", "sx", "sx"), cov("syy", "sy", "sy"), cov("szz", "sz", "sz"))
    val (cxy, cxz, cyz) = (cov("sxy", "sx", "sy"), cov("sxz", "sx", "sz"), cov("syz", "sy", "sz"))
    val det =
      s"""($cxx * ($cyy * $czz - $cyz * $cyz)
          - $cxy * ($cxy * $czz - $cyz * $cxz)
          + $cxz * ($cxy * $cyz - $cyy * $cxz))"""
    // inverse = adjugate / det (symmetric)
    val i11 = s"(($cyy * $czz - $cyz * $cyz) / $det)"
    val i22 = s"(($cxx * $czz - $cxz * $cxz) / $det)"
    val i33 = s"(($cxx * $cyy - $cxy * $cxy) / $det)"
    val i12 = s"((($cxz * $cyz - $cxy * $czz)) / $det)"
    val i13 = s"((($cxy * $cyz - $cxz * $cyy)) / $det)"
    val i23 = s"((($cxy * $cxz - $cxx * $cyz)) / $det)"
    val d2 =
      s"""(dx * dx * $i11 + dy * dy * $i22 + dz * dz * $i33
          + 2.0 * dx * dy * $i12 + 2.0 * dx * dz * $i13 + 2.0 * dy * dz * $i23)"""
    val w = Window.orderBy(col("d9").desc, col("event_id"))
    vals
      .crossJoin(broadcast(mom))
      .withColumn("dx", expr(s"${d("x")} - ${d("sx")} / ${d("n")}"))
      .withColumn("dy", expr(s"${d("y")} - ${d("sy")} / ${d("n")}"))
      .withColumn("dz", expr(s"${d("z")} - ${d("sz")} / ${d("n")}"))
      // q9u, not the BIGINT floor: the sample Mahalanobis max grows as
      // (n−1)²/n (Mardia), so d2·1e9 can pass 2⁶³ on a ≥9.2e9-row group
      // with a near-degenerate outlier — double-domain stays exact-rank
      .withColumn("d9", expr(s"((($d2) * 1e9 + 0.5) - (($d2) * 1e9 + 0.5) % 1.0) / 1e9"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("event_id"), col("event_type"), q6(col("d9")).as("d2"))
  }

  val mahalanobisSql: String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def cov(sab: String, sa: String, sb: String) =
      s"((${d(sab)} - ${d(sa)} * ${d(sb)} / ${d("n")}) / ${d("n - 1")})"
    val (cxx, cyy, czz) = (cov("sxx", "sx", "sx"), cov("syy", "sy", "sy"), cov("szz", "sz", "sz"))
    val (cxy, cxz, cyz) = (cov("sxy", "sx", "sy"), cov("sxz", "sx", "sz"), cov("syz", "sy", "sz"))
    val det =
      s"""($cxx * ($cyy * $czz - $cyz * $cyz)
          - $cxy * ($cxy * $czz - $cyz * $cxz)
          + $cxz * ($cxy * $cyz - $cyy * $cxz))"""
    val i11 = s"(($cyy * $czz - $cyz * $cyz) / $det)"
    val i22 = s"(($cxx * $czz - $cxz * $cxz) / $det)"
    val i33 = s"(($cxx * $cyy - $cxy * $cxy) / $det)"
    val i12 = s"((($cxz * $cyz - $cxy * $czz)) / $det)"
    val i13 = s"((($cxy * $cyz - $cxz * $cyy)) / $det)"
    val i23 = s"((($cxy * $cxz - $cxx * $cyz)) / $det)"
    val d2 =
      s"""(dx * dx * $i11 + dy * dy * $i22 + dz * dz * $i33
          + 2.0 * dx * dy * $i12 + 2.0 * dx * dz * $i13 + 2.0 * dy * dz * $i23)"""
    s"""WITH vals AS (
         SELECT event_id, event_type,
                CAST(hour(ts) AS BIGINT) AS x,
                CAST(round(value * 100) AS BIGINT) AS y,
                CAST(dayofweek(ts) + 1 AS BIGINT) AS z
         FROM events),
       mom AS (
         SELECT count(*) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(z) AS BIGINT) AS sz,
                CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
                CAST(sum(z * z) AS BIGINT) AS szz,
                CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * z) AS BIGINT) AS sxz,
                CAST(sum(y * z) AS BIGINT) AS syz
         FROM vals),
       dev AS (
         SELECT event_id, event_type, n, sx, sy, sz, sxx, syy, szz, sxy, sxz, syz,
                ${d("x")} - ${d("sx")} / ${d("n")} AS dx,
                ${d("y")} - ${d("sy")} / ${d("n")} AS dy,
                ${d("z")} - ${d("sz")} / ${d("n")} AS dz
         FROM vals CROSS JOIN mom),
       scored AS (
         SELECT event_id, event_type,
                ((($d2) * 1e9 + 0.5) - (($d2) * 1e9 + 0.5) % 1.0) / 1e9 AS d9
         FROM dev),
       ranked AS (
         SELECT *, row_number() OVER (ORDER BY d9 DESC, event_id) AS rank
         FROM scored)
       SELECT CAST(rank AS BIGINT) AS rank, event_id, event_type,
              ${q6Sql("d9")} AS d2
       FROM ranked WHERE rank <= 20"""
  }

  // --------------------------------------------------------------------
  // q_effect_size — Cohen's d / Hedges' g / CLES between arms
  // --------------------------------------------------------------------

  /** Standardized effect sizes of the experiment arms (user_id parity)
    * on event value, per event type: Cohen's d on the pooled SD,
    * Hedges' g (the small-sample bias correction g = d·(1 − 3/(4df−1))),
    * and the common-language effect size CLES = Φ(d/√2) via the shared
    * erf polynomial — what a platform reports NEXT TO the p-value so
    * significance is never confused with size. All moments are exact
    * BIGINT sums; one shared float tree.
    */
  def effectSize(s: SparkSession, dir: String): DataFrame = {
    val g = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        (col("user_id") % 2).as("arm"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 0, col("c") * col("c")).otherwise(0L)).as("qa"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("sb"),
        sum(when(col("arm") === 1, col("c") * col("c")).otherwise(0L)).as("qb"))
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def ss(q: String, sm: String, n: String) =
      s"(${d(q)} - ${d(sm)} * ${d(sm)} / ${d(n)})"
    val pooledSd =
      s"sqrt((${ss("qa", "sa", "na")} + ${ss("qb", "sb", "nb")}) / ${d("na + nb - 2")})"
    val dExpr = s"((${d("sa")} / ${d("na")} - ${d("sb")} / ${d("nb")}) / $pooledSd)"
    val gExpr = s"($dExpr * (1.0 - 3.0 / (4.0 * ${d("na + nb - 2")} - 1.0)))"
    val cles = s"""CASE WHEN ($dExpr) / sqrt(2.0) >= 0.0
        THEN 1.0 - 0.5 * ${EvalQueries.pValSql(s"abs(($dExpr) / sqrt(2.0))")}
        ELSE 0.5 * ${EvalQueries.pValSql(s"abs(($dExpr) / sqrt(2.0))")} END"""
    g.select(
      col("event_type"), col("na"), col("nb"),
      q6(expr(dExpr)).as("cohens_d"),
      q6(expr(gExpr)).as("hedges_g"),
      q6(expr(cles)).as("cles"))
  }

  val effectSizeSql: String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def ss(q: String, sm: String, n: String) =
      s"(${d(q)} - ${d(sm)} * ${d(sm)} / ${d(n)})"
    val pooledSd =
      s"sqrt((${ss("qa", "sa", "na")} + ${ss("qb", "sb", "nb")}) / ${d("na + nb - 2")})"
    val dExpr = s"((${d("sa")} / ${d("na")} - ${d("sb")} / ${d("nb")}) / $pooledSd)"
    val gExpr = s"($dExpr * (1.0 - 3.0 / (4.0 * ${d("na + nb - 2")} - 1.0)))"
    val cles = s"""CASE WHEN ($dExpr) / sqrt(2.0) >= 0.0
        THEN 1.0 - 0.5 * ${EvalQueries.pValSql(s"abs(($dExpr) / sqrt(2.0))")}
        ELSE 0.5 * ${EvalQueries.pValSql(s"abs(($dExpr) / sqrt(2.0))")} END"""
    s"""WITH g AS (
         SELECT event_type,
                CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                CAST(sum(CASE WHEN user_id % 2 = 0
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
                CAST(sum(CASE WHEN user_id % 2 = 0
                         THEN CAST(round(value * 100) AS BIGINT)
                              * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS qa,
                CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                CAST(sum(CASE WHEN user_id % 2 = 1
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sb,
                CAST(sum(CASE WHEN user_id % 2 = 1
                         THEN CAST(round(value * 100) AS BIGINT)
                              * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS qb
         FROM events GROUP BY 1)
       SELECT event_type, na, nb,
              ${q6Sql(dExpr)} AS cohens_d,
              ${q6Sql(gExpr)} AS hedges_g,
              ${q6Sql(cles)} AS cles
       FROM g"""
  }

  // --------------------------------------------------------------------
  // q_spearman — rank correlation between monthly revenue and volume
  // --------------------------------------------------------------------

  /** Spearman rank correlation per nation between monthly revenue and
    * shipped quantity — the Pearson correlation of the AVERAGE ranks
    * (tie-correct by construction), kept exact by the 2·avgrank
    * integers (2·rank() + tiecount − 1, the [[EvalQueries.wilcoxon]]
    * trick): every moment of the rank vectors is an exact BIGINT, and
    * ρ is one shared float expression — the monotone-association
    * companion to [[kendallTau]] on the same series.
    */
  def spearman(s: SparkSession, dir: String): DataFrame = {
    val supNation = Tables
      .supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(
        broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val monthly = Tables
      .lineitem(s, dir)
      .select(
        col("l_suppkey"),
        ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
          .cast("long")
          .as("m"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"),
        round(col("l_quantity")).cast("long").as("qty"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("m"))
      .agg(sum(col("rev4")).as("x"), sum(col("qty")).as("y"))
    def r2(c: String): Column = {
      val wR = Window.partitionBy(col("n_name")).orderBy(col(c))
      val wT = Window.partitionBy(col("n_name"), col(c))
      lit(2L) * rank().over(wR) + count(lit(1)).over(wT) - lit(1L)
    }
    val ranked = monthly
      .withColumn("rx", r2("x"))
      .withColumn("ry", r2("y"))
    val mom = ranked
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
    val rho =
      """((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"""
    mom.select(col("n_name"), col("n"), q6(expr(rho)).as("spearman_rho"))
  }

  val spearmanSql: String = {
    val rho =
      """((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"""
    s"""WITH monthly AS (
         SELECT n.n_name,
                (year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate) - 1 AS m,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS x,
                CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS y
         FROM lineitem l
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         GROUP BY 1, 2),
       ranked AS (
         SELECT n_name,
                2 * rank() OVER (PARTITION BY n_name ORDER BY x)
                  + count(*) OVER (PARTITION BY n_name, x) - 1 AS rx,
                2 * rank() OVER (PARTITION BY n_name ORDER BY y)
                  + count(*) OVER (PARTITION BY n_name, y) - 1 AS ry
         FROM monthly),
       mom AS (
         SELECT n_name, count(*) AS n,
                CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
                CAST(sum(rx * rx) AS BIGINT) AS sxx,
                CAST(sum(ry * ry) AS BIGINT) AS syy,
                CAST(sum(rx * ry) AS BIGINT) AS sxy
         FROM ranked GROUP BY 1)
       SELECT n_name, n, ${q6Sql(rho)} AS spearman_rho
       FROM mom"""
  }

  // --------------------------------------------------------------------
  // q_kendall_w — concordance of monthly nation-revenue rankings
  // --------------------------------------------------------------------

  /** Kendall's coefficient of concordance W across the monthly nation
    * rankings: each month ranks all 25 nations by revenue (the
    * [[RobustQueries.nationMonthlySeries]] integer rev4 units,
    * zero-filled so every month ranks the same item set), and W ∈ [0,1]
    * measures how much the months agree — the "is the league table
    * stable" statistic, with the χ² = m(n−1)W large-sample readout.
    *
    * Exactness: ranks use the doubled-midrank trick (2·rank + t − 1,
    * integral under ties — the zero-filled cells tie deliberately, so
    * the tie path is exercised), so the spread S and the tie correction
    * ΣT_j = Σ(t³−t) are exact BIGINTs: with doubled ranks
    * S4 = Σ_i (R2_i − m(n+1))² = 4S and
    * W = 3·S4 / (m²(n³−n) − m·ΣT). Only the final two ratios are
    * doubles, q6-quantized from identical expressions.
    *
    * Scale: revenue aggregate is the shared map-side-combined series;
    * ranks are windows over month partitions of |nations| rows; the
    * grid is dimension×calendar-bounded (25 × months).
    */
  def kendallW(s: SparkSession, dir: String): DataFrame = {
    val ser = RobustQueries.nationMonthlySeries(s, dir)
    val months = ser.select(col("m")).distinct()
    val nations = Tables.nation(s, dir).select(col("n_name"))
    val filled = nations
      .crossJoin(broadcast(months))
      .join(ser, Seq("n_name", "m"), "left")
      .select(col("n_name"), col("m"), coalesce(col("y"), lit(0L)).as("y"))
    val wRank = Window.partitionBy(col("m")).orderBy(col("y"))
    val wTie = Window.partitionBy(col("m"), col("y"))
    val ranked = filled
      .withColumn("rk", rank().over(wRank))
      .withColumn("tc", count(lit(1)).over(wTie))
      .withColumn("mr2", lit(2L) * col("rk") + col("tc") - 1L)
    val r2 = ranked.groupBy(col("n_name")).agg(sum(col("mr2")).as("r2"))
    val ties = ranked
      .groupBy(col("m"), col("y"))
      .agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("sum_t"))
    val dims = filled.agg(
      countDistinct(col("n_name")).as("n"),
      countDistinct(col("m")).as("mj"))
    r2.crossJoin(broadcast(dims))
      .groupBy(col("n"), col("mj"))
      .agg(sum((col("r2") - col("mj") * (col("n") + 1)) *
        (col("r2") - col("mj") * (col("n") + 1))).as("s4"))
      .crossJoin(broadcast(ties))
      .select(
        col("n").cast("long").as("n_nations"),
        col("mj").cast("long").as("n_months"),
        col("s4"),
        col("sum_t"),
        q6(lit(3.0) * col("s4").cast("double") /
          (col("mj").cast("double") * col("mj").cast("double") *
            (col("n").cast("double") * col("n").cast("double") * col("n").cast("double") -
              col("n").cast("double")) -
            col("mj").cast("double") * col("sum_t").cast("double"))).as("w"),
        q6(col("mj").cast("double") * (col("n").cast("double") - 1.0) *
          (lit(3.0) * col("s4").cast("double") /
            (col("mj").cast("double") * col("mj").cast("double") *
              (col("n").cast("double") * col("n").cast("double") * col("n").cast("double") -
                col("n").cast("double")) -
              col("mj").cast("double") * col("sum_t").cast("double")))).as("chi2"))
  }

  val kendallWSql: String = {
    def wExpr(n: String, mj: String, s4: String, sumT: String) =
      s"""(3.0 * CAST($s4 AS DOUBLE)
          / (CAST($mj AS DOUBLE) * CAST($mj AS DOUBLE)
             * (CAST($n AS DOUBLE) * CAST($n AS DOUBLE) * CAST($n AS DOUBLE) - CAST($n AS DOUBLE))
             - CAST($mj AS DOUBLE) * CAST($sumT AS DOUBLE)))"""
    val w = wExpr("s.n", "s.mj", "s.s4", "t.sum_t")
    s"""WITH ${RobustQueries.seriesCteSql},
       months AS (SELECT DISTINCT m FROM series),
       filled AS (
         SELECT na.n_name, mo.m, COALESCE(se.y, 0) AS y
         FROM nation na CROSS JOIN months mo
         LEFT JOIN series se ON se.n_name = na.n_name AND se.m = mo.m),
       ranked AS (
         SELECT n_name, m, y,
                2 * rank() OVER (PARTITION BY m ORDER BY y)
                  + count(*) OVER (PARTITION BY m, y) - 1 AS mr2
         FROM filled),
       r2 AS (SELECT n_name, CAST(sum(mr2) AS BIGINT) AS r2 FROM ranked GROUP BY 1),
       ties AS (
         SELECT CAST(sum(t * t * t - t) AS BIGINT) AS sum_t FROM (
           SELECT count(*) AS t FROM ranked GROUP BY m, y) g),
       dims AS (
         SELECT CAST(count(DISTINCT n_name) AS BIGINT) AS n,
                CAST(count(DISTINCT m) AS BIGINT) AS mj
         FROM filled),
       s4 AS (
         SELECT d.n, d.mj,
                CAST(sum((r.r2 - d.mj * (d.n + 1)) * (r.r2 - d.mj * (d.n + 1))) AS BIGINT) AS s4
         FROM r2 r CROSS JOIN dims d GROUP BY 1, 2)
       SELECT s.n AS n_nations, s.mj AS n_months, s.s4, t.sum_t,
              ${q6Sql(w)} AS w,
              ${q6Sql(s"CAST(s.mj AS DOUBLE) * (CAST(s.n AS DOUBLE) - 1.0) * $w")} AS chi2
       FROM s4 s CROSS JOIN ties t"""
  }

  // --------------------------------------------------------------------
  // q_cramers_v — categorical association strength (type × weekday)
  // --------------------------------------------------------------------

  /** Cramér's V between event type and day-of-week: the χ² of the 5×7
    * contingency table normalized to [0, 1] —
    * V = √(χ² / (n·min(r−1, c−1))) — the standard "is traffic shape
    * day-dependent, and how strongly" readout behind the weekly-rate
    * structure [[SignalQueries.pelt]] segments on. Cell counts, row and
    * column totals are exact BIGINTs; the χ² fold runs over the cells
    * in SORTED (type, weekday) order in both engines (value-ordered
    * fold discipline), each term recomputing the expected count from
    * the same integer totals, so the double sum is bit-deterministic.
    * Weekday uses Spark's 1-based-Sunday numbering; the oracle shifts
    * DuckDB's 0-based `dayofweek` by +1 (the standing cross-engine
    * gotcha).
    *
    * Scale: one map-side-combined (type, weekday) count — 35 cells —
    * then everything folds in a single-row projection.
    */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .events(s, dir)
      .groupBy(col("event_type").as("r"), dayofweek(col("ts")).cast("long").as("w"))
      .agg(count(lit(1)).as("m"))
    val rowTot = "aggregate(filter(cells, y -> y.r = x.r), 0L, (a2, y) -> a2 + y.m)"
    val colTot = "aggregate(filter(cells, y -> y.w = x.w), 0L, (a2, y) -> a2 + y.m)"
    val e = s"(cast($rowTot AS DOUBLE) * cast($colTot AS DOUBLE) / cast(n AS DOUBLE))"
    cells
      .groupBy()
      .agg(collect_list(struct(col("r"), col("w"), col("m"))).as("cells0"))
      .withColumn("cells", expr("array_sort(cells0)"))
      .withColumn("n", expr("aggregate(cells, 0L, (a, x) -> a + x.m)"))
      .withColumn("n_rows", expr("size(array_distinct(transform(cells, x -> x.r)))"))
      .withColumn("n_cols", expr("size(array_distinct(transform(cells, x -> x.w)))"))
      .withColumn(
        "chi2",
        expr(s"""aggregate(cells, 0.0D, (a, x) ->
                   a + (cast(x.m AS DOUBLE) - $e) * (cast(x.m AS DOUBLE) - $e) / $e)"""))
      .select(
        col("n"),
        col("n_rows").cast("long").as("n_rows"),
        col("n_cols").cast("long").as("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).cast("long").as("dof"),
        q6(col("chi2")).as("chi2"),
        q6(sqrt(
          col("chi2") / (col("n").cast("double") *
            least(col("n_rows") - 1, col("n_cols") - 1).cast("double")))).as("cramers_v"))
  }

  val cramersVSql: String = {
    val rowTot = "list_sum(list_transform(list_filter(cells, y -> y.r = x.r), y -> y.m))"
    val colTot = "list_sum(list_transform(list_filter(cells, y -> y.w = x.w), y -> y.m))"
    val e = s"(CAST($rowTot AS DOUBLE) * CAST($colTot AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH cells0 AS (
         SELECT event_type AS r, CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS w,
                CAST(count(*) AS BIGINT) AS m
         FROM events GROUP BY 1, 2),
       packed AS (
         SELECT list_sort(list({'r': r, 'w': w, 'm': m})) AS cells,
                CAST(sum(m) AS BIGINT) AS n,
                CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT w) AS BIGINT) AS n_cols
         FROM cells0),
       folded AS (
         SELECT n, n_rows, n_cols,
                list_reduce(list_prepend(0.0, list_transform(cells, x ->
                  (CAST(x.m AS DOUBLE) - $e) * (CAST(x.m AS DOUBLE) - $e) / $e)),
                  (acc, v) -> acc + v) AS chi2
         FROM packed)
       SELECT n, n_rows, n_cols,
              (n_rows - 1) * (n_cols - 1) AS dof,
              ${q6Sql("chi2")} AS chi2,
              ${q6Sql("sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE)))")}
                AS cramers_v
       FROM folded"""
  }

  // --------------------------------------------------------------------
  // q_grubbs — maximum studentized deviate per event type
  // --------------------------------------------------------------------

  /** Grubbs' test statistic G = max|x − x̄|/s per event type, with the
    * offending event — the single-outlier screen run before trusting a
    * group mean. Moments are exact BIGINT sums (broadcast back); the
    * per-type argmax ranks on the 1e-9-quantized deviate (ties →
    * event_id) under a type-partitioned window, so the full scan never
    * sorts globally.
    */
  def grubbs(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables
      .events(s, dir)
      .select(col("event_type"), col("event_id"), round(col("value") * 100).cast("long").as("c"))
    val mom = vals
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sm"), sum(col("c") * col("c")).as("qm"))
    val dev =
      """abs(CAST(c AS DOUBLE) - CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))"""
    val w = Window.partitionBy(col("event_type")).orderBy(col("g9").desc, col("event_id"))
    vals
      .join(broadcast(mom), "event_type")
      // q9u (see mahalanobis): max |z| grows as √n, double-domain floor
      .withColumn("g9", expr(s"((($dev) * 1e9 + 0.5) - (($dev) * 1e9 + 0.5) % 1.0) / 1e9"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(
        col("event_type"), col("n"), col("event_id").as("outlier_event"),
        q6(col("g9")).as("g"))
  }

  val grubbsSql: String = {
    val dev =
      """abs(CAST(c AS DOUBLE) - CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))"""
    s"""WITH vals AS (
         SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c FROM events),
       mom AS (
         SELECT event_type, count(*) AS n,
                CAST(sum(c) AS BIGINT) AS sm, CAST(sum(c * c) AS BIGINT) AS qm
         FROM vals GROUP BY 1),
       scored AS (
         SELECT v.event_type, m.n, v.event_id,
                ((($dev) * 1e9 + 0.5) - (($dev) * 1e9 + 0.5) % 1.0) / 1e9 AS g9
         FROM vals v JOIN mom m USING (event_type)),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY event_type
                                      ORDER BY g9 DESC, event_id) AS rnk
         FROM scored)
       SELECT event_type, n, event_id AS outlier_event, ${q6Sql("g9")} AS g
       FROM ranked WHERE rnk = 1"""
  }

  // --------------------------------------------------------------------
  // q_granger — lag-1 Granger causality between nation revenue series
  // --------------------------------------------------------------------

  /** Lag-1 Granger causality test for every directed nation pair
    * (does nation X's last month's revenue help predict nation Y's
    * this month, beyond Y's own history?): restricted OLS
    * y_t ~ a + b·y_{t−1} vs unrestricted y_t ~ a + b·y_{t−1} + c·x_{t−1},
    * F = (RSS_r − RSS_u) / (RSS_u / (n−3)) with one numerator df.
    *
    * Exactness: the series are exact integer DOLLARS (rev4 div 10⁴ —
    * integer division of the exact 10⁻⁴-dollar units), so every moment
    * sum (Σy, Σy², Σy·y₁, …) is an exact BIGINT; both normal-equation
    * solves (2×2 and 3×3 Cramer) are one shared float expression tree
    * over those integers, so the doubles are engine-identical even
    * where they exceed 2⁵³.
    *
    * Scale: the corpus aggregates once to |nation|×|month| rows; the
    * directed pair grid (≤600 pairs × months) is month-bounded; one
    * keyed moment aggregate per pair, constant math after.
    */
  def granger(s: SparkSession, dir: String): DataFrame = {
    val monthly = RobustQueries
      .nationMonthlySeries(s, dir)
      .select(col("n_name"), col("m"), expr("y div 10000").as("v"))
    val y = monthly.select(col("n_name").as("ny"), col("m"), col("v").as("yv"))
    val y1 = monthly.select(col("n_name").as("ny"), (col("m") + 1).as("m"), col("v").as("y1"))
    val x1 = monthly.select(col("n_name").as("nx"), (col("m") + 1).as("m"), col("v").as("x1"))
    val rows = y
      .join(y1, Seq("ny", "m"))
      .join(x1, "m")
      .filter(col("nx") =!= col("ny"))
    val mom = rows
      .groupBy(col("ny"), col("nx"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("yv")).as("sy"),
        sum(col("y1")).as("sy1"),
        sum(col("x1")).as("sx1"),
        sum(col("yv") * col("yv")).as("syy"),
        sum(col("y1") * col("y1")).as("sy1y1"),
        sum(col("x1") * col("x1")).as("sx1x1"),
        sum(col("y1") * col("x1")).as("sy1x1"),
        sum(col("yv") * col("y1")).as("syy1"),
        sum(col("yv") * col("x1")).as("syx1"))
    // restricted: y ~ a + b*y1 (2x2 normal equations)
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val dr = s"(${d("n")} * ${d("sy1y1")} - ${d("sy1")} * ${d("sy1")})"
    val br = s"((${d("n")} * ${d("syy1")} - ${d("sy")} * ${d("sy1")}) / $dr)"
    val ar = s"((${d("sy")} - $br * ${d("sy1")}) / ${d("n")})"
    val rssR = s"(${d("syy")} - $ar * ${d("sy")} - $br * ${d("syy1")})"
    // unrestricted: y ~ a + b*y1 + c*x1 (3x3 Cramer); matrix
    //   [ n    sy1    sx1  ] [a]   [ sy   ]
    //   [ sy1  sy1y1  sy1x1] [b] = [ syy1 ]
    //   [ sx1  sy1x1  sx1x1] [c]   [ syx1 ]
    def det3(
        a11: String, a12: String, a13: String,
        a21: String, a22: String, a23: String,
        a31: String, a32: String, a33: String) =
      s"""(${d(a11)} * (${d(a22)} * ${d(a33)} - ${d(a23)} * ${d(a32)})
          - ${d(a12)} * (${d(a21)} * ${d(a33)} - ${d(a23)} * ${d(a31)})
          + ${d(a13)} * (${d(a21)} * ${d(a32)} - ${d(a22)} * ${d(a31)}))"""
    val dd = det3("n", "sy1", "sx1", "sy1", "sy1y1", "sy1x1", "sx1", "sy1x1", "sx1x1")
    val da = det3("sy", "sy1", "sx1", "syy1", "sy1y1", "sy1x1", "syx1", "sy1x1", "sx1x1")
    val db = det3("n", "sy", "sx1", "sy1", "syy1", "sy1x1", "sx1", "syx1", "sx1x1")
    val dc = det3("n", "sy1", "sy", "sy1", "sy1y1", "syy1", "sx1", "sy1x1", "syx1")
    val rssU =
      s"""(${d("syy")} - ($da / $dd) * ${d("sy")}
          - ($db / $dd) * ${d("syy1")} - ($dc / $dd) * ${d("syx1")})"""
    val f = s"(($rssR - $rssU) / ($rssU / CAST(n - 3 AS DOUBLE)))"
    mom.select(
      col("ny"), col("nx"), col("n"),
      q6(expr(s"$dc / $dd")).as("c_coef"),
      q6(expr(f)).as("f_stat"))
  }

  val grangerSql: String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val dr = s"(${d("n")} * ${d("sy1y1")} - ${d("sy1")} * ${d("sy1")})"
    val br = s"((${d("n")} * ${d("syy1")} - ${d("sy")} * ${d("sy1")}) / $dr)"
    val ar = s"((${d("sy")} - $br * ${d("sy1")}) / ${d("n")})"
    val rssR = s"(${d("syy")} - $ar * ${d("sy")} - $br * ${d("syy1")})"
    def det3(
        a11: String, a12: String, a13: String,
        a21: String, a22: String, a23: String,
        a31: String, a32: String, a33: String) =
      s"""(${d(a11)} * (${d(a22)} * ${d(a33)} - ${d(a23)} * ${d(a32)})
          - ${d(a12)} * (${d(a21)} * ${d(a33)} - ${d(a23)} * ${d(a31)})
          + ${d(a13)} * (${d(a21)} * ${d(a32)} - ${d(a22)} * ${d(a31)}))"""
    val dd = det3("n", "sy1", "sx1", "sy1", "sy1y1", "sy1x1", "sx1", "sy1x1", "sx1x1")
    val da = det3("sy", "sy1", "sx1", "syy1", "sy1y1", "sy1x1", "syx1", "sy1x1", "sx1x1")
    val db = det3("n", "sy", "sx1", "sy1", "syy1", "sy1x1", "sx1", "syx1", "sx1x1")
    val dc = det3("n", "sy1", "sy", "sy1", "sy1y1", "syy1", "sx1", "sy1x1", "syx1")
    val rssU =
      s"""(${d("syy")} - ($da / $dd) * ${d("sy")}
          - ($db / $dd) * ${d("syy1")} - ($dc / $dd) * ${d("syx1")})"""
    val f = s"(($rssR - $rssU) / ($rssU / CAST(n - 3 AS DOUBLE)))"
    s"""WITH monthly AS (
         SELECT n.n_name,
                (year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate) - 1 AS m,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
                  // 10000 AS v
         FROM lineitem l
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         GROUP BY 1, 2),
       rows_ AS (
         SELECT y.n_name AS ny, x.n_name AS nx, y.v AS yv, p.v AS y1, x.v AS x1
         FROM monthly y
         JOIN monthly p ON p.n_name = y.n_name AND p.m = y.m - 1
         JOIN monthly x ON x.m = y.m - 1 AND x.n_name <> y.n_name),
       mom AS (
         SELECT ny, nx, count(*) AS n,
                CAST(sum(yv) AS BIGINT) AS sy,
                CAST(sum(y1) AS BIGINT) AS sy1,
                CAST(sum(x1) AS BIGINT) AS sx1,
                CAST(sum(yv * yv) AS BIGINT) AS syy,
                CAST(sum(y1 * y1) AS BIGINT) AS sy1y1,
                CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
                CAST(sum(y1 * x1) AS BIGINT) AS sy1x1,
                CAST(sum(yv * y1) AS BIGINT) AS syy1,
                CAST(sum(yv * x1) AS BIGINT) AS syx1
         FROM rows_ GROUP BY 1, 2)
       SELECT ny, nx, n,
              ${q6Sql(s"$dc / $dd")} AS c_coef,
              ${q6Sql(f)} AS f_stat
       FROM mom"""
  }

  // --------------------------------------------------------------------
  // q_anderson_darling — normality test with order-independent sums
  // --------------------------------------------------------------------

  /** Anderson–Darling normality statistic per event type over the full
    * value stream, in the single-pass row form
    *
    *   A² = −n − (1/n) Σᵢ [(2i−1)·ln Φ(zᵢ) + (2(n−i)+1)·ln(1−Φ(zᵢ))]
    *
    * with zᵢ the i-th order statistic standardized by the exact-moment
    * mean/sd and Φ from the SAME erf polynomial both engines share.
    * Each row's term is divided by the group constant n and THEN
    * quantized to ⌊term/n·10⁹⌋ and summed as a BIGINT, so the
    * corpus-sized Σ is order-independent (the q_lm_perplexity
    * discipline) — ties in cents get the same z, and term/n is linear
    * in i, so the per-tie-block multiset of quantized terms is
    * engine-invariant even though row_number assigns i differently.
    * Dividing BEFORE quantizing is what makes the sum O(n·10⁹) rather
    * than O(n²·10⁹): the raw-term sum overflowed BIGINT at sf1's
    * 200k-row groups (caught by the r12 sf1 sweep).
    *
    * Scale: one moments aggregate (broadcast back), one per-type
    * ranking window, one integer sum. No global sort, no float fold.
    */
  def andersonDarling(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables
      .events(s, dir)
      .select(col("event_type"), col("event_id"), round(col("value") * 100).cast("long").as("c"))
    val mom = vals
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sm"), sum(col("c") * col("c")).as("qm"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"), col("event_id"))
    // both tails computed DIRECTLY from the polynomial (never 1 − Φ,
    // which cancels to exactly 0 past |z| ≈ 8); the 1e-300 floor guards
    // exp underflow on extreme outliers and is shared by both engines
    val lnNear = "ln(1.0 - 0.5 * p)" // ln Φ(|z|) = ln(1 − tail)
    val lnTail = "ln(greatest(0.5 * p, 1e-300))"
    val term =
      s"""(CAST(2 * i - 1 AS DOUBLE)
             * (CASE WHEN z >= 0.0 THEN $lnNear ELSE $lnTail END)
          + CAST(2 * (n - i) + 1 AS DOUBLE)
             * (CASE WHEN z >= 0.0 THEN $lnTail ELSE $lnNear END))"""
    vals
      .join(broadcast(mom), "event_type")
      .withColumn(
        "z",
        expr("""(CAST(c AS DOUBLE) - CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt((CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                        / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))"""))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", expr(EvalQueries.pValSql("abs(z)")))
      // quantize term/n, not term: the raw per-row floor sum is
      // O(n²·1e9) in magnitude (coefficients 2i−1 reach 2n) and
      // overflowed BIGINT at sf1's n = 200k/group; dividing by the
      // group constant n first makes the sum O(n·1e9) (safe to n ≈ 6e6)
      // and keeps the multiset-invariance argument — term/n is still
      // linear in the rank within a tie block
      .withColumn("t9", expr(s"CAST(floor($term / CAST(n AS DOUBLE) * 1e9) AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"), sum(col("t9")).as("s9"))
      .select(
        col("event_type"),
        col("n"),
        q6(expr("""-CAST(n AS DOUBLE)
                   - CAST(s9 AS DOUBLE) / 1e9""")).as("a2"))
  }

  val andersonDarlingSql: String = {
    val lnNear = "ln(1.0 - 0.5 * p)"
    val lnTail = "ln(greatest(0.5 * p, 1e-300))"
    val term =
      s"""(CAST(2 * i - 1 AS DOUBLE)
             * (CASE WHEN z >= 0.0 THEN $lnNear ELSE $lnTail END)
          + CAST(2 * (n - i) + 1 AS DOUBLE)
             * (CASE WHEN z >= 0.0 THEN $lnTail ELSE $lnNear END))"""
    s"""WITH vals AS (
         SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c FROM events),
       mom AS (
         SELECT event_type, count(*) AS n,
                CAST(sum(c) AS BIGINT) AS sm, CAST(sum(c * c) AS BIGINT) AS qm
         FROM vals GROUP BY 1),
       zt AS (
         SELECT v.event_type, m.n,
                (CAST(v.c AS DOUBLE) - CAST(m.sm AS DOUBLE) / CAST(m.n AS DOUBLE))
                / sqrt((CAST(m.qm AS DOUBLE) - CAST(m.sm AS DOUBLE) * CAST(m.sm AS DOUBLE)
                        / CAST(m.n AS DOUBLE)) / CAST(m.n - 1 AS DOUBLE)) AS z,
                row_number() OVER (PARTITION BY v.event_type ORDER BY v.c, v.event_id) AS i
         FROM vals v JOIN mom m USING (event_type)),
       pt AS (SELECT event_type, n, i, z,
                     ${EvalQueries.pValSql("abs(z)")} AS p FROM zt),
       t9 AS (SELECT event_type, n,
                     CAST(floor($term / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS t9 FROM pt)
       SELECT event_type, any_value(n) AS n,
              ${q6Sql(
        """-CAST(any_value(n) AS DOUBLE)
           - CAST(CAST(sum(t9) AS BIGINT) AS DOUBLE) / 1e9""")}
                AS a2
       FROM t9 GROUP BY event_type"""
  }

  val kendallTauSql: String = {
    val tau =
      """(CAST(c - d AS DOUBLE)
          / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)))"""
    s"""WITH monthly AS (
         SELECT n.n_name,
                (year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate) - 1 AS m,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS x,
                CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS y
         FROM lineitem l
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         GROUP BY 1, 2),
       pr AS (
         SELECT a.n_name, count(*) AS n0,
                CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                               OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                               OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS d,
                CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
         FROM monthly a JOIN monthly b ON a.n_name = b.n_name AND a.m < b.m
         GROUP BY 1)
       SELECT n_name, n0, c, d, tx, ty, ${q6Sql(tau)} AS tau_b
       FROM pr"""
  }
}
