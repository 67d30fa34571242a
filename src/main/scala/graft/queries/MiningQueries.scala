package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining / ML-feature operators over the star schema — the
  * analytics a training-data or product team layers on top of the raw
  * pipeline: market-basket association rules, distribution-drift
  * monitoring (PSI), leakage-free target encoding, the hashing-trick
  * featurizer, a rank-based two-sample test, and a join-key skew
  * profiler. Every operator is oracle-backed (pure relational algebra /
  * integer-exact arithmetic), and every shuffle is either keyed and
  * bounded or replaced by a broadcast of an aggregated dimension.
  */
object MiningQueries {

  /** Item-catalog size the [[negativeSamplingSql]] static oracle is
    * derived for (distinct p_brand across all shipped scale factors);
    * [[negativeSampling]] fails closed if the data disagrees.
    */
  val NegCatalogSize: Int = 25

  /** The repo-wide deterministic hash convention — see [[OracleHash]]. */
  private def md5Bucket(c: String, mod: Int): String = OracleHash.bucketExpr(c, mod)

  private def md5BucketSql(c: String, mod: Int): String = OracleHash.bucketSql(c, mod)

  // --------------------------------------------------------------------
  // q_assoc_rules — market-basket association rules (pairwise Apriori)
  // --------------------------------------------------------------------

  /** Pairwise association rules over order baskets: which part brands
    * are co-purchased, with support / confidence / lift. The classic
    * Apriori shape restricted to 2-itemsets (the level a recommender
    * actually serves online).
    *
    * Scale design: (1) ONE keyed shuffle total — baskets collapse to a
    * sorted distinct-brand array per order (amplification bounded by
    * lines/order), and everything downstream is in-row or broadcast;
    * (2) the frequent-item prefilter (Apriori's monotonicity prune) is
    * an `array_intersect` against the broadcast frequent-brand array,
    * so infrequent items never reach pair generation; (3) pairs
    * expand IN-ROW as the basket array's upper triangle —
    * ≤ C(brands-per-order, 2) rows per order, partial-aggregated
    * map-side to ≤ |brands|² keys before the (tiny) pair exchange;
    * the r12 shape's order-keyed self-join and its second corpus-sized
    * shuffle are gone (measured 5.7 → ~1 s warm at sf0.1); (4) item
    * supports and the order count ride in as broadcast scalars.
    * PlanAuditSpec locks the single-shuffle + broadcast shape.
    */
  def assocRules(s: SparkSession, dir: String, minSupport: Double = 0.02): DataFrame = {
    val baskets = Reuse.pin(
      Tables
        .lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand").as("item"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("item"))).as("items")))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val itemSup = baskets
      .select(explode(col("items")).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
    val freq = broadcast(
      itemSup
        .crossJoin(broadcast(nOrders))
        .filter(col("n_item") >= col("n_orders") * minSupport)
        .select(col("item"), col("n_item")))
    // the Apriori prune as an in-row intersect with the (broadcast,
    // dimension-sized) frequent-brand array — sorted, so the upper
    // triangle below enumerates each unordered pair once with a < b
    val freqArr = broadcast(freq.agg(sort_array(collect_set(col("item"))).as("freq_items")))
    baskets
      .crossJoin(freqArr)
      // array_intersect keeps the FIRST array's (sorted) order, so the
      // upper triangle below enumerates each unordered pair once, a < b;
      // the expansion is two chained Generates (codegen) rather than a
      // nested-HOF flatten(transform(…)) (interpreted — see itemKnn)
      .select(expr("array_intersect(items, freq_items)").as("fitems"))
      .select(col("fitems"), posexplode(col("fitems")).as(Seq("i", "item_a")))
      .select(
        col("item_a"),
        explode(slice(col("fitems"), col("i") + lit(2), size(col("fitems")))).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .join(broadcast(freq.select(col("item").as("item_a"), col("n_item").as("n_a"))), Seq("item_a"))
      .join(broadcast(freq.select(col("item").as("item_b"), col("n_item").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(nOrders))
      .filter(col("n_pair") >= col("n_orders") * minSupport)
      .select(
        col("item_a"),
        col("item_b"),
        col("n_pair"),
        round(col("n_pair") / col("n_orders").cast("double"), 6).as("support"),
        round(col("n_pair") / col("n_a").cast("double"), 6).as("conf_a_to_b"),
        round(col("n_pair") / col("n_b").cast("double"), 6).as("conf_b_to_a"),
        round(
          col("n_pair").cast("double") * col("n_orders") /
            (col("n_a").cast("double") * col("n_b")),
          6).as("lift"))
  }

  /** Oracle SQL, parameterized on the same `minSupport` as [[assocRules]]
    * so a non-default operating point derives its matching oracle instead
    * of silently verifying against the default one (ADVICE r9).
    */
  def assocRulesSql(minSupport: Double = 0.02): String =
    s"""WITH oi AS (
         SELECT DISTINCT l_orderkey, p_brand AS item
         FROM lineitem JOIN part ON l_partkey = p_partkey
       ), n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM oi),
       sup AS (SELECT item, count(*) AS n_item FROM oi GROUP BY 1),
       freq AS (SELECT item, n_item FROM sup, n WHERE n_item >= n_orders * $minSupport),
       fi AS (SELECT oi.l_orderkey, oi.item, f.n_item FROM oi JOIN freq f USING (item)),
       p AS (
         SELECT a.item AS item_a, b.item AS item_b,
                a.n_item AS n_a, b.n_item AS n_b, count(*) AS n_pair
         FROM fi a JOIN fi b
           ON a.l_orderkey = b.l_orderkey AND a.item < b.item
         GROUP BY 1, 2, 3, 4
       )
       SELECT item_a, item_b, n_pair,
              round(n_pair / CAST(n_orders AS DOUBLE), 6) AS support,
              round(n_pair / CAST(n_a AS DOUBLE), 6) AS conf_a_to_b,
              round(n_pair / CAST(n_b AS DOUBLE), 6) AS conf_b_to_a,
              round(CAST(n_pair AS DOUBLE) * n_orders / (CAST(n_a AS DOUBLE) * n_b), 6) AS lift
       FROM p, n WHERE n_pair >= n_orders * $minSupport"""

  // --------------------------------------------------------------------
  // q_drift_psi — population stability index per event_type
  // --------------------------------------------------------------------

  /** Feature-drift monitor: Population Stability Index of `value` per
    * event_type between a reference window (first half of January) and
    * the current window. Bin edges are fixed-width over the REFERENCE
    * min/max (the production convention: edges freeze with the training
    * snapshot), with clamp bins catching out-of-range current values;
    * 0.5 Laplace smoothing keeps empty bins finite. PSI ≥ 0 always
    * (Jensen); > 0.1 is the usual "investigate" threshold, > 0.25
    * "retrain".
    *
    * Scale design: one scan, one keyed shuffle of (event_type, bin)
    * partial-aggregated counts — the shuffled table is bins × types
    * rows regardless of input size; the per-type reference edges are a
    * broadcast dimension.
    */
  def driftPsi(s: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        col("value"),
        (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")).as("is_ref"))
    val mm = ev
      .filter(col("is_ref"))
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = ev
      .join(broadcast(mm), "event_type")
      .withColumn(
        "bin",
        least(
          lit(nBins - 1),
          greatest(
            lit(0L),
            floor((col("value") - col("vmin")) * nBins / (col("vmax") - col("vmin"))))
        ).cast("int"))
    val counts = binned
      .groupBy(col("event_type"), col("bin"))
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    val tot = counts
      .groupBy(col("event_type"))
      .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    counts
      .join(broadcast(tot), "event_type")
      .withColumn("p_ref", (col("n_ref") + 0.5) / (col("t_ref") + 0.5 * nBins))
      .withColumn("p_cur", (col("n_cur") + 0.5) / (col("t_cur") + 0.5 * nBins))
      .groupBy(col("event_type"), col("t_ref"), col("t_cur"))
      .agg(round(sum((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref"))), 6)
        .as("psi"))
      .select(
        col("event_type"),
        col("t_ref").as("n_ref"),
        col("t_cur").as("n_cur"),
        col("psi"),
        (col("psi") > 0.1).as("drifted"))
  }

  /** Oracle SQL, parameterized on the same `nBins` as [[driftPsi]] —
    * the clamp bound, bin scale, and Laplace denominator (0.5·nBins)
    * all derive from it (ADVICE r9).
    */
  def driftPsiSql(nBins: Int = 10): String = {
    val sm = 0.5 * nBins
    s"""WITH ev AS (
         SELECT event_type, value,
                ts < TIMESTAMP '2024-01-16 00:00:00' AS is_ref
         FROM events
       ), mm AS (
         SELECT event_type, min(value) AS vmin, max(value) AS vmax
         FROM ev WHERE is_ref GROUP BY 1
       ), binned AS (
         SELECT ev.event_type, is_ref,
                CAST(least(${nBins - 1}, greatest(0,
                  floor((value - vmin) * $nBins / (vmax - vmin)))) AS INT) AS bin
         FROM ev JOIN mm USING (event_type)
       ), counts AS (
         SELECT event_type, bin,
                sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
                sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
         FROM binned GROUP BY 1, 2
       ), tot AS (
         SELECT event_type, CAST(sum(n_ref) AS BIGINT) AS t_ref,
                CAST(sum(n_cur) AS BIGINT) AS t_cur
         FROM counts GROUP BY 1
       )
       SELECT c.event_type, t_ref AS n_ref, t_cur AS n_cur,
              round(sum(((n_cur + 0.5) / (t_cur + $sm) - (n_ref + 0.5) / (t_ref + $sm))
                        * ln(((n_cur + 0.5) / (t_cur + $sm)) / ((n_ref + 0.5) / (t_ref + $sm)))),
                    6) AS psi,
              round(sum(((n_cur + 0.5) / (t_cur + $sm) - (n_ref + 0.5) / (t_ref + $sm))
                        * ln(((n_cur + 0.5) / (t_cur + $sm)) / ((n_ref + 0.5) / (t_ref + $sm)))),
                    6) > 0.1 AS drifted
       FROM counts c JOIN tot USING (event_type)
       GROUP BY 1, 2, 3"""
  }

  // --------------------------------------------------------------------
  // q_target_encoding — K-fold out-of-fold mean target encoding
  // --------------------------------------------------------------------

  /** Leakage-free target encoding of `event_type` by mean `value`:
    * hash-assigned folds (md5 of event_id — reproducible across runs
    * and engines), each fold's encoding computed from the OTHER folds
    * only ((total − own fold) arithmetic, the standard trick that needs
    * no per-fold re-aggregation), plus m-estimate smoothing toward the
    * out-of-fold global prior (m = 20).
    *
    * Scale design: one scan partial-aggregated to (event_type, fold) —
    * K × |categories| rows shuffle, nothing else; the global per-fold
    * prior is the same tiny table re-aggregated. Sums are exact cents
    * (LONG), so encodings hash identically across engines.
    */
  def targetEncoding(s: SparkSession, dir: String, folds: Int = 5, m: Int = 20): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        expr(md5Bucket("cast(event_id as string)", folds)).as("fold"),
        round(col("value") * 100).cast("long").as("cents"))
    val perFold = ev
      .groupBy(col("event_type"), col("fold"))
      .agg(count(lit(1)).as("cnt_f"), sum(col("cents")).as("sum_f"))
    val perType = perFold
      .groupBy(col("event_type"))
      .agg(sum(col("cnt_f")).as("cnt_t"), sum(col("sum_f")).as("sum_t"))
    val globalFold = perFold
      .groupBy(col("fold"))
      .agg(sum(col("cnt_f")).as("gcnt_f"), sum(col("sum_f")).as("gsum_f"))
    val globalTot = globalFold
      .agg(sum(col("gcnt_f")).as("gcnt_t"), sum(col("gsum_f")).as("gsum_t"))
    perFold
      .join(broadcast(perType), "event_type")
      .join(broadcast(globalFold), "fold")
      .crossJoin(broadcast(globalTot))
      .withColumn("n_oof", col("cnt_t") - col("cnt_f"))
      .withColumn("oof_sum", (col("sum_t") - col("sum_f")) / 100.0)
      .withColumn(
        "prior",
        ((col("gsum_t") - col("gsum_f")) / 100.0) / (col("gcnt_t") - col("gcnt_f")))
      .select(
        col("event_type"),
        col("fold"),
        col("n_oof"),
        round(col("oof_sum") / col("n_oof"), 6).as("oof_mean"),
        round((col("oof_sum") + lit(m) * col("prior")) / (col("n_oof") + lit(m)), 6)
          .as("smoothed_mean"))
  }

  /** Oracle SQL, parameterized on the same `(folds, m)` as
    * [[targetEncoding]] (ADVICE r9).
    */
  def targetEncodingSql(folds: Int = 5, m: Int = 20): String = {
    val fold = md5BucketSql("CAST(event_id AS VARCHAR)", folds)
    s"""WITH ev AS (
         SELECT event_type, $fold AS fold,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events
       ), pf AS (
         SELECT event_type, fold, count(*) AS cnt_f, sum(cents) AS sum_f
         FROM ev GROUP BY 1, 2
       ), pt AS (
         SELECT event_type, CAST(sum(cnt_f) AS BIGINT) AS cnt_t,
                CAST(sum(sum_f) AS BIGINT) AS sum_t
         FROM pf GROUP BY 1
       ), gf AS (
         SELECT fold, CAST(sum(cnt_f) AS BIGINT) AS gcnt_f,
                CAST(sum(sum_f) AS BIGINT) AS gsum_f
         FROM pf GROUP BY 1
       ), gt AS (SELECT CAST(sum(gcnt_f) AS BIGINT) AS gcnt_t,
                        CAST(sum(gsum_f) AS BIGINT) AS gsum_t FROM gf)
       SELECT pf.event_type, pf.fold,
              cnt_t - cnt_f AS n_oof,
              round(((sum_t - sum_f) / 100.0) / (cnt_t - cnt_f), 6) AS oof_mean,
              round((((sum_t - sum_f) / 100.0)
                     + $m * (((gsum_t - gsum_f) / 100.0) / (gcnt_t - gcnt_f)))
                    / ((cnt_t - cnt_f) + $m), 6) AS smoothed_mean
       FROM pf JOIN pt USING (event_type) JOIN gf USING (fold), gt"""
  }

  // --------------------------------------------------------------------
  // q_feature_hashing — hashing-trick featurizer + collision audit
  // --------------------------------------------------------------------

  /** The hashing-trick featurizer every large-scale text model uses when
    * a vocabulary won't fit: token → md5 bucket in [0, D). Output is the
    * bucket-level audit a feature engineer reads before fixing D — load
    * per bucket, collision degree (distinct tokens sharing the bucket),
    * document reach, and a deterministic example token.
    *
    * Scale design: tokenize + hash is a pure map stage (zero shuffle);
    * the only exchange carries partial-aggregated (bucket, token) then
    * (bucket) rows — bounded by D × vocab, not corpus size.
    */
  def featureHashing(s: SparkSession, dir: String, dims: Int = 64): DataFrame = {
    val toks = Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+", -1)).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("bucket", expr(md5Bucket("tok", dims)))
    toks
      .groupBy(col("bucket"), col("tok"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("nd")).as("max_docs_one_token"),
        min(col("tok")).as("example_token"))
  }

  val featureHashingSql: String = {
    val bucket = md5BucketSql("tok", 64)
    s"""WITH toks AS (
         SELECT doc_id, tok, $bucket AS bucket
         FROM (SELECT doc_id,
                      unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
               FROM documents)
         WHERE tok <> ''
       ), bt AS (
         SELECT bucket, tok, count(*) AS n, count(DISTINCT doc_id) AS nd
         FROM toks GROUP BY 1, 2
       )
       SELECT bucket, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_distinct_tokens,
              max(nd) AS max_docs_one_token, min(tok) AS example_token
       FROM bt GROUP BY 1"""
  }

  // --------------------------------------------------------------------
  // q_mannwhitney — rank-based two-sample test without a global sort
  // --------------------------------------------------------------------

  /** Mann–Whitney U comparing `value` between purchase and view events —
    * the nonparametric A/B test used when means mislead (heavy tails).
    * Average ranks with the exact tie correction; z uses the normal
    * approximation (valid here: n₁, n₂ ≫ 20).
    *
    * Scale design (the [[RelationalQueries.weightedQuantiles]] carry
    * pattern): values quantize to exact cents and aggregate to
    * per-distinct-value group counts FIRST (one keyed shuffle, output
    * bounded by the value domain); ranks then come from a prefix sum
    * over that aggregated table, computed as bucket-partitioned windows
    * plus a broadcast bucket-offset carry — no window ever orders more
    * than one bucket, so there is no single-partition global sort at
    * any scale. All rank arithmetic is integer (avgrank doubled to stay
    * integral); doubles appear only in the final U/z projection, with
    * the identical expression shape on the oracle side.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val perV = Tables
      .events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        round(col("value") * 100).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("g1"))
      .groupBy(col("v"))
      .agg(sum(col("g1")).as("n1"), count(lit(1)).as("n"))
      .withColumn("n2", col("n") - col("n1"))
      .withColumn("bkt", expr("v div 1000").cast("int"))
    val bTot = perV.groupBy(col("bkt")).agg(sum(col("n")).as("bn"))
    val carry = bTot.withColumn(
      "boff",
      coalesce(
        sum(col("bn")).over(
          Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val wIn = Window
      .partitionBy(col("bkt"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .join(broadcast(carry.select(col("bkt"), col("boff"))), "bkt")
      .withColumn("cum_before", col("boff") + coalesce(sum(col("n")).over(wIn), lit(0L)))
      .withColumn("avgrank2", lit(2L) * col("cum_before") + col("n") + 1L)
    ranked
      .agg(
        sum(col("n1")).as("n1t"),
        sum(col("n2")).as("n2t"),
        sum(col("n1") * col("avgrank2")).as("r1_2"),
        sum(col("n") * col("n") * col("n") - col("n")).as("tsum"))
      .select(
        col("n1t").as("n1"),
        col("n2t").as("n2"),
        ((col("r1_2") - col("n1t") * (col("n1t") + 1)) / 2.0).as("u1"),
        (col("n1t") * col("n2t") - (col("r1_2") - col("n1t") * (col("n1t") + 1)) / 2.0)
          .as("u2"),
        round(
          ((col("r1_2") - col("n1t") * (col("n1t") + 1)) / 2.0 -
            col("n1t") * col("n2t") / 2.0) /
            sqrt(
              col("n1t") * col("n2t") / 12.0 *
                ((col("n1t") + col("n2t") + 1) -
                  col("tsum") /
                    ((col("n1t") + col("n2t")) * (col("n1t") + col("n2t") - 1.0)))),
          6).as("z_score"))
  }

  val mannWhitneySql: String =
    """WITH pv AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS v,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n1,
                count(*) AS n
         FROM events WHERE event_type IN ('purchase', 'view')
         GROUP BY 1
       ), r AS (
         SELECT v, n1, n - n1 AS n2, n,
                2 * coalesce(sum(n) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n + 1
                  AS avgrank2
         FROM pv
       ), agg AS (
         SELECT CAST(sum(n1) AS BIGINT) AS n1t, CAST(sum(n2) AS BIGINT) AS n2t,
                CAST(sum(n1 * avgrank2) AS BIGINT) AS r1_2,
                CAST(sum(n * n * n - n) AS BIGINT) AS tsum
         FROM r
       )
       SELECT n1t AS n1, n2t AS n2,
              (r1_2 - n1t * (n1t + 1)) / 2.0 AS u1,
              n1t * n2t - (r1_2 - n1t * (n1t + 1)) / 2.0 AS u2,
              round(((r1_2 - n1t * (n1t + 1)) / 2.0 - n1t * n2t / 2.0)
                    / sqrt(n1t * n2t / 12.0
                           * ((n1t + n2t + 1) - tsum / ((n1t + n2t) * (n1t + n2t - 1.0)))),
                    6) AS z_score
       FROM agg"""

  // --------------------------------------------------------------------
  // q_skew_diagnose — join-key distribution profiler
  // --------------------------------------------------------------------

  /** Key-skew profiler for the three lineitem join keys — the first
    * thing to run before sizing a 100 TB join: rows per key (mean /
    * max / heaviest-key share), Shannon entropy of the key distribution
    * (normalized; 1.0 = uniform), and the derived salting factor
    * (⌈max/mean⌉ — how many salt buckets flatten the heaviest key to
    * the average).
    *
    * Scale design: one narrow scan + keyed partial-agg per key column
    * (three single-column scans beat one 3× explode shuffle); everything
    * after the per-key count is an aggregation over the key domain with
    * no ordering — entropy and max need no sort, unlike a Gini (which
    * lives in q_gini_concentration with its own machinery).
    */
  def skewDiagnose(s: SparkSession, dir: String): DataFrame = {
    def profile(keyCol: String): DataFrame =
      Tables
        .lineitem(s, dir)
        .groupBy(col(keyCol).as("k"))
        .agg(count(lit(1)).as("c"))
        .agg(
          sum(col("c")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("c")).as("max_per_key"),
          sum(col("c") * log(col("c"))).as("slc"))
        .select(
          lit(keyCol).as("key_col"),
          col("n_rows"),
          col("n_keys"),
          col("max_per_key"),
          round(col("n_rows").cast("double") / col("n_keys"), 6).as("mean_per_key"),
          round(col("max_per_key") * col("n_keys") / col("n_rows").cast("double"), 6)
            .as("skew_ratio"),
          round(
            (log(col("n_rows")) - col("slc") / col("n_rows")) / log(col("n_keys")),
            6).as("norm_entropy"),
          ceil(col("max_per_key") * col("n_keys") / col("n_rows").cast("double"))
            .cast("long")
            .as("salt_factor"))
    profile("l_orderkey").unionAll(profile("l_partkey")).unionAll(profile("l_suppkey"))
  }

  val skewDiagnoseSql: String = {
    def one(k: String) =
      s"""SELECT '$k' AS key_col, n_rows, n_keys, max_per_key,
              round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS mean_per_key,
              round(max_per_key * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_ratio,
              round((ln(n_rows) - slc / n_rows) / ln(n_keys), 6) AS norm_entropy,
              CAST(ceil(max_per_key * n_keys / CAST(n_rows AS DOUBLE)) AS BIGINT)
                AS salt_factor
         FROM (SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
                      max(c) AS max_per_key, sum(c * ln(c)) AS slc
               FROM (SELECT $k, count(*) AS c FROM lineitem GROUP BY 1))"""
    s"${one("l_orderkey")} UNION ALL ${one("l_partkey")} UNION ALL ${one("l_suppkey")}"
  }

  // --------------------------------------------------------------------
  // q_path_mining — most common 3-step user journeys
  // --------------------------------------------------------------------

  /** Sequential path mining: the top 20 most-travelled 3-step event
    * sequences across users — the "common journeys" view behind every
    * product-analytics funnel-discovery screen. Consecutive steps come
    * from `lead` windows ordered by (ts, event_id) — the id tiebreak
    * makes ordering total, so results are deterministic under any
    * parallelism and hash-match the oracle.
    *
    * Scale design: the only window partitions by user_id (state bounded
    * by one user's history, the same key the sessionize family uses);
    * path counts partial-agg map-side (key domain ≤ |event types|³);
    * the final top-20 plans as TakeOrderedAndProject — k rows per
    * partition to the driver, never a global sort.
    */
  def pathMining(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(
        concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"),
        col("user_id"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occurrences").desc, col("path"))
      .limit(k)
  }

  val pathMiningSql: String =
    """WITH steps AS (
         SELECT user_id, event_type AS e1,
                lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
                lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
         FROM events
       )
       SELECT e1 || '>' || e2 || '>' || e3 AS path,
              count(*) AS n_occurrences,
              count(DISTINCT user_id) AS n_users
       FROM steps WHERE e3 IS NOT NULL
       GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 20"""

  // --------------------------------------------------------------------
  // q_item_knn — item-item collaborative filtering neighbors
  // --------------------------------------------------------------------

  /** Item-item collaborative filtering: each part's top-5 most-similar
    * parts by co-purchase cosine (n_ij / √(n_i·n_j)) — the classic
    * Amazon-style "customers also bought" neighbor table, materialized
    * offline exactly like production recommenders do.
    *
    * Scale design: baskets collapse to a sorted distinct-item array per
    * order (ONE corpus-keyed shuffle, amplification bounded by
    * lines/order); co-occurrence pairs expand IN-ROW as the array's
    * upper triangle (≤ C(items-per-order, 2) per basket), aggregate
    * UNORDERED, and symmetrize after via an in-row 2-struct explode
    * over the AGGREGATE OUTPUT (one reference, one shuffle — the r13
    * self-union referenced the aggregate twice and, measured, AQE's
    * ReuseExchange did not deduplicate it) — halving the pair exchange
    * vs the directed self-join the r12 shape paid (which also
    * re-shuffled the corpus a second time); supports join back keyed
    * on the item;
    * similarity is pure integer arithmetic in identical expression
    * shape both engines (bit-identical doubles, so the rank cut is
    * deterministic with the item tiebreak); the top-5 rank filter plans
    * as map-side WindowGroupLimit — only ≤ 5 rows per item reach the
    * final exchange (the q_top_per_group machinery).
    */
  def itemKnn(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val baskets = Reuse.pin(
      Tables
        .lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey").as("item"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("item"))).as("items")))
    val sup = baskets
      .select(explode(col("items")).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_i"))
    // upper triangle via TWO chained Generates (posexplode, then
    // explode of the suffix slice) — both stay inside whole-stage
    // codegen; the equivalent flatten(transform(…, transform(…)))
    // nested-HOF expression is INTERPRETED per row and measured ~6×
    // slower at sf1.
    val undirected = baskets
      .select(col("items"), posexplode(col("items")).as(Seq("i", "pa")))
      .select(
        col("pa"),
        explode(slice(col("items"), col("i") + lit(2), size(col("items")))).as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_co"))
    // symmetrize IN-ROW (explode a 2-struct array) instead of a
    // self-union: the union referenced the aggregate subtree twice and
    // — measured on the r13 adaptive plan — ReuseExchange did NOT
    // deduplicate it (two ShuffleQueryStages each ran the full
    // explode+partial-agg). A single Generate over the aggregate output
    // keeps exactly one pair exchange in the plan (locked in
    // PlanAuditSpec) at the cost of one codegen'd array alloc per pair.
    val co = undirected
      .select(explode(array(
        struct(col("pa").as("item_a"), col("pb").as("item_b"), col("n_co")),
        struct(col("pb").as("item_a"), col("pa").as("item_b"), col("n_co")))).as("e"))
      .select(col("e.item_a"), col("e.item_b"), col("e.n_co"))
    val w = Window
      .partitionBy(col("item"))
      .orderBy(col("sim").desc, col("neighbor"))
    co.join(sup.withColumnRenamed("item", "item_a").withColumnRenamed("n_i", "n_a"), "item_a")
      .join(sup.withColumnRenamed("item", "item_b").withColumnRenamed("n_i", "n_b"), "item_b")
      .select(
        col("item_a").as("item"),
        col("item_b").as("neighbor"),
        col("n_co"),
        (col("n_co") / sqrt(col("n_a").cast("double") * col("n_b"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("item"),
        col("neighbor"),
        col("n_co"),
        round(col("sim"), 6).as("sim"),
        col("rank").cast("long").as("rank"))
  }

  val itemKnnSql: String =
    """WITH oi AS (SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem),
       sup AS (SELECT item, count(*) AS n_i FROM oi GROUP BY 1),
       co AS (
         SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
         FROM oi a JOIN oi b
           ON a.l_orderkey = b.l_orderkey AND a.item <> b.item
         GROUP BY 1, 2
       ), scored AS (
         SELECT item_a AS item, item_b AS neighbor, n_co,
                n_co / sqrt(CAST(sa.n_i AS DOUBLE) * sb.n_i) AS sim
         FROM co
         JOIN sup sa ON sa.item = co.item_a
         JOIN sup sb ON sb.item = co.item_b
       ), ranked AS (
         SELECT item, neighbor, n_co, sim,
                row_number() OVER (PARTITION BY item ORDER BY sim DESC, neighbor) AS rank
         FROM scored
       )
       SELECT item, neighbor, n_co, round(sim, 6) AS sim, CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 5"""

  // --------------------------------------------------------------------
  // q_k_anonymity — quasi-identifier re-identification audit
  // --------------------------------------------------------------------

  /** k-anonymity audit over customer quasi-identifiers — the governance
    * gate a dataset passes before release: at each generalization level
    * (full QI = nation + segment + account-balance band; drop the band;
    * nation only), how many QI groups fall below k = 5, and what share
    * of rows they expose. Reading the levels top-down is exactly the
    * generalization-lattice walk a privacy officer does to pick the
    * coarsest safe release.
    *
    * Scale design: three keyed partial-aggregated scans (group counts),
    * each followed by an aggregation over the bounded group domain —
    * no sort, no join; identical shape at any input size.
    */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val cust = Tables.customer(s, dir)
    def level(name: String, keys: Seq[Column]): DataFrame =
      cust
        .groupBy(keys: _*)
        .agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("c") < k, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("c") < k, col("c")).otherwise(0L)).as("n_at_risk"),
          sum(col("c")).as("n_rows"))
        .select(
          lit(name).as("level"),
          col("n_groups"),
          col("n_violating"),
          col("n_at_risk"),
          round(col("n_at_risk") / col("n_rows").cast("double"), 6).as("risk_rate"))
    val band = floor(col("c_acctbal") / 1000).cast("long")
    level("nation+segment+balband", Seq(col("c_nationkey"), col("c_mktsegment"), band))
      .unionAll(level("nation+segment", Seq(col("c_nationkey"), col("c_mktsegment"))))
      .unionAll(level("nation", Seq(col("c_nationkey"))))
  }

  val kAnonymitySql: String = {
    def one(name: String, keys: String) =
      s"""SELECT '$name' AS level, count(*) AS n_groups,
              CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
              CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS n_at_risk,
              round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)
                    / CAST(sum(c) AS DOUBLE), 6) AS risk_rate
         FROM (SELECT count(*) AS c FROM customer GROUP BY $keys)"""
    Seq(
      one(
        "nation+segment+balband",
        "c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT)"),
      one("nation+segment", "c_nationkey, c_mktsegment"),
      one("nation", "c_nationkey")).mkString(" UNION ALL ")
  }

  // --------------------------------------------------------------------
  // q_survival_km — Kaplan–Meier retention curve with censoring
  // --------------------------------------------------------------------

  /** Kaplan–Meier time-to-conversion: days from a user's first signup
    * to their first subsequent purchase, right-censored at the window
    * end (2024-01-31) for users who signed up but never converted —
    * dropping the non-converters (the naive conversion query) biases
    * conversion time low, which is exactly what KM exists to fix.
    * S(t) = Π_{s ≤ t} (1 − d_s/r_s) over observed conversion times.
    *
    * Scale design: one keyed per-user aggregation for first-signup, one
    * keyed join + aggregation for first-purchase-after-signup, then
    * everything runs on the per-duration table — bounded by the window
    * length in days (≤ 31 rows), so the unpartitioned cumulative
    * windows are control-plane, not data-plane (the weightedQuantiles
    * bucket-table argument). The cumulative product is exp(Σ ln) over
    * an ORDERED window frame — sequential evaluation order, so the
    * doubles are bit-identical across engines.
    */
  def survivalKm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signup = ev
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("signup_day"))
    val conv = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("pday"))
      .join(signup, "user_id")
      .filter(col("pday") >= col("signup_day"))
      .groupBy(col("user_id"))
      .agg(min(col("pday")).as("conv_day"))
    val users = signup
      .join(conv, Seq("user_id"), "left")
      .select(
        when(col("conv_day").isNotNull, datediff(col("conv_day"), col("signup_day")))
          .otherwise(datediff(lit("2024-01-31").cast("date"), col("signup_day")))
          .cast("long")
          .as("duration"),
        col("conv_day").isNotNull.as("converted"))
    val perDur = users
      .groupBy(col("duration"))
      .agg(
        count(lit(1)).as("n_ending"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_churned"))
    val wOrd = Window.orderBy(col("duration"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDur
      .withColumn("n_total", sum(col("n_ending")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_at_risk", col("n_total") - coalesce(sum(col("n_ending")).over(wPrev), lit(0L)))
      .withColumn(
        "survival",
        // the 1e-300 floor absorbs the d == r terminal step (everyone
        // remaining converts): ln would be -inf / an engine error, and
        // exp(≤ -690) rounds to the correct S = 0 in both engines
        round(
          exp(sum(log(greatest(
            lit(1e-300),
            lit(1.0) - col("n_churned") / col("n_at_risk").cast("double")))).over(wCum)),
          6))
      .select(
        col("duration"),
        col("n_at_risk"),
        col("n_churned").as("n_converted"),
        col("survival"))
  }

  val survivalKmSql: String =
    """WITH signup AS (
         SELECT user_id, min(CAST(ts AS DATE)) AS signup_day
         FROM events WHERE event_type = 'signup' GROUP BY 1
       ), conv AS (
         SELECT e.user_id, min(CAST(e.ts AS DATE)) AS conv_day
         FROM events e JOIN signup su ON e.user_id = su.user_id
         WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= su.signup_day
         GROUP BY 1
       ), users AS (
         SELECT CASE WHEN c.conv_day IS NOT NULL
                     THEN date_diff('day', su.signup_day, c.conv_day)
                     ELSE date_diff('day', su.signup_day, DATE '2024-01-31') END AS duration,
                c.conv_day IS NOT NULL AS converted
         FROM signup su LEFT JOIN conv c ON su.user_id = c.user_id
       ), pd AS (
         SELECT duration, count(*) AS n_ending,
                CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
         FROM users GROUP BY 1
       ), risk AS (
         SELECT duration, n_churned,
                CAST(sum(n_ending) OVER () AS BIGINT)
                  - CAST(coalesce(sum(n_ending) OVER (ORDER BY duration
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  AS n_at_risk
         FROM pd
       )
       SELECT duration, n_at_risk, n_churned AS n_converted,
              round(exp(sum(ln(greatest(1e-300, 1.0 - n_churned / CAST(n_at_risk AS DOUBLE))))
                        OVER (ORDER BY duration
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                AS survival
       FROM risk"""

  // --------------------------------------------------------------------
  // q_survival_km_strata — per-cohort stratified Kaplan-Meier
  // --------------------------------------------------------------------

  /** Stratified Kaplan–Meier (VERDICT r9 #6): one survival curve per
    * signup cohort — the log-rank comparison shape real retention
    * analysis needs ("do weekend signups convert slower?"). The r9 ask
    * says "by signup month"; the fixture's events span January 2024
    * only (a month stratum would be degenerate) and first-signup dates
    * cluster in week 1, so the faithful adaptation is the signup
    * DAY-OF-WEEK (4–7 populated strata at every fixture scale) — the
    * operator is cohort-expression-agnostic. Engine note: Spark's
    * `dayofweek` is 1–7 Sunday-based while DuckDB's is 0–6, so the
    * oracle adds 1.
    *
    * Scale: identical to [[survivalKm]] with every window now
    * PARTITIONED BY cohort (strictly better-shaped than the global
    * curve's bounded unpartitioned windows): per-(cohort, duration)
    * counts partial-agg in one shuffle, the curve folds run inside
    * cohort partitions, state bounded by durations × cohorts. The
    * cumulative exp(Σ ln) product is a sequential ordered frame in both
    * engines, so the doubles stay bit-identical.
    */
  def survivalKmStrata(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signup = ev
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("signup_day"))
      .withColumn("cohort", dayofweek(col("signup_day")).cast("int"))
    val conv = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("pday"))
      .join(signup.select(col("user_id"), col("signup_day")), "user_id")
      .filter(col("pday") >= col("signup_day"))
      .groupBy(col("user_id"))
      .agg(min(col("pday")).as("conv_day"))
    val users = signup
      .join(conv, Seq("user_id"), "left")
      .select(
        col("cohort"),
        when(col("conv_day").isNotNull, datediff(col("conv_day"), col("signup_day")))
          .otherwise(datediff(lit("2024-01-31").cast("date"), col("signup_day")))
          .cast("long")
          .as("duration"),
        col("conv_day").isNotNull.as("converted"))
    val perDur = users
      .groupBy(col("cohort"), col("duration"))
      .agg(
        count(lit(1)).as("n_ending"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_churned"))
    val wOrd = Window.partitionBy(col("cohort")).orderBy(col("duration"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window
      .partitionBy(col("cohort"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perDur
      .withColumn("n_total", sum(col("n_ending")).over(wAll))
      .withColumn(
        "n_at_risk",
        col("n_total") - coalesce(sum(col("n_ending")).over(wPrev), lit(0L)))
      .withColumn(
        "survival",
        // same 1e-300 floor as [[survivalKm]] for the terminal d == r step
        round(
          exp(sum(log(greatest(
            lit(1e-300),
            lit(1.0) - col("n_churned") / col("n_at_risk").cast("double")))).over(wCum)),
          6))
      .select(
        col("cohort"),
        col("duration"),
        col("n_at_risk"),
        col("n_churned").as("n_converted"),
        col("survival"))
  }

  val survivalKmStrataSql: String =
    """WITH signup AS (
         SELECT user_id, min(CAST(ts AS DATE)) AS signup_day,
                CAST(dayofweek(min(CAST(ts AS DATE))) + 1 AS INT) AS cohort
         FROM events WHERE event_type = 'signup' GROUP BY 1
       ), conv AS (
         SELECT e.user_id, min(CAST(e.ts AS DATE)) AS conv_day
         FROM events e JOIN signup su ON e.user_id = su.user_id
         WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= su.signup_day
         GROUP BY 1
       ), users AS (
         SELECT su.cohort,
                CASE WHEN c.conv_day IS NOT NULL
                     THEN date_diff('day', su.signup_day, c.conv_day)
                     ELSE date_diff('day', su.signup_day, DATE '2024-01-31') END AS duration,
                c.conv_day IS NOT NULL AS converted
         FROM signup su LEFT JOIN conv c ON su.user_id = c.user_id
       ), pd AS (
         SELECT cohort, duration, count(*) AS n_ending,
                CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
         FROM users GROUP BY 1, 2
       ), risk AS (
         SELECT cohort, duration, n_churned,
                CAST(sum(n_ending) OVER (PARTITION BY cohort) AS BIGINT)
                  - CAST(coalesce(sum(n_ending) OVER (PARTITION BY cohort ORDER BY duration
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  AS n_at_risk
         FROM pd
       )
       SELECT cohort, duration, n_at_risk, n_churned AS n_converted,
              round(exp(sum(ln(greatest(1e-300, 1.0 - n_churned / CAST(n_at_risk AS DOUBLE))))
                        OVER (PARTITION BY cohort ORDER BY duration
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                AS survival
       FROM risk"""

  // --------------------------------------------------------------------
  // q_cuped — CUPED variance-reduced experiment readout
  // --------------------------------------------------------------------

  /** CUPED (Controlled-experiment Using Pre-Experiment Data): adjust
    * each user's experiment-period spend by their pre-period covariate,
    * Y' = Y − θ(X − X̄) with θ = cov(X, Y)/var(X) pooled across arms —
    * the standard variance-reduction step of every large experimentation
    * platform. Pre-period = the first half of January, experiment
    * period = the rest; the arm is a deterministic md5 split of
    * user_id. Output per arm: users, raw and adjusted mean spend, the
    * pooled θ, and the variance-reduction ratio 1 − var(Y′)/var(Y).
    *
    * Scale: one scan → per-user exact-cent sums (one partial-agg
    * shuffle on user_id), then per-arm and pooled aggregates over the
    * user table — moment sums are EXACT longs (x·y ≤ 10¹⁴ per user at
    * fixture scale; decimal(38,0) at web scale), so θ and every mean
    * derive from identical inputs via identical double trees in both
    * engines. No quantization needed: the only doubles are final
    * projections of exact integers.
    */
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val perUser = Reuse.pin(
      Tables
        .events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")).as("pre"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
          sum(when(col("pre"), 0L).otherwise(col("cents"))).as("y"))
        .withColumn("arm", expr(md5Bucket("cast(user_id as string)", 2)).cast("int")))
    val pooled = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nd = col("n").cast("double")
    val theta =
      (nd * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
        (nd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))
    // var(Y) and var(Y') from the same exact moments:
    // var(Y') = var(Y) − 2θ·cov + θ²·var(X) (all /n² scale cancels in the ratio)
    val varY = nd * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    val covXY = nd * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val varX = nd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val scalars = pooled.select(
      col("n"),
      col("sx"),
      theta.as("theta"),
      (lit(1.0) - (varY - lit(2.0) * theta * covXY + theta * theta * varX) / varY)
        .as("vr"))
    perUser
      .groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("x")).as("sxv"),
        sum(col("y")).as("syv"))
      .crossJoin(broadcast(scalars))
      .select(
        col("arm"),
        col("n_users"),
        round(col("syv").cast("double") / col("n_users").cast("double") / lit(100.0), 6)
          .as("mean_spend"),
        round(
          (col("syv").cast("double") / col("n_users").cast("double") -
            col("theta") *
              (col("sxv").cast("double") / col("n_users").cast("double") -
                col("sx").cast("double") / col("n").cast("double"))) / lit(100.0),
          6).as("mean_spend_adj"),
        round(col("theta"), 6).as("theta"),
        round(col("vr"), 6).as("variance_reduction"))
  }

  val cupedSql: String = {
    val arm = md5BucketSql("CAST(user_id AS VARCHAR)", 2)
    s"""WITH pu AS (
         SELECT user_id,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                              THEN 0 ELSE CAST(round(value * 100) AS BIGINT) END)
                  AS BIGINT) AS y,
                CAST($arm AS INT) AS arm
         FROM events WHERE event_type = 'purchase' GROUP BY user_id
       ), pooled AS (
         SELECT count(*) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy
         FROM pu
       ), sc AS (
         SELECT n, sx,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  AS theta,
                CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                  AS vary,
                CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                  AS covxy,
                CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  AS varx
         FROM pooled
       ), arms AS (
         SELECT arm, count(*) AS n_users,
                CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
         FROM pu GROUP BY arm
       )
       SELECT arm, n_users,
              round(CAST(syv AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0, 6)
                AS mean_spend,
              round((CAST(syv AS DOUBLE) / CAST(n_users AS DOUBLE)
                     - theta * (CAST(sxv AS DOUBLE) / CAST(n_users AS DOUBLE)
                                - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6)
                AS mean_spend_adj,
              round(theta, 6) AS theta,
              round(1.0 - (vary - 2.0 * theta * covxy + theta * theta * varx) / vary, 6)
                AS variance_reduction
       FROM arms, sc"""
  }

  // --------------------------------------------------------------------
  // q_logrank — two-sample log-rank test across survival cohorts
  // --------------------------------------------------------------------

  /** Two-sample log-rank test: do WEEKEND signups convert on a
    * different schedule than weekday signups? The hypothesis test that
    * completes [[survivalKmStrata]] — observed vs expected conversions
    * in group 1 at every event time, z-scored with the hypergeometric
    * variance (the standard Mantel–Cox form).
    *
    * Scale: identical data plane to [[survivalKm]] — one per-duration
    * aggregate (bounded by the observation window in days), windows
    * only over that bounded table. Cross-engine exactness: the
    * per-duration expected/variance terms are doubles, so their SUMS
    * are quantized — ⌊term·10¹²⌋ longs summed as decimal(38,0) (the
    * [[SearchQueries.zipfSlope]] discipline) — making them
    * order-independent and bit-identical; only the final e1/z
    * projection divides back, with the identical expression tree in
    * the oracle. Weekend test: Spark `dayofweek` is 1–7 Sunday-based
    * (weekend = {1, 7}); DuckDB's is 0–6 (weekend = {0, 6}).
    */
  def logrank(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signup = ev
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("signup_day"))
      .withColumn(
        "grp",
        when(dayofweek(col("signup_day")).isin(1, 7), 1L).otherwise(0L))
    val conv = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("pday"))
      .join(signup.select(col("user_id"), col("signup_day")), "user_id")
      .filter(col("pday") >= col("signup_day"))
      .groupBy(col("user_id"))
      .agg(min(col("pday")).as("conv_day"))
    val users = signup
      .join(conv, Seq("user_id"), "left")
      .select(
        col("grp"),
        when(col("conv_day").isNotNull, datediff(col("conv_day"), col("signup_day")))
          .otherwise(datediff(lit("2024-01-31").cast("date"), col("signup_day")))
          .cast("long")
          .as("duration"),
        when(col("conv_day").isNotNull, 1L).otherwise(0L).as("event"))
    val pd = users
      .groupBy(col("duration"))
      .agg(
        count(lit(1)).as("n_end"),
        sum(col("event")).as("d"),
        sum(col("grp")).as("n_end1"),
        sum(col("grp") * col("event")).as("d1"))
    // the per-duration table is bounded by the observation window
    // (≤ 31 rows) — total-order windows over it are control-plane
    val wPrev = Window.orderBy(col("duration")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val risk = pd
      .withColumn(
        "n",
        sum(col("n_end")).over(wAll) - coalesce(sum(col("n_end")).over(wPrev), lit(0L)))
      .withColumn(
        "n1",
        sum(col("n_end1")).over(wAll) - coalesce(sum(col("n_end1")).over(wPrev), lit(0L)))
      .filter(col("d") > 0)
    val nd = col("n").cast("double")
    // expected counts scale with the at-risk population, so the ×1e12
    // quantized terms can pass 2⁶³ (n1·d/n ≥ 9.2e6) long before any
    // test fixture does — double-domain floor (Quantize.dfloor) +
    // decimal(38,0) sums never saturate; see Quantize's domain rules
    val qe = Quantize.dfloor(col("n1").cast("double") * col("d") / nd * lit(1e12))
    val qv = Quantize.dfloor(
      when(
        col("n") > 1,
        (col("d").cast("double") * col("n1") / nd) *
          (lit(1.0) - col("n1").cast("double") / nd) *
          (col("n") - col("d")) / (col("n") - 1)).otherwise(lit(0.0)) * lit(1e12))
    risk
      .agg(
        sum(col("d1")).as("o1"),
        sum(qe.cast("decimal(38,0)")).as("sqe"),
        sum(qv.cast("decimal(38,0)")).as("sqv"))
      .select(
        col("o1"),
        round(col("sqe").cast("double") / lit(1e12), 6).as("e1"),
        // the 1e-300 floor (the survivalKm discipline) absorbs the
        // degenerate sqv = 0 case (every event time has n ≤ 1, or a
        // one-sided cohort): Spark's non-ANSI x/0 yields NULL while
        // DuckDB yields inf/nan — floored, both emit a huge finite z
        round(
          (col("o1").cast("double") - col("sqe").cast("double") / lit(1e12)) /
            sqrt(greatest(lit(1e-300), col("sqv").cast("double") / lit(1e12))),
          6).as("z_score"))
  }

  val logrankSql: String =
    """WITH signup AS (
         SELECT user_id, min(CAST(ts AS DATE)) AS signup_day,
                CASE WHEN dayofweek(min(CAST(ts AS DATE))) IN (0, 6)
                     THEN 1 ELSE 0 END AS grp
         FROM events WHERE event_type = 'signup' GROUP BY 1
       ), conv AS (
         SELECT e.user_id, min(CAST(e.ts AS DATE)) AS conv_day
         FROM events e JOIN signup su ON e.user_id = su.user_id
         WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= su.signup_day
         GROUP BY 1
       ), users AS (
         SELECT su.grp,
                CASE WHEN c.conv_day IS NOT NULL
                     THEN date_diff('day', su.signup_day, c.conv_day)
                     ELSE date_diff('day', su.signup_day, DATE '2024-01-31') END AS duration,
                CASE WHEN c.conv_day IS NOT NULL THEN 1 ELSE 0 END AS event
         FROM signup su LEFT JOIN conv c ON su.user_id = c.user_id
       ), pd AS (
         SELECT duration, CAST(count(*) AS BIGINT) AS n_end,
                CAST(sum(event) AS BIGINT) AS d,
                CAST(sum(grp) AS BIGINT) AS n_end1,
                CAST(sum(grp * event) AS BIGINT) AS d1
         FROM users GROUP BY 1
       ), risk AS (
         SELECT duration, d, d1,
                CAST(sum(n_end) OVER ()
                  - coalesce(sum(n_end) OVER (ORDER BY duration
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n,
                CAST(sum(n_end1) OVER ()
                  - coalesce(sum(n_end1) OVER (ORDER BY duration
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1
         FROM pd
       ), q AS (
         SELECT d1,
                CAST((CAST(n1 AS DOUBLE) * d / CAST(n AS DOUBLE) * 1e12)
                     - (CAST(n1 AS DOUBLE) * d / CAST(n AS DOUBLE) * 1e12) % 1.0
                  AS DECIMAL(38,0)) AS qe,
                CAST((CASE WHEN n > 1
                  THEN (CAST(d AS DOUBLE) * n1 / CAST(n AS DOUBLE))
                       * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (n - d) / (n - 1)
                  ELSE 0.0 END * 1e12)
                     - (CASE WHEN n > 1
                  THEN (CAST(d AS DOUBLE) * n1 / CAST(n AS DOUBLE))
                       * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (n - d) / (n - 1)
                  ELSE 0.0 END * 1e12) % 1.0
                  AS DECIMAL(38,0)) AS qv
         FROM risk WHERE d > 0
       ), g AS (
         SELECT CAST(sum(d1) AS BIGINT) AS o1, sum(qe) AS sqe, sum(qv) AS sqv FROM q
       )
       SELECT o1,
              round(CAST(sqe AS DOUBLE) / 1e12, 6) AS e1,
              round((CAST(o1 AS DOUBLE) - CAST(sqe AS DOUBLE) / 1e12)
                    / sqrt(greatest(1e-300, CAST(sqv AS DOUBLE) / 1e12)), 6) AS z_score
       FROM g"""

  // --------------------------------------------------------------------
  // q_roc_curve / q_roc_auc — exact-integer ROC analysis
  // --------------------------------------------------------------------

  /** Shared per-threshold ROC table: positives = purchase, negatives =
    * view, score = exact cents. One partial-agg shuffle keyed by the
    * bounded cent domain; cumulative TP/FP from the HIGHEST threshold
    * down via the [[mannWhitney]] two-level scheme — per-bucket DESC
    * windows plus a broadcast bucket-offset carry, so no window ever
    * orders more than one bucket of the value domain.
    */
  private def rocBase(s: SparkSession, dir: String): DataFrame = {
    val perc = Tables
      .events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        round(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("cents"))
      .agg(sum(col("pos")).as("np"), (count(lit(1)) - sum(col("pos"))).as("nn"))
      .withColumn("bkt", expr("cents div 1000").cast("int"))
    val bTot = perc
      .groupBy(col("bkt"))
      .agg(sum(col("np")).as("bp"), sum(col("nn")).as("bn"))
    // DESC carry over the bounded bucket table (the mannWhitney
    // precedent: the only unpartitioned window in the plan)
    val wCarry = Window.orderBy(col("bkt").desc).rowsBetween(Window.unboundedPreceding, -1)
    val carry = bTot
      .withColumn("boffp", coalesce(sum(col("bp")).over(wCarry), lit(0L)))
      .withColumn("boffn", coalesce(sum(col("bn")).over(wCarry), lit(0L)))
      .select(col("bkt"), col("boffp"), col("boffn"))
    val wIn = Window
      .partitionBy(col("bkt"))
      .orderBy(col("cents").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perc
      .join(broadcast(carry), "bkt")
      .withColumn("tp", col("boffp") + sum(col("np")).over(wIn))
      .withColumn("fp", col("boffn") + sum(col("nn")).over(wIn))
      .select(col("cents"), col("np"), col("nn"), col("tp"), col("fp"))
  }

  /** ROC curve at every distinct score threshold — cumulative TP/FP
    * counts (exact longs) plus TPR/FPR rates derived from them, the
    * model-eval table behind [[rocAuc]].
    */
  def rocCurve(s: SparkSession, dir: String): DataFrame = {
    // pinned: the totals scalar and the rate projection share the one
    // curve computation
    val base = Reuse.pin(rocBase(s, dir))
    val tot = base.agg(sum(col("np")).as("p"), sum(col("nn")).as("n"))
    base
      .crossJoin(broadcast(tot))
      .select(
        col("cents").as("threshold"),
        col("tp"),
        col("fp"),
        round(col("tp").cast("double") / col("p").cast("double"), 6).as("tpr"),
        round(col("fp").cast("double") / col("n").cast("double"), 6).as("fpr"))
  }

  /** Exact trapezoid AUC: 2·P·N·AUC = Σ_thresholds nn·(2·tp − np) — an
    * EXACT integer identity (each threshold step adds the trapezoid
    * with parallel sides tp_prev/tp_cur over width nn), summed as
    * decimal(38,0) against i64 overflow at web-scale counts; the one
    * division happens at the very end. Cross-checked against the
    * rank-sum (Mann–Whitney) AUC definition in the oracle design.
    */
  def rocAuc(s: SparkSession, dir: String): DataFrame =
    rocBase(s, dir)
      .agg(
        sum(col("np")).as("p"),
        sum(col("nn")).as("n"),
        sum((col("nn") * (lit(2L) * col("tp") - col("np"))).cast("decimal(38,0)"))
          .as("auc2"))
      .select(
        col("p"),
        col("n"),
        round(
          col("auc2").cast("double") /
            (lit(2.0) * col("p").cast("double") * col("n").cast("double")),
          6).as("auc"))

  /** Precision–recall curve at every distinct score threshold — the
    * class-imbalance-honest companion to [[rocCurve]] (precision
    * collapses where FPR hides it). Same exact-integer TP/FP base; the
    * two rates are single divisions of exact longs.
    */
  def prCurve(s: SparkSession, dir: String): DataFrame = {
    val base = Reuse.pin(rocBase(s, dir))
    val tot = base.agg(sum(col("np")).as("p"))
    base
      .crossJoin(broadcast(tot))
      .select(
        col("cents").as("threshold"),
        col("tp"),
        col("fp"),
        round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"), 6)
          .as("precision"),
        round(col("tp").cast("double") / col("p").cast("double"), 6).as("recall"))
  }

  /** Average precision (area under the PR curve, step interpolation):
    * AP = Σ_thresholds ΔTP·precision / P with ΔTP = np at each
    * threshold. The per-threshold precision terms are doubles, so the
    * sum is QUANTIZED — ⌊np·tp/(tp+fp)·10¹²⌋ longs summed as
    * decimal(38,0) (the repo's order-independent exactness discipline)
    * — and the single /P division happens at the end.
    */
  def avgPrecision(s: SparkSession, dir: String): DataFrame = {
    // np·precision·1e12 scales with the positive count — double-domain
    // floor + decimal sum, never the saturating BIGINT floor (Quantize)
    val qt = Quantize.dfloor(
      col("np").cast("double") * col("tp") / (col("tp") + col("fp")).cast("double") *
        lit(1e12))
    rocBase(s, dir)
      .agg(sum(col("np")).as("p"), sum(qt.cast("decimal(38,0)")).as("sq"))
      .select(
        col("p"),
        round((col("sq").cast("double") / lit(1e12)) / col("p").cast("double"), 6)
          .as("avg_precision"))
  }

  private val rocBaseSql: String =
    """WITH ev AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         FROM events WHERE event_type IN ('purchase', 'view')
       ), perc AS (
         SELECT cents, CAST(sum(pos) AS BIGINT) AS np,
                CAST(count(*) - sum(pos) AS BIGINT) AS nn
         FROM ev GROUP BY 1
       ), curve AS (
         SELECT cents, np, nn,
                CAST(sum(np) OVER (ORDER BY cents DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
                CAST(sum(nn) OVER (ORDER BY cents DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
         FROM perc
       )"""

  val rocCurveSql: String =
    rocBaseSql + """, tot AS (SELECT CAST(sum(np) AS BIGINT) AS p,
                                     CAST(sum(nn) AS BIGINT) AS n FROM perc)
       SELECT cents AS threshold, tp, fp,
              round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6) AS tpr,
              round(CAST(fp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS fpr
       FROM curve, tot"""

  val rocAucSql: String =
    rocBaseSql + """
       SELECT CAST(sum(np) AS BIGINT) AS p, CAST(sum(nn) AS BIGINT) AS n,
              round(CAST(sum(nn * (2 * tp - np)) AS DOUBLE)
                    / (2.0 * CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)),
                    6) AS auc
       FROM curve"""

  val prCurveSql: String =
    rocBaseSql + """, tot AS (SELECT CAST(sum(np) AS BIGINT) AS p FROM perc)
       SELECT cents AS threshold, tp, fp,
              round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
              round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6) AS recall
       FROM curve, tot"""

  val avgPrecisionSql: String =
    rocBaseSql + """, q AS (
         SELECT np,
                CAST((CAST(np AS DOUBLE) * tp / CAST(tp + fp AS DOUBLE) * 1e12)
                     - (CAST(np AS DOUBLE) * tp / CAST(tp + fp AS DOUBLE) * 1e12) % 1.0
                  AS DECIMAL(38,0)) AS qt
         FROM curve
       )
       SELECT CAST(sum(np) AS BIGINT) AS p,
              round((CAST(sum(qt) AS DOUBLE) / 1e12) / CAST(sum(np) AS DOUBLE), 6)
                AS avg_precision
       FROM q"""

  /** Kolmogorov–Smirnov statistic between the positive and negative
    * score distributions — the classic separation measure next to
    * [[rocAuc]]: KS = max over thresholds of |TPR − FPR|, computed as
    * the EXACT integer max of |tp·N − fp·P| over the shared
    * [[rocBase]] curve (decimal(38,0) against i64 overflow at
    * web-scale counts), divided once at the end. The argmax threshold
    * ties break to the smallest score via a (d, −threshold) struct
    * max — a partial aggregate, no ordering pass.
    */
  def ksStatistic(s: SparkSession, dir: String): DataFrame = {
    val base = Reuse.pin(rocBase(s, dir))
    val tot = base.agg(sum(col("np")).as("p"), sum(col("nn")).as("n"))
    base
      .crossJoin(broadcast(tot))
      .select(
        col("p"),
        col("n"),
        abs(
          col("tp").cast("decimal(38,0)") * col("n") -
            col("fp").cast("decimal(38,0)") * col("p")).as("d"),
        (lit(0L) - col("cents")).as("negc"))
      .groupBy(col("p"), col("n"))
      .agg(max(struct(col("d"), col("negc"))).as("m"))
      .select(
        col("p"),
        col("n"),
        round(
          col("m.d").cast("double") /
            (col("p").cast("double") * col("n").cast("double")),
          6).as("ks_stat"),
        (lit(0L) - col("m.negc")).as("ks_threshold"))
  }

  val ksStatisticSql: String =
    rocBaseSql + """, tot AS (SELECT CAST(sum(np) AS BIGINT) AS p,
                                     CAST(sum(nn) AS BIGINT) AS n FROM perc),
       dd AS (
         SELECT p, n,
                abs(CAST(tp AS HUGEINT) * n - CAST(fp AS HUGEINT) * p) AS d,
                cents
         FROM curve, tot)
       SELECT p, n,
              round(CAST(max(d) AS DOUBLE)
                    / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS ks_stat,
              CAST(first(cents ORDER BY d DESC, cents) AS BIGINT) AS ks_threshold
       FROM dd GROUP BY p, n"""

  /** Post-stratified average treatment effect — the third leg of the
    * causal family ([[cuped]] variance reduction, [[diffInDiff]]
    * trends): stratify users by an activity covariate (total event
    * count, 20-wide buckets), take the per-stratum treated-vs-control
    * spend difference from EXACT cent/count sums, and weight by the
    * stratum's population share over the strata where both arms are
    * observed. The stratum table is an activity-bounded statistic, so
    * the final weighted fold runs ordered (by bucket) over a bounded
    * list — identical tree both engines; everything data-sized is one
    * per-user aggregate + one bucket aggregate.
    */
  def poststratAte(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
      .withColumn("arm", expr(md5Bucket("cast(user_id as string)", 2)).cast("int"))
      .withColumn("b", expr("n_ev div 20"))
    val strata = Reuse.pin(
      perUser
        .groupBy(col("b"))
        .agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("st"),
          sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("sc"))
        .filter(col("nt") > 0 && col("nc") > 0))
    val naiveAndN = perUser.agg(
      count(lit(1)).as("n_users"),
      (sum(when(col("arm") === 1, col("cents")).otherwise(0L)).cast("double") /
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("double") -
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).cast("double") /
          sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("double")).as("naive"))
    val ate = strata
      .select(
        col("b"),
        ((col("nt") + col("nc")).cast("double")).as("w"),
        (col("st").cast("double") / col("nt").cast("double") -
          col("sc").cast("double") / col("nc").cast("double")).as("diff"))
      .agg(
        count(lit(1)).as("n_strata"),
        expr("aggregate(array_sort(collect_list(struct(b, w * diff as t))), 0.0D, (a, x) -> a + x.t)")
          .as("wsum"),
        expr("aggregate(array_sort(collect_list(struct(b, w as t))), 0.0D, (a, x) -> a + x.t)")
          .as("wtot"))
    ate
      .crossJoin(naiveAndN)
      .select(
        col("n_users"),
        col("n_strata"),
        round(col("naive") / lit(100.0), 6).as("naive_diff"),
        round(col("wsum") / col("wtot") / lit(100.0), 6).as("ate"))
  }

  val poststratAteSql: String = {
    val arm = md5BucketSql("CAST(user_id AS VARCHAR)", 2)
    s"""WITH pu AS (
         SELECT user_id, count(*) AS n_ev,
                CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS cents,
                CAST($arm AS INT) AS arm
         FROM events GROUP BY 1),
       pb AS (SELECT *, n_ev // 20 AS b FROM pu),
       strata AS (
         SELECT b,
                CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS st,
                CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS sc
         FROM pb GROUP BY 1
         HAVING sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
            AND sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0),
       terms AS (
         SELECT b, CAST(nt + nc AS DOUBLE) AS w,
                CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                  - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS diff
         FROM strata),
       folds AS (
         SELECT count(*) AS n_strata,
                list_reduce(list_prepend(0.0, list(w * diff ORDER BY b)),
                            (a, x) -> a + x) AS wsum,
                list_reduce(list_prepend(0.0, list(w ORDER BY b)),
                            (a, x) -> a + x) AS wtot
         FROM terms),
       naive AS (
         SELECT count(*) AS n_users,
                CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS DOUBLE)
                  / CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                - CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS DOUBLE)
                  / CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nv
         FROM pb)
       SELECT n_users, n_strata,
              round(nv / 100.0, 6) AS naive_diff,
              round(wsum / wtot / 100.0, 6) AS ate
       FROM folds, naive"""
  }

  // --------------------------------------------------------------------
  // q_logreg_train — distributed logistic-regression trainer
  // --------------------------------------------------------------------

  /** Distributed logistic-regression training by full-batch gradient
    * descent — the quality-classifier trainer of a curation pipeline
    * (fastText-style doc filters), expressed Spark-first: each
    * iteration is ONE partial-aggregated pass computing the gradient
    * sums, with a single 3-double row collected to the driver per
    * round (the BPE scalar-per-round discipline); the feature table is
    * persisted once. Features here are document statistics
    * (tokens/100, distinct-token ratio) against a learnable
    * length-flag label (n_chars ≥ 300 — balanced ~50/50 at every
    * fixture scale, converging to ~97% train accuracy in
    * [[LrIters]] = 10 rounds at η = [[LrEta]]); the trainer is
    * feature- and label-agnostic — swap in model scores or human
    * labels without touching the loop.
    *
    * Cross-engine exactness (the full-replay oracle): per-row gradient
    * terms (σ(w·x) − y)·xⱼ quantize to ⌊t·10¹²⌋ longs summed as
    * decimal(38,0), so every iteration's gradient is an
    * order-independent EXACT integer; the driver's weight update
    * replicates the oracle's double expression bit for bit, so the
    * unrolled [[LrIters]]-stage CTE chain in DuckDB reproduces the
    * identical weight trajectory, final weights, and accuracy count.
    * Scale: gradients partial-agg map-side; driver traffic is 3
    * doubles per round; at 100 TB the same loop runs with the feature
    * scan cached and nothing else changes.
    */
  val LrIters = 10
  val LrEta = 4.0

  /** The shared feature projection (with `source` riding along for the
    * filter consumer) — one persisted scan feeds the whole loop.
    */
  private def logregFeatures(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ", -1)
    Reuse.pin(
      Tables
        .documents(s, dir)
        .select(
          col("source"),
          (size(toks).cast("double") / lit(100.0)).as("x1"),
          (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("x2"),
          when(col("n_chars") >= 300, lit(1.0)).otherwise(lit(0.0)).as("y")))
  }

  /** The GD loop shared by [[logregTrain]] and [[qualityFilter]]. */
  private def trainLogregWeights(feat: DataFrame): Array[Double] = {
    val nD = feat.count().toDouble
    var w = Array(0.0, 0.0, 0.0)
    for (_ <- 0 until LrIters) {
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      val sig = lit(1.0) / (lit(1.0) + exp(-z))
      val g = feat
        // q-domain note (Quantize): |sig − y| ≤ 1 and x1 = tokens/100,
        // so the ×1e12 gradient terms stay below 2⁶³ unless a SINGLE
        // document holds ≥ 9.2e8 tokens — a per-row bound, not one that
        // grows with corpus size; the sums are decimal(38,0) already
        .agg(
          sum(floor((sig - col("y")) * lit(1.0) * lit(1e12)).cast("decimal(38,0)"))
            .as("s0"),
          sum(floor((sig - col("y")) * col("x1") * lit(1e12)).cast("decimal(38,0)"))
            .as("s1"),
          sum(floor((sig - col("y")) * col("x2") * lit(1e12)).cast("decimal(38,0)"))
            .as("s2"))
        .collect()(0)
      // exact driver replica of the oracle's update expression:
      // w' = w − η·((S/1e12)/n), all IEEE double ops in the same shape
      def upd(j: Int, col: Int): Double =
        w(j) - LrEta * ((g.getDecimal(col).doubleValue() / 1e12) / nD)
      w = Array(upd(0, 0), upd(1, 1), upd(2, 2))
    }
    w
  }

  def logregTrain(s: SparkSession, dir: String): DataFrame = {
    val feat = logregFeatures(s, dir)
    val w = trainLogregWeights(feat)
    val zF = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
    feat
      .agg(
        count(lit(1)).as("n"),
        sum(when((zF > 0) === (col("y") === lit(1.0)), 1L).otherwise(0L))
          .as("n_correct"))
      .select(
        col("n"),
        col("n_correct"),
        round(lit(w(0)), 6).as("w0"),
        round(lit(w(1)), 6).as("w1"),
        round(lit(w(2)), 6).as("w2"))
  }

  /** The shared oracle CTE chain `feat .. w{LrIters}` — the ONE SQL
    * mirror of [[logregFeatures]] + [[trainLogregWeights]]: one
    * gradient CTE + one weight CTE per iteration, each expression the
    * exact double/quantized-integer shape of the Spark trainer, so the
    * weight trajectory matches bit for bit (1.0 literals CAST to
    * DOUBLE — DuckDB's bare 1.0 is DECIMAL). Consumed by both
    * [[logregTrainSql]] and [[qualityFilterSql]].
    */
  private def logregCtesSql: String = {
    val one = "CAST(1.0 AS DOUBLE)"
    val sb = new StringBuilder
    sb.append(s"""feat AS (
         SELECT source,
                CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x1,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
                CASE WHEN n_chars >= 300 THEN $one ELSE CAST(0.0 AS DOUBLE) END AS y
         FROM documents
       ), nn AS (SELECT count(*) AS n FROM feat),
       w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b,
                     CAST(0.0 AS DOUBLE) AS c)""")
    for (i <- 1 to LrIters) {
      val sig = s"($one / ($one + exp(-(a + b*x1 + c*x2))))"
      sb.append(s""",
       g$i AS (
         SELECT a, b, c, n,
           CAST(sum(CAST(floor(($sig - y) * $one * 1e12) AS BIGINT)) AS BIGINT) AS s0,
           CAST(sum(CAST(floor(($sig - y) * x1 * 1e12) AS BIGINT)) AS BIGINT) AS s1,
           CAST(sum(CAST(floor(($sig - y) * x2 * 1e12) AS BIGINT)) AS BIGINT) AS s2
         FROM feat, w${i - 1}, nn GROUP BY a, b, c, n
       ),
       w$i AS (
         SELECT a - $LrEta * ((CAST(s0 AS DOUBLE) / 1e12) / n) AS a,
                b - $LrEta * ((CAST(s1 AS DOUBLE) / 1e12) / n) AS b,
                c - $LrEta * ((CAST(s2 AS DOUBLE) / 1e12) / n) AS c
         FROM g$i
       )""")
    }
    sb.toString
  }

  /** DuckDB oracle for [[logregTrain]]: the [[logregCtesSql]] replay
    * chain + the final weights/accuracy projection.
    */
  def logregTrainSql: String = {
    val one = "CAST(1.0 AS DOUBLE)"
    s"""WITH $logregCtesSql
       SELECT count(*) AS n,
              CAST(sum(CASE WHEN ((a + b*x1 + c*x2) > 0) = (y = $one)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
              round(a, 6) AS w0, round(b, 6) AS w1, round(c, 6) AS w2
       FROM feat, w$LrIters
       GROUP BY a, b, c"""
  }

  // --------------------------------------------------------------------
  // q_quality_filter — the trained classifier CONSUMED as a curation stage
  // --------------------------------------------------------------------

  /** The trainer composed into the curation surface: train the
    * [[logregTrain]] quality model, then score every document and
    * report the per-source keep/drop split — the "train a fastText-ish
    * filter, then run it over the corpus" loop of a real data
    * pipeline, end to end. Decision boundary: keep iff w·x > 0
    * (σ > ½). Output per source: document count, kept count, and the
    * kept rate — a single division of exact longs.
    *
    * Scale: the training loop is [[trainLogregWeights]] (one
    * partial-agg pass + 3 doubles per round); scoring is a pure map
    * with the weights as literals; the report is one partial-agg
    * groupBy on the low-cardinality source key. The oracle reuses the
    * trainer's replay chain verbatim, so the filter verdicts inherit
    * its bit-exactness.
    */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val feat = logregFeatures(s, dir)
    val w = trainLogregWeights(feat)
    val zF = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
    feat
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(zF > 0, 1L).otherwise(0L)).as("n_kept"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("keep_rate"))
  }

  val qualityFilterSql: String =
    s"""WITH $logregCtesSql
       SELECT source, count(*) AS n_docs,
              CAST(sum(CASE WHEN (a + b*x1 + c*x2) > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              round(CAST(sum(CASE WHEN (a + b*x1 + c*x2) > 0 THEN 1 ELSE 0 END)
                         AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS keep_rate
       FROM feat, w$LrIters
       GROUP BY source, a, b, c"""

  // --------------------------------------------------------------------
  // q_gbm_stumps — gradient-boosted decision stumps
  // --------------------------------------------------------------------

  /** Gradient-boosted decision stumps (squared loss — boosting =
    * iterative residual fitting): [[GbmRounds]] rounds, each finding
    * the best single split over the quantized feature candidates by
    * variance reduction, entirely distributed — one pass builds the
    * per-(feature, candidate) count/residual-sum table (partial-agg,
    * bounded by the quantized feature domains), prefix sums over it
    * yield every split's gain, and ONE best-split row comes back to
    * the driver per round (the BPE/[[logregTrain]] scalar-per-round
    * discipline). The model state (stump list) lives on the driver and
    * re-enters each round as literals in the residual expression.
    *
    * Cross-engine exactness (full-replay oracle): labels and
    * predictions live in exact MICRO-UNITS (longs); leaf values
    * quantize via ⌊mean + ½⌋ (floor is unambiguous — `round()`'s
    * half-away vs half-even semantics differ across engines); split
    * gains are doubles computed from identical exact longs with the
    * identical expression tree, so the per-round argmax (tie-broken by
    * (gain, feature, threshold)) picks the identical split in both
    * engines. The oracle unrolls the whole training as chained CTEs —
    * identical stump sequence, leaves, and final accuracy. Converges
    * to ~99% train accuracy on the learnable length-flag label; the
    * trainer is feature/label-agnostic like [[logregTrain]].
    */
  val GbmRounds = 4

  def gbmStumps(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ", -1)
    val feat = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(
          size(toks).cast("long").as("xq1"),
          floor(
            size(array_distinct(toks)).cast("double") / size(toks).cast("double") *
              lit(100)).as("xq2"),
          when(col("n_chars") >= 300, 1000000L).otherwise(0L).as("yq")))
    val base = feat.agg(count(lit(1)).as("n"), sum(col("yq")).as("syq")).collect()(0)
    val n = base.getLong(0)
    val f0 = math.floor(base.getLong(1).toDouble / n + 0.5).toLong
    var stumps = Vector.empty[(Int, Long, Long, Long)]
    def pred: Column =
      stumps.foldLeft(lit(f0)) { case (acc, (j, thr, lq, rq)) =>
        acc + when(col(s"xq$j") <= thr, lit(lq)).otherwise(lit(rq))
      }
    for (_ <- 0 until GbmRounds) {
      val rr = feat.select(col("xq1"), col("xq2"), (col("yq") - pred).as("rq"))
      def cand(j: Int) = rr
        .groupBy(col(s"xq$j").as("v"))
        .agg(count(lit(1)).as("c"), sum(col("rq")).as("s"))
        .select(lit(j).as("j"), col("v"), col("c"), col("s"))
      val c = cand(1).unionByName(cand(2))
      val wPre = Window.partitionBy(col("j")).orderBy(col("v"))
      val wTot = Window.partitionBy(col("j"))
      val pre = c
        .withColumn("nl", sum(col("c")).over(wPre))
        .withColumn("sl", sum(col("s")).over(wPre))
        .withColumn("nt", sum(col("c")).over(wTot))
        .withColumn("st", sum(col("s")).over(wTot))
        .filter(col("nl") < col("nt"))
      val sld = col("sl").cast("double")
      val srd = (col("st") - col("sl")).cast("double")
      val std = col("st").cast("double")
      val best = pre
        .withColumn(
          "gain",
          sld * sld / col("nl") + srd * srd / (col("nt") - col("nl")) -
            std * std / col("nt"))
        .orderBy(col("gain").desc, col("j"), col("v"))
        .limit(1)
        .select(col("j"), col("v"), col("nl"), col("sl"), col("nt"), col("st"))
        .collect()(0)
      val (nl, sl, nt, st) = (best.getLong(2), best.getLong(3), best.getLong(4), best.getLong(5))
      stumps :+= ((
        best.getInt(0),
        best.getLong(1),
        math.floor(sl.toDouble / nl + 0.5).toLong,
        math.floor((st - sl).toDouble / (nt - nl) + 0.5).toLong))
    }
    val stumpRows = stumps.zipWithIndex.map { case ((j, thr, lq, rq), i) =>
      Seq(lit(i + 1).as("round"), lit(j).as("feature"), lit(thr).as("threshold"),
        lit(lq).as("left_leaf"), lit(rq).as("right_leaf"))
    }
    val acc = feat.agg(
      count(lit(1)).as("n"),
      sum(when((pred > 500000L) === (col("yq") === 1000000L), 1L).otherwise(0L))
        .as("n_correct"))
    val stumpDf = stumpRows
      .map(cols => s.range(1).select(cols: _*))
      .reduce(_ unionByName _)
    stumpDf.crossJoin(broadcast(acc))
  }

  /** DuckDB oracle for [[gbmStumps]]: the full training unrolled — one
    * candidate/prefix/gain/best CTE block per round, the residual
    * expression rebuilt from the previous best CTEs, identical micro-
    * unit and double expression shapes throughout.
    */
  def gbmStumpsSql: String = {
    val sb = new StringBuilder
    sb.append("""WITH feat AS (
         SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS xq1,
                CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) * 100) AS BIGINT) AS xq2,
                CASE WHEN n_chars >= 300 THEN 1000000 ELSE 0 END AS yq
         FROM documents
       ), nn AS (SELECT count(*) AS n FROM feat),
       f0 AS (SELECT CAST(floor(CAST(sum(yq) AS DOUBLE) / n + 0.5) AS BIGINT) AS f
              FROM feat, nn GROUP BY n)""")
    def predExpr(t: Int): String =
      (1 until t).foldLeft("f") { (acc, k) =>
        acc + s" + (CASE WHEN (CASE WHEN j_$k = 1 THEN xq1 ELSE xq2 END) <= v_$k" +
          s" THEN lq_$k ELSE rq_$k END)"
      }
    def bests(t: Int): String = (1 until t).map(k => s", best_$k").mkString
    for (t <- 1 to GbmRounds) {
      sb.append(s""",
       rr_$t AS (SELECT xq1, xq2, yq - (${predExpr(t)}) AS rq
                 FROM feat, f0${bests(t)}),
       c_$t AS (
         SELECT 1 AS j, xq1 AS v, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(rq) AS BIGINT) AS s FROM rr_$t GROUP BY xq1
         UNION ALL
         SELECT 2 AS j, xq2 AS v, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(rq) AS BIGINT) AS s FROM rr_$t GROUP BY xq2
       ),
       pre_$t AS (
         SELECT j, v,
                CAST(sum(c) OVER (PARTITION BY j ORDER BY v) AS BIGINT) AS nl,
                CAST(sum(s) OVER (PARTITION BY j ORDER BY v) AS BIGINT) AS sl,
                CAST(sum(c) OVER (PARTITION BY j) AS BIGINT) AS nt,
                CAST(sum(s) OVER (PARTITION BY j) AS BIGINT) AS st
         FROM c_$t
       ),
       best_$t AS (
         SELECT j AS j_$t, v AS v_$t, nl AS nl_$t, nt AS nt_$t,
                CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS lq_$t,
                CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS rq_$t
         FROM (SELECT *,
                 CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
                 + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (nt - nl)
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt AS gain
               FROM pre_$t WHERE nl < nt)
         ORDER BY gain DESC, j, v LIMIT 1
       )""")
    }
    val allBests = (1 to GbmRounds).map(k => s"best_$k").mkString(", ")
    sb.append(s""",
       accq AS (
         SELECT count(*) AS n,
                CAST(sum(CASE WHEN ((${predExpr(GbmRounds + 1)}) > 500000)
                               = (yq = 1000000)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         FROM feat, f0, $allBests
       ),
       sel AS (""")
    sb.append((1 to GbmRounds).map { t =>
      s"""SELECT CAST($t AS INT) AS round, CAST(j_$t AS INT) AS feature,
              v_$t AS threshold, lq_$t AS left_leaf, rq_$t AS right_leaf
          FROM best_$t"""
    }.mkString("\n          UNION ALL\n          "))
    sb.append(""")
       SELECT round, feature, threshold, left_leaf, right_leaf, n, n_correct
       FROM sel, accq""")
    sb.toString
  }

  // --------------------------------------------------------------------
  // q_negative_sampling — deterministic hash negatives for contrastive training
  // --------------------------------------------------------------------

  /** Contrastive-training negative sampling: for every user with
    * purchase history, draw 8 candidate items by seeded hash (md5 of
    * user:slot — reproducible across runs, engines, and retries, the
    * property a training pipeline needs for resumable epochs), then
    * drop candidates that collide with the user's positives. Output per
    * user: positives, kept negatives, and the collision count — the
    * accept-rate curve that tells you when to switch from rejection to
    * exclusion sampling.
    *
    * Scale design: the item catalog (indexed brands) is a broadcast
    * dimension; candidate generation is pure hash arithmetic exploded 8×
    * per user; the positive-collision check is a keyed LEFT join on
    * (user, item) against the distinct positives — no sort, no window
    * over user histories.
    */
  def negativeSampling(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val pos = Reuse.pin(
      Tables
        .orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("custkey"), col("p_brand").as("item"))
        .distinct())
    val catalog = broadcast(
      Tables
        .part(s, dir)
        .select(col("p_brand")).distinct()
        .withColumn(
          "idx",
          row_number().over(Window.orderBy(col("p_brand"))).cast("long") - 1))
    // The hash modulus is the DECLARED catalog size, not a runtime
    // count: [[negativeSamplingSql]] is a static oracle string that
    // must use the same literal (the repo's deriveDataOracles path
    // exists for data-dependent constants; a silently data-dependent
    // modulus inside a static oracle would mis-assign candidates on
    // any catalog of a different size). Fail closed if the data drifts.
    val nItems = catalog.count()
    require(
      nItems == NegCatalogSize,
      s"negativeSampling: catalog has $nItems items but the static oracle is " +
        s"derived for $NegCatalogSize — regenerate the oracle (or move it to " +
        "deriveDataOracles) before trusting results on this data")
    val cand = pos
      .select(col("custkey")).distinct()
      .select(col("custkey"), explode(sequence(lit(0), lit(k - 1))).as("slot"))
      .withColumn(
        "idx",
        expr(s"${md5Bucket("concat(cast(custkey as string), ':', cast(slot as string))", NegCatalogSize)}"))
      .join(catalog, "idx")
      .select(col("custkey"), col("slot"), col("p_brand").as("item"))
    cand
      .join(pos.withColumn("is_pos", lit(1)), Seq("custkey", "item"), "left")
      .groupBy(col("custkey"))
      .agg(
        sum(when(col("is_pos").isNull, 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("is_pos").isNull, 0L).otherwise(1L)).as("n_collisions"))
      .join(pos.groupBy(col("custkey")).agg(count(lit(1)).as("n_pos")), "custkey")
      .select(col("custkey"), col("n_pos"), col("n_neg"), col("n_collisions"))
  }

  /** Oracle SQL, parameterized on the same `k` as [[negativeSampling]]
    * (ADVICE r9); the catalog-size modulus stays the declared constant,
    * guarded by the require in the operator.
    */
  def negativeSamplingSql(k: Int = 8): String = {
    val idx = md5BucketSql(
      "concat(CAST(u.custkey AS VARCHAR), ':', CAST(r.slot AS VARCHAR))",
      NegCatalogSize)
    s"""WITH pos AS (
         SELECT DISTINCT o_custkey AS custkey, p_brand AS item
         FROM orders
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN part ON l_partkey = p_partkey
       ), catalog AS (
         SELECT p_brand, row_number() OVER (ORDER BY p_brand) - 1 AS idx
         FROM (SELECT DISTINCT p_brand FROM part)
       ), cand AS (
         SELECT u.custkey, r.slot, c.p_brand AS item
         FROM (SELECT DISTINCT custkey FROM pos) u
         CROSS JOIN range($k) r(slot)
         JOIN catalog c ON c.idx = $idx
       ), pc AS (SELECT custkey, count(*) AS n_pos FROM pos GROUP BY 1),
       agg AS (
         SELECT cand.custkey,
                CAST(sum(CASE WHEN p.item IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
                CAST(sum(CASE WHEN p.item IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_collisions
         FROM cand
         LEFT JOIN pos p ON p.custkey = cand.custkey AND p.item = cand.item
         GROUP BY 1
       )
       SELECT agg.custkey, n_pos, n_neg, n_collisions
       FROM agg JOIN pc ON pc.custkey = agg.custkey"""
  }

  // --------------------------------------------------------------------
  // q_calibration_bins — reliability diagram / expected calibration error
  // --------------------------------------------------------------------

  /** Model-calibration audit (reliability diagram): scores binned into
    * deciles, each bin reporting mean predicted score vs observed
    * positive rate plus its weighted ECE contribution — Σ over bins is
    * the expected calibration error. Here the pseudo-score is
    * value/500 with label event_type = 'purchase' (the synthetic stand
    * -in for a model-score column; the operator shape is score-source
    * agnostic).
    *
    * Scale design: single scan, one partial-aggregated shuffle keyed by
    * the 10-value bin domain. Mean scores come from exact integer cent
    * sums, so every output double is bit-reproducible.
    */
  def calibrationBins(s: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    // the score domain is cents/50000 ∈ [0, 1]; the bin width DERIVES
    // from nBins (ADVICE r9 — a hardcoded `div 5000` silently misbinned
    // any non-default nBins). Exact-integer binning needs an integral
    // width, so nBins must divide the 50000-cent domain.
    require(
      50000 % nBins == 0,
      s"calibrationBins: nBins=$nBins must divide the 50000-cent score domain")
    val width = 50000L / nBins
    val ev = Tables
      .events(s, dir)
      .select(
        round(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      .withColumn(
        "bin",
        // greatest(0, ·) clamp (the driftPsi convention): without it a
        // negative amount diverges across engines — Spark `div`
        // truncates toward zero (bin 0) while DuckDB `//` floors
        // (bin −1); clamped, both land in bin 0
        least(lit(nBins - 1), greatest(lit(0L), expr(s"cents div $width"))).cast("int"))
    val tot = ev.agg(count(lit(1)).as("n_total"))
    ev.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"), sum(col("label")).as("n_pos"))
      .crossJoin(broadcast(tot))
      .select(
        col("bin"),
        col("n"),
        col("n_pos"),
        round(col("sc") / 50000.0 / col("n"), 6).as("mean_score"),
        round(col("n_pos") / col("n").cast("double"), 6).as("pos_rate"),
        round(
          abs(col("n_pos") / col("n").cast("double") - col("sc") / 50000.0 / col("n")) *
            col("n") / col("n_total"),
          6).as("ece_term"))
  }

  /** Oracle SQL, parameterized on the same `nBins` as
    * [[calibrationBins]] with the identically derived width (ADVICE r9).
    */
  def calibrationBinsSql(nBins: Int = 10): String = {
    require(50000 % nBins == 0, s"nBins=$nBins must divide 50000")
    val width = 50000L / nBins
    s"""WITH ev AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
         FROM events
       ), b AS (
         SELECT least(${nBins - 1}, greatest(0, cents // $width)) AS bin, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS sc,
                CAST(sum(label) AS BIGINT) AS n_pos
         FROM ev GROUP BY 1
       ), t AS (SELECT count(*) AS n_total FROM ev)
       SELECT CAST(bin AS INT) AS bin, n, n_pos,
              round(sc / 50000.0 / n, 6) AS mean_score,
              round(n_pos / CAST(n AS DOUBLE), 6) AS pos_rate,
              round(abs(n_pos / CAST(n AS DOUBLE) - sc / 50000.0 / n) * n / n_total, 6)
                AS ece_term
       FROM b, t"""
  }

  /** Chain depth for [[markovAttribution]] — conversion probability
    * within `MarkovSteps+1` transitions; both engines truncate at the
    * same horizon, so the unrolled oracle is exact.
    */
  private val MarkovSteps = 12

  /** Markov removal-effect attribution — the data-driven alternative to
    * first/last-touch ([[RelationalQueries.touchAttribution]]): model
    * each user's pre-purchase event sequence as a Markov chain
    * (start → channels → conversion/null), then credit each channel by
    * how much the start→conversion probability DROPS when that channel
    * is removed from the graph (its transitions lost, not
    * renormalized — the standard removal-effect definition).
    *
    * Scale split: transition COUNTING is the data-sized part and runs
    * as one distributed per-user ordered pass + a (src, dst) aggregate;
    * the chain arithmetic operates on the transition matrix, whose size
    * is bounded by the event-type vocabulary (a semantic constant —
    * ≤ 6×6 here), so it is collected and folded on the driver
    * (control-plane, same contract as the BPE argmax / codebook
    * collects). Determinism: every probability is an exact ratio of
    * counts, and every per-state sum folds in ascending target order —
    * the identical tree the oracle's `list_reduce(list(... ORDER BY
    * dst))` builds, so all `MarkovSteps` iterations agree bitwise.
    */
  def markovAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val paths = Tables
      .events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("event_id"), col("event_type")))).as("evs"))
      .select(
        expr("transform(evs, x -> x.event_type)").as("seq"))
      .select(
        expr("array_position(seq, 'purchase')").as("cut"),
        col("seq"))
      .select(
        expr("CASE WHEN cut > 0 THEN slice(seq, 1, cast(cut as int) - 1) ELSE seq END")
          .as("path"),
        (col("cut") > 0).as("converted"))
    val terminal = when(col("converted"), lit("conv")).otherwise(lit("null"))
    val startEdges = paths.select(
      lit("start").as("src"),
      coalesce(expr("get(path, 0)"), terminal).as("dst"))
    val innerEdges = paths
      // guard: Spark sequence(1, 0) counts DOWN — a 0/1-length path
      // must contribute no inner pairs, like DuckDB's empty range
      .filter(size(col("path")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(path) - 1), i -> struct(element_at(path, i) as a, element_at(path, i + 1) as b))"))
        .as("p"))
      .select(col("p.a").as("src"), col("p.b").as("dst"))
    val lastEdges = paths
      .filter(size(col("path")) > 0)
      .select(expr("element_at(path, -1)").as("src"), terminal.as("dst"))
    val counts = startEdges
      .unionByName(innerEdges)
      .unionByName(lastEdges)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // driver-side chain math on the bounded matrix — mirrors the
    // oracle's fold shapes exactly
    val srcTotals = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    def prob(src: String, dst: String): Double =
      counts.getOrElse(src -> dst, 0L).toDouble / srcTotals(src).toDouble
    def converge(removed: Option[String]): Double = {
      val edges = counts.keys.toSeq
        .filter { case (a, b) =>
          !removed.contains(a) && !removed.contains(b)
        }
        .sortBy(identity)
      val transientStates = edges.map(_._1).distinct
      var p = transientStates.map { st =>
        st -> prob(st, "conv")
      }.toMap
      for (_ <- 1 to MarkovSteps) {
        p = transientStates.map { st =>
          val terms = edges
            .filter { case (a, b) => a == st && b != "conv" && b != "null" && p.contains(b) }
            .sortBy(_._2)
            .map { case (a, b) => prob(a, b) * p(b) }
          st -> (prob(st, "conv") + terms.foldLeft(0.0)(_ + _))
        }.toMap
      }
      p.getOrElse("start", 0.0)
    }
    val base = converge(None)
    val channels = counts.keys.map(_._1).filter(c => c != "start").toSeq.distinct.sorted
    val effects = channels.map(ch => ch -> math.max(0.0, base - converge(Some(ch))))
    val total = effects.map(_._2).foldLeft(0.0)(_ + _)
    val rows = effects.map { case (ch, e) =>
      (ch, base, base - e, e, if (total == 0.0) 0.0 else e / total)
    }
    // all rounding through Spark round(): the established round-vs-round
    // parity pair with the DuckDB oracle
    rows
      .toDF("channel", "conv_full_raw", "conv_removed_raw", "effect_raw", "share_raw")
      .select(
        col("channel"),
        round(col("conv_full_raw"), 9).as("conv_full"),
        round(col("conv_removed_raw"), 9).as("conv_removed"),
        round(col("effect_raw"), 9).as("removal_effect"),
        round(col("share_raw"), 9).as("share"))
  }

  val markovAttributionSql: String = {
    // journeys → transition counts, then 5 chains (full + one per
    // removed channel) × MarkovSteps unrolled — the fold per state is
    // list_reduce over terms ordered by dst, the Scala tree's mirror
    def chain(tag: String, removedPred: String): String = {
      val steps = (1 to MarkovSteps).map { k =>
        s"""p${k}_$tag AS (
           SELECT st.state,
                  coalesce(cv.p, 0.0) + coalesce(f.s, 0.0) AS pv
           FROM states_$tag st
           LEFT JOIN (SELECT src AS state, p FROM edges_$tag WHERE dst = 'conv') cv
             ON st.state = cv.state
           LEFT JOIN (
             SELECT e.src AS state,
                    list_reduce(list_prepend(0.0,
                      list(e.p * pk.pv ORDER BY e.dst)), (a, b) -> a + b) AS s
             FROM edges_$tag e
             JOIN p${k - 1}_$tag pk ON e.dst = pk.state
             WHERE e.dst <> 'conv' AND e.dst <> 'null'
             GROUP BY e.src) f ON st.state = f.state)"""
      }.mkString(",\n       ")
      s"""edges_$tag AS (
           SELECT src, dst, p FROM edges WHERE NOT ($removedPred)),
         states_$tag AS (SELECT DISTINCT src AS state FROM edges_$tag),
         p0_$tag AS (
           SELECT st.state, coalesce(cv.p, 0.0) AS pv
           FROM states_$tag st
           LEFT JOIN (SELECT src AS state, p FROM edges_$tag WHERE dst = 'conv') cv
             ON st.state = cv.state),
         $steps"""
    }
    val channels = Seq("click", "error", "signup", "view")
    val chains =
      (chain("full", "FALSE") +: channels.map(c => chain(c, s"src = '$c' OR dst = '$c'")))
        .mkString(",\n       ")
    val effectRows = channels.map { c =>
      s"""SELECT '$c' AS channel,
             (SELECT pv FROM p${MarkovSteps}_full WHERE state = 'start') AS cf,
             (SELECT pv FROM p${MarkovSteps}_$c WHERE state = 'start') AS cr"""
    }.mkString("\n       UNION ALL ")
    s"""WITH j AS (
         SELECT list(event_type ORDER BY event_id) AS seq FROM events GROUP BY user_id),
       pth AS (
         -- coalesce: DuckDB list_position yields 0 (not NULL) for
         -- not-found on this build — match Spark's array_position 0
         SELECT CASE WHEN coalesce(idx, 0) > 0 THEN seq[1:idx - 1] ELSE seq END AS path,
                coalesce(idx, 0) > 0 AS converted
         FROM (SELECT seq, list_position(seq, 'purchase') AS idx FROM j)),
       tr AS (
         SELECT 'start' AS src,
                coalesce(path[1],
                         CASE WHEN converted THEN 'conv' ELSE 'null' END) AS dst
         FROM pth
         UNION ALL
         SELECT path[i] AS src, path[i + 1] AS dst
         FROM pth, UNNEST(range(1, len(path))) AS r(i)
         UNION ALL
         SELECT path[-1] AS src,
                CASE WHEN converted THEN 'conv' ELSE 'null' END AS dst
         FROM pth WHERE len(path) > 0),
       counts AS MATERIALIZED (SELECT src, dst, count(*) AS c FROM tr GROUP BY 1, 2),
       edges AS MATERIALIZED (
         -- MATERIALIZED is load-bearing at scale: every per-channel
         -- removal leg and every unrolled power-iteration step below
         -- references `edges`, and an inlined CTE would re-run the
         -- corpus-sized path pipeline once per reference — measured at
         -- sf1 as an exponential spill that exhausted 90 GB + disk.
         -- Materialized, the pipeline runs ONCE into a ~(channels+2)²
         -- edge table and the whole chain is in-memory trivial.
         SELECT src, dst,
                CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY src) AS DOUBLE) AS p
         FROM counts),
       $chains,
       eff AS (
         SELECT channel, cf, cr, CASE WHEN cf - cr > 0 THEN cf - cr ELSE 0.0 END AS e
         FROM ($effectRows)),
       tot AS (SELECT list_reduce(list_prepend(0.0, list(e ORDER BY channel)),
                                  (a, b) -> a + b) AS te FROM eff)
       SELECT channel,
              round(cf, 9) AS conv_full,
              round(cr, 9) AS conv_removed,
              round(e, 9) AS removal_effect,
              round(CASE WHEN te = 0 THEN 0.0 ELSE e / te END, 9) AS share
       FROM eff, tot"""
  }

  /** Shapley-value attribution — the order-free companion to
    * [[markovAttribution]]: channels are players, a user's coalition is
    * the SET of channels seen before first purchase, a coalition's
    * value v(S) is the conversion rate among users whose set is
    * CONTAINED in S (exact integer count ratios), and each channel's
    * credit is its Shapley value — the weighted average of its marginal
    * contribution v(S∪{c}) − v(S) over all 8 sub-coalitions.
    *
    * Scale split mirrors markov: per-user set derivation + the
    * 16-coalition count table are distributed; the Shapley fold runs on
    * the driver over the 2⁴-bounded table (channel vocabulary is a
    * semantic constant) in ascending-mask order — the identical tree
    * the oracle's `list_reduce(list(term ORDER BY mask))` builds.
    * Weights are written as the same division text (`6.0/24.0`,
    * `2.0/24.0`) on both engines.
    */
  def shapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val channels = Seq("click", "error", "signup", "view") // bit i = channels(i)
    val maskExpr = channels.zipWithIndex
      .map { case (c, i) =>
        s"(CASE WHEN array_contains(chs, '$c') THEN ${1 << i} ELSE 0 END)"
      }
      .mkString(" + ")
    val perUser = Tables
      .events(s, dir)
      // the attribution window: the campaign's first 48 hours — over
      // the full month EVERY user eventually purchases and the game is
      // degenerate (all marginals zero); the window restores variance
      .filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
      .select(col("user_id"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("event_id"), col("event_type")))).as("evs"))
      .select(expr("transform(evs, x -> x.event_type)").as("seq"))
      .select(
        expr("array_position(seq, 'purchase')").as("cut"),
        col("seq"))
      .select(
        expr("array_distinct(CASE WHEN cut > 0 THEN slice(seq, 1, cast(cut as int) - 1) ELSE seq END)")
          .as("chs"),
        (col("cut") > 0).as("converted"))
    val counts = perUser
      .select(expr(maskExpr).as("mask"), col("converted"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("n"), sum(when(col("converted"), 1L).otherwise(0L)).as("c"))
      .collect()
      .map(r => r.getAs[Int]("mask") -> ((r.getAs[Long]("n"), r.getAs[Long]("c"))))
      .toMap
    def v(mask: Int): Double = {
      // integer sums over contained NON-EMPTY coalitions — v(∅) ≡ 0:
      // instant purchasers (no channel touched) carry no marketing
      // signal, and including them makes every marginal negative
      var n = 0L; var c = 0L
      for (t <- 1 until 16 if (t & mask) == t) {
        val (tn, tc) = counts.getOrElse(t, (0L, 0L))
        n += tn; c += tc
      }
      if (n == 0L) 0.0 else c.toDouble / n.toDouble
    }
    val weights = Seq(6.0 / 24.0, 2.0 / 24.0, 2.0 / 24.0, 6.0 / 24.0)
    val shap = channels.zipWithIndex.map { case (ch, i) =>
      val bit = 1 << i
      val terms = (0 until 16)
        .filter(sMask => (sMask & bit) == 0)
        .sorted
        .map(sMask => weights(Integer.bitCount(sMask)) * (v(sMask | bit) - v(sMask)))
      ch -> terms.foldLeft(0.0)(_ + _)
    }
    val total = shap.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _)
    shap
      .map { case (ch, sv) =>
        (ch, v(15), sv, if (total == 0.0) 0.0 else sv / total)
      }
      .toDF("channel", "v_grand_raw", "shapley_raw", "share_raw")
      .select(
        col("channel"),
        round(col("v_grand_raw"), 9).as("v_grand"),
        round(col("shapley_raw"), 9).as("shapley"),
        round(col("share_raw"), 9).as("share"))
  }

  val shapleyAttributionSql: String = {
    val channels = Seq("click", "error", "signup", "view")
    val maskExpr = channels.zipWithIndex
      .map { case (c, i) =>
        s"(CASE WHEN list_contains(chs, '$c') THEN ${1 << i} ELSE 0 END)"
      }
      .mkString(" + ")
    val chanRows = channels.zipWithIndex
      .map { case (c, i) => s"('$c', ${1 << i})" }
      .mkString(", ")
    s"""WITH j AS (
         SELECT list(event_type ORDER BY event_id) AS seq FROM events
         WHERE ts < TIMESTAMP '2024-01-03 00:00:00' GROUP BY user_id),
       pu AS (
         SELECT list_distinct(CASE WHEN coalesce(idx, 0) > 0 THEN seq[1:idx - 1] ELSE seq END)
                  AS chs,
                coalesce(idx, 0) > 0 AS converted
         FROM (SELECT seq, list_position(seq, 'purchase') AS idx FROM j)),
       counts AS (
         SELECT $maskExpr AS mask, count(*) AS n,
                sum(CASE WHEN converted THEN 1 ELSE 0 END) AS c
         FROM pu GROUP BY 1),
       masks AS (SELECT CAST(m AS INT) AS mask FROM UNNEST(range(0, 16)) AS r(m)),
       vals AS (
         SELECT s.mask,
                CASE WHEN sum(coalesce(cn.n, 0)) = 0 THEN 0.0
                     ELSE CAST(sum(coalesce(cn.c, 0)) AS DOUBLE)
                          / CAST(sum(coalesce(cn.n, 0)) AS DOUBLE) END AS v
         FROM masks s
         LEFT JOIN masks t ON (t.mask & s.mask) = t.mask AND t.mask <> 0
         LEFT JOIN counts cn ON cn.mask = t.mask
         GROUP BY s.mask),
       chans AS (SELECT * FROM (VALUES $chanRows) c(channel, bit)),
       terms AS (
         SELECT ch.channel, s.mask,
                (CASE bit_count(CAST(s.mask AS BIGINT))
                   WHEN 0 THEN 6.0/24.0 WHEN 1 THEN 2.0/24.0
                   WHEN 2 THEN 2.0/24.0 ELSE 6.0/24.0 END)
                * (va.v - vs.v) AS term
         FROM chans ch
         JOIN masks s ON (s.mask & ch.bit) = 0
         JOIN vals vs ON vs.mask = s.mask
         JOIN vals va ON va.mask = (s.mask | ch.bit)),
       shap AS (
         SELECT channel,
                list_reduce(list_prepend(0.0, list(term ORDER BY mask)),
                            (a, b) -> a + b) AS sv
         FROM terms GROUP BY 1),
       tot AS (SELECT list_reduce(list_prepend(0.0, list(sv ORDER BY channel)),
                                  (a, b) -> a + b) AS ts FROM shap),
       grand AS (SELECT v AS vg FROM vals WHERE mask = 15)
       SELECT channel,
              round(vg, 9) AS v_grand,
              round(sv, 9) AS shapley,
              round(CASE WHEN ts = 0 THEN 0.0 ELSE sv / ts END, 9) AS share
       FROM shap, tot, grand"""
  }

  /** l-diversity audit — the companion to [[kAnonymity]]: a
    * quasi-identifier group is safe only if its SENSITIVE attribute
    * (the balance band here) takes at least `l` distinct values, else
    * group membership leaks the sensitive value even when the group is
    * k-large. Reports, per generalization level, the group count, the
    * l-violating groups, the rows at risk, and the worst (minimum)
    * diversity. Same one-aggregate-per-level shape as kAnonymity.
    */
  def lDiversity(s: SparkSession, dir: String, l: Int = 2): DataFrame = {
    val cust = Tables
      .customer(s, dir)
      .withColumn("sens", floor(col("c_acctbal") / 1000).cast("long"))
    def level(name: String, keys: Seq[org.apache.spark.sql.Column]): DataFrame =
      cust
        .groupBy(keys: _*)
        .agg(count(lit(1)).as("c"), countDistinct(col("sens")).as("ndist"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("ndist") < l, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("ndist") < l, col("c")).otherwise(0L)).as("n_at_risk"),
          min(col("ndist")).as("min_l"))
        .select(
          lit(name).as("level"),
          col("n_groups"),
          col("n_violating"),
          col("n_at_risk"),
          col("min_l"))
    level("nation+segment", Seq(col("c_nationkey"), col("c_mktsegment")))
      .unionAll(level("nation", Seq(col("c_nationkey"))))
      .unionAll(level("segment", Seq(col("c_mktsegment"))))
  }

  def lDiversitySql(l: Int = 2): String = {
    def one(name: String, keys: String) =
      s"""SELECT '$name' AS level, count(*) AS n_groups,
              CAST(sum(CASE WHEN ndist < $l THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
              CAST(sum(CASE WHEN ndist < $l THEN c ELSE 0 END) AS BIGINT) AS n_at_risk,
              CAST(min(ndist) AS BIGINT) AS min_l
         FROM (SELECT count(*) AS c,
                      count(DISTINCT floor(c_acctbal / 1000)) AS ndist
               FROM customer GROUP BY $keys)"""
    s"""${one("nation+segment", "c_nationkey, c_mktsegment")}
       UNION ALL ${one("nation", "c_nationkey")}
       UNION ALL ${one("segment", "c_mktsegment")}"""
  }

  /** Deterministic Poisson-style bootstrap: 32 hash-weighted resamples
    * of per-user purchase spend (weight = md5(user, b) mod 3 ∈
    * {0, 1, 2}, mean 1 — the deterministic stand-in for Poisson(1)
    * multiplicities, the standard scale-out bootstrap), each resample
    * mean an exact-cent ratio, and the 5th/95th percentile of the 32
    * resample means as the confidence band. One corpus scan fans out
    * ×B on the BOUNDED resample axis; everything after is B-sized.
    */
  private val BootstrapB = 32

  def hashBootstrap(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables
      .events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val resamples = perUser
      .withColumn("b", explode(expr(s"sequence(1, $BootstrapB)")))
      .withColumn(
        "w",
        expr(md5Bucket("concat(cast(user_id as string), ':', cast(b as string))", 3)))
      .groupBy(col("b"))
      .agg(
        sum(col("w") * col("cents")).as("wc"),
        sum(col("w")).as("wn"))
      .select(
        col("b"),
        (col("wc").cast("double") / col("wn").cast("double") / lit(100.0)).as("m"))
    resamples
      .agg(
        count(lit(1)).as("n_resamples"),
        // ordered fold, not avg(): 32 doubles summed in shuffle order
        // would be last-ulp nondeterministic
        expr("aggregate(array_sort(collect_list(m)), 0.0D, (a, x) -> a + x)").as("sm"),
        round(expr("percentile(m, 0.05)"), 6).as("ci_lo"),
        round(expr("percentile(m, 0.95)"), 6).as("ci_hi"))
      .select(
        col("n_resamples"),
        round(col("sm") / col("n_resamples").cast("double"), 6).as("boot_mean"),
        col("ci_lo"),
        col("ci_hi"))
  }

  val hashBootstrapSql: String = {
    val w = OracleHash.bucketSql(
      "CAST(user_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)", 3)
    s"""WITH pu AS (
         SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       rs AS (
         SELECT b,
                CAST(sum(w * cents) AS BIGINT) AS wc,
                CAST(sum(w) AS BIGINT) AS wn
         FROM (SELECT user_id, cents, b, $w AS w
               FROM pu, UNNEST(range(1, ${BootstrapB + 1})) AS r(b))
         GROUP BY 1),
       m AS (SELECT b, CAST(wc AS DOUBLE) / CAST(wn AS DOUBLE) / 100.0 AS m FROM rs)
       SELECT count(*) AS n_resamples,
              round(list_reduce(list_prepend(0.0, list_sort(list(m))), (a, x) -> a + x)
                    / CAST(count(*) AS DOUBLE), 6) AS boot_mean,
              round(quantile_cont(m, 0.05), 6) AS ci_lo,
              round(quantile_cont(m, 0.95), 6) AS ci_hi
       FROM m"""
  }

  /** Difference-in-differences: the causal-effect estimator for a
    * staggered rollout — treatment arm (md5 user bucket, the [[cuped]]
    * convention) vs control, purchase spend before vs after the
    * 2024-01-16 cutover. Four cell means from EXACT cent sums (one
    * map-side-combined aggregate over (arm, period)), the DiD contrast
    * computed once on the 4-row result: identical double shape both
    * engines. Scale: nothing beyond a 4-group aggregate ever shuffles.
    */
  def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(
        expr(md5Bucket("cast(user_id as string)", 2)).cast("int").as("arm"),
        (col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp")).as("post"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("arm"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      .withColumn("mean", col("sc").cast("double") / col("n").cast("double") / lit(100.0))
    val wide = cells
      .groupBy()
      .pivot(concat(col("arm"), when(col("post"), lit("_post")).otherwise(lit("_pre"))),
        Seq("0_pre", "0_post", "1_pre", "1_post"))
      .agg(first(col("mean")))
    wide.select(
      round(col("1_pre"), 6).as("mean_t_pre"),
      round(col("1_post"), 6).as("mean_t_post"),
      round(col("0_pre"), 6).as("mean_c_pre"),
      round(col("0_post"), 6).as("mean_c_post"),
      round(
        (col("1_post") - col("1_pre")) - (col("0_post") - col("0_pre")),
        6).as("did"))
  }

  val diffInDiffSql: String = {
    val arm = md5BucketSql("CAST(user_id AS VARCHAR)", 2)
    s"""WITH cells AS (
         SELECT CAST($arm AS INT) AS arm,
                ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1, 2
       ), m AS (
         SELECT arm, post, CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean
         FROM cells
       ), wide AS (
         SELECT
           max(CASE WHEN arm = 1 AND NOT post THEN mean END) AS t_pre,
           max(CASE WHEN arm = 1 AND post THEN mean END) AS t_post,
           max(CASE WHEN arm = 0 AND NOT post THEN mean END) AS c_pre,
           max(CASE WHEN arm = 0 AND post THEN mean END) AS c_post
         FROM m)
       SELECT round(t_pre, 6) AS mean_t_pre, round(t_post, 6) AS mean_t_post,
              round(c_pre, 6) AS mean_c_pre, round(c_post, 6) AS mean_c_post,
              round((t_post - t_pre) - (c_post - c_pre), 6) AS did
       FROM wide"""
  }

  /** Sequence-pattern mining (MATCH_RECOGNIZE-lite): each user's event
    * stream as an ordered initial-letter string (v/c/p/s/e, event_id
    * order), then LITERAL pattern counts via the length-difference
    * trick — `replace` is left-to-right non-overlapping in both engines
    * and carries none of the cross-engine regex-semantics risk (RE2
    * leftmost vs Java greedy). Counted here: the v→c→p conversion
    * shape and the e→p error-then-purchase shape. Scale: one per-user
    * fold, partitioned on the user key; string length is the user's
    * event count, the same bound as every per-user array in the repo.
    */
  def eventPattern(s: SparkSession, dir: String): DataFrame = {
    val seqs = Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("array_join(transform(array_sort(collect_list(struct(event_id, c))), x -> x.c), '')")
          .as("seq"))
    seqs.select(
      col("user_id"),
      col("n_events"),
      col("seq"),
      expr("CAST((length(seq) - length(replace(seq, 'vcp', ''))) / 3 AS BIGINT)")
        .as("n_conversions"),
      expr("CAST((length(seq) - length(replace(seq, 'ep', ''))) / 2 AS BIGINT)")
        .as("n_error_purchase"))
  }

  val eventPatternSql: String =
    """WITH seqs AS (
         SELECT user_id, count(*) AS n_events,
                string_agg(substr(event_type, 1, 1), '' ORDER BY event_id) AS seq
         FROM events GROUP BY 1)
       SELECT user_id, n_events, seq,
              CAST((length(seq) - length(replace(seq, 'vcp', ''))) / 3 AS BIGINT)
                AS n_conversions,
              CAST((length(seq) - length(replace(seq, 'ep', ''))) / 2 AS BIGINT)
                AS n_error_purchase
       FROM seqs"""
}
