package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Quantize.q6

/** Closed-form and collaborative learners beyond the iterative
  * gradient trainers ([[MiningQueries.logregTrain]] & co.): a
  * multinomial naive-Bayes text classifier (train on an md5 80% split,
  * classify the held-out 20%), rank-1 alternating least squares over
  * the (user × event_type) interaction matrix, and exact normal-
  * equation OLS. Each is exactly oracle-checkable:
  *
  *  - NB log-likelihoods are QUANTIZED (`floor(ln(p)·1e12)` BIGINT
  *    terms — the r10 quantized-sum trick) so per-document score sums
  *    are order-independent and the argmax can never flip on summation
  *    order.
  *  - ALS factors live on an integer 1e-3 grid: each half-step is
  *    `floor(1e6·Σ r·f / Σ f²)` in pure BIGINT floor division, so all
  *    four alternation rounds replay bit-exactly in the oracle's
  *    chained CTEs. (Production-scale note: the integer domain bounds
  *    the numerator at ~1e5× this SF; a web-scale deployment keeps
  *    double factors and accepts last-ulp nondeterminism — the
  *    quantized grid is the provable-exactness device, same
  *    disposition as the ordered-fold oracles, SCALE.md §floats.)
  *  - OLS accumulates the 9 Gram/moment sums exactly in BIGINT; the
  *    3×3 Cramer solve runs ONCE on the one-row aggregate, with the
  *    formula text SHARED between the Spark `selectExpr` and the
  *    DuckDB oracle so the double arithmetic is structurally identical
  *    (identical IEEE inputs + identical op order = identical bits).
  *
  * Scale: NB's fan-out is (doc-word counts × bounded language set)
  * with the language stats broadcast; ALS rounds are the canonical
  * join-aggregate alternation (ratings persisted once, factor tables
  * key-joined per half-step — the distributed ALS shape); OLS is one
  * map-side-combined aggregate over the fact table, one row out.
  */
object LearnQueries {

  // ------------------------------------------------------------------
  // q_naive_bayes — multinomial NB language classifier
  // ------------------------------------------------------------------

  private def bucket(col: String): String = OracleHash.bucketExpr(col, 10)
  private def bucketSql(col: String): String = OracleHash.bucketSql(col, 10)

  /** Train on md5-bucket < 8, classify the ≥ 8 holdout by argmax of
    * quantized Laplace-smoothed log-likelihood + log-prior.
    */
  def naiveBayes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(s, dir)
      .withColumn("bkt", expr(bucket("cast(doc_id as string)")))
    val train = docs.filter(col("bkt") < 8)
    val test = docs.filter(col("bkt") >= 8)
    val trainTok = train
      .select(col("lang"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
    // persisted (r17): cnts is the vocab-bounded (lang, word) count table
    // and feeds THREE consumers (lstat, the vocab scalar below, and the
    // scored join) — unpersisted, each consumer re-ran the train
    // tokenization (the final plan carried 6 documents scans, 3 of them
    // text-decoding).
    val cnts = Reuse.pin(trainTok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c")))
    // bounded per-language stats (languages are a semantic constant):
    // token totals, doc priors, and the global vocab/doc scalars
    val lstat = cnts.groupBy(col("lang")).agg(sum(col("c")).as("tl"))
    val prior = train.groupBy(col("lang")).agg(count(lit(1)).as("dl"))
    // v = distinct train words — derived from cnts (one row per
    // (lang, w)) instead of re-tokenizing the corpus a third time
    val scalars = cnts
      .agg(countDistinct(col("w")).as("v"))
      .crossJoin(train.agg(count(lit(1)).as("d")))
    val langDim = broadcast(
      lstat
        .join(prior, Seq("lang"))
        .crossJoin(scalars)
        .withColumn(
          "qprior",
          expr("cast(floor(ln(cast(dl as double) / cast(d as double)) * 1e12) as bigint)")))
    val docTok = test
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val scored = docTok
      .crossJoin(langDim)
      .join(
        cnts.select(col("lang").as("cl"), col("w").as("cw"), col("c")),
        col("cl") === col("lang") && col("cw") === col("w"),
        "left")
      .withColumn(
        "term",
        col("cnt") * expr(
          "cast(floor(ln(cast(coalesce(c, 0) + 1 as double) / cast(tl + v as double)) * 1e12) as bigint)"))
      .groupBy(col("doc_id"), col("lang"), col("qprior"))
      .agg(sum(col("term")).as("ll"))
      .withColumn("score", col("qprior") + col("ll"))
    val pred = scored
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("pred"))
    test
      .select(col("doc_id"), col("lang").as("actual"))
      .join(pred, Seq("doc_id"))
      .withColumn("correct", col("actual") === col("pred"))
  }

  val naiveBayesSql: String =
    s"""WITH b AS (SELECT doc_id, text, lang, ${bucketSql("CAST(doc_id AS VARCHAR)")} AS bkt
          FROM documents),
        train AS (SELECT * FROM b WHERE bkt < 8),
        test AS (SELECT * FROM b WHERE bkt >= 8),
        ttok AS (SELECT lang, w FROM
                   (SELECT lang, unnest(string_split(text, ' ')) AS w FROM train)
                 WHERE w <> ''),
        cnts AS (SELECT lang, w, count(*) AS c FROM ttok GROUP BY 1, 2),
        lstat AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM cnts GROUP BY 1),
        prior AS (SELECT lang, count(*) AS dl FROM train GROUP BY 1),
        scalars AS (SELECT (SELECT count(DISTINCT w) FROM ttok) AS v,
                           (SELECT count(*) FROM train) AS d),
        langdim AS (
          SELECT l.lang, tl, dl, v, d,
                 CAST(floor(ln(CAST(dl AS DOUBLE) / CAST(d AS DOUBLE)) * 1e12) AS BIGINT) AS qprior
          FROM lstat l JOIN prior p ON l.lang = p.lang CROSS JOIN scalars),
        dtok AS (SELECT doc_id, w, count(*) AS cnt FROM
                   (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test)
                 WHERE w <> '' GROUP BY 1, 2),
        scored AS (
          SELECT dt.doc_id, ld.lang, ld.qprior,
                 CAST(sum(dt.cnt *
                   CAST(floor(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE) /
                                 CAST(tl + v AS DOUBLE)) * 1e12) AS BIGINT)) AS BIGINT)
                 AS ll
          FROM dtok dt
          CROSS JOIN langdim ld
          LEFT JOIN cnts c ON c.lang = ld.lang AND c.w = dt.w
          GROUP BY 1, 2, 3),
        pred AS (
          SELECT doc_id, lang AS pred,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY qprior + ll DESC, lang) AS rk
          FROM scored)
        SELECT t.doc_id, t.lang AS actual, p.pred, t.lang = p.pred AS correct
        FROM test t JOIN pred p ON t.doc_id = p.doc_id AND p.rk = 1"""

  // ------------------------------------------------------------------
  // q_als_rank1 — alternating least squares on the integer 1e-3 grid
  // ------------------------------------------------------------------

  private val AlsRounds = 4

  /** Rank-1 ALS over ratings r(user, item) = interaction count; each
    * half-step is the exact closed form `f = Σ r·g / Σ g²` over the
    * OBSERVED entries, on the quantized grid (factors ×1000). Returns
    * both factor tables, tagged.
    */
  def alsRank1(s: SparkSession, dir: String): DataFrame = {
    val ratings = Reuse.pin(
      Tables
        .events(s, dir)
        .groupBy(col("user_id"), col("event_type").as("item"))
        .agg(count(lit(1)).as("r")))
    var v = ratings.select(col("item")).distinct().withColumn("vq", lit(1000L))
    var u: DataFrame = null
    for (_ <- 1 to AlsRounds) {
      u = ratings
        .join(v, Seq("item"))
        .groupBy(col("user_id"))
        .agg(expr("sum(r * vq) * 1000000 div sum(vq * vq)").as("uq"))
      v = ratings
        .join(u, Seq("user_id"))
        .groupBy(col("item"))
        .agg(expr("sum(r * uq) * 1000000 div sum(uq * uq)").as("vq"))
    }
    u.select(lit("user").as("kind"), col("user_id").cast("string").as("id"), col("uq").as("fq"))
      .unionByName(v.select(lit("item").as("kind"), col("item").as("id"), col("vq").as("fq")))
  }

  val alsRank1Sql: String = {
    val rounds = (1 to AlsRounds)
      .map { t =>
        val pv = if (t == 1) "v0" else s"v${t - 1}"
        s"""u$t AS (SELECT user_id,
              CAST(sum(r * vq) * 1000000 // sum(vq * vq) AS BIGINT) AS uq
            FROM ratings JOIN $pv USING (item) GROUP BY 1),
        v$t AS (SELECT item,
              CAST(sum(r * uq) * 1000000 // sum(uq * uq) AS BIGINT) AS vq
            FROM ratings JOIN u$t USING (user_id) GROUP BY 1)"""
      }
      .mkString(",\n        ")
    s"""WITH ratings AS (
          SELECT user_id, event_type AS item, count(*) AS r FROM events GROUP BY 1, 2),
        v0 AS (SELECT DISTINCT item, CAST(1000 AS BIGINT) AS vq FROM ratings),
        $rounds
        SELECT 'user' AS kind, CAST(user_id AS VARCHAR) AS id, uq AS fq FROM u$AlsRounds
        UNION ALL
        SELECT 'item' AS kind, item AS id, vq AS fq FROM v$AlsRounds"""
  }

  // ------------------------------------------------------------------
  // q_ols_regression — exact normal-equation OLS (2 features + intercept)
  // ------------------------------------------------------------------

  /** The Cramer solve over the one-row Gram aggregate — ONE shared
    * formula text for both engines. Symmetric normal matrix
    * [[a,b,c],[b,d,e],[c,e,f]], right-hand side [p,q,r].
    */
  private val OlsSolve: Seq[(String, String)] = Seq(
    "det" -> "a*(d*f - e*e) - b*(b*f - e*c) + c*(b*e - d*c)",
    "det0" -> "p*(d*f - e*e) - b*(q*f - e*r) + c*(q*e - d*r)",
    "det1" -> "a*(q*f - e*r) - p*(b*f - e*c) + c*(b*r - q*c)",
    "det2" -> "a*(d*r - q*e) - b*(b*r - q*c) + p*(b*e - d*c)")

  /** OLS of price cents on (quantity, discount-hundredths): exact
    * BIGINT moment sums (map-side combined, one row shuffles), then the
    * closed-form 3×3 solve in doubles built from those exact integers.
    */
  def olsRegression(s: SparkSession, dir: String): DataFrame = {
    val f = Tables
      .lineitem(s, dir)
      .select(
        col("l_quantity").cast("long").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
    val sums = f.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"),
      sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"))
    val doubles = sums.selectExpr(
      "n",
      "cast(n as double) as a",
      "cast(s1 as double) as b",
      "cast(s2 as double) as c",
      "cast(s11 as double) as d",
      "cast(s12 as double) as e",
      "cast(s22 as double) as f",
      "cast(sy as double) as p",
      "cast(s1y as double) as q",
      "cast(s2y as double) as r")
    val solved = OlsSolve.foldLeft(doubles) { case (df, (name, formula)) =>
      df.withColumn(name, expr(formula))
    }
    solved.selectExpr(
      "n",
      "round(det0 / det, 9) as beta0",
      "round(det1 / det, 9) as beta1",
      "round(det2 / det, 9) as beta2")
  }

  val olsRegressionSql: String = {
    val solve = OlsSolve.map { case (n, f) => s"$f AS $n" }.mkString(",\n                 ")
    s"""WITH feat AS (
          SELECT CAST(l_quantity AS BIGINT) AS x1,
                 CAST(round(l_discount * 100) AS BIGINT) AS x2,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem),
        sums AS (
          SELECT count(*) AS n,
                 CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
                 CAST(sum(x1*x1) AS BIGINT) AS s11, CAST(sum(x1*x2) AS BIGINT) AS s12,
                 CAST(sum(x2*x2) AS BIGINT) AS s22,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x1*y) AS BIGINT) AS s1y, CAST(sum(x2*y) AS BIGINT) AS s2y
          FROM feat),
        doubles AS (
          SELECT n,
                 CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b, CAST(s2 AS DOUBLE) AS c,
                 CAST(s11 AS DOUBLE) AS d, CAST(s12 AS DOUBLE) AS e, CAST(s22 AS DOUBLE) AS f,
                 CAST(sy AS DOUBLE) AS p, CAST(s1y AS DOUBLE) AS q, CAST(s2y AS DOUBLE) AS r
          FROM sums),
        solved AS (
          SELECT n,
                 $solve
          FROM doubles)
        SELECT n, round(det0 / det, 9) AS beta0,
               round(det1 / det, 9) AS beta1,
               round(det2 / det, 9) AS beta2
        FROM solved"""
  }

  // ------------------------------------------------------------------
  // q_info_gain — mutual-information feature ranking
  // ------------------------------------------------------------------

  /** Information gain IG(f) = H(label) − H(label | f) of three
    * categorical event features (4-hour bucket, day of week, user id
    * mod 8) for predicting `event_type = 'purchase'` — the feature-
    * selection screen a training pipeline runs before one-hot
    * explosion. Every probability is a ratio of exact BIGINT counts;
    * the per-value conditional-entropy terms are summed by a
    * value-ordered fold (float addition order fixed); the entropy
    * expression text is shared verbatim between engines.
    *
    * Scale: one stack + keyed aggregate over events (map-side combine
    * on (feature, value)); everything after runs on the ≤ 21-row cell
    * table. Spark `dayofweek` is 1-based Sunday-first; the DuckDB twin
    * is `dayofweek(ts) + 1`.
    */
  def infoGain(s: SparkSession, dir: String): DataFrame = {
    def h2(c0: String, c1: String, n: String): String = {
      def part(c: String) =
        s"""CASE WHEN $c > 0 THEN -(CAST($c AS DOUBLE) / CAST($n AS DOUBLE))
              * ln(CAST($c AS DOUBLE) / CAST($n AS DOUBLE)) ELSE 0.0 END"""
      s"(${part(c0)} + ${part(c1)})"
    }
    val feat = Tables
      .events(s, dir)
      .selectExpr(
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label",
        """stack(3,
             'hour4', CAST(hour(ts) AS BIGINT) div 4,
             'dow',   CAST(dayofweek(ts) AS BIGINT),
             'umod',  user_id % 8) AS (feature, v)""")
    val cell = feat
      .groupBy(col("feature"), col("v"))
      .agg(count(lit(1)).as("nv"), sum(col("label")).as("c1"))
      .withColumn("c0", col("nv") - col("c1"))
    val tot = cell.groupBy(col("feature")).agg(sum(col("nv")).as("n"), sum(col("c1")).as("t1"))
    val terms = cell
      .join(tot, "feature")
      .withColumn(
        "term",
        expr(s"(CAST(nv AS DOUBLE) / CAST(n AS DOUBLE)) * ${h2("c0", "c1", "nv")}"))
    terms
      .groupBy(col("feature"))
      .agg(
        count(lit(1)).as("n_values"),
        first(col("n")).as("n"),
        first(col("t1")).as("t1"),
        aggregate(array_sort(collect_list(col("term"))), lit(0.0), (acc, x) => acc + x)
          .as("h_cond"))
      .withColumn("h_label", expr(h2("n - t1", "t1", "n")))
      .select(
        col("feature"), col("n_values"),
        q6(col("h_label")).as("h_label"),
        q6(col("h_cond")).as("h_cond"),
        q6(col("h_label") - col("h_cond")).as("info_gain"))
  }

  val infoGainSql: String = {
    def h2(c0: String, c1: String, n: String): String = {
      def part(c: String) =
        s"""CASE WHEN $c > 0 THEN -(CAST($c AS DOUBLE) / CAST($n AS DOUBLE))
              * ln(CAST($c AS DOUBLE) / CAST($n AS DOUBLE)) ELSE 0.0 END"""
      s"(${part(c0)} + ${part(c1)})"
    }
    def q6s(e: String) = Quantize.q6Sql(e)
    s"""WITH feat AS (
         SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
                f.feature, f.v
         FROM events, LATERAL (VALUES
           ('hour4', CAST(hour(ts) // 4 AS BIGINT)),
           ('dow',   CAST(dayofweek(ts) + 1 AS BIGINT)),
           ('umod',  user_id % 8)) f(feature, v)),
       cell AS (
         SELECT feature, v, count(*) AS nv,
                CAST(sum(label) AS BIGINT) AS c1,
                count(*) - CAST(sum(label) AS BIGINT) AS c0
         FROM feat GROUP BY 1, 2),
       tot AS (
         SELECT feature, CAST(sum(nv) AS BIGINT) AS n, CAST(sum(c1) AS BIGINT) AS t1
         FROM cell GROUP BY 1),
       terms AS (
         SELECT c.feature, t.n, t.t1,
                (CAST(nv AS DOUBLE) / CAST(n AS DOUBLE)) * ${h2("c0", "c1", "nv")} AS term
         FROM cell c JOIN tot t USING (feature))
       SELECT feature, count(*) AS n_values,
              ${q6s(h2("any_value(n) - any_value(t1)", "any_value(t1)", "any_value(n)"))} AS h_label,
              ${q6s("list_reduce(list_sort(list(term)), (x, y) -> x + y)")} AS h_cond,
              ${q6s(
        h2("any_value(n) - any_value(t1)", "any_value(t1)", "any_value(n)") +
          " - list_reduce(list_sort(list(term)), (x, y) -> x + y)")} AS info_gain
       FROM terms GROUP BY 1"""
  }
}
