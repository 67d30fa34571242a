package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked retrieval and corpus-sampling operators over the `documents`
  * table — the search-side companions to the curation surface
  * ([[CurationQueries]]): BM25 scoring, vocabulary-growth profiling
  * (Heaps-law curve), and weighted reservoir sampling.
  *
  * Cross-engine float discipline (same rules as the rest of the repo):
  * every floating-point expression is written as the SAME explicit tree
  * in the Spark code and the DuckDB oracle — only correctly-rounded IEEE
  * ops (+,-,*,/) plus one `ln` per term whose ≤1-ulp engine difference is
  * absorbed by `round(_, 4)`; sums over query terms are fixed left-to-
  * right expression chains, never aggregations, so no ordering
  * nondeterminism exists to begin with.
  */
object SearchQueries {

  /** The fixed conjunctive query for [[bm25Search]] — common corpus terms
    * with distinct document frequencies.
    */
  val Bm25QueryTerms: Seq[String] = Seq("table", "join", "stream", "window")

  private def toks = split(col("text"), " ", -1)

  // --------------------------------------------------------------------
  // q_bm25_search — BM25 ranked retrieval
  // --------------------------------------------------------------------

  /** BM25 (k1=1.2, b=0.75) document ranking for [[Bm25QueryTerms]],
    * top-`topK` by (rounded score, doc_id).
    *
    * Scale: tf per term is an in-row `filter(...)` over the token array —
    * zero shuffle, pipelined into the scan. The corpus statistics
    * (N, Σdl, per-term df) are ONE tiny aggregate broadcast back
    * (a handful of longs, the classic broadcast-scalar pattern), so the
    * whole query is scan → map → top-k. The top-k plans as
    * `TakeOrderedAndProject` (per-partition heaps, no full sort, no full-
    * corpus window); the rank column is assigned AFTER the truncation, so
    * the only total-order window ever sees ≤ topK rows.
    *
    * idf = ln((N − df + ½)/(df + ½) + 1) (the Lucene/BM25+ positive
    * variant); avgdl is computed as exact-integer Σdl and N divided once,
    * so both engines see bit-identical inputs to the one `ln`.
    */
  def bm25Search(s: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val tfCols = Bm25QueryTerms.map { t =>
      size(filter(toks, x => x === lit(t))).cast("long").as(s"tf_$t")
    }
    val base = Tables
      .documents(s, dir)
      .select(col("doc_id") +: size(toks).cast("long").as("dl") +: tfCols: _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        Bm25QueryTerms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
    val joined = base.crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    def termScore(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val idf = log(
        ((col("n_docs") - col(s"df_$t")).cast("double") + lit(0.5)) /
          (col(s"df_$t").cast("double") + lit(0.5)) + lit(1.0))
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    }
    val score = Bm25QueryTerms.map(termScore).reduce(_ + _)
    val top = joined
      .withColumn("bm25", round(score, 4))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
    // rank over the already-truncated topK rows only (bounded window)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select(
        col("doc_id") +: col("dl") +:
          Bm25QueryTerms.map(t => col(s"tf_$t")) :+ col("bm25") :+ col("rank"): _*)
  }

  def bm25SearchSql(topK: Int = 50): String = {
    val tfDefs = Bm25QueryTerms
      .map(t => s"len(list_filter(w, x -> x = '$t'))::BIGINT AS tf_$t")
      .mkString(",\n                  ")
    val dfDefs = Bm25QueryTerms
      .map(t => s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t")
      .mkString(", ")
    val termScores = Bm25QueryTerms.map { t =>
      s"""ln((CAST(n_docs - df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5) + 1.0)
          * (CAST(tf_$t AS DOUBLE) * 2.2)
          / (CAST(tf_$t AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
               / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"""
    }
    val tfOut = Bm25QueryTerms.map(t => s"tf_$t").mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        t AS (SELECT doc_id, len(w)::BIGINT AS dl,
                  $tfDefs
              FROM d),
        st AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl, $dfDefs FROM t),
        scored AS (SELECT doc_id, dl, $tfOut,
                     round(${termScores.mkString("\n                   + ")}, 4) AS bm25
                   FROM t CROSS JOIN st)
        SELECT doc_id, dl, $tfOut, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM scored
        QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= $topK"""
  }

  // --------------------------------------------------------------------
  // q_rrf_fusion — reciprocal-rank fusion of two retrieval rankings
  // --------------------------------------------------------------------

  /** Reciprocal-rank fusion (Cormack et al.: score = Σᵣ 1/(k + rankᵣ),
    * k = 60) of two retrieval rankings over the corpus — the hybrid-
    * search combiner every RAG stack runs to merge lexical and
    * non-lexical rankers without score calibration. Ranker A is the
    * [[bm25Search]] top-`topK`; ranker B is a length prior (top-`topK`
    * by n_chars — standing in for any second ranker; the fusion is
    * ranker-agnostic). Output: the fused top-`fusedK` with both source
    * ranks (null where a doc appeared in only one list).
    *
    * Scale: both input rankings are top-k truncations that plan as
    * `TakeOrderedAndProject` (per-partition heaps, no full sort); the
    * fusion is a full-outer equi-join of two ≤ topK-row lists and every
    * total-order window runs AFTER a truncation, so it sees ≤ topK
    * rows — the [[bm25Search]] rank-after-limit discipline. The RRF
    * score is a fixed two-term expression (no aggregation), identical
    * in both engines.
    */
  def rrfFusion(
      s: SparkSession,
      dir: String,
      topK: Int = 50,
      rrfK: Int = 60,
      fusedK: Int = 20): DataFrame = {
    val bm = bm25Search(s, dir, topK).select(col("doc_id"), col("rank").as("bm25_rank"))
    val byLen = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(topK)
      .withColumn(
        "length_rank",
        row_number()
          .over(Window.orderBy(col("n_chars").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("length_rank"))
    val fused = bm
      .join(byLen, Seq("doc_id"), "full_outer")
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("bm25_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("length_rank")), lit(0.0)),
          6))
    fused
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(fusedK)
      .withColumn(
        "fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .select(
        col("doc_id"),
        col("rrf"),
        col("bm25_rank"),
        col("length_rank"),
        col("fused_rank"))
  }

  /** DuckDB oracle for [[rrfFusion]]: the [[bm25SearchSql]] chain
    * embedded as a subquery, the length ranking, and the identical
    * two-term RRF expression (1.0 CAST to DOUBLE — DuckDB's bare 1.0
    * literal is DECIMAL and would divide in decimal arithmetic).
    */
  def rrfFusionSql(topK: Int = 50, rrfK: Int = 60, fusedK: Int = 20): String =
    s"""WITH bm AS (
         SELECT doc_id, rank FROM (${bm25SearchSql(topK)})
       ), ln_rank AS (
         SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
         FROM documents
         QUALIFY row_number() OVER (ORDER BY n_chars DESC, doc_id) <= $topK
       ), u AS (
         SELECT coalesce(b.doc_id, l.doc_id) AS doc_id,
                round(coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + b.rank), 0.0)
                    + coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + l.rank), 0.0), 6) AS rrf,
                b.rank AS bm25_rank, l.rank AS length_rank
         FROM bm b FULL OUTER JOIN ln_rank l ON b.doc_id = l.doc_id
       )
       SELECT doc_id, rrf, bm25_rank, length_rank,
              row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
       FROM u QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= $fusedK"""

  // --------------------------------------------------------------------
  // q_vocab_growth — Heaps-law vocabulary growth curve
  // --------------------------------------------------------------------

  /** Vocabulary growth (Heaps' law) profile: the corpus in doc_id order is
    * cut into `nBuckets` equal-width id ranges; per bucket, the number of
    * NEW vocabulary terms (tokens whose first corpus occurrence — lowest
    * doc_id — falls in that bucket) and the token volume, plus running
    * totals. The curve's flattening is the standard "is more data still
    * adding vocabulary?" curation diagnostic.
    *
    * Scale: one shuffle keyed on token for the first-occurrence
    * `min(doc_id)` (partial-agg collapses hot tokens map-side — no
    * window on the token key), one bounded-key bucket aggregate, and the
    * running sums run over exactly `nBuckets` rows — the total-order
    * window is over the bounded bucket table, never the corpus.
    */
  def vocabGrowth(s: SparkSession, dir: String, nBuckets: Int = 20): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; tokenize otherwise 1-core
      .select(col("doc_id"), toks.as("w"))
    val nid = d.agg((max(col("doc_id")) + 1).as("n_ids"))
    val db = d
      .crossJoin(broadcast(nid))
      .select(
        expr(s"(doc_id * $nBuckets) div n_ids").as("bucket"),
        size(col("w")).cast("long").as("dl"))
    val tb = db
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
    val firstDoc = d
      .select(explode(col("w")).as("term"), col("doc_id"))
      .groupBy(col("term"))
      .agg(min(col("doc_id")).as("first_doc"))
    val nv = firstDoc
      .crossJoin(broadcast(nid))
      .select(expr(s"(first_doc * $nBuckets) div n_ids").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    val w = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tb.join(nv, Seq("bucket"), "left")
      .select(
        col("bucket"),
        col("n_docs"),
        col("n_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("new_terms")).over(w))
  }

  def vocabGrowthSql(nBuckets: Int = 20): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       nid AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
       db AS (SELECT (doc_id * $nBuckets) // n_ids AS bucket, len(w)::BIGINT AS dl
              FROM d CROSS JOIN nid),
       tb AS (SELECT bucket, count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_tokens
              FROM db GROUP BY 1),
       fd AS (SELECT t.term, min(doc_id) AS first_doc
              FROM d, unnest(w) AS t(term) GROUP BY 1),
       nv AS (SELECT (first_doc * $nBuckets) // n_ids AS bucket, count(*) AS new_terms
              FROM fd CROSS JOIN nid GROUP BY 1)
       SELECT tb.bucket, n_docs, n_tokens,
              COALESCE(new_terms, 0) AS new_terms,
              CAST(SUM(n_tokens) OVER (ORDER BY tb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cum_tokens,
              CAST(SUM(COALESCE(new_terms, 0)) OVER (ORDER BY tb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cum_vocab
       FROM tb LEFT JOIN nv ON tb.bucket = nv.bucket"""

  // --------------------------------------------------------------------
  // q_inverted_index — term → ordered posting list
  // --------------------------------------------------------------------

  /** Inverted-index build: per term, the document frequency and the
    * doc_id-ordered posting list (rendered as a comma-joined string so
    * the hash compare is array-representation-agnostic) — the index
    * structure behind [[bm25Search]] served as a first-class output.
    *
    * Scale: distinct (term, doc) pairs collapse map-side (array_distinct
    * before the explode keeps per-doc duplicates off the wire), then ONE
    * shuffle on the term key; per-term state is the posting list itself
    * — the same bound any index builder pays, with pathological terms
    * capped upstream by the boilerplate filters. Postings are sorted
    * in-group (bounded), never globally.
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; explode otherwise 1-core
      .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), collect_list(col("doc_id")).as("ps"))
      .select(
        col("term"),
        col("df"),
        array_join(expr("transform(array_sort(ps), x -> cast(x AS string))"), ",")
          .as("postings"))

  val invertedIndexSql: String =
    """SELECT t.term, count(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
       FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
             FROM documents) t
       GROUP BY t.term"""

  // --------------------------------------------------------------------
  // q_zipf_slope — rank-frequency power-law fit
  // --------------------------------------------------------------------

  /** Zipf diagnostic: least-squares slope/intercept of ln(frequency)
    * against ln(rank) over the corpus vocabulary — natural corpora fit
    * slope ≈ −1, and a corpus that DOESN'T is the classic signal of
    * template spam or synthetic text.
    *
    * Scale (the r9-verdict de-funnel — no global sort, no
    * vocabulary-sized row anywhere):
    *  - The regression inputs are QUANTIZED: qx = ⌊ln(rank)·10⁶⌋ and
    *    qy = ⌊ln(freq)·10⁶⌋ as exact longs, so the four regression sums
    *    become order-independent integer aggregates with map-side
    *    partial combine (products summed as decimal(38,0) against i64
    *    overflow at web-scale vocabularies), replacing the old
    *    whole-vocabulary single-row ordered fold. Because equal
    *    integers sum equal in any order, the oracle is free to rank
    *    with one plain window — the engines still hash-match exactly.
    *  - Rank is a three-level bucketed composition (the
    *    [[CurationQueries.epochShuffle]] / [[MiningQueries.mannWhitney]]
    *    family): `row_number` inside (freq, 2-char-term-prefix) buckets
    *    — order-preserving because prefix order is consistent with term
    *    order inside an exact-freq tie class — plus within-freq
    *    earlier-prefix offsets (window PARTITIONED BY freq, ≤ |Σ|²
    *    rows each), within-log₂-band higher-freq offsets (window
    *    PARTITIONED BY band), and the ≤63-row band-total table folded
    *    through one bounded single-row array (≤63² fold steps,
    *    constant at any corpus size). Every window is partitioned; the
    *    only collect_list holds ≤63 structs.
    */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    val tf = Reuse.pin(
      Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; explode otherwise 1-core
        .select(explode(toks).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("freq"))
        .withColumn("p2", substring(col("term"), 1, 2))
        .withColumn("band", length(bin(col("freq")))))
    // L1: rank within the (freq, prefix) bucket — balanced even on the
    // massive low-freq tie classes, where the prefix does the splitting
    val wLocal = Window.partitionBy(col("freq"), col("p2")).orderBy(col("term"))
    val local = tf.withColumn("lr", row_number().over(wLocal).cast("long"))
    // bucket counts feed all three offset levels
    val bc = Reuse.pin(
      tf
        .groupBy(col("band"), col("freq"), col("p2"))
        .agg(count(lit(1)).as("bn")))
    // L2a: terms of the SAME freq in lexicographically earlier prefixes
    val wG = Window
      .partitionBy(col("freq"))
      .orderBy(col("p2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = bc.withColumn("goff", coalesce(sum(col("bn")).over(wG), lit(0L)))
    // L2b: within a log₂ band, terms of strictly HIGHER freqs
    val fc = bc.groupBy(col("band"), col("freq")).agg(sum(col("bn")).as("fn"))
    val wM = Window
      .partitionBy(col("band"))
      .orderBy(col("freq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = fc
      .withColumn("moff", coalesce(sum(col("fn")).over(wM), lit(0L)))
      .select(col("band"), col("freq"), col("moff"))
    // L3: terms in strictly higher bands — the band table is ≤63 rows by
    // construction (band = bit-length of a 64-bit count), folded through
    // one bounded array: no window, no driver round-trip
    val h = fc
      .groupBy(col("band"))
      .agg(sum(col("fn")).as("hn"))
      .agg(collect_list(struct(col("band"), col("hn"))).as("a"))
      .select(expr(
        "explode(transform(a, e -> struct(e.band AS band, " +
          "aggregate(filter(a, x -> x.band > e.band), cast(0 as bigint), " +
          "(acc, x) -> acc + x.hn) AS hoff)))").as("x"))
      .select(col("x.band").as("band"), col("x.hoff").as("hoff"))
    val offs = g
      .join(m, Seq("band", "freq"))
      .join(broadcast(h), Seq("band"))
      .select(
        col("freq"),
        col("p2"),
        (col("goff") + col("moff") + col("hoff")).as("boff"))
    val ranked = local
      .join(offs, Seq("freq", "p2"))
      .select((col("boff") + col("lr")).as("r"), col("freq"))
    val q = ranked.select(
      floor(log(col("r").cast("double")) * lit(1e6)).cast("long").as("qx"),
      floor(log(col("freq").cast("double")) * lit(1e6)).cast("long").as("qy"))
    val sums = q.agg(
      count(lit(1)).as("n_terms"),
      sum(col("qx")).as("sx"),
      sum(col("qy")).as("sy"),
      sum((col("qx") * col("qy")).cast("decimal(38,0)")).as("sxy"),
      sum((col("qx") * col("qx")).cast("decimal(38,0)")).as("sxx"))
    val nd = col("n_terms").cast("double")
    val sxd = col("sx").cast("double") / lit(1e6)
    val syd = col("sy").cast("double") / lit(1e6)
    val sxyd = col("sxy").cast("double") / lit(1e12)
    val sxxd = col("sxx").cast("double") / lit(1e12)
    val slopeRaw = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    sums.select(
      col("n_terms"),
      round(slopeRaw, 6).as("slope"),
      round((syd - slopeRaw * sxd) / nd, 6).as("intercept"))
  }

  val zipfSlopeSql: String =
    """WITH tf AS (
         SELECT t.term, count(*) AS freq
         FROM documents, unnest(string_split(text, ' ')) AS t(term)
         GROUP BY 1),
       ranked AS (
         SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS DOUBLE) AS r,
                CAST(freq AS DOUBLE) AS f
         FROM tf),
       q AS (
         SELECT CAST(floor(ln(r) * 1e6) AS BIGINT) AS qx,
                CAST(floor(ln(f) * 1e6) AS BIGINT) AS qy
         FROM ranked),
       g AS (
         SELECT count(*) AS n_terms,
                CAST(sum(qx) AS BIGINT) AS sx,
                CAST(sum(qy) AS BIGINT) AS sy,
                sum(qx * qy) AS sxy,
                sum(qx * qx) AS sxx
         FROM q)
       SELECT n_terms,
              round((CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                      - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
                    / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                      - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)),
                    6) AS slope,
              round(((CAST(sy AS DOUBLE) / 1e6)
                      - ((CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                           - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
                         / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                           - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)))
                        * (CAST(sx AS DOUBLE) / 1e6))
                    / CAST(n_terms AS DOUBLE), 6) AS intercept
       FROM g"""

  // --------------------------------------------------------------------
  // q_lm_perplexity — bigram language-model fluency scoring
  // --------------------------------------------------------------------

  /** Perplexity-style quality scoring (the KenLM-filter pattern every
    * production curation pipeline runs): a bigram language model with
    * MLE probabilities is trained on the corpus itself, then every
    * document is scored by its mean log-probability under that model —
    * documents whose word transitions are unusual for the corpus score
    * low and are filter candidates.
    *
    * Scale: bigram extraction is a narrow in-row transform + explode;
    * the LM is two partial-agg groupBys (bigram count, context count)
    * over uniform token keys; scoring joins the LM back UNHINTED on the
    * (w1, w2) equi-key: AQE broadcasts while the LM is small and falls
    * back to a shuffled join once a web-scale bigram table (billions of
    * rows) outgrows the broadcast threshold — a hard `broadcast()` hint
    * here would build the relation on the driver at ANY size (the
    * r9-verdict fix). The per-doc mean is an ORDERED
    * fold over the doc's (bounded, document-length) log-prob multiset —
    * `aggregate(array_sort(collect_list))` ↔ DuckDB
    * `list_reduce(list_sort(list))` — so the oracle matches bit-for-bit
    * despite ~n_tokens `ln` terms per document.
    */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; tokenize otherwise 1-core
      .select(col("doc_id"), toks.as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigrams = docs
      .select(
        col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(ws) - 2), " +
            "i -> struct(element_at(ws, i + 1) AS w1, element_at(ws, i + 2) AS w2))"))
          .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val lm = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val ctx = lm.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val probs = lm
      .join(ctx, "w1")
      .select(
        col("w1"),
        col("w2"),
        log(col("c2").cast("double") / col("c1").cast("double")).as("lnp"))
    bigrams
      .join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(
          aggregate(array_sort(collect_list(col("lnp"))), lit(0.0), (acc, x) => acc + x) /
            count(lit(1)).cast("double"),
          4).as("avg_logprob"))
  }

  val lmPerplexitySql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       bg AS (SELECT doc_id,
                     unnest([ws[i+1] FOR i IN range(len(ws) - 1)]) AS w1,
                     unnest([ws[i+2] FOR i IN range(len(ws) - 1)]) AS w2
              FROM d WHERE len(ws) >= 2),
       lm AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lm GROUP BY 1),
       probs AS (SELECT w1, w2, ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS lnp
                 FROM lm JOIN ctx USING (w1))
       SELECT doc_id, count(*) AS n_bigrams,
              round(list_reduce(list_sort(list(lnp)), (a, b) -> a + b)
                      / CAST(count(*) AS DOUBLE), 4) AS avg_logprob
       FROM bg JOIN probs USING (w1, w2)
       GROUP BY doc_id"""

  // --------------------------------------------------------------------
  // q_weighted_sample — Efraimidis–Spirakis weighted sampling
  // --------------------------------------------------------------------

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each document draws a reproducible
    * uniform u ∈ (0, 1] from the md5 of its doc_id and gets priority
    * key = ln(u) / weight (weight = n_chars); the `k` largest keys are
    * the sample. Longer documents are proportionally more likely to be
    * kept — the standard size-weighted corpus subsampling primitive.
    *
    * Cross-engine determinism: u is built from md5 digest bytes 8..14
    * little-endian (the low 56 bits of DuckDB's `md5_number_lower`,
    * convention pinned in TextHashSpec) shifted to 52 bits, so both
    * engines compute ln on bit-identical inputs; the selection is a
    * top-k comparison where a ≤1-ulp ln difference would need two keys
    * within 2 ulp AT the k-th boundary to matter.
    *
    * Scale: the key is a pure per-row expression (zero shuffle) and the
    * top-k plans as `TakeOrderedAndProject` — per-partition heaps of k
    * rows, no full sort. The hash keys on doc_id, so the sample is
    * stable under re-partitioning and re-runs.
    */
  // --------------------------------------------------------------------
  // q_source_divergence — per-source entropy + KL drift vs the corpus
  // --------------------------------------------------------------------

  /** Per-source token-distribution profile: Shannon entropy of the
    * source's unigram distribution and its KL divergence from the
    * corpus-wide distribution — the drift detector a mixture pipeline
    * runs to spot a source whose text stopped looking like the rest of
    * the training mix (KL ↑) or collapsed to boilerplate (entropy ↓).
    *
    * Scale: ONE token-keyed aggregation builds the per-(source, token)
    * counts; everything downstream derives from that persisted table —
    * source totals by re-aggregating on source, the corpus distribution
    * by re-aggregating on token (NO second corpus scan), and the corpus
    * total is a broadcast one-row fold. The KL join is token-keyed
    * (never a product); per-source entropy/KL sums are QUANTIZED —
    * ⌊term·10¹²⌋ as exact longs summed as decimal(38,0) (the
    * [[zipfSlope]] discipline, r9-verdict ask #4) — so they are
    * order-independent partial-agg integer sums with no per-source
    * vocabulary-sized array anywhere, and still hash-match the oracle
    * bit-for-bit (equal integers sum equal in any order; the ≤10⁻¹²
    * per-term quantization bias is far under the round(4) output).
    */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(col("source"), explode(toks).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("cnt")))
    val srcTot = perSrc.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    val corpCnt = perSrc.groupBy(col("w")).agg(sum(col("cnt")).as("ccnt"))
    val corpTot = corpCnt.agg(sum(col("ccnt")).as("ctot"))
    val p = col("cnt").cast("double") / col("tot").cast("double")
    val q = col("ccnt").cast("double") / col("ctot").cast("double")
    val terms = perSrc
      .join(srcTot, "source")
      .join(corpCnt, "w")
      .crossJoin(broadcast(corpTot))
      .select(
        col("source"),
        col("tot"),
        floor((-p * log(p)) * lit(1e12)).as("qe"),
        floor((p * log(p / q)) * lit(1e12)).as("qk"))
    terms
      .groupBy(col("source"))
      .agg(
        max(col("tot")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(sum(col("qe").cast("decimal(38,0)")).cast("double") / lit(1e12), 4)
          .as("entropy"),
        round(sum(col("qk").cast("decimal(38,0)")).cast("double") / lit(1e12), 4)
          .as("kl_corpus"))
  }

  /** DuckDB re-derivation of [[sourceDivergence]]: identical distribution
    * arithmetic, identical quantized-integer sums.
    */
  val sourceDivergenceSql: String =
    """WITH toks AS (
         SELECT source, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
         FROM documents
       ), persrc AS (
         SELECT source, w, count(*) AS cnt FROM toks GROUP BY 1, 2
       ), stot AS (
         SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM persrc GROUP BY 1
       ), corp AS (
         SELECT w, CAST(sum(cnt) AS BIGINT) AS ccnt FROM persrc GROUP BY 1
       ), ctot AS (
         SELECT CAST(sum(ccnt) AS BIGINT) AS ctot FROM corp
       ), terms AS (
         SELECT p.source, s.tot,
                CAST(floor((-(CAST(p.cnt AS DOUBLE) / CAST(s.tot AS DOUBLE))
                  * ln(CAST(p.cnt AS DOUBLE) / CAST(s.tot AS DOUBLE))) * 1e12)
                  AS BIGINT) AS qe,
                CAST(floor(((CAST(p.cnt AS DOUBLE) / CAST(s.tot AS DOUBLE))
                  * ln((CAST(p.cnt AS DOUBLE) / CAST(s.tot AS DOUBLE))
                       / (CAST(c.ccnt AS DOUBLE) / CAST(t.ctot AS DOUBLE)))) * 1e12)
                  AS BIGINT) AS qk
         FROM persrc p
         JOIN stot s USING (source)
         JOIN corp c USING (w)
         CROSS JOIN ctot t
       )
       SELECT source, max(tot) AS n_tokens, count(*) AS n_distinct,
              round(CAST(sum(qe) AS DOUBLE) / 1e12, 4) AS entropy,
              round(CAST(sum(qk) AS DOUBLE) / 1e12, 4) AS kl_corpus
       FROM terms GROUP BY source"""

  def weightedSample(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val h = md5(concat(lit("graftws:"), col("doc_id").cast("string")).cast("binary"))
    // digest bytes 14,13,...,8 (hex char positions 29,27,...,17) — the
    // little-endian low-7-byte slice of md5_number_lower, 56 bits
    val le = concat((14 to 8 by -1).map(b => substring(h, 2 * b + 1, 2)): _*)
    val bits = shiftright(conv(le, 16, 10).cast("long"), 4) // 52 bits
    val u = (bits + lit(1L)).cast("double") / lit(4503599627370496.0) // 2^52 → (0,1]
    val key = log(u) / col("n_chars").cast("double")
    val top = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), key.as("key_raw"))
      .orderBy(col("key_raw").desc, col("doc_id"))
      .limit(k)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("key_raw").desc, col("doc_id"))).cast("long"))
      .select(
        col("doc_id"),
        col("source"),
        col("n_chars"),
        round(col("key_raw"), 6).as("priority"),
        col("rank"))
  }

  def weightedSampleSql(k: Int = 100): String =
    s"""WITH keyed AS (
         SELECT doc_id, source, n_chars,
                ln((((md5_number_lower('graftws:' || CAST(doc_id AS VARCHAR))
                      & 72057594037927935) >> 4) + 1)::DOUBLE / 4503599627370496.0)
                  / CAST(n_chars AS DOUBLE) AS key_raw
         FROM documents)
       SELECT doc_id, source, n_chars, round(key_raw, 6) AS priority,
              row_number() OVER (ORDER BY key_raw DESC, doc_id) AS rank
       FROM keyed
       QUALIFY row_number() OVER (ORDER BY key_raw DESC, doc_id) <= $k"""

  /** Collocation mining: the corpus' top adjacent-word bigrams ranked
    * by frequency with their pointwise mutual information — PMI(w1,w2)
    * = ln(p(w1,w2) / (p(w1)p(w2))) tells whether the pair co-occurs
    * beyond chance (a multi-word expression) or just rides two common
    * words. The phrase-detection primitive behind tokenizer vocabulary
    * and stop-phrase curation.
    *
    * Oracle parity: counts are exact integers; PMI is ONE rounded `ln`
    * of a product/ratio of integer-valued doubles with an identical
    * tree in both engines (the [[RelationalQueries.abTtest]] /
    * q_event_pmi discipline). Top-k orders on stored integers with the
    * bigram as tiebreak — plans as `TakeOrderedAndProject`.
    *
    * Scale: bigram extraction is narrow; both count tables are
    * partial-agg groupBys on uniform token keys; the unigram margins
    * join back keyed (vocabulary-sized, broadcast here); top-k is
    * per-partition heaps, no global sort.
    */
  def collocations(s: SparkSession, dir: String, minCount: Int = 5, k: Int = 100): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; tokenize otherwise 1-core
      .select(col("doc_id"), toks.as("ws"))
    val tokens = docs.select(explode(col("ws")).as("w"))
    val uni = Reuse.pin(tokens.groupBy(col("w")).agg(count(lit(1)).as("cw")))
    val totals = uni.agg(
      sum(col("cw")).as("t_tokens"),
      (sum(col("cw")) - count(lit(1))).as("dummy"))
    val bigrams = docs
      .filter(size(col("ws")) >= 2)
      .select(
        explode(expr(
          "transform(sequence(0, size(ws) - 2), " +
            "i -> struct(element_at(ws, i + 1) AS w1, element_at(ws, i + 2) AS w2))"))
          .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val big = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val nBig = big.agg(sum(col("n_pair")).as("t_pairs"))
    big
      .filter(col("n_pair") >= minCount)
      .join(broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c1")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2")), "w2")
      .crossJoin(broadcast(nBig))
      .crossJoin(broadcast(totals.select(col("t_tokens"))))
      .select(
        col("w1"),
        col("w2"),
        col("n_pair"),
        col("c1"),
        col("c2"),
        round(
          log(
            (col("n_pair").cast("double") / col("t_pairs").cast("double")) /
              ((col("c1").cast("double") / col("t_tokens").cast("double"))
                * (col("c2").cast("double") / col("t_tokens").cast("double")))),
          6).as("pmi"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def collocationsSql(minCount: Int = 5, k: Int = 100): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       tokens AS (SELECT unnest(ws) AS w FROM d),
       uni AS (SELECT w, count(*) AS cw FROM tokens GROUP BY 1),
       tt AS (SELECT CAST(sum(cw) AS BIGINT) AS t_tokens FROM uni),
       bg AS (SELECT doc_id,
                     unnest([ws[i+1] FOR i IN range(len(ws) - 1)]) AS w1,
                     unnest([ws[i+2] FOR i IN range(len(ws) - 1)]) AS w2
              FROM d WHERE len(ws) >= 2),
       big AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY 1, 2),
       tp AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t_pairs FROM big)
       SELECT b.w1, b.w2, b.n_pair, u1.cw AS c1, u2.cw AS c2,
              round(ln((CAST(b.n_pair AS DOUBLE) / CAST(tp.t_pairs AS DOUBLE))
                       / ((CAST(u1.cw AS DOUBLE) / CAST(tt.t_tokens AS DOUBLE))
                          * (CAST(u2.cw AS DOUBLE) / CAST(tt.t_tokens AS DOUBLE)))), 6)
                AS pmi
       FROM big b
       JOIN uni u1 ON b.w1 = u1.w
       JOIN uni u2 ON b.w2 = u2.w
       CROSS JOIN tp CROSS JOIN tt
       WHERE b.n_pair >= $minCount
       ORDER BY b.n_pair DESC, b.w1, b.w2
       LIMIT $k"""

  /** Query phrases for [[phraseSearch]] — includes a 3-term phrase so the
    * iterative position join exercises more than one hop. Phrase strings
    * are borderless (no proper prefix = suffix), so the oracle's
    * replace-length counting sees every occurrence.
    */
  val SearchPhrases: Seq[String] =
    Seq("hash join", "table scan", "merge join", "slow scan",
      "part filter scan", "sort merge join")

  /** Exact PHRASE search via positional-index intersection — the IR
    * operator behind quoted queries: tokenize with positions, then for
    * each phrase w₁…wₙ chain equi-joins `(doc, pos+k)` across the term
    * postings, so a surviving row is an exact adjacent occurrence.
    * Output per phrase: matching doc count and total occurrences.
    *
    * Cross-algorithm verification: the DuckDB oracle never builds an
    * index — it counts raw substring occurrences per document with the
    * replace-length identity, so an off-by-one in the position join or a
    * lost posting cannot be mirrored.
    *
    * Scale: the positional index is one tokenize pass (the same
    * posexplode every index build pays); each phrase intersects ONLY its
    * terms' postings via keyed (doc_id, pos) equi-joins — work is
    * proportional to posting-list sizes, never the corpus, and AQE
    * handles frequent-term skew. Production refinement: join rarest term
    * first (df-ordered) to shrink intermediates — noted, not needed at
    * this phrase count. The corpus tokenization is persisted and shared
    * across all phrases (one scan total).
    */
  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val toks = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ", -1)).as(Seq("pos", "w")))
        .filter(col("w") =!= ""))
    val results = SearchPhrases.map { phrase =>
      val words = phrase.split(" ").toSeq
      val first = toks
        .filter(col("w") === words.head)
        .select(col("doc_id"), col("pos").as("p0"))
      val matches = words.zipWithIndex.tail.foldLeft(first) { case (acc, (word, k)) =>
        val right = toks
          .filter(col("w") === word)
          .select(col("doc_id").as("rdoc"), (col("pos") - k).as("rp"))
        acc
          .join(right, col("doc_id") === col("rdoc") && col("p0") === col("rp"))
          .drop("rdoc", "rp")
      }
      matches
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("c")), lit(0L)).as("n_matches"))
        .select(lit(phrase).as("phrase"), col("n_docs"), col("n_matches"))
    }
    results.reduce(_.unionByName(_))
  }

  /** RAG retrieval end-to-end — the composed pipeline the chunking,
    * embedding, and ANN operators exist FOR, run as one declarative
    * plan: documents → overlapping chunks ([[CurationQueries.ChunkChars]]
    * grid) → per-chunk embeddings → top-k nearest chunks from OTHER
    * documents for each query chunk. Query set = the chunks of the
    * first [[RagQueryDocs]] documents.
    *
    * The embedding stage is a DETERMINISTIC stand-in (16 components,
    * each `permHash(polyHash(chunk), 200+j) / P` — the established
    * SQL-reproducible hash family), so the whole pipeline is exactly
    * oracle-checkable; a deployment swaps in a real encoder behind the
    * same (chunk → Array[Double]) signature and the surrounding plan —
    * the part THIS engine owns — is unchanged.
    *
    * Scale: chunk+embed is a pure map stage; retrieval here is the
    * exact broadcast-queries kernel (bounded query set × one corpus
    * pass, the cosine_topk shape); at corpus scale the same chunk
    * embeddings feed the LSH/IVF/IVF-PQ index family instead — every
    * piece of that swap is already a first-class oracled operator.
    */
  val RagQueryDocs = 2
  val RagDims = 16
  val RagTopK = 5

  def ragE2e(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val embedUdf = udf { (chunk: String) =>
      val h = graft.functions.TextHash.polyHash(chunk)
      Array.tabulate(RagDims)(j =>
        graft.functions.TextHash.permHash(h, 200L + j).toDouble / graft.functions.TextHash.P)
    }
    val chunks = Reuse.pin(
      CurationQueries
        .chunkGrid(s, dir) // the docChunk grid — ONE chunking definition
        .select(col("doc_id"), col("idx"), embedUdf(col("chunk")).as("emb")))
    graft.plans.VecDot.register(s)
    val queries = chunks
      .filter(col("doc_id") < RagQueryDocs)
      .select(col("doc_id").as("q_doc"), col("idx").as("q_idx"), col("emb").as("q_emb"))
    val w = Window
      .partitionBy(col("q_doc"), col("q_idx"))
      .orderBy(col("sim").desc, col("doc_id"), col("idx"))
    chunks
      .join(broadcast(queries), col("doc_id") =!= col("q_doc"))
      .withColumn("sim", expr("vec_dot(q_emb, emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= RagTopK)
      .select(
        col("q_doc"),
        col("q_idx"),
        col("doc_id").as("n_doc"),
        col("idx").as("n_idx"),
        col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** DuckDB oracle for [[ragE2e]]: chunk grid, hash embeddings, and the
    * brute-force ranking all re-derived.
    */
  val ragE2eSql: String = {
    val poly = SketchQueries.polySql("chunk")
    val dims = (0 until RagDims)
      .map(j =>
        s"CAST(${SketchQueries.permSql("h", s"${200 + j}")} AS DOUBLE) / ${graft.functions.TextHash.P}")
      .mkString("[", ", ", "]")
    s"""WITH ch AS (${CurationQueries.chunkGridCte}), hs AS (
         SELECT doc_id, idx, $poly AS h FROM ch
       ), embs AS (
         SELECT doc_id, idx, $dims AS emb FROM hs
       ), pairs AS (
         SELECT q.doc_id AS q_doc, q.idx AS q_idx,
                c.doc_id AS n_doc, c.idx AS n_idx,
                list_dot_product(q.emb, c.emb) AS sim
         FROM embs q JOIN embs c ON c.doc_id <> q.doc_id
         WHERE q.doc_id < $RagQueryDocs
       )
       SELECT q_doc, q_idx, n_doc, n_idx,
              row_number() OVER (PARTITION BY q_doc, q_idx
                                 ORDER BY sim DESC, n_doc, n_idx) AS rank,
              round(sim, 6) AS sim
       FROM pairs
       QUALIFY rank <= $RagTopK"""
  }

  /** DuckDB oracle for [[phraseSearch]]: raw substring counting per
    * document (replace-length identity), no index anywhere.
    *
    * PRECONDITION (pinned by SearchSpec on both verify fixtures): raw
    * substring occurrences must be token-aligned — no corpus token may
    * contain a phrase as a boundary-crossing substring (e.g. a token
    * 'stable' would make this oracle count a 'table …' occurrence the
    * positional-index operator correctly rejects). If the corpus ever
    * changes, the spec fails with a message instead of this oracle
    * mis-reporting a correct implementation.
    */
  val phraseSearchSql: String = {
    val vals = SearchPhrases.map(p => s"('$p')").mkString(", ")
    s"""WITH phrases AS (SELECT * FROM (VALUES $vals) p(phrase)),
        per_doc AS (
          SELECT p.phrase, d.doc_id,
                 (length(d.text) - length(replace(d.text, p.phrase, ''))) // length(p.phrase)
                   AS c
          FROM documents d CROSS JOIN phrases p)
        SELECT phrase,
               CAST(count(CASE WHEN c > 0 THEN 1 END) AS BIGINT) AS n_docs,
               CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_matches
        FROM per_doc GROUP BY phrase"""
  }

  private val TextRankIters = 5

  /** TextRank keyword extraction: weighted PageRank (damping 0.85,
    * [[TextRankIters]] synchronous iterations) over the word
    * co-occurrence graph — nodes are words, edges connect ADJACENT
    * tokens (window 1) with co-occurrence counts as weights, built from
    * the scale-capped demo slice (doc_id < 200, the
    * [[GraphQueries]] convention: the word graph is vocabulary-sized,
    * not corpus-sized, so the cap models the bounded-graph reality).
    *
    * Exactness: each iteration's neighbor sum is an explicitly ORDERED
    * fold of `rank·weight/wdeg` terms (the [[GraphQueries.pagerank]]
    * discipline — `aggregate(array_sort(collect_list(…)))` here,
    * `list_reduce(list_sort(list(…)))` in the oracle), so all
    * [[TextRankIters]] unrolled iterations agree bitwise.
    *
    * Scale: the edge table builds in one corpus scan + one pair count,
    * is persisted, and each iteration is one keyed join + one
    * aggregation on the dst word — per-iteration cost is two bounded
    * shuffles of the vocabulary-sized edge table.
    */
  def textRank(s: SparkSession, dir: String): DataFrame = {
    val words = Tables
      .documents(s, dir)
      .filter(col("doc_id") < 200)
      .select(split(col("text"), " ", -1).as("lw"))
      // guard: Spark sequence(1, 0) counts DOWN and element_at(lw, 0)
      // throws — a 0/1-token document must contribute no pairs, like
      // the oracle's empty range (the markovAttribution trap)
      .filter(size(col("lw")) >= 2)
      .select(explode(
        expr("transform(sequence(1, size(lw) - 1), i -> struct(element_at(lw, i) as a, element_at(lw, i + 1) as b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "" && col("a") =!= col("b"))
    val undirected = words
      .select(least(col("a"), col("b")).as("wa"), greatest(col("a"), col("b")).as("wb"))
      .groupBy(col("wa"), col("wb"))
      .agg(count(lit(1)).as("w"))
    val edges = Reuse.pin(
      undirected
        .select(col("wa").as("src"), col("wb").as("dst"), col("w"))
        .unionByName(undirected.select(col("wb").as("src"), col("wa").as("dst"), col("w"))))
    val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
    val nodes = Reuse.pin(deg.select(col("src").as("node"), col("wdeg")))
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes
      .crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n_nodes").cast("double")).as("rank"))
    for (_ <- 1 to TextRankIters) {
      val contrib = ranks
        .join(edges, col("node") === col("src"))
        .join(nodes.select(col("node").as("sn"), col("wdeg")), col("src") === col("sn"))
        .select(
          col("dst"),
          (col("rank") * col("w").cast("double") / col("wdeg").cast("double")).as("c"))
      val prev = ranks
      ranks = Reuse.cut(
        nodes
          .crossJoin(broadcast(nn))
          .join(
            contrib
              .groupBy(col("dst"))
              .agg(expr("aggregate(array_sort(collect_list(c)), 0.0D, (a, x) -> a + x)").as("s")),
            col("node") === col("dst"),
            "left")
          .select(
            col("node"),
            (lit(0.15) / col("n_nodes").cast("double") +
              lit(0.85) * coalesce(col("s"), lit(0.0))).as("rank")))
      Reuse.free(prev)
    }
    ranks
      .select(col("node").as("word"), round(col("rank"), 6).as("textrank"))
      .orderBy(col("textrank").desc, col("word"))
      .limit(20)
  }

  val textRankSql: String = {
    val iterCtes = (1 to TextRankIters).map { k =>
      s"""r$k AS (
         SELECT n.node,
                0.15 / CAST(nn.n_nodes AS DOUBLE) + 0.85 * COALESCE(s.s, 0.0) AS rank
         FROM nodes n CROSS JOIN nn
         LEFT JOIN (
           SELECT e.dst,
                  list_reduce(list_sort(list(r.rank * CAST(e.w AS DOUBLE) / CAST(d.wdeg AS DOUBLE))),
                              (a, b) -> a + b) AS s
           FROM edges e
           JOIN r${k - 1} r ON e.src = r.node
           JOIN nodes d ON e.src = d.node
           GROUP BY e.dst) s ON n.node = s.dst)"""
    }.mkString(",\n       ")
    s"""WITH adj AS (
         SELECT lw[i] AS a, lw[i + 1] AS b
         FROM (SELECT string_split(text, ' ') AS lw FROM documents WHERE doc_id < 200),
              UNNEST(range(1, len(lw))) AS r(i)),
       filt AS (SELECT a, b FROM adj WHERE a <> '' AND b <> '' AND a <> b),
       und AS (
         SELECT least(a, b) AS wa, greatest(a, b) AS wb, count(*) AS w
         FROM filt GROUP BY 1, 2),
       edges AS (
         SELECT wa AS src, wb AS dst, w FROM und
         UNION ALL
         SELECT wb AS src, wa AS dst, w FROM und),
       nodes AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS wdeg
                 FROM edges GROUP BY 1),
       nn AS (SELECT count(*) AS n_nodes FROM nodes),
       r0 AS (SELECT node, 1.0 / CAST(n_nodes AS DOUBLE) AS rank
              FROM nodes CROSS JOIN nn),
       $iterCtes
       SELECT node AS word, round(rank, 6) AS textrank
       FROM r$TextRankIters
       ORDER BY textrank DESC, word LIMIT 20"""
  }
}
