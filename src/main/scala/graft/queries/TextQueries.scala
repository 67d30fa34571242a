package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Quantize.q6

/** Text-analysis and deduplication operators over the `documents` table —
  * the LLM-training-pipeline surface (exact dedup, token statistics,
  * quality scores). Everything here is pure column expressions (codegen'd,
  * shuffle only where the semantics demand a group-by), so it scales to
  * 100 TB of documents as a single map + one small-key aggregation.
  */
object TextQueries {

  /** Exact deduplication by content hash (§LLM-ops): md5 over the raw
    * text, keep the smallest doc_id per hash. Scale: the only shuffle is
    * on the 128-bit hash — uniform keys, no skew; map-side partial agg
    * collapses duplicates early.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val dedupExactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
       count(*) AS n_copies
       FROM documents GROUP BY 1"""

  /** Per-document token statistics (§LLM-ops text analysis): character
    * and whitespace-token counts, stopword hits, and a simple quality
    * score — all single-pass column expressions.
    */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val toks = size(split(col("text"), " ", -1)).cast("long")
    val theCount =
      ((length(col("text")) - length(regexp_replace(col("text"), " the ", ""))) / 5)
        .cast("long")
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        toks.as("n_tokens"),
        theCount.as("the_count"),
        round((length(col("text")).cast("double") / toks), 4).as("avg_token_span"))
  }

  /** The SQL mirror of the whitespace tokenizer's count — ONE definition
    * shared by [[textStatsSql]] and the curation oracle, so a tokenizer
    * change has a single SQL reflection.
    */
  private[queries] val nTokensSqlExpr: String = "len(string_split(text, ' '))"

  /** DuckDB oracle. Note `replace` vs Spark's `regexp_replace`: both do
    * non-overlapping left-to-right replacement of the literal ` the `, so
    * counts agree.
    */
  val textStatsSql: String =
    s"""SELECT doc_id, lang,
       length(text) AS n_chars,
       $nTokensSqlExpr AS n_tokens,
       CAST((length(text) - length(replace(text, ' the ', ''))) // 5 AS BIGINT) AS the_count,
       round(CAST(length(text) AS DOUBLE) / $nTokensSqlExpr, 4) AS avg_token_span
       FROM documents"""

  /** Corpus language/source profile: count + mean length per (lang,
    * source) — the "per-digitiser live stats" shape (§2.6 A5) applied to
    * documents.
    */
  def corpusProfile(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(length(col("text"))), 4).as("mean_chars"),
        min(col("doc_id")).as("min_doc_id"))

  val corpusProfileSql: String =
    """SELECT lang, source, count(*) AS n_docs,
       round(avg(length(text)), 4) AS mean_chars,
       min(doc_id) AS min_doc_id
       FROM documents GROUP BY lang, source"""

  /** Chi-squared test of association between `lang` and `source` — is the
    * corpus mix independent, or do sources specialise by language? Emits
    * the full contingency table (observed, expected, per-cell χ²
    * contribution) with the corpus-level χ², degrees of freedom, and
    * Cramér's V attached — the composition-drift monitor a curation
    * pipeline runs per ingest batch.
    *
    * Oracle parity: per-cell contributions are rounded to 6 dp, and the
    * corpus χ² is a SORTED fold of those rounded cells
    * (`aggregate(array_sort(collect_list(…)))` ↔ DuckDB
    * `list_reduce(list_sort(list(…)))`), so the float reduction is
    * order-identical across engines.
    *
    * Scale: documents is scanned ONCE into the (lang, source) counts —
    * one tiny-key shuffle with map-side partial agg; everything after
    * operates on |langs|×|sources| rows (broadcast joins, a bounded
    * collect_list), driver-size by construction.
    */
  def chi2Assoc(s: SparkSession, dir: String): DataFrame = {
    val obs = Reuse.pin(
      Tables
        .documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_obs")))
    val rowTot = obs.groupBy(col("lang")).agg(sum(col("n_obs")).as("lang_tot"))
    val colTot = obs.groupBy(col("source")).agg(sum(col("n_obs")).as("source_tot"))
    val tot = obs.agg(
      sum(col("n_obs")).as("n_total"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    // the FULL lattice, zero-observation cells included — dropping empty
    // cells silently understates χ² (their contribution is `expected`)
    val cells = rowTot
      .crossJoin(colTot)
      .join(obs, Seq("lang", "source"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn(
        "expected",
        round(
          col("lang_tot").cast("double") * col("source_tot").cast("double")
            / col("n_total").cast("double"),
          6))
      .withColumn(
        "contrib",
        round(
          (col("n_obs").cast("double") - col("expected"))
            * (col("n_obs").cast("double") - col("expected")) / col("expected"),
          6))
    val chi2 = cells.agg(
      aggregate(
        array_sort(collect_list(col("contrib"))),
        lit(0.0),
        (acc, x) => acc + x).as("chi2_raw"),
      first(col("n_total")).as("n_total"),
      first(col("n_langs")).as("n_langs"),
      first(col("n_sources")).as("n_sources"))
    val stats = chi2.select(
      round(col("chi2_raw"), 6).as("chi2"),
      ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
      round(
        sqrt(
          col("chi2_raw") / (col("n_total").cast("double")
            * (least(col("n_langs"), col("n_sources")) - lit(1)).cast("double"))),
        6).as("cramers_v"))
    cells
      .select(col("lang"), col("source"), col("n_obs"), col("expected"), col("contrib"))
      .crossJoin(broadcast(stats))
  }

  val chi2AssocSql: String =
    """WITH obs AS (
         SELECT lang, source, count(*) AS n_obs
         FROM documents GROUP BY 1, 2),
       rowtot AS (SELECT lang, sum(n_obs) AS lang_tot FROM obs GROUP BY 1),
       coltot AS (SELECT source, sum(n_obs) AS source_tot FROM obs GROUP BY 1),
       tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total,
                      count(DISTINCT lang) AS n_langs,
                      count(DISTINCT source) AS n_sources
               FROM obs),
       cells AS (
         SELECT r.lang, c.source, COALESCE(o.n_obs, 0) AS n_obs,
                round(CAST(r.lang_tot AS DOUBLE) * CAST(c.source_tot AS DOUBLE)
                      / CAST(t.n_total AS DOUBLE), 6) AS expected
         FROM rowtot r CROSS JOIN coltot c
         LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source
         CROSS JOIN tot t),
       cells2 AS (
         SELECT lang, source, n_obs, expected,
                round((CAST(n_obs AS DOUBLE) - expected)
                      * (CAST(n_obs AS DOUBLE) - expected) / expected, 6) AS contrib
         FROM cells),
       agg AS (
         SELECT list_reduce(list_prepend(0.0, list_sort(list(contrib))),
                            (x, y) -> x + y) AS chi2_raw
         FROM cells2),
       stats AS (
         SELECT round(a.chi2_raw, 6) AS chi2,
                (t.n_langs - 1) * (t.n_sources - 1) AS dof,
                round(sqrt(a.chi2_raw / (CAST(t.n_total AS DOUBLE)
                      * CAST(least(t.n_langs, t.n_sources) - 1 AS DOUBLE))), 6)
                  AS cramers_v
         FROM agg a CROSS JOIN tot t)
       SELECT c.lang, c.source, c.n_obs, c.expected, c.contrib,
              s.chi2, s.dof, s.cramers_v
       FROM cells2 c CROSS JOIN stats s"""

  /** Per-document readability scores — Flesch reading-ease and
    * Flesch–Kincaid grade level over a deterministic proxy lexer: words
    * are whitespace tokens, sentences are `[.!?]+` runs (min 1),
    * syllables are vowel-group runs. The classic text-quality feature a
    * curation pipeline scores alongside [[CurationQueries]]' heuristics.
    *
    * Oracle parity: every value is per-row scalar arithmetic on the same
    * expression tree — no reductions, so IEEE results are bit-identical
    * across engines; regex semantics for these character classes agree
    * between Java regex and RE2.
    *
    * Scale: pure narrow projection — zero shuffles, codegen'd end to
    * end, scan pruned to (doc_id, lang, text).
    */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val words = size(split(col("text"), " ", -1)).cast("double")
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("double")
    val syllables = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("double")
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        words.cast("long").as("n_words"),
        sentences.cast("long").as("n_sentences"),
        syllables.cast("long").as("n_syllables"),
        round(
          lit(206.835) - lit(1.015) * (words / sentences)
            - lit(84.6) * (syllables / words),
          4).as("flesch_ease"),
        round(
          lit(0.39) * (words / sentences) + lit(11.8) * (syllables / words)
            - lit(15.59),
          4).as("fk_grade"))
  }

  val readabilitySql: String =
    s"""WITH m AS (
         SELECT doc_id, lang,
                CAST($nTokensSqlExpr AS DOUBLE) AS words,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE)
                  AS sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                  AS syllables
         FROM documents)
       SELECT doc_id, lang,
              CAST(words AS BIGINT) AS n_words,
              CAST(sentences AS BIGINT) AS n_sentences,
              CAST(syllables AS BIGINT) AS n_syllables,
              round(206.835 - 1.015 * (words / sentences)
                    - 84.6 * (syllables / words), 4) AS flesch_ease,
              round(0.39 * (words / sentences) + 11.8 * (syllables / words)
                    - 15.59, 4) AS fk_grade
       FROM m"""

  // --------------------------------------------------------------------
  // q_yule_k — lexical-richness profile per source
  // --------------------------------------------------------------------

  /** Yule's characteristic K per source — the classic vocabulary-
    * repetitiveness constant (Yule 1944) a curation pipeline uses to
    * flag template/boilerplate-heavy sources (high K = few words doing
    * most of the work): with per-word frequencies m_w over a source,
    *
    *   K = 10⁴ · (Σ_w m_w² − N) / N²   (N = token count)
    *
    * plus vocabulary size and hapax count. Everything is an exact
    * BIGINT sum until the single final division.
    *
    * Scale: one (source, word) map-side-combined aggregate, then a
    * 20-row rollup. The word table is the shuffle; nothing else moves.
    */
  def yuleK(s: SparkSession, dir: String): DataFrame = {
    Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; explode otherwise 1-core
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("source"))
      .agg(
        sum(col("m")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("m") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("m") * col("m")).as("m2"))
      .select(
        col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        q6(
          lit(1e4) * (col("m2") - col("n_tokens")).cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double")).as("yule_k"))
  }

  val yuleKSql: String =
    """WITH words AS (
         SELECT source, w, count(*) AS m
         FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE w <> '' GROUP BY 1, 2),
       agg AS (
         SELECT source,
                CAST(sum(m) AS BIGINT) AS n_tokens,
                count(*) AS vocab,
                CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
                CAST(sum(m * m) AS BIGINT) AS m2
         FROM words GROUP BY 1)
       SELECT source, n_tokens, vocab, hapax,
              floor(1e4 * CAST(m2 - n_tokens AS DOUBLE)
                    / CAST(n_tokens * n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 AS yule_k
       FROM agg"""

  // --------------------------------------------------------------------
  // q_hellinger — distribution distance of each source vs the corpus
  // --------------------------------------------------------------------

  /** Hellinger distance H = √(1 − BC) between each source's unigram
    * distribution and the whole corpus (BC = Σ_w √(p_w·q_w), the
    * Bhattacharyya coefficient) — the bounded-metric cousin of the KL
    * divergence drift readout, stable when a word is absent on one side
    * (the term is just 0, no smoothing needed).
    *
    * Exactness at corpus scale: each word's √(p·q) term is quantized to
    * ⌊term·10⁹⌋ and summed as BIGINT — the vocabulary-sized Σ is
    * order-independent (the q_lm_perplexity discipline), so no
    * vocabulary-sized float fold or per-source array exists anywhere.
    *
    * Scale: one (source, word) aggregate; word totals derive from it by
    * a second keyed rollup; the term join is word-keyed.
    */
  def hellinger(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; explode otherwise 1-core
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("k"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("k")).as("n1"))
    val wordTot = cells.groupBy(col("w")).agg(sum(col("k")).as("kw"))
    val allTot = srcTot.agg(sum(col("n1")).as("nn"))
    val term =
      """sqrt((CAST(k AS DOUBLE) / CAST(n1 AS DOUBLE))
              * (CAST(kw AS DOUBLE) / CAST(nn AS DOUBLE)))"""
    cells
      .join(srcTot, "source")
      .join(wordTot, "w")
      .crossJoin(broadcast(allTot))
      // q-domain note (Quantize): term = √(p·q) ≤ 1, so each t9 ≤ 1e9;
      // the BIGINT sum is exact until a source holds ≥ 9.2e9 DISTINCT
      // words (vocabulary-bounded, not corpus-bounded), past which ANSI
      // Spark fails loudly instead of silently diverging from the
      // oracle's HUGEINT-wide sum
      .withColumn("t9", expr(s"CAST(floor($term * 1e9) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("t9")).as("s9"))
      .select(
        col("source"),
        col("n_words"),
        q6(expr("CAST(s9 AS DOUBLE) / 1e9")).as("bc"),
        q6(expr("sqrt(greatest(1.0 - CAST(s9 AS DOUBLE) / 1e9, 0.0))")).as("hellinger"))
  }

  val hellingerSql: String = {
    val term =
      """sqrt((CAST(k AS DOUBLE) / CAST(n1 AS DOUBLE))
              * (CAST(kw AS DOUBLE) / CAST(nn AS DOUBLE)))"""
    s"""WITH cells AS (
         SELECT source, w, count(*) AS k
         FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE w <> '' GROUP BY 1, 2),
       srctot AS (SELECT source, CAST(sum(k) AS BIGINT) AS n1 FROM cells GROUP BY 1),
       wordtot AS (SELECT w, CAST(sum(k) AS BIGINT) AS kw FROM cells GROUP BY 1),
       alltot AS (SELECT CAST(sum(n1) AS BIGINT) AS nn FROM srctot),
       t9 AS (
         SELECT c.source, CAST(floor($term * 1e9) AS BIGINT) AS t9
         FROM cells c
         JOIN srctot USING (source)
         JOIN wordtot USING (w)
         CROSS JOIN alltot)
       SELECT source, count(*) AS n_words,
              floor(CAST(CAST(sum(t9) AS BIGINT) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS bc,
              floor(sqrt(greatest(1.0 - CAST(CAST(sum(t9) AS BIGINT) AS DOUBLE) / 1e9, 0.0))
                    * 1e6 + 0.5) / 1e6 AS hellinger
       FROM t9 GROUP BY 1"""
  }

  // --------------------------------------------------------------------
  // q_keyword_llr — Dunning log-likelihood keyword extraction
  // --------------------------------------------------------------------

  /** Top-5 keywords per source by Dunning's log-likelihood ratio
    * (Dunning 1993): the 2×2 contingency G² of "this word in this
    * source vs the rest of the corpus", the standard
    * surprise-over-frequency keyword extractor (TF-IDF's statistically
    * grounded sibling). Counts are exact BIGINTs; each G² term
    * O·ln(O/E) is the SAME expression text in both engines; G² is
    * quantized to 1e-9 BEFORE the per-source ranking so ties order
    * identically; only words with k₁ ≥ 5 enter the ranking.
    *
    * Scale: one (source, word) aggregate; word totals derive from it by
    * a second keyed rollup (no second corpus scan); the top-5 window
    * partitions by source over the k₁-prefiltered candidate set.
    */
  def keywordLlr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.spread(Tables.documents(s, dir)) // 1-row-group scan; explode otherwise 1-core
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("k1"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("k1")).as("n1"))
    val wordTot = cells.groupBy(col("w")).agg(sum(col("k1")).as("kw"))
    val allTot = srcTot.agg(sum(col("n1")).as("nn"))
    // the SAME four O·ln(O/E) terms as the oracle, expanded inline
    def term(o: String, e: String) =
      s"(CASE WHEN $o > 0.0 THEN ($o) * ln(($o) / ($e)) ELSE 0.0 END)"
    val g2Sql =
      s"""(2.0 * (${term("CAST(k1 AS DOUBLE)", "CAST(n1 AS DOUBLE) * CAST(kw AS DOUBLE) / CAST(nn AS DOUBLE)")}
                + ${term("CAST(n1 - k1 AS DOUBLE)", "CAST(n1 AS DOUBLE) * CAST(nn - kw AS DOUBLE) / CAST(nn AS DOUBLE)")}
                + ${term("CAST(kw - k1 AS DOUBLE)", "CAST(nn - n1 AS DOUBLE) * CAST(kw AS DOUBLE) / CAST(nn AS DOUBLE)")}
                + ${term(
        "CAST((nn - n1) - (kw - k1) AS DOUBLE)",
        "CAST(nn - n1 AS DOUBLE) * CAST(nn - kw AS DOUBLE) / CAST(nn AS DOUBLE)")}))"""
    val wTop = Window.partitionBy(col("source")).orderBy(col("g9").desc, col("w"))
    cells
      .filter(col("k1") >= 5)
      .join(srcTot, "source")
      .join(wordTot, "w")
      .crossJoin(broadcast(allTot))
      // enriched keywords only: over-represented in this source
      .filter(col("k1") * col("nn") > col("n1") * col("kw"))
      .withColumn("g2", expr(g2Sql))
      // G² grows with corpus volume (O·ln(O/E) over token counts), so
      // the rank/output quantizers are the double-domain q9u/q6u —
      // floor(double)'s BIGINT clamp would collapse every huge-G² word
      // onto one tie and silently reorder the top-k vs the oracle
      // (g2 ≥ 0 after the enrichment filter, so the u-domain applies)
      .withColumn("g9", Quantize.q9u(col("g2")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 5)
      .select(
        col("source"), col("rank"), col("w").as("word"), col("k1"), col("kw"),
        Quantize.q6u(col("g2")).as("g2"))
  }

  val keywordLlrSql: String = {
    def term(o: String, e: String) =
      s"(CASE WHEN $o > 0.0 THEN ($o) * ln(($o) / ($e)) ELSE 0.0 END)"
    val g2 =
      s"""(2.0 * (${term("CAST(k1 AS DOUBLE)", "CAST(n1 AS DOUBLE) * CAST(kw AS DOUBLE) / CAST(nn AS DOUBLE)")}
                + ${term("CAST(n1 - k1 AS DOUBLE)", "CAST(n1 AS DOUBLE) * CAST(nn - kw AS DOUBLE) / CAST(nn AS DOUBLE)")}
                + ${term("CAST(kw - k1 AS DOUBLE)", "CAST(nn - n1 AS DOUBLE) * CAST(kw AS DOUBLE) / CAST(nn AS DOUBLE)")}
                + ${term(
        "CAST((nn - n1) - (kw - k1) AS DOUBLE)",
        "CAST(nn - n1 AS DOUBLE) * CAST(nn - kw AS DOUBLE) / CAST(nn AS DOUBLE)")}))"""
    s"""WITH cells AS (
         SELECT source, w, count(*) AS k1
         FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE w <> '' GROUP BY 1, 2),
       srctot AS (SELECT source, CAST(sum(k1) AS BIGINT) AS n1 FROM cells GROUP BY 1),
       wordtot AS (SELECT w, CAST(sum(k1) AS BIGINT) AS kw FROM cells GROUP BY 1),
       alltot AS (SELECT CAST(sum(n1) AS BIGINT) AS nn FROM srctot),
       scored AS (
         SELECT c.source, c.w, c.k1, wt.kw, $g2 AS g2
         FROM cells c
         JOIN srctot st USING (source)
         JOIN wordtot wt USING (w)
         CROSS JOIN alltot
         WHERE c.k1 >= 5 AND c.k1 * nn > st.n1 * wt.kw),
       ranked AS (
         SELECT *, ((g2 * 1e9 + 0.5) - (g2 * 1e9 + 0.5) % 1.0) / 1e9 AS g9,
                row_number() OVER (PARTITION BY source
                                   ORDER BY ((g2 * 1e9 + 0.5) - (g2 * 1e9 + 0.5) % 1.0) / 1e9
                                            DESC, w) AS rank
         FROM scored)
       SELECT source, CAST(rank AS BIGINT) AS rank, w AS word, k1, kw,
              ((g2 * 1e6 + 0.5) - (g2 * 1e6 + 0.5) % 1.0) / 1e6 AS g2
       FROM ranked WHERE rank <= 5"""
  }
}
