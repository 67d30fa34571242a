package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Quantize.{q6, q6Sql}

/** Generation-evaluation and multiple-testing family: corpus BLEU
  * (Papineni et al. 2002), micro-averaged ROUGE-N (Lin 2004),
  * Benjamini–Hochberg FDR control over a family of Welch z-tests
  * (Benjamini & Hochberg 1995), and Maximal Marginal Relevance
  * diversified re-ranking (Carbonell & Goldstein 1998).
  *
  * Exactness contract (same as [[RobustQueries]]): every count stays an
  * exact BIGINT until one final double expression evaluated identically
  * by both engines; outputs are quantized `floor(x·10⁶+0.5)/10⁶`; the
  * BH p-values are quantized to 1e-9 BEFORE ranking so the order is
  * engine-stable; the one transcendental (exp in the erf polynomial and
  * the BLEU geometric mean) is shared as the SAME SQL text between the
  * Spark plan and the DuckDB oracle.
  *
  * The evaluation pairs are the deterministic fixture pairing
  * (candidate `doc_id d`, reference `d + 20`): `source = doc_id % 20`,
  * so both sides of a pair share a source and every source contributes
  * ~`|docs|/20` pairs.
  */
object EvalQueries {

  // --------------------------------------------------------------------
  // shared: candidate/reference document pairs
  // --------------------------------------------------------------------

  /** (pair_id, source, cw, rw): candidate tokens and reference tokens
    * for the (d, d+20) same-source pairing. One equi-join on doc_id —
    * shuffles the documents table once; at cluster scale this is the
    * standard co-partitioned self-join on the pair key.
    */
  private def pairedDocs(s: SparkSession, dir: String): DataFrame = {
    // persisted (r17): the cand/ref sides of the pair join are both
    // projections of this tokenized table, and the eval queries
    // reference pairedDocs itself up to twice (rouge cg/rg) — without
    // the cache the final plans re-scanned and re-split documents up to
    // 5×. One tokenize pass, pinned.
    val d = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ", -1).as("w")))
    val cand = d.select(col("doc_id").as("pair_id"), col("source"), col("w").as("cw"))
    val ref = d.select((col("doc_id") - 20).as("pair_id"), col("w").as("rw"))
    cand.join(ref, "pair_id")
  }

  private val pairedDocsSql: String =
    """d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       p AS (SELECT c.doc_id AS pair_id, c.source, c.w AS cw, r.w AS rw
             FROM d c JOIN d r ON r.doc_id = c.doc_id + 20)"""

  /** All n-grams for n in 1..maxN of token array `arr`, as
    * (n, gram) structs. `slice(sequence(1, size), 1, greatest(len-n+1, 0))`
    * instead of `sequence(1, len-n+1)` because Spark's `sequence(1, 0)`
    * counts DOWN ([1, 0]) rather than returning empty.
    */
  private def gramsExpr(arr: String, maxN: Int): String =
    s"""flatten(transform(sequence(1, $maxN), n ->
          transform(slice(sequence(1, size($arr)), 1, greatest(size($arr) - n + 1, 0)),
                    i -> named_struct('n', n, 'gram', concat_ws(' ', slice($arr, i, n))))))"""

  /** Sorted word n-grams of one side as an in-row array — the building
    * block of the WITHIN-ROW clipped-match plan shared by BLEU, ROUGE
    * and chrF (r13): both texts of a pair sit on the same row, so
    * per-pair clipping needs no (pair, gram)-keyed shuffle at all. The
    * slice guard keeps texts shorter than n at an EMPTY array, never a
    * descending sequence.
    */
  private def sortedGramsExpr(arr: String, n: Int): String =
    s"""array_sort(transform(
          slice(sequence(1, size($arr)), 1, greatest(size($arr) - $n + 1, 0)),
          i -> concat_ws(' ', slice($arr, i, $n))))"""

  /** Σ_g min(count_a(g), count_b(g)) over two SORTED multiset arrays: a
    * two-pointer merge as a bounded fold (one pointer advances per
    * step, so size(a)+size(b) steps always suffice); greatest(…, 1)
    * keeps the step sequence non-descending when both sides are empty.
    * Element-type generic (string word-grams and BIGINT char-gram codes
    * compare with the same =/< semantics in both engines).
    */
  private def multisetClipExpr(a: String, b: String): String =
    s"""aggregate(
          sequence(1, greatest(size($a) + size($b), 1)),
          named_struct('i', 1, 'j', 1, 'm', 0L),
          (acc, x) -> CASE
            WHEN acc.i > size($a) OR acc.j > size($b) THEN acc
            WHEN element_at($a, acc.i) = element_at($b, acc.j)
              THEN named_struct('i', acc.i + 1, 'j', acc.j + 1, 'm', acc.m + 1L)
            WHEN element_at($a, acc.i) < element_at($b, acc.j)
              THEN named_struct('i', acc.i + 1, 'j', acc.j, 'm', acc.m)
            ELSE named_struct('i', acc.i, 'j', acc.j + 1, 'm', acc.m) END,
          acc -> acc.m)"""

  /** DuckDB twin: chained lateral unnests (generate_series(1, 0) is
    * empty in DuckDB, so no guard needed); slice is 1-based inclusive.
    */
  private def gramsSqlFrom(src: String, arr: String, maxN: Int): String =
    s"""FROM $src, unnest(generate_series(1, $maxN)) t(n),
          unnest(generate_series(1, len($arr) - n + 1)) ss(i)"""

  // --------------------------------------------------------------------
  // q_bleu — corpus-level BLEU-4 per source
  // --------------------------------------------------------------------

  /** Corpus BLEU-4 per source over the fixture pairs: clipped modified
    * n-gram precision p_n = Σ_pairs min(cand_count, ref_count) /
    * Σ_pairs cand_count for n = 1..4, brevity penalty
    * exp(min(0, 1 − rlen/clen)), BLEU = BP · exp(¼ Σ ln p_n) (0 when
    * any p_n is 0).
    *
    * Since r14 this IS the dictionary-coded in-row plan
    * ([[bleuCorpusCoded]]): the r13 A/B found string-gram in-row clips
    * LOSE to the (pair, n, gram) shuffle plan, but dictionary-encoding
    * tokens first flips it — measured 14.1 → 3.0 s at sf1 (SCALE.md
    * r14), same exact output, same oracle. All ratios are ratios of
    * exact BIGINT sums; ln/exp run once per source on those ratios with
    * the operand order fixed by the expression text.
    */
  def bleuCorpus(s: SparkSession, dir: String): DataFrame = bleuCorpusCoded(s, dir)

  val bleuCorpusSql: String = {
    def p(n: Int) = s"(CAST(m$n AS DOUBLE) / CAST(t$n AS DOUBLE))"
    val bp = "CASE WHEN clen >= rlen THEN 1.0 " +
      "ELSE exp(1.0 - CAST(rlen AS DOUBLE) / CAST(clen AS DOUBLE)) END"
    s"""WITH $pairedDocsSql,
       cg AS (SELECT pair_id, source, n, array_to_string(cw[i:i+n-1], ' ') AS gram,
                     count(*) AS c_cnt
              ${gramsSqlFrom("p", "cw", 4)} GROUP BY 1, 2, 3, 4),
       rg AS (SELECT pair_id, n, array_to_string(rw[i:i+n-1], ' ') AS gram,
                     count(*) AS r_cnt
              ${gramsSqlFrom("p", "rw", 4)} GROUP BY 1, 2, 3),
       clip AS (
         SELECT cg.source, cg.n,
                CAST(sum(least(cg.c_cnt, COALESCE(rg.r_cnt, 0))) AS BIGINT) AS m,
                CAST(sum(cg.c_cnt) AS BIGINT) AS t
         FROM cg LEFT JOIN rg
           ON rg.pair_id = cg.pair_id AND rg.n = cg.n AND rg.gram = cg.gram
         GROUP BY 1, 2),
       wide AS (
         SELECT source,
                CAST(sum(CASE WHEN n = 1 THEN m ELSE 0 END) AS BIGINT) AS m1,
                CAST(sum(CASE WHEN n = 1 THEN t ELSE 0 END) AS BIGINT) AS t1,
                CAST(sum(CASE WHEN n = 2 THEN m ELSE 0 END) AS BIGINT) AS m2,
                CAST(sum(CASE WHEN n = 2 THEN t ELSE 0 END) AS BIGINT) AS t2,
                CAST(sum(CASE WHEN n = 3 THEN m ELSE 0 END) AS BIGINT) AS m3,
                CAST(sum(CASE WHEN n = 3 THEN t ELSE 0 END) AS BIGINT) AS t3,
                CAST(sum(CASE WHEN n = 4 THEN m ELSE 0 END) AS BIGINT) AS m4,
                CAST(sum(CASE WHEN n = 4 THEN t ELSE 0 END) AS BIGINT) AS t4
         FROM clip GROUP BY 1),
       lens AS (SELECT source, count(*) AS n_pairs,
                       CAST(sum(len(cw)) AS BIGINT) AS clen,
                       CAST(sum(len(rw)) AS BIGINT) AS rlen
                FROM p GROUP BY 1)
       SELECT source, n_pairs, clen, rlen,
              ${q6Sql(p(1))} AS p1, ${q6Sql(p(2))} AS p2,
              ${q6Sql(p(3))} AS p3, ${q6Sql(p(4))} AS p4,
              ${q6Sql(bp)} AS bp,
              ${q6Sql(
        s"""CASE WHEN m1 > 0 AND m2 > 0 AND m3 > 0 AND m4 > 0
             THEN ($bp) * exp((ln(${p(1)}) + ln(${p(2)}) + ln(${p(3)}) + ln(${p(4)})) / 4.0)
             ELSE 0.0 END""")} AS bleu
       FROM lens JOIN wide USING (source)"""
  }

  // --------------------------------------------------------------------
  // q_rouge — micro-averaged ROUGE-1/ROUGE-2 per source
  // --------------------------------------------------------------------

  /** Micro-averaged ROUGE-N (n = 1, 2) per source over the same fixture
    * pairs: precision = Σ clipped matches / Σ candidate grams, recall =
    * Σ clipped matches / Σ reference grams (the reference total comes
    * from the reference gram table itself, NOT the join — grams present
    * only in the reference still count in the recall denominator), F1
    * the harmonic mean. Micro-averaging keeps every numerator and
    * denominator an exact BIGINT sum; a mean of per-pair float F1s
    * would be summation-order-dependent.
    *
    * Plan note (r14 A/B, SCALE.md): a dictionary-coded in-row twin of
    * [[bleuCorpusCoded]] was built and MEASURED A WASH at sf1 (8.2 vs
    * 8.8 s isolated) and a loss at sf0.1 (2.85 vs 1.35 s) — ROUGE's
    * n ≤ 2 gram volume is too small for the encode stages to pay off,
    * so the gram-shuffle plan stays (the BLEU-side win came from the
    * 4-gram volume). Recorded like the r13 string-clip revert.
    */
  def rougeScores(s: SparkSession, dir: String): DataFrame = {
    val pairs = pairedDocs(s, dir)
    val cg = pairs
      .select(col("pair_id"), col("source"), explode(expr(gramsExpr("cw", 2))).as("g"))
      .groupBy(col("pair_id"), col("source"), col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as("c_cnt"))
    // persisted (r17): rg feeds both the clipped-match join and the
    // recall denominator — unpersisted, the reference gram pipeline
    // (pair join + explode + aggregate) ran twice.
    val rg = Reuse.pin(
      pairs
        .select(col("pair_id"), col("source"), explode(expr(gramsExpr("rw", 2))).as("g"))
        .groupBy(col("pair_id"), col("source"), col("g.n").as("n"), col("g.gram").as("gram"))
        .agg(count(lit(1)).as("r_cnt")))
    val matches = cg
      .join(rg.drop("source"), Seq("pair_id", "n", "gram"), "left")
      .groupBy(col("source"), col("n"))
      .agg(
        sum(least(col("c_cnt"), coalesce(col("r_cnt"), lit(0L)))).as("m"),
        sum(col("c_cnt")).as("ct"))
    val refTot = rg
      .groupBy(col("source"), col("n"))
      .agg(sum(col("r_cnt")).as("rt"))
    val prec = col("m").cast("double") / col("ct").cast("double")
    val rec = col("m").cast("double") / col("rt").cast("double")
    val f1 = when(col("m") > 0, lit(2.0) * prec * rec / (prec + rec)).otherwise(lit(0.0))
    matches
      .join(refTot, Seq("source", "n"))
      .select(
        col("source"), col("n").cast("long").as("n"),
        col("m"), col("ct"), col("rt"),
        q6(prec).as("prec"), q6(rec).as("rec"), q6(f1).as("f1"))
  }

  val rougeScoresSql: String = {
    val prec = "(CAST(m AS DOUBLE) / CAST(ct AS DOUBLE))"
    val rec = "(CAST(m AS DOUBLE) / CAST(rt AS DOUBLE))"
    s"""WITH $pairedDocsSql,
       cg AS (SELECT pair_id, source, n, array_to_string(cw[i:i+n-1], ' ') AS gram,
                     count(*) AS c_cnt
              ${gramsSqlFrom("p", "cw", 2)} GROUP BY 1, 2, 3, 4),
       rg AS (SELECT pair_id, source, n, array_to_string(rw[i:i+n-1], ' ') AS gram,
                     count(*) AS r_cnt
              ${gramsSqlFrom("p", "rw", 2)} GROUP BY 1, 2, 3, 4),
       mt AS (
         SELECT cg.source, cg.n,
                CAST(sum(least(cg.c_cnt, COALESCE(rg.r_cnt, 0))) AS BIGINT) AS m,
                CAST(sum(cg.c_cnt) AS BIGINT) AS ct
         FROM cg LEFT JOIN rg
           ON rg.pair_id = cg.pair_id AND rg.n = cg.n AND rg.gram = cg.gram
         GROUP BY 1, 2),
       rt AS (SELECT source, n, CAST(sum(r_cnt) AS BIGINT) AS rt
              FROM rg GROUP BY 1, 2)
       SELECT source, n, m, ct, rt,
              ${q6Sql(prec)} AS prec, ${q6Sql(rec)} AS rec,
              ${q6Sql(s"CASE WHEN m > 0 THEN 2.0 * $prec * $rec / ($prec + $rec) ELSE 0.0 END")} AS f1
       FROM mt JOIN rt USING (source, n)"""
  }

  // --------------------------------------------------------------------
  // q_bleu_coded / q_rouge_coded — the dictionary-encoded in-row plans
  // --------------------------------------------------------------------

  /** Pairs with token arrays DICTIONARY-ENCODED to long ids — the r14
    * A/B probing whether the chrF lesson (in-row two-pointer clip wins
    * on primitive gram codes, loses on string grams — SCALE.md r13)
    * transfers to the word-gram eval queries once the grams are coded.
    *
    * The vocab is ONE corpus aggregate (distinct tokens), given dense
    * ids by a vocabulary-bounded global sort (the same bounded-window
    * pattern as the BPE vocab), and BROADCAST into the token encode —
    * a real-corpus vocabulary (10⁶ tokens ≈ 16 MB) still broadcasts; a
    * web-scale one would flip the encode join to a shuffle, leaving the
    * rest of the plan unchanged. Encode is then one narrow
    * posexplode→join→regroup: ONE corpus-keyed exchange carrying
    * (doc_id, pos, tid) longs instead of the gram plans' 4·len
    * gram-string rows through three.
    */
  private def codedPairedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ", -1).as("w"))
    // vocabulary-bounded global window (the corpus collapses to its
    // distinct tokens first) — the accepted bounded-window pattern
    val vocab = d
      .select(explode(col("w")).as("tok"))
      .distinct()
      .withColumn(
        "tid",
        (row_number().over(Window.orderBy(col("tok"))) - 1).cast("long"))
    val grouped = d
      .select(col("doc_id"), col("source"), posexplode(col("w")).as(Seq("pos", "tok")))
      .join(broadcast(vocab), "tok")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          x => x.getField("tid")).as("ids"))
    // retention parity with pairedDocs (ADVICE r14): a NULL-text doc has
    // a NULL token array there (split(NULL) = NULL), but posexplode over
    // a NULL array emits no rows, so the doc would vanish from `grouped`
    // and its pair from the output — while the gram plans and the DuckDB
    // oracle keep the pair with NULL-skipping stats. Left-joining the
    // encode back onto the doc keys restores such docs with ids = NULL,
    // which downstream treats exactly like a NULL gram array. The join
    // is doc-keyed and `grouped` is already hash-partitioned on the key
    // by its aggregate, so only the (doc_id, source)-only side shuffles.
    val enc = d
      .select(col("doc_id"), col("source"))
      .join(grouped, Seq("doc_id", "source"), "left")
    val cand = enc.select(col("doc_id").as("pair_id"), col("source"), col("ids").as("cids"))
    val ref = enc.select((col("doc_id") - 20).as("pair_id"), col("ids").as("rids"))
    cand.join(ref, "pair_id")
  }

  /** Sorted n-gram codes of one id array, each gram packed into a
    * struct of two longs with base 2³¹: `a = t₁·2³¹ + t₂`,
    * `b = t₃·2³¹ + t₄`, missing positions padded with the reserved id
    * 2³¹−1 (dense row_number ids stay far below it for any realistic
    * vocabulary; the packing is injective while ids < 2³¹−1, so struct
    * equality ⟺ gram equality and the two-pointer clip is exact). No
    * vocab-size literal is needed, which keeps construction lazy.
    */
  private def codedGramsExpr(ids: String, n: Int): String = {
    val pad = "2147483647L"
    def t(k: Int) = if (k < n) s"element_at($ids, i + $k)" else pad
    s"""array_sort(transform(
          slice(sequence(1, size($ids)), 1, greatest(size($ids) - ${n - 1}, 0)),
          i -> named_struct(
            'a', ${t(0)} * 2147483648L + ${t(1)},
            'b', ${t(2)} * 2147483648L + ${t(3)})))"""
  }

  /** [[bleuCorpus]] re-planned chrF-style: per-pair clipped matches as
    * in-row two-pointer merges over SORTED packed-gram arrays — the
    * only corpus-scale exchanges are the encode regroup and the pair
    * join; the gram stream never shuffles. Bit-identical output (the
    * clip counts are the same integers; the final double expressions
    * are shared with [[bleuCorpus]]), so the DuckDB oracle is reused
    * verbatim.
    */
  def bleuCorpusCoded(s: SparkSession, dir: String): DataFrame = {
    val pairs = codedPairedDocs(s, dir)
    // staged projections so each gram array materializes exactly once
    val withGrams = pairs.select(
      Seq(col("source"), size(col("cids")).cast("long").as("clen"),
        size(col("rids")).cast("long").as("rlen")) ++
        (1 to 4).flatMap(n => Seq(
          expr(codedGramsExpr("cids", n)).as(s"gc$n"),
          expr(codedGramsExpr("rids", n)).as(s"gr$n"))): _*)
    val perPair = withGrams.select(
      Seq(col("source"), col("clen"), col("rlen")) ++
        (1 to 4).flatMap(n => Seq(
          expr(multisetClipExpr(s"gc$n", s"gr$n")).as(s"pm$n"),
          expr(s"size(gc$n)").cast("long").as(s"pt$n"))): _*)
    val wide = perPair
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("clen")).as("clen"),
        sum(col("rlen")).as("rlen"),
        sum(col("pm1")).as("m1"), sum(col("pt1")).as("t1"),
        sum(col("pm2")).as("m2"), sum(col("pt2")).as("t2"),
        sum(col("pm3")).as("m3"), sum(col("pt3")).as("t3"),
        sum(col("pm4")).as("m4"), sum(col("pt4")).as("t4"))
    def p(n: Int): Column = col(s"m$n").cast("double") / col(s"t$n").cast("double")
    val bp = when(col("clen") >= col("rlen"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("rlen").cast("double") / col("clen").cast("double")))
    val bleu = when(
      col("m1") > 0 && col("m2") > 0 && col("m3") > 0 && col("m4") > 0,
      bp * exp((log(p(1)) + log(p(2)) + log(p(3)) + log(p(4))) / lit(4.0)))
      .otherwise(lit(0.0))
    wide.select(
      col("source"), col("n_pairs"), col("clen"), col("rlen"),
      q6(p(1)).as("p1"), q6(p(2)).as("p2"), q6(p(3)).as("p3"), q6(p(4)).as("p4"),
      q6(bp).as("bp"), q6(bleu).as("bleu"))
  }

  // --------------------------------------------------------------------
  // q_bh_fdr — Benjamini–Hochberg over a family of Welch z-tests
  // --------------------------------------------------------------------

  /** One-minus-erf via the Abramowitz & Stegun 7.1.26 polynomial
    * (|err| < 1.5e-7), i.e. the two-sided normal p-value
    * p = 2(1 − Φ(|z|)) = 1 − erf(|z|/√2). The SAME SQL text is planted
    * in both engines so the arithmetic is identical by construction.
    */
  private[queries] def pValSql(absZ: String): String = {
    val a = s"(($absZ) / sqrt(2.0))"
    val t = s"(1.0 / (1.0 + 0.3275911 * $a))"
    s"""(((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t
          - 0.284496736) * $t + 0.254829592) * $t * exp(-$a * $a))"""
  }

  /** Benjamini–Hochberg FDR control (α = 0.05) over the m =
    * |event_type| × 6 family of Welch z-tests "is the mean spend in
    * this (type, 4-hour bucket) cell different from the rest of that
    * type's traffic?". Classic multiple-testing readout for metric
    * sweeps: z from exact integer (n, Σcents, Σcents²) sums, p from the
    * shared erf polynomial, p quantized to 1e-9 BEFORE ranking (an
    * equal-to-15-decimals tie must rank identically in both engines),
    * rejections = ranks ≤ max{k : p_(k) ≤ αk/m}, and step-up adjusted
    * p_adj_(k) = min(1, min_{j≥k} p_(j)·m/j).
    *
    * Scale: one map-side-combined aggregate over events to the ≤30-row
    * cell table; every window after it is on that bounded table.
    */
  def bhFdr(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        expr("CAST(hour(ts) AS BIGINT) div 4").as("bucket"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
    val tot = Tables
      .events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("gn"),
        sum(round(col("value") * 100).cast("long")).as("gs1"),
        sum(round(col("value") * 100).cast("long")
          * round(col("value") * 100).cast("long")).as("gs2"))
    def meanv(s1: Column, n: Column): Column = s1.cast("double") / n.cast("double")
    def varv(s2: Column, s1: Column, n: Column): Column =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / n.cast("double")) /
        (n - 1).cast("double")
    val z = cells
      .join(tot, "event_type")
      .withColumn("on", col("gn") - col("n"))
      .withColumn("os1", col("gs1") - col("s1"))
      .withColumn("os2", col("gs2") - col("s2"))
      .withColumn(
        "z",
        (meanv(col("s1"), col("n")) - meanv(col("os1"), col("on"))) /
          sqrt(varv(col("s2"), col("s1"), col("n")) / col("n").cast("double") +
            varv(col("os2"), col("os1"), col("on")) / col("on").cast("double")))
      .withColumn("p9", floor(expr(pValSql("abs(z)")) * lit(1e9) + lit(0.5)) / lit(1e9))
    // bounded table (≤ |event_type| × 6 rows): global windows are benign
    val wRank = Window.orderBy(col("p9"), col("event_type"), col("bucket"))
    val wAll = Window.partitionBy()
    val wUp = Window
      .orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    z.withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn(
        "kOk",
        when(col("p9") <= col("rank").cast("double") * lit(0.05) / col("m").cast("double"),
          col("rank")).otherwise(lit(0L)))
      .withColumn("kMax", max(col("kOk")).over(wAll))
      .withColumn(
        "p_adj",
        least(lit(1.0),
          min(col("p9") * col("m").cast("double") / col("rank").cast("double")).over(wUp)))
      .select(
        col("event_type"), col("bucket"), col("n"), col("rank"),
        q6(col("z")).as("z"), col("p9").as("p"),
        q6(col("p_adj")).as("p_adj"),
        when(col("rank") <= col("kMax"), 1L).otherwise(0L).as("rejected"))
  }

  val bhFdrSql: String = {
    def meanv(s1: String, n: String) = s"(CAST($s1 AS DOUBLE) / CAST($n AS DOUBLE))"
    def varv(s2: String, s1: String, n: String) =
      s"""((CAST($s2 AS DOUBLE) - CAST($s1 AS DOUBLE) * CAST($s1 AS DOUBLE)
            / CAST($n AS DOUBLE)) / CAST($n - 1 AS DOUBLE))"""
    s"""WITH ev AS (
         SELECT event_type, CAST(hour(ts) // 4 AS BIGINT) AS bucket,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events),
       cells AS (
         SELECT event_type, bucket, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS s1,
                CAST(sum(cents * cents) AS BIGINT) AS s2
         FROM ev GROUP BY 1, 2),
       tot AS (
         SELECT event_type, count(*) AS gn,
                CAST(sum(cents) AS BIGINT) AS gs1,
                CAST(sum(cents * cents) AS BIGINT) AS gs2
         FROM ev GROUP BY 1),
       zt AS (
         SELECT c.event_type, c.bucket, c.n,
                (${meanv("c.s1", "c.n")} - ${meanv("t.gs1 - c.s1", "t.gn - c.n")})
                / sqrt(${varv("c.s2", "c.s1", "c.n")} / CAST(c.n AS DOUBLE)
                       + ${varv("t.gs2 - c.s2", "t.gs1 - c.s1", "t.gn - c.n")}
                         / CAST(t.gn - c.n AS DOUBLE)) AS z
         FROM cells c JOIN tot t USING (event_type)),
       pt AS (
         SELECT event_type, bucket, n, z,
                floor(${pValSql("abs(z)")} * 1e9 + 0.5) / 1e9 AS p9
         FROM zt),
       rk AS (
         SELECT *, row_number() OVER (ORDER BY p9, event_type, bucket) AS rank,
                count(*) OVER () AS m
         FROM pt),
       km AS (
         SELECT *,
                max(CASE WHEN p9 <= CAST(rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE)
                         THEN rank ELSE 0 END) OVER () AS kmax,
                least(1.0, min(p9 * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
                             OVER (ORDER BY rank DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  AS p_adj
         FROM rk)
       SELECT event_type, bucket, n, CAST(rank AS BIGINT) AS rank,
              ${q6Sql("z")} AS z, p9 AS p, ${q6Sql("p_adj")} AS p_adj,
              CAST(CASE WHEN rank <= kmax THEN 1 ELSE 0 END AS BIGINT) AS rejected
       FROM km"""
  }

  // --------------------------------------------------------------------
  // q_chrf — character n-gram F-score per source
  // --------------------------------------------------------------------

  /** chrF2 (Popović 2015) per source over the fixture pairs: character
    * n-grams (n = 1..4, whitespace stripped), micro-averaged clipped
    * precision P_n and recall R_n per order from exact BIGINT sums,
    * F2_n = 5·P·R/(4·P + R), chrF2 = mean of the four F2_n (fixed
    * 4-term sum) — the third leg of the BLEU/ROUGE/chrF generation-eval
    * trio, the one robust to tokenizer choice.
    *
    * Scale: same shape as [[bleuCorpus]] — the char-gram stream
    * aggregates map-side on (pair, n, gram) before the one shuffle, the
    * clip join is an equi-join on the same key, and everything after
    * the per-(source, n) rollup is a 20-row table.
    */
  def chrF(s: SparkSession, dir: String): DataFrame =
    chrFFrom(pairedDocs(s, dir))

  /** Deterministic pair-sample predicate shared CHARACTER-FOR-CHARACTER
    * by the Spark plan and the DuckDB oracle: an LCG mix of the pair id
    * (Knuth/glibc constants) reduced mod 2³¹ then mod K. Pure BIGINT
    * arithmetic — no engine hash function, so both engines pick the
    * IDENTICAL pair subset. The mix step breaks the doc-layout stride
    * that a bare `pair_id % K` would sample along.
    */
  private val ChrFSampleK = 8
  // reduce pair_id mod 2^31 BEFORE the LCG multiply: the product of two
  // sub-2^31 values stays under 2^62, so the predicate is overflow-free
  // for ANY BIGINT pair_id (a bare pair_id * 1103515245 errors in both
  // ANSI engines past pair_id ~ 8.4e9 — exactly the id magnitudes the
  // 100-TB contract exists for)
  private val chrFSamplePred: String =
    s"(((pair_id % 2147483648) * 1103515245 + 12345) % 2147483648) % $ChrFSampleK = 0"

  /** chrF2 on a deterministic 1/$K$ hash-sample of the pairs — the
    * documented 100-TB contract for the board-max query (mirrors the
    * media pair/cluster pattern): [[chrF]]'s gram volume is inherently
    * ~10× BLEU's, and the honest scale lever is sampling PAIRS, not
    * replanning grams (SCALE.md r11 adjudication — the per-doc gram
    * cache measured slower). The sampled estimate feeds the identical
    * gram pipeline; corpus-level chrF2 over a uniform pair sample is
    * the standard fixed-budget evaluation.
    */
  def chrFSampled(s: SparkSession, dir: String): DataFrame =
    chrFFrom(pairedDocs(s, dir).filter(expr(chrFSamplePred)))

  private def chrFFrom(pairs0: DataFrame): DataFrame = {
    // grams are BIGINT base-1024 codes over a precomputed codepoint
    // array (the text is ASCII by construction), and — the r13 plan —
    // the clipped-match counts are computed ENTIRELY WITHIN THE ROW:
    // both texts of a pair sit on the same row, so per order n the
    // candidate and reference gram multisets become two SORTED long
    // arrays and Σ_g min(c_g, r_g) is one two-pointer merge fold. The
    // r12 plan exploded ~8·len gram rows per pair through TWO
    // corpus-sized (pair, n, gram) aggregates and a clip join — three
    // exchanges of the gram stream; this plan's only exchange is the
    // final 12-integer per-source rollup. (sf1: 110.6 → see SCALE.md.)
    def cpsExpr(arr: String): String =
      s"transform(sequence(1, length($arr)), i -> ascii(substring($arr, i, 1)))"
    // sorted n-gram codes of one side; the slice guard keeps texts
    // shorter than n at an EMPTY array (never a descending sequence)
    def gramsExpr(cps: String, n: Int): String =
      s"""array_sort(transform(
            slice(sequence(1, size($cps)), 1, greatest(size($cps) - $n + 1, 0)),
            i -> aggregate(sequence(0, ${n - 1}, 1), 0L,
                           (a, j) -> a * 1024L + element_at($cps, i + j))))"""
    def clipExpr(a: String, b: String): String = multisetClipExpr(a, b)
    val pairs = pairs0
      .withColumn("cc", regexp_replace(concat_ws(" ", col("cw")), " ", ""))
      .withColumn("rc", regexp_replace(concat_ws(" ", col("rw")), " ", ""))
    // three separate projections so the gram arrays materialize once
    // each (CollapseProject keeps non-cheap expressions single-use)
    val withCps = pairs.select(
      col("source"),
      expr(cpsExpr("cc")).as("cps_c"),
      expr(cpsExpr("rc")).as("cps_r"))
    val withGrams = withCps.select(
      col("source") +: (1 to 4).flatMap(n => Seq(
        expr(gramsExpr("cps_c", n)).as(s"gc$n"),
        expr(gramsExpr("cps_r", n)).as(s"gr$n"))): _*)
    val perPair = withGrams.select(
      col("source") +: (1 to 4).flatMap(n => Seq(
        expr(clipExpr(s"gc$n", s"gr$n")).as(s"pm$n"),
        expr(s"size(gc$n)").cast("long").as(s"pc$n"),
        expr(s"size(gr$n)").cast("long").as(s"pr$n"))): _*)
    val wide = perPair
      .groupBy(col("source"))
      .agg(
        sum(col("pm1")).as("m1"), sum(col("pc1")).as("c1"), sum(col("pr1")).as("r1"),
        sum(col("pm2")).as("m2"), sum(col("pc2")).as("c2"), sum(col("pr2")).as("r2"),
        sum(col("pm3")).as("m3"), sum(col("pc3")).as("c3"), sum(col("pr3")).as("r3"),
        sum(col("pm4")).as("m4"), sum(col("pc4")).as("c4"), sum(col("pr4")).as("r4"))
    def f2(n: Int): String = {
      val p = s"(CAST(m$n AS DOUBLE) / CAST(c$n AS DOUBLE))"
      val r = s"(CAST(m$n AS DOUBLE) / CAST(r$n AS DOUBLE))"
      s"(CASE WHEN m$n > 0 THEN 5.0 * $p * $r / (4.0 * $p + $r) ELSE 0.0 END)"
    }
    wide.select(
      col("source"),
      q6(expr(f2(1))).as("f2_1"), q6(expr(f2(2))).as("f2_2"),
      q6(expr(f2(3))).as("f2_3"), q6(expr(f2(4))).as("f2_4"),
      q6(expr(s"(${f2(1)} + ${f2(2)} + ${f2(3)} + ${f2(4)}) / 4.0")).as("chrf2"))
  }

  val chrFSql: String = chrFSqlWhere("")

  val chrFSampledSql: String = chrFSqlWhere(s"WHERE $chrFSamplePred")

  private def chrFSqlWhere(where: String): String = {
    def f2(n: Int): String = {
      val p = s"(CAST(m$n AS DOUBLE) / CAST(c$n AS DOUBLE))"
      val r = s"(CAST(m$n AS DOUBLE) / CAST(r$n AS DOUBLE))"
      s"(CASE WHEN m$n > 0 THEN 5.0 * $p * $r / (4.0 * $p + $r) ELSE 0.0 END)"
    }
    def picks(c: String) = (1 to 4)
      .map(n => s"CAST(sum(CASE WHEN n = $n THEN $c ELSE 0 END) AS BIGINT) AS $c$n")
      .mkString(", ")
    s"""WITH $pairedDocsSql,
       pc AS (SELECT pair_id, source,
                     replace(array_to_string(cw, ' '), ' ', '') AS cc,
                     replace(array_to_string(rw, ' '), ' ', '') AS rc
              FROM p $where),
       pcc AS (SELECT pair_id, source,
                      [ascii(cc[i]) FOR i IN range(1, len(cc) + 1)] AS ccp,
                      [ascii(rc[i]) FOR i IN range(1, len(rc) + 1)] AS rcp
               FROM pc),
       cg AS (SELECT pair_id, source, n,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       [CAST(ccp[i + j] AS BIGINT) FOR j IN range(0, n)]),
                       (a, b) -> a * 1024 + b) AS gram,
                     count(*) AS c_cnt
              FROM pcc, unnest(generate_series(1, 4)) t(n),
                   unnest(generate_series(1, len(ccp) - n + 1)) ss(i)
              GROUP BY 1, 2, 3, 4),
       rg AS (SELECT pair_id, n,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       [CAST(rcp[i + j] AS BIGINT) FOR j IN range(0, n)]),
                       (a, b) -> a * 1024 + b) AS gram,
                     count(*) AS r_cnt
              FROM pcc, unnest(generate_series(1, 4)) t(n),
                   unnest(generate_series(1, len(rcp) - n + 1)) ss(i)
              GROUP BY 1, 2, 3),
       clip AS (
         SELECT cg.source, cg.n,
                CAST(sum(least(cg.c_cnt, COALESCE(rg.r_cnt, 0))) AS BIGINT) AS m,
                CAST(sum(cg.c_cnt) AS BIGINT) AS ct
         FROM cg LEFT JOIN rg
           ON rg.pair_id = cg.pair_id AND rg.n = cg.n AND rg.gram = cg.gram
         GROUP BY 1, 2),
       rt AS (SELECT pc.source, rg.n, CAST(sum(rg.r_cnt) AS BIGINT) AS rt
              FROM rg JOIN pc USING (pair_id) GROUP BY 1, 2),
       wide AS (
         SELECT source, ${picks("m")}, ${picks("ct").replace("AS ct", "AS c")},
                ${picks("rt").replace("AS rt", "AS r")}
         FROM clip JOIN rt USING (source, n) GROUP BY 1)
       SELECT source,
              ${q6Sql(f2(1))} AS f2_1, ${q6Sql(f2(2))} AS f2_2,
              ${q6Sql(f2(3))} AS f2_3, ${q6Sql(f2(4))} AS f2_4,
              ${q6Sql(s"(${f2(1)} + ${f2(2)} + ${f2(3)} + ${f2(4)}) / 4.0")} AS chrf2
       FROM wide"""
  }

  // --------------------------------------------------------------------
  // q_wilcoxon — paired signed-rank test per source
  // --------------------------------------------------------------------

  /** Wilcoxon signed-rank test (Wilcoxon 1945) per source over the
    * fixture pairs, on the paired metric "candidate token count vs
    * reference token count": zero differences dropped, |diff| ranked
    * with AVERAGE ranks for ties — kept integral as 2·avgrank =
    * 2·rank() + (tiecount − 1) — W⁺ accumulated as the exact BIGINT
    * Σ 2·avgrank over positive diffs, normal approximation with the
    * standard tie correction Σ(t³−t)/48, and the two-sided p from the
    * same shared erf polynomial as [[bhFdr]]. The paired companion to
    * the unpaired Mann–Whitney already on the board.
    *
    * Scale: ranks are windowed WITHIN source (partitioned window); the
    * tie rollup is a bounded per-(source, |d|) aggregate.
    */
  def wilcoxon(s: SparkSession, dir: String): DataFrame = {
    val d = pairedDocs(s, dir)
      .select(
        col("source"),
        (size(col("cw")) - size(col("rw"))).cast("long").as("diff"))
      .filter(col("diff") =!= 0)
      .withColumn("absd", abs(col("diff")))
    val wR = Window.partitionBy(col("source")).orderBy(col("absd"))
    val wT = Window.partitionBy(col("source"), col("absd"))
    val ranked = d
      .withColumn("r2", lit(2L) * rank().over(wR) + count(lit(1)).over(wT) - lit(1L))
    val agg = ranked
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("diff") > 0, col("r2")).otherwise(lit(0L))).as("w2p"))
    val ties = d
      .groupBy(col("source"), col("absd"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("source"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tcorr"))
    val zSql =
      """((CAST(w2p AS DOUBLE) / 2.0 - CAST(n * (n + 1) AS DOUBLE) / 4.0)
          / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
                 - CAST(tcorr AS DOUBLE) / 48.0))"""
    agg
      .join(ties, "source")
      .withColumn("z", expr(zSql))
      .select(
        col("source"), col("n"), col("w2p"),
        q6(col("z")).as("z"),
        q6(expr(pValSql("abs(z)"))).as("p"))
  }

  val wilcoxonSql: String = {
    val z =
      """((CAST(w2p AS DOUBLE) / 2.0 - CAST(n * (n + 1) AS DOUBLE) / 4.0)
          / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
                 - CAST(tcorr AS DOUBLE) / 48.0))"""
    s"""WITH $pairedDocsSql,
       df AS (
         SELECT source, CAST(len(cw) - len(rw) AS BIGINT) AS diff,
                abs(len(cw) - len(rw)) AS absd
         FROM p WHERE len(cw) <> len(rw)),
       ranked AS (
         SELECT source, diff,
                2 * rank() OVER (PARTITION BY source ORDER BY absd)
                  + count(*) OVER (PARTITION BY source, absd) - 1 AS r2
         FROM df),
       agg AS (
         SELECT source, count(*) AS n,
                CAST(sum(CASE WHEN diff > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2p
         FROM ranked GROUP BY 1),
       ties AS (
         SELECT source, CAST(sum(t * t * t - t) AS BIGINT) AS tcorr
         FROM (SELECT source, absd, count(*) AS t FROM df GROUP BY 1, 2)
         GROUP BY 1),
       zt AS (SELECT a.source, a.n, a.w2p, t.tcorr, $z AS z
              FROM agg a JOIN ties t USING (source))
       SELECT source, n, w2p, ${q6Sql("z")} AS z,
              ${q6Sql(pValSql("abs(z)"))} AS p
       FROM zt"""
  }

  // --------------------------------------------------------------------
  // q_mmr_rerank — Maximal Marginal Relevance diversified top-5
  // --------------------------------------------------------------------

  private val MmrQueries = 4
  private val MmrPool = 12
  private val MmrK = 5
  private val MmrLambda = "0.7"
  private val MmrMu = "0.3"

  /** MMR re-ranking: for each probe vector (vec_id < 4), take the
    * top-12 candidate pool by exact dot-product relevance, then greedily
    * select 5 with score λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) (λ = 0.7)
    * — the standard diversified re-rank after retrieval.
    *
    * Scale: the corpus-sized work is exactly [[VectorQueries.cosineTopK]]'s
    * proven shape (broadcast probes, one narrow scan, WindowGroupLimit
    * partial top-k below the exchange). The greedy selection runs on the
    * 4×12 pool only: the pool's pairwise sims and the 5-round argmax
    * fold are whole-stage-codegen higher-order functions over per-probe
    * arrays — no driver loop, no `collect`. Ties in the argmax break to
    * the earlier pool position (strict `>` in the fold), mirrored in the
    * oracle by `list_position` on the first maximum.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    graft.plans.VecDot.register(s)
    val e = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val q = e
      .filter(col("vec_id") < MmrQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim_raw").desc, col("vec_id"))
    val pool = e
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim_raw", expr("vec_dot(emb, qemb)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MmrPool)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim_raw"), col("emb"))
    // pairwise sims inside each probe's pool: 4 × 12 × 12 rows, bounded
    val a = pool.select(col("query_id"), col("rank").as("ra"), col("emb").as("ea"))
    val b = pool.select(col("query_id"), col("rank").as("rb"), col("emb").as("eb"))
    val sims = a
      .join(b, "query_id")
      .withColumn("sim", expr("vec_dot(ea, eb)"))
      .select(col("query_id"), col("ra"), col("rb"), col("sim"))
    val perProbe = pool
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rank"), col("vec_id"), col("sim_raw")))).as("cs"))
      .select(
        col("query_id"),
        transform(col("cs"), c => c.getField("vec_id")).as("vids"),
        transform(col("cs"), c => c.getField("sim_raw")).as("rels"))
    val simFlat = sims
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("ra"), col("rb"), col("sim")))).as("ps"))
      .select(col("query_id"), transform(col("ps"), x => x.getField("sim")).as("sims"))
    // 5-round greedy fold entirely in SQL higher-order functions;
    // state = (selected pool positions, their MMR scores)
    // masked MMR scores for the current state `st`: -1e308 on already-
    // selected positions, else λ·rel − (1−λ)·max-sim-to-selected
    val masked =
      s"""transform(sequence(1, size(vids)), i -> IF(
            array_contains(st.sel, cast(i as bigint)), cast(-1e308 as double),
            $MmrLambda * element_at(rels, i) - $MmrMu * IF(
              size(st.sel) = 0, cast(0.0 as double),
              array_max(transform(st.sel,
                j -> element_at(sims, cast((i - 1) * size(vids) + j as int)))))))"""
    val fold =
      s"""aggregate(
            sequence(1, $MmrK),
            named_struct('sel', cast(array() as array<bigint>),
                         'sc', cast(array() as array<double>)),
            (st, r) -> named_struct(
              'sel', concat(st.sel, array(array_position($masked, array_max($masked)))),
              'sc', concat(st.sc, array(array_max($masked)))))"""
    perProbe
      .join(simFlat, "query_id")
      .withColumn("st", expr(fold))
      .select(
        col("query_id"), col("vids"), col("rels"), col("st.sc").as("scs"),
        posexplode(col("st.sel")))
      .withColumnRenamed("pos", "r0")
      .select(
        col("query_id"),
        (col("r0") + 1).cast("long").as("rank"),
        element_at(col("vids"), col("col").cast("int")).as("vec_id"),
        q6(element_at(col("rels"), col("col").cast("int"))).as("rel"),
        q6(element_at(col("scs"), col("r0") + 1)).as("mmr_score"))
  }

  val mmrRerankSql: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < $MmrQueries),
       ranked AS (
         SELECT query_id, vec_id, sim_raw,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim_raw DESC, vec_id) AS rank
         FROM (SELECT query_id, vec_id, list_dot_product(emb, qemb) AS sim_raw
               FROM e, q WHERE vec_id <> query_id)),
       pool AS (SELECT * FROM ranked WHERE rank <= $MmrPool),
       pp AS (
         SELECT p.query_id, list(p.vec_id ORDER BY p.rank) AS vids,
                list(p.sim_raw ORDER BY p.rank) AS rels
         FROM pool p GROUP BY 1),
       pe AS (SELECT p.query_id, p.rank, e.emb
              FROM pool p JOIN e ON e.vec_id = p.vec_id),
       sm AS (
         SELECT a.query_id,
                list(list_dot_product(a.emb, b.emb) ORDER BY a.rank, b.rank) AS sims
         FROM pe a JOIN pe b USING (query_id) GROUP BY 1),
       base AS (SELECT pp.query_id, vids, rels, sims, len(vids) AS k
                FROM pp JOIN sm USING (query_id)),
       it AS (
         SELECT query_id, 0 AS r,
                CAST([] AS BIGINT[]) AS sel, CAST([] AS DOUBLE[]) AS sc
         FROM base
         UNION ALL
         SELECT b.query_id, it.r + 1,
                list_append(it.sel, CAST(list_position(
                  list_transform(generate_series(1, b.k), i -> CASE
                    WHEN list_contains(it.sel, i) THEN -1e308
                    ELSE $MmrLambda * b.rels[i] - $MmrMu * (CASE
                      WHEN len(it.sel) = 0 THEN 0.0
                      ELSE list_max(list_transform(it.sel,
                             j -> b.sims[(i - 1) * b.k + j])) END) END),
                  list_max(list_transform(generate_series(1, b.k), i -> CASE
                    WHEN list_contains(it.sel, i) THEN -1e308
                    ELSE $MmrLambda * b.rels[i] - $MmrMu * (CASE
                      WHEN len(it.sel) = 0 THEN 0.0
                      ELSE list_max(list_transform(it.sel,
                             j -> b.sims[(i - 1) * b.k + j])) END) END))) AS BIGINT)),
                list_append(it.sc,
                  list_max(list_transform(generate_series(1, b.k), i -> CASE
                    WHEN list_contains(it.sel, i) THEN -1e308
                    ELSE $MmrLambda * b.rels[i] - $MmrMu * (CASE
                      WHEN len(it.sel) = 0 THEN 0.0
                      ELSE list_max(list_transform(it.sel,
                             j -> b.sims[(i - 1) * b.k + j])) END) END)))
         FROM it JOIN base b USING (query_id)
         WHERE it.r < $MmrK),
       fin AS (SELECT query_id, sel, sc FROM it WHERE r = $MmrK)
       SELECT f.query_id, rk AS rank, b.vids[f.sel[rk]] AS vec_id,
              ${q6Sql("b.rels[f.sel[rk]]")} AS rel,
              ${q6Sql("f.sc[rk]")} AS mmr_score
       FROM fin f JOIN base b USING (query_id),
            unnest(generate_series(1, $MmrK)) t(rk)"""

  // --------------------------------------------------------------------
  // q_smith_waterman — local alignment of candidate/reference pairs
  // --------------------------------------------------------------------

  /** Smith-Waterman local-alignment score (match +3, mismatch −2, gap
    * penalty 2) over the sampled fixture pairs' token sequences — the
    * strongest-shared-span detector a curation pipeline runs for
    * plagiarism / quotation checks, where set-level measures (Jaccard,
    * containment) dilute a verbatim span across a long document.
    * sw_norm = score / (3·min(len)) ∈ [0, 1] is the fraction of a
    * perfect local alignment.
    *
    * The kernel is [[graft.plans.SwScore]] (codegen'd exact-BIGINT
    * two-row DP); the DuckDB oracle replays the identical recurrence by
    * anti-diagonal recursion — carrying the previous diagonal and the
    * running max — and matches hash-for-hash.
    *
    * Scale: the pair set is the bounded 1-in-7 block sample; each DP is
    * per-pair independent and fused into the projection. At production
    * scale the pair source would be a blocked candidate join (MinHash
    * buckets), same contract.
    */
  def smithWaterman(s: SparkSession, dir: String): DataFrame = {
    graft.plans.SwScore.register(s, 3L, -2L, 2L)
    pairedDocs(s, dir)
      .filter(expr("(pair_id div 20) % 7 = 0"))
      .select(
        col("pair_id"),
        col("source"),
        size(col("cw")).cast("long").as("len_c"),
        size(col("rw")).cast("long").as("len_r"),
        expr("sw_score(cw, rw)").as("sw"))
      .withColumn(
        "sw_norm",
        q6(col("sw").cast("double") /
          (lit(3.0) * least(col("len_c"), col("len_r")).cast("double"))))
  }

  val smithWatermanSql: String = {
    // new-diagonal cell values for diagonal dg+1, from cur (= diagonal
    // dg) and prev (= diagonal dg-1); out-of-range cells stay NULL and
    // boundary reads coalesce to the zero row/column
    val step =
      """list_transform(range(1, n + 1), i ->
           CASE WHEN (dg + 1 - i) BETWEEN 1 AND m THEN
             greatest(0,
               COALESCE(prev[i - 1], 0)
                 + CASE WHEN cw[i] = rw[dg + 1 - i] THEN 3 ELSE -2 END,
               COALESCE(cur[i - 1], 0) - 2,
               COALESCE(cur[i], 0) - 2)
           ELSE NULL END)"""
    s"""WITH RECURSIVE $pairedDocsSql,
       ps AS (
         SELECT pair_id, source, cw, rw,
                CAST(len(cw) AS INT) AS n, CAST(len(rw) AS INT) AS m
         FROM p WHERE (pair_id // 20) % 7 = 0),
       dp AS (
         SELECT pair_id, source, cw, rw, n, m, 2 AS dg,
                list_transform(range(1, n + 1), i ->
                  CASE WHEN i = 1 THEN
                    greatest(0, CASE WHEN cw[1] = rw[1] THEN 3 ELSE -2 END)
                  ELSE NULL END) AS cur,
                CAST(NULL AS BIGINT[]) AS prev,
                CAST(greatest(0, CASE WHEN cw[1] = rw[1] THEN 3 ELSE -2 END) AS BIGINT)
                  AS best
         FROM ps
         UNION ALL
         SELECT pair_id, source, cw, rw, n, m, dg, cur, prev,
                greatest(best, COALESCE(list_max(cur), 0)) AS best
         FROM (
           SELECT pair_id, source, cw, rw, n, m, dg + 1 AS dg,
                  $step AS cur, cur AS prev, best
           FROM dp WHERE dg < n + m) t)
       SELECT pair_id, source,
              CAST(n AS BIGINT) AS len_c, CAST(m AS BIGINT) AS len_r,
              best AS sw,
              ${q6Sql("CAST(best AS DOUBLE) / (3.0 * CAST(least(n, m) AS DOUBLE))")}
                AS sw_norm
       FROM dp WHERE dg = n + m"""
  }

  // --------------------------------------------------------------------
  // q_cohens_kappa — inter-annotator agreement per source
  // --------------------------------------------------------------------

  /** Cohen's kappa (Cohen 1960) between two deterministic 3-class
    * document "raters" — length tercile by characters (rater A) vs by
    * whitespace tokens (rater B) — per source: the chance-corrected
    * agreement readout an annotation pipeline runs on double-labeled
    * batches. po, pe are ratios of exact BIGINT counts/products
    * (pe·n² = Σ_k rowₖ·colₖ stays integer), so kappa is one shared
    * float expression per 20-row group.
    *
    * Scale: one map-side-combined aggregate per source with conditional
    * sums — no per-class shuffle, no pivot, bounded output.
    */
  def cohensKappa(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables
      .documents(s, dir)
      .select(
        col("source"),
        when(col("n_chars") < 220, 0L).when(col("n_chars") < 375, 1L).otherwise(2L).as("ra"),
        when(size(split(col("text"), " ", -1)) < 40, 0L)
          .when(size(split(col("text"), " ", -1)) < 69, 1L)
          .otherwise(2L)
          .as("rb"))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val agg = rated
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        cnt(col("ra") === col("rb")).as("agree"),
        cnt(col("ra") === 0).as("a0"), cnt(col("ra") === 1).as("a1"), cnt(col("ra") === 2).as("a2"),
        cnt(col("rb") === 0).as("b0"), cnt(col("rb") === 1).as("b1"), cnt(col("rb") === 2).as("b2"))
    val po = col("agree").cast("double") / col("n").cast("double")
    val peNum = col("a0") * col("b0") + col("a1") * col("b1") + col("a2") * col("b2")
    val pe = peNum.cast("double") / (col("n") * col("n")).cast("double")
    agg.select(
      col("source"), col("n"), col("agree"),
      q6(po).as("po"), q6(pe).as("pe"),
      q6((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  // --------------------------------------------------------------------
  // q_mcnemar — paired classifier comparison per source
  // --------------------------------------------------------------------

  /** McNemar's test (McNemar 1947) per source for two deterministic
    * binary quality rules predicting "long document" (n_chars ≥ 300):
    * rule A = token count ≥ 55, rule B = distinct-token count ≥ 45.
    * Only the DISCORDANT pairs matter — b = A right & B wrong, c = A
    * wrong & B right — and χ² = (|b−c|−1)²/(b+c) with the standard
    * continuity correction: the paired-classifier significance readout
    * an eval harness runs before declaring one filter better. Exact
    * BIGINT counts, one float expression, 0 when b+c = 0.
    *
    * Scale: one map-side-combined conditional-sum aggregate per source.
    */
  def mcnemar(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables
      .documents(s, dir)
      .withColumn("toks", split(col("text"), " ", -1))
      .select(
        col("source"),
        (col("n_chars") >= 300).as("y"),
        (size(col("toks")) >= 55).as("a"),
        (size(array_distinct(col("toks"))) >= 45).as("b"))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val agg = rated
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        cnt((col("a") === col("y")) && (col("b") =!= col("y"))).as("b_disc"),
        cnt((col("a") =!= col("y")) && (col("b") === col("y"))).as("c_disc"))
    val chi2 =
      """CASE WHEN b_disc + c_disc > 0 THEN
           CAST((abs(b_disc - c_disc) - 1) * (abs(b_disc - c_disc) - 1) AS DOUBLE)
           / CAST(b_disc + c_disc AS DOUBLE)
         ELSE 0.0 END"""
    agg.select(
      col("source"), col("n"), col("b_disc"), col("c_disc"),
      q6(expr(chi2)).as("chi2"))
  }

  val mcnemarSql: String = {
    val chi2 =
      """CASE WHEN b_disc + c_disc > 0 THEN
           CAST((abs(b_disc - c_disc) - 1) * (abs(b_disc - c_disc) - 1) AS DOUBLE)
           / CAST(b_disc + c_disc AS DOUBLE)
         ELSE 0.0 END"""
    s"""WITH rated AS (
         SELECT source,
                n_chars >= 300 AS y,
                len(string_split(text, ' ')) >= 55 AS a,
                len(list_distinct(string_split(text, ' '))) >= 45 AS b
         FROM documents),
       agg AS (
         SELECT source, count(*) AS n,
                CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT) AS b_disc,
                CAST(sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS BIGINT) AS c_disc
         FROM rated GROUP BY 1)
       SELECT source, n, b_disc, c_disc, ${q6Sql(chi2)} AS chi2
       FROM agg"""
  }

  // --------------------------------------------------------------------
  // q_fleiss_kappa — multi-rater agreement per source
  // --------------------------------------------------------------------

  /** Fleiss' kappa (Fleiss 1971) per source for THREE deterministic
    * 3-class raters (character terciles, token terciles, distinct-token
    * terciles) — the multi-rater generalization of [[cohensKappa]] an
    * annotation pipeline reports when batches are triple-labeled. With
    * r = 3 raters and category counts n_ij per item,
    * P̄ = (Σ n_ij² − 3N)/(6N) and P̄_e = Σ_j (C_j/3N)² are ratios of
    * exact BIGINTs (S = Σ n_ij², category column sums C_j), so κ is one
    * shared float expression per 20-row group.
    *
    * Scale: one map-side-combined aggregate per source; the per-item
    * n_ij algebra is a constant-width projection.
    */
  def fleissKappa(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables
      .documents(s, dir)
      .withColumn("toks", split(col("text"), " ", -1))
      .select(
        col("source"),
        when(col("n_chars") < 220, 0L).when(col("n_chars") < 375, 1L).otherwise(2L).as("ra"),
        when(size(col("toks")) < 40, 0L).when(size(col("toks")) < 69, 1L).otherwise(2L)
          .as("rb"),
        when(size(array_distinct(col("toks"))) < 35, 0L)
          .when(size(array_distinct(col("toks"))) < 55, 1L)
          .otherwise(2L)
          .as("rc"))
    def nij(j: Int): Column =
      when(col("ra") === j, 1L).otherwise(0L) +
        when(col("rb") === j, 1L).otherwise(0L) +
        when(col("rc") === j, 1L).otherwise(0L)
    val perDoc = rated.select(
      col("source"),
      nij(0).as("n0"), nij(1).as("n1"), nij(2).as("n2"))
    val agg = perDoc
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n0") * col("n0") + col("n1") * col("n1") + col("n2") * col("n2")).as("s"),
        sum(col("n0")).as("c0"), sum(col("n1")).as("c1"), sum(col("n2")).as("c2"))
    val pbar = "(CAST(s - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE))"
    val pe =
      """((CAST(c0 AS DOUBLE) / CAST(3 * n AS DOUBLE)) * (CAST(c0 AS DOUBLE) / CAST(3 * n AS DOUBLE))
        + (CAST(c1 AS DOUBLE) / CAST(3 * n AS DOUBLE)) * (CAST(c1 AS DOUBLE) / CAST(3 * n AS DOUBLE))
        + (CAST(c2 AS DOUBLE) / CAST(3 * n AS DOUBLE)) * (CAST(c2 AS DOUBLE) / CAST(3 * n AS DOUBLE)))"""
    agg.select(
      col("source"), col("n"), col("s"), col("c0"), col("c1"), col("c2"),
      q6(expr(pbar)).as("p_bar"),
      q6(expr(pe)).as("p_e"),
      q6(expr(s"(($pbar) - ($pe)) / (1.0 - ($pe))")).as("kappa"))
  }

  val fleissKappaSql: String = {
    val pbar = "(CAST(s - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE))"
    val pe =
      """((CAST(c0 AS DOUBLE) / CAST(3 * n AS DOUBLE)) * (CAST(c0 AS DOUBLE) / CAST(3 * n AS DOUBLE))
        + (CAST(c1 AS DOUBLE) / CAST(3 * n AS DOUBLE)) * (CAST(c1 AS DOUBLE) / CAST(3 * n AS DOUBLE))
        + (CAST(c2 AS DOUBLE) / CAST(3 * n AS DOUBLE)) * (CAST(c2 AS DOUBLE) / CAST(3 * n AS DOUBLE)))"""
    s"""WITH rated AS (
         SELECT source,
                CASE WHEN n_chars < 220 THEN 0 WHEN n_chars < 375 THEN 1 ELSE 2 END AS ra,
                CASE WHEN len(string_split(text, ' ')) < 40 THEN 0
                     WHEN len(string_split(text, ' ')) < 69 THEN 1 ELSE 2 END AS rb,
                CASE WHEN len(list_distinct(string_split(text, ' '))) < 35 THEN 0
                     WHEN len(list_distinct(string_split(text, ' '))) < 55 THEN 1 ELSE 2 END
                  AS rc
         FROM documents),
       perdoc AS (
         SELECT source,
                CAST(CASE WHEN ra = 0 THEN 1 ELSE 0 END + CASE WHEN rb = 0 THEN 1 ELSE 0 END
                   + CASE WHEN rc = 0 THEN 1 ELSE 0 END AS BIGINT) AS n0,
                CAST(CASE WHEN ra = 1 THEN 1 ELSE 0 END + CASE WHEN rb = 1 THEN 1 ELSE 0 END
                   + CASE WHEN rc = 1 THEN 1 ELSE 0 END AS BIGINT) AS n1,
                CAST(CASE WHEN ra = 2 THEN 1 ELSE 0 END + CASE WHEN rb = 2 THEN 1 ELSE 0 END
                   + CASE WHEN rc = 2 THEN 1 ELSE 0 END AS BIGINT) AS n2
         FROM rated),
       agg AS (
         SELECT source, count(*) AS n,
                CAST(sum(n0 * n0 + n1 * n1 + n2 * n2) AS BIGINT) AS s,
                CAST(sum(n0) AS BIGINT) AS c0,
                CAST(sum(n1) AS BIGINT) AS c1,
                CAST(sum(n2) AS BIGINT) AS c2
         FROM perdoc GROUP BY 1)
       SELECT source, n, s, c0, c1, c2,
              ${q6Sql(pbar)} AS p_bar, ${q6Sql(pe)} AS p_e,
              ${q6Sql(s"(($pbar) - ($pe)) / (1.0 - ($pe))")} AS kappa
       FROM agg"""
  }

  val cohensKappaSql: String = {
    val po = "(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE))"
    val pe = "(CAST(a0*b0 + a1*b1 + a2*b2 AS DOUBLE) / CAST(n*n AS DOUBLE))"
    s"""WITH rated AS (
         SELECT source,
                CASE WHEN n_chars < 220 THEN 0 WHEN n_chars < 375 THEN 1 ELSE 2 END AS ra,
                CASE WHEN len(string_split(text, ' ')) < 40 THEN 0
                     WHEN len(string_split(text, ' ')) < 69 THEN 1 ELSE 2 END AS rb
         FROM documents),
       agg AS (
         SELECT source, count(*) AS n,
                CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree,
                CAST(sum(CASE WHEN ra = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
                CAST(sum(CASE WHEN ra = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
                CAST(sum(CASE WHEN ra = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
                CAST(sum(CASE WHEN rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
                CAST(sum(CASE WHEN rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
                CAST(sum(CASE WHEN rb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2
         FROM rated GROUP BY 1)
       SELECT source, n, agree,
              ${q6Sql(po)} AS po, ${q6Sql(pe)} AS pe,
              ${q6Sql(s"($po - $pe) / (1.0 - $pe)")} AS kappa
       FROM agg"""
  }
}
