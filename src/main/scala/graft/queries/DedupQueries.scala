package graft.queries

import graft.Reuse
import graft.Tables
import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Quantize.q6

/** Near-duplicate detection over `documents` — MinHash+LSH, SimHash, and
  * exact n-gram Jaccard (LLM-data-pipeline dedup surface).
  *
  * Scale design: both sketch paths follow the canonical
  * shingle→sketch→band→bucket-join shape — the corpus is scanned once to
  * compute sketches (narrow), then shuffled once on band keys; candidate
  * pairs are generated per bucket, never by an all-pairs product. The
  * exact-Jaccard query is the verification kernel (and the oracle-checked
  * one, since it is pure set algebra expressible in SQL).
  */
object DedupQueries {

  /** MinHash signatures + banded-LSH candidate pairs with their estimated
    * Jaccard. Word-unigram shingles (n configurable via [[TextHash.shingles]]);
    * 128 permutations in 8 bands × 16 rows — steep S-curve centred near
    * j≈0.85 so buckets stay small (the corpus's median pair similarity is
    * ~0.6; banding at 16 bands × 8 rows made nearly every pair a
    * candidate, an all-pairs blowup at scale).
    *
    * The returned plan reads a pinned sketch table (see below), so it
    * must be consumed inside the caller's [[graft.Reuse.scope]]; freeing
    * it eagerly here would recompute the sketch per consumer instead.
    */
  def minhashPairs(s: SparkSession, dir: String, minSim: Double = 0.7): DataFrame =
    minhashPairsOver(Tables.documents(s, dir).select(col("doc_id"), col("text")), minSim)

  /** The same banded-LSH pipeline over an ARBITRARY (doc_id, text)
    * corpus — [[minhashPairs]] is the `documents`-table instantiation;
    * [[minhashRecallProd]] feeds the derived paraphrase corpus through
    * the identical config (128 perms, 8×16 bands, ≤64 bucket cap).
    */
  private[queries] def minhashPairsOver(docs0: DataFrame, minSim: Double): DataFrame = {
    val numPerms = 128
    val bands = 8
    val sigUdf = udf { (text: String) =>
      TextHash.minhashSignature(TextHash.shingles(text, 1), numPerms)
    }
    val bandUdf = udf { (sig: Seq[Long]) => TextHash.bandKeys(sig.toArray, bands) }
    val estUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
      TextHash.estimatedJaccard(a.toArray, b.toArray)
    }
    // materialize the sketch table once (doc_id + 128 longs) — it feeds
    // the bucket-size count and both join legs; recomputing the UDF per
    // consumer would triple the corpus scan. At 100 TB this is the
    // persisted sketch artifact a real pipeline writes out.
    // token-less documents (empty/space-only text) have no shingle set —
    // excluded on BOTH sides (the SQL's NULL-vs-zero-signature semantics
    // would otherwise diverge from Scala's all-zero signature)
    // spread BEFORE the 128-permutation signature UDF: the corpus scan is
    // one unsplittable row group, so the sketch otherwise computes on one
    // core (the [[MultimodalQueries.decodeParallel]] lesson, conditional
    // form — identity whenever the scan already has ≥ cores partitions)
    val docs = Reuse.pin(
      Tables.spread(docs0
        .filter(length(regexp_replace(col("text"), lit(" "), lit(""))) > 0))
        .select(col("doc_id"), sigUdf(col("text")).as("sig"))
        .withColumn("band", explode(bandUdf(col("sig")))))
    // Cap bucket size: a bucket of n docs yields n²/2 candidate pairs, so
    // degenerate mega-buckets (hash regions where "everything resembles
    // everything") turn the bucket join quadratic. Skipping them is the
    // standard LSH-at-scale mitigation — near-dup detection inside such a
    // clique carries no information anyway.
    val maxBucket = 64
    val smallBuckets = docs
      .groupBy(col("band"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"))
    val pruned = docs.join(smallBuckets, Seq("band"))
    val a = pruned.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("band"))
    val b = pruned.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("band"))
    // estimate + threshold BEFORE the pair dedup: the dedup shuffle then
    // moves 3 narrow columns for the few surviving pairs, not the two
    // 128-long signatures for every band-duplicated candidate
    a.join(b, Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("est_jaccard", estUdf(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minSim)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Shared oracle fragment: per-document word base hashes (polynomial
    * fold mod P over chars, +1 per char — [[TextHash.polyHash]]) and the
    * 128-entry MinHash signature via the universal family
    * ([[TextHash.permHash]]). Pure integer arithmetic < 2⁶².
    *
    * Tokenization parity contract: Scala splits on `\s+` over UTF-16
    * units, the SQL splits on a single space (empty tokens filtered) over
    * code points — identical for single-spaced BMP text, which the
    * harness corpus satisfies (verified `[a-z0-9 ]+`, no runs of
    * spaces). Text with tabs/newlines/astral chars would need the
    * tokenizers aligned first.
    */
  private val P = TextHash.P
  private def sigSqlOver(src: String): String =
    s"""words AS (
         SELECT doc_id,
                list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS ws
         FROM $src
         WHERE length(replace(text, ' ', '')) > 0
       ), hs AS (
         SELECT doc_id,
           [list_reduce(list_prepend(0::BIGINT, [unicode(c)::BIGINT FOR c IN string_split(w, '')]),
                        (acc, c) -> (acc*31 + c + 1) % $P) FOR w IN ws] AS whs
         FROM words
       ), sigs AS (
         SELECT doc_id,
           [list_min([((1 + ((i*1103515245 + 12345) % ${P - 1})) * h
                       + (i*2654435761 + 1013904223) % $P) % $P FOR h IN whs])
            FOR i IN range(128)] AS sig
         FROM hs
       )"""

  private val sigSql: String = sigSqlOver("documents")

  /** DuckDB re-derivation of [[minhashPairs]]: same signatures, band
    * keys, ≤64 bucket cap, candidate join, and estimate threshold.
    * [[minhashPairsSqlOver]] is the arbitrary-corpus variant mirroring
    * [[minhashPairsOver]] (the `src` CTE must expose doc_id + text).
    */
  private def minhashPairsSqlOver(src: String): String =
    s"""WITH ${sigSqlOver(src)}, bands AS (
         SELECT doc_id, sig, unnest(
           [list_reduce(list_prepend((b+1)::BIGINT, sig[b*16+1 : b*16+16]),
                        (acc, v) -> (acc*1000003 + v) % $P) FOR b IN range(8)]) AS band
         FROM sigs
       ), small AS (
         SELECT band FROM bands GROUP BY band HAVING count(*) <= 64
       ), pruned AS (
         SELECT bands.* FROM bands JOIN small USING (band)
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
         FROM pruned a JOIN pruned b USING (band)
         WHERE a.doc_id < b.doc_id
       ), est AS (
         SELECT doc_a, doc_b,
           list_sum([CASE WHEN sig_a[i+1] = sig_b[i+1] THEN 1 ELSE 0 END
                     FOR i IN range(128)])::DOUBLE / 128 AS e
         FROM cand
       )
       SELECT doc_a, doc_b, round(e, 4) AS est_jaccard FROM est WHERE e >= 0.7"""

  val minhashPairsSql: String = minhashPairsSqlOver("documents")

  /** Oracle for [[StreamingQueries.streamMinhashDedup]] — the arrival-
    * order band-collision verdict, re-derived order-free: with the feed
    * in doc_id order, "first arrival owns the band" ≡ "doc is the
    * MINIMUM doc_id in the band bucket", so keep = doc owns all 8 of
    * its bands. Same signatures/band keys as [[minhashPairsSql]].
    */
  val minhashBandVerdictSql: String =
    s"""WITH $sigSql, bands AS (
         SELECT DISTINCT doc_id, band FROM (
           SELECT doc_id, unnest(
             [list_reduce(list_prepend((b+1)::BIGINT, sig[b*16+1 : b*16+16]),
                          (acc, v) -> (acc*1000003 + v) % $P) FOR b IN range(8)]) AS band
           FROM sigs)
       ), nb AS (SELECT doc_id, count(*) AS n_bands FROM bands GROUP BY 1),
       mins AS (
         SELECT band, min(doc_id) AS keeper FROM bands GROUP BY band
       ), verdict AS (
         SELECT b.doc_id,
                sum(CASE WHEN m.keeper = b.doc_id THEN 1 ELSE 0 END)::BIGINT
                  AS n_kept_bands
         FROM bands b JOIN mins m USING (band)
         GROUP BY b.doc_id
       )
       SELECT v.doc_id, v.n_kept_bands, (v.n_kept_bands = nb.n_bands) AS keep
       FROM verdict v JOIN nb USING (doc_id)"""

  /** LSH banding sweep — the S-curve operating menu for MinHash dedup,
    * the dedup sibling of [[VectorQueries.annSweep]]: the same 128-perm
    * signatures banded three ways (4×32, 8×16, 16×8), per configuration
    * the candidate-pair count and how many pass the similarity
    * threshold. More, shorter bands = more OR-chances to collide =
    * higher recall AND more candidate pairs at lower pass rate; the
    * collision probability is the textbook 1−(1−s^r)^b S-curve, and this
    * measures where the harness corpus actually sits on it. All
    * deterministic ⇒ exact DuckDB oracle re-deriving every signature.
    *
    * Scale: a TUNING harness — at 100 TB you point it at a sampled
    * shard, pick (b, r), then run the chosen config through
    * [[minhashPairs]] (whose plan estimates-then-prunes before the pair
    * dedup; this sweep dedups candidates first because it must COUNT
    * them). Signatures compute once across the three configs; per
    * config one band-key shuffle with the same mega-bucket cap.
    */
  def dedupSweep(s: SparkSession, dir: String, minSim: Double = 0.7): DataFrame = {
    val numPerms = 128
    val sigUdf = udf { (text: String) =>
      TextHash.minhashSignature(TextHash.shingles(text, 1), numPerms)
    }
    val estUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
      TextHash.estimatedJaccard(a.toArray, b.toArray)
    }
    // the sketch artifact computes ONCE and feeds all three bandings
    val sigs = Reuse.pin(
      Tables.spread(Tables
        .documents(s, dir)
        .filter(length(regexp_replace(col("text"), lit(" "), lit(""))) > 0))
        .select(col("doc_id"), sigUdf(col("text")).as("sig"))) // spread: 1-row-group scan, heavy UDF
    def one(bands: Int): DataFrame = {
      val bandUdf = udf { (sig: Seq[Long]) => TextHash.bandKeys(sig.toArray, bands) }
      val docs = sigs.withColumn("band", explode(bandUdf(col("sig"))))
      val small = docs
        .groupBy(col("band"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= 64)
        .select(col("band"))
      val pruned = docs.join(small, Seq("band"))
      val a = pruned.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("band"))
      val b = pruned.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("band"))
      val est = a
        .join(b, Seq("band"))
        .filter(col("doc_a") < col("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("est", estUdf(col("sig_a"), col("sig_b")))
      est
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("est") >= minSim, 1L).otherwise(0L)).as("n_verified"))
        .select(
          lit(bands.toLong).as("bands"),
          lit((numPerms / bands).toLong).as("rows_per_band"),
          col("n_candidates"),
          coalesce(col("n_verified"), lit(0L)).as("n_verified"),
          round(
            when(col("n_candidates") === 0L, lit(0.0))
              .otherwise(
                coalesce(col("n_verified"), lit(0L)).cast("double") /
                  col("n_candidates").cast("double")),
            6).as("pass_rate"))
    }
    Seq(4, 8, 16).map(one).reduce(_ unionAll _)
  }

  def dedupSweepSql(minSim: Double = 0.7): String = {
    def one(bands: Int): String = {
      val r = 128 / bands
      s"""SELECT CAST($bands AS BIGINT) AS bands,
                CAST($r AS BIGINT) AS rows_per_band,
                x.n_candidates, x.n_verified,
                round(CASE WHEN x.n_candidates = 0 THEN 0.0
                      ELSE x.n_verified::DOUBLE / x.n_candidates END, 6) AS pass_rate
         FROM (
           WITH $sigSql, bands AS (
             SELECT doc_id, sig, unnest(
               [list_reduce(list_prepend((b+1)::BIGINT, sig[b*$r+1 : b*$r+$r]),
                            (acc, v) -> (acc*1000003 + v) % $P) FOR b IN range($bands)]) AS band
             FROM sigs
           ), small AS (
             SELECT band FROM bands GROUP BY band HAVING count(*) <= 64
           ), pruned AS (
             SELECT bands.* FROM bands JOIN small USING (band)
           ), cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.sig AS sig_a, b.sig AS sig_b
             FROM pruned a JOIN pruned b USING (band)
             WHERE a.doc_id < b.doc_id
           ), est AS (
             SELECT doc_a, doc_b,
               list_sum([CASE WHEN sig_a[i+1] = sig_b[i+1] THEN 1 ELSE 0 END
                         FOR i IN range(128)])::DOUBLE / 128 AS e
             FROM cand
           )
           SELECT (SELECT count(*) FROM est) AS n_candidates,
                  (SELECT count(*) FROM est WHERE e >= $minSim) AS n_verified) x"""
    }
    Seq(4, 8, 16).map(one).mkString("\n UNION ALL\n")
  }

  /** Incremental dedup-index maintenance — the batch-increment shape of
    * corpus growth at 100 TB: an md5-split 20% of documents play the
    * newly-arrived DELTA, the other 80% the EXISTING corpus whose
    * persisted band index is the only thing the delta touches (the text
    * of the existing corpus is never rescanned). Each new document:
    * candidate duplicates = index docs sharing ≥1 of its 8 band keys,
    * verified duplicates = candidates with estimated Jaccard ≥ `minSim`
    * (the [[minhashPairs]] rule), `dup_of` = the smallest verified index
    * doc (lowest-id-canonical), `admitted` = no verified duplicate, and
    * `n_new_bands` = how many of its band keys the index has never seen
    * (what an admission would append). The batch twin of
    * [[graft.queries.StreamingQueries.streamMinhashDedup]]'s state
    * update, WITH the verification step streaming state cannot afford.
    *
    * Scale: the index is the banded sketch artifact (one narrow row per
    * (band, doc)); the delta joins on band keys, signatures travel only
    * for surviving candidate pairs, and per-band fan-out is bounded by
    * the same mega-bucket logic as the pair kernel (a production index
    * stores bands bucketed/sorted by key, so this join is index-local).
    */
  def incrementalDedup(s: SparkSession, dir: String, minSim: Double = 0.7): DataFrame = {
    val sigUdf = udf { (text: String) =>
      TextHash.minhashSignature(TextHash.shingles(text, 1), 128)
    }
    val bandUdf = udf { (sig: Seq[Long]) => TextHash.bandKeys(sig.toArray, 8) }
    val estUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
      TextHash.estimatedJaccard(a.toArray, b.toArray)
    }
    // one signature pass over the corpus feeds both sides of the split
    val all = Reuse.pin(
      Tables.spread(Tables
        .documents(s, dir)
        .filter(length(regexp_replace(col("text"), lit(" "), lit(""))) > 0))
        .select( // spread: 1-row-group scan, heavy signature UDF
          col("doc_id"),
          sigUdf(col("text")).as("sig"),
          (expr(OracleHash.bucketExpr("cast(doc_id as string)"))
            % 5 === 0).as("arrival")))
    val idxBands = all
      .filter(!col("arrival"))
      .select(col("doc_id").as("idx_id"), col("sig").as("idx_sig"))
      .withColumn("band", explode(bandUdf(col("idx_sig"))))
    val newDocs = all.filter(col("arrival")).select(col("doc_id"), col("sig"))
    val newBands = newDocs.withColumn("band", explode(bandUdf(col("sig"))))
    val pairs = newBands
      .join(idxBands, Seq("band"))
      .select(col("doc_id"), col("sig"), col("idx_id"), col("idx_sig"))
      .dropDuplicates("doc_id", "idx_id")
      .withColumn("est", estUdf(col("sig"), col("idx_sig")))
    val perDoc = pairs
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("est") >= minSim, 1L).otherwise(0L)).as("n_dups"),
        min(when(col("est") >= minSim, col("idx_id"))).as("dup_of"))
    val freshBands = newBands
      .join(idxBands.select(col("band")).distinct(), Seq("band"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_new_bands"))
    newDocs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(freshBands, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("admitted"),
        coalesce(col("n_new_bands"), lit(0L)).as("n_new_bands"))
  }

  def incrementalDedupSql(minSim: Double = 0.7): String =
    s"""WITH $sigSql, split AS (
         SELECT doc_id, sig,
                ${OracleHash.bucketSql("CAST(doc_id AS VARCHAR)")}
                  % 5 = 0 AS arrival
         FROM sigs
       ), banded AS (
         SELECT doc_id, sig, arrival, unnest(
           [list_reduce(list_prepend((b+1)::BIGINT, sig[b*16+1 : b*16+16]),
                        (acc, v) -> (acc*1000003 + v) % $P) FOR b IN range(8)]) AS band
         FROM split
       ), idx AS (SELECT doc_id AS idx_id, sig AS idx_sig, band FROM banded WHERE NOT arrival),
       newb AS (SELECT doc_id, sig, band FROM banded WHERE arrival),
       pairs AS (
         SELECT DISTINCT n.doc_id, n.sig, i.idx_id, i.idx_sig
         FROM newb n JOIN idx i USING (band)
       ), est AS (
         SELECT doc_id, idx_id,
           list_sum([CASE WHEN sig[i+1] = idx_sig[i+1] THEN 1 ELSE 0 END
                     FOR i IN range(128)])::DOUBLE / 128 AS e
         FROM pairs
       ), per_doc AS (
         SELECT doc_id, count(*) AS n_candidates,
                sum(CASE WHEN e >= $minSim THEN 1 ELSE 0 END) AS n_dups,
                min(CASE WHEN e >= $minSim THEN idx_id END) AS dup_of
         FROM est GROUP BY doc_id
       ), fresh AS (
         SELECT n.doc_id, count(*) AS n_new_bands
         FROM newb n ANTI JOIN (SELECT DISTINCT band FROM idx) i USING (band)
         GROUP BY n.doc_id
       )
       SELECT s.doc_id,
              CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
              CAST(COALESCE(p.n_dups, 0) AS BIGINT) AS n_dups,
              p.dup_of,
              COALESCE(p.n_dups, 0) = 0 AS admitted,
              CAST(COALESCE(f.n_new_bands, 0) AS BIGINT) AS n_new_bands
       FROM (SELECT DISTINCT doc_id FROM split WHERE arrival) s
       LEFT JOIN per_doc p USING (doc_id)
       LEFT JOIN fresh f USING (doc_id)"""

  /** Per-document 32-bit SimHash plus its 4 × 8-bit segments — the
    * pigeonhole keys for Hamming-distance joins (near-dups within
    * distance d ≤ 3 must share ≥1 segment). Oracle-checked: the DuckDB
    * side re-derives every hash from the text.
    */
  def simhashDocs(s: SparkSession, dir: String): DataFrame = {
    val shUdf = udf { (text: String) => TextHash.simhash32(text) }
    Tables.spread(Tables
      .documents(s, dir)
      // token-less docs excluded on both sides (see minhashPairs)
      .filter(length(regexp_replace(col("text"), lit(" "), lit(""))) > 0))
      .select(col("doc_id"), shUdf(col("text")).as("simhash")) // spread: heavy sketch UDF
      .select(
        col("doc_id"),
        col("simhash"),
        col("simhash").bitwiseAND(lit(0xffL)).as("seg0"),
        shiftright(col("simhash"), 8).bitwiseAND(lit(0xffL)).as("seg1"),
        shiftright(col("simhash"), 16).bitwiseAND(lit(0xffL)).as("seg2"),
        shiftright(col("simhash"), 24).bitwiseAND(lit(0xffL)).as("seg3"))
  }

  /** SimHash near-dup candidates: pigeonhole join on any equal segment,
    * exact Hamming filter. The default threshold sits inside the
    * 4-segment pigeonhole guarantee (full recall for d < 4), and keeps
    * the result a near-dup set rather than half the corpus — the
    * word-salad fixture is densely mid-similar, so looser thresholds
    * explode quadratically. Oracle-checked.
    *
    * Like [[minhashPairs]], the result reads a pinned segment table.
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 2): DataFrame = {
    val docs = simhashDocs(s, dir)
    // one scan + one sketch evaluation per document, exploded into the 4
    // pigeonhole keys (a 4-way union would recompute the sketch per leg);
    // pinned because the bucket count and both join legs consume it.
    val segs = Reuse.pin(
      docs.select(
        col("doc_id"),
        col("simhash"),
        explode(
          array((0 to 3).map(i => concat(lit(s"$i:"), col(s"seg$i"))): _*)).as("seg_key")))
    // same mega-bucket cap as the MinHash path: a segment value shared
    // by n docs contributes n²/2 candidates, so degenerate buckets turn
    // the pigeonhole join quadratic at corpus scale (never triggers at
    // test SF — mirrored in the oracle)
    val maxBucket = 4096
    val smallSegs = segs
      .groupBy(col("seg_key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket)
      .select(col("seg_key"))
    val pruned = segs.join(smallSegs, Seq("seg_key"))
    val a = pruned.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"), col("seg_key"))
    val b = pruned.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"), col("seg_key"))
    // hamming filter BEFORE the pair dedup (bit_count is codegen'd, the
    // filter kills >99% of candidates, and the dedup shuffle then only
    // carries the survivors), not after a full-candidate shuffle
    a.join(b, Seq("seg_key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** [[simhashPairs]] on a deterministic 1/[[MediaSampleK]] pair sample —
    * the last pair-LIST contract gets the q_media_dedup_sampled
    * treatment: candidates come from a SELECTIVE bucket equi-join (not
    * an all-pairs enumeration, so the pair predicate — unlike the
    * q_dedup_embedding case — prunes real work: the Hamming verify, the
    * dedup exchange, and the clique-quadratic output all shrink by K).
    * Subset of the full pair list with identical per-pair values; the
    * cluster contract ([[dedupClusters]]) remains the production
    * surface when membership, not pair mass, is the question.
    */
  def simhashPairsSampled(s: SparkSession, dir: String, maxHamming: Int = 2): DataFrame =
    simhashPairs(s, dir, maxHamming)
      .filter(expr(Sampling.pairPred("doc_a", "doc_b", MediaSampleK)))

  /** Perceptual-hash near-dup pairs for the MEDIA column — connects the
    * multimodal and dedup surfaces: each payload's 56-bit dHash
    * ([[MultimodalQueries.dhash56]]: bytes → 8×8 integer block sums →
    * row-gradient bits) goes through the same pigeonhole machinery as
    * [[simhashPairs]], with 4 × 14-bit segments so every pair within
    * Hamming distance 3 shares ≥ 1 segment (full recall at the default
    * threshold). Exact Hamming via codegen'd bit_count(xor), filtered
    * BEFORE the pair dedup; mega-bucket cap mirrored in the oracle.
    * Oracle-exact end to end: the payload, the perturbation, the block
    * sums, and the gradient bits are all integer closed forms DuckDB
    * re-derives from `range(256)`.
    */
  /** Shared phash + pigeonhole construction for the media dedup family:
    * one hash evaluation per payload, exploded into the 4 pigeonhole
    * keys; pinned because every consumer reads it more than once. The
    * key is a PACKED LONG (segment index in the high bits) — the pin, the
    * bucket-count shuffle, and the join legs all carry it, and a long
    * hashes/compares without the per-row string allocation a concat
    * key pays.
    */
  private def mediaPhashSegs(s: SparkSession, dir: String): DataFrame = {
    val hUdf = udf { (docId: Long, media: Array[Byte]) =>
      MultimodalQueries.dhash56(docId, media)
    }
    Reuse.pin(
      MultimodalQueries
        .mediaTable(s, dir)
        .select(col("doc_id"), hUdf(col("doc_id"), col("media")).as("phash"))
        .select(
          col("doc_id"),
          col("phash"),
          explode(array((0 to 3).map(i =>
            (shiftright(col("phash"), 14 * i).bitwiseAND(lit(0x3fffL)) + lit(i.toLong << 32))
              .as(s"k$i")): _*))
            .as("seg_key")))
  }

  def mediaDedup(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    mediaDedupPairs(s, dir, maxHamming, sampled = false)

  /** The pair contract on a deterministic 1/[[MediaSampleK]] hash-sample
    * of the candidate pairs — the 100-TB budgeted estimate beside the
    * exact (output-quadratic-by-contract) pair list and the linear
    * cluster sibling ([[mediaDedupClusters]]); the q_chrf_sampled
    * pattern. The predicate is pure BIGINT arithmetic on the canonical
    * (doc_a, doc_b) key, shared character-for-character with the
    * oracle, applied BEFORE the Hamming verify and the pair dedup — so
    * the verify work, the dedup exchange, AND the quadratic output all
    * shrink by K, while per-pair semantics stay byte-identical to
    * [[mediaDedup]] (the sampled output is a subset of the full one).
    */
  def mediaDedupSampled(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    mediaDedupPairs(s, dir, maxHamming, sampled = true)

  private val MediaSampleK = 8

  private def mediaPairSamplePred(a: String, b: String): String =
    Sampling.pairPred(a, b, MediaSampleK)

  private def mediaDedupPairs(
      s: SparkSession,
      dir: String,
      maxHamming: Int,
      sampled: Boolean): DataFrame = {
    val segs = mediaPhashSegs(s, dir)
    val maxBucket = 4096
    val smallSegs = segs
      .groupBy(col("seg_key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket)
      .select(col("seg_key"))
    val pruned = segs.join(smallSegs, Seq("seg_key"))
    val a = pruned.select(col("doc_id").as("doc_a"), col("phash").as("ph_a"), col("seg_key"))
    val b = pruned.select(col("doc_id").as("doc_b"), col("phash").as("ph_b"), col("seg_key"))
    val cand = a.join(b, Seq("seg_key"))
      .filter(col("doc_a") < col("doc_b"))
    val kept =
      if (sampled) cand.filter(expr(mediaPairSamplePred("doc_a", "doc_b")))
      else cand
    kept
      .withColumn("hamming", expr("bit_count(ph_a ^ ph_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Cluster/survivor contract for media near-dup at corpus scale — the
    * round-10 sf1 finding's production shape (SCALE.md §"sf0.1 → sf1"):
    * [[mediaDedup]]'s all-pairs output is inherently quadratic in
    * duplicate-clique size (measured 63.2M pairs at sf1 vs 0.97M at
    * sf0.1), so at unbounded clique sizes the scalable contract is
    * clusters with one survivor each, built from STAR edges only —
    * every doc links to its pigeonhole bucket's REPRESENTATIVE
    * (min doc_id) when the two phashes verify within `maxHamming`.
    * O(n·segments) edges at ANY clique size, never a pair join; no
    * mega-bucket cap needed because bucket size contributes linearly.
    * Clusters are connected components over the star graph
    * ([[graft.operators.ConnectedComponents]] pointer jumping, O(log n)
    * rounds); output one row per doc in a non-trivial cluster with its
    * component root and survivor flag.
    *
    * Semantics note (documented contract difference): rep-verified
    * linkage is a SUBSET of full pairwise linkage — two docs within
    * the threshold of each other but not of any shared bucket rep can
    * land in different clusters. That is the standard LSH-clustering
    * trade, and the oracle mirrors the star construction exactly.
    */
  def mediaDedupClusters(
      s: SparkSession,
      dir: String,
      maxHamming: Int = 3,
      maxIters: Int = graft.operators.ConnectedComponents.DefaultMaxIters): DataFrame = {
    val segs = mediaPhashSegs(s, dir)
    // min(struct) rep per bucket: one partial-agg shuffle, never a sort
    val reps = segs
      .groupBy(col("seg_key"))
      .agg(min(struct(col("doc_id"), col("phash"))).as("rep"))
      .select(
        col("seg_key"),
        col("rep.doc_id").as("rep_id"),
        col("rep.phash").as("rep_phash"))
    val edges = segs
      .join(reps, Seq("seg_key"))
      .filter(col("doc_id") =!= col("rep_id"))
      .filter(expr("bit_count(phash ^ rep_phash)").cast("int") <= maxHamming)
      .select(col("doc_id").as("src"), col("rep_id").as("dst"))
      .distinct()
    graft.operators.ConnectedComponents
      .components(edges, maxIters)
      .select(
        col("id").as("doc_id"),
        col("component"),
        (col("id") === col("component")).as("keep"))
  }

  /** Shared DuckDB CTE prefix `b..segs` re-deriving the closed-form
    * payload, perturbation, block sums, gradient bits, and 4-segment
    * pigeonhole — the ONE SQL mirror of [[mediaPhashSegs]], consumed by
    * both media oracles so the pair and cluster contracts cannot
    * silently desynchronize.
    */
  private val mediaPhashCtesSql: String =
    """b AS (
         SELECT doc_id, i, ((doc_id*31 + i*17 + 7) % 256) AS v
         FROM documents, range(256) r(i)
       ), pert AS (
         SELECT doc_id, i,
                CASE WHEN i = (doc_id*13 + doc_id // 256) % 256
                     THEN (v + (doc_id // 3) % 251) % 256 ELSE v END AS v
         FROM b
       ), blocks AS (
         SELECT doc_id, (i // 16) // 2 AS r, (i % 16) // 2 AS j, sum(v) AS m
         FROM pert GROUP BY doc_id, (i // 16) // 2, (i % 16) // 2
       ), bits AS (
         SELECT l.doc_id, l.r, l.j, CASE WHEN l.m < n.m THEN 1 ELSE 0 END AS bit
         FROM blocks l JOIN blocks n
           ON l.doc_id = n.doc_id AND l.r = n.r AND n.j = l.j + 1
         WHERE l.j < 7
       ), hashes AS (
         SELECT doc_id,
                SUM(bit * (1::BIGINT << CAST(l.r*7 + l.j AS INTEGER)))::BIGINT AS phash
         FROM bits l GROUP BY doc_id
       ), segs AS (
         SELECT doc_id, phash, s.s AS seg_idx,
                (phash >> CAST(14*s.s AS INTEGER)) & 16383 AS seg
         FROM hashes, (SELECT unnest(range(4)) AS s) s
       )"""

  /** DuckDB oracle for [[mediaDedupClusters]], parameterized on the same
    * `maxHamming` as the operator (ADVICE r9 discipline): star edges to
    * bucket reps, recursive transitive closure.
    */
  /** Non-recursive star-edge prefix of [[mediaDedupClustersSql]] —
    * the --decompose edges source (see [[clusterEdgeCtesSql]]).
    */
  private def mediaStarCtesSql(maxHamming: Int): String =
    s"""$mediaPhashCtesSql, reps AS (
         SELECT seg_idx, seg, min(doc_id) AS rep_id
         FROM segs GROUP BY seg_idx, seg
       ), reph AS (
         SELECT r.seg_idx, r.seg, r.rep_id, h.phash AS rep_phash
         FROM reps r JOIN hashes h ON h.doc_id = r.rep_id
       ), star AS (
         SELECT DISTINCT s.doc_id AS a, r.rep_id AS b
         FROM segs s JOIN reph r USING (seg_idx, seg)
         WHERE s.doc_id <> r.rep_id
           AND bit_count(xor(s.phash, r.rep_phash)) <= $maxHamming
       )"""

  def mediaDedupClustersSql(maxHamming: Int = 3): String =
    s"""WITH RECURSIVE ${mediaStarCtesSql(maxHamming)}, e AS (
         SELECT a, b FROM star UNION SELECT b, a FROM star
       ), reach(a, b) AS (
         SELECT a, b FROM e
         UNION
         SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
       ), comp AS (
         SELECT a AS doc_id, least(a, min(b)) AS component
         FROM reach GROUP BY a
       )
       SELECT doc_id, component, doc_id = component AS keep FROM comp"""

  /** DuckDB oracle for [[mediaDedup]], parameterized on the same
    * `maxHamming` as the operator (ADVICE r9 discipline): the shared
    * phash chain, segment pigeonhole, capped join, Hamming filter.
    */
  def mediaDedupSql(maxHamming: Int = 3): String =
    s"""WITH $mediaPhashCtesSql, scount AS (
         SELECT seg_idx, seg FROM segs GROUP BY seg_idx, seg HAVING count(*) <= 4096
       ), pruned AS (
         SELECT g.* FROM segs g JOIN scount USING (seg_idx, seg)
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.phash AS ph_a, b.phash AS ph_b
         FROM pruned a JOIN pruned b
           ON a.seg_idx = b.seg_idx AND a.seg = b.seg AND a.doc_id < b.doc_id
       )
       SELECT doc_a, doc_b, bit_count(xor(ph_a, ph_b))::BIGINT AS hamming
       FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= $maxHamming"""

  /** DuckDB oracle for [[mediaDedupSampled]] — the pair oracle with the
    * shared LCG sample predicate on the candidate pairs.
    */
  def mediaDedupSampledSql(maxHamming: Int = 3): String =
    s"""WITH $mediaPhashCtesSql, scount AS (
         SELECT seg_idx, seg FROM segs GROUP BY seg_idx, seg HAVING count(*) <= 4096
       ), pruned AS (
         SELECT g.* FROM segs g JOIN scount USING (seg_idx, seg)
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.phash AS ph_a, b.phash AS ph_b
         FROM pruned a JOIN pruned b
           ON a.seg_idx = b.seg_idx AND a.seg = b.seg AND a.doc_id < b.doc_id
         WHERE ${mediaPairSamplePred("a.doc_id", "b.doc_id")}
       )
       SELECT doc_a, doc_b, bit_count(xor(ph_a, ph_b))::BIGINT AS hamming
       FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= $maxHamming"""

  /** Shared oracle fragment: per-document 32-bit SimHash — token counts,
    * one universal-family draw per bit position (index 1000+b), majority
    * vote per bit ([[TextHash.simhash32]]).
    */
  private val simhashSql: String =
    s"""toks AS (
         SELECT doc_id, w, count(*)::BIGINT AS cnt
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents WHERE length(replace(text, ' ', '')) > 0)
         WHERE w <> ''
         GROUP BY doc_id, w
       ), th AS (
         SELECT doc_id, cnt,
           list_reduce(list_prepend(0::BIGINT, [unicode(c)::BIGINT FOR c IN string_split(w, '')]),
                       (acc, c) -> (acc*31 + c + 1) % $P) AS h
         FROM toks
       ), bits AS (
         SELECT doc_id, b.b AS bit_pos,
           sum(CASE WHEN ((1 + (((1000+b.b)*1103515245 + 12345) % ${P - 1})) * h
                          + ((1000+b.b)*2654435761 + 1013904223) % $P) % $P % 2 = 1
                    THEN cnt ELSE -cnt END) AS acc
         FROM th, (SELECT unnest(range(32)) AS b) b
         GROUP BY doc_id, b.b
       ), sh AS (
         SELECT doc_id,
           sum(CASE WHEN acc > 0 THEN (1::BIGINT << bit_pos) ELSE 0 END)::BIGINT AS simhash
         FROM bits GROUP BY doc_id
       )"""

  /** DuckDB re-derivation of [[simhashDocs]]. */
  val simhashDocsSql: String =
    s"""WITH $simhashSql
       SELECT doc_id, simhash,
              simhash % 256 AS seg0,
              (simhash // 256) % 256 AS seg1,
              (simhash // 65536) % 256 AS seg2,
              (simhash // 16777216) % 256 AS seg3
       FROM sh"""

  /** DuckDB re-derivation of [[simhashPairs]] (segment pigeonhole join +
    * exact Hamming ≤ 2 via bit_count of xor — keep the literal in sync
    * with the query's maxHamming default).
    */
  val simhashPairsSql: String =
    s"""WITH $simhashSql, segs0 AS (
         SELECT doc_id, simhash, unnest([
           '0:' || (simhash % 256),
           '1:' || ((simhash // 256) % 256),
           '2:' || ((simhash // 65536) % 256),
           '3:' || ((simhash // 16777216) % 256)]) AS seg_key
         FROM sh
       ), small AS (
         SELECT seg_key FROM segs0 GROUP BY seg_key HAVING count(*) <= 4096
       ), segs AS (
         SELECT segs0.* FROM segs0 JOIN small USING (seg_key)
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sh_a, b.simhash AS sh_b
         FROM segs a JOIN segs b USING (seg_key)
         WHERE a.doc_id < b.doc_id
       )
       SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
       FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2"""

  /** DuckDB oracle for [[simhashPairsSampled]]. */
  val simhashPairsSampledSql: String =
    s"""WITH $simhashSql, segs0 AS (
         SELECT doc_id, simhash, unnest([
           '0:' || (simhash % 256),
           '1:' || ((simhash // 256) % 256),
           '2:' || ((simhash // 65536) % 256),
           '3:' || ((simhash // 16777216) % 256)]) AS seg_key
         FROM sh
       ), small AS (
         SELECT seg_key FROM segs0 GROUP BY seg_key HAVING count(*) <= 4096
       ), segs AS (
         SELECT segs0.* FROM segs0 JOIN small USING (seg_key)
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sh_a, b.simhash AS sh_b
         FROM segs a JOIN segs b USING (seg_key)
         WHERE a.doc_id < b.doc_id
           AND ${Sampling.pairPred("a.doc_id", "b.doc_id", MediaSampleK)}
       )
       SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
       FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2"""

  /** Near-dup CLUSTERING — the step a dedup pipeline runs after the pair
    * sketch: candidate pairs ([[simhashPairs]]) become an undirected
    * graph, connected components are computed distributed, and each
    * component elects one canonical survivor (its minimum doc id) — the
    * "which copies do we drop" answer, not just "which pairs look alike".
    *
    * Algorithm and scale design: [[graft.operators.ConnectedComponents]]
    * (min-label propagation + pointer jumping, O(log n) rounds,
    * per-round checkpoint, fail-closed on non-convergence).
    *
    * Oracle: DuckDB re-derives the pairs (same SQL as q_simhash_pairs)
    * and computes components with a recursive transitive-closure CTE —
    * feasible at oracle scale, which is exactly why the engine side
    * must NOT do it that way (closure is quadratic per component).
    */
  def dedupClusters(
      s: SparkSession,
      dir: String,
      maxIters: Int = graft.operators.ConnectedComponents.DefaultMaxIters): DataFrame = {
    val pairs = simhashPairs(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.operators.ConnectedComponents
      .components(pairs, maxIters)
      .select(
        col("id").as("doc_id"),
        col("component"),
        (col("id") === col("component")).as("keep"))
  }

  /** Shared CTE chain ending in `comp(doc_id, component)` — the cluster
    * labeling by recursive transitive closure over the simhash pair
    * graph. Reused by the curation oracle so the cluster derivation has
    * exactly one SQL mirror.
    */
  /** Non-recursive prefix of [[clusterCtesSql]], ending at the verified
    * candidate pairs — reused verbatim by the DECOMPOSED sf1 oracle
    * path (tools/compare_oracle.py --decompose), which replaces the
    * all-pairs `reach` closure with a python min-id union-find over
    * exactly these edges.
    */
  private[queries] val clusterEdgeCtesSql: String =
    s"""$simhashSql, segs0 AS (
         SELECT doc_id, simhash, unnest([
           '0:' || (simhash % 256),
           '1:' || ((simhash // 256) % 256),
           '2:' || ((simhash // 65536) % 256),
           '3:' || ((simhash // 16777216) % 256)]) AS seg_key
         FROM sh
       ), small AS (
         SELECT seg_key FROM segs0 GROUP BY seg_key HAVING count(*) <= 4096
       ), segs AS (
         SELECT segs0.* FROM segs0 JOIN small USING (seg_key)
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM segs a JOIN segs b USING (seg_key)
         WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 2
       )"""

  private[queries] val clusterCtesSql: String =
    s"""$clusterEdgeCtesSql, e AS (
         SELECT doc_a AS a, doc_b AS b FROM cand
         UNION SELECT doc_b, doc_a FROM cand
       ), reach(a, b) AS (
         SELECT a, b FROM e
         UNION
         SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
       ), comp AS (
         SELECT a AS doc_id, least(a, min(b)) AS component
         FROM reach GROUP BY a
       )"""

  /** DuckDB oracle for [[dedupClusters]]: [[clusterCtesSql]] + the
    * canonical-survivor projection.
    */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $clusterCtesSql
       SELECT doc_id, component, (doc_id = component) AS keep FROM comp"""

  /** Quality-aware survivor selection per near-dup cluster: instead of
    * [[dedupClusters]]' min-id convention, keep the LONGEST member
    * (ties → min doc_id) — the RefinedWeb/CCNet "keep the best
    * duplicate" rule, with document length standing in for any quality
    * score (swap in the [[MiningQueries.qualityFilter]] model score and
    * the plan is unchanged).
    *
    * Scale: the argmax is a `max(struct(n_chars, −doc_id))` PARTIAL
    * AGGREGATE — skew-proof (a million-member boilerplate clique
    * collapses map-side; a row_number window would funnel it through
    * one reducer), the same discipline as q_line_dedup's first
    * occurrence. All columns exact integers.
    */
  def clusterBestSurvivor(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .select(col("doc_id"), col("component"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(
          col("n_chars").cast("long").as("nc"),
          (lit(0L) - col("doc_id")).as("nd"))).as("m"))
      .select(
        col("component"),
        col("n_members"),
        (lit(0L) - col("m.nd")).as("survivor_doc_id"),
        col("m.nc").as("survivor_n_chars"))

  /** DuckDB oracle for [[clusterBestSurvivor]]: the shared cluster
    * closure + the identical (n_chars, −doc_id) argmax.
    */
  val clusterBestSurvivorSql: String =
    s"""WITH RECURSIVE $clusterCtesSql, sized AS (
         SELECT comp.doc_id, comp.component, CAST(d.n_chars AS BIGINT) AS n_chars
         FROM comp JOIN documents d ON d.doc_id = comp.doc_id
       )
       SELECT component, count(*) AS n_members,
              CAST(first(doc_id ORDER BY n_chars DESC, doc_id) AS BIGINT)
                AS survivor_doc_id,
              CAST(max(n_chars) AS BIGINT) AS survivor_n_chars
       FROM sized GROUP BY component"""

  /** Stopword-marker occurrence count as a column expression (the
    * length-difference trick — identical semantics in Spark and DuckDB),
    * shared by [[languageId]] and [[corpusCuration]].
    */
  private def occurrencesCol(marker: String) =
    ((length(col("text")) - length(regexp_replace(col("text"), lit(marker), lit("")))) /
      marker.length).cast("long")

  private def scoreEnCol = occurrencesCol(" the ") + occurrencesCol(" a ")
  private def scoreDeCol = occurrencesCol(" der ") + occurrencesCol(" und ")
  private def scoreFrCol = occurrencesCol(" le ") + occurrencesCol(" et ")

  /** Language verdict from score COLUMNS already in scope (argmax with
    * deterministic tiebreak) — one definition for both query paths.
    */
  private def detectedCol(
      en: org.apache.spark.sql.Column,
      de: org.apache.spark.sql.Column,
      fr: org.apache.spark.sql.Column) =
    when(en >= de && en >= fr && en > 0, "en")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("unknown")

  /** Shared CTE `lang_scored(doc_id, lang, score_*, detected)` — the
    * language-ID derivation, reused by the curation oracle. Declared
    * BEFORE every val that interpolates it: a strict val referencing a
    * later-declared fragment silently captures its pre-init null.
    */
  private[queries] val langScoredCteSql: String =
    """lang_scored AS (
         SELECT doc_id, lang, score_en, score_de, score_fr,
           CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en > 0 THEN 'en'
                WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
                WHEN score_fr > 0 THEN 'fr'
                ELSE 'unknown' END AS detected
         FROM (
           SELECT doc_id, lang,
             CAST((length(text) - length(replace(text, ' the ', ''))) // 5
                + (length(text) - length(replace(text, ' a ', ''))) // 3 AS BIGINT) AS score_en,
             CAST((length(text) - length(replace(text, ' der ', ''))) // 5
                + (length(text) - length(replace(text, ' und ', ''))) // 5 AS BIGINT) AS score_de,
             CAST((length(text) - length(replace(text, ' le ', ''))) // 4
                + (length(text) - length(replace(text, ' et ', ''))) // 4 AS BIGINT) AS score_fr
           FROM documents))"""

  /** The END-TO-END curation decision a training-data pipeline actually
    * ships: per document, combine (a) exact-dup survivorship (min doc id
    * per content hash), (b) near-dup survivorship (canonical member of
    * its [[dedupClusters]] component; docs outside the pair graph keep
    * by default), (c) a token-count quality band, and (d) language-ID
    * confidence — into one `curated` verdict with the per-rule votes
    * kept visible (the reason codes an auditor needs, not just the
    * final boolean).
    *
    * Scale: ONE corpus scan computes every per-row signal (token count,
    * language scores, content hash) — the exact-survivor window is the
    * only full-corpus shuffle, and the cluster labeling joins as a tiny
    * left side. The per-rule semantics stay shared with their
    * stand-alone queries at the EXPRESSION level ([[occurrencesCol]]/
    * [[detectedCol]], [[TextQueries.nTokensSqlExpr]], the cluster and
    * language CTE fragments), so the composed decision and the
    * per-stage oracles move together.
    */
  def corpusCuration(s: SparkSession, dir: String): DataFrame = {
    // per-row signals in one pass over documents
    val en = scoreEnCol
    val de = scoreDeCol
    val fr = scoreFrCol
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text").cast("binary")))
    val base = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        (col("doc_id") === min(col("doc_id")).over(w)).as("exact_keep"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
        detectedCol(en, de, fr).as("detected"))
    // near-dup survivor from the cluster labeling (docs outside the
    // pair graph keep by default)
    val nd = dedupClusters(s, dir).select(col("doc_id"), col("keep").as("nd_keep"))
    base
      .join(nd, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("lang"),
        col("detected"),
        col("n_tokens"),
        col("exact_keep"),
        coalesce(col("nd_keep"), lit(true)).as("neardup_keep"),
        col("n_tokens").between(50, 400).as("quality_keep"),
        (col("detected") =!= "unknown").as("lang_keep"))
      .withColumn(
        "curated",
        col("exact_keep") && col("neardup_keep") && col("quality_keep") && col("lang_keep"))
  }

  /** DuckDB oracle for [[corpusCuration]]: the shared cluster and
    * language CTEs plus the exact-hash window and the token band (token
    * expression shared with the text-stats oracle).
    */
  /** Tail of [[corpusCurationSql]] after the near-dup `comp` labeling —
    * shared by the recursive oracle and the --decompose path.
    */
  private val corpusCurationTailSql: String =
    s"""ex AS (
         SELECT doc_id, lang,
                doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS exact_keep,
                ${TextQueries.nTokensSqlExpr}::BIGINT AS n_tokens
         FROM documents
       )
       SELECT ex.doc_id, ex.lang, l.detected, ex.n_tokens,
              ex.exact_keep,
              coalesce(c.doc_id = c.component, TRUE) AS neardup_keep,
              (ex.n_tokens BETWEEN 50 AND 400) AS quality_keep,
              (l.detected <> 'unknown') AS lang_keep,
              ex.exact_keep AND coalesce(c.doc_id = c.component, TRUE)
                AND (ex.n_tokens BETWEEN 50 AND 400)
                AND (l.detected <> 'unknown') AS curated
       FROM ex
       LEFT JOIN comp c ON c.doc_id = ex.doc_id
       JOIN lang_scored l ON l.doc_id = ex.doc_id"""

  val corpusCurationSql: String =
    s"WITH RECURSIVE $clusterCtesSql, $langScoredCteSql, $corpusCurationTailSql"

  /** Decomposed sf1 oracle paths for the closure family
    * (tools/compare_oracle.py --decompose): DuckDB's all-pairs `reach`
    * recursive CTE is infeasible at sf1 graph sizes (SCALE.md r12), so
    * the decomposed verdict runs the NON-RECURSIVE edge derivation in
    * DuckDB, labels components with an independent python min-id
    * union-find (registered back as `uf_comp(node, component)` — the
    * same labeling `comp` computes: every edge endpoint keyed to the
    * min id of its component), and replays the oracle's tail SQL over
    * it. Each entry is (edgesSql → columns a, b; tailSql over uf_comp).
    */
  val dedupClustersDecomposed: (String, String) = (
    s"WITH $clusterEdgeCtesSql SELECT doc_a AS a, doc_b AS b FROM cand",
    """WITH comp AS (SELECT node AS doc_id, component FROM uf_comp)
       SELECT doc_id, component, (doc_id = component) AS keep FROM comp""")

  val clusterBestSurvivorDecomposed: (String, String) = (
    s"WITH $clusterEdgeCtesSql SELECT doc_a AS a, doc_b AS b FROM cand",
    """WITH comp AS (SELECT node AS doc_id, component FROM uf_comp), sized AS (
         SELECT comp.doc_id, comp.component, CAST(d.n_chars AS BIGINT) AS n_chars
         FROM comp JOIN documents d ON d.doc_id = comp.doc_id
       )
       SELECT component, count(*) AS n_members,
              CAST(first(doc_id ORDER BY n_chars DESC, doc_id) AS BIGINT)
                AS survivor_doc_id,
              CAST(max(n_chars) AS BIGINT) AS survivor_n_chars
       FROM sized GROUP BY component""")

  val corpusCurationDecomposed: (String, String) = (
    s"WITH $clusterEdgeCtesSql SELECT doc_a AS a, doc_b AS b FROM cand",
    s"""WITH $langScoredCteSql,
       comp AS (SELECT node AS doc_id, component FROM uf_comp),
       $corpusCurationTailSql""")

  def mediaDedupClustersDecomposed(maxHamming: Int = 3): (String, String) = (
    s"WITH ${mediaStarCtesSql(maxHamming)} SELECT a, b FROM star",
    """WITH comp AS (SELECT node AS doc_id, component FROM uf_comp)
       SELECT doc_id, component, doc_id = component AS keep FROM comp""")

  /** Exact word-set Jaccard between all document pairs of one language
    * among `doc_id < 80` — the verification kernel for the sketch paths,
    * oracle-checked (pure set algebra).
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val (common, sizes) = wordOverlapPairs(s, dir)
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_words", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_words", "n_b"), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_common"),
        round(col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.2)
  }

  /** Asymmetric containment near-dup: C(A→B) = |words(A) ∩ words(B)| /
    * |words(A)| for same-language pairs — the detector Jaccard
    * structurally misses: a short document wholly absorbed into a long
    * one has tiny Jaccard (union is dominated by the long doc) but
    * containment ≈ 1 from the short side. Emitted when either direction
    * reaches 0.5, on ROUNDED values so the cut compares identical
    * doubles cross-engine.
    *
    * Scale: identical shape to [[ngramJaccard]] — word-keyed candidate
    * join (AQE-skew handled), per-doc sizes from one partial aggregate;
    * at 100 TB the same containment formula runs over the MinHash band
    * buckets ([[minhashPairs]]) instead of the raw word join.
    */
  /** Word-overlap candidate machinery shared by [[ngramJaccard]] and
    * [[containmentDedup]] — ONE definition of the tokenization, the
    * doc_id<80 demo cut, and the same-language canonical pair join, so
    * the two similarity metrics cannot drift. Returns (pairs with
    * n_common, per-doc sizes). (GraphQueries.similarityPairs is the
    * thresholded GRAPH variant of the same shape — kept separate because
    * its contract is an edge list, not scored pairs.)
    */
  private def wordOverlapPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables
      .documents(s, dir)
      .filter(col("doc_id") < 80)
      .select(col("doc_id"), col("lang"), explode(array_distinct(split(col("text"), " ", -1))).as("w"))
    val sizes = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_words"))
    val a = docs.select(col("doc_id").as("doc_a"), col("lang"), col("w"))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("w"))
    val common = a
      .join(b, Seq("w"))
      .filter(col("doc_a") < col("doc_b") && col("lang") === col("lang_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    (common, sizes)
  }

  def containmentDedup(s: SparkSession, dir: String): DataFrame = {
    val (common, sizes) = wordOverlapPairs(s, dir)
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_words", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_words", "n_b"), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_common"),
        round(col("n_common").cast("double") / col("n_a").cast("double"), 6).as("containment_a"),
        round(col("n_common").cast("double") / col("n_b").cast("double"), 6).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= 0.5)
  }

  val containmentDedupSql: String =
    """WITH words AS (
         SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS w
         FROM documents WHERE doc_id < 80
       ), sizes AS (
         SELECT doc_id, count(*) AS n_words FROM words GROUP BY doc_id
       ), common AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
          AND a.lang = b.lang
         GROUP BY 1, 2
       ), scored AS (
         SELECT doc_a, doc_b, n_common,
                round(CAST(n_common AS DOUBLE) / CAST(sa.n_words AS DOUBLE), 6) AS containment_a,
                round(CAST(n_common AS DOUBLE) / CAST(sb.n_words AS DOUBLE), 6) AS containment_b
         FROM common
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
       )
       SELECT * FROM scored WHERE greatest(containment_a, containment_b) >= 0.5"""

  val ngramJaccardSql: String =
    """WITH words AS (
         SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS w
         FROM documents WHERE doc_id < 80
       ), sizes AS (
         SELECT doc_id, count(*) AS n_words FROM words GROUP BY doc_id
       ), common AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
          AND a.lang = b.lang
         GROUP BY 1, 2
       )
       SELECT doc_a, doc_b, n_common,
              round(CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common), 6) AS jaccard
       FROM common
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common), 6) >= 0.2"""

  /** Exact BIGRAM-shingle Jaccard among `doc_id < 60` — word-order
    * sensitivity that the unigram set ([[ngramJaccard]]) cannot see:
    * permuted documents share all unigrams but few bigrams. Pure set
    * algebra end to end, oracle-checked.
    */
  def bigramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(s, dir)
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      .select(
        col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(ws) - 2), i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))")))
          .as("sh"))
    val sizes = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh"))
    val common = a
      .join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_common"),
        round(col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.05)
  }

  val bigramJaccardSql: String =
    """WITH shingled AS (
         SELECT doc_id,
                unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] FOR i IN range(len(ws) - 1)])) AS sh
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 60)
       ), sizes AS (
         SELECT doc_id, count(*) AS n_shingles FROM shingled GROUP BY doc_id
       ), common AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )
       SELECT doc_a, doc_b, n_common,
              round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
       FROM common
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.05"""

  /** Winnowed rolling-hash document fingerprints (MOSS scheme) — summary
    * per document; shared fingerprints locate shared passages.
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame = {
    val fpUdf = udf { (text: String) => TextHash.winnow(text) }
    Tables
      .documents(s, dir)
      .select(col("doc_id"), fpUdf(col("text")).as("fps"))
      .select(
        col("doc_id"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
  }

  /** DuckDB re-derivation of [[fingerprints]]: the k=8 char-gram hash is
    * the polynomial fold unrolled to 8 terms (31^j mod P constants), the
    * w=4 winnow is a ROWS window-min, fingerprints are the distinct
    * window minima (the rightmost-min tie rule selects a position, never
    * a different value, so it cannot affect the distinct value set).
    */
  val fingerprintsSql: String = {
    val P = TextHash.P
    val pow = Array.iterate(1L, 8)(p => p * 31L % P).reverse
    val terms = (0 until 8)
      .map(j => s"(unicode(text[i+$j:i+$j])::BIGINT + 1) * ${pow(j)}")
      .mkString(" + ")
    s"""WITH pos AS (
         SELECT doc_id, text, unnest(range(1, greatest(length(text) - 8 + 1, 1) + 1)) AS i
         FROM documents
       ), h AS (
         SELECT doc_id, i, length(text) AS len,
           CASE WHEN length(text) < 8
             THEN list_reduce(
                    list_prepend(0::BIGINT, [unicode(c)::BIGINT FOR c IN string_split(text, '')]),
                    (acc, c) -> (acc*31 + c + 1) % $P)
             ELSE ($terms) % $P END AS fp
         FROM pos
       ), wins AS (
         SELECT doc_id, i,
           min(fp) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
           len
         FROM h
         QUALIFY i <= greatest(len - 8 + 1 - 4, 0) + 1
       )
       SELECT doc_id, count(DISTINCT wmin)::BIGINT AS n_fingerprints,
              min(wmin) AS min_fp, max(wmin) AS max_fp
       FROM wins GROUP BY doc_id"""
  }

  /** Language-ID heuristic: stopword-marker counts per candidate language
    * ([[occurrencesCol]] — identical semantics in Spark and DuckDB),
    * argmax with deterministic tiebreak ([[detectedCol]], shared with the
    * curation verdict).
    */
  def languageId(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        scoreEnCol.as("score_en"),
        scoreDeCol.as("score_de"),
        scoreFrCol.as("score_fr"))
      .withColumn(
        "detected",
        detectedCol(col("score_en"), col("score_de"), col("score_fr")))

  val languageIdSql: String =
    s"""WITH $langScoredCteSql
       SELECT doc_id, lang, score_en, score_de, score_fr, detected
       FROM lang_scored"""

  /** Regex token counting (whitespace words vs a BPE-ish split into word /
    * digit / punctuation units) — oracle-checked; same regex semantics for
    * this ASCII class in Java and RE2.
    */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), "\\s+", -1)).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long")
          .as("bpe_ish_tokens"))

  val tokenCountsSql: String =
    """SELECT doc_id,
       len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
       FROM documents"""

  /** Jaccard threshold for [[similarityJoin]]: J ≥ 0.95, verified by
    * the exact integer cross-multiplication `39·c ≥ 19·(na+nb)`
    * (J = c/(na+nb−c) ≥ t ⟺ (1+t)·c ≥ t·(na+nb), scaled to integers
    * for t = 19/20).
    */
  private val SimJoinDocCap = 400

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/AllPairs discipline, distinct from the approximate
    * MinHash path): tokens get a global canonical order (document
    * frequency ascending, then word — rare tokens first, so prefixes
    * are selective), each document exposes only its first
    * `n − ⌊0.95·n⌋ + 1` ordered tokens as join keys (one MORE than the
    * theoretical minimum, so integer arithmetic can never under-cover),
    * candidate pairs equi-join on a shared prefix token, and the final
    * Jaccard test is the exact integer cross-multiplication — no float
    * threshold, no false negatives (prefix filtering is lossless), no
    * all-pairs product. The oracle IS the all-pairs definition, so the
    * equivalence of the filtered plan to the brute-force semantics is
    * exactly what the hash match proves.
    *
    * Scale: the doc cap mirrors the graph family (the demo corpus
    * slice); on an uncapped corpus the candidate count is governed by
    * prefix selectivity — the standard result this operator exists to
    * exploit — and the vocabulary-frequency join is vocabulary-sized.
    */
  def similarityJoin(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documents(s, dir)
      .filter(col("doc_id") < SimJoinDocCap)
      .select(
        col("doc_id"),
        explode(array_distinct(split(col("text"), " ", -1))).as("w"))
      .filter(col("w") =!= "")
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("f"))
    val arr = Reuse.pin(
      tok
        .join(freq, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("f"), col("w")))).as("fw"))
        .withColumn("words", expr("transform(fw, x -> x.w)"))
        .withColumn("n", size(col("words")).cast("long"))
        .withColumn("p", col("n") - expr("(19 * n) div 20") + 1)
        .select(col("doc_id"), col("words"), col("n"), col("p")))
    val prefixes = arr.select(
      col("doc_id"),
      explode(expr("slice(words, 1, cast(p as int))")).as("pw"))
    val cand = prefixes
      .join(
        prefixes.select(col("doc_id").as("doc_b"), col("pw")),
        Seq("pw"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(
        arr.select(col("doc_id").as("doc_a"), col("words").as("wa"), col("n").as("na")),
        Seq("doc_a"))
      .join(
        arr.select(col("doc_id").as("doc_b"), col("words").as("wb"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("c", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .filter(col("c") * 39 >= (col("na") + col("nb")) * 19)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("c").as("n_common"),
        round(
          col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"),
          6).as("jaccard"))
  }

  /** MinHash recall harness — the quality bridge between the
    * APPROXIMATE path ([[minhashPairs]], banded LSH candidates at
    * estimated J ≥ 0.7) and the EXACT one ([[similarityJoin]], true
    * J ≥ 0.95 by definition): every exact high-similarity pair should
    * be recovered by the sketch with high probability, and this query
    * MEASURES it instead of asserting it — n_exact, the sketch's
    * candidate count on the same slice, the hit count, and recall.
    * The ANN-recall discipline ([[VectorQueries]] q_ann_recall)
    * applied to the dedup surface; both legs are deterministic, so the
    * recall itself is oracle-exact.
    *
    * Measured finding on the harness corpus: recall ≈ 0.12 — NOT a
    * sketch failure but the ≤64 bucket cap doing its documented job on
    * a pathological input (the synthetic 31-word vocabulary makes most
    * documents near-duplicates of each other, so band buckets become
    * mega-buckets and get skipped). On a real corpus the cap trims
    * only degenerate boilerplate regions; here it IS the corpus. That
    * trade-off being measurable — not asserted — is the point of the
    * harness, the same contract as q_ann_sweep's recall/cost curve.
    * [[minhashRecallProd]] is the contrast leg: the same pipeline and
    * config on a wide-vocabulary corpus, where recall lands where the
    * S-curve says it should (≈0.99).
    */
  def minhashRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = Reuse.pin(similarityJoin(s, dir).select(col("doc_a"), col("doc_b")))
    val mh = Reuse.pin(
      minhashPairs(s, dir)
        .filter(col("doc_a") < SimJoinDocCap && col("doc_b") < SimJoinDocCap)
        .select(col("doc_a").as("ma"), col("doc_b").as("mb")))
    val hit = exact.join(
      mh,
      col("doc_a") === col("ma") && col("doc_b") === col("mb"),
      "left_semi")
    exact
      .agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(mh.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(
        col("n_exact"),
        col("n_candidates"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall"))
  }

  // def, not val: similarityJoinSql is declared LATER in the object and
  // a forward val reference would interpolate null at class init
  def minhashRecallSql: String =
    s"""WITH ex AS (SELECT doc_a, doc_b FROM ($similarityJoinSql)),
       mh AS (SELECT doc_a AS ma, doc_b AS mb FROM ($minhashPairsSql)
              WHERE doc_a < $SimJoinDocCap AND doc_b < $SimJoinDocCap),
       agg AS (
         SELECT (SELECT count(*) FROM ex) AS n_exact,
                (SELECT count(*) FROM mh) AS n_candidates,
                (SELECT count(*) FROM ex
                 WHERE EXISTS (SELECT 1 FROM mh
                               WHERE ma = ex.doc_a AND mb = ex.doc_b)) AS n_hit)
       SELECT n_exact, n_candidates, n_hit,
              round(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall
       FROM agg"""

  /** Base-doc cap and paraphrase id offset for [[minhashRecallProd]]. */
  private val RecallDocCap = 200
  private val ParaOffset = 100000L

  /** Paraphrase corpus for the PRODUCTION recall leg: each base document
    * gets a PRIVATE vocabulary (every token suffixed with its doc_id, so
    * cross-document similarity is exactly zero) and one paraphrase twin
    * (doc_id + [[ParaOffset]]) that drops every 20th token of the SORTED
    * token list — true Jaccard (n − ⌊n/20⌋)/n ≥ 0.95 per pair. The sort
    * pins WHICH tokens drop identically in both engines (array_distinct
    * order is an implementation detail; binary ASCII order is not).
    */
  private def paraphraseCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(s, dir)
      .filter(col("doc_id") < RecallDocCap)
      .filter(length(regexp_replace(col("text"), lit(" "), lit(""))) > 0)
      .select(
        col("doc_id"),
        expr(
          "array_sort(transform(array_distinct(filter(split(text, ' '), " +
            "w -> w != '')), w -> concat(w, '_', doc_id)))").as("ws"))
    base
      .select(col("doc_id"), array_join(col("ws"), " ").as("text"))
      .unionByName(base.select(
        (col("doc_id") + ParaOffset).as("doc_id"),
        array_join(expr("filter(ws, (w, i) -> (i + 1) % 20 != 0)"), " ").as("text")))
  }

  /** MinHash recall at a PRODUCTION operating point (r10 ask #5 — the
    * contrast leg to [[minhashRecall]]): the harness corpus's 31-word
    * vocabulary makes every band bucket a mega-bucket, so the ≤64 cap
    * dominates and measured recall is ~0.12 — the CAP's behavior, not
    * the sketch's. This leg runs the IDENTICAL pipeline and config
    * (128 perms, 8×16 bands, cap 64, est ≥ 0.7) over the paraphrase
    * corpus, where vocabulary is wide (private per doc — the realistic
    * regime: near-dup pairs exist, boilerplate cliques don't). Ground
    * truth is the exact set-Jaccard of each (base, paraphrase) pair —
    * cross pairs share zero tokens by construction, so those are ALL
    * the true pairs at J ≥ 0.7 (verified by exact integer
    * cross-multiplication, not assumed). Expected recall at J≈0.95 with
    * 8×16 banding is 1−(1−0.95¹⁶)⁸ ≈ 0.99; the measured value is
    * deterministic and oracle-exact.
    */
  def minhashRecallProd(s: SparkSession, dir: String): DataFrame = {
    val corpus = Reuse.pin(paraphraseCorpus(s, dir))
    val sets = corpus.select(
      col("doc_id"),
      array_distinct(split(col("text"), " ", -1)).as("ws"))
    val exact = Reuse.pin(
      sets
        .filter(col("doc_id") < ParaOffset)
        .select(col("doc_id").as("doc_a"), col("ws").as("wa"))
        .join(
          sets
            .filter(col("doc_id") >= ParaOffset)
            .select((col("doc_id") - ParaOffset).as("doc_a"), col("ws").as("wb")),
          Seq("doc_a"))
        .withColumn("c", size(array_intersect(col("wa"), col("wb"))).cast("long"))
        .withColumn("u", size(array_union(col("wa"), col("wb"))).cast("long"))
        .filter(col("c") * 10 >= col("u") * 7)
        .select(col("doc_a"), (col("doc_a") + ParaOffset).as("doc_b")))
    val mh = Reuse.pin(
      minhashPairsOver(corpus, 0.7)
        .select(col("doc_a").as("ma"), col("doc_b").as("mb")))
    val hit = exact.join(
      mh,
      col("doc_a") === col("ma") && col("doc_b") === col("mb"),
      "left_semi")
    exact
      .agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(mh.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(
        col("n_exact"),
        col("n_candidates"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall"))
  }

  /** Oracle for [[minhashRecallProd]] — the paraphrase corpus re-derived
    * in SQL (sorted widened tokens, 1-based `i % 20` drop ≡ Spark's
    * 0-based `(i+1) % 20`), fed through the same banded-LSH oracle
    * pipeline via [[minhashPairsSqlOver]].
    */
  def minhashRecallProdSql: String =
    s"""WITH base AS (
         SELECT doc_id,
                list_sort([w || '_' || doc_id::VARCHAR
                           FOR w IN list_distinct(list_filter(string_split(text, ' '),
                                                              w -> w <> ''))]) AS ws
         FROM documents
         WHERE doc_id < $RecallDocCap AND length(replace(text, ' ', '')) > 0),
       corpus AS (
         SELECT doc_id, array_to_string(ws, ' ') AS text FROM base
         UNION ALL
         SELECT doc_id + $ParaOffset,
                array_to_string(list_filter(ws, (w, i) -> i % 20 != 0), ' ')
         FROM base),
       ex AS (
         SELECT doc_id AS doc_a, doc_id + $ParaOffset AS doc_b
         FROM base
         WHERE len(list_intersect(ws, list_filter(ws, (w, i) -> i % 20 != 0))) * 10
               >= len(list_distinct(ws || list_filter(ws, (w, i) -> i % 20 != 0))) * 7),
       mh AS (SELECT doc_a AS ma, doc_b AS mb FROM (${minhashPairsSqlOver("corpus")})),
       agg AS (
         SELECT (SELECT count(*) FROM ex) AS n_exact,
                (SELECT count(*) FROM mh) AS n_candidates,
                (SELECT count(*) FROM ex
                 WHERE EXISTS (SELECT 1 FROM mh
                               WHERE ma = ex.doc_a AND mb = ex.doc_b)) AS n_hit)
       SELECT n_exact, n_candidates, n_hit,
              round(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall
       FROM agg"""

  /** All-pairs oracle for [[similarityJoin]] — brute force is the
    * DEFINITION the prefix-filtered plan must reproduce exactly.
    */
  val similarityJoinSql: String =
    s"""WITH toks AS (
         SELECT doc_id,
                list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS la
         FROM documents
         WHERE doc_id < $SimJoinDocCap
           -- token-less docs never reach the Spark side's tok table; two
           -- empty sets would pass 0*39 >= 0*19 here and fabricate a pair
           AND length(replace(text, ' ', '')) > 0),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.la, b.la)) AS BIGINT) AS c,
                len(a.la) AS na, len(b.la) AS nb
         FROM toks a JOIN toks b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, c AS n_common,
              round(CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE), 6) AS jaccard
       FROM pairs WHERE c * 39 >= (na + nb) * 19"""

  // --------------------------------------------------------------------
  // q_jaro_winkler — best fuzzy name match per part (blocked JW join)
  // --------------------------------------------------------------------

  /** Best Jaro-Winkler match per part within (brand, first-name-token)
    * blocks: for every part, the single most similar other part name
    * with similarity ≥ 0.9 — the fuzzy entity-matching readout, with a
    * LINEAR output contract (one row per matched part, never the pair
    * list).
    *
    * The kernel is [[graft.plans.JaroWinkler]], a codegen'd Catalyst
    * expression implementing the RapidFuzz arithmetic conventions
    * (integer-division transpositions, exact operand order) so scores
    * are bit-for-bit identical to DuckDB's `jaro_winkler_similarity` —
    * verified on 52k fixture pairs — which is what lets the top-1
    * window (jw DESC, key) rank identically in both engines with no
    * quantize-before-rank step.
    *
    * Scale: the same two-key blocking discipline as
    * q_entity_resolution — the equi-join on (brand, token) bounds the
    * candidate set per block; the ≥ 0.9 filter runs inside the join
    * projection BEFORE the per-part ranking window, so the shuffle to
    * the window carries only plausible matches.
    */
  def jaroBestMatch(s: SparkSession, dir: String): DataFrame = {
    graft.plans.JaroWinkler.register(s)
    val p = Tables
      .part(s, dir)
      .select(
        col("p_partkey"),
        col("p_brand"),
        col("p_name"),
        split(col("p_name"), " ", -1).getItem(0).as("w1"))
    val a = p.select(
      col("p_partkey").as("key_a"), col("p_brand").as("brand"),
      col("w1"), col("p_name").as("name_a"))
    val b = p.select(
      col("p_partkey").as("match_key"), col("p_brand").as("brand"),
      col("w1"), col("p_name").as("match_name"))
    val w = Window.partitionBy(col("key_a")).orderBy(col("jw").desc, col("match_key"))
    a.join(b, Seq("brand", "w1"))
      .filter(col("key_a") =!= col("match_key"))
      .withColumn("jw", expr("jaro_winkler(name_a, match_name)"))
      .filter(col("jw") >= 0.9)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(
        col("key_a").as("p_partkey"), col("brand"), col("name_a"),
        col("match_key"), col("match_name"), q6(col("jw")).as("jw"))
  }

  val jaroBestMatchSql: String =
    """WITH p AS (
         SELECT p_partkey, p_brand, p_name, string_split(p_name, ' ')[1] AS w1
         FROM part),
       pairs AS (
         SELECT a.p_partkey AS key_a, a.p_brand AS brand, a.p_name AS name_a,
                b.p_partkey AS match_key, b.p_name AS match_name,
                jaro_winkler_similarity(a.p_name, b.p_name) AS jw
         FROM p a JOIN p b
           ON a.p_brand = b.p_brand AND a.w1 = b.w1 AND a.p_partkey <> b.p_partkey
         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9),
       rk AS (
         SELECT *, row_number() OVER (PARTITION BY key_a ORDER BY jw DESC, match_key) AS rnk
         FROM pairs)
       SELECT key_a AS p_partkey, brand, name_a, match_key, match_name,
              floor(jw * 1e6 + 0.5) / 1e6 AS jw
       FROM rk WHERE rnk = 1"""
}
