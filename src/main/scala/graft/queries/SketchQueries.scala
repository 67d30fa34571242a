package graft.queries

import graft.Reuse
import graft.Tables
import graft.functions.{MinK, TextHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probabilistic summary sketches over the `documents` corpus — the
  * cardinality / frequency estimators a 100 TB profiling pass runs where
  * exact answers would need an unbounded shuffle. Both sketches use the
  * SQL-reproducible mod-prime universal hash family ([[TextHash.permHash]]),
  * so the DuckDB oracle re-derives every counter and minimum bit-for-bit —
  * the estimates are checked exactly, not statistically.
  *
  * The small-SF queries also carry the exact answer alongside the estimate
  * (the verification leg); at production scale the exact leg is what you
  * drop — the sketch legs alone are one bounded-state shuffle each.
  */
object SketchQueries {

  private val P = TextHash.P

  /** Trailing-zero register rank of hash column `h` under `m` registers
    * (rank = tz(⌊h/m⌋)+1, capped at 26) — ONE definition for every HLL
    * builder ([[hllDistinct]], [[hllRollup]]).
    */
  private def hllRankExpr(m: Int) =
    expr(s"coalesce(array_min(filter(sequence(0, 25), k -> (shiftright(h div $m, k) & 1) = 1)), 25) + 1")

  /** Flajolet et al.'s bias constant as a function of register count —
    * hardwiring the m = 64 value (0.709) would bias every non-default
    * `m` a caller tunes (~5% over at m = 16): α₁₆ = 0.673, α₃₂ = 0.697,
    * α₆₄ = 0.709, else 0.7213/(1 + 1.079/m).
    */
  private[queries] def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  /** The HLL estimator over (z, nz) columns: α(m)·m²/Z with the standard
    * small-range linear-counting correction — shared by every register
    * consumer so an estimator correction has one home.
    */
  private def hllEstimate(m: Int, z: org.apache.spark.sql.Column, nz: org.apache.spark.sql.Column) = {
    val raw = lit(hllAlpha(m) * m * m) / z
    when(
      nz > 0 && raw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / nz.cast("double")))
      .otherwise(raw)
  }

  /** SQL twin of [[hllEstimate]] for the DuckDB oracles. */
  private[queries] def hllEstCaseSql(m: Int, z: String, nz: String): String =
    s"""CASE WHEN $nz > 0 AND (${hllAlpha(m) * m * m}) / $z <= ${2.5 * m}
            THEN $m * ln($m / CAST($nz AS DOUBLE))
            ELSE (${hllAlpha(m) * m * m}) / $z END"""

  /** DuckDB fragment: [[TextHash.polyHash]] of column/binding `w`. */
  private[queries] def polySql(w: String): String =
    s"""list_reduce(list_prepend(0::BIGINT, [unicode(c)::BIGINT FOR c IN string_split($w, '')]),
                    (acc, c) -> (acc*31 + c + 1) % $P)"""

  /** DuckDB fragment: [[TextHash.permHash]] of hash expression `h` with
    * seed expression `i` (both SQL expressions; every intermediate < 2⁶²).
    */
  private[queries] def permSql(h: String, i: String): String =
    s"""((1 + ((($i)::BIGINT*1103515245 + 12345) % ${P - 1})) * ($h)
         + (($i)::BIGINT*2654435761 + 1013904223) % $P) % $P"""

  /** KMV (k-minimum-values) distinct-count sketch: estimated number of
    * distinct word bigrams per source vs the exact count.
    *
    * The estimator: hash every bigram through a fixed bijection of
    * [0, P) ([[TextHash.permHash]] seed 7 — P prime makes every family
    * member invertible, so distinct hashes ≡ distinct bigram hashes); keep
    * the k smallest distinct hash values per source; if the k-th smallest
    * is h₍ₖ₎, the set behaves like a uniform sample of density k/h₍ₖ₎ and
    * the cardinality estimate is (k−1)·P / h₍ₖ₎ (the classic KMV/bottom-k
    * estimator). Sources with fewer than k distinct values report exactly.
    *
    * Scale: the sketch leg is ONE shuffle with O(k) state per key at every
    * stage — [[graft.functions.MinK]] is a bounded sorted-array
    * `Aggregator`, duplicate-insensitive, so map-side partial aggregation
    * never buffers more than k longs per source per partition. The exact
    * leg (distinct + count) exists only as the verification comparison;
    * a 100 TB profiling pass runs the sketch leg alone. Both legs share
    * one persisted hashed projection so the corpus is scanned once.
    */
  def kmvDistinct(s: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val hUdf = udf { (g: String) => TextHash.permHash(TextHash.polyHash(g), 7L) }
    val grams = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(col("source"), split(col("text"), " ", -1).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(
          col("source"),
          explode(array_distinct(expr(
            "transform(sequence(0, size(ws) - 2), i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))")))
            .as("g"))
        .select(col("source"), hUdf(col("g")).as("h")))
    val minK = udaf(new MinK(k))
    val sketch = grams.groupBy(col("source")).agg(minK(col("h")).as("mins"))
    val exact = grams.distinct().groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    sketch
      .join(exact, "source")
      .select(
        col("source"),
        col("n_exact"),
        get(col("mins"), lit(k - 1)).as("kth_hash"),
        round(
          when(size(col("mins")) < k, col("n_exact").cast("double"))
            .otherwise(lit((k - 1).toDouble * P) / get(col("mins"), lit(k - 1)).cast("double")),
          4).as("est_distinct"))
  }

  /** DuckDB re-derivation of [[kmvDistinct]]: same bigrams, same hash
    * bijection, `list_sort(list(h))[1:k]` as the bottom-k, same estimator.
    */
  def kmvDistinctSql(k: Int = 16): String =
    s"""WITH ws AS (
         SELECT source, string_split(text, ' ') AS ws FROM documents
       ), grams AS (
         SELECT source,
                unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] FOR i IN range(len(ws) - 1)])) AS g
         FROM ws WHERE len(ws) >= 2
       ), hs AS (
         SELECT DISTINCT source, ${permSql(polySql("g"), "7")} AS h
         FROM grams
       ), agg AS (
         SELECT source, count(*) AS n_exact, list_sort(list(h))[1:$k] AS mins
         FROM hs GROUP BY source
       )
       SELECT source, n_exact,
              CASE WHEN len(mins) >= $k THEN mins[$k] END AS kth_hash,
              round(CASE WHEN len(mins) < $k THEN CAST(n_exact AS DOUBLE)
                         ELSE (CAST(${k - 1} AS DOUBLE) * $P) / CAST(mins[$k] AS DOUBLE)
                    END, 4) AS est_distinct
       FROM agg"""

  /** HyperLogLog distinct-count sketch: estimated number of distinct
    * word tokens per source vs the exact count — the register-based
    * companion to [[kmvDistinct]] (bottom-k). KMV keeps k exemplar
    * hashes; HLL keeps a fixed `m`-register byte array, the summary
    * every production engine (Spark's own `approx_count_distinct`,
    * Presto, Redis) converged on because registers merge by element-wise
    * max across shards/days with no per-item state at all.
    *
    * Construction on the SQL-reproducible mod-prime hash family: for each
    * token hash h ∈ [0, P), bucket = h mod m and the register statistic is
    * the trailing-zero rank of w = ⌊h/m⌋ (rank = tz(w)+1, capped at 26 —
    * w < 2²⁵ under P = 2³¹−1). Registers hold the max rank seen;
    * Z = Σ_j 2^(−M_j) over all m registers (empty ⇒ 1), raw estimate
    * α·m²/Z with α = 0.709 (the m = 64 constant from Flajolet et al.),
    * and the standard small-range correction m·ln(m/V) when V > 0 empty
    * registers remain and raw ≤ 2.5m.
    *
    * Cross-engine exactness: every 2^(−M_j) is an exact binary fraction
    * (M_j ≤ 26, so any summation order is IEEE-exact — no sorted-fold
    * needed), the harmonic mean is one correctly-rounded division, and
    * the ln leg rides `round(_, 4)`. The DuckDB oracle re-derives every
    * register bit-for-bit.
    *
    * Scale: ONE shuffle of at most sources×m register rows (map-side max
    * combine bounds per-partition state at m bytes per source — the whole
    * point of HLL at 100 TB); the register→estimate fold is over the tiny
    * register table. The exact leg (`count(DISTINCT w)`) is the
    * verification comparison a production run drops; both legs share one
    * persisted hashed projection so the corpus is scanned once.
    */
  def hllDistinct(s: SparkSession, dir: String, m: Int = 64): DataFrame = {
    val hUdf = udf { (w: String) => TextHash.permHash(TextHash.polyHash(w), 11L) }
    val toks = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(
          col("source"),
          explode(array_distinct(split(col("text"), " ", -1))).as("w"))
        .filter(col("w") =!= "")
        .select(col("source"), col("w"), hUdf(col("w")).as("h")))
    val ranked = toks.select(
      col("source"),
      (col("h") % m).as("bucket"),
      hllRankExpr(m).as("rank"))
    // all m registers per source, empty ones at rank 0
    val regs = toks
      .select(col("source"))
      .distinct()
      .crossJoin(s.range(m).select(col("id").as("bucket")))
      .join(ranked, Seq("source", "bucket"), "left")
      .groupBy(col("source"), col("bucket"))
      .agg(coalesce(max(col("rank")), lit(0)).as("m_reg"))
    val z = regs
      .groupBy(col("source"))
      .agg(
        sum(pow(lit(2.0), -col("m_reg"))).as("z"),
        sum(when(col("m_reg") === 0, 1).otherwise(0)).as("n_zero_registers"))
    val exact = toks.groupBy(col("source")).agg(countDistinct(col("w")).as("n_exact"))
    exact
      .join(z, "source")
      .select(
        col("source"),
        col("n_exact"),
        col("n_zero_registers"),
        round(hllEstimate(m, col("z"), col("n_zero_registers")), 4).as("est_distinct"))
  }

  /** DuckDB re-derivation of [[hllDistinct]]: same hash, same
    * trailing-zero rank, every register rebuilt, same estimator fold.
    */
  def hllDistinctSql(m: Int = 64): String =
    s"""WITH toks AS (
         SELECT source,
                unnest(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS w
         FROM documents
       ), hs AS (
         SELECT source, w, ${permSql(polySql("w"), "11")} AS h FROM toks
       ), ranked AS (
         SELECT source, h % $m AS bucket,
                COALESCE(list_min([k FOR k IN range(26) IF ((h // $m) >> k) & 1 = 1]), 25) + 1 AS rank
         FROM hs
       ), regs AS (
         SELECT s.source, b.bucket, COALESCE(max(r.rank), 0) AS m_reg
         FROM (SELECT DISTINCT source FROM toks) s
         CROSS JOIN (SELECT unnest(range($m)) AS bucket) b
         LEFT JOIN ranked r ON r.source = s.source AND r.bucket = b.bucket
         GROUP BY 1, 2
       ), z AS (
         SELECT source, sum(pow(2.0, -m_reg)) AS z,
                CAST(sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_registers
         FROM regs GROUP BY 1
       ), ex AS (SELECT source, count(DISTINCT w) AS n_exact FROM toks GROUP BY 1)
       SELECT source, n_exact, n_zero_registers,
              round(${hllEstCaseSql(m, "z", "n_zero_registers")}, 4) AS est_distinct
       FROM ex JOIN z USING (source)"""

  /** Count-min sketch heavy hitters: a depth×width grid of counters
    * (counter[d][b] = total occurrences of every token hashing to bucket b
    * under family member 100+d), read back for the exact top-`topN` tokens.
    * `est_cnt = min_d counter[d][bucket_d(w)]` — the count-min guarantee is
    * est ≥ exact always, with overestimates only from bucket collisions.
    *
    * Scale: the sketch build is a groupBy over at most depth·width keys —
    * map-side combine collapses every partition to ≤ depth·width partial
    * counters, so the shuffle moves O(grid) rows per partition no matter
    * how many tokens flow through (the whole point of count-min at 100 TB).
    * The read-back joins the tiny grid to the top-N list. The exact counts
    * (one token-keyed shuffle) are the verification leg.
    */
  def heavyHitters(
      s: SparkSession,
      dir: String,
      depth: Int = 4,
      width: Int = 256,
      topN: Int = 20): DataFrame = {
    val bUdf = udf { (w: String, d: Int) =>
      TextHash.permHash(TextHash.polyHash(w), 100L + d) % width
    }
    val toks = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(explode(split(col("text"), " ", -1)).as("w"))
        .filter(col("w") =!= ""))
    val cells = toks
      .withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("d"), bUdf(col("w"), col("d")).as("bucket"))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val top = toks
      .groupBy(col("w"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("w"))
      .limit(topN)
    top
      .withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("bucket", bUdf(col("w"), col("d")))
      .join(broadcast(cells), Seq("d", "bucket"))
      .groupBy(col("w"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("w").as("token"), col("exact_cnt"), col("est_cnt"))
  }

  /** Mergeable histogram quantile sketch: per-event-type p50/p90/p99
    * estimated from a fixed [[QuantileBins]]-bin equi-width histogram,
    * alongside the exact interpolated percentile. The estimate is the
    * upper edge of the first bin whose cumulative count reaches q·n — off
    * by at most one bin width, with the histogram itself a bounded,
    * commutative, mergeable summary (the property t-digest/KLL refine;
    * the equi-width form keeps every counter exactly SQL-re-derivable).
    *
    * Scale: pass 1 is a two-scalar global min/max; pass 2 shuffles at most
    * types × bins counter rows (map-side combined) — fixed memory at any
    * corpus size, and histograms from different partitions/days/shards
    * merge by addition. The exact-percentile leg (a full sort per group
    * inside `percentile`) is the verification comparison a 100 TB run
    * drops.
    */
  val QuantileBins = 128

  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    val nBins = QuantileBins
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val mm = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val binned = ev
      .crossJoin(broadcast(mm))
      .select(
        col("event_type"),
        least(
          lit(nBins - 1L),
          floor((col("value") - col("lo")) / (col("hi") - col("lo")) * lit(nBins)))
          .as("bin"))
    val counts = binned.groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    val cum = counts
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wTot))
    val hit = cum
      .withColumn("q", explode(array(lit(0.5), lit(0.9), lit(0.99))))
      .filter(col("cum") >= col("q") * col("total"))
      .groupBy(col("event_type"), col("q"))
      .agg(min(col("bin")).as("qbin"))
    val exact = ev
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("e50"),
        expr("percentile(value, 0.9)").as("e90"),
        expr("percentile(value, 0.99)").as("e99"))
      .select(
        col("event_type"),
        expr("stack(3, 0.5D, e50, 0.9D, e90, 0.99D, e99) AS (q, exact_value)"))
    hit
      .join(exact, Seq("event_type", "q"))
      .crossJoin(broadcast(mm))
      .select(
        col("event_type"),
        col("q"),
        col("qbin"),
        round(
          col("lo") + (col("qbin") + lit(1)).cast("double") *
            ((col("hi") - col("lo")) / lit(nBins)),
          6).as("est_value"),
        round(col("exact_value"), 6).as("exact_value"))
  }

  /** DuckDB re-derivation of [[quantileSketch]]: same binning arithmetic,
    * same cumulative read-off, `percentile` ↔ `quantile_cont`.
    */
  def quantileSketchSql(nBins: Int = QuantileBins): String =
    s"""WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
       b AS (
         SELECT event_type,
                least(${nBins - 1}, CAST(floor(((value - lo) / (hi - lo)) * $nBins) AS BIGINT)) AS bin
         FROM events CROSS JOIN mm),
       counts AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
       cum AS (
         SELECT event_type, bin, cnt,
                sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                sum(cnt) OVER (PARTITION BY event_type) AS total
         FROM counts),
       qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
       hit AS (
         SELECT event_type, q, min(bin) AS qbin
         FROM cum CROSS JOIN qs WHERE cum >= q * total GROUP BY 1, 2),
       ex AS (
         SELECT event_type,
                quantile_cont(value, 0.5) AS e50,
                quantile_cont(value, 0.9) AS e90,
                quantile_cont(value, 0.99) AS e99
         FROM events GROUP BY 1),
       exm AS (
         SELECT event_type,
                unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q,
                unnest([e50, e90, e99]) AS exact_value
         FROM ex)
       SELECT h.event_type, h.q, h.qbin,
              round(lo + CAST(h.qbin + 1 AS DOUBLE) * ((hi - lo) / $nBins), 6) AS est_value,
              round(exact_value, 6) AS exact_value
       FROM hit h JOIN exm USING (event_type, q) CROSS JOIN mm"""

  /** DuckDB re-derivation of [[heavyHitters]]: every grid counter rebuilt
    * from the token stream, the same min-over-rows read-back.
    */
  def heavyHittersSql(depth: Int = 4, width: Int = 256, topN: Int = 20): String =
    s"""WITH toks AS (
         SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
         FROM documents
       ), th AS (
         SELECT w, ${polySql("w")} AS h FROM toks
       ), cells AS (
         SELECT d, (${permSql("h", "100 + d")}) % $width AS bucket, count(*) AS cnt
         FROM th CROSS JOIN (SELECT unnest(range($depth)) AS d) dd
         GROUP BY 1, 2
       ), wh AS (
         SELECT w, count(*) AS exact_cnt, ${polySql("w")} AS h
         FROM toks GROUP BY w
       ), top AS (
         SELECT w, exact_cnt, h FROM wh ORDER BY exact_cnt DESC, w LIMIT $topN
       )
       SELECT t.w AS token, t.exact_cnt, min(c.cnt) AS est_cnt
       FROM top t
       CROSS JOIN (SELECT unnest(range($depth)) AS d) dd
       JOIN cells c
         ON c.d = dd.d
        AND c.bucket = (${permSql("t.h", "100 + dd.d")}) % $width
       GROUP BY 1, 2"""

  /** Exact distinct users per event type via the mergeable paged-bitmap
    * aggregate ([[graft.functions.BitmapDistinct]]) — the exact tier of
    * the sketch family, for bounded id domains (user ids, device ids)
    * where a 100 TB deployment pre-aggregates per-day bitmap summaries
    * and answers any rollup window by OR-ing bytes instead of
    * re-scanning the fact table.
    *
    * Two legs, both checked against `count(DISTINCT user_id)`:
    *   - `n_users`: one-pass `bitmap_distinct` straight off the facts;
    *   - `n_users_rollup`: per-(type, day) `bitmap_build` summaries
    *     OR-merged by `bitmap_merge_count` — the reaggregation path, the
    *     whole reason bitmaps beat the built-in exact distinct (which is
    *     exact but not mergeable: a stored per-day count can never roll
    *     up to a month).
    *
    * Scale: both legs are ObjectHashAggregateExec with map-side partial
    * OR — no Expand, no distinct-key two-phase shuffle. Per-partition
    * state is one bitmap per group: for n distinct ids, at worst a few
    * bytes per sparse id and 1 bit per dense id (presence-mask page
    * serialization, [[graft.functions.PagedBitmap.toBytes]]). The rollup
    * leg's shuffle moves days×types serialized bitmaps, not fact rows.
    * Plan lock: PlanAuditSpec asserts ObjectHashAggregate and no Expand.
    */
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    graft.functions.BitmapAgg.register(s)
    val ev = Tables
      .events(s, dir)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
    val direct = ev
      .groupBy(col("event_type"))
      .agg(expr("bitmap_distinct(user_id)").as("n_users"))
    val rollup = ev
      .groupBy(col("event_type"), col("day"))
      .agg(expr("bitmap_build(user_id)").as("bm"))
      .groupBy(col("event_type"))
      .agg(expr("bitmap_merge_count(bm)").as("n_users_rollup"))
    direct.join(rollup, "event_type")
  }

  /** DuckDB oracle for [[bitmapDistinct]]: both bitmap legs are EXACT, so
    * the oracle is simply the exact distinct count twice.
    */
  def bitmapDistinctSql: String =
    """SELECT event_type,
              count(DISTINCT user_id) AS n_users,
              count(DISTINCT user_id) AS n_users_rollup
       FROM events GROUP BY event_type"""

  /** HLL register ROLLUP — the reaggregation story that makes HLL the
    * cross-shard profiling summary: per-(type, day) register vectors
    * merge to any window by element-wise MAX, no fact re-scan — the
    * approximate sibling of [[bitmapDistinct]]'s exact rollup. The
    * query materializes BOTH paths — registers built directly over the
    * whole range, and per-day registers max-merged — and reports both
    * estimates; max-associativity makes them IDENTICAL, and the oracle
    * (which re-derives every register) pins that, plus the exact count
    * for the error-envelope comparison.
    *
    * Scale: per-day state is m bytes per (type, day); the merge shuffle
    * moves types×days×m register rows, never fact rows. Any ad-hoc
    * window (week, month, campaign) is answered from stored registers.
    */
  def hllRollup(s: SparkSession, dir: String, m: Int = 64): DataFrame = {
    val hUdf = udf { (id: Long) => TextHash.permHash(id, 17L) }
    // entity = user-DAY (user_id ⊕ day number): thousands of distinct
    // values per type — safely above HLL's 2.5m transition zone, and the
    // "active user-days" metric a rollup actually serves. The composite
    // is reduced mod P BEFORE hashing — permHash's domain contract is
    // h ∈ [0, P) (a·h must fit 2⁶²); an unreduced 2³²⁺ composite would
    // silently wrap Spark-side and overflow the DuckDB oracle. (The
    // reduction is injective while user_id·65536 + day < P; beyond that
    // the entity space itself is hashed, like any hash-sketch input.)
    // ONE persisted projection serves the sketch legs AND the exact
    // verification leg — the sketch family's single-scan convention.
    val ents = Reuse.pin(
      Tables
        .events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
        .withColumn(
          "ent",
          pmod(
            col("user_id") * 65536 +
              pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(65536)),
            lit(TextHash.P)))
        .select(col("event_type"), col("day"), col("ent")))
    val ranked = ents
      .select(col("event_type"), col("day"), hUdf(col("ent")).as("h"))
      .select(
        col("event_type"),
        col("day"),
        (col("h") % m).as("bucket"),
        hllRankExpr(m).as("rank"))
    val grid = ranked
      .select(col("event_type"))
      .distinct()
      .crossJoin(s.range(m).select(col("id").cast("long").as("bucket")))
    def estimate(regsRanked: DataFrame, name: String): DataFrame = {
      val regs = grid
        .join(regsRanked, Seq("event_type", "bucket"), "left")
        .groupBy(col("event_type"), col("bucket"))
        .agg(coalesce(max(col("r")), lit(0)).as("m_reg"))
      regs
        .groupBy(col("event_type"))
        .agg(
          sum(pow(lit(2.0), -col("m_reg"))).as("z"),
          sum(when(col("m_reg") === 0, 1).otherwise(0)).as("nz"))
        .select(
          col("event_type"),
          round(hllEstimate(m, col("z"), col("nz")), 4).as(name))
    }
    val direct = estimate(
      ranked.groupBy(col("event_type"), col("bucket")).agg(max(col("rank")).as("r")),
      "est_direct")
    val daily = ranked
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(max(col("rank")).as("day_reg"))
    val merged = estimate(
      daily.groupBy(col("event_type"), col("bucket")).agg(max(col("day_reg")).as("r")),
      "est_merged")
    val meta = ents
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("ent")).as("n_exact"),
        countDistinct(col("day")).as("n_days"))
    meta.join(direct, "event_type").join(merged, "event_type")
  }

  /** DuckDB oracle for [[hllRollup]]: every register rebuilt both ways
    * (direct and per-day max-merged), same estimator.
    */
  def hllRollupSql(m: Int = 64): String =
    s"""WITH ents AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                (user_id * 65536 +
                  (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 65536)) % ${TextHash.P}
                  AS ent
         FROM events
       ), ranked AS (
         SELECT event_type, day,
                (${permSql("ent", "17")}) % $m AS bucket,
                COALESCE(list_min([k FOR k IN range(26)
                                   IF (((${permSql("ent", "17")}) // $m) >> k) & 1 = 1]), 25) + 1
                  AS rank
         FROM ents
       ), grid AS (
         SELECT t.event_type, b.bucket
         FROM (SELECT DISTINCT event_type FROM events) t
         CROSS JOIN (SELECT unnest(range($m)) AS bucket) b
       ), direct_regs AS (
         SELECT g.event_type, g.bucket, COALESCE(max(r.rank), 0) AS m_reg
         FROM grid g LEFT JOIN ranked r
           ON r.event_type = g.event_type AND r.bucket = g.bucket
         GROUP BY 1, 2
       ), daily AS (
         SELECT event_type, day, bucket, max(rank) AS day_reg
         FROM ranked GROUP BY 1, 2, 3
       ), merged_regs AS (
         SELECT g.event_type, g.bucket, COALESCE(max(d.day_reg), 0) AS m_reg
         FROM grid g LEFT JOIN daily d
           ON d.event_type = g.event_type AND d.bucket = g.bucket
         GROUP BY 1, 2
       ), est_d AS (
         SELECT event_type, sum(pow(2.0, -m_reg)) AS z,
                sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS nz
         FROM direct_regs GROUP BY 1
       ), est_m AS (
         SELECT event_type, sum(pow(2.0, -m_reg)) AS z,
                sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS nz
         FROM merged_regs GROUP BY 1
       ), meta AS (
         SELECT event_type, count(DISTINCT ent) AS n_exact,
                count(DISTINCT day) AS n_days
         FROM ents GROUP BY 1
       )
       SELECT meta.event_type, meta.n_exact, meta.n_days,
              round(${hllEstCaseSql(m, "d.z", "d.nz")}, 4) AS est_direct,
              round(${hllEstCaseSql(m, "e.z", "e.nz")}, 4) AS est_merged
       FROM meta
       JOIN est_d d USING (event_type)
       JOIN est_m e USING (event_type)"""

  /** KMV sketch SET ALGEBRA — union / intersection / Jaccard estimates
    * for every pair of sources from their per-source bottom-k sketches
    * alone, never re-touching the corpus: the summary-reuse property
    * that makes bottom-k the profile format for "how much do shards
    * overlap?" questions at 100 TB (θ-sketch set operations; Beyer et
    * al.'s KMV estimator per set).
    *
    *  - union sketch = bottom-k of the two mins arrays merged (a valid
    *    KMV sketch of A ∪ B by construction) → est_union by the same
    *    (k−1)·P/h₍ₖ₎ estimator, exact passthrough when the merged
    *    distinct set is smaller than k;
    *  - est_inter by inclusion–exclusion est_A + est_B − est_union,
    *    clamped at 0 (the classic KMV route; a θ-sketch refines this
    *    with sub-θ membership counting, same summaries);
    *  - the exact legs ride along as the verification comparison a
    *    production run drops.
    *
    * Everything is deterministic (mod-prime hash bijection), so the
    * DuckDB oracle re-derives every sketch, merge, and estimate
    * bit-for-bit. Scale: sketches are one bounded-state aggregation of
    * the corpus (O(k) per source); the pairwise algebra runs on the
    * 20-row sketch table — S² work on S sources happens on summaries,
    * not data. The exact-intersection leg is the only corpus-quadratic
    * piece and exists solely for verification.
    */
  def kmvSetOps(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val hUdf = udf { (w: String) => TextHash.permHash(TextHash.polyHash(w), 13L) }
    val hs = Reuse.pin(
      Tables
        .documents(s, dir)
        .select(
          col("source"),
          explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
        .select(col("source"), hUdf(col("w")).as("h"))
        .distinct())
    val minK = udaf(new MinK(k))
    val sk = hs
      .groupBy(col("source"))
      .agg(minK(col("h")).as("mins"), count(lit(1)).as("n_exact"))
    val inter = hs
      .alias("x")
      .join(hs.alias("y"), col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
      .agg(count(lit(1)).as("n_exact_inter"))
    val pairs = sk
      .select(col("source").as("s1"), col("mins").as("mins1"), col("n_exact").as("n1"))
      .join(
        sk.select(col("source").as("s2"), col("mins").as("mins2"), col("n_exact").as("n2")),
        col("s1") < col("s2"))
      .join(inter, Seq("s1", "s2"), "left")
      .na.fill(0L, Seq("n_exact_inter"))
    val merged = pairs.withColumn(
      "umins",
      slice(array_sort(array_distinct(concat(col("mins1"), col("mins2")))), 1, k))
    merged
      .withColumn("n_exact_union", col("n1") + col("n2") - col("n_exact_inter"))
      .withColumn(
        "est_union",
        round(
          when(size(col("umins")) < k, col("n_exact_union").cast("double"))
            .otherwise(lit((k - 1).toDouble * P) / element_at(col("umins"), k).cast("double")),
          4))
      .withColumn("est_a",
        when(size(col("mins1")) < k, col("n1").cast("double"))
          .otherwise(lit((k - 1).toDouble * P) / element_at(col("mins1"), k).cast("double")))
      .withColumn("est_b",
        when(size(col("mins2")) < k, col("n2").cast("double"))
          .otherwise(lit((k - 1).toDouble * P) / element_at(col("mins2"), k).cast("double")))
      .select(
        col("s1"),
        col("s2"),
        col("n_exact_union"),
        col("n_exact_inter"),
        col("est_union"),
        round(greatest(col("est_a") + col("est_b") - col("est_union") * lit(1.0), lit(0.0)), 4)
          .as("est_inter"),
        round(col("n_exact_inter").cast("double") / col("n_exact_union").cast("double"), 6)
          .as("jacc_exact"))
  }

  /** DuckDB re-derivation of [[kmvSetOps]]: same sketches, same merge,
    * same estimators.
    */
  def kmvSetOpsSql(k: Int = 64): String =
    s"""WITH toks AS (
         SELECT DISTINCT source,
                unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
         FROM documents
       ), hs AS (
         SELECT DISTINCT source, ${permSql(polySql("w"), "13")} AS h FROM toks
       ), sk AS (
         SELECT source, count(*) AS n_exact, list_sort(list(h))[1:$k] AS mins
         FROM hs GROUP BY source
       ), inter AS (
         SELECT x.source AS s1, y.source AS s2, count(*) AS n_exact_inter
         FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
         GROUP BY 1, 2
       ), pairs AS (
         SELECT a.source AS s1, b.source AS s2,
                a.n_exact AS n1, b.n_exact AS n2,
                a.mins AS mins1, b.mins AS mins2,
                COALESCE(i.n_exact_inter, 0) AS n_exact_inter,
                list_sort(list_distinct(a.mins || b.mins))[1:$k] AS umins
         FROM sk a JOIN sk b ON a.source < b.source
         LEFT JOIN inter i ON i.s1 = a.source AND i.s2 = b.source
       ), est AS (
         SELECT *,
                n1 + n2 - n_exact_inter AS n_exact_union,
                round(CASE WHEN len(umins) < $k THEN CAST(n1 + n2 - n_exact_inter AS DOUBLE)
                      ELSE (CAST(${k - 1} AS DOUBLE) * $P) / CAST(umins[$k] AS DOUBLE) END,
                      4) AS est_union,
                CASE WHEN len(mins1) < $k THEN CAST(n1 AS DOUBLE)
                     ELSE (CAST(${k - 1} AS DOUBLE) * $P) / CAST(mins1[$k] AS DOUBLE) END AS est_a,
                CASE WHEN len(mins2) < $k THEN CAST(n2 AS DOUBLE)
                     ELSE (CAST(${k - 1} AS DOUBLE) * $P) / CAST(mins2[$k] AS DOUBLE) END AS est_b
         FROM pairs
       )
       SELECT s1, s2,
              CAST(n_exact_union AS BIGINT) AS n_exact_union,
              CAST(n_exact_inter AS BIGINT) AS n_exact_inter,
              est_union,
              round(greatest(est_a + est_b - est_union * 1.0, 0.0), 4) AS est_inter,
              round(CAST(n_exact_inter AS DOUBLE) / CAST(n_exact_union AS DOUBLE), 6)
                AS jacc_exact
       FROM est"""
}
