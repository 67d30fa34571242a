package graft.queries

import graft.Reuse
import graft.Tables
import graft.functions.TextHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` column) —
  * the LLM-pipeline ANN surface.
  *
  * Two paths, as a real 100 TB pipeline needs both:
  *   - [[cosineTopK]]: exact brute-force top-k — the baseline and the
  *     per-bucket kernel. All arithmetic is a sequential left-fold over
  *     doubles, which DuckDB's `list_dot_product` matches bit-for-bit, so
  *     this has an exact oracle.
  *   - [[lshAnn]]: random-hyperplane LSH buckets — the scale path: one
  *     shuffle on (bucket, band), candidates only within buckets, never a
  *     cross join against the full corpus.
  */
object VectorQueries {

  /** Exact top-k neighbors by dot product (embeddings are ~unit-norm, so
    * this is cosine ranking) for query vectors `vec_id < nQueries`.
    * Scale: queries broadcast; one narrow pass over the corpus computes
    * all similarities; the rank window does NOT funnel the full
    * similarity table into nQueries partitions — Spark plans a
    * `WindowGroupLimit(Partial)` below the exchange, cutting every corpus
    * partition to its per-query top-k map-side, so the window shuffle
    * carries ≤ nQueries × k rows per input partition (ordering locked in
    * PlanSpec).
    */
  def cosineTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 10): DataFrame = {
    graft.plans.VecDot.register(s)
    val e = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val q = e
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val sims = e
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      // native codegen'd expression — no intermediate product array
      .withColumn("sim_raw", expr("vec_dot(emb, qemb)"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim_raw").desc, col("vec_id"))
    sims
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        round(col("sim_raw"), 6).as("sim"),
        col("rank"))
  }

  val cosineTopKSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 8),
       sims AS (SELECT query_id, vec_id AS neighbor_id,
                       list_dot_product(emb, qemb) AS sim_raw
                FROM e, q WHERE vec_id <> query_id),
       ranked AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY sim_raw DESC, neighbor_id) AS rank
                  FROM sims)
       SELECT query_id, neighbor_id, round(sim_raw, 6) AS sim, rank
       FROM ranked WHERE rank <= 10"""

  /** Embedding-cosine near-duplicate pairs: every (a, b), a < b, whose
    * dot-product similarity reaches `minSim` — the exact kernel of
    * embedding-based dedup. At 100 TB this kernel runs *inside* LSH or
    * IVF buckets ([[lshAnn]]/[[ivfAnn]] provide the bucketing) instead
    * of across the corpus; the full self-join here is the verification
    * oracle at test scale, kept exact so DuckDB reproduces it
    * bit-for-bit (`vec_dot` ↔ `list_dot_product`, both sequential
    * left-folds).
    */
  def dedupEmbedding(s: SparkSession, dir: String, minSim: Double = 0.4): DataFrame = {
    graft.plans.VecDot.register(s)
    val e = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", expr("vec_dot(emb_a, emb_b)"))
      .filter(col("sim_raw") >= minSim)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 6).as("sim"))
  }

  val dedupEmbeddingSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(list_dot_product(a.emb, b.emb), 6) AS sim
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.emb, b.emb) >= 0.4"""

  private val DedupEmbSideK = 3

  /** [[dedupEmbedding]] on a deterministic 1-in-[[DedupEmbSideK]]
    * VERTEX sample ([[Sampling.idPred]] on each side → uniform 1/K²
    * pair inclusion, ~1/9) — the budgeted sibling of the board's
    * heaviest by-contract-quadratic kernel (sf1: 32.2 s exact; ×51 on
    * ×10 data because the work IS n²·dim dot products). A vertex
    * sample, NOT the pair-LCG of q_media_dedup_sampled, because here
    * the O(n²) pair ENUMERATION is the cost: a pair predicate only
    * prunes after enumeration (measured at sf1: pair-LCG was NOT
    * faster than the exact kernel — the per-pair predicate in the
    * nested-loop join condition cost what the skipped dot products
    * saved), while side-sampling shrinks the enumeration itself to
    * n²/K². Per-pair values are byte-identical to the exact kernel
    * (subset); totals scale by K²; endpoint-correlated variance is the
    * standard vertex-sampling trade. When the full pair LIST is needed
    * at scale, the bucketed paths ([[lshAnn]], [[ivfAnn]], [[semDedup]])
    * are the production contracts.
    */
  def dedupEmbeddingSampled(s: SparkSession, dir: String, minSim: Double = 0.4): DataFrame = {
    graft.plans.VecDot.register(s)
    val e = Tables
      .embeddings(s, dir)
      .filter(expr(Sampling.idPred("vec_id", DedupEmbSideK)))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", expr("vec_dot(emb_a, emb_b)"))
      .filter(col("sim_raw") >= minSim)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 6).as("sim"))
  }

  val dedupEmbeddingSampledSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
                   WHERE ${Sampling.idPred("vec_id", DedupEmbSideK)})
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(list_dot_product(a.emb, b.emb), 6) AS sim
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.emb, b.emb) >= 0.4"""

  /** IVF (inverted-file) approximate NN — the other standard scale path:
    * a coarse k-means quantiser partitions the corpus into `nLists`
    * cells; each query probes its `nProbe` nearest centroids and ranks
    * exactly within those cells only.
    *
    * Scale design: centroids are trained on a bounded sample (driver-side
    * Lloyd iterations over ≤ 2k vectors, seeded — at 100 TB you train on
    * a sample regardless), then broadcast; assignment is one narrow pass;
    * the candidate join shuffles on cell id, touching `nProbe/nLists` of
    * the corpus per query instead of all of it.
    */
  /** Deterministic coarse-quantiser training: Lloyd iterations over a
    * bounded, vec_id-ordered sample (at 100 TB you train on a sample
    * regardless — the `orderBy.limit` plans as TakeOrderedAndProject, one
    * narrow pass). Fully deterministic given (data, seed), so the DuckDB
    * oracle can receive the trained centroids as inlined literals
    * ([[ivfAnnSql]]) and re-derive assignment/probing/ranking exactly.
    */
  def trainCentroids(
      s: SparkSession,
      dir: String,
      nLists: Int = 16,
      seed: Long = 42L,
      sampleN: Int = 2000): Array[Array[Double]] = {
    val sample = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .limit(sampleN)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray.map(_.toDouble))
    val dim = sample.headOption.map(_.length).getOrElse(0)
    val rng = new scala.util.Random(graft.functions.TextHash.mix64(seed))
    var centroids = Array.fill(nLists)(sample(rng.nextInt(sample.length)).clone())
    for (_ <- 0 until 8) { // Lloyd iterations on the sample
      val sums = Array.fill(nLists)(new Array[Double](dim))
      val counts = new Array[Int](nLists)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(nLists) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  def ivfAnn(
      s: SparkSession,
      dir: String,
      nQueries: Int = 8,
      k: Int = 10,
      nLists: Int = 16,
      // 6/16 lists probed → ~0.71 recall@10 on the harness's
      // near-orthogonal corpus (VectorSpec locks the floor); clustered
      // real-world embeddings reach higher recall at lower probe ratios
      nProbe: Int = 6,
      seed: Long = 42L): DataFrame =
    rankTopK(
      ivfCandidates(s, dir, nQueries, nProbe, trainCentroids(s, dir, nLists, seed)),
      k)

  /** The IVF candidate set (pre-ranking): each corpus vector joined to
    * the queries probing its cell, with the exact similarity. Takes the
    * trained centroids so the sweep trains ONCE across probe settings.
    */
  private[queries] def ivfCandidates(
      s: SparkSession,
      dir: String,
      nQueries: Int,
      nProbe: Int,
      centroids: Array[Array[Double]]): DataFrame = {
    graft.plans.VecDot.register(s)
    val centB = s.sparkContext.broadcast(centroids)
    val assignUdf = udf { (emb: Seq[Float]) =>
      nearestCentroid(emb.toArray.map(_.toDouble), centB.value)
    }
    val probeUdf = probeCellsUdf(centB, nProbe)
    val e = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"),
        assignUdf(col("embedding")).as("cell"))
    val q = Tables
      .embeddings(s, dir)
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        transform(col("embedding"), _.cast("double")).as("qemb"),
        explode(probeUdf(col("embedding"))).as("cell"))
    e.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", expr("vec_dot(emb, qemb)"))
      .select(col("query_id"), col("vec_id"), col("sim"))
  }

  /** K-means document clustering (topic bucketing over the embedding
    * column): every vector assigned to its nearest [[trainCentroids]]
    * centroid with the squared L2 residual — the per-document cluster
    * label a curation pipeline uses for topic mixing, outlier review,
    * and IVF cell routing (this IS the IVF assignment, surfaced as a
    * first-class operator).
    *
    * Scale: centroids train on a bounded sample and broadcast;
    * assignment is a pure per-row map — zero shuffles at any corpus
    * size. Deterministic training ⇒ exact DuckDB oracle via
    * [[clusterAssignSql]] with inlined centroid literals.
    */
  def clusterAssign(s: SparkSession, dir: String): DataFrame = {
    val centroids = trainCentroids(s, dir)
    val centB = s.sparkContext.broadcast(centroids)
    val assignUdf = udf { (emb: Seq[Float]) =>
      val v = emb.toArray.map(_.toDouble)
      val cents = centB.value
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0
        var i = 0
        while (i < v.length) { val df = v(i) - cents(c)(i); d += df * df; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      (best.toLong, bestD)
    }
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), assignUdf(col("embedding")).as("a"))
      .select(
        col("vec_id"),
        col("a._1").as("cluster"),
        round(col("a._2"), 6).as("dist2"))
  }

  /** Exact oracle for [[clusterAssign]]: the assignment CTE of
    * [[ivfAnnSql]] with the residual surfaced.
    */
  def clusterAssignSql(centroids: Array[Array[Double]]): String = {
    val rows = centroids.zipWithIndex
      .map { case (c, idx) =>
        s"($idx, [${c.map(java.lang.Double.toString).mkString(", ")}]::DOUBLE[])"
      }
      .mkString(", ")
    s"""WITH cent(cell, carr) AS (VALUES $rows),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       dists AS (
         SELECT vec_id, cell, list_dot_product(df, df) AS dist
         FROM (SELECT e.vec_id, c.cell,
                      list_transform(generate_series(1, 64),
                                     i -> e.emb[i] - c.carr[i]) AS df
               FROM emb e CROSS JOIN cent c) d
       )
       SELECT vec_id, CAST(cell AS BIGINT) AS cluster, round(dist, 6) AS dist2
       FROM dists
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1"""
  }

  /** Embedding outlier mining: the `k` vectors FARTHEST from their
    * nearest cluster centroid — the "no topic claims this document"
    * signal curation pipelines use to surface junk, format failures,
    * and genuinely novel content for review.
    *
    * Scale: reuses the zero-shuffle [[clusterAssign]] map; the top-k by
    * residual plans as `TakeOrderedAndProject` (per-partition heaps) —
    * one pass, k rows out, no global sort. Selection orders by the
    * ROUNDED residual (+ vec_id), so the cut is cross-engine
    * deterministic.
    */
  def embeddingOutliers(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = clusterAssign(s, dir)
      .orderBy(col("dist2").desc, col("vec_id"))
      .limit(k)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("dist2").desc, col("vec_id"))).cast("long"))
  }

  /** Oracle for [[embeddingOutliers]]: [[clusterAssignSql]] + the same
    * rounded-residual top-k.
    */
  def embeddingOutliersSql(centroids: Array[Array[Double]], k: Int = 20): String =
    s"""WITH assign AS (${clusterAssignSql(centroids)})
       SELECT vec_id, cluster, dist2,
              row_number() OVER (ORDER BY dist2 DESC, vec_id) AS rank
       FROM assign
       QUALIFY row_number() OVER (ORDER BY dist2 DESC, vec_id) <= $k"""

  /** SemDeDup-style semantic deduplication: coarse k-means cells bound
    * the pairwise work, then every within-cell pair above `minSim` cosine
    * marks the higher-id member as a drop (greedy lowest-id-canonical, the
    * SemDeDup rule). Output is the per-vector verdict: cluster, keep flag,
    * and the best similarity to a lower-id neighbor that caused a drop.
    *
    * Scale: this is exactly why the quadratic [[dedupEmbedding]] kernel is
    * viable at 100 TB — assignment is a zero-shuffle broadcast map, the
    * pair join shuffles once on cell id, and the per-cell candidate set is
    * corpus_size/nLists on average (tune nLists so cells fit an executor;
    * AQE skew-join splits hot cells). Deterministic training ⇒ exact
    * DuckDB oracle via [[semDedupSql]] with inlined centroid literals.
    */
  def semDedup(s: SparkSession, dir: String, minSim: Double = 0.35): DataFrame = {
    graft.plans.VecDot.register(s)
    val assigned = clusterAssign(s, dir).select(col("vec_id"), col("cluster"))
    val e = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val ce = e.join(assigned, "vec_id")
    val a = ce.select(col("cluster"), col("vec_id").as("va"), col("emb").as("emb_a"))
    val b = ce.select(col("cluster"), col("vec_id").as("vb"), col("emb").as("emb_b"))
    val pairs = a
      .join(b, Seq("cluster"))
      .filter(col("va") < col("vb"))
      .withColumn("sim", expr("vec_dot(emb_a, emb_b)"))
      .filter(col("sim") >= minSim)
    val drops = pairs.groupBy(col("vb")).agg(max(col("sim")).as("nn_sim"))
    ce.join(drops, ce("vec_id") === drops("vb"), "left")
      .select(
        col("vec_id"),
        col("cluster"),
        col("vb").isNull.as("keep"),
        round(col("nn_sim"), 6).as("nn_sim"))
  }

  /** Exact oracle for [[semDedup]]: the assignment CTE with inlined
    * centroids + the same within-cell pair join and drop rule.
    */
  def semDedupSql(centroids: Array[Array[Double]], minSim: Double = 0.35): String =
    s"""WITH assign AS (${clusterAssignSql(centroids)}),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       ce AS (SELECT e.vec_id, a.cluster, e.emb FROM e JOIN assign a USING (vec_id)),
       pairs AS (
         SELECT x.vec_id AS va, y.vec_id AS vb, list_dot_product(x.emb, y.emb) AS sim
         FROM ce x JOIN ce y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         WHERE list_dot_product(x.emb, y.emb) >= $minSim),
       drops AS (SELECT vb, max(sim) AS nn_sim FROM pairs GROUP BY vb)
       SELECT c.vec_id, c.cluster, (d.vb IS NULL) AS keep, round(d.nn_sim, 6) AS nn_sim
       FROM ce c LEFT JOIN drops d ON c.vec_id = d.vb"""

  /** Product-quantization codebooks: the 64-dim space is cut into
    * `nSub` contiguous 8-dim subspaces, each with its own `k`-centroid
    * quantiser trained by seeded Lloyd iterations on the same bounded
    * vec_id-ordered sample as [[trainCentroids]] — fully deterministic,
    * so the DuckDB oracle receives the codebooks as inlined literals.
    */
  def trainPqCentroids(
      s: SparkSession,
      dir: String,
      nSub: Int = 8,
      k: Int = 16,
      seed: Long = 42L,
      sampleN: Int = 2000): Array[Array[Array[Double]]] = {
    requirePackable(nSub, k)
    pqLloyd(boundedSample(s, dir, sampleN), nSub, k, m => seed * 31 + m)
  }

  /** The nibble-packed code layout (4 bits per subquantizer index, all
    * subspaces in one LONG) silently corrupts codes beyond k = 16 or
    * nSub = 16 — fail fast like the WireCodecs range checks instead.
    */
  private def requirePackable(nSub: Int, k: Int): Unit =
    require(
      k >= 2 && k <= 16 && nSub >= 1 && nSub * 4 <= 64,
      s"PQ codes pack 4 bits per subspace into one LONG: k must be in [2, 16] " +
        s"and nSub in [1, 16] (got k=$k, nSub=$nSub) — widen the packing " +
        "before raising either")

  /** The bounded vec_id-ordered training sample every quantizer shares
    * (plans as TakeOrderedAndProject — one narrow pass).
    */
  private def boundedSample(
      s: SparkSession,
      dir: String,
      sampleN: Int): Array[Array[Double]] =
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .limit(sampleN)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray.map(_.toDouble))

  /** The per-subspace Lloyd loop shared by [[trainPqCentroids]] (raw
    * sample) and [[trainResidualPq]] (residual-transformed sample) —
    * one definition of the k-means core, so empty-cluster handling /
    * iteration count / init can never drift between the two quantizers.
    * `seedMix(m)` keeps each caller's historical per-subspace seed.
    */
  private def pqLloyd(
      sample: Array[Array[Double]],
      nSub: Int,
      k: Int,
      seedMix: Int => Long): Array[Array[Array[Double]]] = {
    val dim = sample.headOption.map(_.length).getOrElse(0)
    val subDim = dim / nSub
    Array.tabulate(nSub) { m =>
      val sub = sample.map(v => v.slice(m * subDim, (m + 1) * subDim))
      val rng = new scala.util.Random(graft.functions.TextHash.mix64(seedMix(m)))
      var cents = Array.fill(k)(sub(rng.nextInt(sub.length)).clone())
      for (_ <- 0 until 8) {
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Int](k)
        sub.foreach { v =>
          val c = nearestCentroid(v, cents)
          counts(c) += 1
          var i = 0
          while (i < subDim) { sums(c)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(k)(c => if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      }
      cents
    }
  }

  /** Product quantization (PQ) of the embedding column — the standard
    * compression path for cluster-scale ANN: each vector is reduced to
    * `nSub` 4-bit codes (here packed into ONE long — 64 dims × 4 B
    * becomes 4 B, a 64× compression) plus its reconstruction error.
    *
    * Scale: codebooks are tiny (nSub × k × 8 doubles), trained on a
    * bounded sample and broadcast; encoding is a pure per-row map —
    * ZERO shuffles at any corpus size (plan-locked). The reconstruction
    * error is the accumulated L2² over dims in ascending order — one
    * sequential fold, so DuckDB's `list_dot_product` over the ordered
    * 64-dim residual reproduces it bit-for-bit; argmin ties break to the
    * lowest centroid index in both engines.
    */
  def pqCodes(s: SparkSession, dir: String, nSub: Int = 8, k: Int = 16): DataFrame = {
    requirePackable(nSub, k)
    val books = trainPqCentroids(s, dir, nSub, k)
    val booksB = s.sparkContext.broadcast(books)
    val encode = udf { (emb: Seq[Float]) =>
      val v = emb.toArray.map(_.toDouble)
      val bs = booksB.value
      val subDim = v.length / bs.length
      var code = 0L
      var err = 0.0
      var m = 0
      while (m < bs.length) {
        val sub = v.slice(m * subDim, (m + 1) * subDim)
        val c = nearestCentroid(sub, bs(m))
        code |= c.toLong << (4 * m)
        var d = 0
        while (d < subDim) {
          val diff = sub(d) - bs(m)(c)(d)
          err += diff * diff
          d += 1
        }
        m += 1
      }
      (code, err)
    }
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), encode(col("embedding")).as("enc"))
      .select(
        col("vec_id"),
        col("enc._1").as("pq_code"),
        round(col("enc._2"), 6).as("err"))
  }

  /** Exact DuckDB oracle for [[pqCodes]], parameterized by the trained
    * codebooks (inlined shortest-round-trip double literals, like
    * [[ivfAnnSql]]): assignment re-derived per (vector, subspace) with
    * the same tie-break, the packed code re-derived with integer
    * arithmetic, and the reconstruction error via ONE ordered 64-dim
    * `list_dot_product` fold matching the executor's dim-ascending
    * accumulation.
    */
  def pqCodesSql(books: Array[Array[Array[Double]]]): String = {
    val rows = (for {
      (book, m) <- books.zipWithIndex
      (c, ki) <- book.zipWithIndex
    } yield s"($m, $ki, [${c.map(java.lang.Double.toString).mkString(", ")}]::DOUBLE[])")
      .mkString(", ")
    val nSub = books.length
    val subDim = 64 / nSub
    s"""WITH cent(m, k, carr) AS (VALUES $rows),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       sub AS (SELECT vec_id, m, list_slice(emb, m * $subDim + 1, m * $subDim + $subDim) AS sv
               FROM emb CROSS JOIN generate_series(0, ${nSub - 1}) g(m)),
       dists AS (
         SELECT vec_id, m, k, list_dot_product(df, df) AS dist
         FROM (SELECT s.vec_id, s.m, c.k,
                      list_transform(generate_series(1, $subDim), i -> s.sv[i] - c.carr[i]) AS df
               FROM sub s JOIN cent c ON s.m = c.m) d),
       assign AS (
         SELECT vec_id, m, k FROM dists
         QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) = 1),
       code AS (
         SELECT vec_id, CAST(SUM(k * (1::BIGINT << (4 * m))) AS BIGINT) AS pq_code
         FROM assign GROUP BY vec_id),
       comps AS (
         SELECT a.vec_id, a.m, gs.i AS d, c.carr[gs.i] AS comp
         FROM assign a JOIN cent c ON a.m = c.m AND a.k = c.k
         CROSS JOIN generate_series(1, $subDim) gs(i)),
       rec AS (
         SELECT vec_id, list(comp ORDER BY m, d) AS rec FROM comps GROUP BY vec_id),
       errs AS (
         SELECT vec_id, list_dot_product(df, df) AS err
         FROM (SELECT e.vec_id,
                      list_transform(generate_series(1, 64), i -> e.emb[i] - r.rec[i]) AS df
               FROM emb e JOIN rec r USING (vec_id)) d)
       SELECT c.vec_id, c.pq_code, round(e.err, 6) AS err
       FROM code c JOIN errs e USING (vec_id)"""
  }

  /** ONE definition of cell probing, shared by IVF-flat and IVF-PQ:
    * probe with the SAME metric as assignment (L2) — ranking cells by
    * dot product against non-normalized centroids orders them
    * differently and silently costs recall.
    */
  private def probeCellsUdf(
      centB: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      nProbe: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (emb: Seq[Float]) =>
      val v = emb.toArray.map(_.toDouble)
      centB.value.indices
        .sortBy(c => l2sq(v, centB.value(c)))
        .take(nProbe)
        .toArray
    }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def nearestCentroid(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) {
        val diff = v(i) - centroids(c)(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic random hyperplanes. Components come from
    * [[TextHash.md5Unit]] — md5 of `"graftlsh:seed:plane:dim"` mapped to
    * a double in [−1, 1) using only exactly-representable arithmetic —
    * rather than a JVM RNG, so the DuckDB oracle re-derives the very same
    * planes from `md5_number_lower` and the bucket assignment (sign of a
    * sequential-fold dot product, which DuckDB's `list_dot_product`
    * matches bit-for-bit) is cross-engine exact. Uniform-cube directions
    * are a valid sign-LSH family; recall floors re-locked in VectorSpec.
    */
  private def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim)(i => TextHash.md5Unit(s"graftlsh:$seed:$p:$i"))
    }

  /** Approximate NN via sign-pattern buckets of `nPlanes` random
    * hyperplanes, with `bands` sub-signatures so near neighbors collide in
    * ≥1 band. Candidates are ranked exactly within buckets.
    * Scale: the corpus shuffles once on (band, bucket-key); bucket sizes
    * concentrate around corpus/2^(nPlanes/bands) — tune nPlanes per SF.
    */
  def lshAnn(
      s: SparkSession,
      dir: String,
      nQueries: Int = 8,
      k: Int = 10,
      nPlanes: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): DataFrame =
    rankTopK(lshCandidates(s, dir, nQueries, nPlanes, bands, seed), k)

  /** Exact ranking of a candidate set — the shared tail of every ANN
    * path: per-query top-k by the proven-exact `vec_dot` key.
    */
  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    cands
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  /** The LSH candidate set (pre-ranking): distinct (query, corpus) pairs
    * colliding in ≥1 band, with the exact similarity. Exposed so the
    * recall/cost sweep ([[annSweep]]) can count candidates with the SAME
    * machinery the headline operator ranks.
    */
  private[queries] def lshCandidates(
      s: SparkSession,
      dir: String,
      nQueries: Int,
      nPlanes: Int,
      bands: Int,
      seed: Long): DataFrame = {
    graft.plans.VecDot.register(s)
    val planesB = s.sparkContext.broadcast(hyperplanes(64, nPlanes, seed))
    val signs = udf { (emb: Seq[Double]) =>
      val planes = planesB.value
      val perBand = planes.length / bands
      Array.tabulate(bands) { b =>
        var key = 0L
        var p = b * perBand
        while (p < (b + 1) * perBand) {
          var dot = 0.0
          val plane = planes(p)
          var i = 0
          while (i < plane.length && i < emb.length) { dot += plane(i) * emb(i); i += 1 }
          key = (key << 1) | (if (dot >= 0.0) 1L else 0L)
          p += 1
        }
        (b.toLong << 32) | key
      }
    }
    val e = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"),
        explode(signs(transform(col("embedding"), _.cast("double")))).as("bucket"))
    val q = e
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        col("emb").as("qemb"),
        col("bucket").as("qbucket"))
    e.join(q, col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
      // same proven-exact sequential-fold kernel as cosineTopK, so the
      // DuckDB oracle's list_dot_product reproduces the ranking key
      // bit-for-bit
      .withColumn("sim", expr("vec_dot(emb, qemb)"))
      .select(col("query_id"), col("vec_id"), col("sim"))
  }

  /** Exact DuckDB oracle for [[lshAnn]]: re-derives the hyperplanes from
    * `md5_number_lower` (the same 53-bit construction as
    * [[TextHash.md5Unit]]), the band keys from the sign of
    * `list_dot_product` (bit-identical to the executor fold), and the
    * candidate ranking from the same dot-product key — so the
    * *approximate* operator still has an exact, independent oracle.
    */
  /** The LSH candidate CTE chain (through `cand`), parameterized by band
    * count so [[annSweepSql]] can sweep it; `nPlanes` is fixed at 16 like
    * the Spark default.
    */
  private def lshCandSql(bands: Int, nQueries: Int): String = {
    val perBand = 16 / bands
    s"""plane_comp AS (
         SELECT p, i,
                ((md5_number_lower('graftlsh:42:' || p || ':' || i) >> 11)::DOUBLE
                  / 9007199254740992.0) * 2 - 1 AS comp
         FROM generate_series(0, 15) gp(p) CROSS JOIN generate_series(0, 63) gi(i)
       ),
       planes AS (SELECT p, list(comp ORDER BY i) AS plane FROM plane_comp GROUP BY p),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       band_keys AS (
         SELECT e.vec_id, pl.p // $perBand AS b,
                SUM(CASE WHEN list_dot_product(pl.plane, e.emb) >= 0
                    THEN 1 << CAST(${perBand - 1} - (pl.p % $perBand) AS INTEGER) ELSE 0 END) AS bkey
         FROM emb e CROSS JOIN planes pl
         GROUP BY e.vec_id, pl.p // $perBand
       ),
       buckets AS (SELECT vec_id, b * 4294967296 + bkey AS bucket FROM band_keys),
       cand AS (
         SELECT DISTINCT q.vec_id AS query_id, e.vec_id
         FROM buckets e JOIN buckets q
           ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
         WHERE q.vec_id < $nQueries
       )"""
  }

  val lshAnnSql: String =
    s"""WITH ${lshCandSql(4, 8)},
       sims AS (
         SELECT c.query_id, c.vec_id AS neighbor_id,
                list_dot_product(a.emb, b.emb) AS sim
         FROM cand c
         JOIN emb a ON c.vec_id = a.vec_id
         JOIN emb b ON c.query_id = b.vec_id
       ),
       ranked AS (
         SELECT *, row_number() OVER
           (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         FROM sims
       )
       SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
       FROM ranked WHERE rank <= 10"""

  /** Exact DuckDB oracle for [[ivfAnn]], parameterized by the trained
    * centroids ([[trainCentroids]] is deterministic, so inlining them as
    * literals — shortest-round-trip doubles parse back to identical
    * bits — makes assignment, probing, and ranking cross-engine exact;
    * generated at Verify time because the centroids depend on the data
    * directory under test).
    */
  /** The IVF candidate CTE chain (through `cand`), parameterized by
    * probe count for [[annSweepSql]]. */
  private def ivfCandSql(
      centroids: Array[Array[Double]],
      nQueries: Int,
      nProbe: Int): String = {
    val rows = centroids.zipWithIndex
      .map { case (c, idx) =>
        s"($idx, [${c.map(java.lang.Double.toString).mkString(", ")}]::DOUBLE[])"
      }
      .mkString(", ")
    s"""cent(cell, carr) AS (VALUES $rows),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       dists AS (
         SELECT vec_id, cell, list_dot_product(df, df) AS dist
         FROM (SELECT e.vec_id, c.cell,
                      list_transform(generate_series(1, 64),
                                     i -> e.emb[i] - c.carr[i]) AS df
               FROM emb e CROSS JOIN cent c) d
       ),
       assign AS (
         SELECT vec_id, cell FROM dists
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1
       ),
       probe AS (
         SELECT vec_id AS query_id, cell FROM dists WHERE vec_id < $nQueries
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) <= $nProbe
       ),
       cand AS (
         SELECT p.query_id, a.vec_id
         FROM assign a JOIN probe p ON a.cell = p.cell AND a.vec_id <> p.query_id
       )"""
  }

  def ivfAnnSql(
      centroids: Array[Array[Double]],
      nQueries: Int = 8,
      k: Int = 10,
      nProbe: Int = 6): String = {
    s"""WITH ${ivfCandSql(centroids, nQueries, nProbe)},
       sims AS (
         SELECT c.query_id, c.vec_id AS neighbor_id,
                list_dot_product(a.emb, q.emb) AS sim
         FROM cand c
         JOIN emb a ON c.vec_id = a.vec_id
         JOIN emb q ON c.query_id = q.vec_id
       ),
       ranked AS (
         SELECT *, row_number() OVER
           (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         FROM sims
       )
       SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
       FROM ranked WHERE rank <= $k"""
  }

  /** Johnson-Lindenstrauss random projection 64 → `kOut` dims — the
    * standard dimensionality-reduction front-end for cluster-scale ANN
    * and clustering (project once, index/cluster in the small space;
    * JL: pairwise distances are preserved within ε for kOut = O(log n/ε²)).
    * The projection matrix is md5-derived ([[TextHash.md5Unit]], same
    * construction as the LSH hyperplanes) rather than JVM-random, so the
    * DuckDB oracle re-derives the identical matrix and the whole
    * operator is exact: components are `vec_dot` sequential folds,
    * matched bit-for-bit by `list_dot_product`.
    *
    * Scale: the matrix is kOut×64 doubles broadcast to every executor;
    * projection is a pure per-row map — ZERO shuffles at any corpus
    * size (plan-locked). Output: leading components (rounded) + the
    * projected squared norm, accumulated in ascending component order.
    */
  def randomProjection(s: SparkSession, dir: String, kOut: Int = 16): DataFrame = {
    val planes: Array[Array[Double]] =
      Array.tabulate(kOut)(p => Array.tabulate(64)(i => TextHash.md5Unit(s"graftproj:$p:$i")))
    val planesB = s.sparkContext.broadcast(planes)
    val projUdf = udf { (emb: Seq[Float]) =>
      val v = emb.toArray.map(_.toDouble)
      val ps = planesB.value
      val out = new Array[Double](ps.length)
      var norm2 = 0.0
      var p = 0
      while (p < ps.length) {
        var dot = 0.0
        var i = 0
        while (i < 64 && i < v.length) { dot += ps(p)(i) * v(i); i += 1 }
        out(p) = dot
        p += 1
      }
      p = 0
      while (p < out.length) { norm2 += out(p) * out(p); p += 1 }
      (out, norm2)
    }
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), projUdf(col("embedding")).as("pr"))
      .select(
        col("vec_id"),
        round(element_at(col("pr._1"), 1), 6).as("p0"),
        round(element_at(col("pr._1"), 2), 6).as("p1"),
        round(element_at(col("pr._1"), 3), 6).as("p2"),
        round(element_at(col("pr._1"), 4), 6).as("p3"),
        round(col("pr._2"), 6).as("proj_norm2"))
  }

  /** Exact oracle for [[randomProjection]]: the projection matrix from
    * `md5_number_lower` (the md5Unit construction), each component one
    * `list_dot_product` fold, the norm another fold over the ordered
    * component list.
    */
  val randomProjectionSql: String =
    """WITH plane_comp AS (
         SELECT p, i,
                ((md5_number_lower('graftproj:' || p || ':' || i) >> 11)::DOUBLE
                  / 9007199254740992.0) * 2 - 1 AS comp
         FROM generate_series(0, 15) gp(p) CROSS JOIN generate_series(0, 63) gi(i)
       ),
       planes AS (SELECT p, list(comp ORDER BY i) AS plane FROM plane_comp GROUP BY p),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       comps AS (
         SELECT e.vec_id, pl.p, list_dot_product(pl.plane, e.emb) AS c
         FROM emb e CROSS JOIN planes pl
       ),
       agg AS (
         SELECT vec_id, list(c ORDER BY p) AS cs FROM comps GROUP BY vec_id
       )
       SELECT vec_id,
              round(cs[1], 6) AS p0, round(cs[2], 6) AS p1,
              round(cs[3], 6) AS p2, round(cs[4], 6) AS p3,
              round(list_dot_product(cs, cs), 6) AS proj_norm2
       FROM agg"""

  /** Scalar (int8) quantization of the embedding column — the other
    * standard ANN compression next to [[pqCodes]]: each dimension maps
    * to a byte via the corpus-wide per-dim [lo, hi] range (256 uniform
    * cells, midpoint reconstruction), 64 floats → 64 bytes. Output per
    * vector: a position-weighted code checksum (pins every byte to its
    * dimension) and the reconstruction error.
    *
    * Scale: the range stats are 64 (lo, hi) pairs — one narrow
    * posexplode pass with map-side partial min/max into 64 groups,
    * collected as control-plane constants and broadcast (the same
    * bounded-stats-then-broadcast shape as centroid training); encoding
    * is then a pure per-row map, ZERO shuffles in the returned plan
    * (plan-locked). Deterministic stats ⇒ exact oracle: quantization is
    * integer after identical double ops, the error a dim-ascending fold
    * matched by `list_dot_product`.
    */
  def sq8Codes(s: SparkSession, dir: String): DataFrame = {
    val stats = Tables
      .embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
      .sortBy(_._1)
    val lo = stats.map(_._2)
    val hi = stats.map(_._3)
    val loB = s.sparkContext.broadcast(lo)
    val hiB = s.sparkContext.broadcast(hi)
    val encUdf = udf { (emb: Seq[Float]) =>
      var checksum = 0L
      var err = 0.0
      var d = 0
      while (d < emb.length && d < loB.value.length) {
        val v = emb(d).toDouble
        val scale = (hiB.value(d) - loB.value(d)) / 255.0
        val code =
          if (scale == 0.0) 0L
          else {
            val c = math.floor((v - loB.value(d)) / scale).toLong
            if (c < 0L) 0L else if (c > 255L) 255L else c
          }
        checksum += code * (d + 1)
        val rec = loB.value(d) + (code + 0.5) * scale
        val diff = v - rec
        err += diff * diff
        d += 1
      }
      (checksum, err)
    }
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), encUdf(col("embedding")).as("enc"))
      .select(
        col("vec_id"),
        col("enc._1").as("code_checksum"),
        round(col("enc._2"), 6).as("q_err"))
  }

  /** Exact oracle for [[sq8Codes]]: per-dim ranges re-derived order-free
    * (min/max), codes via the identical double expression + clamp, the
    * error via one dim-ordered residual fold.
    */
  val sq8CodesSql: String =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       dims AS (SELECT d FROM generate_series(1, 64) g(d)),
       stats AS (
         SELECT d, min(e.emb[d]) AS lo, max(e.emb[d]) AS hi
         FROM emb e CROSS JOIN dims GROUP BY d
       ),
       codes AS (
         SELECT e.vec_id, s.d, s.lo, (s.hi - s.lo)/255.0 AS scale,
                CASE WHEN s.hi = s.lo THEN 0
                     ELSE CAST(least(255, greatest(0,
                            floor((e.emb[s.d] - s.lo) / ((s.hi - s.lo)/255.0)))) AS BIGINT)
                END AS code,
                e.emb[s.d] AS v
         FROM emb e CROSS JOIN stats s
       ),
       ck AS (
         SELECT vec_id, CAST(sum(code * d) AS BIGINT) AS code_checksum
         FROM codes GROUP BY vec_id
       ),
       res AS (
         SELECT vec_id, list(v - (lo + (code + 0.5) * scale) ORDER BY d) AS r
         FROM codes GROUP BY vec_id
       )
       SELECT c.vec_id, c.code_checksum,
              round(list_dot_product(r.r, r.r), 6) AS q_err
       FROM ck c JOIN res r USING (vec_id)"""

  /** ANN quality harness: recall@k of both approximate paths ([[lshAnn]]
    * buckets, [[ivfAnn]] probes) against the exact [[cosineTopK]] ground
    * truth on the same queries — the measurement a user tuning
    * nPlanes/bands or nLists/nProbe actually reads. One row per
    * (method, query): hits among the exact top-k and the recall ratio.
    *
    * Every component is deterministic (md5-derived planes, seeded
    * bounded-sample centroids, exact tie-breaks), so even this
    * *quality-of-approximation* measurement has an exact DuckDB oracle —
    * [[annRecallSql]] composes the three oracles and re-derives the
    * intersection counts.
    *
    * Scale: ground truth on all of 100 TB is not computable — there you
    * run this harness on a sampled query set against a sampled corpus
    * shard (the shape here: nQueries bounded, per-query work bounded by
    * the component plans — exact pass is one broadcast scan with
    * map-side WindowGroupLimit; the joins below act on ≤ methods ×
    * nQueries × k rows). The recall/cost dials: LSH — more bands (OR of
    * sub-signatures) raises recall and candidate count together, more
    * planes per band sharpens buckets (higher precision, lower recall);
    * IVF — nProbe/nLists IS the recall-vs-touched-fraction trade
    * (6/16 ≈ 0.7 recall@10 on this near-orthogonal corpus; clustered
    * real embeddings do better at lower ratios).
    */
  def annRecall(
      s: SparkSession,
      dir: String,
      nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    val exact = cosineTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    def recallOf(method: String, approx: DataFrame): DataFrame =
      exact
        .join(
          approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
          Seq("query_id", "neighbor_id"),
          "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(
          lit(method).as("method"),
          col("query_id"),
          col("n_hit"),
          round(col("n_hit") / lit(k.toDouble), 6).as("recall_at_k"))
    recallOf("lsh", lshAnn(s, dir, nQueries, k))
      .unionAll(recallOf("ivf", ivfAnn(s, dir, nQueries, k)))
  }

  /** Exact oracle for [[annRecall]]: the three component oracles as
    * derived tables (each already exact), intersected per query. Dynamic
    * because [[ivfAnnSql]] inlines the trained centroids.
    */
  def annRecallSql(
      centroids: Array[Array[Double]],
      nQueries: Int = 8,
      k: Int = 10): String = {
    // the embedded exact-top-k and LSH legs are derived for the default
    // operating point; a silently half-parameterized oracle (only the
    // IVF leg honoring the arguments) would "verify" wrong answers —
    // fail fast until cosineTopKSql/lshAnnSql are parameterized too
    require(nQueries == 8 && k == 10,
      s"annRecallSql is derived for (nQueries=8, k=10); got ($nQueries, $k) — " +
        "parameterize the cosineTopKSql and lshAnnSql legs before widening")
    def one(method: String, approxSql: String): String =
      s"""SELECT '$method' AS method, e.query_id,
                CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
                round(count(a.neighbor_id) / $k.0, 6) AS recall_at_k
         FROM ($cosineTopKSql) e
         LEFT JOIN ($approxSql) a
           ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         GROUP BY e.query_id"""
    s"${one("lsh", lshAnnSql)} UNION ALL ${one("ivf", ivfAnnSql(centroids, nQueries, k))}"
  }

  /** Recall/cost CURVE — the [[annRecall]] harness swept across the
    * tuning dials an operator actually turns at 100 TB: LSH band count
    * (2/4/8 bands of 16 planes — more, shorter bands = more OR-chances
    * to collide = higher recall AND more candidates) and IVF probe count
    * (2/6/12 of 16 lists = the touched-fraction dial). One row per
    * (method, param): aggregate recall@k over the query set plus the
    * candidate-pairs count — recall is what you buy, candidates are what
    * you pay, and the table IS the operating-point menu.
    *
    * Every config is deterministic, so the whole curve has an exact
    * DuckDB oracle ([[annSweepSql]] re-derives each configuration's
    * candidate set and intersections from scratch). Scale: reuses the
    * component kernels unchanged (bounded queries broadcast, banded/
    * celled candidate joins, map-side WindowGroupLimit ranking);
    * centroids train ONCE across the probe sweep.
    */
  def annSweep(
      s: SparkSession,
      dir: String,
      nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    graft.plans.VecDot.register(s)
    val exact = Reuse.pin(
      cosineTopK(s, dir, nQueries, k)
        .select(col("query_id"), col("neighbor_id").as("vec_id")))
    def eval(method: String, param: Int, cands0: DataFrame): DataFrame = {
      // pinned: the candidate set feeds both the cost count and the
      // ranked recall join
      val cands = Reuse.pin(cands0)
      val topk = rankTopK(cands, k)
        .select(col("query_id"), col("neighbor_id").as("vec_id"))
      val hits = topk
        .join(exact, Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      cands
        .agg(count(lit(1)).as("n_candidates"))
        .crossJoin(hits)
        .select(
          lit(method).as("method"),
          lit(param.toLong).as("param"),
          col("n_candidates"),
          col("n_hit"),
          round(col("n_hit").cast("double") / lit((nQueries * k).toDouble), 6)
            .as("recall_at_k"))
    }
    // ---- shared LSH structure: ONE corpus pass computes all 16 plane
    // signs packed into a single word (plane p at bit 15−p); each band
    // configuration's keys are then pure bit arithmetic over the word,
    // identical to lshCandidates' per-band fold (first plane in a band
    // is the key's MSB). 3 configs share 1 pass instead of paying 3.
    val planesB = s.sparkContext.broadcast(hyperplanes(64, 16, 42L))
    val wordUdf = udf { (emb: Seq[Double]) =>
      val planes = planesB.value
      var word = 0L
      var p = 0
      while (p < planes.length) {
        var dot = 0.0
        val plane = planes(p)
        var i = 0
        while (i < plane.length && i < emb.length) { dot += plane(i) * emb(i); i += 1 }
        if (dot >= 0.0) word |= 1L << (15 - p)
        p += 1
      }
      word
    }
    val lshBase = Reuse.pin(
      Tables
        .embeddings(s, dir)
        .select(
          col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("emb"),
          wordUdf(transform(col("embedding"), _.cast("double"))).as("word")))
    def lshCands(bands: Int): DataFrame = {
      val pb = 16 / bands
      val mask = (1L << pb) - 1
      val buckets = expr(
        s"transform(sequence(0, ${bands - 1}), " +
          s"j -> cast(j as bigint) * 4294967296 + " +
          s"(shiftright(word, 16 - (j + 1) * $pb) & ${mask}L))")
      val e = lshBase.select(col("vec_id"), col("emb"), explode(buckets).as("bucket"))
      val q = e
        .filter(col("vec_id") < nQueries)
        .select(
          col("vec_id").as("query_id"),
          col("emb").as("qemb"),
          col("bucket").as("qbucket"))
      e.join(q, col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
        .dropDuplicates("query_id", "vec_id")
        .withColumn("sim", expr("vec_dot(emb, qemb)"))
        .select(col("query_id"), col("vec_id"), col("sim"))
    }
    // ---- shared IVF structure: probe lists for nProbe = p are PREFIXES
    // of the nProbe = 12 list (same L2 ordering), so one assignment pass
    // and one cell join at maxProbe carry a probe_rank that each config
    // filters — 3 configs share 1 corpus assignment + 1 join.
    val maxProbe = 12
    val cents = trainCentroids(s, dir)
    val centB = s.sparkContext.broadcast(cents)
    val assignUdf = udf { (emb: Seq[Float]) =>
      nearestCentroid(emb.toArray.map(_.toDouble), centB.value)
    }
    val probeRankUdf = udf { (emb: Seq[Float]) =>
      val v = emb.toArray.map(_.toDouble)
      centB.value.indices
        .sortBy(c => l2sq(v, centB.value(c)))
        .take(maxProbe)
        .zipWithIndex
        .map { case (cell, i) => (cell, i + 1) }
        .toArray
    }
    val assigned = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"),
        assignUdf(col("embedding")).as("cell"))
    val probes = Tables
      .embeddings(s, dir)
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        transform(col("embedding"), _.cast("double")).as("qemb"),
        explode(probeRankUdf(col("embedding"))).as("pr"))
      .select(col("query_id"), col("qemb"), col("pr._1").as("cell"), col("pr._2").as("probe_rank"))
    val ivfBase = Reuse.pin(
      assigned
        .join(probes, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("sim", expr("vec_dot(emb, qemb)"))
        .select(col("query_id"), col("vec_id"), col("sim"), col("probe_rank")))
    def ivfCands(p: Int): DataFrame =
      ivfBase.filter(col("probe_rank") <= p).select(col("query_id"), col("vec_id"), col("sim"))
    val lsh = Seq(2, 4, 8).map(b => eval("lsh", b, lshCands(b)))
    val ivf = Seq(2, 6, 12).map(p => eval("ivf", p, ivfCands(p)))
    (lsh ++ ivf).reduce(_ unionAll _)
  }

  /** Exact oracle for [[annSweep]]: per configuration, the candidate CTE
    * chain + exact ranking + intersection with the exact top-k, unioned.
    */
  def annSweepSql(
      centroids: Array[Array[Double]],
      nQueries: Int = 8,
      k: Int = 10): String = {
    require(nQueries == 8 && k == 10,
      s"annSweepSql is derived for (nQueries=8, k=10); got ($nQueries, $k) — " +
        "the exact-top-k leg it intersects against is fixed at that point")
    def one(method: String, param: Int, candSql: String): String =
      s"""SELECT '$method' AS method, CAST($param AS BIGINT) AS param,
                x.n_candidates, x.n_hit,
                round(x.n_hit / ${nQueries * k}.0, 6) AS recall_at_k
         FROM (
           WITH $candSql,
                sims AS (
                  SELECT c.query_id, c.vec_id AS neighbor_id,
                         list_dot_product(a.emb, b.emb) AS sim
                  FROM cand c
                  JOIN emb a ON c.vec_id = a.vec_id
                  JOIN emb b ON c.query_id = b.vec_id
                ),
                topk AS (
                  SELECT query_id, neighbor_id FROM sims
                  QUALIFY row_number() OVER
                    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $k
                )
           SELECT (SELECT count(*) FROM cand) AS n_candidates,
                  (SELECT count(*)
                   FROM topk t JOIN ($cosineTopKSql) e
                     ON t.query_id = e.query_id
                    AND t.neighbor_id = e.neighbor_id) AS n_hit) x"""
    val lsh = Seq(2, 4, 8).map(b => one("lsh", b, lshCandSql(b, nQueries)))
    val ivf = Seq(2, 6, 12).map(p =>
      one("ivf", p, ivfCandSql(centroids, nQueries, p)))
    (lsh ++ ivf).mkString("\n UNION ALL\n")
  }

  /** k-nearest-neighbor label classification: vectors `vec_id <
    * nQueries` are the held-out queries, the rest the labelled corpus;
    * each query takes the majority label of its `k` exact-cosine nearest
    * neighbors (tie-break: larger vote count, then smaller label). The
    * embedding-space label-propagation step behind weak supervision and
    * auto-labelling of training corpora.
    *
    * Scale: same kernel as [[cosineTopK]] — queries broadcast, one
    * narrow corpus pass, `WindowGroupLimit` cuts each partition to its
    * per-query top-k map-side, so the window shuffle carries ≤
    * nQueries×k rows per input partition. The vote count and the
    * argmax-per-query windows then act on ≤ nQueries×k rows total.
    */
  def knnClassify(
      s: SparkSession,
      dir: String,
      nQueries: Int = 40,
      k: Int = 5): DataFrame = {
    graft.plans.VecDot.register(s)
    val e = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"),
        col("label"))
    val q = e
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        col("emb").as("qemb"),
        col("label").as("true_label"))
    val corpus = e.filter(col("vec_id") >= nQueries)
    val sims = corpus
      .crossJoin(broadcast(q))
      .withColumn("sim_raw", expr("vec_dot(emb, qemb)"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim_raw").desc, col("vec_id"))
    val votes = sims
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"), max(col("sim_raw")).as("best_sim_raw"))
    val wVote = Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes
      .withColumn("vote_rank", row_number().over(wVote))
      .filter(col("vote_rank") === 1)
      .select(
        col("query_id"),
        col("true_label"),
        col("label").as("pred_label"),
        col("n_votes"),
        round(col("best_sim_raw"), 6).as("best_sim"),
        (col("label") === col("true_label")).as("correct"))
  }

  def knnClassifySql(nQueries: Int = 40, k: Int = 5): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
                  FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS qemb, label AS true_label
             FROM e WHERE vec_id < $nQueries),
       sims AS (
         SELECT q.query_id, q.true_label, c.vec_id, c.label,
                list_dot_product(c.emb, q.qemb) AS sim_raw
         FROM e c CROSS JOIN q WHERE c.vec_id >= $nQueries),
       topk AS (
         SELECT * FROM (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY sim_raw DESC, vec_id) AS rank
           FROM sims)
         WHERE rank <= $k),
       votes AS (
         SELECT query_id, true_label, label,
                count(*) AS n_votes, max(sim_raw) AS best_sim_raw
         FROM topk GROUP BY 1, 2, 3),
       winner AS (
         SELECT *, row_number() OVER
           (PARTITION BY query_id ORDER BY n_votes DESC, label) AS vote_rank
         FROM votes)
       SELECT query_id, true_label, label AS pred_label, n_votes,
              round(best_sim_raw, 6) AS best_sim,
              (label = true_label) AS correct
       FROM winner WHERE vote_rank = 1"""

  /** Train PQ codebooks on COARSE RESIDUALS (v − centroid(cell(v))) —
    * the residual quantization FAISS-style IVF-PQ uses: the coarse
    * quantizer removes the cell mean, so the codebooks spend their 4
    * bits on the remaining within-cell variance instead of re-encoding
    * cell position. Same bounded-sample Lloyd training as
    * [[trainPqCentroids]], deterministic given (data, seed).
    */
  def trainResidualPq(
      s: SparkSession,
      dir: String,
      cents: Array[Array[Double]],
      nSub: Int = 8,
      k: Int = 16,
      seed: Long = 42L,
      sampleN: Int = 2000): Array[Array[Array[Double]]] = {
    requirePackable(nSub, k)
    val residuals = boundedSample(s, dir, sampleN).map { v =>
      val c = cents(nearestCentroid(v, cents))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    pqLloyd(residuals, nSub, k, m => seed * 37 + m)
  }

  /** IVF-PQ approximate NN with asymmetric-distance ranking — the
    * production ANN composition (FAISS `IVFxPQy`): the coarse quantizer
    * routes (probe `nProbe` of `nLists` cells), the PQ code is ALL the
    * index stores per vector (one packed long — 8 bytes against 256 for
    * the raw 64-float vector), and candidates rank by the asymmetric
    * distance ‖(q − centroid(cell)) − reconstruct(code)‖² — the query
    * side stays exact, only the corpus side is quantized.
    *
    * Cross-engine exactness: the ADC is computed as ONE dim-ascending
    * fold over the 64-dim difference (reconstruct-then-subtract, not a
    * per-subspace partial-sum whose addition order SQL would not
    * guarantee), so DuckDB's `list_dot_product` over the ordered
    * difference reproduces every distance bit-for-bit; ranking
    * tie-breaks on vec_id.
    *
    * Scale: the stored index is (cell, code) — 8 bytes/vector of
    * payload; the candidate join shuffles on cell id touching
    * `nProbe/nLists` of the corpus per query; codebooks and centroids
    * broadcast. Exactly [[ivfAnn]]'s plan with the 32× smaller build
    * side — the memory-bound regime where IVF-PQ replaces IVF-flat.
    */
  def ivfPqAnn(
      s: SparkSession,
      dir: String,
      nQueries: Int = 8,
      k: Int = 10,
      nLists: Int = 16,
      nProbe: Int = 6,
      nSub: Int = 8,
      seed: Long = 42L): DataFrame = {
    requirePackable(nSub, k = 16)
    val cents = trainCentroids(s, dir, nLists, seed)
    val books = trainResidualPq(s, dir, cents, nSub)
    val centB = s.sparkContext.broadcast(cents)
    val booksB = s.sparkContext.broadcast(books)
    val dim = books.length * books.head.head.length
    val subDim = dim / nSub
    val encodeUdf = udf { (emb: Seq[Float]) =>
      val v = emb.toArray.map(_.toDouble)
      val cell = nearestCentroid(v, centB.value)
      val c = centB.value(cell)
      var code = 0L
      var m = 0
      while (m < nSub) {
        val sub = Array.tabulate(subDim)(i => v(m * subDim + i) - c(m * subDim + i))
        code |= nearestCentroid(sub, booksB.value(m)).toLong << (4 * m)
        m += 1
      }
      (cell, code)
    }
    val probeUdf = probeCellsUdf(centB, nProbe)
    // one dim-ascending fold over (qres − reconstruction) — the order
    // both engines share
    val adcUdf = udf { (qemb: Seq[Double], cell: Int, code: Long) =>
      val c = centB.value(cell)
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val m = d / subDim
        val ki = ((code >> (4 * m)) & 15L).toInt
        val diff = (qemb(d) - c(d)) - booksB.value(m)(ki)(d - m * subDim)
        acc += diff * diff
        d += 1
      }
      acc
    }
    val encoded = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), encodeUdf(col("embedding")).as("e"))
      .select(col("vec_id"), col("e._1").as("cell"), col("e._2").as("code"))
    val q = Tables
      .embeddings(s, dir)
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        transform(col("embedding"), _.cast("double")).as("qemb"),
        explode(probeUdf(col("embedding"))).as("cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    encoded
      .join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", adcUdf(col("qemb"), col("cell"), col("code")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        col("rank"),
        round(col("adc"), 6).as("adc"))
  }

  /** Exact DuckDB oracle for [[ivfPqAnn]], parameterized by the trained
    * coarse centroids and residual codebooks (inlined literals):
    * assignment, residual encoding, probing, and the single-fold ADC all
    * re-derived with the same tie-breaks.
    */
  def ivfPqAnnSql(
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      nQueries: Int = 8,
      k: Int = 10,
      nProbe: Int = 6): String = {
    val bookRows = (for {
      (book, m) <- books.zipWithIndex
      (c, ki) <- book.zipWithIndex
    } yield s"($m, $ki, [${c.map(java.lang.Double.toString).mkString(", ")}]::DOUBLE[])")
      .mkString(", ")
    val nSub = books.length
    val subDim = books.head.head.length
    val dim = nSub * subDim
    // reuses the shared cent/emb/dists/assign/probe/cand stages
    // (ivfCandSql) and adds the PQ leg: residual → per-subspace codes →
    // reconstructed residual → single-fold ADC
    s"""WITH ${ivfCandSql(cents, nQueries, nProbe)},
       book(m, k, barr) AS (VALUES $bookRows),
       resid AS (
         SELECT a.vec_id, a.cell,
                list_transform(generate_series(1, $dim),
                               i -> e.emb[i] - c.carr[i]) AS r
         FROM assign a
         JOIN emb e ON e.vec_id = a.vec_id
         JOIN cent c ON c.cell = a.cell
       ),
       subdists AS (
         SELECT vec_id, m, k, list_dot_product(df, df) AS dist
         FROM (SELECT r.vec_id, b.m, b.k,
                      list_transform(generate_series(1, $subDim),
                                     i -> r.r[b.m * $subDim + i] - b.barr[i]) AS df
               FROM resid r CROSS JOIN book b) d
       ),
       codes AS (
         SELECT vec_id, m, k AS code_m FROM subdists
         QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) = 1
       ),
       recon AS (
         SELECT c.vec_id, flatten(list(b.barr ORDER BY c.m)) AS rec
         FROM codes c JOIN book b ON b.m = c.m AND b.k = c.code_m
         GROUP BY 1
       ),
       adcs AS (
         SELECT query_id, neighbor_id, list_dot_product(df, df) AS adc
         FROM (SELECT cd.query_id, cd.vec_id AS neighbor_id,
                      list_transform(generate_series(1, $dim),
                        i -> (q.emb[i] - c.carr[i]) - r.rec[i]) AS df
               FROM cand cd
               JOIN emb q ON q.vec_id = cd.query_id
               JOIN assign a ON a.vec_id = cd.vec_id
               JOIN cent c ON c.cell = a.cell
               JOIN recon r ON r.vec_id = cd.vec_id) d
       )
       SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank,
              round(adc, 6) AS adc
       FROM adcs
       QUALIFY rank <= $k"""
  }

  // --------------------------------------------------------------------
  // q_kmeans_train — fully DISTRIBUTED Lloyd iterations, replay oracle
  // --------------------------------------------------------------------

  /** Fully distributed Lloyd k-means over the embedding corpus — the
    * third member of the trainer family
    * ([[MiningQueries.logregTrain]], [[MiningQueries.gbmStumps]]), and
    * the distributed complement of [[trainCentroids]] (which trains on
    * a bounded driver-side sample for the ANN codebooks): here EVERY
    * vector participates in every round. Per round: one broadcast of
    * the K centroids onto the corpus, nearest-centroid assignment via
    * a fixed-order fold (deterministic (d2, k) tie-break), and a
    * per-(cluster, dim) partial-aggregated sum — K·D rows back to the
    * driver, nothing else. Init = the first K vectors by vec_id
    * (deterministic, the K-means‖-style seeding swap-in point).
    *
    * Cross-engine exactness: per-dim sums quantize to ⌊x·10⁶⌋ longs
    * (exact — float32 → double is exact), so each round's centroids
    * are identical doubles in both engines ((S/c)/10⁶ shape), the
    * distance folds see identical inputs, and the deterministic
    * argmin picks identical clusters: the oracle REPLAYS all
    * [[KmIters]] rounds as chained CTEs. Output per cluster: size,
    * quantized inertia, and a quantized centroid checksum — all exact
    * longs. Fail-fast on an empty cluster (would need the oracle's
    * CASE mirrored; at the fixture's K=4 over 500+ vectors it cannot
    * happen with first-K seeding).
    */
  val KmK = 4
  val KmIters = 3
  val KmDims = 64

  def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val e = Reuse.pin(
      Tables
        .embeddings(s, dir)
        .select(col("vec_id"), expr("transform(embedding, v -> double(v))").as("emb")))
    var cents: Array[Array[Double]] = e
      .orderBy(col("vec_id"))
      .limit(KmK)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val centSchema = StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("c", ArrayType(DoubleType, containsNull = false), nullable = false)))
    def centDf = s.createDataFrame(
      java.util.Arrays.asList(
        cents.zipWithIndex.map { case (c, k) => Row(k, c.toSeq) }: _*),
      centSchema)
    val d2 = expr(
      "aggregate(zip_with(emb, c, (a, b) -> (a - b) * (a - b)), " +
        "cast(0.0 as double), (acc, x) -> acc + x)")
    def assigned = e
      .crossJoin(broadcast(centDf))
      .withColumn("d2", d2)
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("k"))))
      .filter(col("rn") === 1)
    for (_ <- 0 until KmIters) {
      val sums = assigned
        .select(col("k"), posexplode(col("emb")).as(Seq("d", "v")))
        .groupBy(col("k"), col("d"))
        .agg(sum(floor(col("v") * lit(1e6))).as("s"), count(lit(1)).as("c"))
        .collect()
      require(
        sums.map(_.getInt(0)).distinct.length == KmK,
        "kmeans: empty cluster — adjust K or seeding before trusting results")
      val next = Array.fill(KmK)(new Array[Double](KmDims))
      sums.foreach { r =>
        // exact replica of the oracle's centroid expression
        next(r.getInt(0))(r.getInt(1)) = (r.getLong(2).toDouble / r.getLong(3)) / 1e6
      }
      cents = next
    }
    assigned
      .select(col("k"), col("d2"), col("c"))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_assigned"),
        sum(floor(col("d2") * lit(1e6))).as("inertia_q"),
        first(expr(
          "aggregate(transform(c, x -> cast(floor(x * 1e6) as bigint)), " +
            "cast(0 as bigint), (acc, x) -> acc + x)")).as("cent_checksum"))
  }

  /** DuckDB oracle for [[kmeansTrain]]: the full Lloyd replay — one
    * assignment + per-dim quantized-sum + centroid CTE block per round,
    * identical fold order and double shapes throughout.
    */
  def kmeansTrainSql: String = {
    val d2 =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          [ (emb[i+1] - c[i+1]) * (emb[i+1] - c[i+1]) FOR i IN range($KmDims) ]),
          (acc, x) -> acc + x)"""
    val sb = new StringBuilder
    sb.append(s"""WITH e AS (
         SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
         FROM embeddings
       ),
       cent_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, emb AS c
                  FROM e ORDER BY vec_id LIMIT $KmK)""")
    for (t <- 1 to KmIters) {
      sb.append(s""",
       a_$t AS (SELECT vec_id, emb, k, $d2 AS d2,
                row_number() OVER (PARTITION BY vec_id ORDER BY $d2, k) AS rn
              FROM e, cent_${t - 1}),
       s_$t AS (SELECT k, g.d AS d,
                  CAST(sum(CAST(floor(emb[g.d + 1] * 1e6) AS BIGINT)) AS BIGINT) AS s,
                  count(*) AS c
                FROM (SELECT emb, k FROM a_$t WHERE rn = 1), range($KmDims) g(d)
                GROUP BY k, g.d),
       cent_$t AS (SELECT k, list((CAST(s AS DOUBLE) / c) / 1e6 ORDER BY d) AS c
                   FROM s_$t GROUP BY k)""")
    }
    sb.append(s"""
       SELECT CAST(k AS INT) AS k, count(*) AS n_assigned,
              CAST(sum(CAST(floor(d2 * 1e6) AS BIGINT)) AS BIGINT) AS inertia_q,
              CAST(min(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(c, x -> CAST(floor(x * 1e6) AS BIGINT))),
                (acc, x) -> acc + x)) AS BIGINT) AS cent_checksum
       FROM (SELECT vec_id, k, c, $d2 AS d2,
                    row_number() OVER (PARTITION BY vec_id ORDER BY $d2, k) AS rn
             FROM e, cent_$KmIters)
       WHERE rn = 1 GROUP BY k""")
    sb.toString
  }

  /** Per-dimension embedding drift between the reference population
    * (labels 0–4) and the current one (labels 5–9): dimension-wise mean
    * shift — the feature-drift monitor an embedding pipeline runs when
    * the upstream encoder changes. Components quantize to ⌊x·10⁶⌋
    * BIGINT terms before summing (float32 → float64 widening is exact,
    * so both engines floor identical doubles), making the per-dimension
    * sums order-independent and the oracle hashable.
    *
    * Scale: posexplode fans each vector into D rows, but the aggregate
    * is map-side combined on the dimension key — the shuffle carries
    * 2·D partial rows per map task, never the corpus; D is the model
    * width, a constant.
    */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    Tables
      .embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(
        (col("pos") + 1).cast("long").as("dim"),
        (col("label") < 5).as("ref"),
        expr("cast(floor(cast(v as double) * 1e6) as bigint)").as("q"))
      .groupBy(col("dim"))
      .agg(
        count(when(col("ref"), 1)).as("n_ref"),
        count(when(!col("ref"), 1)).as("n_cur"),
        sum(when(col("ref"), col("q")).otherwise(0L)).as("s_ref"),
        sum(when(!col("ref"), col("q")).otherwise(0L)).as("s_cur"))
      .select(
        col("dim"),
        round(col("s_ref").cast("double") / col("n_ref").cast("double") / lit(1e6), 6)
          .as("mean_ref"),
        round(col("s_cur").cast("double") / col("n_cur").cast("double") / lit(1e6), 6)
          .as("mean_cur"),
        round(
          (col("s_cur").cast("double") / col("n_cur").cast("double") -
            col("s_ref").cast("double") / col("n_ref").cast("double")) / lit(1e6),
          6).as("shift"))
  }

  val embeddingDriftSql: String =
    """WITH comps AS (
         SELECT i AS dim,
                label < 5 AS ref,
                CAST(floor(CAST(e[i] AS DOUBLE) * 1e6) AS BIGINT) AS q
         FROM (SELECT embedding AS e, label FROM embeddings),
              UNNEST(range(1, len(e) + 1)) AS r(i)),
       agg AS (
         SELECT dim,
                count(CASE WHEN ref THEN 1 END) AS n_ref,
                count(CASE WHEN NOT ref THEN 1 END) AS n_cur,
                CAST(sum(CASE WHEN ref THEN q ELSE 0 END) AS BIGINT) AS s_ref,
                CAST(sum(CASE WHEN NOT ref THEN q ELSE 0 END) AS BIGINT) AS s_cur
         FROM comps GROUP BY 1)
       SELECT CAST(dim AS BIGINT) AS dim,
              round(CAST(s_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) / 1e6, 6) AS mean_ref,
              round(CAST(s_cur AS DOUBLE) / CAST(n_cur AS DOUBLE) / 1e6, 6) AS mean_cur,
              round((CAST(s_cur AS DOUBLE) / CAST(n_cur AS DOUBLE)
                     - CAST(s_ref AS DOUBLE) / CAST(n_ref AS DOUBLE)) / 1e6, 6) AS shift
       FROM agg"""
}
