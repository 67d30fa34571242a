package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Quantize.q6

/** Graph analytics over the document-similarity graph — the centrality
  * companion to the connected-components clustering
  * ([[graft.operators.ConnectedComponents]]): which documents sit at the
  * hubs of the near-duplicate neighborhood? High-centrality docs are the
  * canonical representatives a curation pipeline keeps; low-centrality
  * satellites are the drop candidates.
  */
object GraphQueries {

  /** PageRank (damping 0.85, `iters` synchronous iterations) over the
    * word-overlap similarity graph: nodes are documents (doc_id < 80,
    * keeping the demo graph bounded), edges connect same-language pairs
    * sharing ≥ `minCommon` distinct words, symmetrised so the graph has
    * no dangling nodes (every node with an out-edge also receives).
    *
    * Scale: the edge table is built once and persisted (it is consumed
    * `iters` times); each iteration is the canonical distributed
    * PageRank shape — one join of ranks to edges on the src key, one
    * aggregation on the dst key — so the per-iteration cost is two
    * bounded shuffles of the edge table regardless of iteration count,
    * and the rank/degree/node tables stay node-sized. The teleport
    * scalar rides a broadcast of the one-row node-count aggregate.
    *
    * Cross-engine float exactness: the per-node neighbor sum is an
    * explicitly ORDERED fold — `aggregate(array_sort(collect_list(c)))`
    * here, `list_reduce(list_sort(list(c)))` in DuckDB (the
    * [[CurationQueries.domainMixture]] sorted-fold trick) — so the
    * oracle unrolls all `iters` iterations and still matches the hash
    * bit-for-bit. (At production scale the sort is unnecessary — a
    * plain `sum` differs only in non-deterministic last-ulp ordering —
    * but the ordered fold is what makes the operator *provably* right.)
    */
  /** The word-overlap similarity graph shared by [[pagerank]] and
    * [[triangleCount]]: canonical edge list (doc_a < doc_b) of same-language
    * document pairs with ≥ `minCommon` common distinct words.
    */
  private def similarityPairs(s: SparkSession, dir: String, minCommon: Int): DataFrame = {
    // persisted (r17): the a/b sides of the self-join below each
    // evaluated the scan+explode independently (two documents scans in
    // every graph query's final plan — the text column decodes twice).
    // The word table is bounded by the graph's node contract (doc_id <
    // 80 at any SF), so caching it is constant-size.
    val words = Reuse.pin(
      Tables
        .documents(s, dir)
        .filter(col("doc_id") < 80)
        .select(
          col("doc_id"),
          col("lang"),
          explode(array_distinct(split(col("text"), " ", -1))).as("w"))
        // empty tokens (leading/trailing/double spaces) are not shared
        // vocabulary — counting "" as a common word could push a pair
        // over minCommon (the sibling text queries all filter it)
        .filter(col("w") =!= ""))
    val a = words.select(col("doc_id").as("doc_a"), col("lang"), col("w"))
    val b = words.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("w"))
    a.join(b, Seq("w"))
      .filter(col("doc_a") < col("doc_b") && col("lang") === col("lang_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** The symmetrized (src, dst) edge list every iterative graph query
    * walks — ONE construction (and one SQL mirror, [[edgesCteSql]]) so
    * a change to edge derivation can never desynchronize a query from
    * its oracle. Pinned: each caller's rounds rescan it.
    */
  private def symmetricEdges(s: SparkSession, dir: String, minCommon: Int): DataFrame = {
    val pairs = similarityPairs(s, dir, minCommon)
    // symmetrize IN-ROW (explode a 2-struct array) instead of a
    // self-union: the union referenced the pairs subtree twice and —
    // measured r17, plans/r17/q_pagerank_before — ReuseExchange did NOT
    // dedup the two branches, so every graph query paid the word-overlap
    // self-join + aggregate TWICE (two full documents scans in the final
    // adaptive plan). One Generate over the single pairs evaluation
    // keeps exactly one candidate join in the plan — the same fix
    // itemKnn's symmetrization records (r13). Row ORDER differs from the
    // union form; every consumer groups/joins, so the edge SET is what
    // matters (and the SQL mirror's UNION ALL produces the same set).
    Reuse.pin(
      pairs
        .select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
  }

  /** SQL mirror of [[symmetricEdges]] as a CTE body (follows `pairs`). */
  private def edgesCteSql: String =
    """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL
                 SELECT doc_b AS src, doc_a AS dst FROM pairs)"""

  def pagerank(
      s: SparkSession,
      dir: String,
      iters: Int = 5,
      minCommon: Int = 12): DataFrame = {
    val edges = symmetricEdges(s, dir, minCommon)
    // deg and nodes are node-sized and consumed EVERY iteration (deg by
    // the contribution join, nodes by the rank rebuild + the teleport
    // count) — measured r16: unpersisted, the 5-iteration adaptive plan
    // carried 367 exchanges with only 47 reused, re-aggregating both from
    // the cached edge table each reference. Persisting them bounds each
    // to one evaluation; state is the same node-sized bound the rank
    // table already carries.
    val deg = Reuse.pin(edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg")))
    val nodes = Reuse.pin(edges.select(col("src").as("node")).distinct())
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    var rank = nodes
      .crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n_nodes").cast("double")).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(rank.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst"), (col("rank") / col("out_deg").cast("double")).as("c"))
      val sums = contribs
        .groupBy(col("dst"))
        .agg(
          aggregate(array_sort(collect_list(col("c"))), lit(0.0), (acc, x) => acc + x)
            .as("s"))
      rank = nodes
        .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(nn))
        .select(
          col("node"),
          (lit(0.15) / col("n_nodes").cast("double") +
            lit(0.85) * coalesce(col("s"), lit(0.0))).as("rank"))
      // NO per-iteration checkpoint here, deliberately (r16 A/B): with
      // deg/nodes persisted the lazy 5-iteration plan runs 14 jobs /
      // ~1.55 s warm at sf0.1; eager per-round localCheckpoints made it
      // 50 jobs / ~2.4 s. (textRank/labelPropagation measured the
      // OPPOSITE — their loops re-evaluated under multi-consumer tails.)
    }
    rank
      .join(deg.withColumnRenamed("src", "node"), "node")
      .select(
        col("node").as("doc_id"),
        col("out_deg").as("degree"),
        round(col("rank"), 6).as("pagerank"))
  }

  /** Per-node triangle count and local clustering coefficient over the
    * same similarity graph as [[pagerank]] — the community-density
    * companion to centrality: a high-clustering node sits inside a dense
    * near-duplicate clique (one canonical doc suffices); a high-degree
    * low-clustering node is a hub bridging distinct neighborhoods.
    *
    * Semantics: triangles are enumerated once each in canonical order
    * a < b < c by the standard two-hop join (e₁=(a,b) ⋈ e₂=(b,c) ⋈
    * closing edge e₃=(a,c)); each triangle credits all three corners.
    * clustering(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 when deg ≤ 1.
    *
    * Scale: the canonical edge list is persisted once and feeds all three
    * join legs plus the degree/node tables. Each join is edge-keyed
    * (never a product); the wedge intermediate is Σ_v deg(v)² rows —
    * the known cost center, bounded in practice by orienting edges from
    * low id to high id (here) or low degree to high degree (the standard
    * refinement when a real corpus has power-law hubs; same plan shape,
    * just a different canonical order). AQE skew-join splits any hot
    * wedge partition.
    */
  def triangleCount(s: SparkSession, dir: String, minCommon: Int = 12): DataFrame = {
    val pairs = Reuse.pin(similarityPairs(s, dir, minCommon).select(col("doc_a"), col("doc_b")))
    val tri = pairs
      .as("e1")
      .join(pairs.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(
        pairs.as("e3"),
        col("e3.doc_a") === col("e1.doc_a") && col("e3.doc_b") === col("e2.doc_b"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"), col("e2.doc_b").as("c"))
    val perNode = tri
      .select(col("a").as("node"))
      .unionByName(tri.select(col("b").as("node")))
      .unionByName(tri.select(col("c").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
    val deg = pairs
      .select(col("doc_a").as("node"))
      .unionByName(pairs.select(col("doc_b").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(
        col("node").as("doc_id"),
        col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(
          when(
            col("degree") > 1,
            (lit(2) * coalesce(col("triangles"), lit(0L))).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)),
          6).as("clustering"))
  }

  /** Synchronous label-propagation community detection over the same
    * similarity graph as [[pagerank]] (`iters` rounds): every node starts
    * in its own community (label = node id); each round, a node adopts
    * the MOST FREQUENT label among its neighbors, ties broken toward the
    * smallest label — the deterministic variant of LPA (mode-of-
    * neighbors, unlike the min-label rule which just recomputes connected
    * components). Near-duplicate cliques collapse onto one label within
    * a round or two; bridges keep distinct communities apart.
    *
    * Scale: per round, ONE join of the label table to the persisted edge
    * list (src-keyed) and ONE two-level aggregation — (dst, label) counts
    * collapse map-side, then the per-dst argmax is a `max_by` partial
    * aggregate on (count, −label), so no window over the full node set
    * and no skew funnel on hub nodes. Label/degree tables stay
    * node-sized; cost per round is independent of round count.
    */
  def labelPropagation(
      s: SparkSession,
      dir: String,
      iters: Int = 4,
      minCommon: Int = 12): DataFrame = {
    val edges = symmetricEdges(s, dir, minCommon)
    // the final label table is consumed TWICE (the sizes aggregate and
    // the join back) — measured r16: unpersisted AND un-checkpointed,
    // exchange reuse did NOT dedup the two references and the broadcast
    // branch re-ran the whole 4-iteration chain (41 jobs vs 29 for the
    // same chain inside modularity). The per-round localCheckpoint in
    // labelPropagationFrom truncates the lineage, so both consumers now
    // read the checkpointed node-sized table.
    val labels = labelPropagationFrom(edges, iters)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    labels
      .join(broadcast(sizes), "label")
      .select(col("node").as("doc_id"), col("label").as("community"), col("n_members"))
  }

  /** The LPA round loop on an ALREADY-BUILT edge table — shared by
    * [[labelPropagation]] and [[modularity]] so the community derivation
    * has exactly one definition AND one edge construction: before r16,
    * [[modularity]] built its own `symmetricEdges` and then called
    * [[labelPropagation]], which built (and separately materialized) a
    * second identical cache of the words self-join — the most expensive
    * subtree of every tiny-graph query, paid twice per run.
    */
  private def labelPropagationFrom(edges: DataFrame, iters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters) {
      val counts = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // lineage truncation per round (the pagerank/textRank idiom,
      // measured r16): node-sized table, one eager job per round; the
      // superseded round is read by nothing after the cut
      val prev = labels
      labels = Reuse.cut(
        counts
          .groupBy(col("dst"))
          .agg(max_by(col("label"), struct(col("cnt"), -col("label"))).as("label"))
          .withColumnRenamed("dst", "node"))
      Reuse.free(prev)
    }
    labels
  }

  /** Exact DuckDB oracle for [[labelPropagation]]: all rounds unrolled,
    * the per-node argmax as a (cnt DESC, label ASC) row_number.
    */
  /** The label-propagation CTE chain through `l$iters` — shared by
    * [[labelPropagationSql]] and [[modularitySql]] so the community
    * derivation has exactly one SQL definition.
    */
  private def labelPropCtes(iters: Int, minCommon: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (
         SELECT e.dst, l.label, count(*) AS cnt
         FROM edges e JOIN l${k - 1} l ON e.src = l.node
         GROUP BY 1, 2),
       l$k AS (
         SELECT dst AS node, label FROM (
           SELECT dst, label,
                  row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
           FROM c$k) WHERE rn = 1)"""
    }.mkString(",\n       ")
    s"""${graphCtesSql(minCommon)},
       $edgesCteSql,
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       l0 AS (SELECT node, node AS label FROM nodes),
       $iterCtes"""
  }

  def labelPropagationSql(iters: Int = 4, minCommon: Int = 12): String =
    s"""WITH ${labelPropCtes(iters, minCommon)},
       sizes AS (SELECT label, count(*) AS n_members FROM l$iters GROUP BY 1)
       SELECT l.node AS doc_id, l.label AS community, s.n_members
       FROM l$iters l JOIN sizes s USING (label)"""

  /** Bounded-hop neighborhood function (ANF): |N≤1|, |N≤2|, |N≤3| per
    * node over the similarity graph — the distance-distribution profile
    * behind closeness/harmonic centrality, cut at 3 hops. A node whose
    * 2-hop ball already spans its component is deeply embedded; a node
    * whose ball grows slowly sits on the periphery.
    *
    * Scale: the exact frontier expansion here is h edge-keyed self-joins
    * with a distinct per hop — correct and bounded at test scale, but the
    * distinct's state is Σ|ball(v)| rows, which at 100 TB is exactly what
    * the HyperANF refinement replaces: one [[SketchQueries.hllDistinct]]
    * register array per node, merged along edges per round, turning the
    * per-hop distinct into a bounded-state register max — same loop
    * shape, O(nodes·m) state. The exact operator is the oracle-checkable
    * form; the sketch swap is mechanical (registers already built in this
    * repo).
    */
  def neighborhood(s: SparkSession, dir: String, minCommon: Int = 12): DataFrame = {
    val edges = symmetricEdges(s, dir, minCommon)
    // ball(h) = distinct nodes reachable in EXACTLY <= h hops, self excluded.
    // r1/r2 are each consumed by THREE subtrees (the next hop's expand
    // branch, its union branch, and their own size aggregate) — measured
    // r16: unpersisted, exchange reuse deduped only 23 of the plan's 172
    // exchanges (r1 evaluated 4×, r2 3×; 3,104-line adaptive plan).
    // Persisting both bounds the plan to one evaluation each; their state
    // is exactly the Σ|ball(v)| rows the Scaladoc above already names as
    // this exact operator's scale bound (HyperANF registers replace it at
    // 100 TB), so the persist adds no new scale liability.
    val r1 = Reuse.pin(
      edges
        .select(col("src").as("node"), col("dst").as("reach"))
        .distinct())
    val r2 = Reuse.pin(
      r1
        .join(edges.withColumnRenamed("src", "reach"), "reach")
        .select(col("node"), col("dst").as("reach"))
        .filter(col("reach") =!= col("node"))
        .unionByName(r1)
        .distinct())
    val r3 = r2
      .join(edges.withColumnRenamed("src", "reach"), "reach")
      .select(col("node"), col("dst").as("reach"))
      .filter(col("reach") =!= col("node"))
      .unionByName(r2)
      .distinct()
    def sizes(r: DataFrame, name: String) =
      r.groupBy(col("node")).agg(count(lit(1)).as(name))
    sizes(r1, "n_1hop")
      .join(sizes(r2, "n_2hop"), "node")
      .join(sizes(r3, "n_3hop"), "node")
      .select(col("node").as("doc_id"), col("n_1hop"), col("n_2hop"), col("n_3hop"))
  }

  /** Exact DuckDB oracle for [[neighborhood]]: same per-hop
    * expand-union-distinct.
    */
  def neighborhoodSql(minCommon: Int = 12): String =
    s"""WITH ${graphCtesSql(minCommon)},
       $edgesCteSql,
       r1 AS (SELECT DISTINCT src AS node, dst AS reach FROM edges),
       r2 AS (
         SELECT DISTINCT node, reach FROM (
           SELECT r.node, e.dst AS reach
           FROM r1 r JOIN edges e ON r.reach = e.src
           WHERE e.dst <> r.node
           UNION ALL SELECT node, reach FROM r1)),
       r3 AS (
         SELECT DISTINCT node, reach FROM (
           SELECT r.node, e.dst AS reach
           FROM r2 r JOIN edges e ON r.reach = e.src
           WHERE e.dst <> r.node
           UNION ALL SELECT node, reach FROM r2))
       SELECT r1c.node AS doc_id, r1c.n_1hop, r2c.n_2hop, r3c.n_3hop
       FROM (SELECT node, count(*) AS n_1hop FROM r1 GROUP BY 1) r1c
       JOIN (SELECT node, count(*) AS n_2hop FROM r2 GROUP BY 1) r2c USING (node)
       JOIN (SELECT node, count(*) AS n_3hop FROM r3 GROUP BY 1) r3c USING (node)"""

  /** Adamic–Adar link prediction over the similarity graph: for every
    * non-adjacent canonical pair (a < b) with ≥ 2 common neighbors,
    * score = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) — common neighbors weighted
    * inversely by how promiscuous they are, the classic
    * missing-edge/near-dup-suggestion ranker. (Any common neighbor has
    * deg ≥ 2, so ln(deg) > 0 always.)
    *
    * Scale: the wedge enumeration is the SAME two-hop edge-keyed join
    * as [[triangleCount]] (Σ deg² bounded, AQE skew-split); existing
    * edges are removed with a broadcast-able anti-join on the canonical
    * pair key; the per-pair score is an ordered fold over the pair's own
    * common-neighbor list (bounded by min-degree) purely for
    * cross-engine bit-parity — production uses plain `sum`.
    */
  def linkPrediction(s: SparkSession, dir: String, minCommon: Int = 12): DataFrame = {
    val pairs = Reuse.pin(similarityPairs(s, dir, minCommon).select(col("doc_a"), col("doc_b")))
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val wedges = edges
      .select(col("src").as("a"), col("dst").as("z"))
      .join(edges.select(col("src").as("z"), col("dst").as("b")), "z")
      .filter(col("a") < col("b"))
      .join(pairs, col("a") === col("doc_a") && col("b") === col("doc_b"), "left_anti")
      .join(deg.withColumnRenamed("src", "z"), "z")
    wedges
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(
        count(lit(1)).as("common_neighbors"),
        round(
          aggregate(
            array_sort(collect_list(lit(1.0) / log(col("deg").cast("double")))),
            lit(0.0),
            (acc, x) => acc + x),
          6).as("aa_score"))
      .filter(col("common_neighbors") >= 2)
  }

  /** Exact DuckDB oracle for [[linkPrediction]]: same wedge join, same
    * anti-join, same sorted fold of 1/ln(deg).
    */
  def linkPredictionSql(minCommon: Int = 12): String =
    s"""WITH ${graphCtesSql(minCommon)},
       $edgesCteSql,
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       wedges AS (
         SELECT e1.dst AS z, e1.src AS a, e2.dst AS b
         FROM (SELECT src, dst FROM edges) e1
         JOIN (SELECT src AS z2, dst FROM edges) e2 ON e1.dst = e2.z2
         WHERE e1.src < e2.dst
           AND NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.doc_a = e1.src AND p.doc_b = e2.dst))
       SELECT w.a AS doc_a, w.b AS doc_b,
              count(*) AS common_neighbors,
              round(list_reduce(list_prepend(0.0, list_sort(list(1.0 / ln(CAST(d.deg AS DOUBLE))))),
                    (x, y) -> x + y), 6) AS aa_score
       FROM wedges w JOIN deg d ON w.z = d.src
       GROUP BY 1, 2
       HAVING count(*) >= 2"""

  /** Exact DuckDB oracle for [[triangleCount]]: same canonical two-hop
    * enumeration, same corner credit, same coefficient arithmetic.
    */
  def triangleCountSql(minCommon: Int = 12): String =
    s"""WITH ${graphCtesSql(minCommon)},
       tri AS (
         SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         FROM pairs e1
         JOIN pairs e2 ON e1.doc_b = e2.doc_a
         JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       corners AS (
         SELECT a AS node FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri),
       pern AS (SELECT node, count(*) AS triangles FROM corners GROUP BY 1),
       degs AS (
         SELECT node, count(*) AS degree FROM (
           SELECT doc_a AS node FROM pairs
           UNION ALL SELECT doc_b FROM pairs) GROUP BY 1)
       SELECT d.node AS doc_id, d.degree,
              COALESCE(p.triangles, 0) AS triangles,
              round(CASE WHEN d.degree > 1
                         THEN CAST(2 * COALESCE(p.triangles, 0) AS DOUBLE)
                              / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                         ELSE CAST(0 AS DOUBLE) END, 6) AS clustering
       FROM degs d LEFT JOIN pern p ON d.node = p.node"""

  /** Shared oracle fragment: the similarity graph CTEs (`words`,
    * `pairs`) used by both graph oracles.
    */
  private def graphCtesSql(minCommon: Int): String =
    s"""words AS (
         SELECT doc_id, lang, w FROM (
           SELECT doc_id, lang,
                  unnest(list_distinct(string_split(text, ' '))) AS w
           FROM documents WHERE doc_id < 80) WHERE w <> ''),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM words a JOIN words b
           ON a.w = b.w AND a.doc_id < b.doc_id AND a.lang = b.lang
         GROUP BY 1, 2 HAVING count(*) >= $minCommon)"""

  /** Exact DuckDB oracle: the same graph, the same damping, all
    * iterations unrolled as chained CTEs, every neighbor sum the same
    * sorted fold.
    */
  def pagerankSql(iters: Int = 5, minCommon: Int = 12): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (
         SELECT n.node,
                0.15 / CAST(nn.n_nodes AS DOUBLE) + 0.85 * COALESCE(s.s, 0.0) AS rank
         FROM nodes n CROSS JOIN nn
         LEFT JOIN (
           SELECT e.dst,
                  list_reduce(list_sort(list(r.rank / CAST(d.out_deg AS DOUBLE))),
                              (a, b) -> a + b) AS s
           FROM edges e
           JOIN r${k - 1} r ON e.src = r.node
           JOIN deg d ON e.src = d.src
           GROUP BY e.dst) s ON n.node = s.dst)"""
    }.mkString(",\n       ")
    s"""WITH ${graphCtesSql(minCommon)},
       $edgesCteSql,
       deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       nn AS (SELECT count(*) AS n_nodes FROM nodes),
       r0 AS (SELECT node, 1.0 / CAST(n_nodes AS DOUBLE) AS rank
              FROM nodes CROSS JOIN nn),
       $iterCtes
       SELECT r.node AS doc_id, d.out_deg AS degree, round(r.rank, 6) AS pagerank
       FROM r$iters r JOIN deg d ON r.node = d.src"""
  }

  /** The count-to-fixpoint loop of [[kcore]], [[bfsHops]] and
    * [[closeness]]: from the pinned `start`, each round pins
    * `step(current)` and counts it — the round's one job — and stops
    * when a successor's row count equals its predecessor's (for these
    * monotone steps the fixpoint) or after `maxRounds` rounds. The
    * superseded iterate and the successor that matched its count are
    * freed. Returns the last iterate and whether it converged; each
    * caller fails closed on its own terms.
    */
  private def countToFixpoint(start: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    var cur = start
    var size = cur.count()
    var converged = size == 0
    var round = 0
    while (!converged && round < maxRounds) {
      val next = Reuse.pin(step(cur))
      val n = next.count()
      if (n == size) { Reuse.free(next); converged = true }
      else { Reuse.free(cur); cur = next; size = n }
      round += 1
    }
    (cur, converged)
  }

  /** k-core decomposition (fixed k): iteratively peel nodes of degree
    * < k until the subgraph stabilises; emit the surviving nodes with
    * their in-core degree. The density filter behind community mining
    * and spam-cluster extraction — satellites fall away round by round,
    * leaving the cohesive near-duplicate cores.
    *
    * Scale: the same O(log n)-round shape as
    * [[graft.operators.ConnectedComponents]] — each round is ONE job
    * (the weak-node set is derived inside the prune DAG from the
    * persisted edge table; convergence is read off the pruned edge
    * COUNT, a driver scalar), two keyed anti-joins per round, edge
    * table persisted and replaced per round. Peeling is monotone, so
    * `maxRounds` bounds the loop; a converged round is a no-op for
    * both engines, which is what makes the unrolled oracle exact.
    */
  def kcore(
      s: SparkSession,
      dir: String,
      k: Int = 3,
      minCommon: Int = 12,
      maxRounds: Int = 12): DataFrame = {
    // weak derives from the pinned edge table inside the prune DAG
    val (edges, converged) =
      countToFixpoint(symmetricEdges(s, dir, minCommon), maxRounds) { edges =>
        val weak = edges
          .groupBy(col("src"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") < k)
          .select(col("src").as("weak"))
        edges
          .join(weak, col("src") === col("weak"), "left_anti")
          .join(weak.withColumnRenamed("weak", "weak2"), col("dst") === col("weak2"), "left_anti")
      }
    // fail closed like ConnectedComponents: peeling can cascade up to
    // O(n) rounds on chain-shaped graphs — returning the partially
    // peeled graph would silently include sub-k nodes, and the
    // statically unrolled oracle could never catch it
    require(converged,
      s"k-core peel did not converge in $maxRounds rounds — raise maxRounds " +
        "(and regenerate the unrolled oracle) for this graph")
    edges
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Exact DuckDB oracle for [[kcore]]: the peel unrolled `maxRounds`
    * times (the [[labelPropagationSql]] pattern) — peeling is monotone
    * and both engines stop changing at the same fixpoint, so extra
    * rounds are identity.
    */
  def kcoreSql(k: Int = 3, minCommon: Int = 12, maxRounds: Int = 12): String = {
    // each round references its predecessor three times — MATERIALIZED
    // stops the planner from inlining the chain into 3^rounds scans
    val peels = (1 to maxRounds)
      .map { i =>
        val prev = s"e${i - 1}"
        s"""e$i AS MATERIALIZED (
           SELECT src, dst FROM $prev
           WHERE src NOT IN (SELECT src FROM $prev GROUP BY src HAVING count(*) < $k)
             AND dst NOT IN (SELECT src FROM $prev GROUP BY src HAVING count(*) < $k))"""
      }
      .mkString(",\n       ")
    s"""WITH ${graphCtesSql(minCommon)},
       e0 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
       $peels
       SELECT src AS doc_id, count(*) AS core_degree
       FROM e$maxRounds GROUP BY 1"""
  }

  /** Community modularity — the quality score for
    * [[labelPropagation]]'s partition: per community c,
    * Q_c = L_c/M − (D_c/2M)² (intra-edge share minus the expected
    * share under the configuration model). Everything stays integer
    * until the one division per row: M and D_c come from the symmetric
    * edge list, L_c from an edges⋈labels⋈labels same-community count —
    * per-community rows are independent, so there is NO global fold to
    * order. The partition-wide Q is the sum of the contributions
    * (spec-checked against the [−0.5, 1] bound).
    */
  def modularity(
      s: SparkSession,
      dir: String,
      iters: Int = 4,
      minCommon: Int = 12): DataFrame = {
    val edges = symmetricEdges(s, dir, minCommon)
    // ride the SAME persisted edge table for the label derivation — the
    // pre-r16 shape built a second identical edge cache inside
    // labelPropagation() and materialized the words self-join twice
    val labels = Reuse.pin(
      labelPropagationFrom(edges, iters)
        .select(col("node"), col("label").as("community")))
    val m2 = edges.agg(count(lit(1)).as("m2")) // = 2M (symmetric list)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val dsum = deg
      .join(labels, col("src") === col("node"))
      .groupBy(col("community"))
      .agg(sum(col("deg")).as("dsum"), count(lit(1)).as("n_members"))
    val intra = edges
      .join(labels.select(col("node").as("src"), col("community").as("ca")), "src")
      .join(labels.select(col("node").as("dst"), col("community").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra2")) // directed count = 2·L_c
    dsum
      .join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select(
        col("community"),
        col("n_members"),
        expr("coalesce(intra2, 0L) div 2").as("intra_edges"),
        col("dsum").as("degree_sum"),
        round(
          coalesce(col("intra2"), lit(0L)).cast("double") / col("m2").cast("double") -
            (col("dsum").cast("double") / col("m2").cast("double")) *
              (col("dsum").cast("double") / col("m2").cast("double")),
          9).as("q_contribution"))
  }

  def modularitySql(iters: Int = 4, minCommon: Int = 12): String =
    s"""WITH ${labelPropCtes(iters, minCommon)},
       lab AS (SELECT node, label AS community FROM l$iters),
       m2 AS (SELECT count(*) AS m2 FROM edges),
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       dsum AS (
         SELECT community, CAST(sum(deg) AS BIGINT) AS dsum,
                count(*) AS n_members
         FROM deg JOIN lab ON src = node GROUP BY 1),
       intra AS (
         SELECT a.community, count(*) AS intra2
         FROM edges e
         JOIN lab a ON e.src = a.node
         JOIN lab b ON e.dst = b.node
         WHERE a.community = b.community
         GROUP BY 1)
       SELECT d.community, d.n_members,
              CAST(coalesce(i.intra2, 0) // 2 AS BIGINT) AS intra_edges,
              d.dsum AS degree_sum,
              round(CAST(coalesce(i.intra2, 0) AS DOUBLE) / CAST(m2 AS DOUBLE)
                    - (CAST(d.dsum AS DOUBLE) / CAST(m2 AS DOUBLE))
                      * (CAST(d.dsum AS DOUBLE) / CAST(m2 AS DOUBLE)), 9)
                AS q_contribution
       FROM dsum d LEFT JOIN intra i USING (community), m2"""

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over the (symmetric) edge list: do hubs attach to hubs? All moment
    * sums are exact integers (degrees × edges); the three divisions
    * happen once on the one-row aggregate with the identical tree both
    * engines.
    */
  def assortativity(s: SparkSession, dir: String, minCommon: Int = 12): DataFrame = {
    val edges = symmetricEdges(s, dir, minCommon)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val pairs = edges
      .join(deg.select(col("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")),
        Seq("dst"))
    pairs
      .agg(
        count(lit(1)).as("m2"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"))
      .select(
        col("m2"),
        round(
          (col("sxy").cast("double") / col("m2").cast("double") -
            (col("sx").cast("double") / col("m2").cast("double")) *
              (col("sx").cast("double") / col("m2").cast("double"))) /
            (col("sxx").cast("double") / col("m2").cast("double") -
              (col("sx").cast("double") / col("m2").cast("double")) *
                (col("sx").cast("double") / col("m2").cast("double"))),
          6).as("assortativity"))
  }

  def assortativitySql(minCommon: Int = 12): String =
    s"""WITH ${graphCtesSql(minCommon)},
       $edgesCteSql,
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       p AS (
         SELECT dx.deg AS x, dy.deg AS y
         FROM edges e
         JOIN deg dx ON e.src = dx.src
         JOIN deg dy ON e.dst = dy.src),
       sums AS (
         SELECT count(*) AS m2,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(x * x) AS BIGINT) AS sxx
         FROM p)
       SELECT m2,
              round((CAST(sxy AS DOUBLE) / CAST(m2 AS DOUBLE)
                     - (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))
                       * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)))
                    / (CAST(sxx AS DOUBLE) / CAST(m2 AS DOUBLE)
                       - (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))
                         * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))), 6)
                AS assortativity
       FROM sums"""

  /** Multi-source BFS hop distance: shortest hop count from the seed
    * set (doc_id ≡ 0 mod 17) to every reachable node of the similarity
    * graph. Each round relaxes the frontier by ONE keyed join of the
    * current distance table to the persisted edge list plus a min
    * aggregate — the textbook distributed BFS (level-synchronous, no
    * per-node state on the driver; convergence is read off the
    * distance-table COUNT, a scalar, because with unit weights a
    * reached node can never improve, so set-size stability IS the
    * fixpoint). Fail-closed like [[kcore]]: if the diameter exceeds
    * `maxHops` the statically unrolled oracle could not match, so
    * require convergence instead of returning partial distances.
    */
  def bfsHops(
      s: SparkSession,
      dir: String,
      minCommon: Int = 12,
      maxHops: Int = 8): DataFrame = {
    val edges = symmetricEdges(s, dir, minCommon)
    val sources = Reuse.pin(
      edges
        .select(col("src").as("node"))
        .distinct()
        .filter(col("node") % 17 === 0)
        .withColumn("hops", lit(0L)))
    val (dist, converged) = countToFixpoint(sources, maxHops) { dist =>
      dist
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("hops") + 1).as("hops"))
        .unionByName(dist.select(col("node"), col("hops")))
        .groupBy(col("node"))
        .agg(min(col("hops")).as("hops"))
    }
    Reuse.free(edges)
    require(converged,
      s"BFS frontier still growing after $maxHops hops — raise maxHops " +
        "(and regenerate the unrolled oracle) for this graph")
    dist.select(col("node").as("doc_id"), col("hops"))
  }

  /** Exact oracle for [[bfsHops]]: the relaxation unrolled `maxHops`
    * times — extra rounds past the fixpoint are identity, so both
    * engines agree as long as the Spark side converged (which it
    * fail-closes on).
    */
  def bfsHopsSql(minCommon: Int = 12, maxHops: Int = 8): String = {
    val rounds = (1 to maxHops)
      .map { i =>
        s"""d$i AS MATERIALIZED (
           SELECT node, min(hops) AS hops FROM (
             SELECT e.dst AS node, d.hops + 1 AS hops
             FROM d${i - 1} d JOIN edges e ON d.node = e.src
             UNION ALL
             SELECT node, hops FROM d${i - 1})
           GROUP BY 1)"""
      }
      .mkString(",\n       ")
    s"""WITH ${graphCtesSql(minCommon)},
       $edgesCteSql,
       d0 AS (SELECT DISTINCT src AS node, 0 AS hops FROM edges
              WHERE src % 17 = 0),
       $rounds
       SELECT node AS doc_id, CAST(hops AS BIGINT) AS hops FROM d$maxHops"""
  }

  // --------------------------------------------------------------------
  // q_betweenness — sampled-source Brandes betweenness centrality
  // --------------------------------------------------------------------

  /** Brandes betweenness from K = 4 deterministic sample sources (the 4
    * smallest node ids) over the similarity graph — the brokerage
    * centrality completing the family ([[pagerank]] = prestige,
    * [[graft.queries.RobustQueries2.hits]] = hub/authority): a
    * high-betweenness document sits on the shortest paths BETWEEN
    * near-duplicate neighborhoods.
    *
    * Two level-synchronous phases, both exact:
    *  - forward: BFS levels with path COUNTS σ (integer sums over
    *    level-(d−1) predecessors), fail-closed on the `maxHops` budget
    *    like [[bfsHops]];
    *  - backward (Brandes accumulation), levels L→1:
    *    δ(v) = Σ_{w: d(w)=d(v)+1} (σᵥ/σ_w)(1+δ_w) with value-ordered
    *    folds — each node's δ is SET exactly once, after all its
    *    successors are final.
    * bc(v) = Σ_s δ_s(v) over the sources (v ≠ s, ≤4-term ordered fold).
    *
    * Scale: per-round joins are edge-keyed, state is
    * (sources × nodes)-bounded, rounds = graph diameter. Sampled-source
    * Brandes is the standard graph-scale approximation (Bader et al.) —
    * exact per source, sampled over sources.
    */
  def betweenness(
      s: SparkSession,
      dir: String,
      minCommon: Int = 12,
      maxHops: Int = 8,
      nSources: Int = 4): DataFrame = {
    val foldSum = (c: org.apache.spark.sql.Column) =>
      aggregate(array_sort(collect_list(c)), lit(0.0), (acc, x) => acc + x)
    // q6 domain (Quantize): Brandes dependency per source is < n, so the
    // sampled score is < nSources·n — the BIGINT floor clamps only past
    // n ≈ 9.2e12/nSources ≈ 2.3e12 graph nodes, far beyond any corpus
    // this query's O(nSources·hops) BFS would be pointed at
    val edges = symmetricEdges(s, dir, minCommon)
    val nodes = Reuse.pin(edges.select(col("src").as("node")).distinct())
    val sources = nodes.orderBy(col("node")).limit(nSources).select(col("node").as("s"))
    var fw = Reuse.cut(
      sources
        .select(col("s"), col("s").as("node"), lit(0L).as("d"), lit(1L).as("sigma")))
    var size = fw.count()
    var converged = false
    var round = 0
    while (!converged && round < maxHops) {
      val frontier = fw
        .filter(col("d") === round)
        .select(col("s"), col("node"), col("sigma"))
      val cand = frontier
        .join(edges, col("node") === col("src"))
        .groupBy(col("s"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("dst").as("node"), col("sigma"))
      val newv = cand
        .join(
          fw.select(col("s").as("s2"), col("node").as("n2")),
          col("s") === col("s2") && col("node") === col("n2"),
          "left_anti")
        .select(col("s"), col("node"), lit(round + 1L).as("d"), col("sigma"))
      // localCheckpoint (not persist): the loop references its own
      // output multiple times per round, so a lineage-only cache makes
      // Catalyst re-analysis grow 3^rounds (the ConnectedComponents
      // lesson — heap-death at round ~8)
      val next = Reuse.cut(fw.unionByName(newv))
      val n = next.count()
      if (n == size) { Reuse.free(next); converged = true }
      else { Reuse.free(fw); fw = next; size = n }
      round += 1
    }
    require(converged,
      s"Brandes frontier still growing after $maxHops hops — raise maxHops " +
        "(and regenerate the unrolled oracle) for this graph")
    var bwd = Reuse.cut(fw.withColumn("dl", lit(0.0)))
    Reuse.free(fw)
    // Start the accumulation at the CONVERGED depth, not the maxHops
    // budget: after the forward loop, max d = round − 1 (the final round
    // added nothing), so every level above it has an empty successor set
    // and its pass is the identity (term is empty; the only rows it
    // rewrites, d = lev − 1, get coalesce(null, 0.0) = their initial dl).
    // Each identity level still paid a full join + localCheckpoint job —
    // measured r16 (sf0.1): the demo graph converges at depth 2, so 6 of
    // 8 backward levels were pure fixed cost (q_betweenness ~6.0 s →
    // ~2.6 s, the family's largest wall). The unrolled oracle keeps all
    // maxHops levels — extra rounds past the fixpoint are identity there
    // too, so results agree bit-for-bit (re-verified at sf0.01 + sf0.1).
    var lev = round - 1
    while (lev >= 1) {
      val succ = bwd
        .filter(col("d") === lev)
        .select(
          col("s").as("s_w"),
          col("node").as("w"),
          col("sigma").as("sigma_w"),
          col("dl").as("dl_w"))
      val vlev = bwd
        .filter(col("d") === lev - 1)
        .select(col("s").as("s_v"), col("node").as("v"), col("sigma").as("sigma_v"))
      val term = vlev
        .join(edges, col("v") === col("src"))
        .join(succ, col("s_v") === col("s_w") && col("dst") === col("w"))
        .groupBy(col("s_v"), col("v"))
        .agg(foldSum(
          (col("sigma_v").cast("double") / col("sigma_w").cast("double")) *
            (lit(1.0) + col("dl_w"))).as("term"))
        .select(col("s_v").as("s3"), col("v").as("n3"), col("term"))
      val next = Reuse.cut(
        bwd
          .join(term, col("s") === col("s3") && col("node") === col("n3"), "left")
          .select(
            col("s"),
            col("node"),
            col("d"),
            col("sigma"),
            when(col("d") === lev - 1, coalesce(col("term"), lit(0.0)))
              .otherwise(col("dl"))
              .as("dl")))
      Reuse.free(bwd)
      bwd = next
      lev -= 1
    }
    val bc = bwd
      .filter(col("node") =!= col("s"))
      .groupBy(col("node"))
      .agg(foldSum(col("dl")).as("bc"))
    val out = nodes
      .join(bc, Seq("node"), "left")
      .select(col("node").as("doc_id"), q6(coalesce(col("bc"), lit(0.0))).as("betweenness"))
    val rows = Reuse.cut(out)
    Reuse.free(bwd)
    Reuse.free(nodes)
    Reuse.free(edges)
    rows
  }

  /** Exact oracle for [[betweenness]]: both phases unrolled `maxHops`
    * times (extra rounds past the fixpoint are identity), every CTE
    * MATERIALIZED so DuckDB plans each round once.
    */
  def betweennessSql(minCommon: Int = 12, maxHops: Int = 8, nSources: Int = 4): String = {
    val fwd = (1 to maxHops)
      .map { l =>
        s"""f$l AS MATERIALIZED (
           SELECT * FROM f${l - 1}
           UNION ALL
           SELECT c.s, c.node, $l AS d, c.sigma FROM (
             SELECT f.s, e.dst AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
             FROM f${l - 1} f JOIN edges e ON f.node = e.src
             WHERE f.d = ${l - 1}
             GROUP BY 1, 2) c
           WHERE NOT EXISTS (SELECT 1 FROM f${l - 1} x
                             WHERE x.s = c.s AND x.node = c.node))"""
      }
      .mkString(",\n       ")
    val bwd = (1 to maxHops)
      .map { k =>
        val lev = maxHops - k + 1 // b$k sets δ for nodes at level lev-1
        s"""b$k AS MATERIALIZED (
           SELECT p.s, p.node, p.d, p.sigma,
                  CASE WHEN p.d = ${lev - 1} THEN coalesce(t.term, 0.0)
                       ELSE p.dl END AS dl
           FROM b${k - 1} p LEFT JOIN (
             SELECT v.s, v.node,
                    list_reduce(list_sort(list(
                      (CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
                        * (1.0 + w.dl))),
                      (x, y) -> x + y) AS term
             FROM b${k - 1} v
             JOIN edges e ON v.node = e.src
             JOIN b${k - 1} w ON w.s = v.s AND w.node = e.dst AND w.d = v.d + 1
             WHERE v.d = ${lev - 1} AND w.d = $lev
             GROUP BY 1, 2) t ON p.s = t.s AND p.node = t.node)"""
      }
      .mkString(",\n       ")
    s"""WITH ${graphCtesSql(minCommon)},
       $edgesCteSql,
       nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       srcs AS (SELECT node AS s FROM nodes ORDER BY node LIMIT $nSources),
       f0 AS MATERIALIZED (SELECT s, s AS node, 0 AS d, CAST(1 AS BIGINT) AS sigma
                           FROM srcs),
       $fwd,
       b0 AS MATERIALIZED (SELECT s, node, d, sigma, CAST(0.0 AS DOUBLE) AS dl
                           FROM f$maxHops),
       $bwd
       SELECT n.node AS doc_id,
              floor(coalesce(bc.v, 0.0) * 1e6 + 0.5) / 1e6 AS betweenness
       FROM nodes n LEFT JOIN (
         SELECT node, list_reduce(list_sort(list(dl)), (x, y) -> x + y) AS v
         FROM b$maxHops WHERE node <> s GROUP BY 1) bc ON n.node = bc.node"""
  }

  // ------------------------------------------------------------------
  // q_closeness — sampled harmonic closeness centrality
  // ------------------------------------------------------------------

  /** Harmonic closeness centrality H(v) = Σ_s 1/d(s,v) from the
    * deterministic source sample (node ≡ 0 mod 5) over the similarity
    * graph — the "how near is this document to everything" centrality
    * completing the family (pagerank = prestige, betweenness =
    * brokerage, closeness = reach); harmonic rather than classic
    * closeness so disconnected pairs contribute 0 instead of poisoning
    * the mean. Sampled sources are the standard graph-scale
    * approximation (exact per source, sampled over sources — the
    * [[betweenness]] discipline).
    *
    * Exactness: hop distances are integers (multi-source
    * level-synchronous BFS, fail-closed on the hop budget like
    * [[bfsHops]]); the 1/d sum per node is a value-ordered ≤|sources|-
    * term fold.
    */
  def closeness(
      s: SparkSession,
      dir: String,
      minCommon: Int = 12,
      maxHops: Int = 8): DataFrame = {
    val edges = symmetricEdges(s, dir, minCommon)
    val sources = Reuse.pin(
      edges
        .select(col("src").as("node"))
        .distinct()
        .filter(col("node") % 5 === 0)
        .select(col("node").as("s"), col("node"), lit(0L).as("hops")))
    val (dist, converged) = countToFixpoint(sources, maxHops) { dist =>
      dist
        .join(edges, col("node") === col("src"))
        .select(col("s"), col("dst").as("node"), (col("hops") + 1).as("hops"))
        .unionByName(dist.select(col("s"), col("node"), col("hops")))
        .groupBy(col("s"), col("node"))
        .agg(min(col("hops")).as("hops"))
    }
    Reuse.free(edges)
    require(converged,
      s"closeness BFS still growing after $maxHops hops — raise maxHops " +
        "(and regenerate the unrolled oracle) for this graph")
    // localCheckpoint the aggregate then release `dist` — returning a
    // plan over the still-persisted iterate would leak one executor
    // cache entry per invocation (the betweenness pattern)
    val out = Reuse.cut(
      dist
        .filter(col("hops") > 0)
        .groupBy(col("node"))
        .agg(
          count(lit(1)).as("n_sources"),
          aggregate(
            array_sort(collect_list(lit(1.0) / col("hops").cast("double"))),
            lit(0.0),
            (acc, x) => acc + x).as("h"))
        .select(
          col("node").as("doc_id"),
          col("n_sources"),
          q6(col("h")) as "harmonic"))
    Reuse.free(dist)
    out
  }

  def closenessSql(minCommon: Int = 12, maxHops: Int = 8): String = {
    val rounds = (1 to maxHops)
      .map { i =>
        s"""c$i AS MATERIALIZED (
           SELECT s, node, min(hops) AS hops FROM (
             SELECT d.s, e.dst AS node, d.hops + 1 AS hops
             FROM c${i - 1} d JOIN edges e ON d.node = e.src
             UNION ALL
             SELECT s, node, hops FROM c${i - 1})
           GROUP BY 1, 2)"""
      }
      .mkString(",\n       ")
    s"""WITH ${graphCtesSql(minCommon)},
       $edgesCteSql,
       c0 AS (SELECT DISTINCT src AS s, src AS node, 0 AS hops FROM edges
              WHERE src % 5 = 0),
       $rounds
       SELECT node AS doc_id, count(*) AS n_sources,
              floor(list_reduce(list_sort(list(1.0 / CAST(hops AS DOUBLE))),
                    (a, b) -> a + b) * 1e6 + 0.5) / 1e6 AS harmonic
       FROM c$maxHops WHERE hops > 0 GROUP BY 1"""
  }

  // ------------------------------------------------------------------
  // q_ktruss — k-truss decomposition of the similarity graph
  // ------------------------------------------------------------------

  /** 4-truss of the similarity graph (Cohen 2008): iteratively remove
    * every edge supported by fewer than k−2 = 2 triangles until a fixed
    * point — the cohesive-subgraph extractor that keeps only edges
    * embedded in dense near-duplicate communities (stricter than
    * components, cheaper than cliques). Both engines unroll the same
    * `rounds` prune rounds; extra rounds past convergence are no-ops,
    * so the unroll count only needs to be ≥ the convergence depth, not
    * equal to it.
    *
    * Scale: per round, one wedge join + closing-edge join (the
    * [[triangleCount]] shape, canonically oriented) and one edge-keyed
    * support aggregate. The edge iterate is consumed four times per
    * round (three triangle legs + the prune join), so each round is
    * `localCheckpoint`ed — the CONSUMED-twice rule measured on q_hits.
    */
  def ktruss(
      s: SparkSession,
      dir: String,
      k: Int = 4,
      rounds: Int = 4,
      minCommon: Int = 12): DataFrame = {
    def support(e: DataFrame): DataFrame = {
      val tri = e
        .as("e1")
        .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
        .join(
          e.as("e3"),
          col("e3.doc_a") === col("e1.doc_a") && col("e3.doc_b") === col("e2.doc_b"))
        .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"), col("e2.doc_b").as("c"))
      tri
        .select(col("a").as("doc_a"), col("b").as("doc_b"))
        .unionByName(tri.select(col("b").as("doc_a"), col("c").as("doc_b")))
        .unionByName(tri.select(col("a").as("doc_a"), col("c").as("doc_b")))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("sup"))
    }
    var e = Reuse.cut(
      similarityPairs(s, dir, minCommon)
        .select(col("doc_a"), col("doc_b")))
    for (_ <- 1 to rounds) {
      val prev = e
      e = Reuse.cut(
        e
          .join(support(e), Seq("doc_a", "doc_b"))
          .filter(col("sup") >= k - 2)
          .select(col("doc_a"), col("doc_b")))
      Reuse.free(prev)
    }
    e.join(support(e), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), coalesce(col("sup"), lit(0L)).as("support"))
  }

  def ktrussSql(k: Int = 4, rounds: Int = 4, minCommon: Int = 12): String = {
    def roundCtes(r: Int, src: String): String =
      s"""t$r AS MATERIALIZED (
           SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
           FROM $src e1
           JOIN $src e2 ON e1.doc_b = e2.doc_a
           JOIN $src e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         s$r AS MATERIALIZED (
           SELECT doc_a, doc_b, count(*) AS sup FROM (
             SELECT a AS doc_a, b AS doc_b FROM t$r
             UNION ALL SELECT b, c FROM t$r
             UNION ALL SELECT a, c FROM t$r) GROUP BY 1, 2),
         e$r AS MATERIALIZED (
           SELECT e.doc_a, e.doc_b
           FROM $src e JOIN s$r s USING (doc_a, doc_b)
           WHERE s.sup >= ${k - 2})"""
    val body = (1 to rounds).map(r => roundCtes(r, s"e${r - 1}")).mkString(",\n       ")
    s"""WITH ${graphCtesSql(minCommon)},
       e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
       $body,
       tf AS MATERIALIZED (
         SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         FROM e$rounds e1
         JOIN e$rounds e2 ON e1.doc_b = e2.doc_a
         JOIN e$rounds e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       sf AS MATERIALIZED (
         SELECT doc_a, doc_b, count(*) AS sup FROM (
           SELECT a AS doc_a, b AS doc_b FROM tf
           UNION ALL SELECT b, c FROM tf
           UNION ALL SELECT a, c FROM tf) GROUP BY 1, 2)
       SELECT e.doc_a, e.doc_b, CAST(COALESCE(s.sup, 0) AS BIGINT) AS support
       FROM e$rounds e LEFT JOIN sf s USING (doc_a, doc_b)"""
  }
}
