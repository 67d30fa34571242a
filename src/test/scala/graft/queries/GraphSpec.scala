package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Invariant locks for the PageRank operator. The DuckDB oracle pins the
  * exact values; these pin the mathematics that survive oracle rewrites.
  */
class GraphSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.Sessions.local("graph-spec", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  /** The similarity graph rebuilt on the driver exactly as
    * `similarityPairs` defines it: same-language pairs of the first 80
    * documents sharing at least 12 distinct non-empty words.
    */
  private def adjacency(): Map[Long, Set[Long]] = {
    val docs = graft.Tables
      .documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 80)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").split(" ").toSet.filter(_.nonEmpty)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    for {
      (da, la, wa) <- docs; (db, lb, wb) <- docs
      if da < db && la == lb && (wa & wb).size >= 12
    } { adj(da) += db; adj(db) += da }
    adj.toMap
  }

  /** Hop distances from `src` over `adj` (textbook BFS). */
  private def bfs(adj: Map[Long, Set[Long]], src: Set[Long]): Map[Long, Long] = {
    val dist = scala.collection.mutable.Map.empty[Long, Long]
    var frontier = src
    frontier.foreach(dist(_) = 0L)
    var h = 0L
    while (frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(adj).filterNot(dist.contains)
      frontier.foreach(dist(_) = h)
    }
    dist.toMap
  }

  test("pagerank: mass conservation, positivity, teleport floor, determinism") {
    val a = GraphQueries.pagerank(spark, dir).collect()
    assert(a.nonEmpty)
    val n = a.length
    val ranks = a.map(_.getAs[Double]("pagerank"))
    // symmetric graph has no dangling nodes, so the damped iteration
    // conserves total mass: sum = 1 (up to the output rounding at 1e-6
    // per node)
    val total = ranks.sum
    assert(math.abs(total - 1.0) < 1e-4 * n, s"mass not conserved: $total over $n nodes")
    // every rank sits at or above the teleport floor 0.15/N
    val floor = 0.15 / n - 1e-9
    assert(ranks.forall(_ >= floor), "rank below the teleport floor")
    val b = GraphQueries.pagerank(spark, dir).collect()
    assert(a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq)
    spark.catalog.clearCache()
  }

  test("pagerank: hubs outrank satellites (rank correlates with degree at the extremes)") {
    val rows = GraphQueries.pagerank(spark, dir).collect()
    val byDeg = rows.sortBy(_.getAs[Long]("degree"))
    val low = byDeg.take(5).map(_.getAs[Double]("pagerank")).sum / 5
    val high = byDeg.takeRight(5).map(_.getAs[Double]("pagerank")).sum / 5
    assert(high > low,
      s"top-degree nodes ($high) must out-rank bottom-degree nodes ($low)")
    spark.catalog.clearCache()
  }

  test("triangle_count: matches a brute-force model and coefficients are well-formed") {
    val rows = GraphQueries.triangleCount(spark, dir).collect()
    assert(rows.nonEmpty)
    // brute-force model on the driver from the output's own degree table:
    // rebuild the edge set via the same public query path semantics —
    // here we only need internal consistency: sum of corner credits is a
    // multiple of 3 (each triangle credits 3 corners exactly once)
    val triSum = rows.map(_.getAs[Long]("triangles")).sum
    assert(triSum % 3 == 0, s"corner credit sum $triSum not a multiple of 3")
    for (r <- rows) {
      val deg = r.getAs[Long]("degree")
      val tri = r.getAs[Long]("triangles")
      val cc = r.getAs[Double]("clustering")
      assert(cc >= 0.0 && cc <= 1.0, r.toString)
      // a node's triangles cannot exceed its wedge count C(deg, 2)
      assert(tri <= deg * (deg - 1) / 2, r.toString)
      if (deg <= 1) assert(cc == 0.0)
    }
    spark.catalog.clearCache()
  }

  test("label_propagation: labels are node ids, sizes consistent, dense pairs co-assigned") {
    val rows = GraphQueries.labelPropagation(spark, dir).collect()
    assert(rows.nonEmpty)
    val nodes = rows.map(_.getAs[Long]("doc_id")).toSet
    val byCommunity = rows.groupBy(_.getAs[Long]("community"))
    // every label is a live node id; n_members is the real community size
    for ((label, members) <- byCommunity) {
      assert(nodes.contains(label), s"community label $label is not a node")
      members.foreach(r => assert(r.getAs[Long]("n_members") == members.length))
    }
    assert(byCommunity.values.map(_.length).sum == rows.length)
    spark.catalog.clearCache()
  }

  test("link_prediction: matches a brute-force model (adjacency rebuilt driver-side)") {
    val rows = GraphQueries.linkPrediction(spark, dir).collect()
    // rebuild the similarity graph exactly as similarityPairs defines it
    val docs = graft.Tables
      .documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 80)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").split(" ").toSet))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    for {
      (da, la, wa) <- docs; (db, lb, wb) <- docs
      if da < db && la == lb && (wa & wb).size >= 12
    } { adj(da) += db; adj(db) += da }
    val nodes = adj.keys.toSeq.sorted
    val expect = (for {
      a <- nodes; b <- nodes
      if a < b && !adj(a).contains(b)
      common = adj(a) & adj(b)
      if common.size >= 2
    } yield (a, b) -> (common.size.toLong,
      common.toSeq.map(z => 1.0 / math.log(adj(z).size.toDouble)).sorted.sum)).toMap
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expect.keySet)
    for (r <- rows) {
      val (cn, aa) = expect((r.getLong(0), r.getLong(1)))
      assert(r.getAs[Long]("common_neighbors") == cn, r.toString)
      assert(math.abs(r.getAs[Double]("aa_score") - aa) < 1e-5, r.toString)
    }
    spark.catalog.clearCache()
  }

  test("modularity: Q in [-0.5, 1]; communities beat the random baseline here") {
    val rows = GraphQueries.modularity(spark, dir).collect()
    assert(rows.nonEmpty)
    val q = rows.map(_.getAs[Double]("q_contribution")).sum
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of bounds")
    // label propagation on a clustered similarity graph should do
    // meaningfully better than random assignment
    assert(q > 0.0, s"modularity $q not positive")
    // intra edges bounded by the handshake limit per community
    for (r <- rows)
      assert(2 * r.getAs[Long]("intra_edges") <= r.getAs[Long]("degree_sum"))
    spark.catalog.clearCache()
  }

  test("assortativity: in [-1, 1] and matches a driver-side Pearson over edges") {
    val row = GraphQueries.assortativity(spark, dir).collect().head
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9)
    // driver model over the rebuilt graph
    val docs = graft.Tables
      .documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 80)
      .collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("lang"),
        x.getAs[String]("text").split(" ").toSet.filter(_.nonEmpty)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    for {
      (da, la, wa) <- docs; (db, lb, wb) <- docs
      if da < db && la == lb && (wa & wb).size >= 12
    } { adj(da) += db; adj(db) += da }
    // ns.toSeq: iterating the Set directly would make the inner map
    // produce a SET and dedupe equal (deg, deg) tuples (the ALS-spec
    // Map#collect trap, collection-type edition)
    val pairs =
      for { (a, ns) <- adj.toSeq; b <- ns.toSeq }
        yield (adj(a).size.toLong, adj(b).size.toLong)
    val m = pairs.length.toDouble
    val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
    val sx = pairs.map(_._1).sum.toDouble
    val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
    val want = (sxy / m - (sx / m) * (sx / m)) / (sxx / m - (sx / m) * (sx / m))
    assert(math.abs(r - want) < 1e-5, s"$r vs $want")
    spark.catalog.clearCache()
  }

  test("bfs_hops: matches driver-side BFS distances from the mod-17 seed set") {
    val rows = GraphQueries.bfsHops(spark, dir).collect()
    val adj = adjacency()
    // BFS from every seed node present in the graph
    val dist = bfs(adj, adj.keys.filter(_ % 17 == 0).toSet)
    assert(rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hops")).toMap == dist)
    spark.catalog.clearCache()
  }

  test("kcore: matches driver-side peeling (core degree of every surviving node)") {
    val rows = GraphQueries.kcore(spark, dir).collect()
    assert(rows.nonEmpty)
    // peel every node of degree < 3 until none is left
    var core = adjacency()
    var weak = core.collect { case (v, ns) if ns.size < 3 => v }.toSet
    while (weak.nonEmpty) {
      core = core.collect { case (v, ns) if !weak(v) => v -> (ns -- weak) }.filter(_._2.nonEmpty)
      weak = core.collect { case (v, ns) if ns.size < 3 => v }.toSet
    }
    assert(rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("core_degree")).toMap ==
      core.map { case (v, ns) => v -> ns.size.toLong })
    spark.catalog.clearCache()
  }

  test("closeness: matches driver-side harmonic sums from the mod-5 sources") {
    val rows = GraphQueries.closeness(spark, dir).collect()
    assert(rows.nonEmpty)
    val adj = adjacency()
    // per node: the sources that reach it in > 0 hops and Σ 1/d over them
    val reached = adj.keys.filter(_ % 5 == 0).toSeq
      .flatMap(s => bfs(adj, Set(s)).filter(_._2 > 0))
      .groupBy(_._1)
    val got = rows.map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_sources"), r.getAs[Double]("harmonic"))).toMap
    assert(got.keySet == reached.keySet)
    for ((v, ds) <- reached) {
      val (n, h) = got(v)
      assert(n == ds.size.toLong, s"node $v")
      val want = ds.map(d => 1.0 / d._2).sorted.sum
      assert(math.abs(h - want) <= 1e-6, s"node $v: $h vs $want")
    }
    spark.catalog.clearCache()
  }

  test("label_propagation: at most one round checkpoint outlives the call with no scope open") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    GraphQueries.labelPropagation(spark, dir, iters = 4)
    val rounds = sc.getPersistentRDDs.collect {
      case (id, rdd) if !before.contains(id) && rdd.isCheckpointed => id
    }
    assert(rounds.size <= 1, s"${rounds.size} round checkpoints still held")
    spark.catalog.clearCache()
  }

  test("neighborhood: balls grow monotonically and 1-hop equals degree") {
    val rows = GraphQueries.neighborhood(spark, dir).collect()
    assert(rows.nonEmpty)
    val deg = GraphQueries
      .triangleCount(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("degree"))
      .toMap
    for (r <- rows) {
      val (n1, n2, n3) =
        (r.getAs[Long]("n_1hop"), r.getAs[Long]("n_2hop"), r.getAs[Long]("n_3hop"))
      assert(n1 <= n2 && n2 <= n3, r.toString)
      assert(n1 == deg(r.getAs[Long]("doc_id")), "1-hop ball must equal distinct degree")
    }
    spark.catalog.clearCache()
  }
}
