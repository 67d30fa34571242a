package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Direct lock for the component operator on adversarial graph shapes —
  * the dedup-cluster oracle only sees the near-dup graph the corpus
  * happens to produce; these fixtures pin the shapes that break naive
  * implementations (chains for round counts, multiple components for
  * label leakage, the convergence guard for silent truncation).
  *
  * The operator has three paths since r13 — level-0 contraction +
  * single-task finish (the default), contraction + Shiloach–Vishkin
  * loop (forest past the budget), and the pure loop (budget 0) — so
  * every fixture here runs under ALL three budgets and must agree.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** budget > input size → local finish; budget 1 → contraction feeds
    * the loop; budget 0 → the pure legacy loop on the raw edges.
    */
  private val Budgets = Seq(1000000L, 1L, 0L)

  private def withBudget[A](budget: Long)(body: => A): A = {
    spark.conf.set(ConnectedComponents.LocalFinishConfKey, budget.toString)
    try body
    finally spark.conf.unset(ConnectedComponents.LocalFinishConfKey)
  }

  private def comps(
      edges: Seq[(Long, Long)],
      maxIters: Int = 25,
      budget: Long = 1000000L): Map[Long, Long] = {
    import spark.implicits._
    withBudget(budget) {
      ConnectedComponents
        .components(edges.toDF("src", "dst"), maxIters)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
    }
  }

  test("a malformed local-finish budget fails closed naming the key") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    for (bad <- Seq("4e6", "-1")) {
      spark.conf.set(ConnectedComponents.LocalFinishConfKey, bad)
      try {
        val err = intercept[IllegalArgumentException](ConnectedComponents.components(edges))
        assert(err.getMessage.contains(ConnectedComponents.LocalFinishConfKey), err.getMessage)
      } finally spark.conf.unset(ConnectedComponents.LocalFinishConfKey)
    }
  }

  test("two cliques and a bridge-less pair: labels never leak across components") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // clique {1,2,3}
      (10L, 11L), (11L, 12L), // path {10,11,12}
      (20L, 21L)) // pair {20,21}
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    Budgets.foreach(b => assert(comps(edges, budget = b) === expected, s"budget=$b"))
  }

  test("chain graph: pointer jumping converges in O(log n) rounds, worst-case orientation") {
    // a 64-node chain rooted at the FAR end (min id last) is the
    // adversarial case for plain propagation (64 rounds); with pointer
    // jumping ~log2(64)+c rounds suffice — assert it converges well
    // under the default cap AND produces the single right component.
    // budget=0 pins the LOOP's round budget on the raw chain; the other
    // paths must of course agree.
    Budgets.foreach { b =>
      val n = 64L
      val edges = (0L until n - 1).map(i => (n - 1 - i, n - 2 - i)) // (63,62),(62,61),…
      val got = comps(edges, maxIters = 10, budget = b)
      assert(got.size === n.toInt, s"budget=$b")
      assert(got.values.toSet === Set(0L), s"budget=$b")
    }
  }

  test("non-convergence fails closed, not silently truncated (loop paths)") {
    val edges = (0L until 32L).map(i => (i, i + 1))
    // budget 0: the raw 33-vertex chain needs >1 loop round. budget 1:
    // the contracted forest still chains across the 4 edge partitions,
    // so maxIters=1 must ALSO fail closed rather than return a split
    // labeling. (The local finish is non-iterative — no cap applies.)
    Seq(0L, 1L).foreach { b =>
      val e = intercept[IllegalArgumentException](comps(edges, maxIters = 1, budget = b))
      assert(e.getMessage.contains("did not converge"), s"budget=$b")
    }
  }

  test("self-loops and duplicate edges are harmless") {
    val edges = Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L))
    Budgets.foreach(b =>
      assert(comps(edges, budget = b) === Map(5L -> 5L, 6L -> 5L), s"budget=$b"))
  }

  test("vertex id 0 (the primitive map's sentinel key) labels correctly") {
    // 0 is carried out-of-band in the open-addressed union-find — a
    // bug there would drop or mislabel exactly the minimum possible id,
    // which is also always a component's label
    val edges = Seq((0L, 7L), (7L, 3L), (9L, 0L), (20L, 21L))
    val expected = Map(0L -> 0L, 7L -> 0L, 3L -> 0L, 9L -> 0L, 20L -> 20L, 21L -> 20L)
    Budgets.foreach(b => assert(comps(edges, budget = b) === expected, s"budget=$b"))
  }

  test("id-permuted long chain: root hooking + stats reset hold the default round budget") {
    // The r10 regression pair. (1) ROUNDS: a long path whose vertex ids
    // are PERMUTED adversarially (an LCG scramble, so the min id sits
    // mid-chain and id order anti-correlates with path order) defeated
    // the old leaf-only hooking — minima crawled one hop per round and
    // the media star graph needed 40+ rounds; Shiloach–Vishkin root
    // hooking converges well inside the default 25. (2) STATS: enough
    // rounds ALSO used to hang the driver — localCheckpoint propagated
    // the plan's sizeInBytes and the pointer-jump self-join squared it
    // per round into million-bit BigIntegers (minutes per round in
    // canBroadcastBySize); the per-round stats reset keeps this test
    // finishing in seconds, not hours. budget=0 keeps the lock on the
    // raw loop; the default path must agree on the same fixture.
    val n = 2048L
    def perm(i: Long): Long = (i * 1103515245L + 12345L) % n // gcd(a, n)=1 → bijection
    val edges = (0L until n - 1).map(i => (perm(i), perm(i + 1)))
    val minId = (0L until n).map(perm).min
    Seq(1000000L, 0L).foreach { b =>
      val got = comps(edges, maxIters = 15, budget = b)
      assert(got.size === n.toInt, s"budget=$b")
      assert(got.values.toSet === Set(minId), s"budget=$b")
    }
  }

  test("seeded random graphs match a local union-find on every path") {
    // independent reference implementation: union-by-min keeps every
    // set's root at its minimum id, so find(v) IS the expected component
    val rnd = new scala.util.Random(20260812L)
    (0 until 5).foreach { trial =>
      val n = 60 + rnd.nextInt(60)
      val m = 20 + rnd.nextInt(120)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val ra = find(a.toInt)
        val rb = find(b.toInt)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = verts.map(v => v -> find(v.toInt).toLong).toMap
      Budgets.foreach(b =>
        assert(comps(edges, budget = b) === expected, s"trial $trial (n=$n, m=$m, budget=$b)"))
    }
  }
}
