package graft.operators

import graft.Reuse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list —
  * the clustering backbone of the near-dup surface
  * ([[graft.queries.DedupQueries.dedupClusters]]), reusable for any
  * "group the pair graph" task (entity resolution, dedup survivors,
  * record linkage).
  *
  * Two-level structure (r13):
  *
  * **Level 0 — per-partition spanning-forest contraction.** One
  * `mapPartitions` pass runs a compact union–find over each EDGE
  * partition and emits, per distinct vertex, the edge `(v, localMin)`
  * to the minimum id reachable within that partition. A spanning
  * forest of each partition's edge set preserves its connectivity, and
  * connectivity of a union of edge sets is the union of their
  * connectivities — so the forest (≤ one row per vertex occurrence,
  * regardless of how many edges the partition held) is
  * connectivity-equivalent to the input. This is the pass that matters
  * at 100 TB: near-dup pair graphs have E ≫ V, and it shrinks the
  * iterated edge list from O(E) to O(V) in one NARROW pass — no
  * shuffle — before any loop runs. Memory is bounded by the partition:
  * the union–find is open-addressed primitive arrays (~16 bytes per
  * distinct vertex at 0.5 load), the same envelope class as a hash
  * aggregate over the partition.
  *
  * **Finish.** If the contracted forest fits the single-task budget
  * (`spark.graft.cc.localFinishMaxEdges`, default 4M rows ≈ a few
  * hundred MB of union–find — an ordinary task's working set), the
  * labeling completes in ONE executor task: `repartition(1)` +
  * union–find, emitting `(id, component)` directly. This is not a
  * driver collect — the rows never leave the executors — and it turns
  * the whole operator into ~3 jobs at test scale. Past the budget, the
  * Shiloach–Vishkin loop below runs on the FOREST (O(V) rows per
  * round, not O(E)); setting the budget to 0 disables both level-0 and
  * the local finish (the pure-loop path, kept exercised by the spec).
  *
  * Loop algorithm (Shiloach–Vishkin shape since r10): per round, (1)
  * neighbor-min label propagation, (2) HOOKING AT THE ROOT — every
  * member of a component adopts the component-wide minimum candidate
  * via one groupBy(comp) + join — and (3) pointer jumping
  * (`comp ← comp(comp)`). Root hooking is what makes convergence
  * O(log n) rounds on chain-shaped graphs: with leaf-only hooking a
  * new minimum enters a tree at its leaves and crawls up one hop per
  * round (measured ~40+ rounds on the r10 media star graph vs ~10
  * after). Each round is three keyed joins + two aggregations; the
  * round's labeling is CHECKPOINTED
  * (`localCheckpoint`), not merely persisted — iterative plans that only
  * cache still accumulate one round of lineage per iteration and
  * Catalyst re-analysis goes super-linear (measured: persist-only made
  * 10 rounds take minutes; checkpointing makes them seconds). The driver
  * sees only one scalar per round — the changed-label count, collected
  * as an `observe()` metric DURING the checkpoint job so each round is
  * exactly one Spark job (control plane, not row data; measured ~12%
  * off the loop vs a separate count job). On a cluster, swap
  * localCheckpoint for reliable
  * `checkpoint` (HDFS-backed) so a lost executor does not lose the
  * labeling; the round structure is unchanged.
  *
  * Fails closed on non-convergence: a truncated labeling would split one
  * real component into several, which silently corrupts any downstream
  * "one survivor per component" logic. Rounds grow ~log₂(component
  * diameter), so hitting the cap means the graph needs a larger
  * `maxIters`, not a quietly wrong answer.
  */
object ConnectedComponents {

  /** One default for every caller (the dedup surface forwards it) so
    * the operator owns the convergence budget.
    */
  val DefaultMaxIters: Int = 25

  /** Conf key for the single-task finish budget (rows of contracted
    * forest). 0 disables level-0 contraction AND the local finish —
    * the pure Shiloach–Vishkin path, kept for spec coverage and for
    * clusters whose per-task memory envelope can't hold the default.
    * Any value but an integer ≥ 0 fails the call naming the key.
    */
  val LocalFinishConfKey = "spark.graft.cc.localFinishMaxEdges"
  val DefaultLocalFinishMaxEdges: Long = 4000000L

  /** Open-addressed Long→Long map on primitive arrays (linear probing,
    * power-of-two capacity, grow at 0.5 load): the union–find backbone.
    * ~16 bytes per entry vs ~80 for a boxed HashMap — the difference
    * between a 4M-vertex finish task fitting an ordinary executor and
    * not. Key 0 is carried out-of-band (the empty-slot sentinel).
    */
  private final class LongLongMap(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity) * 2 - 1) << 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var n = 0
    private var hasZero = false
    private var zeroVal = 0L
    def size: Int = n + (if (hasZero) 1 else 0)
    private def idx(k: Long): Int = {
      // Stafford mix13 finalizer: full-avalanche, so sequential ids
      // don't cluster in the probe sequence
      var h = k
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      (h ^ (h >>> 31)).toInt & (cap - 1)
    }
    def containsKey(k: Long): Boolean = {
      if (k == 0L) return hasZero
      var i = idx(k)
      while (keys(i) != 0L) {
        if (keys(i) == k) return true
        i = (i + 1) & (cap - 1)
      }
      false
    }
    def getOrDefault(k: Long, dflt: Long): Long = {
      if (k == 0L) return if (hasZero) zeroVal else dflt
      var i = idx(k)
      while (keys(i) != 0L) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & (cap - 1)
      }
      dflt
    }
    def put(k: Long, v: Long): Unit = {
      if (k == 0L) { if (!hasZero) { hasZero = true }; zeroVal = v; return }
      var i = idx(k)
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & (cap - 1)
      if (keys(i) == 0L) {
        keys(i) = k; vals(i) = v; n += 1
        if (n * 2 > cap) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = new Array[Long](cap); vals = new Array[Long](cap); n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != 0L) put(ok(i), ov(i))
        i += 1
      }
    }
    /** Iterate entries (allocation-free apart from the closure). */
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      if (hasZero) f(0L, zeroVal)
      var i = 0
      while (i < cap) {
        if (keys(i) != 0L) f(keys(i), vals(i))
        i += 1
      }
    }
  }

  /** Union–find with union-by-min (every root is its set's minimum id —
    * the output convention downstream depends on) and full path
    * compression on find.
    */
  private final class MinUnionFind(sizeHint: Int) {
    private val parent = new LongLongMap(sizeHint)
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      var c = x
      while (c != r) { val nx = parent.getOrDefault(c, c); parent.put(c, r); c = nx }
      r
    }
    // Membership must be an explicit probe: a value sentinel (e.g.
    // Long.MinValue) would silently drop a vertex whose id IS the
    // sentinel from `entries` even though its neighbors label fine.
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x)
    def union(a: Long, b: Long): Unit = {
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    /** One (vertex, min-id root) row per distinct vertex seen. Keys are
      * snapshotted before the finds so path compression during
      * iteration can't skip or repeat entries.
      */
    def entries: Iterator[(Long, Long)] = {
      val buf = new scala.collection.mutable.ArrayBuffer[Long](parent.size)
      parent.foreachEntry((k, _) => buf += k)
      buf.iterator.map(k => (k, find(k)))
    }
  }

  /** Union–find over an iterator of edges; shared by the level-0
    * contraction (per edge partition) and the single-task finish.
    */
  private def unionFindPass(rows: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val uf = new MinUnionFind(1 << 12)
    rows.foreach { case (a, b) => uf.union(a, b) }
    uf.entries
  }

  /** Checkpoint a round labeling AND reset its size statistics.
    *
    * `localCheckpoint` truncates lineage but PROPAGATES the child
    * plan's sizeInBytes estimate onto the checkpointed node
    * (`LogicalRDD.rewriteStatsAndConstraints`). In this loop the
    * pointer-jump SELF-JOIN then squares that estimate every round —
    * the BigInt doubles in bit-length per iteration, and after ~15
    * rounds the optimizer spends minutes per round multiplying
    * million-bit integers inside `canBroadcastBySize` (observed r10 on
    * the media star graph: a 6,471-edge input hung for >8 minutes on
    * the DRIVER while every executor sat idle). Rebuilding the frame
    * from the checkpointed RDD resets the estimate to the default;
    * static planning then picks sort-merge inside the loop and AQE
    * re-plans to broadcast at runtime from ACTUAL shuffle sizes — the
    * decision that matters at any scale. (GraphFrames ships the same
    * reset as `getCachedDataFrame` for exactly this loop shape.)
    *
    * Returns (stats-reset frame, checkpoint owner) — `Reuse.free`
    * must target the OWNER: the wrapper's own LogicalRDD holds the
    * Row-conversion RDD, not the checkpointed blocks.
    */
  private def truncate(df: DataFrame): (DataFrame, DataFrame) = {
    val cp = Reuse.cut(df)
    (cp.sparkSession.createDataFrame(cp.rdd, cp.schema), cp)
  }

  /** @param edges  undirected edge list with two Long columns named
    *               `src` and `dst` (each edge listed once; both
    *               directions are derived internally)
    * @return one row per vertex appearing in `edges`: `(id, component)`
    *         where `component` is the minimum vertex id reachable.
    *         The result is checkpointed (a [[graft.Reuse.cut]], released
    *         with the caller's scope); intermediates are freed on the way.
    */
  def components(edges: DataFrame, maxIters: Int = DefaultMaxIters): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val raw = s.conf.get(LocalFinishConfKey, DefaultLocalFinishMaxEdges.toString)
    val budget = raw.toLongOption.filter(_ >= 0L).getOrElse(
      throw new IllegalArgumentException(
        s"$LocalFinishConfKey must be an integer >= 0 (0 disables), got '$raw'"))
    if (budget == 0L) return svLoop(edges, maxIters)
    // level-0 contraction: per-partition spanning forest — narrow (no
    // shuffle), shrinks the edge list to ≤ one row per vertex
    // occurrence before anything iterates (see object Scaladoc)
    val forest = Reuse.pin(
      edges
        .select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .mapPartitions(unionFindPass)
        .toDF("src", "dst"))
    val labels =
      if (forest.count() <= budget) {
        // single-TASK finish on the executors (repartition(1) routes the
        // ≤budget forest rows to one task; never a driver collect). The
        // result is checkpointed for parity with the loop path — callers
        // join it repeatedly and must not re-run the finish per consumer.
        Reuse.cut(
          forest
            .repartition(1)
            .as[(Long, Long)]
            .mapPartitions(unionFindPass)
            .toDF("id", "component"))
      } else svLoop(forest, maxIters)
    Reuse.free(forest)
    labels
  }

  /** The Shiloach–Vishkin labeling loop — the past-the-budget path,
    * running on the contracted forest (O(V) rows per round).
    */
  private def svLoop(edges: DataFrame, maxIters: Int): DataFrame = {
    // loop shuffles are tiny (one narrow row per vertex) — AQE coalesces
    // them; the measured cost per round is job scheduling + checkpoint
    // I/O, not shuffle width, so no partition override here
    val directed = Reuse.pin(
      edges
        .select(col("src").as("a"), col("dst").as("b"))
        .unionByName(edges.select(col("dst").as("a"), col("src").as("b"))))
    // initial labeling folds the first neighbor-min step into the
    // vertex-dedup shuffle: comp₀(v) = min(v, min neighbor) — the
    // distinct() this replaces was a groupBy on the same key doing no
    // useful work, so round 1 comes free (this job also materializes
    // the `directed` pin — no separate warm-up count)
    var (labels, labelsCp) = truncate(
      directed
        .groupBy(col("a"))
        .agg(min(col("b")).as("nmin"))
        .select(col("a").as("id"), least(col("a"), col("nmin")).as("comp")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      // step 1: neighbor-min — cand(v) = min(comp(v), min of neighbor
      // comps). Pinned: it feeds both the root-min aggregate and the
      // hook join.
      val neighborMin = directed
        .join(labels.select(col("id").as("b"), col("comp").as("comp_b")), Seq("b"))
        .groupBy(col("a"))
        .agg(min(col("comp_b")).as("nmin"))
        .select(col("a").as("id"), col("nmin"))
      val propagated = Reuse.pin(
        labels
          .join(neighborMin, Seq("id"), "left")
          .select(
            col("id"),
            col("comp"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("cand")))
      // step 2: hook at the ROOT (Shiloach–Vishkin hooking): every
      // member of a component adopts the component-wide minimum
      // candidate in one groupBy + join. Leaf-only hooking (the r1–r9
      // loop updated comp(v) but never comp of v's whole tree) makes
      // new minima enter a tree at its leaves and crawl up one hop
      // per round — measured ~40+ rounds on the r10 media star graph
      // where this converges in ~10.
      val rootMin = propagated
        .groupBy(col("comp"))
        .agg(min(col("cand")).as("rmin"))
      // pinned: hooked feeds BOTH sides of the pointer-jump self-join
      // below — unpinned, the rootMin aggregate + hook join subtree
      // executes twice per round (ReuseExchange dedups only the
      // shuffles)
      val hooked = Reuse.pin(
        propagated
          .join(rootMin, Seq("comp"))
          .select(col("id"), col("rmin").as("comp"), col("comp").as("prev")))
      // step 3: pointer jump — comp(v) ← comp(comp(v)); comp values
      // are themselves vertex ids (invariant: comp(v) ≤ v), so the
      // self-join resolves one indirection level and halves tree
      // depth per round. The changed-label count is an observe()
      // metric collected WHILE the checkpoint job materializes the
      // rows — one job per round, not a checkpoint plus a count job.
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$i")
      // truncate(): lineage cut to one round AND size stats reset —
      // without the reset the self-join above squares the estimate
      // every round (see [[truncate]])
      val (updated, updatedCp) = truncate(
        hooked
          .join(
            hooked.select(col("id").as("comp"), col("comp").as("comp2")),
            Seq("comp"),
            "left")
          .select(
            col("id"),
            least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"),
            col("prev"))
          .observe(
            obs,
            coalesce(sum(when(col("comp") < col("prev"), 1L).otherwise(0L)), lit(0L))
              .as("changed"))
          .select(col("id"), col("comp"))) // prev served the metric only
      changed = obs.get("changed").asInstanceOf[Long]
      // the round's intermediates and the superseded labeling are dead
      // now — storage holds 2 labelings, not maxIters
      Reuse.free(propagated)
      Reuse.free(hooked)
      Reuse.free(labelsCp)
      labels = updated
      labelsCp = updatedCp
      i += 1
    }
    // fails closed; what the loop still holds goes with the caller's scope
    require(
      changed == 0,
      s"connected components did not converge in $maxIters rounds " +
        s"($changed labels still changing) — raise maxIters for this graph")
    Reuse.free(directed)
    labels.select(col("id"), col("comp").as("component"))
  }
}
