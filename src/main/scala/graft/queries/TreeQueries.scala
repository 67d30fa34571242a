package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hierarchical aggregation — the BOM-explosion / org-rollup pattern:
  * every node's subtree total over a parent-pointer forest. The forest
  * derives deterministically from the orders table:
  * `parent(k) = k div 7` when that key exists and differs from k.
  *
  * Because the parent pointer is ARITHMETIC, the ancestor chain
  * composes in closed form — `a_j = k div 7^j` — so the whole chain
  * materializes in ONE projection (≤ ⌈log₇ k⌉ ≤ 22 entries for any
  * 64-bit key; integer division composes: `(n div 7) div 7 = n div 49`).
  * What stays data-dependent is path VALIDITY: orderkeys are sparse, a
  * missing intermediate ancestor cuts the chain (its children become
  * roots), and validity of hop j is a PREFIX condition (all of
  * a_1..a_j exist). That is one existence join against the node set
  * plus one per-node window min — after which the rollup is a single
  * ancestor-keyed aggregate.
  *
  * Scale: three keyed shuffles of ≤ N·log₇(N) narrow rows total — no
  * driver-synchronized rounds at all, vs the depth-many join+aggregate
  * rounds a level walk pays (r12 shape: ~7 rounds ≈ 4.5 s at sf0.1;
  * this plan ≈ 1 s, and on a 1000-executor cluster it removes depth
  * barriers entirely). The closure-based oracle materializes
  * (node, ancestor) pairs via a recursive CTE — fine for DuckDB at
  * test scale, the same pair set this derivation produces in closed
  * form. No round cap exists to fail closed on: 22 hops covers every
  * possible 64-bit key (7²² > 2⁶³/7), so the chain enumeration is
  * complete by construction.
  */
object TreeQueries {

  /** (id, j, anc) for j = 1..23 with anc = id div 7^j, plus the
    * prefix-validity filter: a row survives iff ALL ancestors at hops
    * 1..j exist in the node set. The chain stops where it stabilizes —
    * hop j is generated iff a_{j-1} ≥ 1 (only 0 is its own parent), so
    * key 0 is a legal FINAL ancestor (it exists in the corpus) but
    * never repeats. 23 hops reach 0 from any positive 64-bit key
    * (7²³ > 2⁶³). `nodes` must carry an `id` column.
    */
  /** 7^1..7^23, the last entry saturated at Long.MaxValue. For any
    * id < Long.MaxValue, `id div sat` = 0, exactly what the true
    * (overflowed) power would yield. The ONE exempt key is
    * id == Long.MaxValue itself (MaxValue div MaxValue = 1, true
    * id div 7^23 = 0) — guarded explicitly at the `anc` computation.
    */
  private val Pow7: Seq[Long] =
    Array.iterate(7L, 23)(p => if (p > Long.MaxValue / 7) Long.MaxValue else p * 7).toSeq

  private def validAncestors(nodes: DataFrame, carry: Seq[String]): DataFrame = {
    val carried = carry.map(col)
    // hop count in closed form: J(id) = 1 + #{j in 1..22 : id ≥ 7^j}
    // (hop j exists iff a_{j-1} = id div 7^{j-1} ≥ 1). A chain of
    // codegen'd comparisons — an equivalent filter(transform(…)) HOF
    // pipeline is INTERPRETED per row in Spark and measured ~6× slower
    // at sf1 (nested lambdas allocate per element; Generate + plain
    // expressions stay inside whole-stage codegen).
    val hops = (1 to 22)
      .map(j => when(col("id") >= Pow7(j - 1), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    val chain = nodes
      .filter(col("id") >= 1) // id 0 has no parent (and sequence(1, 0) counts DOWN)
      .withColumn("maxj", hops)
      .select(
        (col("id") +: carried) :+ explode(expr("sequence(1, maxj)")).as("j"): _*)
      .withColumn("pows", typedlit(Pow7))
      // exact integer div; the j=23 saturated power is only wrong for
      // id == Long.MaxValue (would yield a phantom ancestor 1) — guard it
      .withColumn(
        "anc",
        when(col("id") === Long.MaxValue && col("j") === lit(23), lit(0L))
          .otherwise(expr("id div element_at(pows, j)")))
      .select((col("id") +: carried) :+ col("j") :+ col("anc"): _*)
    val w = Window.partitionBy(col("id"))
    chain
      .join(nodes.select(col("id").as("anc"), lit(1).as("ex")), Seq("anc"), "left")
      .withColumn("cutoff", min(when(col("ex").isNull, col("j"))).over(w))
      .filter(col("ex").isNotNull && (col("cutoff").isNull || col("j") < col("cutoff")))
      .drop("ex", "cutoff")
  }

  /** Per-node subtree sum (exact cents) and node count, self included. */
  def hierarchyRollup(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables
      .orders(s, dir)
      .select(
        col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val up = validAncestors(nodes, Seq("cents"))
      .select(col("anc"), col("cents"))
    nodes
      .select(col("id").as("anc"), col("cents")) // self contribution
      .unionByName(up)
      .groupBy(col("anc").as("o_orderkey"))
      .agg(sum(col("cents")).as("subtree_cents"), count(lit(1)).as("n_nodes"))
  }

  val hierarchyRollupSql: String =
    """WITH RECURSIVE nodes AS (
         SELECT o_orderkey AS id, CAST(round(o_totalprice*100) AS BIGINT) AS cents
         FROM orders),
       edges AS (
         SELECT c.id, c.id // 7 AS parent
         FROM nodes c JOIN nodes p ON c.id // 7 = p.id
         WHERE c.id // 7 <> c.id),
       walk(node, anc) AS (
         SELECT id, id FROM nodes
         UNION ALL
         SELECT w.node, e.parent FROM walk w JOIN edges e ON w.anc = e.id)
       SELECT w.anc AS o_orderkey,
              CAST(sum(n.cents) AS BIGINT) AS subtree_cents,
              count(*) AS n_nodes
       FROM walk w JOIN nodes n ON w.node = n.id
       GROUP BY 1"""

  /** Node depth — the count of valid ancestors on the (closed-form)
    * chain: the same exploded prefix-validity frame as
    * [[hierarchyRollup]], aggregated per NODE instead of per ancestor;
    * roots re-enter via a left join with depth 0.
    */
  def treeDepth(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.orders(s, dir).select(col("o_orderkey").as("id"))
    val depths = validAncestors(nodes, Seq.empty)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("d"))
    nodes
      .join(depths, Seq("id"), "left")
      .select(col("id").as("o_orderkey"), coalesce(col("d"), lit(0L)).as("depth"))
  }

  val treeDepthSql: String =
    """WITH RECURSIVE ids AS (SELECT o_orderkey AS id FROM orders),
       edges AS (
         SELECT c.id, c.id // 7 AS parent
         FROM ids c JOIN ids p ON c.id // 7 = p.id
         WHERE c.id // 7 <> c.id),
       walk(id, anc, d) AS (
         SELECT id, id, 0 FROM ids
         UNION ALL
         SELECT w.id, e.parent, w.d + 1
         FROM walk w JOIN edges e ON w.anc = e.id)
       SELECT id AS o_orderkey, CAST(max(d) AS BIGINT) AS depth
       FROM walk GROUP BY 1"""
}
