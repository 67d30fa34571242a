package graft.queries

import graft.Reuse
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spatial analytics on a deterministic integer grid — the geo-join
  * patterns (radius self-join, k-nearest-neighbor lookup, raster
  * density smoothing) a location-aware pipeline needs, built so every
  * geometric predicate runs in EXACT integer arithmetic:
  *
  *  - Coordinates are synthesized per entity key from md5 (the proven
  *    conv/`0x`-cast parity idiom of q_epoch_shuffle) onto a
  *    100 000 × 100 000 unit grid — no floats anywhere.
  *  - Distance is compared as squared Euclidean in BIGINT
  *    (`dx*dx + dy*dy <= R²`), so the within-radius predicate can never
  *    flip on a ULP and the DuckDB oracles match hash-for-hash.
  *
  * Scale design (100 TB): the radius self-join NEVER goes all-pairs —
  * each point explodes to its 3×3 neighborhood of grid cells (radius <
  * cell size, so 9 cells provably cover the disk) and the candidate
  * join is a pure EQUI-join on the cell key, the standard distributed
  * spatial-join shape (grid partitioning ≈ GeoSpark/Sedona). Density
  * smoothing shuffles one row per OCCUPIED cell, not per point, after a
  * map-side partial count. The kNN probe side is bounded by
  * construction (≤ 64 probes) and broadcast; candidate ranking uses a
  * probe-partitioned rank window that Spark rewrites to
  * WindowGroupLimit (top-k pushed before the final shuffle).
  */
object SpatialQueries {

  /** Grid extent in integer units per axis. Env-overridable
    * (GRAFT_SPATIAL_UNITS) for the scale study ONLY: the sf1 generator
    * replicates rows 10×, and a real spatial corpus grows AREA with
    * volume (constant density), so the constant-density measurement sets
    * a √10× extent. Every consumer — Spark expressions AND oracle SQL —
    * derives coordinates from this one value, so parity holds at any
    * setting; the default is unchanged for the correctness board.
    */
  private val Units: Long =
    sys.env.get("GRAFT_SPATIAL_UNITS").map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException =>
          // a bare NumberFormatException here surfaces as an opaque
          // ExceptionInInitializerError failing EVERY spatial query —
          // name the env var so the scale-study misconfiguration is
          // diagnosable from the message alone
          throw new IllegalArgumentException(
            s"GRAFT_SPATIAL_UNITS must be a long integer, got '$v'")
      }
    }.getOrElse(100000L)

  /** Grid cell edge; cell count = (Units/Cell)² = 10 000. */
  private val Cell = 1000L

  /** Squared radius for the neighbor join; R = 700 < Cell so the 3×3
    * cell neighborhood covers every within-radius candidate.
    */
  private val R2 = 490000L

  /** Deterministic coordinate in [0, Units) derived from `key` and an
    * axis tag — 40 md5 bits through the conv(…,16,10) / `0x`-cast
    * parity pair.
    */
  private def coordExpr(key: String, axis: String): Column =
    expr(
      s"cast(conv(substring(md5(cast(concat(cast($key as string), ':$axis') " +
        s"as binary)), 1, 10), 16, 10) as long) % $Units")

  private def coordSql(key: String, axis: String): String =
    s"CAST(concat('0x', substr(md5($key::VARCHAR || ':$axis'), 1, 10)) AS BIGINT) % $Units"

  /** Supplier coordinates — ONE derivation for every consumer
    * ([[spatialKnn]]'s probe subset, [[geoRevenue]]'s full dimension),
    * so the coordinate idiom cannot fork.
    */
  private def supplierCoords(s: SparkSession, dir: String): DataFrame =
    Tables
      .supplier(s, dir)
      .select(
        col("s_suppkey"),
        coordExpr("s_suppkey", "px").as("px"),
        coordExpr("s_suppkey", "py").as("py"))

  /** Customer points with grid-cell assignment (integer floor division
    * — `div` here, `//` in DuckDB).
    */
  private def points(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .select(
        col("c_custkey").as("id"),
        coordExpr("c_custkey", "x").as("x"),
        coordExpr("c_custkey", "y").as("y"))
      .withColumn("cx", expr(s"x div $Cell"))
      .withColumn("cy", expr(s"y div $Cell"))

  private def pointsCteSql: String =
    s"""pts AS (SELECT c_custkey AS id,
          ${coordSql("c_custkey", "x")} AS x,
          ${coordSql("c_custkey", "y")} AS y
        FROM customer),
        cells AS (SELECT *, x // $Cell AS cx, y // $Cell AS cy FROM pts)"""

  /** The canonical within-radius pair list (ia < ib, exact BIGINT d²) —
    * one side explodes to its 9 candidate cells, the join is equi on
    * (cell_x, cell_y). Shared by [[spatialJoin]] and [[dbscan]] so the
    * neighborhood derivation has exactly one definition per engine.
    */
  private[queries] def neighborPairs(s: SparkSession, dir: String): DataFrame = {
    val pts = points(s, dir)
    // Directed HALF-neighborhood instead of the full 3×3: each
    // unordered cell pair is generated from exactly one endpoint —
    // offset (0,0) covers same-cell pairs (oriented by ia < ib), and
    // for any distinct neighboring cells exactly one of d, −d lies in
    // {(1,0), (0,1), (1,1), (1,−1)} — so no candidate is ever
    // materialized twice. The old full-neighborhood probe emitted every
    // pair in both orders and threw half away at the ia < ib filter:
    // 5/9 the exploded rows and ~half the join output for the identical
    // pair set (measured at sf1, one-pass protocol: q_dbscan
    // 34.2 → 16.9 s, q_spatial_join 12.0 → 7.5 s).
    val offsets = Seq((0, 0), (1, 0), (0, 1), (1, 1), (1, -1))
    val probe = pts
      .withColumn(
        "off",
        explode(array(offsets.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy"))
        }: _*)))
      .select(
        col("id").as("pa"),
        col("x").as("ax"),
        col("y").as("ay"),
        (col("cx") + col("off.dx")).as("jx"),
        (col("cy") + col("off.dy")).as("jy"),
        (col("off.dx") === 0 && col("off.dy") === 0).as("same_cell"))
    val build = pts.select(
      col("id").as("pb"),
      col("x").as("bx"),
      col("y").as("by"),
      col("cx").as("jx"),
      col("cy").as("jy"))
    probe
      .join(build, Seq("jx", "jy"))
      // same-cell pairs orient by id (also excludes the self-pair);
      // directed-offset pairs join distinct cells, so pa ≠ pb always
      .filter(!col("same_cell") || col("pa") < col("pb"))
      .withColumn(
        "d2",
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
      .filter(col("d2") <= R2)
      .select(
        least(col("pa"), col("pb")).as("ia"),
        greatest(col("pa"), col("pb")).as("ib"),
        col("d2"))
  }

  private def pairsCteSql: String =
    s"""pairs AS (
          SELECT a.id AS ia, b.id AS ib,
                 (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
          FROM cells a JOIN cells b
            ON b.cx BETWEEN a.cx-1 AND a.cx+1
           AND b.cy BETWEEN a.cy-1 AND a.cy+1
           AND a.id < b.id
          WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= $R2)"""

  /** Radius self-join: for every point with at least one neighbor
    * within R, the neighbor count and the squared distance to the
    * closest one. Built on [[neighborPairs]] (each undirected pair
    * computed exactly once), symmetrized for per-point stats.
    */
  def spatialJoin(s: SparkSession, dir: String): DataFrame = {
    // both endpoints of each pair emitted by ONE explode pass, not a
    // union of two projections: union branches are separate plan
    // subtrees, so the (unpersisted) candidate join executed TWICE —
    // confirmed in the final adaptive plan (2 join nodes) and locked
    // below; the explode keeps a single evaluation (r15: 7.5 → 4.6 s
    // at sf1 one-pass)
    neighborPairs(s, dir)
      .select(explode(array(
        struct(col("ia").as("id"), col("d2")),
        struct(col("ib").as("id"), col("d2")))).as("e"))
      .groupBy(col("e.id").as("id"))
      .agg(count(lit(1)).as("n_neighbors"), min(col("e.d2")).as("min_d2"))
  }

  val spatialJoinSql: String =
    s"""WITH $pointsCteSql,
        $pairsCteSql,
        sym AS (SELECT ia AS id, d2 FROM pairs
                UNION ALL SELECT ib AS id, d2 FROM pairs)
        SELECT id, count(*) AS n_neighbors, CAST(min(d2) AS BIGINT) AS min_d2
        FROM sym GROUP BY 1"""

  /** k-nearest-neighbor lookup: for each of ≤ 64 probe locations
    * (suppliers, bounded by construction — NOT the growing dimension),
    * the 5 closest customer points by exact squared distance, id
    * tiebreak.
    *
    * GRID-RING search, not a per-probe scan of every point (that kernel
    * was linear per probe — r10 `weak`). Two phases, both exact:
    *
    *  1. Ring radius from the RASTER: cell occupancy counts (one row per
    *     occupied cell, the same bound as [[gridDensity]]) cross the
    *     ≤ 64 bounded probes; per probe, r0 = the smallest Chebyshev
    *     cell ring whose cumulative point count reaches k.
    *  2. Candidate fetch is a pure EQUI-join on the cell key: the probe
    *     explodes only the cells of rings 0..rcut and joins the points
    *     on (jx, jy) — the per-point scan never sees a probe it can't
    *     possibly serve.
    *
    * Stopping bound (exact integers, 3/2 > √2): rings 0..r0 hold ≥ k
    * points, each within √2·(r0+1)·Cell of the probe, so the k-th best
    * distance ≤ √2·(r0+1)·Cell; a ring-r point lies ≥ (r−1)·Cell away,
    * so every ring beyond rcut = 1 + ⌈3·(r0+1)/2⌉ ≥ 1 + √2·(r0+1) is
    * STRICTLY farther than the k-th best — no tie with an excluded
    * point is possible, and the result (and oracle) are unchanged.
    * When the corpus holds fewer than k points r0 is undefined and rcut
    * falls back to the full grid — still the equi-join plan.
    */
  def spatialKnn(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val maxRing = (Units + Cell - 1) / Cell
    val probes = supplierCoords(s, dir)
      .filter(col("s_suppkey") <= 64)
      .withColumnRenamed("s_suppkey", "probe_id")
      .withColumn("pcx", expr(s"px div $Cell"))
      .withColumn("pcy", expr(s"py div $Cell"))
    val pts = points(s, dir)
    // phase 1 — raster-bounded: one row per OCCUPIED cell × ≤64 probes
    val cellCounts = pts
      .groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("n"))
    val ringCum = cellCounts
      .crossJoin(broadcast(probes))
      .withColumn(
        "ring",
        greatest(abs(col("cx") - col("pcx")), abs(col("cy") - col("pcy"))))
      .groupBy(col("probe_id"), col("px"), col("py"), col("pcx"), col("pcy"), col("ring"))
      .agg(sum(col("n")).as("nr"))
      .withColumn(
        "cum",
        sum(col("nr")).over(Window.partitionBy(col("probe_id")).orderBy(col("ring"))))
    val rcuts = ringCum
      .groupBy(col("probe_id"), col("px"), col("py"), col("pcx"), col("pcy"))
      .agg(min(when(col("cum") >= k, col("ring"))).as("r0"))
      .withColumn(
        "rcut",
        when(col("r0").isNull, lit(maxRing))
          .otherwise(least(lit(maxRing), expr("1 + (3 * (r0 + 1) + 1) div 2"))))
    // phase 2 — candidate cells of rings 0..rcut, clipped to the grid;
    // the points side joins EQUI on the cell key (AQE broadcasts the
    // typically-tiny probe-cell list on its measured size)
    val probeCells = rcuts
      .withColumn("dx", explode(expr("sequence(-rcut, rcut)")))
      .withColumn("dy", explode(expr("sequence(-rcut, rcut)")))
      .select(
        col("probe_id"),
        col("px"),
        col("py"),
        (col("pcx") + col("dx")).as("jx"),
        (col("pcy") + col("dy")).as("jy"))
      .filter(
        col("jx") >= 0 && col("jx") < maxRing && col("jy") >= 0 && col("jy") < maxRing)
    pts
      .select(col("id"), col("x"), col("y"), col("cx").as("jx"), col("cy").as("jy"))
      .join(probeCells, Seq("jx", "jy"))
      .withColumn(
        "d2",
        (col("px") - col("x")) * (col("px") - col("x")) +
          (col("py") - col("y")) * (col("py") - col("y")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("id")))
          .cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("id"), col("d2"))
  }

  val spatialKnnSql: String =
    s"""WITH $pointsCteSql,
        probes AS (SELECT s_suppkey AS probe_id,
          ${coordSql("s_suppkey", "px")} AS px,
          ${coordSql("s_suppkey", "py")} AS py
          FROM supplier WHERE s_suppkey <= 64),
        ranked AS (
          SELECT probe_id, id,
                 (px-x)*(px-x) + (py-y)*(py-y) AS d2,
                 row_number() OVER (PARTITION BY probe_id
                                    ORDER BY (px-x)*(px-x) + (py-y)*(py-y), id) AS rank
          FROM probes CROSS JOIN cells)
        SELECT probe_id, rank, id, d2 FROM ranked WHERE rank <= 5"""

  /** Raster density: per occupied grid cell, its point count and the
    * 3×3 box-smoothed count (the discrete KDE a heat map needs). The
    * smoothing join runs on CELL aggregates — one row per occupied
    * cell, never per point — so the shuffle is bounded by the raster,
    * not the data.
    */
  def gridDensity(s: SparkSession, dir: String): DataFrame = {
    val cells = Reuse.pin(
      points(s, dir)
        .groupBy(col("cx"), col("cy"))
        .agg(count(lit(1)).as("n")))
    val contrib = cells
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .groupBy(
        (col("cx") + col("dx")).as("tx"),
        (col("cy") + col("dy")).as("ty"))
      .agg(sum(col("n")).as("smoothed"))
    cells
      .join(contrib, col("cx") === col("tx") && col("cy") === col("ty"))
      .select(col("cx"), col("cy"), col("n"), col("smoothed"))
  }

  val gridDensitySql: String =
    s"""WITH $pointsCteSql,
        counts AS (SELECT cx, cy, count(*) AS n FROM cells GROUP BY 1, 2),
        contrib AS (
          SELECT c.cx + dx.d AS tx, c.cy + dy.d AS ty,
                 CAST(sum(n) AS BIGINT) AS smoothed
          FROM counts c,
               (VALUES (-1), (0), (1)) dx(d),
               (VALUES (-1), (0), (1)) dy(d)
          GROUP BY 1, 2)
        SELECT c.cx, c.cy, c.n, s.smoothed
        FROM counts c JOIN contrib s ON c.cx = s.tx AND c.cy = s.ty"""

  /** Revenue by customer↔supplier distance band — the cross-family
    * composition: the spatial grid coordinates joined INTO the revenue
    * pipeline (lineitem → orders → customer coords, supplier coords),
    * with the shipment's exact integer d² bucketed into four bands at
    * (R/2)², R², (2R)². Shows the geometric columns behaving as
    * ordinary join/aggregate keys in an analytics query: two
    * dimension-keyed joins (customer, supplier — hint-free, AQE
    * decides), one 4-group aggregate, money exact in 1e-4 dollars.
    */
  def geoRevenue(s: SparkSession, dir: String): DataFrame = {
    // reuse the canonical coordinate derivations — points() for the
    // customer side, supplierCoords() for the supplier side — so the
    // grid idiom has exactly one definition per entity
    val cust = points(s, dir)
      .select(col("id").as("c_custkey"), col("x").as("cx2"), col("y").as("cy2"))
    val supp = supplierCoords(s, dir)
      .select(col("s_suppkey"), col("px").as("sx"), col("py").as("sy"))
    Tables
      .lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .withColumn(
        "d2",
        (col("cx2") - col("sx")) * (col("cx2") - col("sx")) +
          (col("cy2") - col("sy")) * (col("cy2") - col("sy")))
      .withColumn(
        "band",
        when(col("d2") <= R2 / 4, lit("near"))
          .when(col("d2") <= R2, lit("mid"))
          .when(col("d2") <= R2 * 4, lit("far"))
          .otherwise(lit("remote")))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(
          round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      .select(
        col("band"),
        col("n_items"),
        round(col("rev_e4").cast("double") / 10000.0, 6).as("revenue"))
  }

  val geoRevenueSql: String =
    s"""WITH cust AS (
         SELECT c_custkey,
                ${coordSql("c_custkey", "x")} AS cx2,
                ${coordSql("c_custkey", "y")} AS cy2
         FROM customer),
       supp AS (
         SELECT s_suppkey,
                ${coordSql("s_suppkey", "px")} AS sx,
                ${coordSql("s_suppkey", "py")} AS sy
         FROM supplier),
       base AS (
         SELECT (cx2-sx)*(cx2-sx) + (cy2-sy)*(cy2-sy) AS d2,
                CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_e4
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN cust ON o_custkey = c_custkey
         JOIN supp ON l_suppkey = s_suppkey)
       SELECT CASE WHEN d2 <= ${R2 / 4} THEN 'near'
                   WHEN d2 <= $R2 THEN 'mid'
                   WHEN d2 <= ${R2 * 4} THEN 'far'
                   ELSE 'remote' END AS band,
              count(*) AS n_items,
              round(CAST(sum(rev_e4) AS DOUBLE) / 10000.0, 6) AS revenue
       FROM base GROUP BY 1"""

  /** DBSCAN density minimum: a point is CORE with ≥ MinPts neighbors
    * within R (self excluded).
    */
  private val MinPts = 3

  /** Distributed DBSCAN (the MR-DBSCAN shape): density clustering over
    * the grid points — core points (≥ [[MinPts]] within-R neighbors)
    * form clusters as the connected components of the core-core
    * neighbor graph; border points (non-core with a core neighbor)
    * adopt the cluster of their CLOSEST core neighbor (d², id
    * tiebreak — deterministic); everything else is noise (cluster −1).
    *
    * Scale: the only superlinear ingredient, the neighbor join, is the
    * 3×3 cell equi-join of [[neighborPairs]]; the component loop is the
    * repo's [[graft.operators.ConnectedComponents]] (Shiloach–Vishkin
    * root hooking, O(log n) rounds, scalar-only driver traffic). The
    * oracle materializes the recursive closure instead — affordable at
    * test scale, exactly what the SV loop avoids in production.
    */
  def dbscan(s: SparkSession, dir: String): DataFrame = {
    val pairs = Reuse.pin(neighborPairs(s, dir))
    val sym = pairs
      .select(col("ia").as("id"), col("ib").as("nb"), col("d2"))
      .unionByName(pairs.select(col("ib").as("id"), col("ia").as("nb"), col("d2")))
    val deg = sym.groupBy(col("id")).agg(count(lit(1)).as("n_neighbors"))
    val core = deg.filter(col("n_neighbors") >= MinPts).select(col("id").as("core_id"))
    val coreEdges = pairs
      .join(core.withColumnRenamed("core_id", "ca"), col("ia") === col("ca"), "left_semi")
      .join(core.withColumnRenamed("core_id", "cb"), col("ib") === col("cb"), "left_semi")
      .select(col("ia").as("src"), col("ib").as("dst"))
    val comp = graft.operators.ConnectedComponents
      .components(coreEdges)
      .select(col("id").as("cid"), col("component"))
    // isolated cores (no core neighbor) are their own singleton cluster
    val coreCluster = Reuse.pin(
      core
        .join(comp, col("core_id") === col("cid"), "left")
        .select(col("core_id"), coalesce(col("component"), col("core_id")).as("cluster")))
    val borderPick = sym
      .join(coreCluster.withColumnRenamed("core_id", "nbc"), col("nb") === col("nbc"))
      .join(coreCluster.withColumnRenamed("core_id", "selfc")
        .withColumnRenamed("cluster", "c2"), col("id") === col("selfc"), "left_anti")
      .groupBy(col("id"))
      .agg(min(struct(col("d2"), col("nb"), col("cluster"))).as("pick"))
      .select(col("id"), col("pick.cluster").as("cluster"))
    val pts = points(s, dir).select(col("id"))
    val labeled = coreCluster
      .select(col("core_id").as("id"), col("cluster"), lit("core").as("role"))
      .unionByName(borderPick.withColumn("role", lit("border")))
    pts
      .join(labeled, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }

  /** Non-recursive core/edge prefix of [[dbscanSql]] (through the
    * core-core edges `ce`) — the --decompose edges source.
    */
  private val dbscanCoreCtesSql: String =
    s"""$pointsCteSql,
        $pairsCteSql,
        sym AS (SELECT ia AS id, ib AS nb, d2 FROM pairs
                UNION ALL SELECT ib, ia, d2 FROM pairs),
        deg AS (SELECT id, count(*) AS n FROM sym GROUP BY 1),
        core AS (SELECT id AS core_id FROM deg WHERE n >= $MinPts),
        ce AS (
          SELECT ia AS a, ib AS b FROM pairs
          WHERE ia IN (SELECT core_id FROM core)
            AND ib IN (SELECT core_id FROM core))"""

  /** Tail of [[dbscanSql]] after the `comp` labeling (expects CTEs
    * from [[dbscanCoreCtesSql]] and a `comp(cid, component)`).
    */
  private val dbscanTailSql: String =
    """core_cluster AS (
          SELECT core_id, coalesce(component, core_id) AS cluster
          FROM core LEFT JOIN comp ON core_id = cid),
        border AS (
          SELECT s.id,
                 first(cc.cluster ORDER BY s.d2, s.nb) AS cluster
          FROM sym s
          JOIN core_cluster cc ON s.nb = cc.core_id
          WHERE s.id NOT IN (SELECT core_id FROM core)
          GROUP BY s.id),
        labeled AS (
          SELECT core_id AS id, cluster, 'core' AS role FROM core_cluster
          UNION ALL
          SELECT id, cluster, 'border' AS role FROM border)
        SELECT p.id,
               coalesce(l.role, 'noise') AS role,
               CAST(coalesce(l.cluster, -1) AS BIGINT) AS cluster
        FROM cells p LEFT JOIN labeled l ON p.id = l.id"""

  val dbscanSql: String =
    s"""WITH RECURSIVE $dbscanCoreCtesSql,
        e AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
        reach(a, b) AS (
          SELECT a, b FROM e
          UNION
          SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        comp AS (
          SELECT a AS cid, least(a, min(b)) AS component
          FROM reach GROUP BY a),
        $dbscanTailSql"""

  /** --decompose path (see DedupQueries.dedupClustersDecomposed). */
  val dbscanDecomposed: (String, String) = (
    s"WITH $dbscanCoreCtesSql SELECT a, b FROM ce",
    s"""WITH $dbscanCoreCtesSql,
        comp AS (SELECT node AS cid, component FROM uf_comp),
        $dbscanTailSql""")
}
