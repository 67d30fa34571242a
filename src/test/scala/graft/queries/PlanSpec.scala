package graft.queries

import graft.{SparkEntry, Tables}
import graft.dsp.{
  DetectorFn, DetectorSettings, DifferentialThresholdDetector, FixedThreshold, ThresholdDetector}
import graft.operators.EventFormation
import graft.sources.TraceGenerator
import graft.sources.TraceGenerator.GeneratorConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.math.Ordering.Double.TotalOrdering

/** Plan-quality lock: these assertions encode the physical-plan properties
  * the queries are designed around (pushdown, broadcast strategy, top-k
  * pushdown, shuffle counts). A regression here means a 100 TB run just
  * got slower even though results stay correct. The table detector
  * queries are locked here too, against the reference iterator chain:
  * each user's `(ts, event_id)`-ordered value series, replayed on the
  * driver through [[DetectorFn.over]], must give exactly their rows
  * under both query names of each pair.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("scan-prune pushes filters and prunes columns at the parquet scan") {
    val p = plan(RelationalQueries.scanPrune(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    // read schema carries only the 5 referenced columns, not all 11
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_discount:double,l_shipdate:timestam"))
    assert(!p.contains("l_extendedprice"))
  }

  test("region revenue joins broadcast; single aggregation shuffle") {
    val p = plan(RelationalQueries.regionRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
  }

  test("stored-value top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(RelationalQueries.topOrders(spark, dir))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("interval join keeps the equi-key hash join with the range as residual") {
    val p = plan(RelationalQueries.intervalJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin [user_id"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("cosine top-k pre-reduces per corpus partition BEFORE the window exchange") {
    val p = plan(VectorQueries.cosineTopK(spark, dir))
    // Spark's WindowGroupLimit runs in Partial mode map-side: each corpus
    // partition is cut to its per-query top-k before the shuffle, so the
    // window exchange carries ≤ nQueries × k rows per input partition —
    // never the full similarity table. Lock the ordering, not just the
    // node's presence.
    val partial = p.indexOf("row_number(), 10, Partial")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(p.contains("WindowGroupLimit"))
    assert(partial >= 0 && exchange >= 0 && exchange < partial,
      s"Partial WindowGroupLimit must sit BELOW (after in text) the exchange; got plan:\n${p.take(1200)}")
  }

  test("event formation is shuffle-free (narrow map over messages)") {
    val traces = TraceGenerator.traces(spark, GeneratorConfig(nFrames = 2, nDigitizers = 2))
    val p = plan(
      EventFormation
        .formEvents(traces, DetectorSettings(FixedThreshold(100.0), baseline = 50.0))
        .toDF())
    assert(!p.contains("Exchange"))
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val wh = java.nio.file.Files.createTempDirectory("warehouse").toString
    val s2 = spark.newSession()
    // warehouse.dir is static; explicit per-table paths avoid needing it
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val li = RelationalQueries.scanPrune(s2, dir)
    val orders = graft.Tables.orders(s2, dir)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    val joined = s2.table("li_b")
      .join(s2.table("orders_b"), org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    // both sides pre-bucketed on the join key → no Exchange anywhere
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(joined.count() > 0)
    s2.sql("DROP TABLE li_b")
    s2.sql("DROP TABLE orders_b")
  }

  test("frame assembly is a single keyed shuffle (dedup inside the aggregation)") {
    import spark.implicits._
    val traces = TraceGenerator.traces(spark, GeneratorConfig(nFrames = 2, nDigitizers = 2))
    val dev2 = EventFormation.formEvents(traces, DetectorSettings(FixedThreshold(100.0), baseline = 50.0))
    val p = plan(graft.operators.FrameAssembly.assemble(dev2, Seq(0, 1)))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
  }

  test("as-of join: union + ordered window, never a nested loop") {
    val p = plan(RelationalQueries.asofJoin(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin")) // it isn't a join node at all
    assert(p.contains("Window"))
    // shuffles: the purchase pre-aggregation + the per-key window — the
    // probe side is never joined row-by-row against the build side
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3)
  }

  test("session_window sessionisation runs in the engine's session aggregation") {
    val p = plan(RelationalQueries.sessionWindow(spark, dir))
    assert(p.toLowerCase.contains("session"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  private type Row3 = (Long, java.sql.Timestamp, Double)

  /** Each user's series in `(ts, event_id)` order, read on the driver. */
  private def series: Map[Long, Array[Ev]] = {
    import spark.implicits._
    Tables
      .events(spark, dir)
      .select("user_id", "ts", "event_id", "value")
      .as[Ev]
      .collect()
      .groupBy(_.user_id)
      .map { case (uid, evs) =>
        uid -> evs.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      }
  }

  private def sorted(rs: Iterable[Row3]): Seq[Row3] =
    rs.toSeq.sortBy(r => (r._1, r._2.getTime, r._2.getNanos, r._3))

  private def rows(name: String): Seq[Row3] =
    sorted(SparkEntry.queries(name)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))))

  test("q_threshold_events equals a DetectorFn.over replay of each user's series") {
    val replay = sorted(series.toSeq.flatMap { case (uid, trace) =>
      val samples = trace.iterator.zipWithIndex.map { case (e, i) => (i.toDouble, e.value) }
      DetectorFn
        .over(samples, new ThresholdDetector(150.0, 1, 0))
        .map(ev => (uid, trace(ev.time.toInt).ts, ev.pulseHeight))
    })
    assert(replay.nonEmpty, "fixture must produce pulses")
    assert(rows("q_threshold_events") === replay)
    assert(rows("q_threshold_events_expr") === replay)
  }

  test("q_threshold_events_differential equals a DetectorFn.over replay of each user's series") {
    val replay = sorted(series.toSeq.flatMap { case (uid, trace) =>
      val samples = (1 until trace.length).iterator.map { i =>
        (i.toDouble, Array(trace(i).value, trace(i).value - trace(i - 1).value))
      }
      DetectorFn
        .over(samples, new DifferentialThresholdDetector(120.0, 1, 0, None))
        .map(ev => (uid, trace(ev.time.toInt).ts, ev.pulseHeight))
    })
    assert(replay.nonEmpty, "fixture must produce pulses")
    assert(rows("q_threshold_events_differential") === replay)
    assert(rows("q_threshold_events_differential_expr") === replay)
  }

  test("trace-file DSv2 scan plans with pruned output columns") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("plan_gtf").resolve("t.gtf").toString
    graft.sources.TraceFile.write(path, 1.0,
      (0 until 4).map(i => (1000L + i, Array.fill(1)(Array.fill(8)(i)))))
    val df = spark.read.format("trace-file").load(path).select(col("timestamp_ns"))
    val p = plan(df)
    assert(p.contains("BatchScan"))
    assert(!p.contains("channels"), "pruned column must not appear in the scan output")
  }
}
