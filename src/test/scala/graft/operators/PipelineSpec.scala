package graft.operators

import graft.dsp.{DetectorSettings, FixedThreshold}
import graft.schemas._
import graft.sources.TraceGenerator
import graft.sources.TraceGenerator.GeneratorConfig
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline semantics locked to the reference's aggregator tests
  * (`/root/reference/digitiser-aggregator/src/frame/cache.rs:150-387`,
  * `data/event.rs:159-236`) plus the SURVEY §7.2 end-to-end slice.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def meta(vetoFlags: Int = 0): FrameMetadata =
    FrameMetadata(
      timestampNs = 1700000000000000000L,
      periodNumber = 1L,
      protonsPerPulse = 4,
      running = true,
      frameNumber = 7L,
      vetoFlags = vetoFlags)

  /** Mirror of `EventData::dummy_data` (`data/event.rs:37-63`): per
    * channel, times = offset..offset+n, intensity = offset, channel
    * repeated n times.
    */
  private def dummy(did: Int, timeOffset: Int, n: Int, channels: Seq[Long], vetoFlags: Int = 0) =
    EventListMessage(
      digitizerId = did,
      metadata = meta(vetoFlags),
      time = channels.flatMap(_ => timeOffset until (timeOffset + n)).map(_.toLong).toArray,
      voltage = Array.fill(channels.length * n)(timeOffset),
      channel = channels.flatMap(c => Seq.fill(n)(c)).toArray)

  test("frame assembly: four expected digitisers complete (cache.rs:156-232)") {
    import spark.implicits._
    val msgs = Seq(
      dummy(0, 10, 3, Seq(0L, 1L)),
      dummy(1, 20, 3, Seq(8L, 9L)),
      dummy(4, 30, 3, Seq(32L, 33L)),
      dummy(8, 40, 3, Seq(64L, 65L)))
    val out = FrameAssembly.assemble(msgs.toDS(), Seq(0, 1, 4, 8)).collect()
    assert(out.length === 1)
    val row = out.head
    assert(row.getAs[Boolean]("complete"))
    assert(row.getAs[scala.collection.Seq[Int]]("digitizersPresent") === Seq(0, 1, 4, 8))
    // concat in ascending digitiser order: did 0 times (10..12 ×2ch), then 1, 4, 8
    val times = row.getAs[scala.collection.Seq[Long]]("time")
    assert(times === Seq(10L, 11L, 12L, 10L, 11L, 12L, 20L, 21L, 22L, 20L, 21L, 22L,
      30L, 31L, 32L, 30L, 31L, 32L, 40L, 41L, 42L, 40L, 41L, 42L))
    val channels = row.getAs[scala.collection.Seq[Long]]("channel")
    assert(channels === Seq(0L, 0L, 0L, 1L, 1L, 1L, 8L, 8L, 8L, 9L, 9L, 9L,
      32L, 32L, 32L, 33L, 33L, 33L, 64L, 64L, 64L, 65L, 65L, 65L))
  }

  test("frame assembly: incomplete frame keeps present list (cache.rs:234-301)") {
    import spark.implicits._
    val msgs = Seq(dummy(0, 1, 2, Seq(0L)), dummy(1, 2, 2, Seq(8L)), dummy(8, 3, 2, Seq(64L)))
    val out = FrameAssembly.assemble(msgs.toDS(), Seq(0, 1, 4, 8)).collect()
    assert(out.length === 1)
    assert(!out.head.getAs[Boolean]("complete"))
    assert(out.head.getAs[scala.collection.Seq[Int]]("digitizersPresent") === Seq(0, 1, 8))
  }

  test("frame assembly: veto flags OR'd, identity ignores them (cache.rs:343-386)") {
    import spark.implicits._
    val msgs = Seq(
      dummy(0, 1, 1, Seq(0L), vetoFlags = 1),
      dummy(1, 2, 1, Seq(8L), vetoFlags = 4),
      dummy(4, 3, 1, Seq(32L), vetoFlags = 0),
      dummy(8, 4, 1, Seq(64L), vetoFlags = 8))
    val out = FrameAssembly.assemble(msgs.toDS(), Seq(0, 1, 4, 8)).collect()
    assert(out.length === 1)
    assert(out.head.getAs[org.apache.spark.sql.Row]("metadata").getAs[Int]("vetoFlags") === 13)
    assert(out.head.getAs[Boolean]("complete"))
  }

  test("frame assembly: duplicate digitiser rejected (cache.rs:71-74)") {
    import spark.implicits._
    val msgs = Seq(dummy(0, 1, 2, Seq(0L)), dummy(0, 9, 5, Seq(1L)), dummy(1, 2, 2, Seq(8L)))
    val out = FrameAssembly.assemble(msgs.toDS(), Seq(0, 1)).collect()
    assert(out.length === 1)
    // exactly one contribution from digitiser 0 (2 events × 1 channel) + one from 1
    assert(out.head.getAs[scala.collection.Seq[Long]]("time").length === 4)
  }

  test("event formation matches reference vectors through the full message path") {
    import spark.implicits._
    val trace = Array(0, 1, 2, 1, 0, 1, 2, 1, 8, 0, 2, 8, 3, 1, 2)
    val msgs = Seq(
      TraceMessage(0, meta(), 1000000000L,
        Array(ChannelTrace(0L, trace), ChannelTrace(1L, trace))),
      TraceMessage(1, meta(), 1000000000L, Array(ChannelTrace(8L, trace))))
    val dev2 = EventFormation
      .formEvents(msgs.toDS(), DetectorSettings(FixedThreshold(5.0, 1, 0)))
      .collect()
      .sortBy(_.digitizerId)
    // processing.rs:168-214: events at t=[8,11], v=[8,8] per channel
    assert(dev2(0).time.toSeq === Seq(8L, 11L, 8L, 11L))
    assert(dev2(0).voltage.toSeq === Seq(8, 8, 8, 8))
    assert(dev2(0).channel.toSeq === Seq(0L, 0L, 1L, 1L))
    assert(dev2(1).time.toSeq === Seq(8L, 11L))
    assert(dev2(1).channel.toSeq === Seq(8L, 8L))
  }

  test("end-to-end slice: generate → detect → assemble → nexus tables (SURVEY §7.2)") {
    import spark.implicits._
    val cfg = GeneratorConfig(nFrames = 6, nDigitizers = 2, channelsPerDigitizer = 2,
      timeBins = 200, pulsesPerChannel = 4)
    val traces = TraceGenerator.traces(spark, cfg)
    assert(traces.count() === 12)

    val dev2 = EventFormation.formEvents(traces, DetectorSettings(
      FixedThreshold(threshold = 100.0), baseline = 50.0))
    val aev2 = FrameAssembly.assemble(dev2, Seq(0, 1)).cache()
    assert(aev2.count() === 6)
    assert(aev2.filter(org.apache.spark.sql.functions.col("complete")).count() === 6)

    // attach to a single static run and build the NXevent_data pair
    val assigned = aev2
      .withColumn("run_name", org.apache.spark.sql.functions.lit("run_1"))
      .withColumn("run_start_ns", org.apache.spark.sql.functions.lit(cfg.startTimestampNs - 1L))
    val frames = NexusTables.frameTable(assigned).orderBy("event_time_zero").collect()
    val events = NexusTables.eventTable(assigned)
    assert(frames.length === 6)
    // event_index = running event count before each frame (event_data.rs:196)
    val counts = assigned
      .orderBy("metadata.timestampNs")
      .select(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("time")))
      .collect()
      .map(_.getInt(0).toLong)
    val expectedIndex = counts.scanLeft(0L)(_ + _).dropRight(1)
    assert(frames.map(_.getAs[Long]("event_index")).toSeq === expectedIndex.toSeq)
    assert(events.count() === counts.sum)
    // generator determinism: same config → identical traces
    val again = TraceGenerator.traces(spark, cfg)
    assert(
      again.collect().map(_.channels.map(_.voltage.toSeq).toSeq).toSeq ===
        traces.collect().map(_.channels.map(_.voltage.toSeq).toSeq).toSeq)
  }

  test("run assignment: intervals, aborts, and half-open log rule (engine.rs:190-309)") {
    import spark.implicits._
    val starts = Seq(
      RunStart("run_a", 1000L, "muon"),
      RunStart("run_b", 2000L, "muon"), // aborts run_a (no stop seen)
      RunStart("run_c", 5000L, "muon")).toDS()
    val stops = Seq(RunStop("run_b", 3000L)).toDS()
    val runs = RunAssignment.runs(starts, stops).cache()
    val byName = runs.collect().map(r =>
      r.getAs[String]("run_name") ->
        (r.getAs[Long]("collect_from_ns"), Option(r.getAs[java.lang.Long]("collect_until_ns")))).toMap
    assert(byName("run_a") === ((1000000000L, Some(2000000000L)))) // aborted at run_b start
    assert(byName("run_b") === ((2000000000L, Some(3000000000L))))
    assert(byName("run_c") === ((5000000000L, None))) // still open

    def frameAt(ns: Long) = (FrameMetadata(ns, 0L, 0, true, ns / 1000, 0), "payload")
    val frames = Seq(frameAt(1500000000L), frameAt(2500000000L), frameAt(4000000000L),
      frameAt(9000000000L), frameAt(500000000L))
      .toDF("metadata", "payload")
    val assigned = RunAssignment.assignFrames(frames, runs)
    val got = assigned.collect().map(r =>
      r.getAs[org.apache.spark.sql.Row]("metadata").getAs[Long]("timestampNs") ->
        r.getAs[String]("run_name")).toMap
    assert(got === Map(
      1500000000L -> "run_a",
      2500000000L -> "run_b",
      9000000000L -> "run_c"))
    // 4000000000L falls in the gap, 500000000L precedes all runs → dropped

    // J2: logs may precede run start; earliest run not ending before wins
    val logs = Seq(("temp", 500000000L), ("temp", 4000000000L)).toDF("sourceName", "timestampNs")
    val logGot = RunAssignment.assignLogs(logs, runs).collect().map(r =>
      r.getAs[Long]("timestampNs") -> r.getAs[String]("run_name")).toMap
    assert(logGot === Map(500000000L -> "run_a", 4000000000L -> "run_c"))

    // distinct messages sharing (timestamp, source) — a multi-channel
    // device snapshot — each keep their row: the first-match window keys
    // on per-row identity, not payload columns
    val twin = Seq(("field", 1500000000L, 0), ("field", 1500000000L, 1))
      .toDF("sourceName", "timestampNs", "channel")
    val twinGot = RunAssignment.assignLogs(twin, runs).collect()
    assert(twinGot.length === 2, "same-(ts,source) messages must not collapse")
    assert(twinGot.map(_.getAs[Int]("channel")).sorted.toSeq === Seq(0, 1))
  }

  test("run assignment fails closed on an oversized runs dimension (ADVICE r7)") {
    import spark.implicits._
    val prev = sys.props.get("graft.runAssignment.maxRuns")
    sys.props("graft.runAssignment.maxRuns") = "50"
    try {
      val runs = spark
        .range(60)
        .select(
          concat(lit("run_"), col("id")).as("run_name"),
          (col("id") * 1000000000L).as("collect_from_ns"),
          ((col("id") + 1) * 1000000000L).as("collect_until_ns"))
      val logs = Seq(("temp", 500000000L)).toDF("sourceName", "timestampNs")
      val err = intercept[IllegalArgumentException] {
        RunAssignment.assignLogs(logs, runs)
      }
      assert(err.getMessage.contains("exceeds 50 rows"))
      assert(err.getMessage.contains("graft.runAssignment.maxRuns"))
      // below the cap the zero-shuffle literal plan is unchanged
      val ok = RunAssignment.assignLogs(logs, runs.limit(10))
      assert(ok.count() === 1)
      assert(!ok.queryExecution.executedPlan.toString.contains("Exchange"),
        "sub-cap assignment must stay zero-shuffle")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.runAssignment.maxRuns") = v
        case None => sys.props.remove("graft.runAssignment.maxRuns")
      }
    }
  }

  test("run assignment cap: a malformed graft.runAssignment.maxRuns fails closed") {
    val key = "graft.runAssignment.maxRuns"
    val prev = sys.props.get(key)
    try {
      for (bad <- Seq("5k", "0")) {
        sys.props(key) = bad
        val err = intercept[IllegalArgumentException](RunAssignment.maxCollectedRuns)
        assert(err.getMessage.contains(key) && err.getMessage.contains(s"'$bad'"), err.getMessage)
      }
    } finally {
      prev match {
        case Some(v) => sys.props(key) = v
        case None => sys.props.remove(key)
      }
    }
  }

  test("observe() metrics: events-found counters collected map-side (A6/P5)") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val cfg = GeneratorConfig(nFrames = 4, nDigitizers = 2)
    val dev2 = EventFormation.formEvents(
      TraceGenerator.traces(spark, cfg),
      DetectorSettings(FixedThreshold(threshold = 100.0), baseline = 50.0))
    val obs = Observation("a6_metrics")
    val observed = dev2.toDF().observe(
      obs,
      count(lit(1)).as("n_messages"),
      sum(size(col("time")).cast("long")).as("n_events"))
    val directEvents = observed.select(sum(size(col("time")).cast("long"))).head().getLong(0)
    val row = obs.get
    assert(row("n_messages") === 8L) // 4 frames × 2 digitisers
    assert(row("n_events") === directEvents)
    assert(directEvents > 0L)
  }
}
