package graft.operators

import graft.schemas.{RunStart, RunStop}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** Run lifecycle (batch form): build the run dimension from pl72/6s4t
  * control messages and interval-join data streams to it (SURVEY §2.7
  * J1–J3, `/root/reference/nexus-writer/src/run_engine/engine.rs:190-309`).
  *
  * Reference semantics replicated:
  *   - a RunStop applies to the latest run with a matching name and no
  *     stop yet (`engine.rs:290-309`); stop_time == 0 means "stop NOW"
  *     and MUST be pre-resolved by the caller to a concrete timestamp
  *     (the stream path resolves it at ingest time in
  *     [[graft.streaming.RunStream]]) — an unresolved
  *     0-stop fails the strict `stop_ns > collect_from_ns` pairing
  *     filter below and is dropped, leaving the run open;
  *   - a new RunStart aborts an unstopped predecessor (`engine.rs:199-204`):
  *     the predecessor's effective end becomes the successor's start;
  *   - J1 (frames): run with `collect_from < ts` and (`no stop` or
  *     `ts < collect_until`), first such run in start order
  *     (`run_parameters.rs:156-178`);
  *   - J2 (logs/alarms): any run not ending before ts — ts may precede the
  *     start (`run_parameters.rs:170-178`), earliest-starting match wins.
  *
  * Scale: runs are a tiny dimension (one row per run) — the joins
  * broadcast it, so assignment is map-side against 100 TB of frames.
  */
object RunAssignment {

  /** Pair starts with stops into run intervals [collect_from_ns,
    * collect_until_ns (nullable)), applying latest-match stop pairing and
    * abort-on-restart. 0-stops ("stop NOW", `run_parameters.rs:94-127`)
    * must be pre-resolved to a wall-clock; unresolved ones are dropped.
    */
  def runs(starts: Dataset[RunStart], stops: Dataset[RunStop]): DataFrame = {
    val st = starts
      .withColumnRenamed("runName", "run_name")
      .withColumn("collect_from_ns", col("startTimeMs") * 1000000L)
    val sp = stops
      .select(col("runName").as("run_name"), (col("stopTimeMs") * 1000000L).as("stop_ns"))
    // Reference pairing (engine.rs:290-309): a stop applies to the LATEST
    // run started at-or-before it with a matching name — never to an
    // earlier generation of a reused name — and must be strictly after
    // that start (run_parameters.rs:105-116). Pair each stop with its
    // latest preceding start, then close each start at its earliest
    // paired stop.
    val latestStart = Window
      .partitionBy(col("run_name"), col("stop_ns"))
      .orderBy(col("collect_from_ns").desc)
    val paired = sp
      .join(st.select(col("run_name"), col("collect_from_ns")), Seq("run_name"))
      .filter(col("stop_ns") > col("collect_from_ns"))
      .withColumn("_rn", row_number().over(latestStart))
      .filter(col("_rn") === 1)
      .groupBy(col("run_name"), col("collect_from_ns"))
      .agg(min(col("stop_ns")).as("stop_ns"))
    // global (no-partition) window — deliberate: the run dimension is one
    // row per run transition (a facility records thousands of runs, not
    // billions), so the single-partition sort is bounded and the lead()
    // needs total start order for abort-on-restart capping
    val nextStart = Window.orderBy(col("collect_from_ns"))
    st.join(paired, Seq("run_name", "collect_from_ns"), "left")
      .select(
        col("run_name"),
        col("instrumentName").as("instrument_name"),
        col("nPeriods").as("n_periods"),
        col("collect_from_ns"),
        col("stop_ns"))
      .withColumn("next_start_ns", lead(col("collect_from_ns"), 1).over(nextStart))
      // abort semantics (engine.rs:199-204): a successor's start caps the
      // run even when a (late) stop postdates it — otherwise intervals
      // would overlap and frames after a same-name restart would attach
      // to the wrong generation.
      .withColumn(
        "collect_until_ns",
        when(
          col("stop_ns").isNotNull && col("next_start_ns").isNotNull,
          least(col("stop_ns"), col("next_start_ns")))
          .otherwise(coalesce(col("stop_ns"), col("next_start_ns"))))
      .drop("stop_ns", "next_start_ns")
  }

  /** Shared machinery for J1/J2: the run dimension is
    * control-plane-bounded (one row per run transition — thousands,
    * never billions; the global sort in [[runs]] already rests on
    * this), so instead of a broadcast non-equi join + per-row
    * first-match window — a full shuffle of the data stream for the
    * window alone — the sorted intervals are collected once and
    * inlined as an array literal: assignment is `filter(runs,
    * accept)[0]`, a codegen'd zero-shuffle map. First match in start
    * order ≡ the earliest accepted run. Distinct rows sharing a
    * timestamp trivially each keep their row — no join to multiply
    * them, no window key to collapse them. Unmatched rows drop
    * (inner-join semantics); the lifecycle job counts its dropped frames
    * in `NexusSink.framesUnassigned`.
    */
  /** Fail-closed bound on the run-dimension collect (ADVICE r7): the
    * zero-shuffle literal-array design is only valid because runs are a
    * control-plane dimension; nothing structural stops a miswired caller
    * from passing a fact table, which would OOM the driver or blow JVM
    * codegen limits. Matching the fail-closed standard elsewhere
    * (TraceFileSource, NexusSink), the collect is bounded: we fetch at
    * most cap+1 rows and abort with deployment advice when exceeded.
    * Overridable per-deployment via `graft.runAssignment.maxRuns` (an
    * integer ≥ 1; anything else throws naming the property).
    * Per-row assignment cost is O(|runs|) (linear `filter(...)[0]`) —
    * fine at the thousands this cap admits, which is why the default IS
    * thousands: far beyond that, the inlined literal array degrades
    * LONG before the driver OOMs (a 50k-struct literal is ~500k
    * expression nodes to fold and a 50k-iteration lambda per fact row),
    * so a permissive cap would "pass" inputs the mechanism can no
    * longer serve. Genuinely larger dimensions belong in a broadcast
    * range join, not a bigger cap.
    */
  private[graft] def maxCollectedRuns: Int =
    graft.Sessions.intKnob(sys.props.toMap, "graft.runAssignment.maxRuns", default = 5000, min = 1)

  private def firstMatchAssign(
      input: DataFrame,
      runs: DataFrame,
      accept: Column => Column): DataFrame = {
    val schema = runs.schema
    val keep = schema.fields.filterNot(_.name == "collect_until_ns")
    def spliceRunCols(df: DataFrame, value: StructField => Column): DataFrame =
      keep.foldLeft(df) { (d, f) =>
        val name = if (f.name == "collect_from_ns") "run_start_ns" else f.name
        d.withColumn(name, value(f))
      }
    val cap = maxCollectedRuns
    val fetched = runs.limit(cap + 1).collect()
    if (fetched.length > cap)
      throw new IllegalArgumentException(
        s"RunAssignment: the runs input exceeds $cap rows — this operator " +
          "inlines the run dimension as a broadcast literal and is only " +
          "valid for a control-plane-bounded dimension (one row per run " +
          "transition). A runs input this large is almost certainly a " +
          "miswired fact table; if the dimension is genuinely this big, " +
          "raise -Dgraft.runAssignment.maxRuns or rewrite the assignment " +
          "as a broadcast range join.")
    val rows = fetched.sortBy(_.getAs[Long]("collect_from_ns"))
    if (rows.isEmpty)
      return spliceRunCols(input, f => lit(null).cast(f.dataType)).filter(lit(false))
    val runArr = array(rows.map { r =>
      struct(schema.fields.map { f =>
        val v = r.get(schema.fieldIndex(f.name))
        (if (v == null) lit(null).cast(f.dataType) else lit(v)).as(f.name)
      }: _*)
    }: _*)
    val hit = get(filter(runArr, accept), lit(0))
    spliceRunCols(
      input.withColumn("_run", hit).filter(col("_run").isNotNull),
      f => col("_run").getField(f.name))
      .drop("_run")
  }

  /** J1: attach frames (any DataFrame with a `metadata.timestampNs`) to
    * their run; unmatched frames are dropped, as the reference drops
    * frames with no open run (`engine.rs:214-238`). The frame rule is
    * the half-open window with a STRICT lower bound: strictly after
    * start, before end when one exists.
    */
  def assignFrames(frames: DataFrame, runs: DataFrame): DataFrame = {
    val ts = col("metadata.timestampNs")
    firstMatchAssign(
      frames,
      runs,
      x =>
        x.getField("collect_from_ns") < ts &&
          (x.getField("collect_until_ns").isNull ||
            ts < x.getField("collect_until_ns")))
  }

  /** J2: attach logs/alarms (any DataFrame with a `timestampNs` column)
    * to the earliest run not ending before the log timestamp — logs may
    * precede the run start (`engine.rs:240-288`).
    */
  def assignLogs(logs: DataFrame, runs: DataFrame): DataFrame =
    firstMatchAssign(
      logs,
      runs,
      x =>
        x.getField("collect_until_ns").isNull ||
          col("timestampNs") < x.getField("collect_until_ns"))
}
