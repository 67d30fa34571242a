package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-run log tables for the NeXus sink layout — the relational mirror
  * of the reference run file's `runlog/`, `selog/` and (alarm-annotated)
  * sample-environment groups
  * (`/root/reference/nexus-writer/src/nexus_structure/entry/mod.rs:66-106`).
  * Input to every builder is a RUN-ASSIGNED message frame
  * ([[RunAssignment.assignLogs]] output: the wire columns plus
  * `run_name`/`run_start_ns`) — assignment happens per MESSAGE on the
  * message timestamp, as the reference routes each message to a run
  * before appending (`run_engine/engine.rs:240-288`); the per-sample
  * expansion here is the append step (`nexus/logs/f114.rs:25-59`,
  * `nexus/logs/se00.rs:71-105`).
  *
  * All three expansions are narrow (explode only — no shuffle): the sink
  * writes them straight to `(run_name, run_start_ns, batch_id)` partition
  * dirs from the executors. Times are kept as absolute ns (`time_ns`)
  * plus the run-relative seconds the reference file stores (`time_sec`).
  */
object LogTables {

  /** P9 prefix strip as a column function — the single definition shared
    * by the sink tables and the batch/oracle queries. Pure built-in:
    * `substring_index(name, ':CS:SB:', -1)` IS "everything after the
    * last marker, pass-through when absent" (codegen'd, no UDF —
    * semantics locked against [[TimeFunctions.removePrefixes]] in
    * FunctionsSpec).
    */
  private[graft] def strip(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring_index(name, ":CS:SB:", -1)

  /** F10 severity enum → code, shared with
    * [[graft.queries.LogQueries.alarmSeverity]] so the streaming alarm
    * table and the oracle query cannot drift.
    */
  private[graft] def severityCode(severity: org.apache.spark.sql.Column) =
    when(severity === "OK", 0)
      .when(severity === "MINOR", 1)
      .when(severity === "MAJOR", 2)
      .otherwise(3)

  private def relSec(tsNs: org.apache.spark.sql.Column) =
    round((tsNs - col("run_start_ns")).cast("double") / 1e9, 9)

  /** f144 run-log append (`nexus/logs/f114.rs:25-59`): the 20-variant
    * value union becomes per-sample rows under a type tag — scalars one
    * row, arrays one row per element. Expects assigned [[graft.schemas.LogData]]
    * columns.
    */
  def runlogTable(assigned: DataFrame): DataFrame = {
    val keys = Seq(
      strip(col("sourceName")).as("source"),
      col("valueType").as("value_type"),
      col("timestampNs").as("time_ns"),
      relSec(col("timestampNs")).as("time_sec"),
      col("run_name"),
      col("run_start_ns"))
    // generators can't sit inside when/otherwise — split the union by tag
    val scalars = assigned
      .filter(!col("valueType").startsWith("Array"))
      .select(keys :+ col("value").as("value"): _*)
    val arrays = assigned
      .filter(col("valueType").startsWith("Array"))
      .select(keys :+ explode(col("arrayValue")).as("value"): _*)
    scalars.union(arrays)
  }

  /** se00 sample-environment append (`nexus/logs/se00.rs:71-105`):
    * per-sample timestamps from the explicit array when present, else
    * `packet_timestamp + i × time_delta`. Expects assigned
    * [[graft.schemas.SampleEnvLog]] columns (message assigned on its
    * packet timestamp).
    */
  def selogTable(assigned: DataFrame): DataFrame =
    assigned
      .select(
        strip(col("name")).as("source"),
        col("channel"),
        col("packetTimestampNs"),
        col("timeDelta"),
        col("timestampLocation").as("location"),
        col("timestamps"),
        col("run_name"),
        col("run_start_ns"),
        posexplode(col("values")).as(Seq("sample_idx", "value")))
      .withColumn(
        "time_ns",
        // per-SAMPLE guard, not just non-empty: under Spark 4's default
        // ANSI mode `timestamps[sample_idx]` THROWS on a truncated
        // timestamps vector (shorter than values) and would kill the
        // whole batch — short rows fall back to the delta grid instead
        when(size(col("timestamps")) > col("sample_idx"), expr("timestamps[sample_idx]"))
          .otherwise(col("packetTimestampNs") +
            (col("sample_idx").cast("double") * col("timeDelta")).cast("long")))
      .select(
        col("source"),
        col("channel"),
        col("sample_idx"),
        col("location"),
        col("time_ns"),
        relSec(col("time_ns")).as("time_sec"),
        col("value"),
        col("run_name"),
        col("run_start_ns"))

  /** al00 alarm append (`schemas/ecs_al00_alarm.fbs:12-17` + the F10
    * severity enum). Expects assigned [[graft.schemas.Alarm]] columns.
    */
  def alarmTable(assigned: DataFrame): DataFrame =
    assigned.select(
      strip(col("sourceName")).as("source"),
      col("severity"),
      severityCode(col("severity")).as("severity_code"),
      col("message"),
      col("timestampNs").as("time_ns"),
      relSec(col("timestampNs")).as("time_sec"),
      col("run_name"),
      col("run_start_ns"))
}
