package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** NXevent_data table pair: the relational mirror of the reference's
  * per-run NeXus HDF5 layout (SURVEY §1.4,
  * `/root/reference/nexus-writer/src/nexus_structure/entry/event_data.rs:34-106`):
  *
  *   - event table (per event): `pulse_height: double`, `event_id` (the
  *     channel), `event_time_offset` ns within the frame;
  *   - frame table (per frame): `event_time_zero` ns relative to the run
  *     start, `event_index` — the running count of events before each
  *     frame (`event_data.rs:196,236-244`, SURVEY §2.6 A3) — plus
  *     period/frame number and status flags.
  *
  * Scale: the `event_index` window partitions by run — a run's frame list
  * is the unit the reference also keeps ordered in one file, bounded in
  * size (frames-per-run), so the per-partition sort is safe; nothing here
  * shuffles the (much larger) event rows except the explode, which is
  * narrow.
  */
object NexusTables {

  /** Frame table with running event offsets. Input: assembled frames
    * (aev2 layout from [[FrameAssembly.assemble]]) with a `run_name`
    * column and `run_start_ns` per frame (from [[RunAssignment]]).
    */
  def frameTable(assignedFrames: DataFrame): DataFrame = {
    // a run's identity is (run_name, run_start_ns): generations of a
    // reused name each restart their own event_index at 0
    val w = Window
      .partitionBy(col("run_name"), col("run_start_ns"))
      .orderBy(col("metadata.timestampNs"))
      .rowsBetween(Window.unboundedPreceding, -1)
    assignedFrames.select(
      col("run_name"),
      col("run_start_ns"),
      (col("metadata.timestampNs") - col("run_start_ns")).as("event_time_zero"),
      coalesce(sum(size(col("time")).cast("long")).over(w), lit(0L)).as("event_index"),
      col("metadata.periodNumber").as("period_number"),
      col("metadata.frameNumber").as("frame_number"),
      col("complete").as("frame_complete"),
      col("metadata.running").as("running"),
      col("metadata.vetoFlags").as("veto_flags"))
  }

  /** Event table: one row per detected event, frame-relative time. */
  def eventTable(assignedFrames: DataFrame): DataFrame =
    assignedFrames
      .select(
        col("run_name"),
        col("run_start_ns"),
        col("metadata.timestampNs").as("frame_ts_ns"),
        explode(arrays_zip(col("time"), col("voltage"), col("channel"))).as("ev"))
      .select(
        col("run_name"),
        col("run_start_ns"),
        col("frame_ts_ns"),
        col("ev.voltage").cast("double").as("pulse_height"),
        col("ev.channel").as("event_id"),
        col("ev.time").as("event_time_offset"))
}
