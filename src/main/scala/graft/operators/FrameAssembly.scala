package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schemas.EventListMessage

/** Frame assembly: dev2 event lists → aev2 assembled frames (SURVEY §2.6
  * A2 — the central aggregation of `digitiser-aggregator`).
  *
  * Semantics from `/root/reference/digitiser-aggregator/src/frame/`:
  *   - group by frame metadata EXCLUDING veto flags
  *     (`frame_metadata.rs:17-31`);
  *   - OR the veto flags across digitisers (`partial.rs:80-82`);
  *   - drop duplicate (frame, digitiser) messages (`cache.rs:71-74`);
  *   - concatenate the SoA `time/voltage/channel` vectors across
  *     digitisers (`data/event.rs:112-126`);
  *   - record the sorted digitiser-id list and a `complete` flag —
  *     present ids equal the expected set (`partial.rs:43-60`).
  *
  * One deviation, documented: the reference concatenates in message-arrival
  * order; a batch engine has no arrival order, so we concatenate in
  * ascending digitiser id — deterministic and set-equivalent.
  *
  * Scale: exactly one shuffle, keyed by the frame identity. Partial
  * (map-side) aggregation applies to `collect_list` per key; key
  * cardinality = frames, values bounded by events-per-frame — no skew
  * (every frame has ≤ #digitisers contributions). The TTL/streaming
  * variant lives in [[graft.streaming.FrameAssemblyTws]].
  */
object FrameAssembly {

  /** Batch assembly. Input may contain duplicate (frame, digitiser)
    * messages; the smallest payload struct per digitiser wins
    * (deterministic stand-in for the reference's first-arrival-wins —
    * batch input has no arrival order).
    *
    * ONE shuffle total: duplicate rejection happens inside the collected
    * array (sort, then drop entries whose digitiser id equals their
    * predecessor's) instead of a separate dropDuplicates, which would add
    * a second full-data exchange — at 100 TB that second shuffle is the
    * difference between one pass and two over the event stream.
    */
  def assemble(dev2: Dataset[EventListMessage], expectedDigitizers: Seq[Int]): DataFrame = {
    val expected = expectedDigitizers.sorted
    val keyCols: Seq[Column] = Seq(
      col("metadata.timestampNs"),
      col("metadata.periodNumber"),
      col("metadata.protonsPerPulse"),
      col("metadata.running"),
      col("metadata.frameNumber"))
    dev2
      .groupBy(keyCols: _*)
      .agg(
        // vetoFlags rides LAST in the sorted struct so the
        // smallest-payload-wins order is unchanged except between
        // payload-identical duplicates (where either choice is lawful)
        sort_array(collect_list(struct(
          col("digitizerId"),
          col("time"),
          col("voltage"),
          col("channel"),
          col("metadata.vetoFlags").as("vetoFlags")))).as("per_dig_all"))
      // duplicate-digitiser rejection (cache.rs:71-74): keep the first
      // entry of each id in the sorted array
      .withColumn(
        "per_dig",
        filter(
          col("per_dig_all"),
          (x, i) =>
            i === lit(0) ||
              element_at(col("per_dig_all"), i).getField("digitizerId") =!=
                x.getField("digitizerId")))
      // veto OR over the ACCEPTED contributions only — a rejected
      // duplicate's flags must not leak into the assembled frame (the
      // reference rejects the whole message before its flags are read,
      // and the streaming assembler ORs per accepted contribution)
      .withColumn(
        "vetoFlags",
        expr("aggregate(per_dig, 0, (a, x) -> a | x.vetoFlags)"))
      .select(
        struct(
          col("timestampNs"),
          col("periodNumber"),
          col("protonsPerPulse"),
          col("running"),
          col("frameNumber"),
          col("vetoFlags")).as("metadata"),
        flatten(col("per_dig.time")).as("time"),
        flatten(col("per_dig.voltage")).as("voltage"),
        flatten(col("per_dig.channel")).as("channel"),
        col("per_dig.digitizerId").as("digitizersPresent"),
        (col("per_dig.digitizerId") === lit(expected.toArray)).as("complete"))
  }
}
