package graft.streaming

import graft.schemas._
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming frame assembly (A2) on Spark 4's `transformWithState` —
  * the pipeline's one streaming rendering of the reference's
  * digitiser-aggregator cache (`digitiser-aggregator/src/frame/cache.rs:49-142`);
  * the batch [[graft.operators.FrameAssembly]] is its reference
  * implementation (StreamingSpec locks the two to the same frame set).
  *
  *   - per-digitiser contributions live in a typed `MapState`, and a
  *     call's rows merge in memory with any stored partial: only a frame
  *     that stays partial writes its NEW contributions (one map entry
  *     each, never a rewrite of the whole frame), so a frame whose
  *     digitisers all arrive within one micro-batch stores no events at
  *     all, only the small tombstone below;
  *   - the reference's TTL-from-FIRST-message (`partial.rs:30-31`) maps
  *     onto a REAL registered timer, armed once when the first
  *     contribution seeds the frame and left alone afterwards — unlike
  *     `GroupStateTimeout`, which clears on every function call and
  *     must be defensively re-armed;
  *   - completeness (`partial.rs:56-60`) dispatches early, deletes the
  *     pending flush timer, and re-purposes the key as a tombstone with
  *     its own TTL timer absorbing late redeliveries (`cache.rs:55-63`,
  *     monotone dispatch); duplicate digitisers are rejected
  *     (`cache.rs:71-74`); veto flags OR together.
  *
  * Accepted window (reference parity, ADVICE r8): once a tombstone's —
  * or a TTL-flushed partial's — timer fires, the key's state clears
  * entirely. A redelivery arriving after that re-seeds the frame and can
  * eventually emit a SECOND (incomplete) frame with the same
  * frameNumber. The reference's per-frame cache behaves the same way
  * (expired frames are popped, `cache.rs:55-63`, so a late push starts
  * a fresh entry) — but the reference ALSO holds a global
  * `latest_timestamp_dispatched` monotone guard that rejects anything
  * at or before the last dispatched frame, which a per-key TWS state
  * cannot reproduce (cross-key ordering is exactly what keyed state
  * partitions away). So the re-seed window here is WIDER than the
  * reference's: a deliberate, test-locked deviation (ADVICE r8), not
  * exact parity — deduplicating across the expiry horizon would need
  * unbounded per-frame memory, which neither engine pays. Locked by
  * the StreamingSpec tombstone test (post-expiry re-seed scenario).
  *
  * Scale: state per in-flight frame only (TTL × frame rate × digitiser
  * count), keyed writes through the RocksDB provider `transformWithState`
  * requires; one shuffle on the frame key, as in the batch operator. The
  * pipeline jobs shuffle into ONE partition (`PipelineJobs`' assembler
  * conf): a TTL of frames is tens of rows, so one commit per micro-batch.
  */
object FrameAssemblyTws {

  /** One digitiser's SoA contribution to a frame. */
  final case class Contribution(time: Array[Long], voltage: Array[Int], channel: Array[Long])

  /** Frame-level accumulator: OR'd veto flags, tombstone flag, and the
    * currently armed timer's timestamp (timers are addressed by value —
    * re-arming must delete the old one).
    */
  final case class FrameMeta(vetoFlags: Int, dispatched: Boolean, timerMs: Long)

  // derived once per JVM: `Encoders.product` reflects over the case class,
  // and `init` runs for every partition of every micro-batch
  private lazy val contributionEnc = Encoders.product[Contribution]
  private lazy val metaEnc = Encoders.product[FrameMeta]

  /** A message stamped with its DELIVERY time — the event-time clock for
    * [[assembleEventTime]]. Production maps this to the broker ingestion
    * timestamp; the frame KEY still comes from the message metadata, so
    * a redelivery of an old frame carries a fresh delivery time and the
    * TTL arithmetic runs on replayable stream time instead of the
    * executor wall clock.
    */
  final case class TimedMessage(msg: EventListMessage, eventTime: java.sql.Timestamp)

  /** One processor, two clocks: the TTL/tombstone state machine is
    * identical for processing-time and event-time operation — `rowNowMs`
    * injects the clock (wall clock for [[assemble]]; the row's delivery
    * timestamp for [[assembleEventTime]], where timers fire on watermark
    * passage and the whole path is deterministic under replay).
    */
  final class Processor[I](
      expectedDigitizers: Seq[Int],
      ttlMs: Long,
      toMsg: I => EventListMessage,
      rowNowMs: (I, TimerValues) => Long)
      extends StatefulProcessor[FrameKey, I, AssembledFrame] {

    private val expected = expectedDigitizers.sorted

    @transient private var contribs: MapState[Int, Contribution] = _
    @transient private var meta: ValueState[FrameMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      contribs = getHandle.getMapState[Int, Contribution](
        "contribs", Encoders.scalaInt, contributionEnc, TTLConfig.NONE)
      meta = getHandle.getValueState[FrameMeta]("meta", metaEnc, TTLConfig.NONE)
    }

    /** `contributions` keyed and ordered by digitiser id. */
    private def emit(
        key: FrameKey,
        contributions: scala.collection.SortedMap[Int, Contribution],
        vetoFlags: Int): AssembledFrame = {
      val cs = contributions.values.toSeq
      AssembledFrame(
        metadata = FrameMetadata(key.timestampNs, key.periodNumber, key.protonsPerPulse,
          key.running, key.frameNumber, vetoFlags),
        time = Array.concat(cs.map(_.time): _*),
        voltage = Array.concat(cs.map(_.voltage): _*),
        channel = Array.concat(cs.map(_.channel): _*),
        complete = contributions.keys.toSeq == expected,
        digitizersPresent = contributions.keys.toArray)
    }

    override def handleInputRows(
        key: FrameKey,
        rows: Iterator[I],
        timerValues: TimerValues): Iterator[AssembledFrame] = {
      // bounded materialization: one key's rows within one micro-batch
      // (≤ digitiser count in steady state) — needed because "now" under
      // the event-time clock is the LATEST delivery time in the batch
      val rs = rows.toVector
      if (rs.isEmpty) return Iterator.empty // data-less invocation: no-op
      val now = rs.iterator.map(rowNowMs(_, timerValues)).max
      val stored = Option(meta.get())
      val m = stored.getOrElse(FrameMeta(0, dispatched = false, timerMs = -1L))
      if (m.dispatched) {
        // late message after dispatch → reject; extend the tombstone so
        // a redelivery burst keeps being absorbed (cache.rs:55-63)
        getHandle.deleteTimer(m.timerMs)
        val t = now + ttlMs
        getHandle.registerTimer(t)
        meta.update(m.copy(timerMs = t))
        Iterator.empty
      } else {
        // a stored non-tombstone meta marks a partial whose contributions
        // are in `contribs`; merge them with this call's rows in memory
        val merged = scala.collection.mutable.TreeMap.empty[Int, Contribution]
        if (stored.isDefined) contribs.iterator().foreach { case (d, c) => merged(d) = c }
        val fresh = scala.collection.mutable.ArrayBuffer.empty[Int]
        var veto = m.vetoFlags
        rs.foreach { row =>
          val msg = toMsg(row)
          if (!merged.contains(msg.digitizerId)) {
            merged(msg.digitizerId) = Contribution(msg.time, msg.voltage, msg.channel)
            fresh += msg.digitizerId
            veto |= msg.metadata.vetoFlags
          } // duplicate digitiser → rejected (cache.rs:71-74)
        }
        if (merged.keys.toSeq == expected) {
          // completeness dispatch (partial.rs:56-60): cancel the pending
          // flush, emit, convert the key into a TTL'd tombstone
          if (stored.isDefined) contribs.clear()
          if (m.timerMs >= 0) getHandle.deleteTimer(m.timerMs)
          val t = now + ttlMs
          getHandle.registerTimer(t)
          meta.update(FrameMeta(veto, dispatched = true, timerMs = t))
          Iterator.single(emit(key, merged, veto))
        } else {
          // TTL measured from the FIRST message (partial.rs:30-31): arm
          // exactly once; later contributions do NOT extend the deadline
          fresh.foreach(d => contribs.updateValue(d, merged(d)))
          val t =
            if (m.timerMs >= 0) m.timerMs
            else { val first = now + ttlMs; getHandle.registerTimer(first); first }
          meta.update(FrameMeta(veto, dispatched = false, timerMs = t))
          Iterator.empty
        }
      }
    }

    override def handleExpiredTimer(
        key: FrameKey,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AssembledFrame] = {
      val m = Option(meta.get())
      meta.clear()
      m match {
        case Some(p) if !p.dispatched =>
          // TTL flush of the partial frame
          val partial = scala.collection.immutable.TreeMap.from(contribs.iterator())
          contribs.clear()
          Iterator.single(emit(key, partial, p.vetoFlags))
        case _ => Iterator.empty // tombstone expiry: `contribs` is already empty
      }
    }
  }

  /** Assemble dev2 event-list messages into frames. The query must start
    * under the RocksDB provider (`transformWithState` contract): the
    * [[PipelineJobs]] jobs pin [[graft.Sessions.StateStoreProfile]] for
    * their `start()`, and any other caller applies it with
    * [[graft.Sessions.stateStoreConfigure]].
    */
  def assemble(
      dev2: Dataset[EventListMessage],
      expectedDigitizers: Seq[Int],
      ttlMs: Long = 500L): Dataset[AssembledFrame] = {
    implicit val keyEnc = Encoders.product[FrameKey]
    implicit val outEnc = Encoders.product[AssembledFrame]
    dev2
      .groupByKey(m => FrameKey.of(m.metadata))
      .transformWithState(
        new Processor[EventListMessage](
          expectedDigitizers,
          ttlMs,
          identity,
          (_, tv) => tv.getCurrentProcessingTimeInMs()),
        TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Event-time twin of [[assemble]]: the same state machine on
    * DELIVERY-time timers. TTL deadlines are computed from each row's
    * [[TimedMessage.eventTime]] and fire when the WATERMARK passes them —
    * no executor wall clock anywhere, so expiry is deterministic under
    * replay and testable by sentinel watermark jumps instead of sleeps
    * (r10 ask #6). The zero-lateness watermark is correct here because
    * the delivery clock is monotone by construction (a broker hands rows
    * out in ingestion order).
    */
  def assembleEventTime(
      timed: Dataset[TimedMessage],
      expectedDigitizers: Seq[Int],
      ttlMs: Long = 500L): Dataset[AssembledFrame] = {
    implicit val keyEnc = Encoders.product[FrameKey]
    implicit val outEnc = Encoders.product[AssembledFrame]
    timed
      .withWatermark("eventTime", "0 seconds")
      .groupByKey(t => FrameKey.of(t.msg.metadata))
      .transformWithState(
        new Processor[TimedMessage](
          expectedDigitizers,
          ttlMs,
          _.msg,
          (t, _) => t.eventTime.getTime),
        TimeMode.EventTime(),
        OutputMode.Append())
  }
}
