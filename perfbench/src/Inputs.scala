package perfbench

import graft.schemas._

import java.util.SplittableRandom

/** Trace shape of one workload: every message carries `channels` traces
  * of `samples` samples, one message per digitiser per frame.
  */
final case class Shape(digitizers: Int, channels: Int, samples: Int) {
  def samplesPerFrame: Long = digitizers.toLong * channels * samples
}

/** The seeded input model shared by the chain workloads. Everything is a
  * pure function of (seed, frame, digitiser, channel), so a frame's bytes
  * do not depend on which thread or Spark task builds them, and the
  * planted event count of any frame can be recomputed by the checks.
  *
  * Traces are sub-threshold noise (0..15) with isolated one-sample
  * pulses (100..149) that the fixed-threshold detector (threshold 50,
  * duration 1) turns into exactly one event each, so the generator knows
  * every event it planted.
  *
  * `comb` places one pulse in every 16-sample cell (ChainSoak's
  * short-trace comb, with seeded offsets and heights); otherwise each
  * channel gets `sparsePulses` pulses in seeded 8-sample cells.
  */
final class Inputs(seed: Long, val shape: Shape, comb: Boolean, sparsePulses: Int, omitShare: Double) {

  private def rng(frame: Long, dig: Int, chan: Int): SplittableRandom = {
    // splitmix-style mix of the coordinates; SplittableRandom scrambles
    // the result again
    var h = seed * 0x9e3779b97f4a7c15L
    h = (h ^ frame) * 0xbf58476d1ce4e5b9L
    h = (h ^ (dig.toLong << 20)) * 0x94d049bb133111ebL
    h = h ^ (chan.toLong << 40) ^ (h >>> 31)
    new SplittableRandom(h)
  }

  /** The digitiser this frame omits, or -1 when the frame is whole. */
  def omitted(frame: Long): Int = {
    if (omitShare <= 0.0) -1
    else {
      val r = rng(frame, -1, -1)
      if (r.nextDouble() < omitShare) r.nextInt(shape.digitizers) else -1
    }
  }

  private def pulsePositions(r: SplittableRandom): Array[Int] =
    if (comb) Array.tabulate(shape.samples / 16)(c => c * 16 + 2 + r.nextInt(12))
    else {
      val cells = shape.samples / 8
      val n = math.min(sparsePulses, cells)
      // n distinct cells by partial Fisher-Yates, sorted
      val idx = Array.tabulate(cells)(identity)
      var i = 0
      while (i < n) {
        val j = i + r.nextInt(cells - i)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i += 1
      }
      val picked = java.util.Arrays.copyOf(idx, n)
      java.util.Arrays.sort(picked)
      picked.map(c => c * 8 + 2 + r.nextInt(4))
    }

  def eventsPerChannel: Int = if (comb) shape.samples / 16 else math.min(sparsePulses, shape.samples / 8)

  /** Events the detector must find in this frame (omitted digitiser excluded). */
  def plantedEvents(frame: Long): Long = {
    val present = if (omitted(frame) >= 0) shape.digitizers - 1 else shape.digitizers
    present.toLong * shape.channels * eventsPerChannel
  }

  def trace(frame: Long, dig: Int, timestampNs: Long): TraceMessage = {
    val channels = Array.tabulate(shape.channels) { c =>
      val r = rng(frame, dig, c)
      val v = new Array[Int](shape.samples)
      var i = 0
      while (i < v.length) { v(i) = r.nextInt(16); i += 1 }
      pulsePositions(r).foreach(p => v(p) = 100 + r.nextInt(50))
      ChannelTrace((dig * shape.channels + c).toLong, v)
    }
    TraceMessage(
      digitizerId = dig,
      metadata = FrameMetadata(
        timestampNs = timestampNs,
        periodNumber = frame % 4,
        protonsPerPulse = 4,
        running = true,
        frameNumber = frame,
        vetoFlags = 0),
      sampleRate = 1000000000L,
      channels = channels)
  }

  /** The frame's dat2 messages, one per present digitiser, in digitiser order. */
  def frameBytes(frame: Long, timestampNs: Long): Array[Array[Byte]] = {
    val skip = omitted(frame)
    (0 until shape.digitizers).iterator
      .filter(_ != skip)
      .map(d => WireCodecs.encodeDat2(trace(frame, d, timestampNs)))
      .toArray
  }
}

object Inputs {
  val Threshold = 50.0

  def runStart(name: String, startMs: Long): Array[Byte] =
    WireCodecs.encodePl72(RunStart(name, startMs, "PERFBENCH"))

  def runStop(name: String, stopMs: Long): Array[Byte] =
    WireCodecs.encode6s4t(RunStop(name, stopMs))
}
