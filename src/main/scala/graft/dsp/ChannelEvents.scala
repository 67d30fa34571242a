package graft.dsp

/** Detector configuration surface, mirroring the reference's CLI parameter
  * space (`/root/reference/trace-to-events/src/parameters.rs:18-101`).
  */
sealed trait DetectorMode
final case class FixedThreshold(threshold: Double, duration: Int = 1, coolOff: Int = 0)
    extends DetectorMode
final case class DifferentialThreshold(
    threshold: Double,
    duration: Int = 1,
    coolOff: Int = 0,
    constantMultiple: Option[Double] = None)
    extends DetectorMode
final case class AdvancedMuon(
    muonOnset: Double,
    muonFall: Double,
    muonTermination: Double,
    duration: Double,
    baselineLength: Option[Int] = None,
    smoothingWindowSize: Option[Int] = None,
    minAmplitude: Option[Double] = None,
    maxAmplitude: Option[Double] = None)
    extends DetectorMode

final case class DetectorSettings(
    mode: DetectorMode,
    positivePolarity: Boolean = true,
    baseline: Double = 0.0)

/** Per-channel event formation: one ordered voltage trace in, SoA event
  * lists (time ns, intensity) out. The single-pass window→detector chain
  * mirrors `/root/reference/trace-to-events/src/channels.rs:19-184`; outputs
  * are saturating-cast to the wire types (u32 time, u16 intensity) exactly
  * as the reference does with Rust `as` casts.
  */
object ChannelEvents {

  /** Saturating f64 → u32 cast (Rust `as Time`). */
  private def toTimeU32(t: Double): Long =
    if (t.isNaN) 0L else math.min(math.max(t, 0.0), 4294967295.0).toLong

  /** Saturating f64 → u16 cast (Rust `as Intensity`). */
  private def toIntensityU16(v: Double): Int =
    if (v.isNaN) 0 else math.min(math.max(v, 0.0), 65535.0).toInt

  /** Detect events on one channel trace; returns parallel (times, intensities).
    * `sampleTimeNs = 1e9 / sample_rate` (`processing.rs:31`).
    *
    * Runs on the [[DetectorKernels]] loops: identical
    * push/signal/assemble call order to the iterator composition — which
    * DspSpec still locks it against on randomized traces — minus the
    * boxed per-sample tuple the iterator chain allocates (the measured
    * bottleneck of the r14 formation envelope, SCALE.md). The double
    * trace is materialized once up front; normalization folds into the
    * kernel loop.
    */
  def findChannelEvents(
      voltage: Array[Int],
      sampleTimeNs: Double,
      settings: DetectorSettings): (Array[Long], Array[Int]) = {
    val trace = new Array[Double](voltage.length)
    var i = 0
    while (i < voltage.length) { trace(i) = voltage(i).toDouble; i += 1 }
    val sign = if (settings.positivePolarity) 1.0 else -1.0
    val times = Array.newBuilder[Long]
    val intensities = Array.newBuilder[Int]
    def emit(t: Double, v: Double): Unit = {
      times += toTimeU32(t)
      intensities += toIntensityU16(v)
    }
    settings.mode match {
      case FixedThreshold(threshold, duration, coolOff) =>
        DetectorKernels.threshold(
          trace, sampleTimeNs, sign, settings.baseline, threshold, duration, coolOff)(emit)

      case DifferentialThreshold(threshold, duration, coolOff, constantMultiple) =>
        DetectorKernels.differential(
          trace, sampleTimeNs, sign, settings.baseline,
          threshold, duration, coolOff, constantMultiple)(emit)

      case AdvancedMuon(onset, fall, termination, duration, baselineLength,
            smoothingSize, minAmp, maxAmp) =>
        DetectorKernels.advanced(
          trace, sampleTimeNs, sign, settings.baseline,
          onset, fall, termination, duration,
          baselineLength.getOrElse(0), smoothingSize.getOrElse(1)) { p =>
          val ampOk =
            minAmp.forall(min => p.peak.forall(min <= _.value)) &&
              maxAmp.forall(max => p.peak.forall(max >= _.value))
          if (ampOk)
            emit(
              p.steepestRise.map(_.time).getOrElse(0.0),
              p.peak.map(_.value).getOrElse(0.0))
        }
    }
    (times.result(), intensities.result())
  }
}
