package graft.dsp

/** Primitive-loop drivers for the three detector chains — the one
  * implementation behind every detector query.
  *
  * [[DetectorFn.over]]/[[WindowFn.over]] compose the same stage objects
  * lazily, which is the right shape for unit tests and reference-vector
  * specs, but the iterator chain allocates a boxed `(Double, Double)`
  * tuple per SAMPLE — at the reference's 30 k-bin × 1 GS/s trace shape
  * that allocation dominated the measured formation envelope (r14:
  * 1.2–9.3 M samples/s/core, SCALE.md). These drivers make exactly the
  * same `push`/`signal`/`assemble` calls in exactly the same order in a
  * `while` loop, so the emitted events are identical by construction;
  * DspSpec locks kernel ≡ iterator equality on randomized traces.
  *
  * Normalization (`sign · (v − baseline)`) is folded into the loop — the
  * trace path's [[ChannelEvents]] passes its settings; the table
  * queries in `SignalQueries` pass `dt = 1, sign = 1, baseline = 0`
  * (they detect on raw doubles indexed by position).
  */
object DetectorKernels {

  /** D1 fixed-threshold chain. Emits `(time, pulseHeight)`. */
  def threshold(
      trace: Array[Double],
      dt: Double,
      sign: Double,
      baseline: Double,
      thresholdV: Double,
      duration: Int,
      coolOff: Int)(emit: (Double, Double) => Unit): Unit = {
    val det = new ThresholdDetector(thresholdV, duration, coolOff)
    var i = 0
    while (i < trace.length) {
      val e = det.signal(i * dt, sign * (trace(i) - baseline))
      if (e.isDefined) emit(e.get.time, e.get.pulseHeight)
      i += 1
    }
    val f = det.finish()
    if (f.isDefined) emit(f.get.time, f.get.pulseHeight)
  }

  /** D2 differential chain: order-2 finite differences → differential
    * discriminator. Emits `(time, pulseHeight)`.
    */
  def differential(
      trace: Array[Double],
      dt: Double,
      sign: Double,
      baseline: Double,
      thresholdV: Double,
      duration: Int,
      coolOff: Int,
      constantMultiple: Option[Double])(emit: (Double, Double) => Unit): Unit = {
    val det = new DifferentialThresholdDetector(thresholdV, duration, coolOff, constantMultiple)
    // the W3 N=2 window fused inline: emits [v_i, v_i − v_{i−1}] from
    // index 1 with identity time shift — measured faster than driving
    // the ArrayDeque-backed FiniteDifferencesWindow per sample (r14
    // A/B); the reusable buffer is safe because the
    // discriminator clones before it stores and otherwise reads
    // transiently (Detectors.scala)
    val buf = new Array[Double](2)
    var prev = 0.0
    var i = 0
    while (i < trace.length) {
      val v = sign * (trace(i) - baseline)
      if (i >= 1) {
        buf(0) = v
        buf(1) = v - prev
        val e = det.signal(i * dt, buf)
        if (e.isDefined) emit(e.get.time, e.get.pulseHeight)
      }
      prev = v
      i += 1
    }
    val f = det.finish()
    if (f.isDefined) emit(f.get.time, f.get.pulseHeight)
  }

  /** D3/D4 advanced-muon chain: EWMA baseline → smoothing mean →
    * finite differences → three-phase detector → pulse assembler.
    * Emits assembled [[Pulse]]s (the caller applies amplitude filters
    * and projection).
    */
  def advanced(
      trace: Array[Double],
      dt: Double,
      sign: Double,
      baseline: Double,
      onset: Double,
      fall: Double,
      termination: Double,
      duration: Double,
      baselineLength: Int,
      smoothingSize: Int)(emit: Pulse => Unit): Unit = {
    val bw = new BaselineWindow(baselineLength, 0.1)
    val sw = new SmoothingWindow(smoothingSize)
    val det = new AdvancedMuonDetector(onset, fall, termination, duration)
    val asm = new AdvancedMuonAssembler
    // the W3 N=2 stage fused inline over the smoothed means, same as
    // [[differential]]'s front end (first smoothed sample warms up,
    // identity time shift)
    val buf = new Array[Double](2)
    var prev = 0.0
    var havePrev = false
    var i = 0
    while (i < trace.length) {
      if (bw.push(sign * (trace(i) - baseline))) {
        val t1 = bw.timeShift(i * dt)
        if (sw.push(bw.currentCorrected)) {
          val t2 = sw.timeShift(t1)
          val mean = sw.currentMean
          if (havePrev) {
            buf(0) = mean
            buf(1) = mean - prev
            val e = det.signal(t2, buf)
            if (e.isDefined) {
              val p = asm.assemble(e.get)
              if (p.isDefined) emit(p.get)
            }
          }
          prev = mean
          havePrev = true
        }
      }
      i += 1
    }
    // AdvancedMuonDetector.finish() is always None (the reference's
    // AssemblerIter flush is a no-op for this detector) — mirrored for
    // call-order parity with the iterator skin
    val f = det.finish()
    if (f.isDefined) {
      val p = asm.assemble(f.get)
      if (p.isDefined) emit(p.get)
    }
  }
}
