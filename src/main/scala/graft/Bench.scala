package graft
import graft.obs.Obs
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
object Bench {

  /** One timing of one query: its wall seconds, whether it succeeded,
    * and the work the measurement spine saw under its tag (empty when the
    * timing failed).
    */
  final case class Timing(wall: Double, ok: Boolean, work: Obs.Work = Obs.Work())

  /** A query's pooled timings: the timing that set the wall minimum, the
    * gap between the two closest timings, and whether every timing failed.
    */
  final case class Pooled(best: Timing, spread: Double, allFailed: Boolean)

  /** Pool one query's timings. Successful timings only, unless every
    * timing failed: then all of them, so the query still reports a wall,
    * and `allFailed` keeps that failure wall out of the board total.
    * The spread is the gap between the two CLOSEST timings: a large one
    * flags a timing contaminated by a one-off spike, so cross-round
    * per-query deltas smaller than the spread are noise, not plan changes.
    */
  def pool(timings: Seq[Timing]): Pooled = {
    val okOnly = timings.filter(_.ok)
    val kept = if (okOnly.nonEmpty) okOnly else timings
    val walls = kept.map(_.wall).sorted
    val spread =
      if (walls.size < 2) 0.0 else walls.sliding(2).map(w => w(1) - w(0)).min
    Pooled(kept.minBy(_.wall), spread, allFailed = okOnly.isEmpty)
  }

  /** The queries owed a third timing, at most `cap` of them, each group
    * in name order: first every query with a failed timing (its wall is
    * meaningless, so it needs a SUCCESSFUL sample), then every query whose
    * two passes disagree by more than max(0.5 s, 50% of the faster one).
    */
  def retimeQueue(pass1: Map[String, Timing], pass2: Map[String, Timing], cap: Int = 40): Seq[String] = {
    val names = pass1.keys.toSeq.sorted
    val failed = names.filter(n => !pass1(n).ok || !pass2(n).ok)
    val spiked = names.filterNot(failed.contains).filter { n =>
      val (a, b) = (pass1(n).wall, pass2(n).wall)
      math.abs(a - b) > math.max(0.5, 0.5 * math.min(a, b))
    }
    (failed ++ spiked).take(cap)
  }

  private def jstr(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A JSON object from already-encoded values, keys in name order. */
  private def jobj(kvs: Iterable[(String, String)]): String =
    kvs.toSeq.sortBy(_._1).map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** `SPARK_GRAFT_GATE`: `on` (the default) or `off`; anything else throws. */
  private[graft] def gateKnob(env: Map[String, String]): Boolean =
    Sessions.choiceKnob(env, "SPARK_GRAFT_GATE", default = true)("on" -> true, "off" -> false)

  /** `SPARK_GRAFT_PASSES`: `2` (the default) or `1`; anything else throws. */
  private[graft] def onePassKnob(env: Map[String, String]): Boolean =
    Sessions.choiceKnob(env, "SPARK_GRAFT_PASSES", default = false)("1" -> true, "2" -> false)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the quiet-host gate's knobs (see the gate below), read before the
    // session is built so a bad value fails before any work
    val gateOn = gateKnob(sys.env)
    val onePass = onePassKnob(sys.env)
    val gateTries = Sessions.intKnob(sys.env, "SPARK_GRAFT_GATE_TRIES", default = 8, min = 1)
    val gateSleepSec =
      Sessions.intKnob(sys.env, "SPARK_GRAFT_GATE_SLEEP_SEC", default = 45, min = 0)
    val spark = Sessions.local("graft-bench", cpus)
    // warm-up: exercise codegen/JIT/IO paths once so the first timed
    // query doesn't absorb session warm-up costs
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => }
    def loadavg1(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ").head.toDouble
      catch { case _: Throwable => 0.0 }
    // Quiet-host gate (VERDICT r15 ask #1): the driver's sf0.1 artifact
    // self-reported contended three rounds running — the guard detected
    // the contamination but nothing avoided it. Before the measured
    // passes, check the 1-min loadavg (cheap) and then the fixed
    // calibration probe (~8 s) against the recorded quiet band
    // (bench_sf1_r15b on a settled host: cpu_mt 3.23 s / shuffle 3.26 s;
    // contended runs read 4.6+ / 7.0+); sleep-and-retry until both pass
    // or the attempt budget runs out, then proceed regardless with the
    // gate outcome stamped in the JSON. The calibration that lands in
    // the artifact is the probe from the accepted (or final) attempt.
    // Knobs: SPARK_GRAFT_GATE=off disables (for self-managed law sweeps;
    // `on` is the default); SPARK_GRAFT_GATE_TRIES / SPARK_GRAFT_GATE_SLEEP_SEC
    // size the retry loop (defaults 8 × 45 s — bounded so a driver
    // timeout cannot starve the measured passes; tries ≥ 1, sleep ≥ 0).
    val (gateLoadMax, gateCpuMtMax, gateShuffleMax) = (4.0, 4.2, 5.0)
    var calibration: Calibrate.Result = null
    var gateAttempts = 0
    var gatePassed = false
    var gateLoad1 = loadavg1()
    while (calibration == null ||
      (gateOn && !gatePassed && gateAttempts < gateTries)) {
      if (gateAttempts > 0) Thread.sleep(gateSleepSec * 1000L)
      gateAttempts += 1
      gateLoad1 = loadavg1()
      if (!gateOn || gateLoad1 <= gateLoadMax) {
        calibration = Calibrate.run(spark)
        gatePassed = calibration.cpuMtSec <= gateCpuMtMax &&
          calibration.shuffleSec <= gateShuffleMax
      } else if (gateAttempts >= gateTries)
        // out of budget with the load still high: still embed a probe so
        // the artifact carries the drift evidence for this (contended) run
        calibration = Calibrate.run(spark)
    }
    if (gateOn && !gatePassed)
      System.err.println(
        f"WARNING: quiet-host gate NOT passed after $gateAttempts attempts " +
          f"(loadavg1=$gateLoad1%.2f, cpu_mt=${calibration.cpuMtSec}%.2f, " +
          f"shuffle=${calibration.shuffleSec}%.2f) — proceeding; treat timings with care")
    // launch-load marker for the contended heuristic: the LAST PRE-PROBE
    // reading (gateLoad1). The ~8 s all-cores calibration probe itself
    // pushes the 1-min loadavg to ~6–10 on an otherwise idle host, so a
    // fresh /proc/loadavg read AFTER the gate (what r15 compared against
    // the 4.0 threshold) flags every gated run contended — self-inflicted
    // (measured r16: gate passed at loadavg 2.42, post-probe read 6.96).
    // The raw pre-pass1 triple still lands in the JSON as loadavg_before
    // for cross-round continuity.
    val launchLoad1 = gateLoad1
    val gateJson =
      f"""{"enabled":$gateOn,"passed":$gatePassed,"attempts":$gateAttempts,"loadavg1":$gateLoad1%.2f,"thresholds":{"loadavg1_max":$gateLoadMax,"cpu_mt_sec_max":$gateCpuMtMax,"shuffle_sec_max":$gateShuffleMax}}"""
    // failed timings are tracked per query (ADVICE r16): a transient
    // failure during any pass (e.g. OOM under churn) must not land its
    // short failure wall-clock as the official per-query minimum. The
    // timing still returns a wall (so a query that fails EVERY pass keeps
    // a number rather than vanishing) but [[pool]] excludes failed
    // timings whenever one succeeded, and the failing queries are stamped
    // in the JSON. Each timing runs under its own job tag, so the spine
    // hands back the jobs, tasks and executor CPU of exactly that timing.
    val failedTimings = mutable.Map[String, Int]().withDefaultValue(0)
    def timeOnce(name: String, pass: Int, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Timing = {
      val t0 = System.nanoTime()
      val timing =
        try {
          // the scope releases what the query pinned or cut, so the next
          // measurement starts from the same cold-cache state
          val (wall, work) = Obs.measured(spark, s"graft-bench-$pass-$name") {
            Reuse.scope(fn(spark, sfDir).count())
            (System.nanoTime() - t0) / 1e9
          }
          Timing(wall, ok = true, work)
        } catch {
          case _: Throwable =>
            failedTimings(name) += 1
            Timing((System.nanoTime() - t0) / 1e9, ok = false)
        }
      timing
    }
    // two passes, report the per-query minimum: a single pass is exposed
    // to one-off JIT/GC/host-contention spikes that say nothing about the
    // plan's actual cost.
    // optional name filter (comma-separated) for A/B runs on a family of
    // queries without paying the full suite; default = all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Sweep mode (VERDICT r15 ask #5): SPARK_GRAFT_SWEEP=1 derives the
    // big-SF exclusion set from the contract manifest
    // (SparkEntry.sweepSkip — exactly the by-contract quadratic pair
    // lists, each with its adjudication in Contract.note) instead of a
    // hand-typed list. SPARK_GRAFT_SKIP remains as a manual extra for
    // one-off A/Bs. The effective skip set is recorded in the bench
    // JSON ("skipped", ADVICE r15) so a filtered-board total can never
    // silently be compared against a full-board total — bench_ratio.py
    // warns when the boards differ.
    val sweepMode = sys.env.get("SPARK_GRAFT_SWEEP").contains("1")
    val envSkip =
      sys.env.get("SPARK_GRAFT_SKIP").map(_.split(",").toSet).getOrElse(Set.empty)
    val skip = envSkip ++ (if (sweepMode) SparkEntry.sweepSkip else Set.empty)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skip.contains(n) }
    val skippedNames = SparkEntry.queries.keySet.intersect(skip).toSeq.sorted
    val skippedJson = skippedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // each skipped query's contract entry rides along, so a sweep
    // artifact is self-contained: the exclusion REASON (and the in-sweep
    // sampled sibling that keeps its law measurable) is in the JSON, not
    // just in SCALE.md prose (VERDICT r15 ask #2)
    val excludedJson = skippedNames.map { n =>
      val c = SparkEntry.contracts(n)
      jstr(n) + ":{" +
        s""""class":${jstr(c.cls)},"sibling":${c.sibling.map(jstr).getOrElse("null")},""" +
        s""""note":${jstr(c.note)}}"""
    }.mkString("{", ",", "}")
    val onlyJson = only
      .map(_.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
      .getOrElse("null")
    // host-load markers: round deltas have measured ~24% host-noise
    // spread (r10: 195 s vs 242 s for the same board), so the artifact
    // records the 1/5/15-min loadavg at both ends of the run — a judge
    // comparing rounds can tell regression from contention
    def loadavgVals(): Seq[Double] =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq.empty }
    def fmtLoad(v: Seq[Double]): String = v.mkString("[", ",", "]")
    val loadBeforeVals = loadavgVals()
    val loadBefore = fmtLoad(loadBeforeVals)
    // SPARK_GRAFT_PASSES=1 (read above) skips the second pass — for LAW probes at
    // big scale factors (sf2/sf10 scaling sweeps), where a second pass
    // doubles a multi-minute run and the question is order-of-growth,
    // not the minimum. The spread then reads 0 and the contention guard
    // falls back to the loadavg check alone; comparable-minimum claims
    // still require the default two passes.
    val pass1 = ordered.map { case (name, fn) => name -> timeOnce(name, 1, fn) }.toMap
    val pass2 =
      if (onePass) pass1
      else ordered.map { case (name, fn) => name -> timeOnce(name, 2, fn) }.toMap
    // Targeted third timing for SPIKED queries only (r16): one external
    // churn episode hitting one pass of one query (measured: a 27.6 s
    // pass-1 spike on q_als_rank1 against a 2.0 s pass-2) inflates the
    // spread guard past its 25% threshold and flags the whole artifact
    // contended. A query whose two passes disagree by more than
    // max(0.5 s, 50% of the min) gets ONE re-timing; the reported value
    // stays the per-query MINIMUM over all timings (each timing is a
    // complete cold-cache execution, so the min can never understate the
    // plan's true cost) and the spread is recomputed over the two
    // CLOSEST timings (the spike, once out-voted 2-to-1, is evidence of
    // host churn, not of the plan). The re-measured set is recorded in
    // the JSON; bounded to 40 queries so churn cannot stretch the run,
    // with failed-timing queries served before spiked ones.
    val spiked = if (onePass) Seq.empty else retimeQueue(pass1, pass2)
    val pass3 = spiked.map(n => n -> timeOnce(n, 3, ordered.toMap.apply(n))).toMap
    val loadAfter = fmtLoad(loadavgVals())
    val pooled = pass1.map { case (name, _) =>
      name -> pool(Seq(pass1(name), pass2(name)) ++ pass3.get(name))
    }
    val results = pooled.map { case (name, p) => name -> p.best.wall }
    val spreads = pooled.map { case (name, p) => name -> p.spread }
    // a query that failed every timing reports its failure wall in
    // "queries" but stays out of the total (listed in "all_failed"), so
    // a failure can never deflate a cross-round total
    val allFailed = pooled.collect { case (name, p) if p.allFailed => name }.toSeq.sorted
    // per-query work from the spine, taken from the timing that set the
    // wall minimum; stream_* only for queries that ran micro-batches
    val works = pooled.collect { case (name, p) if !p.allFailed => name -> p.best.work }
    val streamed = works.filter(_._2.progress.nonEmpty)
    def perQuery(ws: Map[String, Obs.Work])(f: Obs.Work => Any): String =
      jobj(ws.map { case (n, w) => n -> f(w).toString })
    val workJson = Seq(
      "cpu_sec" -> perQuery(works)(_.cpuSec),
      "tasks" -> perQuery(works)(_.tasks),
      "jobs" -> perQuery(works)(_.jobs),
      "shuffle_bytes" -> perQuery(works)(_.shuffleWriteBytes),
      "spill_bytes" -> perQuery(works)(_.diskSpillBytes),
      "stream_batches" -> perQuery(streamed)(_.progress.size),
      "stream_batch_ms" -> perQuery(streamed)(_.streamBatchMs),
      "stream_durations_ms" -> perQuery(streamed)(w =>
        jobj(w.streamDurationsMs.map { case (k, v) => k -> v.toString }))
    ).map { case (k, v) => jstr(k) + ":" + v }.mkString(",")
    val qs = jobj(results.map { case (k, v) => k -> v.toString })
    val sp = jobj(spreads.map { case (k, v) => k -> v.toString })
    val total = results.collect { case (n, v) if !allFailed.contains(n) => v }.sum
    // contention self-identification (r11 forensics, automated): a run
    // that starts on a loaded host (1-min loadavg > 4.0 on 32 cpus) or
    // whose pass-to-pass spread exceeds 25% of the total is tagged
    // "contended" so a contaminated artifact flags itself instead of
    // requiring loadavg/spread forensics after the fact. Thresholds
    // documented in SCALE.md (Bench contention guard).
    val spreadTotalAll = spreads.values.sum
    // launch-load leg reads the PRE-PROBE gate value (launchLoad1) — see
    // the self-inflicted-probe note above; the spread leg uses the
    // closest-pair spreads, so a single out-voted spike no longer flags
    // the artifact
    // load legs: the PRE-PROBE 1-min sample (launchLoad1) catches a busy
    // launch; the POST-PROBE 5-min field (loadBeforeVals, read just
    // before pass 1) catches external load that arrived during the
    // gate/probe window, which the pre-probe sample cannot see (ADVICE
    // r16) — the ~8 s probe itself barely moves the 5-min field
    // (measured r16 driver run: post-probe triple [2.28,2.95,3.14]).
    val launchLoad5 = loadBeforeVals.drop(1).headOption.getOrElse(0.0)
    val contended =
      launchLoad1 > 4.0 || launchLoad5 > 4.0 ||
        (total > 0.0 && spreadTotalAll > 0.25 * total)
    if (contended)
      System.err.println(
        f"WARNING: bench run contended (loadavg_launch=$launchLoad1%.2f, " +
          f"spread_total=$spreadTotalAll%.1f s vs total=$total%.1f s) — " +
          "timings unreliable; re-run on a quiet host")
    val remeasuredJson = spiked.sorted.map(jstr).mkString("[", ",", "]")
    val allFailedJson = allFailed.map(jstr).mkString("[", ",", "]")
    val failedJson = jobj(failedTimings.map { case (n, c) => n -> c.toString })
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","contended":$contended,"calibration":${calibration.json},"gate":$gateJson,"skipped":$skippedJson,"excluded":$excludedJson,"only":$onlyJson,"remeasured":$remeasuredJson,"failed_timings":$failedJson,"all_failed":$allFailedJson,"queries":$qs,"spread":$sp,$workJson,"loadavg_launch":$launchLoad1,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"sf":"$sfDir"}"""
    // The full per-query JSON (~5 KB at 166 queries) exceeds the 2000-char
    // stdout tail a capture harness keeps, so a full-map println can never
    // parse from the tail. Persist the complete JSON to a file, then print
    // a compact line — total, query count, the slowest 30 queries at 3 dp,
    // and a pointer to the full file — sized to survive the tail window.
    // A SPARK_GRAFT_ONLY family A/B must never clobber the round's
    // full-suite artifact: default its output to bench_only.json unless
    // an explicit path overrides.
    val defaultOut = if (only.isDefined) "bench_only.json" else "bench_last.json"
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    val slowest = results.toSeq.sortBy(-_._2).take(30)
      .map { case (k, v) => "\"" + k + "\":" + BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"unit":"sec","n_queries":${results.size},"n_skipped":${skippedNames.size},"n_remeasured":${spiked.size},"n_failed_timings":${failedTimings.size},"n_all_failed":${allFailed.size},"contended":$contended,"calibration":${calibration.json},"gate":$gateJson,"spread_total":${BigDecimal(spreadTotalAll).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"loadavg_launch":$launchLoad1,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"queries":$slowest,"queries_full":"${out.toString}","sf":"$sfDir"}""")
    spark.stop()
  }
}
