package graft

import org.apache.spark.sql.SparkSession

/** Deterministic host-speed calibration probe (VERDICT r14 ask #2).
  *
  * Two rounds running, the cross-round bench anchor was incomparable:
  * the r14 worktree forensic re-benched the UNCHANGED r13 tree on the
  * same host and reproduced a 1.6–2.3× uniform slowdown — pure host
  * drift. This probe runs a FIXED synthetic workload (~8 s) before
  * every full-suite bench and lands in the bench JSON, so later rounds
  * can drift-normalize totals (`tools/bench_ratio.py --calibrate`)
  * instead of re-benching old trees.
  *
  * Three axes, chosen to span what the suite spends time on:
  *   - `cpu_1t_sec`: one core of pure ALU work (xorshift64* mix) —
  *     tracks clock speed / steal on the driver-side and per-task
  *     critical paths;
  *   - `cpu_mt_sec`: the identical per-core work on every core at once
  *     via one Spark job with one partition per session core
  *     (`defaultParallelism`, see [[mtSeeds]]) — tracks effective
  *     multicore throughput including scheduler overhead and
  *     shared-cache / frequency effects under full load (the regime
  *     every heavy query runs in);
  *   - `shuffle_sec`: one exchange + hash aggregate with a fixed load
  *     per session core (3×10⁷ rows / 10⁶ keys on 32 cores, see
  *     [[shuffleShape]]) — tracks the shuffle write/read + codegen-agg
  *     path.
  *
  * All inputs are compile-time constants; the only run-to-run variable
  * is the host. The checksums fold into a side effect so the JIT
  * cannot elide the kernels.
  */
object Calibrate {

  final case class Result(cpu1tSec: Double, cpuMtSec: Double, shuffleSec: Double) {
    def json: String =
      f"""{"cpu_1t_sec":$cpu1tSec%.3f,"cpu_mt_sec":$cpuMtSec%.3f,"shuffle_sec":$shuffleSec%.3f}"""
  }

  /** Pure-ALU kernel: xorshift64* stream mixed into an accumulator —
    * no allocation, no memory traffic beyond two registers.
    */
  private[graft] def kernel(seed: Long, n: Long): Long = {
    var x = seed | 1L
    var acc = 0L
    var i = 0L
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += java.lang.Long.rotateLeft(x * 0x2545F4914F6CDD1DL, (i & 63).toInt)
      i += 1
    }
    acc
  }

  private val PerCoreIters = 1200000000L // ~1.5 s nominal per core

  /** Seeds of the `cpu_mt` job, one partition each: one per session core,
    * so every core runs one [[kernel]] call of `PerCoreIters` and the
    * probe reads the same nominal time on any core count.
    */
  private[graft] def mtSeeds(cores: Int): Range = 1 to math.max(1, cores)

  /** Rows, keys and partitions of the `shuffle_sec` job: 937,500 rows
    * and 31,250 keys in one partition per session core, so a 32-core
    * session runs 3×10⁷ rows over 10⁶ keys in 32 partitions and the probe
    * reads the same nominal time on any core count.
    */
  private[graft] def shuffleShape(cores: Int): (Long, Long, Int) = {
    val c = math.max(1, cores)
    (937500L * c, 31250L * c, c)
  }

  def run(spark: SparkSession): Result = {
    // one untimed warm pass so JIT compiles the kernel before the
    // single-thread measurement (the MT pass runs in executor threads
    // that share the same JIT'd code)
    val warm = kernel(1L, PerCoreIters / 16)
    val t0 = System.nanoTime()
    val s1 = kernel(0x9E3779B97F4A7C15L, PerCoreIters)
    val cpu1t = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val seeds = mtSeeds(spark.sparkContext.defaultParallelism)
    val s2 = spark.sparkContext
      .parallelize(seeds, seeds.size)
      .map(i => Calibrate.kernel(i.toLong, PerCoreIters))
      .reduce(_ ^ _)
    val cpuMt = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val (rows, keys, parts) = shuffleShape(spark.sparkContext.defaultParallelism)
    val s3 = spark
      .range(0L, rows, 1L, parts)
      .selectExpr(s"id % $keys AS k")
      .groupBy("k")
      .count()
      .count()
    val shuffle = (System.nanoTime() - t2) / 1e9
    if ((warm ^ s1 ^ s2 ^ s3) == 42L) System.err.println("calibration checksum")
    Result(cpu1t, cpuMt, shuffle)
  }
}
