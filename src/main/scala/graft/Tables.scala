package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the harness-provided parquet star schema (TESTDATA.md).
  *
  * `events.ts` is written as parquet TIMESTAMP(NANOS); Spark reads it via
  * the nanos-as-long legacy switch (set in [[Sessions]]) so we normalise it
  * here: `ts` stays a microsecond TimestampType for SQL parity with the
  * DuckDB oracle (both truncate ns → µs) and `ts_ns` keeps full precision,
  * mirroring the reference's ns-since-epoch log timestamps
  * (`/root/reference/streaming-types/src/frame_metadata.rs:7-14`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts_ns", col("ts"))
        // integer division — a double division here loses precision at
        // 1.7e18 ns and shifts timestamps by ±hundreds of ns
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Re-spread `df` across the session's cores when the source layout
    * gives it fewer partitions than that — the harness's parquet inputs
    * are single row groups, which cannot split, so everything fused into
    * the scan stage (tokenize/explode/partial-agg) otherwise runs on ONE
    * core (guide §2.5: unsplittable input → repartition after the read).
    * At production scale the scan already has ≥ cores partitions and
    * this is the identity — the CONDITION is the contract, not a tuned
    * constant. Use at MAP-HEAVY sites only: measured r16 at sf0.1, the
    * extra exchange wins 2.3× on gram explosion (1.64 → 0.71 s) and
    * LOSES 2.6× on a map-light lineitem aggregate (0.42 → 1.10 s).
    */
  def spread(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Session factory with the settings every entry point shares: local
  * parallelism sized to the harness (32 threads), shuffle partitions
  * matched to cores (not the 200 default), AQE on for runtime re-planning
  * (skew joins, partition coalescing — the knobs that matter at cluster
  * scale), UTC for oracle parity, and nanosecond-timestamp reads enabled.
  */
object Sessions {

  /** Spark's bundled RocksDB state store provider (rocksdbjni ships with
    * the distribution). The default HDFS-backed store keeps every
    * operator's keyed state on the JVM heap — fine for bounded test
    * drains, a scale-killer for 100 TB keyed state (dedup keys, session
    * windows): state competes with execution memory and full snapshots
    * rewrite per checkpoint. RocksDB spills state to local disk with
    * incremental changelog checkpointing.
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Session-level opt-in: `graft.stateStore = rocksdb`. Read by
    * [[stateStoreConfigure]] on the session (or clone) that runs the
    * stateful stream; also honored from the `GRAFT_STATE_STORE` env var
    * so deployments flip it without code.
    */
  val StateStoreKey = "graft.stateStore"

  /** Route recreatable scratch I/O (bounded-drain checkpoints, shuffle
    * spills, RocksDB working dirs) to tmpfs when the host has one.
    * Default on for local single-node runs; `GRAFT_TMPFS_SCRATCH=0`
    * (or `false`) disables, `1`/`true` keeps it on, and any other value
    * throws (A/B measured in SCALE.md §Streaming, r9).
    */
  def tmpfsScratchEnabled: Boolean = tmpfsScratchEnabled(sys.env)

  private[graft] def tmpfsScratchEnabled(env: Map[String, String]): Boolean =
    choiceKnob(env, "GRAFT_TMPFS_SCRATCH", default = true)(OnOff: _*)

  /** The ONE definition of "is tmpfs scratch usable here": opted in AND
    * /dev/shm exists and is writable. Shared by the session factory's
    * spark.local.dir routing and the bounded-drain checkpoint helper so
    * a policy change (different mount, size floor) cannot silently
    * diverge between the two.
    */
  def tmpfsScratchDir: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (tmpfsScratchEnabled &&
      java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) Some(shm)
    else None
  }

  /** Apply the opted-in state store provider to `s` (a fresh session or
    * clone). No-op under the default; idempotent.
    */
  def stateStoreConfigure(s: SparkSession): SparkSession = {
    if (rocksDbChosen(s.conf.getOption, sys.env)) {
      s.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDBProvider)
      if (highChurnChosen(s.conf.getOption, sys.env)) {
        // HIGH-CHURN profile (frame assembly and anything else whose
        // keys live ~1 TTL then die): the frame-soak A/B (SCALE.md r13)
        // measured changelog checkpointing pinning RocksDB
        // delete-tombstones — per-batch cost grew LINEARLY at constant
        // live state as timer scans and map seeks read through them —
        // while full-snapshot checkpoints + per-commit compaction stay
        // FLAT (~41k vs ~7k-and-falling msgs/s). State is one TTL
        // window's keys, so the snapshot is tiny and the compaction
        // bounded.
        s.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
        s.conf.set("spark.sql.streaming.stateStore.rocksdb.compactOnCommit", "true")
      } else {
        // default: LARGE-state profile — checkpoint cost proportional to
        // the delta, not the state
        s.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      }
    }
    s
  }

  /** The RocksDB opt-in ([[stateStoreConfigure]]): the [[StateStoreKey]]
    * session conf, else the `GRAFT_STATE_STORE` env var; `rocksdb` is
    * the one accepted value.
    */
  private[graft] def rocksDbChosen(conf: String => Option[String], env: Map[String, String]): Boolean =
    confOrEnv(conf, StateStoreKey, env, "GRAFT_STATE_STORE", default = false)("rocksdb" -> true)

  /** Opt-in high-churn RocksDB profile ([[stateStoreConfigure]]):
    * `graft.stateStore.highChurn` session conf, else the
    * `GRAFT_STATE_STORE_HIGH_CHURN` env var.
    */
  private[graft] def highChurnChosen(conf: String => Option[String], env: Map[String, String]): Boolean =
    confOrEnv(conf, "graft.stateStore.highChurn", env, "GRAFT_STATE_STORE_HIGH_CHURN", default = false)(
      OnOff: _*)

  /** A knob read from the session conf `key` when set there, else from
    * the env var `name`; a rejected value names where it came from.
    */
  private def confOrEnv[A](
      conf: String => Option[String],
      key: String,
      env: Map[String, String],
      name: String,
      default: A)(accepted: (String, A)*): A =
    conf(key) match {
      case Some(v) => choiceKnob(Map(key -> v), key, default)(accepted: _*)
      case None => choiceKnob(env, name, default)(accepted: _*)
    }

  /** A session on `s`'s SparkContext with its own session conf
    * (`newSession()`), keeping what the fork would otherwise drop and
    * every query here depends on: `s`'s shuffle parallelism, the
    * TIMESTAMP(NANOS) parquet switch, and UTC. Whether a bare fork
    * inherits the last two depends on which session built the shared
    * context first.
    */
  def fork(s: SparkSession): SparkSession = {
    val f = s.newSession()
    f.conf.set("spark.sql.shuffle.partitions", s.conf.get("spark.sql.shuffle.partitions"))
    f.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    f.conf.set("spark.sql.session.timeZone", "UTC")
    f
  }

  /** An env knob with a closed set of values: `default` when unset, the
    * meaning `accepted` gives a value, and anything else throws with a
    * message naming the variable (rather than taking the default on a
    * typo).
    */
  private[graft] def choiceKnob[A](env: Map[String, String], name: String, default: A)(
      accepted: (String, A)*): A =
    env.get(name) match {
      case None => default
      case Some(v) =>
        accepted.collectFirst { case (`v`, a) => a }.getOrElse(throw new IllegalArgumentException(
          s"$name must be one of ${accepted.map(_._1).mkString(", ")}, got '$v'"))
    }

  /** The values a switch knob accepts: the two spellings of on and off. */
  private[graft] val OnOff: Seq[(String, Boolean)] =
    Seq("1" -> true, "true" -> true, "0" -> false, "false" -> false)

  /** A boolean env knob as a Spark conf value: `default` when unset,
    * `true`/`false` as given, and anything else fails the session build
    * with a message naming the variable (rather than a Spark conf parse
    * error far from it).
    */
  private[graft] def boolKnob(env: Map[String, String], name: String, default: Boolean): String =
    choiceKnob(env, name, default.toString)("true" -> "true", "false" -> "false")

  /** An integer env knob: `default` when unset, the value when it parses
    * as an integer ≥ `min`, and anything else throws with a message
    * naming the variable.
    */
  private[graft] def intKnob(env: Map[String, String], name: String, default: Int, min: Int): Int =
    env.get(name) match {
      case None => default
      case Some(v) =>
        v.toIntOption.filter(_ >= min).getOrElse(
          throw new IllegalArgumentException(s"$name must be an integer >= $min, got '$v'"))
    }

  def local(appName: String, cpus: String): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // the library's SparkSessionExtensions (native expressions, as-of
      // join strategy, opt-in optimizer rules) ship with every session
      // this factory CREATES — the same surface a cluster gets from
      // spark.sql.extensions=graft.plans.GraftExtensions. (getOrCreate
      // reusing an existing session skips builder extensions; entry
      // points that need a guarantee keep their explicit register calls.)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Scale-adaptive partition sizing knobs (guide §2.2), parameterised
      // for deployment A/Bs; measured r17 (OPTIMIZATION_r17.md §AQE
      // cached-plan A/B):
      // - cached-plan repartitioning lets AQE coalesce the tiny shuffles
      //   UNDER a .persist() — without it a cached bounded aggregate
      //   keeps one sub-MB partition per shuffle partition and every
      //   downstream stage pays that task count. The r17 sweep read
      //   AMBIGUOUS at sf0.1 (graph loops ~10% faster ON in paired runs;
      //   the one quiet full-suite comparison read worse ON), so the
      //   default stays Spark's (false) and bounded caches coalesce
      //   explicitly at their persist sites instead; flip per deployment.
      .config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        boolKnob(sys.env, "GRAFT_AQE_CACHED_REPART", default = false))
      // - parallelismFirst=true (Spark default) targets partition count ≈
      //   cores for small shuffles; false targets advisoryPartitionSize
      //   (fewer, larger partitions — the §2.2 posture). Kept env-
      //   flippable because the right answer is deployment-dependent.
      .config(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        boolKnob(sys.env, "GRAFT_AQE_PARALLELISM_FIRST", default = true))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Scratch I/O (shuffle spill files, RocksDB state-store working dirs)
    // on tmpfs when the host has one: all of it is recreatable
    // run-local data with zero recovery value, so durable-disk fsyncs
    // are pure fixed cost. Spark removes its local dirs on JVM exit.
    // Only applied when this builder CREATES the context (getOrCreate
    // ignores it otherwise) and only on single-node local[*] — a cluster
    // deployment sizes spark.local.dir to its own disks.
    tmpfsScratchDir.foreach(shm =>
      builder.config("spark.local.dir", shm.resolve("graft-spark-local").toString))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every session built here honors the state-store opt-in, so the
    // PRODUCTION streams (PipelineJobs, NexusSink maintenance) get
    // RocksDB from GRAFT_STATE_STORE alone — not only the bounded test
    // drains (which re-apply it across their clones)
    stateStoreConfigure(spark)
  }
}
