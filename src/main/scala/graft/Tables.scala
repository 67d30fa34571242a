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
  * scale), UTC for oracle parity, nanosecond-timestamp reads enabled,
  * and the fork-free local file system ([[Sessions.LocalFsConf]]).
  */
object Sessions {

  /** Spark's bundled RocksDB state store provider (rocksdbjni ships with
    * the distribution); `transformWithState` requires it.
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The one state-store profile, for frame assembly and every other
    * stateful stream whose keys live about one TTL and then die: RocksDB
    * with full-snapshot checkpoints and compaction on each commit. The
    * frame-soak A/B (SCALE.md r13) measured changelog checkpointing
    * pinning RocksDB delete-tombstones — per-batch cost grew LINEARLY at
    * constant live state as timer scans and map seeks read through them —
    * while this profile stayed FLAT to 10⁷ frames. State is one TTL
    * window's keys, so the snapshot is tiny and the compaction bounded.
    * A deployment that wants RocksDB for another stream sets Spark's own
    * `spark.sql.streaming.stateStore.providerClass`.
    */
  val StateStoreProfile: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDBProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "false",
    "spark.sql.streaming.stateStore.rocksdb.compactOnCommit" -> "true")

  /** Hadoop's `file:` classes with java.nio in place of the `chmod` and
    * `readlink` processes ([[graft.io.NioRawLocalFileSystem]]), for the
    * `FileSystem` path (parquet writes, output commits, RocksDB uploads)
    * and the `FileContext` path (checkpoint logs and state files). Spark's
    * jars carry no libhadoop, and Hadoop's `FileSystem` cache ignores the
    * conf, so the keys must be set when the context is created.
    */
  val LocalFsConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName)

  /** Read by nothing; perfbench's chain session still sets it. */
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

  /** Apply [[StateStoreProfile]] to `s` (a fresh session or clone);
    * idempotent.
    */
  def stateStoreConfigure(s: SparkSession): SparkSession = {
    StateStoreProfile.foreach { case (k, v) => s.conf.set(k, v) }
    s
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
      // AQE's partition sizing stays at Spark's defaults
      // (parallelismFirst=true, canChangeCachedPlanOutputPartitioning=
      // false): the r17 A/B read ambiguous at sf0.1 (OPTIMIZATION_r17.md
      // §AQE cached-plan A/B). A deployment or sweep sets those Spark
      // confs itself (SparkConf, -Dspark.sql.…).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    LocalFsConf.foreach { case (k, v) => builder.config(k, v) }
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
    spark
  }
}
