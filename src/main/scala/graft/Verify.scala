package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also SELF-REPORTING: writes `verify_summary.json` to outDir — per
  * query the row count, canonical schema, a deterministic content hash
  * and wall time, plus pass/fail totals — so a round is never blind to
  * its own correctness state even if the external compare harness
  * produces nothing (r11: the driver artifact came back `{}` and the
  * round's verdict had to be re-derived from scratch). The committed
  * `tools/compare_oracle.py` consumes this summary plus
  * `oracle_sql.json` to reproduce the full DuckDB verdict in one
  * command.
  */
object Verify {

  /** Order-independent deterministic content hash of a dumped result:
    * per row, xxhash64 over ALL columns cast to string in sorted-name
    * order — each column coalesced to a NUL-prefixed sentinel first,
    * because xxhash64 SKIPS null inputs and two rows differing only in
    * WHICH column is null would otherwise hash identically — folded by
    * a commutative sum (rows are unordered parquet output). Each per-row
    * term is pmod-reduced below 1e9+7, so the plain BIGINT sum is exact
    * up to ~9.2e9 rows — far above any dump this harness writes; past
    * that ANSI mode fails loudly rather than wrapping. Stable across
    * runs and across partitionings of the same logical result — a
    * changed hash between rounds means changed CONTENT.
    */
  def contentHash(df: org.apache.spark.sql.DataFrame): Long = {
    val M = 1000000007L
    val cols = df.schema.fieldNames.sorted
      .map(n => coalesce(col(n).cast("string"), lit("\u0000null")))
    if (cols.isEmpty) return 0L
    val row = df
      .select(pmod(xxhash64(cols: _*), lit(M)).as("h"))
      .agg(pmod(sum(col("h")), lit(M)).as("s"))
      .head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (fast iteration on
    // a single oracle); default = all. Unknown names fail closed — a
    // typo that silently selected nothing would leave a previous run's
    // parquet in outDir to be re-validated as fresh.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local("graft-verify", cpus)
    // derive data-dependent oracles (IVF centroid inlining) once, up
    // front — memoized strings, no Spark work at dump time
    SparkEntry.deriveDataOracles(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    // per-query self-report rows, accumulated in dump order
    val report = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val err: Option[String] =
        try {
          // repartition(1), NOT coalesce(1): coalesce collapses the
          // final stage to one task, serializing whatever compute sits
          // after the last exchange (q_fuzzy_match's 52M-candidate
          // verify DP ran single-threaded at sf1); repartition inserts
          // an exchange so compute stays parallel and only the tiny
          // result funnels into the one output file
          // the scope releases what the query pinned or cut, so no query
          // holds storage across the rest of the board
          Reuse.scope(fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name"))
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // Locale.ROOT, not the f-interpolator: a comma-decimal default
      // locale (de_DE) would emit 1,234 and corrupt the JSON artifact
      val secS = String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))
      report(name) = err match {
        case Some(m) =>
          s"""{"ok":false,"sec":$secS,"error":${jstr(m.take(300))}}"""
        case None =>
          // read the DUMP back (not the live plan): the summary must
          // describe exactly the bytes the external compare will read
          val back = spark.read.parquet(s"$outDir/$name")
          val rows = back.count()
          val h = contentHash(back)
          val schema = back.schema.fields.sortBy(_.name)
            .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
          s"""{"ok":true,"rows":$rows,"hash":$h,"sec":$secS,"schema":${jstr(schema)}}"""
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // decomposed closure oracles for compare_oracle.py --decompose (the
    // sf1 path where the recursive reach CTE is infeasible)
    val dec = SparkEntry.decomposedOracles
      .map { case (k, (edges, tail)) =>
        s"${jstr(k)}: {\"edges\": ${jstr(edges)}, \"tail\": ${jstr(tail)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_decomposed.json"), dec)
    val nOk = report.valuesIterator.count(_.startsWith("""{"ok":true"""))
    val summary =
      s"""{"sf_dir":${jstr(sfDir)},"n_queries":${report.size},"n_ok":$nOk,""" +
        s""""n_failed":${report.size - nOk},"queries":{""" +
        report.map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",") + "}}"
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summary)
    println(s"[verify] ${report.size} dumped, $nOk ok, " +
      s"${report.size - nOk} failed → $outDir/verify_summary.json")
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
