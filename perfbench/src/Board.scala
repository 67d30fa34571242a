package perfbench

import graft.{SparkEntry, Tables, Verify}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The query board: one cold pass over a fixed list of
  * `SparkEntry.queries`, each result checked against its committed row
  * count and `Verify.contentHash`.
  */
object Board {
  final case class Expected(name: String, rows: Long, hash: Long)

  /** `name rows hash` per line; `#` starts a comment. */
  def load(path: Path): Seq[Expected] =
    Files.readAllLines(path).asScala.toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\\s+") match {
        case Array(n, r, h) => Expected(n, r.toLong, h.toLong)
        case _ => throw new IllegalArgumentException(s"bad board line: $l")
      }
    }

  def run(
      spark: SparkSession,
      sfDir: String,
      expected: Seq[Expected],
      tracer: Tracer,
      listeners: Option[Listeners]): Result = {
    val unknown = expected.map(_.name).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"board names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext

    // set-up: open every table of the star schema (schema from the footers)
    val setupTimes = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("setup")(Tables.names.foreach(n => Tables.load(spark, sfDir, n).schema))
      (System.nanoTime() - t0) / 1e9
    }

    val walls = mutable.LinkedHashMap.empty[String, Double]
    val outcome = mutable.LinkedHashMap.empty[String, String]
    var cpuNs = 0L
    tracer.span("board") {
      expected.foreach { e =>
        val g = s"board:${e.name}"
        sc.setJobGroup(g, e.name)
        val cpu0 = Proc.cpuNs
        val t0 = System.nanoTime()
        val res =
          try tracer.span(s"query:${e.name}") {
            listeners.foreach(_.groupSpan.put(g, tracer.currentId))
            val df = SparkEntry.queries(e.name)(spark, sfDir)
            Right((df.schema, df.collect()))
          } catch { case t: Throwable => Left(t) }
        val wall = (System.nanoTime() - t0) / 1e9
        cpuNs += Proc.cpuNs - cpu0
        sc.setJobGroup("check", "result check")
        outcome(e.name) = res match {
          case Left(t) =>
            System.err.println(s"[board] ${e.name} failed: ${t.getMessage}")
            "error: " + Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
          case Right((schema, rows)) =>
            // a query that ran to completion keeps its wall even when its
            // result is wrong; a failed one never adds a short wall
            walls(e.name) = wall
            val h = Verify.contentHash(spark.createDataFrame(rows.toSeq.asJava, schema))
            if (rows.length != e.rows || h != e.hash) s"mismatch: rows ${rows.length} hash $h" else "ok"
        }
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
    }
    val failed = outcome.count(_._2 != "ok").toLong
    val w = walls.values.toSeq
    val boardS = w.sum
    val nOk = expected.size - failed
    val layer = listeners.map { l =>
      l.settle()
      val t = l.totalsFor("board:")
      Map(
        "board.jobs" -> t.jobs.toDouble,
        "board.stages" -> t.stages.toDouble,
        "board.tasks" -> t.tasks.toDouble,
        "board.executor_run_s" -> t.runMs / 1e3,
        "board.executor_cpu_s" -> t.cpuNs / 1e9,
        "board.shuffle_bytes" -> t.shuffleWriteBytes.toDouble,
        "board.scan_bytes" -> t.inputBytes.toDouble,
        "board.scans" -> l.scansFor("board:").toDouble,
        "board.spill_bytes" -> t.spillBytes.toDouble)
    }.getOrElse(Map.empty)
    Result(
      setupTimes = setupTimes,
      e2e = Map(
        "latency_p50_ms" -> Stats.median(w) * 1e3,
        "latency_tail_ms" -> Stats.tail(w) * 1e3,
        "items_per_s" -> nOk / math.max(1e-9, boardS),
        "cpu_ms_per_item" -> cpuNs / 1e6 / math.max(1, expected.size)),
      attempted = expected.size.toLong,
      failed = failed,
      named = Map(
        "board_s" -> (boardS, "s"),
        "board_cpu_s" -> (cpuNs / 1e9, "s")),
      layer = layer,
      detail = Map(
        "sf_dir" -> sfDir,
        "queries" -> expected.size,
        "walls_s" -> walls.toMap,
        "outcome" -> outcome.filter(_._2 != "ok").toMap),
      generatorLateMs = None)
  }
}
