package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable

/** One traced interval. Times are epoch nanoseconds; `parent` is 0 for a
  * root span.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written once. When disabled every call is a plain pass-through, so the
  * untraced run pays nothing for it.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val t0 = Clock.epochNs()
      current.set(id)
      try body
      finally {
        current.set(parent)
        record(Span(id, parent, name, t0, Clock.epochNs()))
      }
    }

  /** The span enclosing the calling thread's code, for work started on it. */
  def currentId: Int = current.get()

  /** Record an interval measured elsewhere (listener events). */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      record(Span(id, parent, name, startNs, endNs))
      id
    }

  private def record(s: Span): Unit = spans.synchronized(spans += s)

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  /** Self time of every span name: its duration minus the part of it that
    * its children cover, summed over the spans of that name.
    */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val covered = union(kids.getOrElse(s.id, Vector.empty)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        s.durNs - covered
      }.sum
      name -> self / 1e9
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def toJson: String = Json.arr(all.map(s =>
    Json.obj(
      "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochNs(): Long = base + System.nanoTime()
}

/** Per-stage totals, attributed to the job group the stage ran under. */
final class StageTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
}

/** The traced run's listeners: Spark jobs and stages, streaming progress
  * and SQL executions, all recorded from outside the program.
  */
final class Listeners(tracer: Tracer) {
  private val groupOfJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val totals = mutable.Map.empty[String, StageTotals]
  // SQL execution id → job group (from job properties), and file scans
  // per SQL execution (from its end event's executed plan)
  private val groupOfExecution = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val scans = mutable.Map.empty[Long, Long]
  val events = new AtomicLong(0L)
  /** Span each job group's jobs hang under. */
  val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  def totalsFor(prefix: String): StageTotals = totals.synchronized {
    val t = new StageTotals
    totals.foreach { case (g, s) =>
      if (g.startsWith(prefix)) {
        t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks; t.runMs += s.runMs
        t.cpuNs += s.cpuNs; t.shuffleWriteBytes += s.shuffleWriteBytes
        t.inputBytes += s.inputBytes; t.spillBytes += s.spillBytes
      }
    }
    t
  }

  def scansFor(prefix: String): Long = scans.synchronized(scans.collect {
    case (id, n) if Option(groupOfExecution.get(id)).exists(_.startsWith(prefix)) => n
  }.sum)

  private def tot(g: String): StageTotals = totals.getOrElseUpdate(g, new StageTotals)

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val g = group(e.properties)
      groupOfJob.put(e.jobId, g)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => groupOfExecution.put(id.toLong, g))
      e.stageIds.foreach(s => groupOfStage.put(s, g))
      jobStartNs.put(e.jobId, e.time * 1000000L)
      totals.synchronized(tot(g).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val g = Option(groupOfJob.get(e.jobId)).getOrElse("")
      val start = Option(jobStartNs.remove(e.jobId)).map(_.longValue).getOrElse(e.time * 1000000L)
      tracer.add(s"job:$g", Option(groupSpan.get(g)).map(_.intValue).getOrElse(0), start, e.time * 1000000L)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        // the event's query execution is package-private to Spark SQL
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null) {
          val n = Listeners.countScans(qe.executedPlan)
          scans.synchronized(scans(end.executionId) = scans.getOrElse(end.executionId, 0L) + n)
        }
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val info = e.stageInfo
      val g = Option(groupOfStage.get(info.stageId)).getOrElse("")
      val m = info.taskMetrics
      totals.synchronized {
        val t = tot(g)
        t.stages += 1
        t.tasks += info.numTasks
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.inputBytes += m.inputMetrics.bytesRead
          t.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val id = tracer.add(s"microbatch:${Option(p.name).getOrElse("query")}", 0, start,
        start + p.batchDuration * 1000000L)
      // the engine's phases laid end to end inside the batch span
      var t = start
      Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets").foreach { k =>
        val ms = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        if (ms > 0) { tracer.add(s"engine.$k", id, t, t + ms * 1000000L); t += ms * 1000000L }
      }
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val end = Clock.epochNs()
      tracer.add(s"sql:$funcName", 0, end - durationNs, end)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.incrementAndGet()
  }

  def register(session: SparkSession): Unit = {
    session.sparkContext.addSparkListener(spark)
    session.streams.addListener(streaming)
    session.listenerManager.register(sql)
  }

  def unregister(session: SparkSession): Unit = {
    session.sparkContext.removeSparkListener(spark)
    session.streams.removeListener(streaming)
    session.listenerManager.unregister(sql)
  }

  /** Listener events arrive asynchronously; wait until none has arrived
    * for a quiet interval so the totals are complete.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    while (events.get() != last && System.currentTimeMillis() < deadline) {
      last = events.get()
      Thread.sleep(400L)
    }
  }
}

object Listeners {
  /** File scans in a physical plan, through adaptive stages and subqueries. */
  def countScans(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => countScans(a.executedPlan)
    case s: QueryStageExec => countScans(s.plan)
    case f: FileSourceScanExec => 1L + f.subqueries.map(countScans).sum
    case other => other.children.map(countScans).sum + other.subqueries.map(countScans).sum
  }
}

/** Process-level measurements that need no listener. */
object Proc {
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  def loadavg: Seq[Double] = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
    finally src.close()
  }

  /** CPU time of the whole JVM (driver, executor threads, GC, JIT). */
  def cpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def threadCpuNs(t: Thread): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    math.max(0L, mx.getThreadCpuTime(t.getId))
  }
}

/** Samples the JVM's CPU time (minus one excluded thread's, such as the
  * load generator's) every few milliseconds, so CPU can be charged to a
  * wall-clock interval after the fact.
  */
final class CpuSampler(exclude: Option[Thread]) extends Thread("perfbench-cpu-sampler") {
  private val samples = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var running = true
  setDaemon(true)

  private def sample(): Unit = {
    val cpu = Proc.cpuNs - exclude.map(Proc.threadCpuNs).getOrElse(0L)
    samples.synchronized(samples += ((Clock.epochNs(), cpu)))
  }

  override def run(): Unit = while (running) { sample(); Thread.sleep(5L) }

  def finish(): Unit = { running = false; join(); sample() }

  /** CPU nanoseconds spent between two epoch-ns instants. */
  def between(fromNs: Long, toNs: Long): Long = samples.synchronized {
    def at(t: Long): Long = samples.find(_._1 >= t).orElse(samples.lastOption).map(_._2).getOrElse(0L)
    at(toNs) - at(fromNs)
  }
}

/** Percentiles by nearest rank. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** The highest percentile, up to p99, with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Double = pct(xs, math.min(0.99, math.max(0.5, 1.0 - 10.0 / xs.size)))
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => "{" + m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString(",") + "}"
    case xs: Iterable[_] => "[" + xs.map(value).mkString(",") + "]"
    case raw: Json.Raw => raw.s
    case other => str(other.toString)
  }

  final case class Raw(s: String)
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
