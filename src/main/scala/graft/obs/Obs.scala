package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The measurement spine: ONE `SparkListener` that sums the work of
  * caller-tagged Spark jobs and keeps the `StreamingQueryProgress` of the
  * streaming queries those callers start — the Spark-native form of the
  * reference's `common` metrics layer (SURVEY §2 P5/A5/A6).
  *
  * `Obs.measured(spark, tag)(action)` runs `action` with `tag` on the
  * thread's job tags (`SparkContext.addJobTag`) and returns its result
  * with the [[Work]] done under the tag:
  *
  *   - batch work: each stage attempt is attributed through the job tags
  *     in its submission properties, and its completion adds the
  *     attempt's aggregated task metrics;
  *   - streaming work: a query's execution thread inherits the starting
  *     thread's job tags, so its micro-batch jobs count like any other
  *     job, and `QueryStartedEvent.jobTags` maps the query's run id to
  *     the tag its progress is kept under.
  *
  * Streaming events are posted to the context's listener bus whichever
  * session started the query, `newSession()` clones included, so this
  * one listener sees every drain without a per-session registration. A
  * query's started event is posted on its own thread before its first
  * job and all of these events travel one listener queue, so a run's tag
  * is always known before its progress arrives.
  *
  * Only tags under measurement are recorded: untagged work, and Spark's
  * own per-session job tags, leave no state behind.
  */
object Obs {

  /** Jobs and tasks of one micro-batch of a measured streaming query. */
  final case class BatchWork(jobs: Long = 0L, tasks: Long = 0L)

  /** Work done under one tag. Task-metric sums cover completed stage
    * attempts; `progress` holds the tag's micro-batches in arrival order
    * and `batches` their jobs and tasks by (query id, batch id).
    */
  final case class Work(
      jobs: Long = 0L,
      stages: Long = 0L,
      tasks: Long = 0L,
      executorRunMs: Long = 0L,
      executorCpuNs: Long = 0L,
      shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L,
      inputBytes: Long = 0L,
      memorySpillBytes: Long = 0L,
      diskSpillBytes: Long = 0L,
      progress: Vector[StreamingQueryProgress] = Vector.empty,
      batches: Map[(String, Long), BatchWork] = Map.empty) {

    def cpuSec: Double = executorCpuNs / 1e9

    def streamBatchMs: Long = progress.iterator.map(_.batchDuration).sum

    /** `durationMs` phases (addBatch, queryPlanning, walCommit, …) summed
      * over the tag's micro-batches.
      */
    def streamDurationsMs: Map[String, Long] =
      progress
        .flatMap(_.durationMs.asScala.map { case (k, v) => k -> v.longValue })
        .groupMapReduce(_._1)(_._2)(_ + _)

    /** Each micro-batch that read input rows with its jobs and tasks. */
    def nonEmptyBatches: Seq[(StreamingQueryProgress, BatchWork)] =
      progress.filter(_.numInputRows > 0).map { p =>
        p -> batches.getOrElse((p.id.toString, p.batchId), BatchWork())
      }

    private[obs] def inBatch(batch: Option[(String, Long)])(f: BatchWork => BatchWork): Work =
      batch.fold(this)(b => copy(batches = batches.updated(b, f(batches.getOrElse(b, BatchWork())))))
  }

  /** Run `action` with `tag` on this thread's Spark jobs (and on the
    * streaming queries it starts) and return its result with the work
    * measured under the tag, once the listener has seen every event the
    * action posted. Tags must be unique among concurrent measurements.
    */
  def measured[A](spark: SparkSession, tag: String)(action: => A): (A, Work) = {
    val sc = spark.sparkContext
    install(sc)
    require(watched.putIfAbsent(tag, Work()) == null, s"tag '$tag' is already under measurement")
    try {
      sc.addJobTag(tag)
      val result = try action finally sc.removeJobTag(tag)
      settle(sc)
      (result, watched.get(tag))
    } finally watched.remove(tag)
  }

  private val watched = new ConcurrentHashMap[String, Work]()
  private val stageTags = new ConcurrentHashMap[(Int, Int), (Seq[String], Option[(String, Long)])]()
  private val runTags = new ConcurrentHashMap[UUID, Seq[String]]()

  /** Entries the spine holds right now: 0 whenever no measurement runs. */
  private[obs] def retained: Int = watched.size + stageTags.size + runTags.size

  private def watchedOf(tags: Iterable[String]): Seq[String] =
    tags.iterator.filter(watched.containsKey).toSeq

  private def watchedOf(props: java.util.Properties): Seq[String] =
    Option(props)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(v => watchedOf(v.split(',')))
      .getOrElse(Seq.empty)

  /** The (query id, batch id) of a streaming query's micro-batch job; the
    * stream thread sets both as local properties, and threads it starts
    * inherit them. A batch replayed after a restart adds to its first run.
    */
  private def batchOf(props: java.util.Properties): Option[(String, Long)] =
    for {
      p <- Option(props)
      query <- Option(p.getProperty("sql.streaming.queryId"))
      batch <- Option(p.getProperty("streaming.sql.batchId"))
    } yield (query, batch.toLong)

  private def add(tags: Seq[String])(f: Work => Work): Unit =
    tags.foreach(t => watched.computeIfPresent(t, (_, w) => f(w)))

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(watchedOf(e.properties)) { w =>
        w.copy(jobs = w.jobs + 1).inBatch(batchOf(e.properties))(b => b.copy(jobs = b.jobs + 1))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val tags = watchedOf(e.properties)
      if (tags.nonEmpty)
        stageTags.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), (tags, batchOf(e.properties)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageTags.remove((info.stageId, info.attemptNumber()))).foreach { case (tags, batch) =>
        val m = info.taskMetrics
        add(tags) { w =>
          val counted = w.copy(stages = w.stages + 1, tasks = w.tasks + info.numTasks)
            .inBatch(batch)(b => b.copy(tasks = b.tasks + info.numTasks))
          if (m == null) counted
          else counted.copy(
            executorRunMs = w.executorRunMs + m.executorRunTime,
            executorCpuNs = w.executorCpuNs + m.executorCpuTime,
            shuffleReadBytes = w.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
            shuffleWriteBytes = w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
            inputBytes = w.inputBytes + m.inputMetrics.bytesRead,
            memorySpillBytes = w.memorySpillBytes + m.memoryBytesSpilled,
            diskSpillBytes = w.diskSpillBytes + m.diskBytesSpilled)
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: QueryStartedEvent =>
        val tags = watchedOf(s.jobTags)
        if (tags.nonEmpty) runTags.put(s.runId, tags)
      case p: QueryProgressEvent =>
        Option(runTags.get(p.progress.runId))
          .foreach(add(_)(w => w.copy(progress = w.progress :+ p.progress)))
      case t: QueryTerminatedEvent =>
        runTags.remove(t.runId)
      case _ => ()
    }
  }

  private var installedOn: SparkContext = _

  private def install(sc: SparkContext): Unit = synchronized {
    if (installedOn ne sc) {
      sc.addSparkListener(Listener)
      installedOn = sc
    }
  }

  /** Block until the listener bus has delivered every event posted so
    * far. `LiveListenerBus.waitUntilEmpty` is package-private to Spark in
    * Scala but public in bytecode, so it is reached reflectively.
    */
  private def settle(sc: SparkContext): Unit =
    try {
      val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
}
