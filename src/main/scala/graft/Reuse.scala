package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The one way `src/main` materialises an intermediate, and the one
  * place that decides when it is released.
  *
  *   - [[pin]] is `persist()` at Spark's default level (MEMORY_AND_DISK);
  *   - [[cut]] is an eager `localCheckpoint()`: lineage truncated, rows
  *     held as block-manager blocks;
  *   - [[free]] releases one of either early — a loop's superseded
  *     iterate — whether or not a scope is open;
  *   - [[scope]] runs a body and, in a `finally`, releases everything
  *     pinned or cut under it on this thread, last in first out (a pin
  *     built on an earlier pin goes first), whether the body returned or
  *     threw.
  *
  * Scopes form a plain per-thread stack (not inherited by threads the
  * body starts): a nested scope releases only its own entries and its
  * parent's stay. Whoever runs a query and then moves on — `Bench`'s
  * timings, `Verify`'s dumps, `PlanDump`, a sink's micro-batch — opens
  * the scope around the query's action. A query's result must not
  * outlive that scope: a pin it reads would be recomputed, a cut it reads
  * would be gone.
  *
  * Outside any scope nothing changes against plain Spark: a pin stays in
  * the cache manager until the caller clears the session's cache (or
  * calls `free`), and a cut's blocks stay until the driver's
  * `ContextCleaner` reaps them after the frame is garbage-collected.
  * Clearing the cache never reaches a cut's blocks; [[free]] and a scope
  * do.
  */
object Reuse {

  private val scopes = new ThreadLocal[List[ArrayBuffer[Dataset[_]]]] {
    override def initialValue(): List[ArrayBuffer[Dataset[_]]] = Nil
  }

  def scope[A](body: => A): A = {
    val mine = ArrayBuffer.empty[Dataset[_]]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.reverseIterator.foreach(release)
    }
  }

  def pin[T](ds: Dataset[T]): Dataset[T] = register(ds.persist())

  def cut[T](ds: Dataset[T]): Dataset[T] = register(ds.localCheckpoint())

  def free(ds: Dataset[_]): Unit = {
    scopes.get.foreach { entries =>
      val i = entries.indexWhere(_ eq ds)
      if (i >= 0) entries.remove(i)
    }
    release(ds)
  }

  private def register[T](ds: Dataset[T]): Dataset[T] = {
    scopes.get.headOption.foreach(_ += ds)
    ds
  }

  /** A cut's plan is one `LogicalRDD` over the checkpointed RDD, whose
    * blocks only `RDD.unpersist` frees (`Dataset.unpersist` reaches
    * cache-manager entries alone); anything else is a pin, or nothing.
    */
  private def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.isCheckpointed => lr.rdd.unpersist(blocking = false)
      case _ => if (ds.storageLevel != StorageLevel.NONE) ds.unpersist(blocking = false)
    }
}
