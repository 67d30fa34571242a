package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The release contract of [[Reuse]]: a scope frees every pin and cut
  * made under it, on return and on a throw, and a nested scope frees
  * only its own.
  */
class ReuseSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = Sessions.local("reuse-spec", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty
  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cutRddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get

  /** Runs `body` from a clean cache and returns the persistent RDDs it
    * left behind.
    */
  private def leftBy(body: => Unit): Set[Int] = {
    spark.catalog.clearCache()
    val before = persistentIds
    body
    persistentIds -- before
  }

  // between them these pin (symmetric edges, the kcore iterates), cut
  // (the label-propagation rounds) and run connected components
  for (q <- Seq("q_label_propagation", "q_kcore", "q_dedup_clusters"))
    test(s"a scope releases everything $q pins or cuts") {
      val left = leftBy {
        val n = Reuse.scope(SparkEntry.queries(q)(spark, dir).count())
        assert(n > 0)
      }
      assert(cacheEmpty, s"$q left cache-manager entries")
      assert(left.isEmpty, s"$q left persistent RDDs $left")
    }

  test("a scope releases when its body throws") {
    val left = leftBy {
      val e = intercept[IllegalStateException] {
        Reuse.scope {
          SparkEntry.queries("q_dedup_clusters")(spark, dir).count()
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
    }
    assert(cacheEmpty)
    assert(left.isEmpty, s"persistent RDDs left after a throw: $left")
  }

  test("a nested scope releases only its own entries") {
    val left = leftBy {
      Reuse.scope {
        val outerPin = Reuse.pin(spark.range(100).toDF("id"))
        outerPin.count()
        val outerCut = Reuse.cut(spark.range(50).toDF("id"))
        val innerIds = Reuse.scope {
          val innerPin = Reuse.pin(spark.range(10).toDF("x"))
          innerPin.count()
          val innerCut = Reuse.cut(spark.range(5).toDF("x"))
          SparkEntry.queries("q_kcore")(spark, dir).count()
          (innerPin, cutRddId(innerCut))
        }
        assert(innerIds._1.storageLevel == StorageLevel.NONE)
        assert(!persistentIds.contains(innerIds._2))
        assert(outerPin.storageLevel != StorageLevel.NONE)
        assert(persistentIds.contains(cutRddId(outerCut)))
        assert(outerCut.count() == 50)
      }
    }
    assert(cacheEmpty)
    assert(left.isEmpty, s"persistent RDDs left by the outer scope: $left")
  }

  test("free releases a pin or a cut early, with or without a scope") {
    spark.catalog.clearCache()
    val pin = Reuse.pin(spark.range(10).toDF("id"))
    pin.count()
    val cut = Reuse.cut(spark.range(10).toDF("id"))
    assert(pin.storageLevel != StorageLevel.NONE)
    assert(persistentIds.contains(cutRddId(cut)))
    Reuse.free(pin)
    Reuse.free(cut)
    assert(pin.storageLevel == StorageLevel.NONE)
    assert(!persistentIds.contains(cutRddId(cut)))
    val left = leftBy {
      Reuse.scope {
        val p = Reuse.pin(spark.range(7).toDF("id"))
        p.count()
        Reuse.free(p)
        assert(p.storageLevel == StorageLevel.NONE)
      }
    }
    assert(left.isEmpty)
  }
}
