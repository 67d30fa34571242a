package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` deployment path: a session built with
  * [[GraftExtensions]] must expose the native expressions to plain SQL
  * with no driver-side register() call.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects the native expressions at session build") {
    // spark.sql.extensions is a STATIC conf read from the SparkContext
    // at session build — a context created by an earlier suite would
    // silently skip injection, so this test needs its own context.
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession
      .builder()
      .master("local[2]")
      .appName("extensions-spec")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dot = spark
        .sql("SELECT vec_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
        .head()
        .getDouble(0)
      assert(dot === 32.0)

      // z_order_key: both the 2-arg specialized path and the multi path
      val z2 = spark.sql("SELECT z_order_key(3L, 5L) AS z").head().getLong(0)
      assert(z2 === 39L) // interleave(011, 101) = 100111
      val z3 = spark.sql("SELECT z_order_key(1L, 1L, 1L) AS z").head().getLong(0)
      assert(z3 === 7L)
      val wrongArity = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT z_order_key(1L) AS z").collect()
      }
      assert(wrongArity.getMessage.contains("z_order_key"))

      // bounded_lev with a literal bound
      val lev = spark.sql("SELECT bounded_lev('kitten', 'sitting', 5) AS d").head().getInt(0)
      assert(lev === 3)

      // DESCRIBE FUNCTION resolves through the injected ExpressionInfo
      val desc = spark.sql("DESCRIBE FUNCTION vec_dot").collect().mkString
      assert(desc.contains("vec_dot"))
      assert(
        spark.sql("DESCRIBE FUNCTION z_order_key").collect().mkString.contains("z_order_key"))
    } finally {
      // release this test's dedicated context; later suites' lazy
      // getOrCreate sessions build a fresh one
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
