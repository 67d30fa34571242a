package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round evidence dump: `.explain("formatted")` for named
  * queries into `<outDir>/<query><suffix>.txt`.
  *
  * Each query is EXECUTED first (a bounded `collect()` — every board
  * result at the small SFs is ≤ ~15k rows, the same collect the oracle
  * compare pays) so the captured plan is the ADAPTIVE FINAL plan
  * (`isFinalPlan=true`): the judge checks claims like "2 Exchange → 1"
  * or "SortMergeJoin → BroadcastHashJoin" against these files, and only
  * the post-AQE plan shows what actually ran.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local("graft-plandump", cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      spark.sparkContext.setJobDescription(s"plandump: $n")
      val plan = Reuse.scope {
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.collect()
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, n + suffix + ".txt"),
        plan.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
