package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (SURVEY §2.11): registers the
  * library's native Catalyst expressions at session build time, so a
  * cluster deployment enables them with
  *
  * {{{
  * spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`) and every session — SQL,
  * thrift, notebook — sees `vec_dot`, `z_order_key` and the rest without
  * any driver-side `register()` call. The per-session `register` helpers
  * (`VecDot.register` and the like) remain for embedded use; this is the
  * idiomatic injection path Spark provides for libraries.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension (§2.11 tier c): custom logical node +
    // strategy + exec for the as-of join
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // opt-in optimizer rewrite (spark.graft.bitmapCountDistinct.enabled):
    // count(DISTINCT <integral>) → the mergeable bitmap aggregate
    ext.injectOptimizerRule(_ => RewriteCountDistinctToBitmap)
    val vecDot: Seq[Expression] => Expression = exprs => VecDot(exprs(0), exprs(1))
    ext.injectFunction(
      (
        FunctionIdentifier("vec_dot"),
        info("vec_dot", "vec_dot(a, b) - sequential-fold dot product of two double arrays"),
        vecDot))
    ext.injectFunction(
      (
        FunctionIdentifier("z_order_key"),
        info(
          "z_order_key",
          "z_order_key(a, b[, c[, d]]) - Morton interleave of 2-4 integral columns " +
            "for multi-dimensional layout clustering"),
        ZOrderKey.builder))
    ext.injectFunction(
      (
        FunctionIdentifier("dtw_dist"),
        info(
          "dtw_dist",
          "dtw_dist(a, b, r) - banded dynamic-time-warping distance over bigint series"),
        DtwDistance.builder))
    ext.injectFunction(
      (
        FunctionIdentifier("bounded_lev"),
        info(
          "bounded_lev",
          "bounded_lev(a, b, k) - Levenshtein distance early-exited at literal bound k"),
        BoundedLev.builder))
    // mergeable exact-distinct bitmap family (TypedImperativeAggregate →
    // ObjectHashAggregateExec with map-side partial OR)
    graft.functions.BitmapAgg.registrations.foreach(ext.injectFunction)
  }
}
