package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The one function registry: `spark.sql.extensions=graft.GraftExtensions`
  * (set in `Sessions.confs`, so every session the project builds has
  * it) binds every native graft expression/aggregate to its `graft_*`
  * name in the session's catalog at session build time. SQL text,
  * `expr(...)` and `call_function(...)` then resolve them with no Scala
  * import and no per-session call, in cloned and new sessions too (the
  * deployment story for a shared cluster: ship the jar, set one conf,
  * every session — including pure-SQL clients — gets the functions).
  * A session built without the conf fails loudly at analysis with
  * `UNRESOLVED_ROUTINE`; a new native function is added here only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_dot", e => DotFloat(e(0), e(1))))
    ext.injectFunction(fn("graft_cosine", e => CosineFloat(e(0), e(1))))
    ext.injectFunction(fn("graft_topk",
      e => TopKScoreId(e(0), e(1), e(2)).toAggregateExpression()))
    ext.injectFunction(fn("graft_simhash64",
      e => SimHash64(e(0)).toAggregateExpression()))
    ext.injectFunction(fn("graft_nfc", e => NormalizeNfc(e(0))))
    ext.injectFunction(fn("graft_winnow",
      e => WinnowMinima(e(0),
        e(1).eval().asInstanceOf[Number].intValue(),
        e(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction(fn("graft_heavyhitters",
      e => MisraGries(e(0), e(1)).toAggregateExpression()))
    ext.injectFunction(fn("graft_bitmap",
      e => BitmapBuild(e(0)).toAggregateExpression()))
    ext.injectFunction(fn("graft_bitmap_or",
      e => BitmapOr(e(0)).toAggregateExpression()))
    ext.injectFunction(fn("graft_bitmap_card", e => BitmapCardinality(e(0))))
    ext.injectFunction(fn("graft_bloom",
      e => BloomBuild(e(0), e(1), e(2)).toAggregateExpression()))
    ext.injectFunction(fn("graft_might_contain", e => BloomMightContain(e(0), e(1))))
    ext.injectFunction(fn("graft_sorted_intersect", e => SortedIntersectLong(e(0), e(1))))
    ext.injectFunction(fn("graft_charhist39", e => CharHist39(e(0))))
    ext.injectFunction(fn("graft_kll", e => KllBuild(e(0)).toAggregateExpression()))
    ext.injectFunction(fn("graft_kll_merge", e => KllMerge(e(0)).toAggregateExpression()))
    ext.injectFunction(fn("graft_kll_quantile", e => KllQuantile(e(0), e(1))))
    ext.injectFunction(fn("graft_theta", e => ThetaBuild(e(0)).toAggregateExpression()))
    ext.injectFunction(fn("graft_theta_union", e => ThetaUnionAgg(e(0)).toAggregateExpression()))
    ext.injectFunction(fn("graft_theta_estimate", e => ThetaEstimate(e(0))))
    ext.injectFunction(fn("graft_theta_intersect", e => ThetaIntersect(e(0), e(1))))
    ext.injectFunction(fn("graft_theta_anotb", e => ThetaANotB(e(0), e(1))))
    // optimizer: naive |x - y| <= k band joins get q30's bucketized
    // equi-join shape automatically (see plans/BandJoinRewrite.scala)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}
