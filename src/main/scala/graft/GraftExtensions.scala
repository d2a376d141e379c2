package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, ExactDecimalRule, OverlapCount, TopKByScore}

/** The library's `SparkSessionExtensions` entry point — the deployment
  * surface for clusters: `--conf spark.sql.extensions=graft.GraftExtensions`
  * makes every session (and every `newSession()`) come up with the
  * graft functions installed, no imperative registration call needed.
  * SQL-only users get `graft_dot` the same way Scala users do.
  *
  * [[graft.functions.VectorFunctions.dot]] keeps its idempotent
  * runtime registration as a fallback so ad-hoc sessions built without
  * the conf still work.
  *
  * It also installs [[graft.functions.ExactDecimalRule]], which computes
  * double→decimal casts, decimal products and batch decimal sums on
  * longs. The rule is result-identical (it falls back to Spark's own
  * expression wherever it cannot prove the same result, nulls and
  * errors included), so it is not a knob: no conf turns it off, and
  * every session built through [[GraftSession]] plans with it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_overlap"),
      new ExpressionInfo(classOf[OverlapCount].getName, "graft_overlap"),
      (exprs: Seq[Expression]) => OverlapCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByScore].getName, "graft_topk"),
      (exprs: Seq[Expression]) =>
        TopKByScore(exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
    // Spark's own bloom pair, exposed for explicit store-vs-batch
    // pre-filters (BloomFunctions registers the same pair at runtime)
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => ExactDecimalRule)
  }
}
