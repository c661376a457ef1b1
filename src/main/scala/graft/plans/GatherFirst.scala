package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{BucketizeVector, GatherVector}

/**
 * Gather before bucketizing: rewrites
 * `GatherVector(BucketizeVector(v, S), I)` into
 * `BucketizeVector(GatherVector(v, I, width = |S|), S(I))`, so a
 * discretizer -> selector transform bucketizes the |I| kept features
 * instead of all |S| (631 -> 10 per row on the paper's pipeline).
 *
 * The rows are the same: feature j of the output is bucket(S(I(j)),
 * v(I(j))) either way, and the gather's `width` keeps the bucketize's
 * full-width check on the input, message included. What moves: a NaN or
 * out-of-range value in a feature the gather drops is no longer
 * bucketized, so it no longer throws; in a kept feature it still does.
 *
 * The rewritten gather carries a width, so the rule never matches its
 * own output. It fires only where the two expressions nest, which is
 * after CollapseProject merged the discretizer's projection into the
 * selector's; a bucketized column that is also used elsewhere keeps its
 * own projection (CollapseProject does not duplicate it), so nothing is
 * bucketized twice. A plan with no [[GatherVector]] is returned as is.
 */
object GatherFirst extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[GatherVector])))) plan
    else plan.transformAllExpressions {
      case GatherVector(BucketizeVector(v, splits), indices, GatherVector.AnyWidth)
          if indices.isEmpty || indices.last < splits.length =>
        BucketizeVector(GatherVector(v, indices, splits.length),
          indices.map(i => splits(i)))
    }

  /** Adds the rule to the session's extra optimizations, once (the
    * `SparkSessionExtensions` route is [[GraftExtensions]]). */
  def install(spark: SparkSession): Unit = synchronized {
    val methods = spark.experimental
    if (!methods.extraOptimizations.contains(GatherFirst)) {
      methods.extraOptimizations = methods.extraOptimizations :+ GatherFirst
    }
  }
}
