package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library-grade registration of the engine's custom Catalyst pieces via the
  * public `SparkSessionExtensions` hook:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or programmatically:
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Installs:
  *   - the as-of join planner strategy ([[graft.plans.AsOfJoinStrategy]]) —
  *     plans [[graft.plans.AsOfJoinPlan]] nodes to the sort-merge exec;
  *   - the [[graft.plans.JaccardLengthPrune]] optimizer rule — injects the
  *     PPJoin length prune into set-similarity threshold filters;
  *   - the [[graft.plans.LshBucketRewrite]] optimizer rule — lowers the
  *     opt-in `lsh_candidates` marker into a sign-LSH bucket equi-join;
  *   - the [[graft.plans.TieRunSort]] query-stage-prep rule — explicit
  *     multi-key sorts radix-sort their leading key, then order the tie
  *     runs in a streaming pass;
  *   - `vec_dot(array<double>, array<double>)` ([[graft.expr.DoubleVectorDot]]),
  *     `sorted_intersect_count(array<bigint>, array<bigint>)`
  *     ([[graft.expr.SortedLongIntersectCount]]) and
  *     `lsh_candidates(array<double>, array<double>)`
  *     ([[graft.expr.LshCandidates]]) as proper registry functions with
  *     docs, usable from SQL text.
  *
  * The per-session imperative registrars (`AsOfJoin.register`,
  * `VectorExpressions.register`) remain for sessions built without the
  * extension (e.g. an existing session the caller cannot rebuild); both
  * paths are idempotent and can coexist.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.JaccardLengthPrune)
    ext.injectOptimizerRule(_ => graft.plans.LshBucketRewrite)
    ext.injectQueryStagePrepRule(_ => graft.plans.TieRunSort)
    ext.injectFunction(GraftExtensions.VecDot)
    ext.injectFunction(GraftExtensions.SortedIntersectCount)
    ext.injectFunction(GraftExtensions.LshCandidatesFn)
  }
}

object GraftExtensions {
  /** (name, info, builder) descriptor for the vec_dot registry entry. */
  val VecDot: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(
      classOf[graft.expr.DoubleVectorDot].getName, null, "vec_dot",
      "vec_dot(a, b) - ordered-fold dot product of two array<double>; " +
        "NULL on null/ragged input.", ""),
    graft.expr.VectorExpressions.binaryBuilder("vec_dot",
      graft.expr.DoubleVectorDot))

  /** (name, info, builder) descriptor for sorted_intersect_count. */
  val SortedIntersectCount: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) = (
    FunctionIdentifier("sorted_intersect_count"),
    new ExpressionInfo(
      classOf[graft.expr.SortedLongIntersectCount].getName, null,
      "sorted_intersect_count",
      "sorted_intersect_count(a, b) - two-pointer intersection count of two " +
        "ascending-sorted array<bigint>; NULL on null input.", ""),
    graft.expr.VectorExpressions.binaryBuilder("sorted_intersect_count",
      graft.expr.SortedLongIntersectCount))

  /** (name, info, builder) descriptor for the lsh_candidates marker. */
  val LshCandidatesFn: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) = (
    FunctionIdentifier("lsh_candidates"),
    new ExpressionInfo(
      classOf[graft.expr.LshCandidates].getName, null, "lsh_candidates",
      "lsh_candidates(a, b) - opt-in ANN candidate marker over two " +
        "array<double>; true (exact) unless LshBucketRewrite lowers it to " +
        "a sign-LSH bucket equi-join.", ""),
    graft.expr.VectorExpressions.binaryBuilder("lsh_candidates",
      graft.expr.LshCandidates))
}
