package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType}

/** The engine's fixed random-hyperplane family for sign-LSH (SimHash over
  * real vectors), shared by the sim3 registered query, the
  * [[graft.plans.LshBucketRewrite]] optimizer rule, and the DuckDB oracle
  * builders.
  *
  * Deterministic by construction: plane j, component i is a fixed integer
  * LCG-style mix embedded as LITERALS wherever a signature is computed, so
  * the Spark plan and the oracle SQL agree bit-for-bit with no cross-engine
  * hash parity requirement. 6 planes ≈ 64 buckets: the signature is the
  * shuffle key and expected bucket size is N/64 — candidate generation is
  * an equi-join whose per-bucket fan-in shrinks as planes are added.
  */
object RandomHyperplanes {
  val NumPlanes = 6
  val Dim = 64
  def planeVal(j: Int, i: Int): Long =
    ((j * Dim + i + 1).toLong * 2654435761L % 2147483647L) % 2001L - 1000L
  val Planes: Seq[Array[Double]] =
    (0 until NumPlanes).map(j => Array.tabulate(Dim)(i => planeVal(j, i).toDouble))

  /** Banded family for MULTI-band sign-LSH (sim12): [[NumBands]] bands of
    * [[BandBits]] planes each, drawn from the same deterministic generator
    * with the global plane index running on past the single-probe family —
    * so band 0 IS the sim3/sim4 signature (planes 0-5) and sim12's
    * candidate set is a SUPERSET of sim3's by construction, while bands 1
    * and 2 are fresh independent projections. A vector pair is a candidate
    * if ANY band signature matches (the dd3 MinHash banding pattern applied
    * to sign-LSH): per-band collision keeps sim3's N/64 selectivity, and
    * the OR over 3 bands triples recall at ≤3x the candidates. */
  val NumBands = 3
  val BandBits = 6
  /** All banded planes, global index j in [0, NumBands*BandBits); band(j) =
    * j / BandBits, bit(j) = j % BandBits. */
  val BandedPlanes: Seq[Array[Double]] =
    (0 until NumBands * BandBits).map(j => Array.tabulate(Dim)(i => planeVal(j, i).toDouble))

  /** dd16's DEDUP band family: [[DedupBands]] bands of [[BandBits]] planes
    * drawn from the same generator with the global index running past the
    * sim12 banded family (disjoint plane sets). A dedup sweep needs far
    * more bands than a top-k probe: sim12 ranks whatever its 3 bands
    * surface, but dd16's contract is RECALL against dd5's exact pair set,
    * and the corpus' qualifying pairs sit at the threshold floor — sign-LSH
    * keeps a cos-c pair per 6-bit band with probability (1 − acos(c)/π)^6
    * ≈ 0.054 at c = 0.35, so 3 bands recall ~15% while 48 bands give
    * 1 − (1 − 0.054)^48 ≈ 93% (≥ 97% by c = 0.45, ≈ 1 for true near-dups).
    * 48 × 64-bucket bands still cut the within-cell candidate constant far
    * below dd5's all-pairs enumeration — the measured trade in scale.json. */
  val DedupBands = 48
  /** Component generator for the dedup family: a splitmix64-style
    * avalanche mix, NOT [[planeVal]]'s linear stride — the LCG family's
    * consecutive planes are the same stride sequence shifted by
    * [[Dim]], and that cross-plane correlation collapsed the measured
    * 48-band recall to ~62% where the independent-planes math predicts
    * ~93%. sim3/sim12 keep the legacy family — a decision r16 MEASURED
    * rather than assumed (the Sim12Recall profile, pinned in
    * SimilaritySpec): the correlation is present at sim12's shape (the
    * 3-band OR multiplies recall ×1.75 where independent bands deliver
    * ×2.6), but the legacy planes' component bias makes ~2× larger
    * buckets, so at the served 3 bands legacy's ABSOLUTE recall@10 is
    * strictly higher (0.21 vs 0.13 at sf0.1) with recall-per-candidate
    * within ~15% — migrating would reduce what the top-k contract
    * prices. With the mixed components
    * the measured sf0.1 recall is 94% overall and 100% at cos ≥ 0.45.
    * No cross-engine hash parity is required: the components are
    * embedded as LITERALS in both the Spark plan and the oracle SQL. */
  def dedupPlaneVal(j: Int, i: Int): Long = {
    var z = (NumBands * BandBits + j).toLong * Dim + i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    java.lang.Long.remainderUnsigned(z, 2001L) - 1000L
  }
  val DedupPlanes: Seq[Array[Double]] =
    (0 until DedupBands * BandBits).map(j =>
      Array.tabulate(Dim)(i => dedupPlaneVal(j, i).toDouble))

  /** PRODUCTION-threshold dedup band family (dd19): [[ProdBands]] bands
    * of [[ProdBandBits]] planes from the same splitmix generator, global
    * index running past the dd16 family (disjoint planes). WIDE bands
    * are what a cos ≥ 0.9 near-dup contract wants: per-band keep
    * (1 − acos(c)/π)^16 ≈ 0.084 at c = 0.9 and 0.48 at c = 0.99, so 45
    * bands give recall ≈ 98% at the threshold and ≈ 1 on true copy
    * mass, while the incidental collision floor drops to 45/2^16 ≈
    * 0.069% of the within-cell pair space — the regime where candidates
    * ≈ true pairs ≪ corpus × bands (dd16's 6-bit family instead keeps
    * ~53% of all pairs: sized for recall at dd5's 0.35 floor, where no
    * sign-LSH resolution separates cheaply). */
  val ProdBands = 45
  val ProdBandBits = 16
  def prodPlaneVal(j: Int, i: Int): Long =
    dedupPlaneVal(DedupBands * BandBits + j, i)
  val ProdPlanes: Seq[Array[Double]] =
    (0 until ProdBands * ProdBandBits).map(j =>
      Array.tabulate(Dim)(i => prodPlaneVal(j, i).toDouble))
}

/** Opt-in LSH candidate-generation MARKER: `lsh_candidates(a, b)` in a join
  * condition declares "restrict this pair space to approximate-neighbor
  * candidates".
  *
  * Semantics are deliberately two-level:
  *   - UNOPTIMIZED (no [[graft.plans.LshBucketRewrite]] in the session):
  *     the expression evaluates to literal `true` — the query is the EXACT
  *     all-pairs computation, just slower. Correctness never depends on the
  *     rewrite firing.
  *   - With the rule registered, the marker conjunct is REPLACED by an
  *     equality of injected sign-LSH signature columns
  *     ([[RandomHyperplanes]]), turning the cross/theta join into a plain
  *     equi-join on the bucket — the candidate set the user opted into.
  *
  * This is the approximation-by-explicit-opt-in contract: a rewrite that
  * silently bucketed every cosine-threshold query would change exact
  * results (recall < 1), so the trigger is a marker the user writes, not a
  * pattern the optimizer guesses at. Modeled as a non-foldable expression
  * so constant folding cannot erase it before the rule sees it.
  */
case class LshCandidates(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lsh_candidates requires two array<double> args, got " +
        s"${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  // never constant-folded away, even under foldable children: the marker
  // must survive until the optimizer rule looks for it
  override def foldable: Boolean = false
  override def prettyName: String = "lsh_candidates"

  // exact-superset fallback: every pair is a candidate
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode.forNonNullValue(org.apache.spark.sql.catalyst.expressions.codegen
      .JavaCode.literal("true", BooleanType))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
