package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** The reference's score-function registry (data/search.go:111-127) as
  * `Column`-returning functions.
  *
  * `resolve(name)` mirrors `GetVectorComparisonFunction`: unknown names fall
  * back to `VectorDistance` (search.go:125-126), and the `Annoy*` prefixed
  * aliases map to the same scalar formulas (the ANN routing decision is the
  * planner's concern, see graft.operators.Ann).
  *
  * Primary implementations are codegen'd [[VectorScore]] expressions; the
  * `hof*` variants are the same formulas composed from Spark higher-order
  * functions — kept as an executable spec (cross-checked in tests) and for
  * environments where custom expressions are unwanted.
  */
object ScoreFunctions {

  /** name → (kind, routesThroughAnnIndex) per data/search.go:111-120 */
  val registry: Map[String, ScoreKind] = Map(
    "VectorDistance" -> ScoreKind.L2,
    "AnnoyVectorDistance" -> ScoreKind.L2,
    "QuickVectorDistance" -> ScoreKind.L1,
    "VectorMultiplication" -> ScoreKind.Dot,
    "CosineSimilarity" -> ScoreKind.Cosine,
    "AnnoyCosineSimilarity" -> ScoreKind.Cosine,
    "AngularDistance" -> ScoreKind.Angular,
    "AnnoyAngularDistance" -> ScoreKind.Angular)

  def resolve(name: String): ScoreKind =
    registry.getOrElse(name, ScoreKind.L2)

  /** True when the score func name requests the approximate-index scan
    * (name prefix "Annoy", data/search.go:136-141). */
  def isApprox(name: String): Boolean = name.startsWith("Annoy")

  /** The exact-scan score name behind an `Annoy*` alias (same formula;
    * used once an index has produced candidates to re-score). */
  def exactName(name: String): String = name.stripPrefix("Annoy")

  def score(kind: ScoreKind, a: Column, b: Column): Column = {
    val f = (c: Column) => Bridge.expression(c.cast("array<float>"))
    Bridge.column(VectorScore(f(a), f(b), kind))
  }

  def score(name: String, a: Column, b: Column): Column =
    score(resolve(name), a, b)

  // E2 QuickVectorDistance and E5 AngularDistance are reached by name
  // through `score(name, …)`.
  // E1 VectorDistance — euclidean over min(len) dims
  def vectorDistance(a: Column, b: Column): Column = score(ScoreKind.L2, a, b)
  // E3 VectorMultiplication — dot product over min(len) dims
  def vectorMultiplication(a: Column, b: Column): Column = score(ScoreKind.Dot, a, b)
  // E4 CosineSimilarity — zero-padded, clamped, zero-norm-guarded
  def cosineSimilarity(a: Column, b: Column): Column = score(ScoreKind.Cosine, a, b)

  // ---------------------------------------------------------------------
  // HOF-composed executable spec (identical semantics, CodegenFallback).
  // ---------------------------------------------------------------------

  private def d(c: Column): Column = c.cast("array<double>")

  /** Σ f(x,y) over min-length zip (zip_with pads the short side with null;
    * skipping null pairs == truncating to min length). */
  private def zipSum(a: Column, b: Column, f: (Column, Column) => Column): Column =
    aggregate(
      zip_with(d(a), d(b), (x, y) => when(x.isNull || y.isNull, lit(0.0)).otherwise(f(x, y))),
      lit(0.0), (acc, x) => acc + x)

  /** The zip_with null-pad above implements TRUNCATE-TO-MIN for unequal
    * lengths — but it cannot tell a padding null from a genuine null
    * ELEMENT, which the codegen kernels score as NaN (undefined, excluded
    * from ranking) rather than silently as 0. This wrapper keeps the HOF
    * spellings semantically identical to [[VectorMath]]: null ARRAY →
    * null, null ELEMENT → NaN, else the formula. */
  private def elemGuard(a: Column, b: Column)(formula: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .when(exists(d(a), x => x.isNull) || exists(d(b), x => x.isNull),
        lit(Double.NaN))
      .otherwise(formula)

  def hofL2(a: Column, b: Column): Column =
    elemGuard(a, b)(sqrt(zipSum(a, b, (x, y) => (x - y) * (x - y))))

  def hofL1(a: Column, b: Column): Column =
    elemGuard(a, b)(zipSum(a, b, (x, y) => abs(x - y)))

  def hofDot(a: Column, b: Column): Column =
    elemGuard(a, b)(zipSum(a, b, (x, y) => x * y))

  private def sqNorm(a: Column): Column =
    aggregate(d(a), lit(0.0), (acc, x) => acc + x * x)

  def hofCosine(a: Column, b: Column): Column = {
    val ab = zipSum(a, b, (x, y) => x * y)
    val aa = sqNorm(a)
    val bb = sqNorm(b)
    elemGuard(a, b)(
      when(aa === 0.0 || bb === 0.0, lit(0.0))
        .otherwise(least(lit(1.0), greatest(lit(-1.0), ab / (sqrt(aa) * sqrt(bb))))))
  }

  def hofAngular(a: Column, b: Column): Column =
    lit(1.0) - acos(hofCosine(a, b)) / lit(math.Pi)

  def hof(kind: ScoreKind, a: Column, b: Column): Column = kind match {
    case ScoreKind.L2 => hofL2(a, b)
    case ScoreKind.L1 => hofL1(a, b)
    case ScoreKind.Dot => hofDot(a, b)
    case ScoreKind.Cosine => hofCosine(a, b)
    case ScoreKind.Angular => hofAngular(a, b)
  }
}
