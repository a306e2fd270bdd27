package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Nearest-cell routing for [[graft.operators.Ann]]'s IVF paths — the one
  * routing every IVF path uses: the single query and the routed batches
  * call [[VectorCells.nearest]] on the driver, and `ivfAppend` assigns
  * appended rows through [[NearestCellsExpr]], the [[LidScoreExpr]]
  * reference-object pattern applied to the coarse quantizer. The centroid
  * matrix rides the serialized expression to every executor as ONE
  * reference object, and each row routes in a single O(k·d)
  * primitive-array walk — where an inline Column spelling (one literal
  * sub-expression per centroid, kept in test scope as the parity
  * reference) runs k interpreted higher-order functions per row and, at
  * auto-sized k (r12: 2564 cells × 64 dims ≈ 160k literals in one
  * expression tree), passes codegen's method limits and is quadratic to
  * analyze.
  *
  * Parity contract (VectorCellsParity spec): bit-identical to the inline
  * spelling — same double cast, same in-order normalize
  * ([[graft.operators.Ann.l2Normalize]]), same in-order squared-L2 fold,
  * same (distance, index) ascending order with Spark's SQL double
  * ordering (NaN greatest; sums of squares never produce -0.0). A null
  * element or a dimension other than the centroids' fails loudly. */
object VectorCells {

  /** Broadcastable coarse-quantizer payload. */
  final class Cells(val centroids: Array[Array[Double]]) extends Serializable {
    require(centroids.nonEmpty, "nearest_cells: empty centroid set")
    val dim: Int = centroids(0).length
    require(centroids.forall(_.length == dim),
      "nearest_cells: ragged centroid set")
  }

  /** SQL double ordering (SQLOrderingUtil semantics): NaN sorts greatest,
    * NaN == NaN. Distances are sums of squares, so -0.0 never arises. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else if (java.lang.Double.isNaN(a)) { if (java.lang.Double.isNaN(b)) 0 else 1 }
    else -1

  /** The `nProbe` nearest cell ids for one vector, by (squared L2,
    * index) ascending, in one walk. */
  def nearest(v: ArrayData, cells: Cells, isFloat: Boolean,
      normalize: Boolean, nProbe: Int): GenericArrayData = {
    val n = v.numElements()
    require(n == cells.dim,
      s"nearest_cells: vector dim $n != centroid dim ${cells.dim}")
    val q = new Array[Double](n)
    var i = 0
    while (i < n) {
      require(!v.isNullAt(i),
        s"nearest_cells: NULL element at index $i — a vector with null " +
          "components cannot be routed; filter or fill first")
      q(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    if (normalize) {
      var acc = 0d
      var j = 0
      while (j < n) { acc = acc + q(j) * q(j); j += 1 }
      val nrm = math.sqrt(acc)
      if (nrm != 0d) { j = 0; while (j < n) { q(j) = q(j) / nrm; j += 1 } }
    }
    val k = cells.centroids.length
    val ds = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cen = cells.centroids(c)
      var acc = 0d
      var j = 0
      while (j < n) { val df = q(j) - cen(j); acc = acc + df * df; j += 1 }
      ds(c) = acc
      c += 1
    }
    val order = new Array[Integer](k)
    c = 0
    while (c < k) { order(c) = Integer.valueOf(c); c += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val d = cmpDouble(ds(x.intValue()), ds(y.intValue()))
        if (d != 0) d else Integer.compare(x.intValue(), y.intValue())
      }
    })
    val m = math.min(nProbe, k)
    val out = new Array[Any](m)
    i = 0
    while (i < m) { out(i) = order(i).intValue(); i += 1 }
    new GenericArrayData(out)
  }
}

/** `nearest_cells(vec)` under a fixed centroid set: array<int> of the
  * nProbe nearest cell ids, map-side (no explode, no join, no literal
  * blowup). */
case class NearestCellsExpr(child: Expression, cells: VectorCells.Cells,
    normalize: Boolean, nProbe: Int) extends UnaryExpression {

  require(nProbe >= 1, s"nearest_cells: nProbe must be >= 1, got $nProbe")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells requires array<float> or array<double>, got ${t.catalogString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override protected def nullSafeEval(v: Any): Any =
    VectorCells.nearest(v.asInstanceOf[ArrayData], cells, isFloat,
      normalize, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cells", cells,
      classOf[VectorCells.Cells].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorCells.nearest($c, $cRef, $isFloat, $normalize, $nProbe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCellsExpr {
  def apply(vec: Column, centroids: Array[Array[Double]],
      normalize: Boolean, nProbe: Int): Column =
    Bridge.column(NearestCellsExpr(Bridge.expression(vec),
      new VectorCells.Cells(centroids), normalize, nProbe))
}
