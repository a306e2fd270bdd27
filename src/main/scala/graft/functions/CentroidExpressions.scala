package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Row kernel behind [[NearestCentroid]]: one static call per row, a tight
  * primitive loop over the flattened k×d centroid matrix — no per-centroid
  * Column machinery, no boxing, no closure dispatch. Squared distances are
  * compared (argmin is sqrt-invariant); the single sqrt happens once on the
  * winner, so the emitted `dist` matches DuckDB's `list_distance` exactly.
  * Strictly-less comparison keeps the FIRST (lowest id, ids sorted by the
  * caller) centroid on an exact tie — the deterministic tie-break the
  * oracle replays as `ORDER BY dist, cluster_id`. */
object CentroidKernel {
  def nearest(v: ArrayData, flat: Array[Double], ids: Array[Int], d: Int): InternalRow = {
    if (v.numElements() != d)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector dim ${v.numElements()} != centroid dim $d " +
          "(clustering requires a fixed dimension; centroids derive from the data)")
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    val k = ids.length
    while (c < k) {
      val off = c * d
      var s = 0d
      var j = 0
      while (j < d) {
        val diff = v.getDouble(j) - flat(off + j)
        s += diff * diff
        j += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](ids(best), math.sqrt(bestD)))
  }
}

/** `struct(cluster, dist)` of the nearest centroid (euclidean) for an
  * `array<double>` vector — the assignment step of Lloyd k-means and the
  * routing step of SemDeDup-style semantic dedup
  * ([[graft.operators.Clustering]]).
  *
  * The centroid matrix rides along as a flattened literal (broadcast with
  * the serialized expression, referenced via `addReferenceObj` in codegen) —
  * the same reference-object shape as [[NearestCellsExpr]]: one codegen'd
  * static call per row instead of k interpreted higher-order-function
  * evaluations, so assignment stays inside whole-stage codegen at any k. */
case class NearestCentroid(child: Expression, ids: Array[Int],
    flat: Array[Double], d: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(v: Any): Any =
    CentroidKernel.nearest(v.asInstanceOf[ArrayData], flat, ids, d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("centFlat", flat, "double[]")
    val idsRef = ctx.addReferenceObj("centIds", ids, "int[]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.CentroidKernel.nearest($v, $flatRef, $idsRef, $d)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
