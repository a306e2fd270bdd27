package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Scalar vector math shared by the interpreted `eval` path and generated
  * Java (whole-stage codegen emits static calls into this object — Scala
  * objects expose static forwarders, so `graft.functions.VectorMath.l2(a,b)`
  * is valid generated code).
  *
  * Semantics follow the reference exactly (see SURVEY.md §2.3):
  *  - l2 / l1 / dot: truncate to min(len) dims (data/util.go:28-53)
  *  - cosine: cross-terms over min(len), norms over each vector's own full
  *    length (equivalent to zero-padding, data/util.go:61-96); returns 0 when
  *    either norm is 0; clamped to [-1, 1]
  *  - angular: 1 - acos(cosine)/π — a similarity, higher is closer
  *    (data/util.go:56-58)
  *
  * Deviation from the reference (documented in SURVEY §7): accumulation is
  * in f64, not f32 — oracle comparisons use rounded values.
  */
object VectorMath {

  /** A null ELEMENT makes the score undefined: `ArrayData.getFloat` reads
    * a null slot as 0.0f silently, which would return a plausible-looking
    * WRONG score. NaN is the engine's established undefined-score channel
    * (every search path filters NaN before ranking), and DuckDB's list
    * functions return NULL for the same input — both engines exclude the
    * row rather than mis-rank it. The pre-scan is a bitmap test per
    * element on the unsafe format — cheap next to the float math. */
  private def undefined(a: ArrayData, b: ArrayData): Boolean = {
    var i = 0
    val na = a.numElements()
    while (i < na) { if (a.isNullAt(i)) return true; i += 1 }
    i = 0
    val nb = b.numElements()
    while (i < nb) { if (b.isNullAt(i)) return true; i += 1 }
    false
  }

  def l2(a: ArrayData, b: ArrayData): Double = {
    if (undefined(a, b)) return Double.NaN
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  def l1(a: ArrayData, b: ArrayData): Double = {
    if (undefined(a, b)) return Double.NaN
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble)
      i += 1
    }
    acc
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    if (undefined(a, b)) return Double.NaN
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    if (undefined(a, b)) return Double.NaN // angular inherits via acos(NaN)
    val la = a.numElements()
    val lb = b.numElements()
    val n = math.min(la, lb)
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    // tail of the longer vector only contributes to its own norm
    while (i < la) { val x = a.getFloat(i).toDouble; aa += x * x; i += 1 }
    while (i < lb) { val y = b.getFloat(i).toDouble; bb += y * y; i += 1 }
    cosineOf(ab, aa, bb)
  }

  def angular(a: ArrayData, b: ArrayData): Double = angularOf(cosine(a, b))

  /** Cosine from its cross term and the two squared norms. */
  def cosineOf(ab: Double, aa: Double, bb: Double): Double =
    if (aa == 0.0 || bb == 0.0) 0.0
    else {
      val s = ab / (math.sqrt(aa) * math.sqrt(bb))
      if (s > 1.0) 1.0 else if (s < -1.0) -1.0 else s
    }

  def angularOf(cosine: Double): Double = 1.0 - math.acos(cosine) / math.Pi

  // ------------------------------------------------ primitive-array forms

  /* The same formulas over decoded `float[]`s, for a caller that scores
   * one vector against many (the kNN kernel): it checks each vector for
   * null elements once, passes n = min(len), and runs a formula as a fold
   * ([[fold]], [[fold4]]) then a [[finish]]. Each fold is the ArrayData
   * loop above with the accessor replaced by an array read — the same
   * float→double steps in the same element order — so every score is
   * bit-identical to the ArrayData form. Cosine's norms fold each vector
   * over its own full length, independently of the other vector, so
   * [[normSq]] computes them once per vector. */

  /** The fold's per-element term: (x−y)² for l2, |x−y| for l1, x·y for
    * dot and the cosine cross term. */
  val SqDiff = 0
  val AbsDiff = 1
  val Product = 2

  def term(kind: ScoreKind): Int = kind match {
    case ScoreKind.L2 => SqDiff
    case ScoreKind.L1 => AbsDiff
    case _ => Product
  }

  /** Σ term(a(i), b(i)) over i < n, in element order. */
  def fold(term: Int, a: Array[Float], b: Array[Float], n: Int): Double = {
    var acc = 0.0
    var i = 0
    term match {
      case SqDiff =>
        while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      case AbsDiff =>
        while (i < n) { acc += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
      case _ =>
        while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    }
    acc
  }

  /** Four [[fold]]s of `a` against `b0`…`b3` in one pass over `a`: four
    * independent accumulators, each summed in element order, so
    * `out(o + j)` is `fold(term, a, bj, n)` bit for bit. */
  def fold4(term: Int, a: Array[Float], b0: Array[Float], b1: Array[Float],
      b2: Array[Float], b3: Array[Float], n: Int, out: Array[Double], o: Int): Unit = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    term match {
      case SqDiff =>
        while (i < n) {
          val x = a(i).toDouble
          val d0 = x - b0(i).toDouble; val d1 = x - b1(i).toDouble
          val d2 = x - b2(i).toDouble; val d3 = x - b3(i).toDouble
          s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
          i += 1
        }
      case AbsDiff =>
        while (i < n) {
          val x = a(i).toDouble
          s0 += math.abs(x - b0(i).toDouble); s1 += math.abs(x - b1(i).toDouble)
          s2 += math.abs(x - b2(i).toDouble); s3 += math.abs(x - b3(i).toDouble)
          i += 1
        }
      case _ =>
        while (i < n) {
          val x = a(i).toDouble
          s0 += x * b0(i).toDouble; s1 += x * b1(i).toDouble
          s2 += x * b2(i).toDouble; s3 += x * b3(i).toDouble
          i += 1
        }
    }
    out(o) = s0; out(o + 1) = s1; out(o + 2) = s2; out(o + 3) = s3
  }

  /** Σ x² over a vector's first `len` elements, in element order. */
  def normSq(a: Array[Float], len: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < len) { val x = a(i).toDouble; acc += x * x; i += 1 }
    acc
  }

  /** A formula's score from its fold `acc` and, for cosine and angular,
    * the two vectors' [[normSq]]. */
  def finish(kind: ScoreKind, acc: Double, aa: Double, bb: Double): Double = kind match {
    case ScoreKind.L2 => math.sqrt(acc)
    case ScoreKind.Cosine => cosineOf(acc, aa, bb)
    case ScoreKind.Angular => angularOf(cosineOf(acc, aa, bb))
    case _ => acc
  }
}
