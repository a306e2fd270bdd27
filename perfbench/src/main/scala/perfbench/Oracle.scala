package perfbench

/** Driver-side brute-force answers in plain Scala. Scores are computed
  * with the library's formulas in the same float-to-double order
  * (`graft.functions.VectorMath`), so they are bit-identical to Spark's and
  * ties break by `vec_id` exactly as `SearchConfig.tieBreakCol` does. */
object Oracle {

  def l2(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Cosine similarity, `a` = the stored vector, `b` = the query. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    while (i < a.length) { val x = a(i).toDouble; aa += x * x; i += 1 }
    while (i < b.length) { val y = b(i).toDouble; bb += y * y; i += 1 }
    if (aa == 0.0 || bb == 0.0) 0.0
    else {
      val s = ab / (math.sqrt(aa) * math.sqrt(bb))
      if (s > 1.0) 1.0 else if (s < -1.0) -1.0 else s
    }
  }

  /** One ranked answer row: id and score. */
  final case class Hit(id: Long, score: Double)

  private val higherFirst: Ordering[Hit] =
    Ordering.by((h: Hit) => (-h.score, h.id))

  /** Exact L2 top-k over `rows` (lower is better, ties by smaller id). */
  def topL2(rows: Iterable[Vec], q: Array[Float], k: Int): Seq[Hit] = {
    // bounded selection: the k best so far, kept sorted
    val best = new Array[Hit](k)
    var n = 0
    def before(a: Hit, b: Hit) = a.score < b.score || (a.score == b.score && a.id < b.id)
    rows.foreach { r =>
      val h = Hit(r.id, l2(r.v, q))
      if (n < k || before(h, best(n - 1))) {
        var j = math.min(n, k - 1)
        while (j > 0 && before(h, best(j - 1))) { best(j) = best(j - 1); j -= 1 }
        best(j) = h
        if (n < k) n += 1
      }
    }
    best.take(n).toSeq
  }

  /** The grouped cosine answer of `SearchConfig(groupLimit = g, limit = k,
    * higherIsBetter = true)`: per group the top-g members, group score =
    * their score sum in rank order, representative = the best member;
    * then the top-k groups, ties by the representative's id. */
  def groupedCosine(rows: Iterable[Vec], q: Array[Float], k: Int,
      g: Int): Seq[(String, Hit)] =
    rows.groupBy(_.group).toSeq.map { case (grp, members) =>
      val top = members.map(r => Hit(r.id, cosine(r.v, q))).toSeq
        .sorted(higherFirst).take(g)
      grp -> Hit(top.head.id, top.foldLeft(0.0)(_ + _.score))
    }.sortBy { case (_, h) => (-h.score, h.id) }.take(k)

  /** |approx ∩ exact| / |exact|. */
  def recall(approx: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** Same ids in the same order, and the same scores. Scores are compared
    * exactly: both sides evaluate one formula in one order. */
  def sameHits(got: Seq[Hit], want: Seq[Hit]): Boolean =
    got.map(_.id) == want.map(_.id) && got.map(_.score) == want.map(_.score)
}
