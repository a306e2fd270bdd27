package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ScoreFunctions, ScoreKind}

/** Hard-negative mining for contrastive/embedding training — for each
  * anchor vector, the k nearest corpus vectors that are NOT of the
  * anchor's class (hard negatives), the anchor's closest-positive
  * distance, and FaceNet-style semi-hard triplet assembly
  * (d(a,p) < d(a,n) < d(a,p) + margin).
  *
  * Plan shape (the `knn_multi` batch contract): anchors BROADCAST against
  * ONE corpus scan; the per-anchor positive minimum and the k-negative
  * bounded heap aggregate in the SAME partial-combining groupBy — k rows
  * per partition per anchor cross the single shuffle, never the scored
  * corpus. Anchor batches are training batches (10²–10⁴) by contract —
  * the same bounded-broadcast envelope as every batch search here; for
  * corpus-scale all-pairs mining, route anchors through the stored ANN
  * layouts ([[Ann]]) and rerank, as retrieval does.
  *
  * Determinism: ties break on the candidate id ascending, the exact
  * `knn_multi` convention, so the DuckDB replay is row-identical.
  *
  * Score-kind semantics: for similarity kinds (Dot/Cosine/Angular,
  * `higherIsBetter`) "hard negative" means HIGHEST-similarity wrong-label
  * candidate and "closest positive" means highest-similarity same-label
  * row; all rankings and band comparisons run on an effective distance
  * (score negated for similarity kinds), while the emitted `dist` /
  * `closest_pos` / `d_ap` / `d_an` columns carry the RAW score of the
  * requested kind. `margin` is in effective-distance units — for
  * similarity kinds the semi-hard band is s(a,p) > s(a,n) > s(a,p) −
  * margin, the standard contrastive formulation. */
object HardNegatives {

  /** Ranking sign: multiply raw scores by this to get an effective
    * distance where smaller is always better. */
  private def effSign(kind: ScoreKind): Double =
    if (kind.higherIsBetter) -1.0 else 1.0

  /** k nearest different-label candidates per anchor.
    *
    * Output: (anchor_id, neg_id, neg_label, dist, closest_pos, semi_hard)
    * where closest_pos is the anchor's min distance to any SAME-label
    * corpus row (null when the anchor's class has no other member) and
    * semi_hard = dist > closest_pos — the negative lies beyond the
    * nearest positive, the band triplet losses actually train on.
    *
    * `anchors` carries (idCol, vecCol, labelCol); the anchor row itself
    * is excluded from both sides by id. */
  def mine(data: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      kind: ScoreKind = ScoreKind.L2): DataFrame = {
    require(k >= 1, s"k=$k")
    val s = effSign(kind)
    val scored = scoredPairs(data, anchors, idCol, vecCol, labelCol, kind)
    val item = struct(
      struct((col("__d") * s).as("__eff"), col("__nid").as("__tie")).as("__o"),
      struct(col("__nid"), col("__nlbl"), col("__d")).as("__p"))
    scored.groupBy("anchor_id")
      .agg(
        min(when(col("__nlbl") === col("__albl"), col("__d") * s)).as("__pos_eff"),
        Search.collectTopK(
          when(col("__nlbl") =!= col("__albl"), item), k).as("__negs"))
      .select(col("anchor_id"), col("__pos_eff"),
        explode(col("__negs")).as("__e"))
      .select(col("anchor_id"),
        col("__e.__p.__nid").as("neg_id"),
        col("__e.__p.__nlbl").as("neg_label"),
        col("__e.__p.__d").as("dist"),
        (col("__pos_eff") * s).as("closest_pos"),
        (col("__pos_eff").isNotNull &&
          col("__e.__p.__d") * s > col("__pos_eff")).as("semi_hard"))
  }

  /** Semi-hard triplets: for every (anchor, positive) pair and every one
    * of the anchor's top-`k` hard negatives, keep the triplet when
    * d(a,p) < d(a,n) < d(a,p) + margin. Output
    * (anchor_id, pos_id, neg_id, d_ap, d_an). The positive side is the
    * anchors' classes only — a broadcast-anchor scored scan, not an
    * all-pairs join; the triple join is (anchors × class members) ×
    * (anchors × k), both sides already bounded. */
  def triplets(data: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, margin: Double,
      kind: ScoreKind = ScoreKind.L2): DataFrame = {
    require(margin > 0, s"margin=$margin")
    val s = effSign(kind)
    val negs = mine(data, anchors, idCol, vecCol, labelCol, k, kind)
      .select(col("anchor_id"), col("neg_id"), col("dist").as("d_an"))
    val pos = scoredPairs(data, anchors, idCol, vecCol, labelCol, kind)
      .filter(col("__nlbl") === col("__albl"))
      .select(col("anchor_id"), col("__nid").as("pos_id"),
        col("__d").as("d_ap"))
    pos.join(negs, "anchor_id")
      .filter(col("d_ap") * s < col("d_an") * s &&
        col("d_an") * s < col("d_ap") * s + lit(margin))
      .select("anchor_id", "pos_id", "neg_id", "d_ap", "d_an")
  }

  /** Broadcast-anchor scored scan shared by [[mine]] and [[triplets]]:
    * (anchor_id, __albl, __nid, __nlbl, __d) for every (corpus row,
    * anchor) pair except the anchor row itself; null/NaN scores dropped
    * (the [[Search]] convention — an undefined score must not rank). */
  private def scoredPairs(data: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, kind: ScoreKind): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).cast("array<float>").as("__avec"),
      col(labelCol).as("__albl"))
    data.select(col(idCol).as("__nid"), col(labelCol).as("__nlbl"),
        col(vecCol).as("__nvec"))
      .crossJoin(broadcast(a))
      .filter(col("__nid") =!= col("anchor_id"))
      .withColumn("__d", ScoreFunctions.score(kind, col("__nvec"), col("__avec")))
      .filter(Search.definedScore(col("__d")))
      .drop("__nvec", "__avec")
  }
}
