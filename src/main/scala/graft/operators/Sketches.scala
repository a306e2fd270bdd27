package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.VersionedDir

/** Mergeable-sketch corpus profiles — the incremental statistics layer a
  * 100 TB pipeline tracks per source/language WITHOUT rescanning history:
  * distinct-gram cardinality (HLL for the estimate, theta for set algebra
  * across groups), exact additive counters, and a KLL quantile sketch of
  * the per-doc length distribution. All sketch machinery is Spark's
  * Datasketches function surface (`hll_sketch_agg`, `theta_sketch_agg`,
  * `kll_sketch_agg_bigint` + their union/merge duals) — codegen'd
  * aggregates with partial map-side combine, so a profile build is ONE
  * scan + one tiny per-group shuffle, and a profile UPDATE touches only
  * the new batch plus the stored per-group sketch rows (KBs per group).
  *
  * Why sketches and not the exact twins: the exact per-group distinct
  * ([[Stats.vocabulary]] exact mode) shuffles every distinct token once —
  * fine per query, wrong as a *maintained* statistic at 100 TB where the
  * vocabulary itself is billions and every batch would re-pay the corpus
  * scan. The sketch state is constant-size per group, merge is one row op,
  * and set algebra across groups (tokens in en but never in de) falls out
  * of the theta sketches — an operation with NO exact incremental twin at
  * scale.
  *
  * Persistence follows the [[VersionedDir]] atomic-swap protocol shared
  * with the ANN savers; sketch parameters ride in the sidecar and updates
  * REFUSE a parameter mismatch loudly (same-family merge contract —
  * Datasketches unions across lgK silently degrade to the coarser sketch).
  */
object Sketches {

  val Sidecar = "sketch_profile.txt"

  /** lgConfigK for HLL and lgNomEntries for theta; 14 → ~16 KB per group,
    * ~0.8% HLL rsd, theta exact below 16k distinct. KLL k=200 → ~1.7%
    * rank error at 99% confidence. */
  case class Params(lgK: Int = 14, kllK: Int = 200) {
    require(lgK >= 4 && lgK <= 21, s"lgK=$lgK outside Datasketches [4,21]")
    require(kllK >= 8, s"kllK=$kllK")
  }

  /** One profile row per group over a corpus cut:
    * (group, n_docs, n_grams, gram_hll, gram_theta, len_kll) where grams
    * are the 61-bit `n`-token shingle hashes of `textCol` (the same
    * cross-engine gram spelling the dedup family uses) and the KLL sketch
    * summarizes per-doc token counts. One scan of `docs`: the gram-grain
    * aggregate and the doc-grain aggregate each shuffle only per-group
    * partials, then join on the tiny group key. */
  def corpusProfile(docs: DataFrame, groupCol: String, textCol: String,
      n: Int = 3, params: Params = Params()): DataFrame = {
    val grams = docs.select(col(groupCol),
        explode(Dedup.shingles(col(textCol), n)).as("sh"))
      .select(col(groupCol), Dedup.tokHash61(col("sh")).as("h"))
    val gramAgg = grams.groupBy(groupCol).agg(
      count(lit(1)).as("n_grams"),
      hll_sketch_agg(col("h"), lit(params.lgK)).as("gram_hll"),
      theta_sketch_agg(col("h"), lit(params.lgK)).as("gram_theta"))
    val docAgg = docs.select(col(groupCol),
        size(graft.functions.TextAnalysis.tokens(col(textCol)))
          .cast("long").as("len"))
      .groupBy(groupCol).agg(
        count(lit(1)).as("n_docs"),
        kll_sketch_agg_bigint(col("len"), lit(params.kllK)).as("len_kll"))
    docAgg.join(gramAgg, Seq(groupCol), "full_outer")
      .select(col(groupCol), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("gram_hll"), col("gram_theta"), col("len_kll"))
  }

  /** Merge two profile frames (same group column): counters add, sketches
    * union. Null-safe on both sides — a group present in only one frame
    * passes through. The merge itself is a join of two GROUP-sized frames:
    * no corpus data moves. */
  def mergeProfiles(a: DataFrame, b: DataFrame, groupCol: String): DataFrame = {
    def nullSafe(f: (Column, Column) => Column, l: Column, r: Column) =
      when(l.isNull, r).when(r.isNull, l).otherwise(f(l, r))
    val l = a.select(col(groupCol), col("n_docs").as("nd_l"),
      col("n_grams").as("ng_l"), col("gram_hll").as("hll_l"),
      col("gram_theta").as("th_l"), col("len_kll").as("kll_l"))
    val r = b.select(col(groupCol), col("n_docs").as("nd_r"),
      col("n_grams").as("ng_r"), col("gram_hll").as("hll_r"),
      col("gram_theta").as("th_r"), col("len_kll").as("kll_r"))
    l.join(r, Seq(groupCol), "full_outer").select(
      col(groupCol),
      (coalesce(col("nd_l"), lit(0L)) + coalesce(col("nd_r"), lit(0L)))
        .as("n_docs"),
      (coalesce(col("ng_l"), lit(0L)) + coalesce(col("ng_r"), lit(0L)))
        .as("n_grams"),
      nullSafe(hll_union(_, _), col("hll_l"), col("hll_r")).as("gram_hll"),
      nullSafe(theta_union(_, _), col("th_l"), col("th_r")).as("gram_theta"),
      nullSafe(kll_sketch_merge_bigint, col("kll_l"), col("kll_r"))
        .as("len_kll"))
  }

  /** Persist a profile under `dir` (versioned data dir + atomic sidecar
    * swap; sidecar records the sketch params for the update-compat check). */
  def profileSave(spark: SparkSession, dir: String, profile: DataFrame,
      groupCol: String, params: Params = Params()): Unit =
    VersionedDir.commit(spark, dir, Sidecar,
        Seq(_, s"params ${params.lgK} ${params.kllK}", s"group $groupCol"))(
      profile.write.mode("overwrite").parquet(_))

  /** Load the current profile (and its params). */
  def profileLoad(spark: SparkSession, dir: String): (DataFrame, Params, String) = {
    val lines = VersionedDir.readSidecar(spark, dir, Sidecar)
    val p = lines(1).split(" ")
    require(p(0) == "params", s"malformed sketch sidecar: ${lines(1)}")
    val g = lines(2).split(" ")
    (spark.read.parquet(s"$dir/${lines.head}"),
      Params(p(1).toInt, p(2).toInt), g(1))
  }

  /** Fold a new batch of documents into the stored profile — the stored
    * corpus is NEVER rescanned: one scan of the batch, one merge join of
    * two group-sized frames, one group-sized write. Sketch params come
    * from the sidecar; passing a different `n` than the stored grams were
    * built with is the caller's contract (the sidecar pins params, the
    * gram width is pinned by the profile's meaning). */
  def profileUpdate(spark: SparkSession, dir: String, batch: DataFrame,
      textCol: String, n: Int = 3): DataFrame = {
    val (stored, params, groupCol) = profileLoad(spark, dir)
    val merged = Materialize.eager(mergeProfiles(stored,
      corpusProfile(batch, groupCol, textCol, n, params), groupCol),
      "Sketches.profileUpdate.merged") // sever lineage from the version dir being swapped
    profileSave(spark, dir, merged, groupCol, params)
    merged
  }

  /** Readable statistics off a profile: cardinality estimates and KLL
    * quantiles — O(groups) work, no corpus scan. */
  def profileStats(profile: DataFrame, groupCol: String,
      quantiles: Seq[Double] = Seq(0.5)): DataFrame = {
    val qCols = quantiles.zipWithIndex.map { case (q, i) =>
      kll_sketch_get_quantile_bigint(col("len_kll"), lit(q))
        .as(s"len_p${(q * 100).round}")
    }
    profile.select(
      col(groupCol) +: col("n_docs") +: col("n_grams") +:
        round(hll_sketch_estimate(col("gram_hll"))).cast("long")
          .as("distinct_grams_hll") +:
        round(theta_sketch_estimate(col("gram_theta"))).cast("long")
          .as("distinct_grams_theta") +: qCols: _*)
  }

  /** Set algebra across two groups' theta sketches: estimated |A∩B|,
    * |A∖B|, |A∪B| of the distinct-gram sets — the cross-corpus overlap
    * question (shared vocabulary, contamination surface, source novelty)
    * that has no exact incremental answer at scale. */
  def thetaSetOps(profile: DataFrame, groupCol: String,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "no group pairs")
    val a = profile.select(col(groupCol).as("ga"), col("gram_theta").as("ta"))
    val b = profile.select(col(groupCol).as("gb"), col("gram_theta").as("tb"))
    val wanted = pairs.map { case (x, y) => struct(lit(x), lit(y)) }
    a.crossJoin(b) // group-cardinality² rows — trivially small
      .filter(struct(col("ga"), col("gb")).isin(wanted: _*))
      .select(col("ga"), col("gb"),
        round(theta_sketch_estimate(theta_intersection(col("ta"), col("tb"))))
          .cast("long").as("inter_est"),
        round(theta_sketch_estimate(theta_difference(col("ta"), col("tb"))))
          .cast("long").as("diff_est"),
        round(theta_sketch_estimate(theta_union(col("ta"), col("tb"))))
          .cast("long").as("union_est"))
  }
}
