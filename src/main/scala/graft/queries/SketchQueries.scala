package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize, Sketches}

/** Mergeable-sketch corpus profiles ([[Sketches]]) as oracled queries.
  * DuckDB has no Datasketches surface, so the oracle pattern is the
  * `text_vocab_approx` one: every EXACT column (counts, gram totals, set
  * sizes) replays bit-exactly in DuckDB, and every sketch estimate is
  * verified in-engine against its exact twin and emitted as a pinned-TRUE
  * boolean — the driver hash then fails if either the exact columns drift
  * or any estimate leaves its envelope. */
object SketchQueries {

  /** Incremental profile state: built from 3 disjoint doc_id batches via
    * save + 2 updates into a fresh temp dir (the stored corpus is never
    * rescanned), then compared against the one-shot refit and the exact
    * twins. Bands: HLL/theta vs exact distinct ±5%; update vs refit —
    * counters exactly equal, HLL ±1%, theta ±4% (each sketch's own union
    * envelope, pinned by SketchesSpec). The KLL clause is RANK-based on
    * both sides: update AND refit medians must land in the exact p40–p60
    * value band. A value-equality band (|upd − refit| ≤ c) is ill-posed
    * for KLL — compaction is randomized once a group's doc count passes
    * k, so two honest sketches of the SAME data legitimately disagree by
    * a few values run-to-run (observed ±2 tokens at 218 docs, k=200);
    * rank accuracy is the contract KLL actually makes (±1.7% at k=200,
    * so p40–p60 is a ≳10σ envelope). */
  private def profileQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select("lang", "doc_id", "text")
    val state = s"${Artifacts.scratch("sketch_profile")}/profile"
    val batches = (0 to 2).map(i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i))
    Sketches.profileSave(s, state,
      Sketches.corpusProfile(batches.head, "lang", "text"), "lang")
    batches.tail.foreach(b => Sketches.profileUpdate(s, state, b, "text"))
    val (updated, _, _) = Sketches.profileLoad(s, state)
    val up = Sketches.profileStats(updated, "lang")
    val rf = Sketches.profileStats(
      Sketches.corpusProfile(docs, "lang", "text"), "lang")
      .select(col("lang"), col("n_docs").as("nd_rf"),
        col("n_grams").as("ng_rf"),
        col("distinct_grams_hll").as("hll_rf"),
        col("distinct_grams_theta").as("th_rf"),
        col("len_p50").as("p50_rf"))
    val exactGrams = docs
      .select(col("lang"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .select(col("lang"), Dedup.tokHash61(col("sh")).as("h"))
      .groupBy("lang").agg(countDistinct("h").as("vocab_ex"))
    val lenBand = docs
      .select(col("lang"),
        size(graft.functions.TextAnalysis.tokens(col("text")))
          .cast("long").as("len"))
      .groupBy("lang").agg(
        expr("percentile(len, 0.40)").as("p40_ex"),
        expr("percentile(len, 0.60)").as("p60_ex"))
    def near(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
        band: Double) = abs(a - b) <= b * band
    up.join(rf, "lang").join(exactGrams, "lang").join(lenBand, "lang")
      .select(col("lang"), col("n_docs"), col("n_grams"),
        near(col("distinct_grams_hll").cast("double"),
          col("vocab_ex").cast("double"), 0.05).as("hll_ok"),
        near(col("distinct_grams_theta").cast("double"),
          col("vocab_ex").cast("double"), 0.05).as("theta_ok"),
        (col("len_p50").cast("double") >= col("p40_ex") &&
          col("len_p50").cast("double") <= col("p60_ex")).as("len_p50_ok"),
        (col("n_docs") === col("nd_rf") && col("n_grams") === col("ng_rf") &&
          near(col("distinct_grams_hll").cast("double"),
            col("hll_rf").cast("double"), 0.01) &&
          near(col("distinct_grams_theta").cast("double"),
            col("th_rf").cast("double"), 0.04) &&
          col("len_p50").cast("double").between(col("p40_ex"), col("p60_ex")) &&
          col("p50_rf").cast("double").between(col("p40_ex"), col("p60_ex")))
          .as("upd_ok"))
  }

  private val SetPairs = Seq(("en", "de"), ("en", "zh"), ("de", "fr"))

  /** Theta set algebra across language gram sets from the ONE-SHOT
    * profile, with exact set sizes as the replayable columns. The theta
    * estimates ride as pinned booleans: intersection/difference ±12%,
    * union ±8% (intersection error compounds relative to the smaller
    * set — the SketchesSpec bands). */
  private def setOpsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select("lang", "text")
    val profile = Sketches.corpusProfile(docs, "lang", "text")
    val est = Sketches.thetaSetOps(profile, "lang", SetPairs)
    val grams = Materialize.eager(docs
      .select(col("lang"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .select(col("lang"), Dedup.tokHash61(col("sh")).as("h")).distinct(),
      "SketchQueries.setOpsQ.grams")
    val pairsDf = SetPairs.toDF("ga", "gb")
    val a = grams.select(col("lang").as("ga"), col("h"))
    val b = grams.select(col("lang").as("gb"), col("h"))
    val nA = pairsDf.join(a, "ga").groupBy("ga", "gb")
      .agg(count(lit(1)).as("na"))
    val nB = pairsDf.join(b, "gb").groupBy("ga", "gb")
      .agg(count(lit(1)).as("nb"))
    val inter = pairsDf.join(a, "ga").join(b, Seq("gb", "h"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("n_inter"))
    def near(x: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column,
        band: Double) = abs(x - ex) <= greatest(ex * band, lit(1.0))
    nA.join(nB, Seq("ga", "gb")).join(inter, Seq("ga", "gb"))
      .join(est, Seq("ga", "gb"))
      .select(col("ga"), col("gb"), col("n_inter"),
        (col("na") - col("n_inter")).as("n_diff"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        near(col("inter_est").cast("double"),
          col("n_inter").cast("double"), 0.12).as("inter_ok"),
        near(col("diff_est").cast("double"),
          (col("na") - col("n_inter")).cast("double"), 0.12).as("diff_ok"),
        near(col("union_est").cast("double"),
          (col("na") + col("nb") - col("n_inter")).cast("double"), 0.08)
          .as("union_ok"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_profile" -> (profileQ _),
    "sketch_setops" -> (setOpsQ _))

  private val toks =
    s"""list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '')"""

  def oracle: Map[String, String] = Map(
    // n_grams counts the engine's gram rows: WordShingles emits DISTINCT
    // shingles per doc, so the oracle sums per-doc distinct counts
    "sketch_profile" ->
      s"""WITH t AS (SELECT lang, doc_id, $toks AS tk FROM documents),
         |g AS (SELECT lang, doc_id,
         |        unnest(list_transform(generate_series(1, len(tk) - 2),
         |               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |      FROM t WHERE len(tk) >= 3),
         |d AS (SELECT lang, doc_id, count(DISTINCT sh) AS c FROM g GROUP BY 1, 2),
         |nd AS (SELECT lang, count(*) AS n_docs FROM t GROUP BY 1),
         |ng AS (SELECT lang, sum(c) AS n_grams FROM d GROUP BY 1)
         |SELECT nd.lang, nd.n_docs::BIGINT AS n_docs,
         |       coalesce(ng.n_grams, 0)::BIGINT AS n_grams,
         |       TRUE AS hll_ok, TRUE AS theta_ok,
         |       TRUE AS len_p50_ok, TRUE AS upd_ok
         |FROM nd LEFT JOIN ng ON ng.lang = nd.lang""".stripMargin,
    "sketch_setops" ->
      s"""WITH t AS (SELECT lang, $toks AS tk FROM documents),
         |g0 AS (SELECT DISTINCT lang,
         |         unnest(list_transform(generate_series(1, len(tk) - 2),
         |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |       FROM t WHERE len(tk) >= 3),
         |sh AS (SELECT DISTINCT lang, ${DedupQueries.shingleHash61("sh")} AS h FROM g0),
         |pairs(ga, gb) AS (VALUES ('en', 'de'), ('en', 'zh'), ('de', 'fr')),
         |na AS (SELECT p.ga, p.gb, count(*) AS na FROM pairs p
         |       JOIN sh x ON x.lang = p.ga GROUP BY 1, 2),
         |nb AS (SELECT p.ga, p.gb, count(*) AS nb FROM pairs p
         |       JOIN sh y ON y.lang = p.gb GROUP BY 1, 2),
         |iv AS (SELECT p.ga, p.gb, count(*) AS n_inter FROM pairs p
         |       JOIN sh x ON x.lang = p.ga
         |       JOIN sh y ON y.lang = p.gb AND y.h = x.h GROUP BY 1, 2)
         |SELECT na.ga, na.gb, iv.n_inter::BIGINT AS n_inter,
         |       (na.na - iv.n_inter)::BIGINT AS n_diff,
         |       (na.na + nb.nb - iv.n_inter)::BIGINT AS n_union,
         |       TRUE AS inter_ok, TRUE AS diff_ok, TRUE AS union_ok
         |FROM na JOIN nb ON na.ga = nb.ga AND na.gb = nb.gb
         |        JOIN iv ON iv.ga = na.ga AND iv.gb = na.gb""".stripMargin)
}
