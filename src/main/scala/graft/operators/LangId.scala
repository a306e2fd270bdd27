package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained character-n-gram language identification — the fastText-lid /
  * CLD2 shape (Joulin et al. 2017; `lid.176` is the published artifact of
  * the same recipe): a multinomial Naive-Bayes over character 1..n-grams,
  * trained on a labeled corpus, applied as one map-side scan. Replaces
  * the 4-language stopword argmax ([[graft.functions.TextAnalysis
  * .languageId]], kept for its oracles) as the pipeline's language key —
  * every per-language downstream operator (per-lang quantiles, per-lang
  * sampling, per-lang curation state) keys on this column.
  *
  * Scale shape mirrors [[QualityClassifier]]: training is one gram
  * explode + hash-agg whose shuffle is DISTINCT GRAMS, rank-capped to
  * `vocabCap` so the model is bounded by contract (the driver
  * materialization is a model fetch, not a corpus collect); scoring is
  * one gram scan + one broadcast inner join + a per-doc hash agg —
  * map-side except the per-doc agg, no corpus shuffle, no UDF. Grams
  * outside the capped vocabulary contribute NOTHING at scoring (shared
  * vocabulary across classes, so the miss count is class-independent and
  * dropping misses cannot bias the argmax).
  *
  * Determinism (DuckDB-oracled in [[graft.queries.LidQueries]]): the
  * model is exact integers under a total order (combined count desc,
  * gram asc); per-gram per-class log-likelihoods are
  * `ln(c+1) − ln(N_l+V)` summed in GRAM-ascending order (binary string
  * order, identical on both engines — the [[LanguageModel]] fold
  * discipline); the argmax compares 6-decimal-ROUNDED scores with ties
  * broken by language code ascending — a discontinuous comparison is
  * only safe across engines after both have rounded (held-out fixture
  * margins are ≥0.37, five orders above the rounding granularity).
  *
  * Normalization is engine-portable by construction: ASCII-only
  * lowercasing (a `translate`, not `lower` — Unicode case folding is
  * locale-sensitive and differs between ICU and the JDK), whitespace
  * runs collapsed to one space, and one space of padding on each side
  * (the word-boundary signal CLD-style gram models lean on). Gram
  * windows are CODE POINTS on both engines (Spark `substr` ==
  * DuckDB `substring`, verified for Devanagari matras / Hangul / Arabic).
  */
object LangId {

  val Ascii = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  val AsciiLower = "abcdefghijklmnopqrstuvwxyz"

  /** The label scored for documents with zero vocabulary hits. */
  val Undetermined = "und"

  /** A trained model: the sorted class list, per-gram per-class counts
    * (counts aligned with `langs`), the per-class total gram mass over
    * ALL grams (pre-cap — the smoothing denominator sees the full class,
    * not just the kept vocabulary), and the config that shaped it. All
    * integers — persistence round-trips are exact. */
  final case class LidModel(
      langs: Seq[String],
      terms: Seq[(String, Array[Long])], // (gram, counts per lang), gram asc
      totals: Array[Long],
      nMax: Int, vocabCap: Int) {
    require(langs == langs.sorted && langs.distinct == langs,
      "LidModel.langs must be sorted and distinct")
    def vocabSize: Int = terms.size
    def termDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      terms.map { case (g, cs) => (g, cs.toSeq) }.toDF("gram", "cnts")
    }
  }

  /** ASCII-lowercased, whitespace-collapsed, space-padded text — the one
    * normalization both engines spell identically. Empty/blank text
    * normalizes to the empty string (no padding → no grams → "und"). */
  def normalize(text: Column): Column = {
    val collapsed = trim(regexp_replace(
      translate(text, Ascii, AsciiLower),
      graft.functions.TextHash.WsRegex, " "))
    when(length(collapsed) === 0, lit(""))
      .otherwise(concat(lit(" "), collapsed, lit(" ")))
  }

  /** All character 1..`nMax`-grams of the normalized text, flattened in
    * (n asc, position asc) order — the position index over this array is
    * the scoring fold order. */
  def charGrams(text: Column, nMax: Int): Column = {
    val s = normalize(text)
    val len = length(s)
    flatten(transform(sequence(lit(1), lit(nMax)), n => {
      val k = len - n + 1
      // sequence(1, 0) descends in Spark — guard the short-string case
      when(k < 1, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), k), i => s.substr(i, n)))
    }))
  }

  /** The per-document gram SET — [[charGrams]] deduplicated and sorted.
    * Both training and scoring are BINARIZED (each distinct gram counts
    * once per document — the Schütze/Manning "binarized multinomial NB",
    * which measured strictly better than raw counts on the held-out
    * fixture: 100% vs 88% at 26 languages); the sorted order is the
    * scoring fold order, so both engines add in gram-ascending
    * (byte-order) sequence. */
  def docGrams(text: Column, nMax: Int): Column =
    array_sort(array_distinct(charGrams(text, nMax)))

  /** Train on a labeled corpus: classes = sorted distinct `langCol`
    * values; vocabulary = top `vocabCap` grams by (combined count desc,
    * gram asc); per-class DOCUMENT counts per kept gram (binarized —
    * see [[docGrams]]); totals over ALL gram-document incidences of
    * each class. One explode + two hash-aggs; the shuffle key set is
    * distinct grams, the result bounded by `vocabCap × |langs|`. */
  def train(df: DataFrame, langCol: String, textCol: String,
      nMax: Int, vocabCap: Int): LidModel = {
    require(nMax >= 1 && nMax <= 8, s"train needs 1 <= nMax <= 8, got $nMax")
    require(vocabCap > 0, s"train needs vocabCap > 0, got $vocabCap")
    // kernel gram extraction (one walk per row); docGrams is the HOF
    // spec twin, pinned equal by LangIdSpec
    val grams = df.select(col(langCol).as("lang"),
      explode(graft.functions.LidGramsExpr(col(textCol), nMax)).as("gram"))
    val counts = Materialize.eager(grams.groupBy("lang", "gram").agg(count(lit(1)).as("cnt")),
      "LangId.train.counts") // totals + vocab + pivot read it three times
    val langs = counts.select("lang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(langs.nonEmpty, "train: no classes — empty corpus?")
    val totals = counts.groupBy("lang").agg(sum("cnt").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = counts.groupBy("gram").agg(sum("cnt").as("total"))
      .orderBy(desc("total"), asc("gram")).limit(vocabCap)
    val rows = counts.join(broadcast(vocab.select("gram")), Seq("gram"))
      .collect().map(r => (r.getString(1), r.getString(0), r.getLong(2)))
    val byGram = rows.groupBy(_._2)
    val langIdx = langs.zipWithIndex.toMap
    val terms = byGram.toSeq.map { case (g, rs) =>
      val cs = new Array[Long](langs.size)
      rs.foreach { case (l, _, c) => cs(langIdx(l)) = c }
      (g, cs)
    }.sortBy(_._1)
    LidModel(langs, terms, langs.map(totals.getOrElse(_, 0L)).toArray,
      nMax, vocabCap)
  }

  /** Persist a trained model as one atomically-swapped tab-separated
    * sidecar (the [[QualityClassifier.nbSave]] protocol). Grams contain
    * no tabs or newlines (normalization collapsed all whitespace to
    * single spaces), so the round-trip is exact. */
  def lidSave(spark: SparkSession, dir: String, m: LidModel): Unit =
    graft.model.VersionedDir.writeSidecar(spark, dir, "lid_model.tsv",
      Seq(s"${m.nMax}\t${m.vocabCap}",
        m.langs.mkString("\t"),
        m.totals.mkString("\t")) ++
        m.terms.map { case (g, cs) => s"$g\t${cs.mkString("\t")}" })

  /** Load a persisted model ([[lidSave]]). */
  def lidLoad(spark: SparkSession, dir: String): LidModel = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, "lid_model.tsv")
    require(lines.length >= 3, s"corrupt lid_model.tsv in $dir")
    val h = lines(0).split("\t")
    val langs = lines(1).split("\t").toSeq
    val totals = lines(2).split("\t").map(_.toLong)
    val terms = lines.drop(3).map { ln =>
      val p = ln.split("\t", -1)
      require(p.length == langs.size + 1, s"corrupt lid_model.tsv line '$ln' in $dir")
      (p(0), p.tail.map(_.toLong))
    }
    LidModel(langs, terms, totals, h(0).toInt, h(1).toInt)
  }

  /** Reserved scoring columns ([[QualityClassifier.ScoringReserved]]
    * convention). */
  val ScoringReserved: Set[String] = Set("pos", "gram", "cnts", "lp",
    "__gr", "__lid", "arr", "n_hit", "lang_pred", "lid_score")

  /** Score every document: `(idCol, passthrough…, n_hit, lang_pred,
    * lid_score)` — `n_hit` counts distinct vocabulary grams, `lang_pred`
    * is the NB argmax over the model's classes ([[Undetermined]] for
    * zero-hit docs), `lid_score` the winner's 6-decimal-rounded score
    * (0 for zero-hit docs). ONE map-side kernel call per row
    * ([[graft.functions.LidScoreExpr]] — the model rides the expression;
    * no explode, no join, NO SHUFFLE AT ALL): the expanded DataFrame
    * spelling ([[scoreDocsExpanded]]) is the executable spec, not the
    * runtime path — it measured 616 s over 52.5k docs at the r11
    * rehearsal where the kernel takes seconds. */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      model: LidModel, passthrough: Seq[String] = Nil): DataFrame = {
    checkReserved(idCol, passthrough)
    val keep = passthrough.map(col)
    val m = graft.functions.LidKernel.model(model)
    // NULL text scores like empty text — und/0, not a null struct
    val undRow = struct(lit(0).as("n_hit"),
      lit(Undetermined).as("lang_pred"), lit(0d).as("lid_score"))
    docs.select(col(idCol) +: keep :+
        coalesce(graft.functions.LidScoreExpr(col(textCol), m), undRow)
          .as("__lid"): _*)
      .select(col(idCol) +: keep :+
        col("__lid.n_hit").as("n_hit") :+
        col("__lid.lang_pred").as("lang_pred") :+
        col("__lid.lid_score").as("lid_score"): _*)
  }

  private def checkReserved(idCol: String, passthrough: Seq[String]): Unit = {
    val clash = (idCol +: passthrough)
      .filter(n => ScoringReserved.contains(n.toLowerCase))
    require(clash.isEmpty,
      s"scoreDocs reserves columns ${ScoringReserved.mkString(", ")} — " +
        s"rename ${clash.mkString(", ")} before scoring")
  }

  /** The DataFrame spelling of [[scoreDocs]] — gram explode + broadcast
    * inner join + per-doc gram-ordered fold + array argmax. Executable
    * SPEC of the kernel (LangIdSpec pins row-identical output); the SQL
    * shape the DuckDB oracle replays. NOT the runtime path (see
    * [[scoreDocs]]). */
  private[graft] def scoreDocsExpanded(docs: DataFrame, idCol: String, textCol: String,
      model: LidModel, passthrough: Seq[String] = Nil): DataFrame = {
    checkReserved(idCol, passthrough)
    val spark = docs.sparkSession
    val keep = passthrough.map(col)
    val l = model.langs.size
    // ln(N_l + V) as an in-plan expression (log of an exact integer
    // literal) — both engines evaluate their own libm, the same contract
    // every lm_* oracle already leans on
    val denoms = array(model.totals.map(t =>
      log(lit(t + model.vocabSize).cast("double"))): _*)

    val tk = docs.select(col(idCol) +: keep :+
      docGrams(col(textCol), model.nMax).as("__gr"): _*)
    // LEFT join: zero-gram docs ride the outer-explode null row; misses
    // carry null cnts and are dropped by the collect_list guard
    val pos = tk.select(col(idCol) +: keep :+
      explode_outer(col("__gr")).as("gram"): _*)
    val joined = pos.join(broadcast(model.termDf(spark)), Seq("gram"), "left")
    val zeros = array_repeat(lit(0d), l)
    val folded = joined
      .groupBy(col(idCol) +: keep: _*)
      .agg(sort_array(collect_list(
        when(col("gram").isNotNull && col("cnts").isNotNull,
          struct(col("gram"), col("cnts"))))).as("arr"))
      .select(col(idCol) +: keep :+ size(col("arr")).as("n_hit") :+
        aggregate(col("arr"), zeros, (acc, x) =>
          zip_with(acc, x.getField("cnts"),
            (a, c) => a + log(c.cast("double") + lit(1d)))).as("sumlog"): _*)
    // score_l = Σ ln(c+1) − m·ln(N_l+V); argmax over ROUNDED scores,
    // ties by language code asc — array_sort on (negated score, lang)
    val langArr = array(model.langs.map(lit): _*)
    folded.select(col(idCol) +: keep :+ col("n_hit") :+
      when(col("n_hit") === 0,
          struct(lit(0d).as("negs"), lit(Undetermined).as("lang")))
        .otherwise(element_at(array_sort(zip_with(
          zip_with(col("sumlog"), denoms, (s, d) =>
            round(s - col("n_hit").cast("double") * d, 6)),
          langArr,
          (s, lg) => struct((-s).as("negs"), lg.as("lang")))), 1))
        .as("best"): _*)
      .select(col(idCol) +: keep :+ col("n_hit") :+
        col("best.lang").as("lang_pred") :+
        when(col("n_hit") === 0, lit(0d))
          .otherwise(-col("best.negs")).as("lid_score"): _*)
  }
}
