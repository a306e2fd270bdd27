package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{LangId, LangIdFixture}

/** Trained char-n-gram language ID ([[graft.operators.LangId]]) as
  * driver-verifiable queries. The oracle replays the WHOLE pipeline in
  * DuckDB — training (binarized gram-document counts over the built-in
  * fixture spliced as VALUES, the rank-capped vocabulary under the exact
  * (total desc, gram asc) order, full-mass totals) and scoring (per-doc
  * distinct-gram set, broadcast-shaped join, `ln(c+1)` folded in
  * gram-ascending order, `− m·ln(N_l+V)`, argmax over 6-decimal-rounded
  * scores with ties by language code) — the [[LmQueries]] discipline.
  * Training arithmetic is exact integers; scoring crosses engines only
  * through `ln` + one rounded compare, and the held-out fixture's
  * winner margins are ≥0.37 (five orders above rounding granularity). */
object LidQueries {

  private val NMax = 5
  private val Cap = 20000
  private val DocIdMax = 150

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Trained on the built-in fixture, so one model per session. */
  private[queries] def model(s: SparkSession): LangId.LidModel =
    Artifacts.memo(s, "lid") {
      import s.implicits._
      LangId.train(LangIdFixture.Train.toDF("lang", "text"),
        "lang", "text", NMax, Cap)
    }

  private def heldOutDf(s: SparkSession): DataFrame = {
    import s.implicits._
    LangIdFixture.HeldOut.zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("sid", "truth", "text")
  }

  private def modelQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = model(s)
    m.terms.flatMap { case (g, cs) =>
      m.langs.zip(cs).collect { case (l, c) if c > 0 => (g, l, c) }
    }.toDF("gram", "lang", "cnt")
  }

  private def totalsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = model(s)
    m.langs.zip(m.totals).map { case (l, t) => (l, t, m.vocabSize) }
      .toDF("lang", "n_mass", "v")
  }

  private def heldOutQ(s: SparkSession, dir: String): DataFrame =
    LangId.scoreDocs(heldOutDf(s), "sid", "text", model(s),
      passthrough = Seq("truth"))

  private def docsQ(s: SparkSession, dir: String): DataFrame =
    LangId.scoreDocs(docs(s, dir).filter(col("doc_id") < DocIdMax),
      "doc_id", "text", model(s))

  /** The dataset card keyed on the TRAINED language ID instead of the
    * label column — what a real release publishes (labels don't exist at
    * 100 TB; the LID prediction is the grouping key every per-language
    * operator actually uses). Same aggregates as `dataset_card`. */
  private def cardLidQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalysis._
    val m = graft.functions.LidKernel.model(model(s))
    // parallelism floor BEFORE the per-row LID kernel (~1 ms/doc): the
    // bench corpus is one parquet footer → one scan partition, so the
    // kernel pass ran on one core (measured 5.4 s with 31 cores idle,
    // guide §2.5/§2.6); no-op on an already-parallel corpus scan
    graft.operators.Par.floor(docs(s, dir), "doc_id")
      .withColumn("lang_pred",
        graft.functions.LidScoreExpr(col("text"), m).getField("lang_pred"))
      .groupBy("lang_pred").agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("total_tokens"),
        sum(when(gopherGate(col("text")), 1L).otherwise(0L)).as("gopher_pass"),
        // 61-bit hash identity, not the text bytes, through the exchange
        // (r12, VERDICT r11 #2 — the `dataset_card` rationale)
        (count(lit(1)) -
          countDistinct(graft.operators.Dedup.tokHash61(col("text")))).as("dup_docs"),
        round(avg(qualityScore(col("text"))), 6).as("avg_quality"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_langid_model" -> (modelQ _),
    "text_langid_totals" -> (totalsQ _),
    "text_langid_ngram" -> (heldOutQ _),
    "text_langid_ngram_docs" -> (docsQ _),
    "dataset_card_lid" -> (cardLidQ _))

  // ----------------------------------------------------------- oracle SQL

  private def sq(s: String) = "'" + s.replace("'", "''") + "'"

  /** The dataset-card per-doc signal columns (the `dataset_card` oracle's
    * spelling, shared by the LID-keyed card). */
  private[queries] def tokSig(src: String): String = {
    def toks = s"list_filter(string_split_regex(lower($src), " +
      s"'${graft.functions.TextHash.WsRegex}'), x -> x <> '')"
    s"""$toks AS tk,
       |  len($src)::DOUBLE AS n_char,
       |  (len($src) - len(regexp_replace(lower($src), '[^a-z0-9 ]', '', 'g')))::DOUBLE AS punct,
       |  len(list_filter($toks,
       |      x -> x IN ('the','a','and','of','to','in','is'))) AS stops,
       |  CASE WHEN len($toks) = 0 THEN 0
       |       ELSE list_sum(list_transform($toks, x -> len(x)))::DOUBLE / len($toks) END AS mwl,
       |  CASE WHEN len($toks) = 0 THEN 0
       |       ELSE len(list_filter($toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len($toks) END AS af,
       |  CASE WHEN len($toks) = 0 THEN 0
       |       ELSE len(regexp_extract_all(lower($src), '#|\\.\\.\\.'))::DOUBLE / len($toks) END AS sr""".stripMargin
  }

  private val trainValues = LangIdFixture.Train
    .map { case (l, t) => s"(${sq(l)}, ${sq(t)})" }.mkString(",\n  ")

  private val heldValues = LangIdFixture.HeldOut.zipWithIndex
    .map { case ((l, t), i) => s"($i, ${sq(l)}, ${sq(t)})" }
    .mkString(",\n  ")

  /** The normalized padded string of a raw text expression — ASCII-only
    * case fold, whitespace runs to one space, one space of padding each
    * side, empty stays empty (the [[LangId.normalize]] spelling). */
  private def normSql(src: String) =
    s"""CASE WHEN trim(regexp_replace(translate($src,
       |       '${LangId.Ascii}', '${LangId.AsciiLower}'),
       |       '${graft.functions.TextHash.WsRegex}', ' ', 'g')) = '' THEN ''
       |     ELSE ' ' || trim(regexp_replace(translate($src,
       |       '${LangId.Ascii}', '${LangId.AsciiLower}'),
       |       '${graft.functions.TextHash.WsRegex}', ' ', 'g')) || ' ' END""".stripMargin

  /** Sorted distinct char 1..NMax grams of a NORMALIZED string column
    * (the [[LangId.docGrams]] spelling — code-point windows on both
    * engines). */
  private def gramsSql(s: String) =
    s"""list_sort(list_distinct(flatten(list_transform(
       |  generate_series(1, $NMax), n ->
       |  CASE WHEN len($s) - n + 1 < 1 THEN []::VARCHAR[]
       |       ELSE list_transform(generate_series(1, len($s) - n + 1),
       |                           i -> substring($s, i, n)) END))))""".stripMargin

  /** Training CTE body: binarized (gram, lang) document counts, per-class
    * full-mass totals, the capped vocabulary, |V|, the class list. */
  private[queries] val trainBody =
    s"""ltf(lang, txt) AS (VALUES
       |  $trainValues),
       |ltg AS (SELECT lang, unnest(gs) AS gram FROM (
       |          SELECT lang, ${gramsSql(normSql("txt"))} AS gs FROM ltf)),
       |lcnt AS (SELECT gram, lang, count(*)::BIGINT AS cnt
       |         FROM ltg GROUP BY 1, 2),
       |ltot AS (SELECT lang, count(*)::BIGINT AS n FROM ltg GROUP BY 1),
       |lvoc AS (SELECT gram FROM (
       |           SELECT gram, sum(cnt) AS total FROM lcnt GROUP BY gram)
       |         ORDER BY total DESC, gram LIMIT $Cap),
       |lvs AS (SELECT count(*) AS v FROM lvoc),
       |llang AS (SELECT DISTINCT lang FROM ltf)""".stripMargin

  /** Scoring CTE chain over a source CTE `src(id, …, txt)`: distinct
    * grams → vocab hits → per-(id, lang) gram-ordered ln(c+1) fold →
    * rounded score → argmax. Returns the final SELECT against `src`
    * (zero-hit ids surface as 'und'/0). `extraCols` ride from `src`
    * into the output. */
  private def scoreSql(srcSelect: String, idCol: String,
      extraCols: Seq[String]): String = {
    val extra = extraCols.map(c => s"src.$c, ").mkString
    s"""${scoreCtes(srcSelect, idCol)}
       |SELECT src.$idCol, ${extra}coalesce(m.m, 0) AS n_hit,
       |       coalesce(b.lang, '${LangId.Undetermined}') AS lang_pred,
       |       coalesce(b.score, 0.0) AS lid_score
       |FROM src LEFT JOIN lm_ m ON src.$idCol = m.$idCol
       |LEFT JOIN lbest b ON src.$idCol = b.$idCol""".stripMargin
  }

  /** The scoring CTE chain alone (up to `lbest`) — reused by the
    * per-doc queries and the LID-keyed dataset card. */
  private[queries] def scoreCtes(srcSelect: String, idCol: String): String =
    s"""src AS ($srcSelect),
       |lsg AS (SELECT $idCol, unnest(gs) AS gram FROM (
       |          SELECT $idCol, ${gramsSql(normSql("txt"))} AS gs FROM src)),
       |lhit AS (SELECT g.$idCol, g.gram FROM lsg g
       |         JOIN lvoc v USING (gram)),
       |lm_ AS (SELECT $idCol, count(*)::BIGINT AS m FROM lhit GROUP BY 1),
       |lsl AS (SELECT h.$idCol, l.lang,
       |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |            list(ln(CAST(coalesce(c.cnt, 0) AS DOUBLE) + 1)
       |                 ORDER BY h.gram)),
       |            (a, b) -> a + b) AS sumlog
       |        FROM lhit h CROSS JOIN llang l
       |        LEFT JOIN lcnt c ON c.gram = h.gram AND c.lang = l.lang
       |        GROUP BY h.$idCol, l.lang),
       |lsc AS (SELECT s.$idCol, s.lang,
       |          round(s.sumlog - CAST(m.m AS DOUBLE)
       |            * ln(CAST(t.n AS DOUBLE)
       |                 + CAST((SELECT v FROM lvs) AS DOUBLE)), 6) AS score
       |        FROM lsl s JOIN lm_ m USING ($idCol)
       |        JOIN ltot t ON t.lang = s.lang),
       |lbest AS (SELECT $idCol, lang, score FROM (
       |            SELECT *, row_number() OVER (PARTITION BY $idCol
       |              ORDER BY score DESC, lang ASC) AS rn FROM lsc)
       |          WHERE rn = 1)""".stripMargin

  def oracle: Map[String, String] = Map(
    "dataset_card_lid" ->
      s"""WITH $trainBody,
         |${scoreCtes("SELECT doc_id, text AS txt FROM documents", "doc_id")},
         |lpred AS (SELECT src.doc_id,
         |            coalesce(b.lang, '${LangId.Undetermined}') AS lang_pred
         |          FROM src LEFT JOIN lbest b ON src.doc_id = b.doc_id),
         |lcs AS (SELECT p.lang_pred, d.text,
         |  ${tokSig("d.text")}
         |FROM documents d JOIN lpred p USING (doc_id))
         |SELECT lang_pred,
         |  count(*)::BIGINT AS n_docs,
         |  sum(len(tk))::BIGINT AS total_tokens,
         |  sum(CASE WHEN len(tk) >= 50 AND len(tk) <= 100000
         |            AND mwl >= 3 AND mwl <= 10 AND sr <= 0.1
         |            AND af >= 0.8 AND stops >= 2
         |           THEN 1 ELSE 0 END)::BIGINT AS gopher_pass,
         |  (count(*) - count(DISTINCT ${DedupQueries.shingleHash61("text")}))::BIGINT AS dup_docs,
         |  round(avg(
         |    0.3 * (CASE WHEN len(tk) > 0 THEN stops::DOUBLE / len(tk) ELSE 0 END)
         |    + 0.3 * (1 - (CASE WHEN n_char > 0 THEN punct / n_char ELSE 0 END))
         |    + 0.4 * least(len(tk)::DOUBLE / 100, 1.0)), 6) AS avg_quality
         |FROM lcs GROUP BY lang_pred""".stripMargin,
    "text_langid_model" ->
      s"""WITH $trainBody
         |SELECT c.gram, c.lang, c.cnt
         |FROM lcnt c JOIN lvoc USING (gram)""".stripMargin,
    "text_langid_totals" ->
      s"""WITH $trainBody
         |SELECT t.lang, t.n AS n_mass, (SELECT v FROM lvs) AS v
         |FROM ltot t""".stripMargin,
    "text_langid_ngram" ->
      s"""WITH $trainBody,
         |lhf(sid, truth, txt) AS (VALUES
         |  $heldValues),
         |${scoreSql("SELECT sid, truth, txt FROM lhf", "sid", Seq("truth"))}"""
        .stripMargin,
    "text_langid_ngram_docs" ->
      s"""WITH $trainBody,
         |${scoreSql(
          s"SELECT doc_id, text AS txt FROM documents WHERE doc_id < $DocIdMax",
          "doc_id", Nil)}""".stripMargin)
}
