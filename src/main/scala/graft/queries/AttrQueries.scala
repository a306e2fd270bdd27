package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextHash}
import graft.operators.Attributes

/** Attribute-store ([[graft.operators.Attributes]]) driver queries.
  *
  * `attr_store_census` replays the full sidecar lifecycle inside one
  * query — save the first tagger run on 80% of the corpus, APPEND the
  * late 20%, EXTEND with a second tagger (fingerprints), then
  * join-on-read filter (quality floor + token floor + a fingerprint
  * denylist band) and census the survivors. The oracle computes the same
  * attributes and the same cut purely in SQL — storage is exactly
  * value-preserving, so the replay proves save/append/extend/load change
  * nothing.
  *
  * `attr_threshold_sweep` is the read-side reason the store exists:
  * sweeping a quality cutoff is ONE scan of the narrow sidecar frame per
  * sweep (thresholds exploded inline), not one tagging pass per
  * candidate threshold. */
object AttrQueries {

  private val QualityFloor = 0.4
  private val TokenFloor = 5
  /** Fingerprint denylist band: fp % 1000 < 10 — the known-bad-document
    * exclusion-by-fingerprint shape, ~1% of docs. */
  private val FpDenyMod = 1000L
  private val FpDenyBand = 10L

  private def docsOf(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select("doc_id", "lang", "text", "n_chars")

  private[queries] def run1(docs: DataFrame): DataFrame =
    Attributes.tag(docs, "doc_id", Seq(
      "n_tokens" -> TextAnalysis.tokenCount(col("text")).cast("long"),
      "quality" -> round(TextAnalysis.qualityScore(col("text")), 6)))

  private def censusQ(s: SparkSession, dir: String): DataFrame = {
    val docs = docsOf(s, dir)
    val store = Artifacts.scratch("attr_store")
    val r1 = run1(docs)
    Attributes.attrSave(s, store, r1.filter(col("doc_id") % 5 =!= 4), "doc_id")
    Attributes.attrAppend(s, store, r1.filter(col("doc_id") % 5 === 4))
    Attributes.attrExtend(s, store, Attributes.tag(docs, "doc_id",
      Seq("fp" -> TextAnalysis.fingerprint(col("text")))))
    val (attrs, id) = Attributes.attrLoad(s, store)
    val kept = Attributes.filterByAttrs(
      docs.drop("text"), attrs, id,
      col("quality") >= QualityFloor && col("n_tokens") >= TokenFloor &&
        pmod(col("fp"), lit(FpDenyMod)) >= FpDenyBand)
    kept.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("sum_chars"))
  }

  private val Thresholds = Seq(0.3, 0.4, 0.5)

  private def sweepQ(s: SparkSession, dir: String): DataFrame = {
    val attrs = run1(docsOf(s, dir))
    attrs.select(col("n_tokens"), col("quality"),
        explode(lit(Thresholds.toArray)).as("thr"))
      .filter(col("quality") >= col("thr"))
      .groupBy("thr")
      .agg(count(lit(1)).as("n_kept"),
        sum("n_tokens").as("sum_tokens"))
  }

  private val TopFrac = 0.3

  /** "Keep the best 30% by stored quality" — the cut every quality-gated
    * release makes, spelled the scale-safe way: [[Selection.topFrac]]
    * finds the boundary score by distributed rank probe (id tie-break at
    * the boundary) over the NARROW attribute frame and filters map-side —
    * never a corpus-proportional TakeOrdered (the `perplexityKeep`
    * scale-killer pattern VERDICT r9 #1 retired); the corpus then
    * semi-joins the kept ids. */
  private def topFracQ(s: SparkSession, dir: String): DataFrame = {
    val docs = docsOf(s, dir)
    val top = graft.operators.Selection.topFrac(
      run1(docs), "quality", "doc_id", TopFrac)
    docs.drop("text").join(top.select("doc_id"), "doc_id")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "attr_store_census" -> (censusQ _),
    "attr_threshold_sweep" -> (sweepQ _),
    "attr_top_frac" -> (topFracQ _))

  // shared cross-engine spellings (same as TextQueries' oracles)
  private val toks =
    s"""list_filter(string_split_regex(lower(text), '${TextHash.WsRegex}'), x -> x <> '')"""

  /** The attribute relation in SQL over any `(doc_id, lang, n_chars,
    * text)`-shaped source — what save/append/extend/load must be
    * value-preserving against. Same quality/fingerprint spellings as
    * TextQueries' green oracles. */
  private[queries] def attrsSqlOver(src: String): String =
    s"""SELECT doc_id, lang, n_chars, n_tokens,
       |  CASE WHEN n_tok IS NULL THEN NULL ELSE
       |    round(0.3 * (CASE WHEN n_tok > 0 THEN stops / n_tok ELSE 0 END)
       |        + 0.3 * (1 - (CASE WHEN n_char > 0 THEN punct / n_char ELSE 0 END))
       |        + 0.4 * least(n_tok / 100, 1.0), 6) END AS quality,
       |  fp
       |FROM (SELECT doc_id, lang, n_chars,
       |  len($toks)::BIGINT AS n_tokens,
       |  len($toks)::DOUBLE AS n_tok,
       |  len(text)::DOUBLE AS n_char,
       |  (len(text) - len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE AS punct,
       |  len(list_filter($toks,
       |      x -> x IN ('the','a','and','of','to','in','is')))::DOUBLE AS stops,
       |  CASE WHEN len(text) = 0 THEN 0 ELSE
       |    list_reduce(
       |      list_prepend(0::BIGINT,
       |        list_transform(generate_series(1, len(text)), i -> ascii(text[i]))),
       |      (a, b) -> (a * 31 + b) % 1000000007)
       |  END AS fp
       |FROM ($src) src0) s""".stripMargin

  private val attrsSql = attrsSqlOver(
    "SELECT doc_id, lang, n_chars, text FROM documents")

  def oracle: Map[String, String] = Map(
    "attr_store_census" ->
      s"""WITH a AS ($attrsSql)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum(n_chars)::BIGINT AS sum_chars
         |FROM a
         |WHERE quality >= $QualityFloor
         |  AND n_tokens >= $TokenFloor
         |  AND fp % $FpDenyMod >= $FpDenyBand
         |GROUP BY lang""".stripMargin,
    "attr_top_frac" ->
      s"""WITH a AS ($attrsSql),
         |r AS (SELECT lang, n_chars,
         |        row_number() OVER (ORDER BY quality DESC, doc_id ASC) AS rn,
         |        count(*) OVER () AS n
         |      FROM a)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum(n_chars)::BIGINT AS sum_chars
         |FROM r WHERE rn <= ceil($TopFrac * n)
         |GROUP BY lang""".stripMargin,
    "attr_threshold_sweep" ->
      s"""WITH a AS ($attrsSql),
         |t AS (SELECT unnest([${Thresholds.map(t => s"$t::DOUBLE").mkString(", ")}]) AS thr)
         |SELECT thr, count(*)::BIGINT AS n_kept,
         |       sum(n_tokens)::BIGINT AS sum_tokens
         |FROM a, t
         |WHERE quality >= thr
         |GROUP BY thr""".stripMargin)
}
