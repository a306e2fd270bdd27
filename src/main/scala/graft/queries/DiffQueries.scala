package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Attributes, Materialize, SnapshotDiff}

/** Snapshot-diff ([[graft.operators.SnapshotDiff]]) driver queries. Two
  * corpus versions are synthesized deterministically from `documents` —
  * v1 drops ids ≡3 (mod 7), v2 drops ids ≡2 (mod 5) and appends " v2" to
  * the text of ids ≡0 (mod 11) — so every status (added / removed /
  * changed / unchanged) is populated, and the SAME synthesis runs in the
  * oracle. The fingerprint is the shared cross-engine polyhash, so the
  * oracle replays the engine's exact changed/unchanged semantic. */
object DiffQueries {

  private[queries] def snapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val v1 = docs.filter(col("doc_id") % 7 =!= 3)
    val v2 = docs.filter(col("doc_id") % 5 =!= 2)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    (v1, v2)
  }

  /** Per-(lang, status) release census. */
  private def censusQ(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = snapshots(s, dir)
    SnapshotDiff.census(v1, v2, "doc_id",
      TextAnalysis.fingerprint(col("text")), carry = Seq("lang"))
  }

  /** Row-level delta — the exact id set downstream incremental work keys
    * on (re-tag added ∪ changed, purge removed); unchanged rows omitted. */
  private def rowsQ(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = snapshots(s, dir)
    SnapshotDiff.diff(v1, v2, "doc_id",
        TextAnalysis.fingerprint(col("text")))
      .filter(col("status") =!= SnapshotDiff.Unchanged)
  }

  /** The incremental pipeline the diff exists for: tag v1 into an
    * attribute store, diff v1→v2, RE-TAG ONLY `added ∪ changed` (upsert)
    * and purge `removed` — then emit the store's exact content. The
    * oracle computes attributes over v2 DIRECTLY, so the query is green
    * iff incremental maintenance converged to the full-retag state
    * row-for-row (a stale changed row or a lingering removed row breaks
    * the hash — " v2" suffixes change token counts, so staleness is
    * observable). At 100 TB the work here is delta-sized tagging +
    * sidecar-sized joins; the full retag it equals is corpus-sized. */
  private def retagQ(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = snapshots(s, dir)
    val store = Artifacts.scratch("attr_retag")
    Attributes.attrSave(s, store, AttrQueries.run1(v1), "doc_id")
    val d = Materialize.eager(SnapshotDiff.diff(v1, v2, "doc_id",
      TextAnalysis.fingerprint(col("text"))),
      "DiffQueries.retagQ.diff") // delta AND removed read it (the indexSyncQ cut)
    val delta = d.filter(col("status").isin(SnapshotDiff.Added,
      SnapshotDiff.Changed)).select("doc_id")
    val removed = d.filter(col("status") === SnapshotDiff.Removed)
      .select("doc_id")
    Attributes.attrUpsert(s, store,
      AttrQueries.run1(v2.join(delta, "doc_id")))
    Attributes.attrRemove(s, store, removed)
    Attributes.attrLoad(s, store)._1
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "snapshot_diff_census" -> (censusQ _),
    "snapshot_diff_rows" -> (rowsQ _),
    "attr_diff_retag" -> (retagQ _))

  private def fpSql(t: String): String =
    s"""CASE WHEN len($t) = 0 THEN 0 ELSE
       |    list_reduce(
       |      list_prepend(0::BIGINT,
       |        list_transform(generate_series(1, len($t)), i -> ascii($t[i]))),
       |      (a, b) -> (a * 31 + b) % 1000000007)
       |  END""".stripMargin

  private val joined =
    s"""o AS (SELECT doc_id, lang, ${fpSql("text")} AS fp
       |      FROM documents WHERE doc_id % 7 <> 3),
       |n AS (SELECT doc_id, lang, ${fpSql("text")} AS fp FROM
       |  (SELECT doc_id, lang,
       |     CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
       |   FROM documents WHERE doc_id % 5 <> 2) q),
       |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |  coalesce(n.lang, o.lang) AS lang,
       |  CASE WHEN o.doc_id IS NULL THEN 'added'
       |       WHEN n.doc_id IS NULL THEN 'removed'
       |       WHEN o.fp = n.fp THEN 'unchanged' ELSE 'changed' END AS status
       | FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)""".stripMargin

  def oracle: Map[String, String] = Map(
    "snapshot_diff_census" ->
      s"""WITH $joined
         |SELECT lang, status, count(*)::BIGINT AS n_docs
         |FROM j GROUP BY lang, status""".stripMargin,
    "snapshot_diff_rows" ->
      s"""WITH $joined
         |SELECT doc_id, status FROM j WHERE status <> 'unchanged'""".stripMargin,
    "attr_diff_retag" -> {
      val v2src =
        """SELECT doc_id, lang, len(text)::BIGINT AS n_chars, text FROM
          |  (SELECT doc_id, lang,
          |     CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
          |   FROM documents WHERE doc_id % 5 <> 2) v2""".stripMargin
      s"""SELECT doc_id, n_tokens, quality
         |FROM (${AttrQueries.attrsSqlOver(v2src)}) a""".stripMargin
    })
}
