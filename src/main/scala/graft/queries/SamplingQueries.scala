package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Deterministic stratified sampling as a driver query: 10 documents per
  * language, chosen by smallest content hash — the reproducible
  * training-mix curation primitive. DuckDB replays the identical hash
  * ordering, so results hash-match. */
object SamplingQueries {

  private def perLang(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicPerGroup(
        Tables(s, dir, "documents").select("doc_id", "lang", "text"),
        groupCol = "lang", contentCol = "text", quota = 10, uniqueCol = "doc_id")
      .select("doc_id", "lang")

  /** Deterministic epoch-shuffle order: doc_id → global position in the
    * (idHash, id) total order, computed as a distributed two-phase rank
    * (no single-node sort; see [[Sampling.deterministicOrderIndex]]). */
  private def shuffleOrder(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicOrderIndex(
      Tables(s, dir, "documents").select("doc_id"), "doc_id")

  /** The split weights and their precomputed hash thresholds — spliced
    * into BOTH engines as exact integer literals, so the boundary
    * arithmetic cannot diverge. */
  private val Splits = Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1))
  private val Bounds = Sampling.splitBounds(Splits)

  /** Deterministic train/valid/test split ([[Sampling.splitByHash]]):
    * membership is a pure function of the id — stable across runs and
    * layouts. */
  private def splitsQ(s: SparkSession, dir: String): DataFrame =
    Sampling.splitByHash(
        Tables(s, dir, "documents").select("doc_id"), "doc_id", Splits)
      .select("doc_id", "split")

  /** Training-shard export ([[graft.sources.TrainingExport]]): write 8
    * contiguous slices of the deterministic shuffle order, then census
    * the WRITTEN layout (per shard: rows, pos range, id checksum) — the
    * oracle recomputes the same slices from the id set alone with exact
    * integer arithmetic, so the hash match proves the written shards are
    * the reproducible ones, not just self-consistent. */
  private def exportShardsQ(s: SparkSession, dir: String): DataFrame = {
    val out = s"${Artifacts.scratch("export")}/shards"
    val docs = Tables(s, dir, "documents").select("doc_id", "lang")
    graft.sources.TrainingExport.exportShards(docs, "doc_id", out, 8)
    s.read.parquet(out).groupBy("shard").agg(
      count(lit(1)).as("n_rows"),
      min("pos").as("min_pos"), max("pos").as("max_pos"),
      sum("doc_id").as("sum_ids"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_per_lang" -> (perLang _),
    "sample_splits" -> (splitsQ _),
    "export_shards" -> (exportShardsQ _),
    "shuffle_order" -> (shuffleOrder _))

  private val idHashSql = graft.operators.Mixture.idHashSql("doc_id")

  def oracle: Map[String, String] = Map(
    "sample_splits" ->
      s"""SELECT doc_id,
         |  CASE WHEN h < ${Bounds(0)} THEN 'train'
         |       WHEN h < ${Bounds(1)} THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, $idHashSql AS h FROM documents)""".stripMargin,
    "shuffle_order" ->
      s"""SELECT doc_id,
         |  row_number() OVER (ORDER BY $idHashSql, doc_id) - 1 AS pos
         |FROM documents""".stripMargin,
    "export_shards" ->
      s"""WITH r AS (SELECT doc_id,
         |       row_number() OVER (ORDER BY $idHashSql, doc_id) - 1 AS pos
         |     FROM documents),
         |t AS (SELECT count(*) AS total FROM documents),
         |sh AS (SELECT doc_id, pos,
         |        CAST((pos * 8) // total AS INT) AS shard FROM r, t)
         |SELECT shard, count(*)::BIGINT AS n_rows,
         |       min(pos) AS min_pos, max(pos) AS max_pos,
         |       sum(doc_id)::BIGINT AS sum_ids
         |FROM sh GROUP BY shard""".stripMargin,
    "sample_per_lang" ->
      """WITH h AS (SELECT doc_id, lang,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(generate_series(1, len(text)), i -> ascii(text[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS hh,
        |  text
        |FROM documents),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang ORDER BY hh, text, doc_id) AS rn
        |      FROM h)
        |SELECT doc_id, lang FROM r WHERE rn <= 10""".stripMargin)
}
