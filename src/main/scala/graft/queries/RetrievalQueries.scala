package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.{Materialize, Search, SearchConfig, TextRetrieval}

/** Lexical retrieval + hybrid fusion ([[graft.operators.TextRetrieval]])
  * as driver-verifiable queries over `documents` (+ `embeddings` for the
  * hybrid), each hash-matched against a DuckDB oracle computing the same
  * Okapi BM25 / RRF arithmetic term-by-term in the same association order.
  *
  * Determinism notes baked into the oracles:
  *  - token split, lowercasing and the Ws class match the engine-portable
  *    spelling every text oracle uses ([[TextHash.WsRegex]]);
  *  - avgdl is a mean of integer token counts whose total is < 2^53, so
  *    both engines sum it exactly in any order;
  *  - the single-query score is a FIXED-ORDER sum of per-term columns
  *    (identical expression tree both sides); the batch query returns
  *    ALL matching docs (k ≥ corpus) so no rank boundary can sit inside
  *    the FP-noise of a groupBy sum's addend order;
  *  - RRF sums at most one rank contribution per ranking with 2-term
  *    IEEE addition (exactly commutative), so fusion is order-free.
  */
object RetrievalQueries {

  private[queries] val Terms = Seq("spark", "vector", "merge")
  private[queries] val K1 = 1.2
  private[queries] val B = 0.75

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  private def bm25Single(s: SparkSession, dir: String): DataFrame =
    TextRetrieval.bm25(docs(s, dir), "doc_id", "text", Terms, k = 10)
      .select(col("doc_id"), round(col("score"), 6).as("score"))

  /** The query batch: tiny, literal, shared verbatim with the oracle's
    * VALUES list. k ≥ any corpus the gate runs on, so the result is
    * "every matching doc scored" — see the determinism note above. */
  private val Batch = Seq(
    (0L, "spark join"), (1L, "vector scan fast"), (2L, "window merge batch"))

  private def bm25Multi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Batch.toDF("query_id", "qtext")
    TextRetrieval.bm25Multi(docs(s, dir), "doc_id", "text",
      queries, "query_id", "qtext", k = 1000000)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
  }

  /** Hybrid lexical ⊕ vector search: BM25 top-20 over `documents` fused
    * with cosine-kNN top-20 over `embeddings` (row ids align by
    * construction of the test tables) via reciprocal-rank fusion. */
  private def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lexical = TextRetrieval.rankByScore(
      TextRetrieval.bm25(docs(s, dir), "doc_id", "text", Terms, k = 20),
      "doc_id")
    val emb = Tables(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val cfg = SearchConfig(
      scoreFuncName = "CosineSimilarity", higherIsBetter = true, limit = 20,
      featureCol = "embedding", groupLabelCol = "label",
      keyCols = Seq("vec_id"), tieBreakCol = Some("vec_id"),
      assumeUniqueKeys = true)
    val vector = TextRetrieval.rankByScore(
      Search.search(emb, qv, cfg)
        .select(col("vec_id").as("doc_id"), col(Search.ScoreCol)),
      "doc_id")
    TextRetrieval.rrfFuse(Seq(lexical, vector), "doc_id", k = 10)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
  }

  /** Stored lexical-index cache: built ONCE per source dir into a
    * persisted term-sorted posting layout + stats sidecar
    * ([[TextRetrieval.indexSave]]) and every query run serves the STORED
    * index — the [[AnnQueries]] lifecycle (build out-of-band, query the
    * saved layout), stored and keyed through [[Artifacts]]. */
  private def lexIndex(s: SparkSession, dir: String): TextRetrieval.LexIndex =
    Artifacts.stored(s, Artifacts.key("lex", dir, "documents"),
        TextRetrieval.IndexSidecar) { idxDir =>
      val d = docs(s, dir)
      val (stats, pn, ptot) = TextRetrieval.corpusStatsFull(d, "text")
      TextRetrieval.indexSave(idxDir,
        TextRetrieval.indexBuild(d, "doc_id", "text"), stats, pn, ptot)
    }(TextRetrieval.indexLoad(s, _))

  /** Same batch + contract as `retrieval_bm25_multi`, served from the
    * STORED index — shares that query's oracle verbatim: the pruned
    * posting path must land on exactly the raw-corpus rows. */
  private def bm25Indexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Batch.toDF("query_id", "qtext")
    TextRetrieval.bm25Indexed(lexIndex(s, dir), "doc_id",
      queries, "query_id", "qtext", k = 1000000)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
  }

  /** The ratio for the capped query: the batch's term dfs sit at
    * 0.75–0.80 of N on the synthetic corpus, so 0.78 cuts the four
    * hottest (df/N ≥ 0.786 at sf0.01, margin ≥ 3 docs from the cap) and
    * keeps the rest — a NON-vacuous cut whose exact membership the
    * oracle replays in the SAME double arithmetic, never assumes. */
  private val CapRatio = 0.78

  /** `retrieval_bm25_indexed` with the hot-term df cap engaged: terms
    * with df > ratio·N are dropped BEFORE their postings are read. */
  private def bm25Capped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Batch.toDF("query_id", "qtext")
    TextRetrieval.bm25Indexed(lexIndex(s, dir), "doc_id",
      queries, "query_id", "qtext", k = 1000000, maxDfRatio = CapRatio)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
  }

  /** Grade the hybrid RRF top-10 against the cosine-kNN top-5 as truth:
    * the fused list contains cosine members BY CONSTRUCTION, at ranks
    * the BM25 leg perturbs — so recall@10 / reciprocal rank / nDCG@10
    * land strictly inside (0, 1] and the oracle pins real metric
    * arithmetic, not a degenerate all-zero (BM25-vs-cosine overlap on
    * this corpus is empty — an all-zero gate row would pass any broken
    * metric). [[graft.operators.RetrievalEval]] under the driver gate. */
  private def evalMetrics(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RetrievalEval
    val lexical = TextRetrieval.rankByScore(
      TextRetrieval.bm25(docs(s, dir), "doc_id", "text", Terms, k = 20),
      "doc_id")
    val emb = Tables(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val cfg = SearchConfig(
      scoreFuncName = "CosineSimilarity", higherIsBetter = true, limit = 20,
      featureCol = "embedding", groupLabelCol = "label",
      keyCols = Seq("vec_id"), tieBreakCol = Some("vec_id"),
      assumeUniqueKeys = true)
    val cosTop = Search.search(emb, qv, cfg)
      .select(col("vec_id").as("doc_id"), col(Search.ScoreCol))
    val fused = TextRetrieval.rankByScore(
      TextRetrieval.rrfFuse(
        Seq(lexical, TextRetrieval.rankByScore(cosTop, "doc_id")),
        "doc_id", k = 10),
      "doc_id").withColumn("query_id", lit(0L))
    val truth = TextRetrieval.rankByScore(cosTop, "doc_id")
      .where(col(TextRetrieval.RankCol) <= 5)
      .select(col("doc_id")).withColumn("query_id", lit(0L))
    def one(name: String, df: DataFrame, c: String) =
      df.select(lit(name).as("metric"), round(col(c), 6).as("value"))
    one("recall_at_10",
        RetrievalEval.recallAtK(fused, truth, "query_id", "doc_id", 10), "recall")
      .unionAll(one("rr",
        RetrievalEval.reciprocalRank(fused, truth, "query_id", "doc_id", 10), "rr"))
      .unionAll(one("ndcg_at_10",
        RetrievalEval.ndcgAtK(fused, truth, "query_id", "doc_id", 10), "ndcg"))
  }

  /** The result-page shape: BM25 top-10 joined back to its documents,
    * each row carrying the ±4-token context around its first query-term
    * match ([[TextRetrieval.snippet]]). The snippet is a codegen'd
    * column over the k retrieved rows only — never a corpus pass. */
  private def snippets(s: SparkSession, dir: String): DataFrame = {
    val top = TextRetrieval.bm25(docs(s, dir), "doc_id", "text", Terms, k = 10)
      .select("doc_id")
    top.join(docs(s, dir), "doc_id")
      .select(col("doc_id"),
        TextRetrieval.snippet(col("text"), Terms, window = 4).as("snippet"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retrieval_bm25" -> (bm25Single _),
    "retrieval_bm25_multi" -> (bm25Multi _),
    "retrieval_bm25_indexed" -> (bm25Indexed _),
    "retrieval_index_sync" -> (indexSyncQ _),
    "retrieval_bm25_capped" -> (bm25Capped _),
    "retrieval_eval" -> (evalMetrics _),
    "retrieval_snippets" -> (snippets _),
    "retrieval_hybrid_rrf" -> (hybridRrf _))

  // ------------------------------------------------------------- oracles

  private val tk =
    s"""list_filter(string_split_regex(lower(text), '${TextHash.WsRegex}'), x -> x <> '')"""

  /** Per-term BM25 contribution, spelled in the SAME association order as
    * the Column expression in [[TextRetrieval]]. `CAST(st.n AS DOUBLE)`
    * forces the whole idf quotient into IEEE double — DuckDB would
    * otherwise run parts of it in DECIMAL arithmetic, which rounds
    * decimally and can drift from Spark's double in the last bits. */
  private[queries] def contribSql(tf: String, df: String, dl: String): String =
    s"ln((CAST(st.n AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1) * $tf * ${K1 + 1.0} / " +
      s"($tf + $K1 * (${1.0 - B} + $B * $dl / st.avgdl))"

  private val bm25SingleSql: String = {
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n        ")
    val dfAggs = Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Terms.indices.map(i => contribSql(s"tf$i", s"df$i", "dl"))
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $tk AS tk FROM documents),
       |b AS (SELECT doc_id, len(tk) AS dl,
       |        $tfCols FROM d),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfAggs FROM b),
       |s AS (SELECT doc_id, $score AS score FROM b CROSS JOIN st)
       |SELECT doc_id, round(score, 6) AS score FROM s
       |WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  /** The batch-BM25 oracle; `dfCut` (e.g. `AND f.df <= …`) replays the
    * capped variant's hot-term cut in the SAME double arithmetic. */
  private def bm25MultiSqlWith(dfCut: String,
      docsSql: String = "SELECT doc_id, text FROM documents"): String = {
    val values = Batch.flatMap { case (qid, text) =>
      text.split(' ').map(t => s"($qid, '$t')") }.mkString(", ")
    s"""WITH qs AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
       |            FROM (VALUES $values) v(query_id, term)),
       |d AS (SELECT doc_id, $tk AS tk FROM ($docsSql) src0),
       |b AS (SELECT doc_id, tk, len(tk) AS dl FROM d),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM b),
       |tf AS (SELECT b.doc_id, q.query_id, q.term,
       |         len(list_filter(b.tk, x -> x = q.term)) AS tf, b.dl
       |       FROM b CROSS JOIN qs q),
       |df AS (SELECT term, count(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM tf WHERE tf > 0)
       |       GROUP BY term),
       |s AS (SELECT t.query_id, t.doc_id,
       |        sum(${contribSql("t.tf", "f.df", "t.dl")}) AS score
       |      FROM tf t JOIN df f USING (term) CROSS JOIN st
       |      WHERE t.tf > 0$dfCut
       |      GROUP BY t.query_id, t.doc_id)
       |SELECT query_id, doc_id, round(score, 6) AS score FROM s""".stripMargin
  }

  private val bm25MultiSql: String = bm25MultiSqlWith("")

  /** Diff-driven index sync: build the stored index on v1, diff v1→v2
    * ([[DiffQueries.snapshots]]' synthesis), [[TextRetrieval.indexRemove]]
    * `removed ∪ changed`, [[TextRetrieval.indexAppend]] `added ∪ changed`
    * with v2 text, then serve the standard batch FROM THE SYNCED INDEX.
    * The oracle computes BM25 over v2 from scratch — green iff the
    * incremental remove+append converged to the fresh-v2-build state
    * score-for-score (stats included: both sides carry exact integer
    * token totals, so N and avgdl agree bit-for-bit). Maintenance cost
    * is delta-sized tokenize + index-sized rewrites; the fresh build it
    * equals is corpus-sized. */
  private def indexSyncQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.SnapshotDiff
    val (v1, v2) = DiffQueries.snapshots(s, dir)
    val idxDir = s"${Artifacts.scratch("lex_sync")}/idx"
    // 5-field save: the postings totals come from the SAME stats pass
    // (corpusStatsFull) and put the later indexRemove on its incremental
    // (delta-sized) path — see TextRetrieval.indexRemove (r13)
    val (v1Stats, v1Pn, v1Ptot) = TextRetrieval.corpusStatsFull(v1, "text")
    TextRetrieval.indexSave(idxDir,
      TextRetrieval.indexBuild(v1, "doc_id", "text"),
      v1Stats, v1Pn, v1Ptot)
    val d = Materialize.eager(SnapshotDiff.diff(v1, v2, "doc_id",
        graft.functions.TextAnalysis.fingerprint(col("text"))),
      "RetrievalQueries.indexSyncQ.diff")
    TextRetrieval.indexRemove(s, idxDir,
      d.filter(col("status").isin(SnapshotDiff.Removed, SnapshotDiff.Changed))
        .select("doc_id"), "doc_id")
    TextRetrieval.indexAppend(s, idxDir,
      v2.join(d.filter(col("status").isin(SnapshotDiff.Added, SnapshotDiff.Changed))
        .select("doc_id"), "doc_id"), "doc_id", "text")
    val queries = Batch.toDF("query_id", "qtext")
    TextRetrieval.bm25Indexed(TextRetrieval.indexLoad(s, idxDir), "doc_id",
      queries, "query_id", "qtext", k = 1000000)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
  }

  private val indexSyncSql: String = bm25MultiSqlWith("",
    """SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
      |FROM documents WHERE doc_id % 5 <> 2""".stripMargin)

  private val bm25CappedSql: String =
    bm25MultiSqlWith(s" AND f.df <= CAST($CapRatio AS DOUBLE) * st.n")

  private val hybridRrfSql: String = {
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n        ")
    val dfAggs = Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Terms.indices.map(i => contribSql(s"tf$i", s"df$i", "dl"))
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $tk AS tk FROM documents),
       |b AS (SELECT doc_id, len(tk) AS dl,
       |        $tfCols FROM d),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfAggs FROM b),
       |lex AS (SELECT doc_id, $score AS score FROM b CROSS JOIN st),
       |lexr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
       |         FROM lex WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 20),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |cos AS (SELECT e.vec_id AS doc_id,
       |          least(1.0, greatest(-1.0, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv))) AS score
       |        FROM embeddings e CROSS JOIN q),
       |cosr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
       |         FROM cos ORDER BY score DESC, doc_id ASC LIMIT 20),
       |fused AS (SELECT doc_id, sum(CAST(1.0 AS DOUBLE) / (60 + rnk)) AS score
       |          FROM (SELECT * FROM lexr UNION ALL SELECT * FROM cosr)
       |          GROUP BY doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM fused
       |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  /** The eval oracle reuses the hybrid's two ranked CTEs (BM25 top-20,
    * cosine top-20 as truth) and replays each metric's arithmetic: exact
    * integer recall/min-rank, and nDCG's log2 spelled ln(x)/ln(2) on BOTH
    * sides (Spark side uses the same quotient — engines' log2() builtins
    * may differ in the last ulp, ln/ln is one shared spelling). */
  private val evalSql: String = {
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n        ")
    val dfAggs = Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Terms.indices.map(i => contribSql(s"tf$i", s"df$i", "dl"))
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $tk AS tk FROM documents),
       |b AS (SELECT doc_id, len(tk) AS dl,
       |        $tfCols FROM d),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfAggs FROM b),
       |lex AS (SELECT doc_id, $score AS score FROM b CROSS JOIN st),
       |lexr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
       |         FROM lex WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 20),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |cos AS (SELECT e.vec_id AS doc_id,
       |          least(1.0, greatest(-1.0, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv))) AS score
       |        FROM embeddings e CROSS JOIN q),
       |cosr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
       |         FROM cos ORDER BY score DESC, doc_id ASC LIMIT 20),
       |fused AS (SELECT doc_id, sum(CAST(1.0 AS DOUBLE) / (60 + rnk)) AS score
       |          FROM (SELECT * FROM lexr UNION ALL SELECT * FROM cosr)
       |          GROUP BY doc_id),
       |fusedr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
       |           FROM fused ORDER BY score DESC, doc_id ASC LIMIT 10),
       |tru AS (SELECT doc_id FROM cosr WHERE rnk <= 5),
       |j AS (SELECT t.doc_id, f.rnk FROM tru t LEFT JOIN fusedr f USING (doc_id)),
       |agg AS (SELECT sum(CASE WHEN rnk IS NOT NULL THEN 1 ELSE 0 END) AS hits,
       |               count(*) AS nt, min(rnk) AS minr,
       |               sum(CASE WHEN rnk IS NOT NULL THEN CAST(1.0 AS DOUBLE) / (ln(rnk + 1.0) / ln(2.0)) ELSE 0.0 END) AS dcg
       |        FROM j),
       |ideal AS (SELECT sum(CAST(1.0 AS DOUBLE) / (ln(i + 1.0) / ln(2.0))) AS idcg
       |          FROM (SELECT unnest(generate_series(1,
       |                  (SELECT CAST(least(nt, 10) AS BIGINT) FROM agg))) AS i)),
       |m AS (SELECT 'recall_at_10' AS metric, CAST(hits AS DOUBLE) / nt AS value FROM agg
       |      UNION ALL SELECT 'rr', coalesce(CAST(1.0 AS DOUBLE) / minr, 0.0) FROM agg
       |      UNION ALL SELECT 'ndcg_at_10',
       |        CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END FROM agg, ideal)
       |SELECT metric, round(value, 6) AS value FROM m""".stripMargin
  }

  /** Snippet oracle: DuckDB's index lambda is 1-BASED and list slices
    * are 1-based inclusive (Spark's transform index is 0-based; slice
    * takes (start, LENGTH)) — both sides reduce to the same window
    * [max(1, first1b − w), …+2w] over the original-case tokens. */
  private val snippetsSql: String = {
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n        ")
    val dfAggs = Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Terms.indices.map(i => contribSql(s"tf$i", s"df$i", "dl"))
      .mkString(" + ")
    val termList = Terms.map(t => s"'$t'").mkString("[", ", ", "]")
    val w = 4
    s"""WITH d AS (SELECT doc_id, $tk AS tk FROM documents),
       |b AS (SELECT doc_id, len(tk) AS dl,
       |        $tfCols FROM d),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfAggs FROM b),
       |s AS (SELECT doc_id, $score AS score FROM b CROSS JOIN st),
       |top AS (SELECT doc_id FROM s WHERE score > 0
       |        ORDER BY score DESC, doc_id ASC LIMIT 10),
       |src AS (SELECT t.doc_id,
       |          list_filter(string_split_regex(u.text, '${TextHash.WsRegex}'), x -> x <> '') AS toks
       |        FROM top t JOIN documents u USING (doc_id)),
       |h AS (SELECT doc_id, toks,
       |        list_filter(list_transform(toks, (x, i) -> {'i': i, 'x': x}),
       |          e -> list_contains($termList, lower(e.x))) AS hits
       |      FROM src),
       |p AS (SELECT doc_id, toks, greatest(1, hits[1].i - $w) AS s1,
       |        len(hits) AS nh FROM h)
       |SELECT doc_id,
       |  CASE WHEN nh > 0
       |    THEN array_to_string(toks[s1 : s1 + ${2 * w}], ' ') END AS snippet
       |FROM p""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "retrieval_bm25" -> bm25SingleSql,
    "retrieval_bm25_multi" -> bm25MultiSql,
    // the stored-index path must land on exactly the raw-corpus rows
    "retrieval_bm25_indexed" -> bm25MultiSql,
    "retrieval_index_sync" -> indexSyncSql,
    "retrieval_bm25_capped" -> bm25CappedSql,
    "retrieval_eval" -> evalSql,
    "retrieval_snippets" -> snippetsSql,
    "retrieval_hybrid_rrf" -> hybridRrfSql)
}
