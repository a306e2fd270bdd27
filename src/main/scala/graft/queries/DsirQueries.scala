package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.{Dsir, Materialize}

/** DSIR importance resampling as driver queries: weight every document by
  * the hashed-n-gram likelihood ratio between the English-subset TARGET
  * model and the RAW corpus model, then draw a Gumbel top-k sample. The
  * DuckDB oracles replay the whole chain — tokenization, gram order,
  * bucket hash, both models, the position-ordered ratio fold, and the
  * Gumbel keys — so weights AND the sampled set hash-match. */
object DsirQueries {

  val Buckets = 8192
  val K = 100L

  private def scored(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    // both models in ONE corpus scan (the target is a subset of raw)
    val (target, raw) = Dsir.fitBoth(docs, "text", col("lang") === "en", Buckets)
    Dsir.scoreDocs(docs, "text", Dsir.logRatios(target, raw), "logw")
  }

  /** Top-50 most target-like documents by importance log-weight. */
  private def weightsQ(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .orderBy(desc("logw"), asc("doc_id")).limit(50)
      .select(col("doc_id"), round(col("logw"), 6).as("lw"))

  /** The incremental-maintenance path: both models built by fitting the
    * first corpus half and FOLDING the second in via [[Dsir.update]] —
    * exact integer merge, so the oracle is simply the full retrain
    * (`update == retrain` holds bit-for-bit, unlike any rank-capped LM
    * maintenance). Output identical to [[weightsQ]] by construction. */
  private def updateWeightsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val h1 = docs.filter(col("doc_id") < 250L)
    val h2 = docs.filter(col("doc_id") >= 250L)
    val raw = Dsir.update(Dsir.fit(h1, "text", Buckets), h2, "text")
    val target = Dsir.update(
      Dsir.fit(h1.filter(col("lang") === "en"), "text", Buckets),
      h2.filter(col("lang") === "en"), "text")
    Dsir.scoreDocs(docs, "text", Dsir.logRatios(target, raw), "logw")
      .orderBy(desc("logw"), asc("doc_id")).limit(50)
      .select(col("doc_id"), round(col("logw"), 6).as("lw"))
  }

  private def resampled(s: SparkSession, dir: String): DataFrame =
    Dsir.resample(scored(s, dir), "doc_id", "logw", K)

  /** The Gumbel top-k draw itself (k = 100 without replacement). */
  private def resampleQ(s: SparkSession, dir: String): DataFrame =
    resampled(s, dir).select("doc_id", "lang")

  /** Language mix of the draw — the observable target shift (the raw
    * corpus is ~55% en; the resample should lean harder en). */
  private def mixQ(s: SparkSession, dir: String): DataFrame =
    resampled(s, dir).groupBy("lang").agg(count(lit(1)).as("n"))

  /** Hashed-TF cosine search: the most-similar documents to doc 0's
    * text, embedding-free ([[graft.operators.TextVector]]). */
  private def knnHashedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select("doc_id", "text")
    val qText = docs.filter(col("doc_id") === 0L).head.getString(1)
    graft.operators.TextVector.cosineTopK(
        docs.filter(col("doc_id") =!= 0L), "doc_id", "text",
        qText, Buckets, k = 10)
      .select(col("doc_id"), round(col("cos"), 6).as("cos"))
  }

  /** Batch hashed-TF cosine: docs 0–2 as the query set, one
    * tokenize+count per corpus row for the whole batch. */
  private def knnHashedMultiQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select("doc_id", "text")
    val qTexts = docs.filter(col("doc_id") < 3L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.operators.TextVector.cosineTopKMulti(
        docs, "doc_id", "text", qTexts, Buckets, k = 5)
      .select(col("query_id"), col("doc_id"), round(col("cos"), 6).as("cos"))
  }

  /** Composed pipeline v3: Gopher quality gate → DSIR importance draw —
    * the gate feeds BOTH model fits (one scan via fitBoth) and the
    * scoring, and the budget draw runs over gate survivors only; the
    * whole composition replays as ONE DuckDB query (the
    * `pipeline_curate_v2` proof extended to the importance-resampling
    * stage). */
  private val K3 = 150L

  private def curateV3Q(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalysis
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val gated = Materialize.eager(docs.filter(TextAnalysis.gopherGate(col("text"))),
      "DsirQueries.curateV3Q.gated") // feeds two fits' scan + scoring + the draw
    val (target, raw) = Dsir.fitBoth(gated, "text", col("lang") === "en", Buckets)
    val scored = Dsir.scoreDocs(gated, "text", Dsir.logRatios(target, raw))
    Dsir.resample(scored, "doc_id", "logw", K3)
      .select("doc_id", "lang")
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_weights" -> (weightsQ _),
    "dsir_update_weights" -> (updateWeightsQ _),
    "dsir_resample" -> (resampleQ _),
    "dsir_resample_mix" -> (mixQ _),
    "text_knn_hashed" -> (knnHashedQ _),
    "text_knn_hashed_multi" -> (knnHashedMultiQ _),
    "pipeline_curate_v3" -> (curateV3Q _))

  /** Shared oracle chain: position-ordered grams (unigrams then bigrams),
    * mult-31 poly-hash buckets, add-1 smoothed models, ordered-list fold.
    * `sc` is (doc_id, lang, logw) for every row of `src` — parameterized
    * so composed pipelines (the v3 query) run the SAME chain over a
    * gated subset. */
  private def chainBody(src: String): String = {
    val B = Buckets
    s"""tok AS (
       |  SELECT doc_id, lang,
       |         list_filter(string_split_regex(lower(text), '${TextHash.WsRegex}'),
       |                     x -> x <> '') AS tk
       |  FROM $src),
       |g0 AS (
       |  SELECT doc_id, lang, tk,
       |         unnest(generate_series(1, 2 * len(tk) - 1)) AS ord
       |  FROM tok),
       |g AS (
       |  SELECT doc_id, lang, ord,
       |         CASE WHEN ord <= len(tk) THEN tk[ord]
       |              ELSE tk[ord - len(tk)] || ' ' || tk[ord - len(tk) + 1]
       |         END AS gram
       |  FROM g0),
       |b AS (
       |  SELECT doc_id, lang, ord,
       |         (list_reduce(list_prepend(0::BIGINT,
       |            list_transform(generate_series(1, len(gram)), i -> ascii(gram[i]))),
       |            (a, x) -> (a * 31 + x) % 1000000007) % $B)::INT AS bucket
       |  FROM g),
       |tc AS (SELECT bucket, count(*)::BIGINT AS c FROM b WHERE lang = 'en' GROUP BY bucket),
       |tn AS (SELECT count(*)::BIGINT AS n FROM b WHERE lang = 'en'),
       |rc AS (SELECT bucket, count(*)::BIGINT AS c FROM b GROUP BY bucket),
       |rn AS (SELECT count(*)::BIGINT AS n FROM b),
       |ratio AS (
       |  SELECT rc.bucket,
       |         ln((coalesce(tc.c, 0) + 1.0) / (tn.n + 1.0 * $B)) -
       |         ln((rc.c + 1.0) / (rn.n + 1.0 * $B)) AS lr
       |  FROM rc LEFT JOIN tc USING (bucket), tn, rn),
       |sco AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(0.0, list(lr ORDER BY ord)),
       |                     (a, x) -> a + x) AS logw
       |  FROM b JOIN ratio USING (bucket) GROUP BY doc_id),
       |sc AS (
       |  SELECT d.doc_id, d.lang, coalesce(sco.logw, 0.0) AS logw
       |  FROM $src d LEFT JOIN sco USING (doc_id))""".stripMargin
  }

  private def chain: String = "WITH " + chainBody("documents")

  private val gumbel = Dsir.gumbelNoiseSql("doc_id")

  def oracle: Map[String, String] = Map(
    "dsir_weights" ->
      s"""$chain
         |SELECT doc_id, round(logw, 6) AS lw
         |FROM sc ORDER BY logw DESC, doc_id LIMIT 50""".stripMargin,
    // the update path's oracle IS the full retrain — exact integer
    // merge makes them interchangeable
    "dsir_update_weights" ->
      s"""$chain
         |SELECT doc_id, round(logw, 6) AS lw
         |FROM sc ORDER BY logw DESC, doc_id LIMIT 50""".stripMargin,
    "dsir_resample" ->
      s"""$chain
         |SELECT doc_id, lang
         |FROM sc ORDER BY logw + $gumbel DESC, doc_id LIMIT $K""".stripMargin,
    "dsir_resample_mix" ->
      s"""$chain,
         |sel AS (SELECT doc_id, lang
         |        FROM sc ORDER BY logw + $gumbel DESC, doc_id LIMIT $K)
         |SELECT lang, count(*) AS n FROM sel GROUP BY lang""".stripMargin,
    // hashed-TF cosine: integer dot/norms (order-independent, exact),
    // three IEEE ops for the cosine — bit-identical cross-engine with no
    // fold-order discipline. Reuses the chain's gram CTEs (`b`); the
    // unreferenced model CTEs are never executed (lazy WITH).
    "text_knn_hashed" ->
      s"""$chain,
         |cnt AS (SELECT doc_id, bucket, count(*)::BIGINT AS c
         |        FROM b GROUP BY doc_id, bucket),
         |q AS (SELECT bucket, c FROM cnt WHERE doc_id = 0),
         |q2 AS (SELECT sum(c * c)::BIGINT AS s FROM q),
         |a2 AS (SELECT doc_id, sum(c * c)::BIGINT AS s FROM cnt
         |       WHERE doc_id <> 0 GROUP BY doc_id),
         |dt AS (SELECT cnt.doc_id, sum(cnt.c * q.c)::BIGINT AS d
         |       FROM cnt JOIN q USING (bucket)
         |       WHERE cnt.doc_id <> 0 GROUP BY cnt.doc_id),
         |cs AS (SELECT a2.doc_id,
         |         CAST(coalesce(dt.d, 0) AS DOUBLE) /
         |           (sqrt(CAST(a2.s AS DOUBLE)) * sqrt(CAST(q2.s AS DOUBLE))) AS cos
         |       FROM a2 LEFT JOIN dt USING (doc_id), q2
         |       WHERE a2.s > 0)
         |SELECT doc_id, round(cos, 6) AS cos
         |FROM cs WHERE cos > 0 ORDER BY cos DESC, doc_id LIMIT 10""".stripMargin,
    // batch twin: rank-filter per query over the same exact-integer
    // cosine; the rank frame excludes only zero-NORM docs, which sort
    // below every positive row, so rank ≤ k + cos > 0 matches the
    // engine's window output row-for-row
    "text_knn_hashed_multi" ->
      s"""$chain,
         |cnt AS (SELECT doc_id, bucket, count(*)::BIGINT AS c
         |        FROM b GROUP BY doc_id, bucket),
         |qn AS (SELECT doc_id AS query_id, sum(c * c)::BIGINT AS s
         |       FROM cnt WHERE doc_id < 3 GROUP BY doc_id),
         |a2 AS (SELECT doc_id, sum(c * c)::BIGINT AS s FROM cnt GROUP BY doc_id),
         |dt AS (SELECT a.doc_id, qc.doc_id AS query_id,
         |         sum(a.c * qc.c)::BIGINT AS d
         |       FROM cnt a JOIN cnt qc USING (bucket)
         |       WHERE qc.doc_id < 3 GROUP BY a.doc_id, qc.doc_id),
         |cs AS (SELECT qn.query_id, a2.doc_id,
         |         CAST(coalesce(dt.d, 0) AS DOUBLE) /
         |           (sqrt(CAST(a2.s AS DOUBLE)) * sqrt(CAST(qn.s AS DOUBLE))) AS cos
         |       FROM a2 CROSS JOIN qn
         |       LEFT JOIN dt ON dt.doc_id = a2.doc_id AND dt.query_id = qn.query_id
         |       WHERE a2.s > 0),
         |r AS (SELECT query_id, doc_id, cos,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY cos DESC, doc_id) AS rnk
         |      FROM cs)
         |SELECT query_id, doc_id, round(cos, 6) AS cos
         |FROM r WHERE rnk <= 5 AND cos > 0""".stripMargin,
    // composed: the Gopher gate CTEs (the hash-verified
    // pipeline_curate_v2 spelling) produce `gdocs`, and the SAME dsir
    // chain runs over it — then the Gumbel rank cut
    "pipeline_curate_v3" ->
      s"""WITH ut AS (
         |  SELECT doc_id, lang, text,
         |         list_filter(string_split_regex(lower(text), '${TextHash.WsRegex}'),
         |                     x -> x <> '') AS tk
         |  FROM documents),
         |sig AS (SELECT doc_id, lang, text, tk, len(tk) AS nw,
         |          CASE WHEN len(tk) = 0 THEN 0
         |               ELSE list_sum(list_transform(tk, x -> len(x)))::DOUBLE / len(tk) END AS mwl,
         |          CASE WHEN len(tk) = 0 THEN 0
         |               ELSE len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(tk) END AS af,
         |          CASE WHEN len(tk) = 0 THEN 0
         |               ELSE len(regexp_extract_all(lower(text), '#|\\.\\.\\.'))::DOUBLE / len(tk) END AS sr,
         |          len(list_filter(tk, x -> x IN ('the','a','and','of','to','in','is'))) AS stops
         |        FROM ut),
         |gdocs AS (SELECT doc_id, lang, text FROM sig
         |          WHERE nw >= 50 AND nw <= 100000 AND mwl >= 3 AND mwl <= 10
         |            AND sr <= 0.1 AND af >= 0.8 AND stops >= 2),
         |${chainBody("gdocs")}
         |SELECT doc_id, lang
         |FROM sc ORDER BY logw + $gumbel DESC, doc_id LIMIT $K3""".stripMargin)
}
