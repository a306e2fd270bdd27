package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Materialize, Mixture, Packing}

/** Mixture-sampling and sequence-packing operators as driver queries.
  * Domains = the documents table's `source` column (20 synthetic sources);
  * weights derive from the source number (`srcN` → (N mod 3) + 1) so the
  * mixture is non-uniform and both engines rebuild the identical weight
  * table. Token counts use `n_chars` (pre-materialized, integer-exact);
  * the operators are column-name agnostic.
  *
  * `pack_ffd`'s bin ASSIGNMENT is sequential FFD state (a recursive SQL
  * replay would test the oracle, not the operator), but its VALIDITY
  * invariants are SQL-expressible (VERDICT r4 #3): the query emits one
  * row per document with the oracle-replayable columns (doc_id, shard,
  * n_tokens) plus in-query booleans — the doc's bin lives in its shard's
  * namespace and the doc's bin does not overflow seqLen — which the
  * oracle pins TRUE per doc. Every-doc-exactly-once falls out of the
  * row-set hash compare itself. The packing-quality properties stay in
  * PackingSpec/PackingPropertySpec. */
object MixQueries {

  private val Frac = 0.3 // budget = floor(0.3 · total chars)
  private val RepFrac = 1.2 // epoch-repeat budget: 1.2x the corpus
  private val SeqLen = 2048
  private val Shards = 8

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select("doc_id", "source", "n_chars")

  /** One aggregate scan yields everything the rate math needs: per-domain
    * totals (→ weights from the source names, budget from the grand
    * total). The first cut ran three driver actions (distinct sources,
    * totals, grand total) for the same information. */
  private def domainStats(d: DataFrame): (Map[String, Double], Map[String, Long], Long) = {
    val totals = d.groupBy("source").agg(sum(col("n_chars")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = totals.keysIterator
      .map(src => src -> ((src.drop(3).toInt % 3) + 1).toDouble).toMap
    (weights, totals, (Frac * totals.valuesIterator.sum).toLong)
  }

  private def ratesOf(d: DataFrame): Map[String, Double] = {
    val (weights, totals, budget) = domainStats(d)
    Mixture.domainRatesFromTotals(totals, weights, budget)
  }

  private def sampleRate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Mixture.sampleByRate(d, "doc_id", "source", ratesOf(d))
      .select("doc_id", "source", "n_chars")
  }

  /** Epoch weighting: budget EXCEEDS the corpus (1.2x), so high-weight
    * domains land above one epoch (floor copies + a deterministic
    * fractional Bernoulli copy) while low-weight ones stay below 1 and
    * reduce to the plain Bernoulli sample — one query exercises both
    * regimes of [[Mixture.repeatByRate]]. */
  private def repeatEpochs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (weights, totals, _) = domainStats(d)
    val budget = (RepFrac * totals.valuesIterator.sum).toLong
    val epochs = Mixture.domainEpochsFromTotals(totals, weights, budget)
    Mixture.repeatByRate(d, "doc_id", "source", epochs)
      .select("doc_id", "source", "n_chars", "copy")
  }

  /** Temperature-flattened mixture (the multilingual alpha-sampling
    * knob, T = 2): weights temper as `w^(1/T)` — sqrt here, the
    * IEEE-correctly-rounded case both engines compute bit-identically —
    * which upsamples small domains relative to [[sampleRate]]'s stated
    * proportions. Same deterministic hash-threshold Bernoulli sample. */
  private val MixTemperature = 2.0

  private def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (weights, totals, budget) = domainStats(d)
    val rates = Mixture.domainRatesFromTotals(totals,
      Mixture.temperedWeights(weights, MixTemperature), budget)
    Mixture.sampleByRate(d, "doc_id", "source", rates)
      .select("doc_id", "source", "n_chars")
  }

  private def sampleBudget(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (weights, _, budget) = domainStats(d)
    Mixture.sampleToBudget(d, "doc_id", "source", "n_chars", weights, budget)
      .select("doc_id", "source", "n_chars")
  }

  private def packChunked(s: SparkSession, dir: String): DataFrame =
    Packing.chunked(docs(s, dir), "doc_id", "n_chars", SeqLen, Shards)

  private def packFfd(s: SparkSession, dir: String): DataFrame = {
    val packed = Materialize.eager(Packing.ffd(docs(s, dir), "doc_id", "n_chars", SeqLen, Shards),
      "MixQueries.packFfd.packed") // row side + per-bin fill agg
    val binFill = packed.groupBy("bin").agg(sum("n_tokens").as("__fill"))
    packed.join(binFill, "bin")
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (shiftrightunsigned(col("bin"), 40) === col("shard").cast("long"))
          .as("bin_in_shard"),
        (col("__fill") <= SeqLen).as("bin_fits"))
  }

  /** The end-to-end curation pipeline as ONE query: Gopher quality gate →
    * exact dedup (min-id representative per text) → exact 13-gram
    * decontamination vs the synthetic eval set → weighted mixture sample →
    * chunked sequence packing. Each stage is an operator verified on its
    * own elsewhere; this query verifies their COMPOSITION against a
    * single DuckDB replay — the "a user can run their whole pipeline on
    * this engine" proof, and the plan is scan → map-side gate → one dedup
    * shuffle → broadcast gram anti-join → broadcast rate join → per-shard
    * window. Rates derive from the POST-decontamination corpus, as a real
    * pipeline re-measures totals after every removal stage. */
  private def pipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalysis
    import graft.operators.Dedup
    val d = Tables(s, dir, "documents").select("doc_id", "source", "n_chars", "text")
    // checkpoint: keep-set AND the semi-join both read the gated stage
    // (r12 — the curateV2Q `gated` rationale)
    val gated = Materialize.eager(d.filter(TextAnalysis.gopherGate(col("text"))),
      "MixQueries.pipeline.gated")
    // 64-bit identity through the exchange, not the document bytes (r12,
    // guide §2.3 / the dataset-card hash-identity rationale): the dedup
    // decision needs only "same text", and (xxhash64, length) ships
    // 12 B/row where the text column ships the document. The length
    // column (ADVICE r12: harden the key) squares down the collision
    // envelope — colliding docs must ALSO share exact length; the oracle
    // still groups by text — identical output absent a joint collision.
    val keep = gated.groupBy(xxhash64(col("text")).as("__th"),
        length(col("text")).as("__tl"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val evalSet = d.filter(col("doc_id") < 15)
      .select((col("doc_id") + 50000000).as("doc_id"),
        concat(col("text"), lit(" extra token padding")).as("text"))
      .unionByName(d.filter(col("doc_id") >= 15 && col("doc_id") < 20)
        .select((col("doc_id") + 50000000).as("doc_id"), col("text")))
    val deduped = gated.join(keep, Seq("doc_id"), "left_semi")
    // consumed by rate derivation + sample + pack
    val clean = Materialize.eager(
      Dedup.decontaminateExact(deduped, evalSet, "doc_id", "text", n = 13)
        .select("doc_id", "source", "n_chars"),
      "MixQueries.pipeline.clean")
    val sampled = Mixture.sampleByRate(clean, "doc_id", "source", ratesOf(clean))
    Packing.chunked(sampled, "doc_id", "n_chars", SeqLen, Shards)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mix_sample_rate" -> (sampleRate _),
    "mix_temperature" -> (sampleTemperature _),
    "mix_repeat_epochs" -> (repeatEpochs _),
    "mix_sample_budget" -> (sampleBudget _),
    "pack_chunked" -> (packChunked _),
    "pack_ffd" -> (packFfd _),
    "pipeline_curate" -> (pipeline _))

  /** Shared oracle CTEs: id hash, weights, totals, budget. The double
    * arithmetic mirrors the Scala operand order exactly — every operand is
    * an exact integer-valued double, so both engines produce bit-identical
    * rates/targets. The hash replays [[Mixture.idHash]] including its
    * pmod-before-multiply (overflow- and sign-safe). */
  private val hashExpr = Mixture.idHashSql("doc_id")

  private val mixCtes =
    s"""w AS (SELECT source, ((CAST(substr(source, 4) AS INT) % 3) + 1)::DOUBLE AS wt
       |      FROM (SELECT DISTINCT source FROM documents)),
       |sw AS (SELECT sum(wt) AS sumw FROM w),
       |g AS (SELECT floor($Frac * sum(n_chars))::BIGINT AS budget FROM documents),
       |tot AS (SELECT source, sum(n_chars) AS t FROM documents GROUP BY source),
       |tgt AS (SELECT w.source, (g.budget * w.wt) / sw.sumw AS target
       |        FROM w, sw, g)""".stripMargin

  def oracle: Map[String, String] = Map(
    "mix_sample_rate" ->
      s"""WITH $mixCtes,
         |r AS (SELECT tgt.source,
         |        least(1.0, tgt.target / greatest(1, tot.t)) AS rate
         |      FROM tgt JOIN tot ON tgt.source = tot.source)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN r ON d.source = r.source
         |WHERE $hashExpr < floor(r.rate * ${Mixture.HashP})""".stripMargin,
    "mix_temperature" ->
      s"""WITH w AS (SELECT source,
         |        sqrt(((CAST(substr(source, 4) AS INT) % 3) + 1)::DOUBLE) AS wt
         |      FROM (SELECT DISTINCT source FROM documents)),
         |sw AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |                                       list(wt ORDER BY source)),
         |              (a, b) -> a + b) AS sumw FROM w),
         |g AS (SELECT floor($Frac * sum(n_chars))::BIGINT AS budget FROM documents),
         |tot AS (SELECT source, sum(n_chars) AS t FROM documents GROUP BY source),
         |tgt AS (SELECT w.source, (g.budget * w.wt) / sw.sumw AS target
         |        FROM w, sw, g),
         |r AS (SELECT tgt.source,
         |        least(1.0, tgt.target / greatest(1, tot.t)) AS rate
         |      FROM tgt JOIN tot ON tgt.source = tot.source)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN r ON d.source = r.source
         |WHERE $hashExpr < floor(r.rate * ${Mixture.HashP})""".stripMargin,
    "mix_repeat_epochs" ->
      s"""WITH w AS (SELECT source, ((CAST(substr(source, 4) AS INT) % 3) + 1)::DOUBLE AS wt
         |      FROM (SELECT DISTINCT source FROM documents)),
         |sw AS (SELECT sum(wt) AS sumw FROM w),
         |g AS (SELECT floor($RepFrac * sum(n_chars))::BIGINT AS budget FROM documents),
         |tot AS (SELECT source, sum(n_chars) AS t FROM documents GROUP BY source),
         |tgt AS (SELECT w.source, (g.budget * w.wt) / sw.sumw AS target
         |        FROM w, sw, g),
         |ep AS (SELECT tgt.source, tgt.target / greatest(1, tot.t) AS ep
         |       FROM tgt JOIN tot ON tgt.source = tot.source),
         |th AS (SELECT source, floor(ep)::BIGINT AS fl,
         |         floor((ep - floor(ep)) * ${Mixture.HashP})::BIGINT AS fth FROM ep),
         |n AS (SELECT d.doc_id, d.source, d.n_chars,
         |        th.fl + (CASE WHEN $hashExpr < th.fth THEN 1 ELSE 0 END) AS n
         |      FROM documents d JOIN th ON d.source = th.source)
         |SELECT doc_id, source, n_chars,
         |       unnest(generate_series(0, n - 1)) AS copy
         |FROM n WHERE n >= 1""".stripMargin,
    "mix_sample_budget" ->
      s"""WITH $mixCtes,
         |b AS (SELECT d.doc_id, d.source, d.n_chars, tgt.target,
         |        coalesce(sum(d.n_chars) OVER (PARTITION BY d.source
         |          ORDER BY $hashExpr, d.doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bfr
         |      FROM documents d JOIN tgt ON d.source = tgt.source)
         |SELECT doc_id, source, n_chars FROM b WHERE bfr < target""".stripMargin,
    "pipeline_curate" ->
      s"""WITH t AS (SELECT doc_id, source, n_chars, text,
         |             list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk
         |           FROM documents),
         |sig AS (SELECT doc_id, source, n_chars, text, len(tk) AS nw,
         |          CASE WHEN len(tk) = 0 THEN 0
         |               ELSE list_sum(list_transform(tk, x -> len(x)))::DOUBLE / len(tk) END AS mwl,
         |          CASE WHEN len(tk) = 0 THEN 0
         |               ELSE len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(tk) END AS af,
         |          CASE WHEN len(tk) = 0 THEN 0
         |               ELSE len(regexp_extract_all(lower(text), '#|\\.\\.\\.'))::DOUBLE / len(tk) END AS sr,
         |          len(list_filter(tk, x -> x IN ('the','a','and','of','to','in','is'))) AS stops
         |        FROM t),
         |gate AS (SELECT doc_id, source, n_chars, text FROM sig
         |         WHERE nw >= 50 AND nw <= 100000 AND mwl >= 3 AND mwl <= 10
         |           AND sr <= 0.1 AND af >= 0.8 AND stops >= 2),
         |keep AS (SELECT text, min(doc_id) AS kid FROM gate GROUP BY text),
         |ded AS (SELECT g.doc_id, g.source, g.n_chars
         |        FROM gate g JOIN keep k ON g.doc_id = k.kid),
         |ev AS (SELECT doc_id + 50000000 AS doc_id, text || ' extra token padding' AS text
         |       FROM documents WHERE doc_id < 15
         |       UNION ALL
         |       SELECT doc_id + 50000000, text FROM documents WHERE doc_id >= 15 AND doc_id < 20),
         |evt AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM ev),
         |evg AS (SELECT DISTINCT unnest(list_transform(generate_series(1, len(tk) - 12),
         |          i -> array_to_string(tk[i:i+12], ' '))) AS sh
         |        FROM evt WHERE len(tk) >= 13),
         |evh AS (SELECT DISTINCT ${DedupQueries.shingleHash61("sh")} AS h FROM evg),
         |tg AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(tk) - 12),
         |         i -> array_to_string(tk[i:i+12], ' '))) AS sh
         |       FROM t WHERE len(tk) >= 13),
         |th2 AS (SELECT DISTINCT doc_id, ${DedupQueries.shingleHash61("sh")} AS h FROM tg),
         |cont AS (SELECT DISTINCT th2.doc_id FROM th2 JOIN evh ON th2.h = evh.h),
         |dx AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |w AS (SELECT source, ((CAST(substr(source, 4) AS INT) % 3) + 1)::DOUBLE AS wt
         |      FROM (SELECT DISTINCT source FROM dx)),
         |sw AS (SELECT sum(wt) AS sumw FROM w),
         |g2 AS (SELECT floor($Frac * sum(n_chars))::BIGINT AS budget FROM dx),
         |tot AS (SELECT source, sum(n_chars) AS t FROM dx GROUP BY source),
         |tgt AS (SELECT w.source, (g2.budget * w.wt) / sw.sumw AS target FROM w, sw, g2),
         |r AS (SELECT tgt.source, least(1.0, tgt.target / greatest(1, tot.t)) AS rate
         |      FROM tgt JOIN tot ON tgt.source = tot.source),
         |samp AS (SELECT d.doc_id, d.n_chars FROM dx d JOIN r ON d.source = r.source
         |         WHERE $hashExpr < floor(r.rate * ${Mixture.HashP})),
         |sh AS (SELECT doc_id, n_chars, $hashExpr AS hh, ($hashExpr % $Shards) AS shard
         |       FROM samp),
         |b AS (SELECT doc_id, shard, n_chars,
         |        coalesce(sum(n_chars) OVER (PARTITION BY shard
         |          ORDER BY hh, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bfr
         |      FROM sh)
         |SELECT doc_id, shard, (bfr // $SeqLen) AS seq_start,
         |       greatest((bfr + n_chars - 1) // $SeqLen, bfr // $SeqLen) AS seq_end,
         |       (bfr % $SeqLen) AS offset
         |FROM b""".stripMargin,
    // FFD validity: shard + token count replay exactly; the booleans are
    // the in-query invariants pinned TRUE (see the header scaladoc)
    "pack_ffd" ->
      s"""SELECT doc_id, ($hashExpr % $Shards) AS shard, n_chars AS n_tokens,
         |       TRUE AS bin_in_shard, TRUE AS bin_fits
         |FROM documents""".stripMargin,
    "pack_chunked" ->
      s"""WITH s AS (SELECT doc_id, n_chars, $hashExpr AS hh,
         |             ($hashExpr % $Shards) AS shard
         |           FROM documents),
         |b AS (SELECT doc_id, shard, n_chars,
         |        -- ::BIGINT: DuckDB sums BIGINT into HUGEINT, which pandas
         |        -- renders as float and the string compare would diverge
         |        coalesce(sum(n_chars) OVER (PARTITION BY shard
         |          ORDER BY hh, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bfr
         |      FROM s)
         |SELECT doc_id, shard, (bfr // $SeqLen) AS seq_start,
         |       greatest((bfr + n_chars - 1) // $SeqLen, bfr // $SeqLen) AS seq_end,
         |       (bfr % $SeqLen) AS offset
         |FROM b""".stripMargin)
}
