package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize}

/** Deduplication operators as driver-verifiable queries. The inputs are
  * enriched with synthetic near/exact duplicates (documents with doc_id<25
  * re-appended shifted by +10000000) so the dedup operators have real work;
  * both the Spark pipeline and the DuckDB oracle build the same enriched
  * input, so results must hash-match exactly.
  *
  * `dedup_minhash_lsh` and `dedup_cosine_lsh` do not replay the LSH
  * banding in SQL; instead (VERDICT r4 #3) each runs an in-query
  * verification against its exact twin computed by a DIFFERENT plan —
  * every emitted pair must exist in the exact pair set with the identical
  * similarity value (precision 1), and every PLANTED duplicate pair
  * (doc/vec_id < 25 vs its +10000000 copy) must be found — and emits one
  * row of deterministic counts + booleans the DuckDB oracle pins as
  * literals (the text_vocab_approx pattern). Recall/precision specs on
  * broader fixtures remain in DedupSpec. */
object DedupQueries {

  // -- enriched inputs ----------------------------------------------------

  /** documents + exact copies of doc_id<25 (shifted ids). */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") < 25)
      .select((col("doc_id") + 10000000).as("doc_id"), col("text")))
  }

  /** Row count of [[docsWithNearDups]] / [[docsWithSkewedBoilerplate]]
    * WITHOUT a count job (parquet footers + the planted-copy arithmetic:
    * doc_id is dense from 0, TESTDATA.md, so `doc_id < 25` plants
    * min(n, 25) rows) — threaded into every auto dispatcher's
    * `knownRows` so sizing never pays a count (VERDICT r6 #8). */
  private def docsCount(s: SparkSession, dir: String): Long = {
    val n = Tables.rowCount(s, dir, "documents")
    n + math.min(n, 25L)
  }

  /** [[vecsWithDups]]'s row count, same construction as [[docsCount]]. */
  private def vecsCount(s: SparkSession, dir: String): Long = {
    val n = Tables.rowCount(s, dir, "embeddings")
    n + math.min(n, 25L)
  }

  /** documents + near-copies (3 appended tokens) of doc_id<25. */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") < 25)
      .select((col("doc_id") + 10000000).as("doc_id"),
        concat(col("text"), lit(" extra token padding")).as("text")))
  }

  /** embeddings + exact copies of vec_id<25 (cosine 1 pairs). */
  private def vecsWithDups(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") < 25)
      .select((col("vec_id") + 10000000).as("vec_id"), col("embedding")))
  }

  /** [[docsWithNearDups]] + a Zipf-popular boilerplate footer appended to
    * every doc: ~61% of docs share one of 7 hot templates (shares 35%,
    * 10%, 6%, 4%, 3%, 2%, 1% via integer thresholds on doc_id % 100 —
    * integer-only so DuckDB replays it exactly), the rest get a per-doc
    * unique footer. Every footer 3-gram contains the template token, so a
    * hot template's 8 footer shingles each have df ≈ share × N — the
    * df-skewed "shared boilerplate" corpus shape that
    * [[graft.operators.Dedup.jaccardPairsPrefix]] exists for: its
    * rare-first prefixes exclude exactly those shingles, while the
    * inverted-index plan pays Σ df² candidate rows over them (VERDICT r3
    * next-round #3). Near-dup copies (doc_id+10000000) keep their
    * original's footer (10000000 % 100 = 0 and copied ids are < 25, all
    * inside the hot-template band), so every enriched near-dup pair
    * survives the footer. */
  private def docsWithSkewedBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val u = col("doc_id") % 100
    val tpl = when(u < 35, lit(0L)).when(u < 45, lit(1L)).when(u < 51, lit(2L))
      .when(u < 55, lit(3L)).when(u < 58, lit(4L)).when(u < 60, lit(5L))
      .when(u < 61, lit(6L)).otherwise(col("doc_id") + 100)
    val k = tpl.cast("string")
    docsWithNearDups(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" rights t"), k, lit(" reserved t"), k,
        lit(" terms t"), k, lit(" service t"), k, lit(" privacy t"), k).as("text"))
  }

  private val uExact =
    """SELECT doc_id, text FROM documents UNION ALL
      |SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 25""".stripMargin
  private val uNear =
    """SELECT doc_id, text FROM documents UNION ALL
      |SELECT doc_id + 10000000, text || ' extra token padding' FROM documents WHERE doc_id < 25""".stripMargin

  /** SQL twin of [[docsWithSkewedBoilerplate]] (CASE thresholds are
    * integer-only, so both engines derive byte-identical text). */
  private val uSkew =
    s"""SELECT doc_id, text || ' rights t' || tpl || ' reserved t' || tpl || ' terms t' || tpl || ' service t' || tpl || ' privacy t' || tpl AS text
       |FROM (SELECT doc_id, text,
       |        (CASE WHEN doc_id % 100 < 35 THEN 0 WHEN doc_id % 100 < 45 THEN 1
       |              WHEN doc_id % 100 < 51 THEN 2 WHEN doc_id % 100 < 55 THEN 3
       |              WHEN doc_id % 100 < 58 THEN 4 WHEN doc_id % 100 < 60 THEN 5
       |              WHEN doc_id % 100 < 61 THEN 6 ELSE doc_id + 100 END)::VARCHAR AS tpl
       |      FROM ($uNear))""".stripMargin

  /** shared oracle CTE bodies: tokens + distinct 3-gram shingles over the
    * given `u` definition (no WITH prefix so callers can prepend WITH or
    * WITH RECURSIVE). */
  private def shingleBodyFrom(uDef: String): String =
    s"""u AS ($uDef),
       |t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM u),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest(list_transform(generate_series(1, len(tk) - 2),
       |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
       |       FROM t WHERE len(tk) >= 3)""".stripMargin
  private val shingleBody = shingleBodyFrom(uNear)
  private val shingleCtes = s"WITH $shingleBody"

  /** The engine joins shingles by their 61-bit rolling hash
    * (Dedup.hashedShingles); the oracle replays the identical hash per
    * shingle string, so any collision perturbs both engines the same way. */
  private[queries] def shingleHash61(c: String): String = {
    def roll(p: Int) =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, len($c)), i -> ascii($c[i]))), (a, b) -> (a * $p + b) % ${Dedup.HashMod})"
    s"(${roll(31)} + (${roll(37)} << 30))"
  }

  // -- queries ------------------------------------------------------------

  private def exactQ(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithExactDups(s, dir), Seq("text"), "doc_id")
      .select("doc_id", "n_copies")

  /** Shingle-df cap 100 exercised end-to-end: the oracle replays the same
    * capped universe, so the hash match proves cap semantics, not just the
    * uncapped path. */
  private def jaccardQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docsWithNearDups(s, dir), "doc_id", "text", n = 3,
      threshold = 0.5, maxShingleDf = 100L)

  /** The SAME contract as [[jaccardQ]] through the OTHER physical plan
    * (AllPairs/PPJoin prefix filter): identical parameters, identical
    * oracle — the hash match pins output parity of the two plans inside
    * the driver gate, not just in DedupSpec. */
  private def jaccardPrefixQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docsWithNearDups(s, dir), "doc_id", "text", n = 3,
      threshold = 0.5, maxShingleDf = 100L, prefixFilter = true)

  /** Both Jaccard plans on the df-SKEWED corpus, UNCAPPED (no
    * maxShingleDf): the inverted-index plan must grind through Σ df²
    * candidate rows from the hot boilerplate shingles; the prefix plan's
    * rare-first prefixes exclude them. Same oracle for both — the pair
    * the prefix plan exists to win (BASELINE.md records the margin). */
  private def jaccardSkewQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docsWithSkewedBoilerplate(s, dir), "doc_id", "text",
      n = 3, threshold = 0.5)

  private def jaccardSkewPrefixQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docsWithSkewedBoilerplate(s, dir), "doc_id", "text",
      n = 3, threshold = 0.5, prefixFilter = true)

  /** [[jaccardQ]]'s corpus and params through AUTO plan selection
    * (VERDICT r4 #2): the df probe measures a flat fan-out (~2) and
    * dispatches to the inverted plan; the oracle is the same either way
    * (the two plans are output-identical), so the hash match pins the
    * dispatcher end-to-end inside the driver gate. */
  private def jaccardAutoFlatQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsAuto(docsWithNearDups(s, dir), "doc_id", "text", n = 3,
      threshold = 0.5, maxShingleDf = 100L, knownRows = docsCount(s, dir))

  /** [[jaccardSkewQ]]'s corpus through AUTO plan selection. The choice
    * is corpus-SIZE dependent by design: the fan-out probe measures the
    * actual projected join blowup, which on this boilerplate shape is
    * ~13 at sf0.01 (inverted measured faster — below the crossover) and
    * ~99 at sf0.1+ (prefix wins, and the gap widens quadratically; see
    * BASELINE.md round 5). Output is plan-invariant, so the query stays
    * hash-green at every SF while the dispatcher adapts. */
  private def jaccardAutoSkewQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsAuto(docsWithSkewedBoilerplate(s, dir), "doc_id", "text",
      n = 3, threshold = 0.5, knownRows = docsCount(s, dir))

  private def minhashSigQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(docsWithNearDups(s, dir), "doc_id", "text", n = 3)

  /** One-row verification summary for an LSH pair result vs its exact
    * twin (see the header scaladoc): planted-pair recall + exact-subset
    * precision, oracle-replayable as literals. `simCol` joins on the
    * similarity VALUE too, so a pair surviving with a different score
    * would fail the subset check, not slip through. */
  private def lshPairsVerified(lsh0: DataFrame, exact0: DataFrame,
      planted: DataFrame, simCol: String): DataFrame = {
    // planted semi-join + subset anti-join
    val lsh = Materialize.eager(lsh0, "DedupQueries.lshPairsVerified.lsh")
    val nPlanted = planted.agg(count(lit(1)).as("np"))
    val found = planted.join(lsh.select("id_a", "id_b"), Seq("id_a", "id_b"),
      "left_semi").agg(count(lit(1)).as("pf"))
    val notInExact = lsh.join(exact0, Seq("id_a", "id_b", simCol), "left_anti")
      .agg(count(lit(1)).as("bad"))
    nPlanted.crossJoin(found).crossJoin(notInExact)
      .select(col("np").as("n_planted"),
        (col("pf") === col("np")).as("planted_found_all"),
        (col("bad") === 0).as("subset_of_exact_ok"))
  }

  private def minhashLshQ(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
    val planted = Tables(s, dir, "documents").filter(col("doc_id") < 25)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 10000000).as("id_b"))
    lshPairsVerified(
      Dedup.minhashNearDups(docs, "doc_id", "text", n = 3, bands = 4,
        threshold = 0.5),
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5),
      planted, "jaccard")
  }

  private def simhashQ(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))

  /** SimHash pairs within hamming 4 via the pigeonhole band join, block
    * count auto-sized to the corpus (round 6) — the gate pins that the
    * output is invariant across the B the dispatcher picks. */
  private def simhashPairsQ(s: SparkSession, dir: String): DataFrame = {
    val withH = docsWithNearDups(s, dir)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
    Dedup.simhashPairsAuto(withH, "doc_id", "simhash", maxHamming = 4,
      knownRows = docsCount(s, dir))
  }

  /** Signature-keyed keep-first dedup ([[Dedup.simhashKeyedKeep]]) — the
    * scale path the density guard names when pair enumeration is
    * output-bound (r12; the r11 decade's honest refusal, now with an
    * in-engine fix). Per-doc (rep, keep) is a pure function of the
    * band-key minima, so DuckDB replays the whole rule relationally —
    * no recursion, no pair join. */
  private def simhashKeyedQ(s: SparkSession, dir: String): DataFrame = {
    val withH = docsWithNearDups(s, dir)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
    Dedup.simhashKeyedKeep(withH, "doc_id", "simhash", maxHamming = 4)
      .select(col("doc_id"), col("rep"), col("keep"))
  }

  /** The greedy-MIS refinement at rounds = 2 ([[Dedup.simhashKeyedKeep]]
    * contract (c) fix): chain-dropped docs re-admitted, permanent drops
    * carry their smallest SURVIVING collider as rep. */
  private def simhashKeyedMisQ(s: SparkSession, dir: String): DataFrame = {
    val withH = docsWithNearDups(s, dir)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
    Dedup.simhashKeyedKeep(withH, "doc_id", "simhash", maxHamming = 4,
        rounds = 2)
      .select(col("doc_id"), col("rep"), col("keep"))
  }

  /** Pairs → components → keep-list over the Jaccard pair graph (the
    * consumable purge list; VERDICT round-1 "missing #2"). */
  private def resolveQ(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    Dedup.resolve(pairs, docs, "doc_id")
  }

  /** The consumable end of the dedup chain: pairs → resolve → purge
    * (kept corpus). Exact-text pairs keep the query cheap — resolve and
    * purge are the operators under test, the pair source is swappable. */
  private def purgeQ(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithExactDups(s, dir)
    val t = docs.select(col("doc_id"), col("text"))
    val pairs = t.as("a")
      .join(t.as("b"), col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    Dedup.purge(docs, "doc_id", Dedup.resolve(pairs, docs, "doc_id"))
      .select("doc_id")
  }

  /** One admit round of the streaming dedup gate as a BATCH query with a
    * pre-seeded corpus-df state: corpus = even doc_ids, batch = odd
    * doc_ids + near-copies of even docs (corpus hits) + exact copies of
    * odd docs (intra-batch duplicate clusters); shingles with corpus
    * df > 3 are excluded from every set. Decisions are computed by the
    * RECALL-1 twin ([[graft.streaming.StreamingDedup.admitExact]] —
    * exhaustive inverted-index candidates instead of banding), so the
    * whole round, INCLUDING the corpus-df hot-shingle exclusion, replays
    * in DuckDB and hash-matches. */
  private def streamAdmitQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
      .unionByName(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 20)
        .select((col("doc_id") + 10000001).as("doc_id"),
          concat(col("text"), lit(" extra token padding")).as("text")))
      .unionByName(d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 20)
        .select((col("doc_id") + 20000000).as("doc_id"), col("text")))
    val dfState = Dedup.shingleDf(corpus, "doc_id", "text", n = 3)
    graft.streaming.StreamingDedup.admitExact(batch, corpus, dfState,
      graft.streaming.StreamingDedup.DedupGateConfig(
        idCol = "doc_id", textCol = "text", n = 3, threshold = 0.5,
        maxCorpusShingleDf = 3L))
      .select("doc_id")
  }

  /** Decontamination: documents (train) × a synthetic eval set (15
    * near-copies + 5 exact copies, ids shifted +50000000) → contaminated
    * pairs. */
  private def crossContaminatedQ(s: SparkSession, dir: String): DataFrame = {
    val train = Tables(s, dir, "documents").select("doc_id", "text")
    val eval = train.filter(col("doc_id") < 15)
      .select((col("doc_id") + 50000000).as("doc_id"),
        concat(col("text"), lit(" extra token padding")).as("text"))
      .unionByName(train.filter(col("doc_id") >= 15 && col("doc_id") < 20)
        .select((col("doc_id") + 50000000).as("doc_id"), col("text")))
    Dedup.crossJaccardPairs(train, eval, "doc_id", "text", n = 3, threshold = 0.5)
  }

  /** Exact 13-gram containment against the same synthetic eval set as
    * [[crossContaminatedQ]] — the verbatim-leakage semantic (a train doc
    * quoting an eval question is contaminated however long the rest of
    * the page is). */
  private def containsNgramQ(s: SparkSession, dir: String): DataFrame = {
    val train = Tables(s, dir, "documents").select("doc_id", "text")
    val eval = train.filter(col("doc_id") < 15)
      .select((col("doc_id") + 50000000).as("doc_id"),
        concat(col("text"), lit(" extra token padding")).as("text"))
      .unionByName(train.filter(col("doc_id") >= 15 && col("doc_id") < 20)
        .select((col("doc_id") + 50000000).as("doc_id"), col("text")))
    Dedup.ngramContamination(train, eval, "doc_id", "text", n = 13)
  }

  /** The Bloom-gated containment plan on the same corpus as
    * [[containsNgramQ]] — same pairs out, but the train side is filtered
    * map-side by the eval-gram Bloom filter before any exchange instead
    * of broadcast-joining the full eval gram relation. */
  private def containsBloomQ(s: SparkSession, dir: String): DataFrame = {
    val train = Tables(s, dir, "documents").select("doc_id", "text")
    val eval = train.filter(col("doc_id") < 15)
      .select((col("doc_id") + 50000000).as("doc_id"),
        concat(col("text"), lit(" extra token padding")).as("text"))
      .unionByName(train.filter(col("doc_id") >= 15 && col("doc_id") < 20)
        .select((col("doc_id") + 50000000).as("doc_id"), col("text")))
    Dedup.ngramContaminationBloom(train, eval, "doc_id", "text", n = 13)
  }

  /** Span-level boilerplate stripping on the skewed corpus: the hot
    * templates' footer 5-grams clear minDf = 20 at every SF (top-4
    * template shares), the cold templates' and the per-doc unique footers
    * don't — so the SAME query exercises strip, keep, and the df
    * boundary. */
  private def stripSpansQ(s: SparkSession, dir: String): DataFrame =
    Dedup.stripHotSpans(docsWithSkewedBoilerplate(s, dir), "doc_id", "text",
      n = 5, minDf = 20L)

  /** Corpus for [[graft.operators.Dedup.dedupSubstrings]]: base docs plus
    * copies that embed doc `< 25`'s FULL text behind a unique prefix —
    * the copied passage must strip down to the prefix (every token of the
    * embedded text sits inside a fully-duplicated 13-gram window; the
    * base doc, with the smaller id, owns every gram). Integer-cast prefix
    * so DuckDB derives byte-identical copy text. */
  private def docsWithPassageCopies(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") < 25).select(
      (col("doc_id") + 20000000).as("doc_id"),
      concat(lit("copy c"), col("doc_id").cast("string"), lit(" begins "),
        col("text")).as("text")))
  }

  private def substringStripQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSubstrings(docsWithPassageCopies(s, dir), "doc_id", "text", n = 13)

  /** [[substringStripQ]]'s contrast on the SAME corpus as
    * `dedup_strip_spans`: keep-first substring dedup over the Zipf
    * boilerplate footers — each hot template survives in exactly the
    * lowest-(id, pos) doc that carries it, where boilerplate stripping
    * removes it everywhere. */
  private def substringSkewQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSubstrings(docsWithSkewedBoilerplate(s, dir), "doc_id", "text", n = 5)

  private def cosineQ(s: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDups(vecsWithDups(s, dir), "vec_id", "embedding", threshold = 0.95)

  private def cosineLshQ(s: SparkSession, dir: String): DataFrame = {
    val v = vecsWithDups(s, dir)
    val planted = Tables(s, dir, "embeddings").filter(col("vec_id") < 25)
      .select(col("vec_id").as("id_a"), (col("vec_id") + 10000000).as("id_b"))
    // AUTO-sized bands (r5): bits/band from the corpus size, bands from
    // the recall target — planted EXACT pairs are found at any sizing
    // (identical vectors share every sign), so the oracle is stable
    lshPairsVerified(
      Dedup.cosineNearDupsLSHAuto(v, "vec_id", "embedding", 0.95,
        knownRows = vecsCount(s, dir)),
      Dedup.cosineNearDups(v, "vec_id", "embedding", threshold = 0.95),
      planted, "cos")
  }

  /** Paragraph synthesis — the corpus carries no newlines, so each doc
    * splits into (unique head, per-SOURCE shared footer line, unique
    * tail); ONE SQL string parsed by both engines, exactly the
    * UrlQueries synthesis pattern. Keep-first then leaves the footer in
    * precisely one doc per source (the min doc_id). */
  private[queries] val SynthParaSql =
    "concat(substr(text, 1, 60), chr(10), " +
      "'all rights reserved footer ', source, chr(10), substr(text, 61))"

  private def paragraphsQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), expr(SynthParaSql).as("text"))
    Dedup.dedupParagraphs(d, "doc_id", "text", "\n", minChars = 5)
  }

  /** The opt-in 128-bit identity lane — same semantics (the oracle is
    * string-keyed, so the SQL is identical to `dedup_paragraphs`), wider
    * hash pair on the shuffle keys. */
  private def paragraphsWideQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), expr(SynthParaSql).as("text"))
    Dedup.dedupParagraphs(d, "doc_id", "text", "\n", minChars = 5,
      hash128 = true)
  }

  /** Threshold sibling: the per-source footer (df = docs/source ≥ 10)
    * drops from EVERY doc — no survivor — while unique heads/tails
    * (df = 1) pass through. */
  private def paragraphsHotQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), expr(SynthParaSql).as("text"))
    Dedup.stripHotParagraphs(d, "doc_id", "text", "\n", minDf = 10L,
      minChars = 5)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_paragraphs" -> (paragraphsQ _),
    "dedup_paragraphs_wide" -> (paragraphsWideQ _),
    "dedup_paragraphs_hot" -> (paragraphsHotQ _),
    "dedup_exact" -> (exactQ _),
    "dedup_jaccard_pairs" -> (jaccardQ _),
    "dedup_jaccard_prefix" -> (jaccardPrefixQ _),
    "dedup_jaccard_skew" -> (jaccardSkewQ _),
    "dedup_jaccard_skew_prefix" -> (jaccardSkewPrefixQ _),
    "dedup_jaccard_auto_flat" -> (jaccardAutoFlatQ _),
    "dedup_jaccard_auto_skew" -> (jaccardAutoSkewQ _),
    "dedup_minhash_sig" -> (minhashSigQ _),
    "dedup_minhash_lsh" -> (minhashLshQ _),
    "dedup_simhash" -> (simhashQ _),
    "dedup_simhash_pairs" -> (simhashPairsQ _),
    "dedup_simhash_keyed" -> (simhashKeyedQ _),
    "dedup_simhash_keyed_mis" -> (simhashKeyedMisQ _),
    "dedup_resolve" -> (resolveQ _),
    "dedup_purge" -> (purgeQ _),
    "dedup_cross_contaminated" -> (crossContaminatedQ _),
    "dedup_contains_ngram" -> (containsNgramQ _),
    "dedup_contains_bloom" -> (containsBloomQ _),
    "dedup_strip_spans" -> (stripSpansQ _),
    "dedup_substring_strip" -> (substringStripQ _),
    "dedup_substring_skew" -> (substringSkewQ _),
    "stream_admit_batch" -> (streamAdmitQ _),
    "dedup_cosine_pairs" -> (cosineQ _),
    "dedup_cosine_lsh" -> (cosineLshQ _))

  // -- oracles ------------------------------------------------------------

  /** Shared by `dedup_contains_ngram` (broadcast plan) and
    * `dedup_contains_bloom` (Bloom-gated plan) — the two engines must
    * produce the same containment pairs from the same corpus. */
  private lazy val containsNgramOracle: String =
    s"""WITH ev AS (SELECT doc_id + 50000000 AS doc_id, text || ' extra token padding' AS text
       |            FROM documents WHERE doc_id < 15
       |            UNION ALL
       |            SELECT doc_id + 50000000, text FROM documents WHERE doc_id >= 15 AND doc_id < 20),
       |tl AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM documents),
       |el AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM ev),
       |gl AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(tk) - 12),
       |          i -> array_to_string(tk[i:i+12], ' '))) AS sh
       |       FROM tl WHERE len(tk) >= 13),
       |gr AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(tk) - 12),
       |          i -> array_to_string(tk[i:i+12], ' '))) AS sh
       |       FROM el WHERE len(tk) >= 13),
       |hl AS (SELECT DISTINCT doc_id, ${shingleHash61("sh")} AS h FROM gl),
       |hr AS (SELECT DISTINCT doc_id, ${shingleHash61("sh")} AS h FROM gr)
       |SELECT l.doc_id AS id_l, r.doc_id AS id_r, count(*) AS shared
       |FROM hl l JOIN hr r ON l.h = r.h
       |GROUP BY 1, 2""".stripMargin

  /** SQL twin of [[docsWithPassageCopies]]. */
  private val uPassage =
    """SELECT doc_id, text FROM documents UNION ALL
      |SELECT doc_id + 20000000, 'copy c' || doc_id::VARCHAR || ' begins ' || text
      |FROM documents WHERE doc_id < 25""".stripMargin

  /** Positional word n-gram CTEs over a `u(doc_id, text)` CTE: tokens,
    * 1-based positions, 61-bit gram hashes — the oracle twin of
    * `Dedup.positionalGrams`. Emits CTEs `t`, `g0`, `g`. */
  private def posGramBody(n: Int): String =
    s"""t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM u),
       |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |          i -> {'pos': i, 's': array_to_string(tk[i:i+${n - 1}], ' ')})) AS u2
       |       FROM t WHERE len(tk) >= $n),
       |g AS (SELECT doc_id, u2.pos AS pos, ${shingleHash61("u2.s")} AS h FROM g0)""".stripMargin

  /** Span-preserving rebuild replay over CTEs `u(doc_id, text)` and
    * `covl(doc_id, cov)` (1-based covered token indices): original-casing
    * tokens via regexp_extract_all, the original separator run between
    * ADJACENT kept tokens, a single space where a stripped span sat.
    * Emits CTEs `r`, `reb`. */
  private val rebuildReplay: String =
    s"""r AS (SELECT u.doc_id,
       |        regexp_extract_all(u.text, '[^${graft.functions.TextHash.WsClassChars}]+') AS tko,
       |        regexp_extract_all(u.text, '${graft.functions.TextHash.WsRegex}') AS seps,
       |        CASE WHEN regexp_matches(u.text, '^${graft.functions.TextHash.WsRegex}') THEN 1 ELSE 0 END AS lead,
       |        covl.cov AS cov
       |      FROM u JOIN covl ON u.doc_id = covl.doc_id),
       |reb AS (SELECT doc_id,
       |  struct_extract(list_reduce(
       |    list_prepend({'acc': '', 'prev': -1},
       |      list_transform(list_filter(generate_series(1, len(tko)),
       |          i -> NOT list_contains(cov, i)),
       |        i -> {'acc': '', 'prev': i})),
       |    (a, b) -> {'acc': a.acc ||
       |        (CASE WHEN a.prev < 0 THEN '' WHEN b.prev = a.prev + 1
       |              THEN seps[a.prev + lead] ELSE ' ' END) || tko[b.prev],
       |      'prev': b.prev}), 'acc') AS text
       |  FROM r)""".stripMargin

  /** Full keep-first substring-dedup oracle over a corpus definition. */
  private def substringOracle(uDef: String, n: Int): String =
    s"""WITH u AS ($uDef),
       |${posGramBody(n)},
       |lat AS (SELECT doc_id, pos FROM (
       |         SELECT doc_id, pos, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |         FROM g) WHERE rn > 1),
       |covl AS (SELECT doc_id, list(DISTINCT cp) AS cov FROM (
       |           SELECT doc_id, unnest(generate_series(pos, pos + ${n - 1})) AS cp FROM lat)
       |         GROUP BY doc_id),
       |$rebuildReplay
       |SELECT u.doc_id, coalesce(reb.text, u.text) AS text
       |FROM u LEFT JOIN reb ON u.doc_id = reb.doc_id""".stripMargin

  private val minhashSigOracle: String = {
    val perJ = Dedup.minHashParams.zipWithIndex.map { case ((a, b), j) =>
      s"SELECT doc_id AS id, $j AS j, min(($a * x + $b) % ${Dedup.MinHashP}) AS sig FROM xh GROUP BY doc_id"
    }.mkString("\nUNION ALL\n")
    s"""$shingleCtes,
       |xh AS (SELECT doc_id,
       |         list_reduce(list_prepend(0::BIGINT,
       |           list_transform(generate_series(1, len(sh)), i -> ascii(sh[i]))),
       |           (a, b) -> (a * 31 + b) % ${Dedup.HashMod}) AS x
       |       FROM sh)
       |$perJ""".stripMargin
  }

  private val rollHash31 =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, len(tok)), i -> ascii(tok[i]))), (a, b) -> (a * 31 + b) % ${Dedup.HashMod})"
  private val rollHash37 =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, len(tok)), i -> ascii(tok[i]))), (a, b) -> (a * 37 + b) % ${Dedup.HashMod})"

  /** CTE chain computing `shh(doc_id, simhash)` over `$src(doc_id, text)`. */
  private def simhashCtes(src: String): String =
    s"""t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM $src),
       |tok AS (SELECT doc_id, unnest(tk) AS tok FROM t),
       |h AS (SELECT doc_id, ($rollHash31 + ($rollHash37 << 30)) AS hh FROM tok),
       |bits AS (SELECT doc_id, j.generate_series AS j,
       |           sum(CASE WHEN ((hh >> j.generate_series::INT) & 1) = 1 THEN 1 ELSE -1 END) AS s
       |         FROM h, generate_series(0, ${Dedup.SimHashBits - 1}) j
       |         GROUP BY 1, 2),
       |shh AS (SELECT doc_id,
       |          sum(CASE WHEN s > 0 THEN (1::BIGINT << j::INT) ELSE 0 END)::BIGINT AS simhash
       |        FROM bits GROUP BY doc_id)""".stripMargin

  /** Relational replay of [[Dedup.simhashKeyedKeep]] at d=4: the SAME
    * (combo → block set) plan the engine uses ([[Dedup.simhashKeyPlan]])
    * spliced as literal shift/mask expressions; the (combo, value)
    * struct key becomes `(i << 32) | v` (combo values at B=7 are ≤ 27
    * bits, so the encoding is injective — only grouping equivalence
    * matters). */
  private def simhashKeyExprs: Seq[String] = {
    val (dims, combos) = Dedup.simhashKeyPlan(4, 0)
    combos.zipWithIndex.map { case (c, i) =>
      val v = c.foldLeft("(0::BIGINT)")((acc, bi) =>
        s"(($acc << ${dims(bi)._2}) | ((simhash >> ${dims(bi)._1}) & ${(1L << dims(bi)._2) - 1}))")
      s"((${i}::BIGINT << 32) | $v)"
    }
  }

  private def simhashKeyedOracle: String =
    s"""WITH u AS ($uNear),
       |${simhashCtes("u")},
       |keyed AS (SELECT doc_id, unnest([${simhashKeyExprs.mkString(",\n  ")}]) AS bk FROM shh),
       |bm AS (SELECT bk, min(doc_id) AS m FROM keyed GROUP BY bk),
       |r AS (SELECT k.doc_id, min(bm.m) AS rep
       |      FROM keyed k JOIN bm USING (bk) GROUP BY k.doc_id)
       |SELECT doc_id, rep, (rep = doc_id) AS keep FROM r""".stripMargin

  /** Two rounds of the greedy-MIS refinement replayed relationally:
    * round-1 keep-first, permanent drops = docs sharing a bucket with a
    * round-1 survivor (rep = smallest surviving collider), chain-dropped
    * docs re-admitted to a round-2 pass over themselves, leftovers NULL.
    * Mirrors `simhashKeyedKeep(rounds = 2)` CTE-for-pass. */
  private def simhashKeyedMisOracle: String =
    s"""WITH u AS ($uNear),
       |${simhashCtes("u")},
       |keyed AS (SELECT doc_id, unnest([${simhashKeyExprs.mkString(",\n  ")}]) AS bk FROM shh),
       |b1 AS (SELECT bk, min(doc_id) AS m FROM keyed GROUP BY bk),
       |r1 AS (SELECT k.doc_id, min(b1.m) AS rep
       |       FROM keyed k JOIN b1 USING (bk) GROUP BY k.doc_id),
       |s1 AS (SELECT doc_id FROM r1 WHERE rep = doc_id),
       |sb1 AS (SELECT k.bk, min(k.doc_id) AS sm
       |        FROM keyed k JOIN s1 USING (doc_id) GROUP BY k.bk),
       |pd1 AS (SELECT k.doc_id, min(sb1.sm) AS rep
       |        FROM keyed k JOIN sb1 USING (bk)
       |        WHERE k.doc_id NOT IN (SELECT doc_id FROM s1)
       |        GROUP BY k.doc_id),
       |u2 AS (SELECT doc_id FROM r1 WHERE rep <> doc_id
       |       AND doc_id NOT IN (SELECT doc_id FROM pd1)),
       |k2 AS (SELECT k.doc_id, k.bk FROM keyed k JOIN u2 USING (doc_id)),
       |b2 AS (SELECT bk, min(doc_id) AS m FROM k2 GROUP BY bk),
       |r2 AS (SELECT k.doc_id, min(b2.m) AS rep
       |       FROM k2 k JOIN b2 USING (bk) GROUP BY k.doc_id),
       |s2 AS (SELECT doc_id FROM r2 WHERE rep = doc_id),
       |sb2 AS (SELECT k.bk, min(k.doc_id) AS sm
       |        FROM k2 k JOIN s2 USING (doc_id) GROUP BY k.bk),
       |pd2 AS (SELECT k.doc_id, min(sb2.sm) AS rep
       |        FROM k2 k JOIN sb2 USING (bk)
       |        WHERE k.doc_id NOT IN (SELECT doc_id FROM s2)
       |        GROUP BY k.doc_id),
       |u3 AS (SELECT doc_id FROM u2
       |       WHERE doc_id NOT IN (SELECT doc_id FROM s2)
       |         AND doc_id NOT IN (SELECT doc_id FROM pd2))
       |SELECT doc_id, doc_id AS rep, TRUE AS keep FROM s1
       |UNION ALL SELECT doc_id, rep, FALSE AS keep FROM pd1
       |UNION ALL SELECT doc_id, doc_id AS rep, TRUE AS keep FROM s2
       |UNION ALL SELECT doc_id, rep, FALSE AS keep FROM pd2
       |UNION ALL SELECT doc_id, NULL::BIGINT AS rep, FALSE AS keep FROM u3""".stripMargin

  private val jaccardOracle =
    s"""$shingleCtes,
       |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 100),
       |shc AS (SELECT s.doc_id, ${shingleHash61("s.sh")} AS h FROM sh s JOIN keep ON s.sh = keep.sh),
       |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
       |iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |       FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |       round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
       |FROM iv JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) >= 0.5""".stripMargin

  /** [[jaccardOracle]]'s shape over the skewed corpus, UNCAPPED (no
    * `keep` CTE) — one oracle pins both physical plans on the corpus
    * shape where they genuinely diverge in cost. */
  private val jaccardSkewOracle =
    s"""WITH ${shingleBodyFrom(uSkew)},
       |shc AS (SELECT doc_id, ${shingleHash61("sh")} AS h FROM sh),
       |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
       |iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |       FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |       round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
       |FROM iv JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) >= 0.5""".stripMargin

  def oracle: Map[String, String] = Map(
    // paragraph keep-first: winner per exact paragraph value = first
    // (doc_id, idx); sub-minChars segments exempt; rebuild in index order
    // with docs that lost everything coming back as ''
    "dedup_paragraphs" ->
      s"""WITH d AS (SELECT doc_id, $SynthParaSql AS text FROM documents),
         |s AS (SELECT doc_id, string_split(text, chr(10)) AS paras FROM d),
         |p AS (SELECT doc_id, i - 1 AS idx, paras[i] AS para
         |      FROM s, unnest(generate_series(1, len(paras))) AS t(i)),
         |r AS (SELECT doc_id, idx, para, len(para) >= 5 AS elig,
         |        CASE WHEN len(para) >= 5 THEN row_number() OVER
         |          (PARTITION BY (CASE WHEN len(para) >= 5 THEN para ELSE NULL END)
         |           ORDER BY doc_id, idx) ELSE 1 END AS rn
         |      FROM p),
         |k AS (SELECT doc_id, idx, para FROM r WHERE NOT elig OR rn = 1)
         |SELECT d.doc_id, coalesce(g.txt, '') AS text
         |FROM d LEFT JOIN
         |  (SELECT doc_id, array_to_string(list(para ORDER BY idx), chr(10)) AS txt
         |   FROM k GROUP BY doc_id) g USING (doc_id)""".stripMargin,
    "dedup_paragraphs_wide" ->
      s"""WITH d AS (SELECT doc_id, $SynthParaSql AS text FROM documents),
         |s AS (SELECT doc_id, string_split(text, chr(10)) AS paras FROM d),
         |p AS (SELECT doc_id, i - 1 AS idx, paras[i] AS para
         |      FROM s, unnest(generate_series(1, len(paras))) AS t(i)),
         |r AS (SELECT doc_id, idx, para, len(para) >= 5 AS elig,
         |        CASE WHEN len(para) >= 5 THEN row_number() OVER
         |          (PARTITION BY (CASE WHEN len(para) >= 5 THEN para ELSE NULL END)
         |           ORDER BY doc_id, idx) ELSE 1 END AS rn
         |      FROM p),
         |k AS (SELECT doc_id, idx, para FROM r WHERE NOT elig OR rn = 1)
         |SELECT d.doc_id, coalesce(g.txt, '') AS text
         |FROM d LEFT JOIN
         |  (SELECT doc_id, array_to_string(list(para ORDER BY idx), chr(10)) AS txt
         |   FROM k GROUP BY doc_id) g USING (doc_id)""".stripMargin,
    // hot-paragraph strip: df(distinct docs) >= 10 drops everywhere
    "dedup_paragraphs_hot" ->
      s"""WITH d AS (SELECT doc_id, $SynthParaSql AS text FROM documents),
         |s AS (SELECT doc_id, string_split(text, chr(10)) AS paras FROM d),
         |p AS (SELECT doc_id, i - 1 AS idx, paras[i] AS para
         |      FROM s, unnest(generate_series(1, len(paras))) AS t(i)),
         |hot AS (SELECT para FROM
         |  (SELECT para, count(DISTINCT doc_id) AS df
         |   FROM p WHERE len(para) >= 5 GROUP BY para)
         |  WHERE df >= 10),
         |k AS (SELECT doc_id, idx, para FROM p
         |      WHERE len(para) < 5 OR para NOT IN (SELECT para FROM hot))
         |SELECT d.doc_id, coalesce(g.txt, '') AS text
         |FROM d LEFT JOIN
         |  (SELECT doc_id, array_to_string(list(para ORDER BY idx), chr(10)) AS txt
         |   FROM k GROUP BY doc_id) g USING (doc_id)""".stripMargin,
    "dedup_exact" ->
      s"""WITH u AS ($uExact)
         |SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM u GROUP BY text""".stripMargin,
    "dedup_jaccard_pairs" -> jaccardOracle,
    // one oracle, two physical plans: the prefix-filtered query must
    // hash-match the exact same SQL as the inverted-index one
    "dedup_jaccard_prefix" -> jaccardOracle,
    "dedup_jaccard_skew" -> jaccardSkewOracle,
    "dedup_jaccard_skew_prefix" -> jaccardSkewOracle,
    // the auto dispatcher picks a physical plan; output is plan-invariant,
    // so each auto query shares its corpus's oracle
    "dedup_jaccard_auto_flat" -> jaccardOracle,
    "dedup_jaccard_auto_skew" -> jaccardSkewOracle,
    "dedup_minhash_sig" -> minhashSigOracle,
    // LSH verification summaries: literal expectations for the in-query
    // planted-recall + exact-subset checks (header scaladoc)
    "dedup_minhash_lsh" ->
      "SELECT 25::BIGINT AS n_planted, TRUE AS planted_found_all, TRUE AS subset_of_exact_ok",
    "dedup_cosine_lsh" ->
      "SELECT 25::BIGINT AS n_planted, TRUE AS planted_found_all, TRUE AS subset_of_exact_ok",
    "dedup_cross_contaminated" ->
      s"""WITH ev AS (SELECT doc_id + 50000000 AS doc_id, text || ' extra token padding' AS text
         |            FROM documents WHERE doc_id < 15
         |            UNION ALL
         |            SELECT doc_id + 50000000, text FROM documents WHERE doc_id >= 15 AND doc_id < 20),
         |tl AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM documents),
         |el AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM ev),
         |shl AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
         |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |        FROM tl WHERE len(tk) >= 3),
         |shr AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
         |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |        FROM el WHERE len(tk) >= 3),
         |szl AS (SELECT doc_id, count(*) AS sz FROM shl GROUP BY doc_id),
         |szr AS (SELECT doc_id, count(*) AS sz FROM shr GROUP BY doc_id),
         |shhl AS (SELECT doc_id, ${shingleHash61("sh")} AS h FROM shl),
         |shhr AS (SELECT doc_id, ${shingleHash61("sh")} AS h FROM shr),
         |iv AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS inter
         |       FROM shhl a JOIN shhr b ON a.h = b.h GROUP BY 1, 2)
         |SELECT id_l, id_r,
         |       round(inter::DOUBLE / (sl.sz + sr.sz - inter), 6) AS jaccard
         |FROM iv JOIN szl sl ON sl.doc_id = id_l JOIN szr sr ON sr.doc_id = id_r
         |WHERE round(inter::DOUBLE / (sl.sz + sr.sz - inter), 6) >= 0.5""".stripMargin,
    // exact 13-gram containment: DISTINCT at the HASH level on both sides
    // (the engine collapses (id_l, id_r, h) after its join), so a within-doc
    // hash collision counts once in both engines
    "dedup_contains_ngram" -> containsNgramOracle,
    // the Bloom-gated plan is semantics-preserving — same oracle
    "dedup_contains_bloom" -> containsNgramOracle,
    // span stripping: positional 5-grams via the struct-in-lambda trick
    // (unnest of {'pos', 's'} structs), df over DISTINCT docs, covered
    // positions as unnested generate_series lists. The rebuild replays the
    // engine's span-preserving stitch: original-casing tokens via
    // regexp_extract_all, original separator runs between ADJACENT kept
    // tokens (a single space where a stripped span sat), untouched docs
    // pass through byte-identical via the LEFT JOIN coalesce.
    "dedup_strip_spans" ->
      s"""WITH u AS ($uSkew),
         |${posGramBody(5)},
         |hot AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM g GROUP BY h) WHERE c >= 20),
         |covl AS (SELECT doc_id, list(DISTINCT cp) AS cov FROM (
         |           SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS cp
         |           FROM g WHERE h IN (SELECT h FROM hot))
         |         GROUP BY doc_id),
         |$rebuildReplay
         |SELECT u.doc_id, coalesce(reb.text, u.text) AS text
         |FROM u LEFT JOIN reb ON u.doc_id = reb.doc_id""".stripMargin,
    // keep-first substring dedup: owner = min (doc_id, pos) per gram hash
    // (row_number in id, pos order), every LATER occurrence's window is
    // covered; same positional grams + span-preserving rebuild replay as
    // dedup_strip_spans.
    "dedup_substring_strip" -> substringOracle(uPassage, 13),
    "dedup_substring_skew" -> substringOracle(uSkew, 5),
    "dedup_resolve" ->
      s"""WITH RECURSIVE $shingleBody,
         |shh AS (SELECT doc_id, ${shingleHash61("sh")} AS h FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |       FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |pr AS (SELECT id_a, id_b
         |       FROM iv JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |       WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) >= 0.5),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pr
         |       UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT doc_id AS id, doc_id AS comp FROM u
         |          UNION
         |          SELECT e.src, r.comp FROM ed e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(comp) AS canonical, (id = min(comp)) AS keep
         |FROM reach GROUP BY id""".stripMargin,
    "dedup_purge" ->
      s"""WITH RECURSIVE u AS ($uExact),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM u a JOIN u b ON a.text = b.text AND a.doc_id < b.doc_id),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pr
         |       UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT doc_id AS id, doc_id AS comp FROM u
         |          UNION
         |          SELECT e.src, r.comp FROM ed e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id FROM reach GROUP BY id HAVING id = min(comp)""".stripMargin,
    // the recall-1 admit twin replays end-to-end: corpus-df hot set,
    // hot-excluded sets, corpus-hit verify, intra-batch resolve
    "stream_admit_batch" ->
      s"""WITH RECURSIVE
         |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |          UNION ALL
         |          SELECT doc_id + 10000001, text || ' extra token padding'
         |          FROM documents WHERE doc_id % 2 = 0 AND doc_id < 20
         |          UNION ALL
         |          SELECT doc_id + 20000000, text
         |          FROM documents WHERE doc_id % 2 = 1 AND doc_id < 20),
         |u AS (SELECT * FROM batch UNION ALL SELECT * FROM corpus),
         |t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '${graft.functions.TextHash.WsRegex}'), x -> x <> '') AS tk FROM u),
         |sh AS (SELECT DISTINCT doc_id,
         |         unnest(list_transform(generate_series(1, len(tk) - 2),
         |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |       FROM t WHERE len(tk) >= 3),
         |shh AS (SELECT doc_id, ${shingleHash61("sh")} AS h FROM sh),
         |hot AS (SELECT h FROM (SELECT h, count(*) AS df FROM shh
         |                       WHERE doc_id % 2 = 0 GROUP BY h) WHERE df > 3),
         |shx AS (SELECT DISTINCT doc_id, h FROM shh
         |        WHERE h NOT IN (SELECT h FROM hot)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY doc_id),
         |ivc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |        FROM shx a JOIN shx b ON a.h = b.h
         |        WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         |        GROUP BY 1, 2),
         |hits AS (SELECT DISTINCT id_a AS doc_id
         |         FROM ivc JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |         WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) >= 0.5),
         |ivb AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |        FROM shx a JOIN shx b ON a.h = b.h AND a.doc_id < b.doc_id
         |        WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
         |        GROUP BY 1, 2),
         |prb AS (SELECT id_a, id_b
         |        FROM ivb JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |        WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) >= 0.5),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM prb
         |       UNION SELECT id_b, id_a FROM prb),
         |reach AS (SELECT doc_id AS id, doc_id AS comp FROM batch
         |          UNION
         |          SELECT e.src, r.comp FROM ed e JOIN reach r ON e.dst = r.id),
         |keepers AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id = min(comp))
         |SELECT b.doc_id FROM batch b
         |JOIN keepers k ON b.doc_id = k.doc_id
         |WHERE b.doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin,
    "dedup_simhash" ->
      s"""WITH ${simhashCtes("documents")}
         |SELECT doc_id, simhash FROM shh""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH u AS ($uNear),
         |${simhashCtes("u")}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       bit_count(xor(a.simhash::BIT, b.simhash::BIT))::BIGINT AS hamming
         |FROM shh a JOIN shh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash::BIT, b.simhash::BIT)) <= 4""".stripMargin,
    "dedup_simhash_keyed" -> simhashKeyedOracle,
    "dedup_simhash_keyed_mis" -> simhashKeyedMisOracle,
    "dedup_cosine_pairs" ->
      s"""WITH u AS (SELECT vec_id, embedding FROM embeddings UNION ALL
         |           SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id < 25),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        round(least(1.0, greatest(-1.0, list_cosine_similarity(
         |          CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
         |      FROM u a, u b WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.95""".stripMargin)
}
