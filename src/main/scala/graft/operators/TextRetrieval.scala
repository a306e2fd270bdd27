package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** BM25 keyword retrieval and reciprocal-rank fusion — the lexical half of
  * hybrid (keyword ⊕ vector) search over a document corpus. The reference
  * is a pure vector search engine (`/root/reference/data/search.go` scores
  * only embedding distances); a training-data pipeline also needs lexical
  * retrieval — eval-set decontamination lookups, quality-probe queries,
  * topical slicing — and hybrid fusion against the kNN path this library
  * already has ([[Search]]/[[Ann]]).
  *
  * Scale design (100 TB):
  *
  *  - [[bm25]] (one query) runs as TWO codegen table scans and NO wide
  *    shuffle: a partial-agg stats scan that reduces to ONE driver row
  *    (N, avgdl, per-term df — broadcast-sized by construction), then a
  *    score scan whose per-term tf/idf arithmetic is inlined as literals
  *    into a single whole-stage-codegen projection feeding a
  *    `TakeOrderedAndProject` bounded top-k. Nothing wider than k rows
  *    per partition ever moves.
  *  - [[bm25Multi]] (query batch) is the inverted-index shape the dedup
  *    family already rehearses ([[Dedup]] inverted + prefix joins): doc
  *    tokens are BROADCAST-semi-joined against the query vocabulary
  *    before anything shuffles, so the exchanged volume is O(matching
  *    doc-term pairs after map-side combine), never O(corpus tokens);
  *    per-query results come from a rank-filter the optimizer rewrites
  *    to `WindowGroupLimit` partial top-k (k rows per partition per
  *    query cross the shuffle, not every scored doc).
  *  - Corpus statistics change slowly relative to queries: amortize the
  *    stats scan across query batches by precomputing [[corpusStats]]
  *    once (or serving N/avgdl from [[graft.model.DatasetCatalog]] row
  *    counts) and passing it to every call.
  *
  * Determinism: scores are pure functions of (tf, dl, df, N, avgdl) —
  * integer counts and one exact integer-sum mean — so ordering ties break
  * identically everywhere; every result orders by (score, id) and each
  * query in [[graft.queries.RetrievalQueries]] hash-matches a DuckDB
  * oracle computing the same formula.
  */
object TextRetrieval {

  val ScoreCol = "score"
  val RankCol = "rank"
  val TermCol = "term"

  /** Loud bound on a query BATCH's distinct-term vocabulary: the batch
    * paths broadcast the vocabulary ([[bm25Multi]]) or collect it for the
    * stored-index pushdown ([[bm25Indexed]]) — correct only while the
    * batch side is small. A corpus mis-passed as `queries` must fail
    * naming the fix, not OOM the driver — the [[Clustering.MaxCentroids]]
    * / `semDedup.maxClusterRows` enforced-contract convention. 100k terms
    * ≈ a few MB broadcast: far above any real query batch, far below
    * driver trouble. */
  val MaxQueryTerms: Int = 100000

  /** `limit(n+1)`-gated vocabulary count (the decontamination-path gate
    * shape — one bounded action, no full aggregation). */
  private def requireBoundedVocab(qt: DataFrame, maxQueryTerms: Int): Unit = {
    require(maxQueryTerms > 0, s"maxQueryTerms must be positive, got $maxQueryTerms")
    val probe = qt.select(TermCol).distinct().limit(maxQueryTerms + 1).count()
    require(probe <= maxQueryTerms,
      s"query batch carries > $maxQueryTerms distinct terms — batch BM25 " +
        "broadcasts the query vocabulary, which must stay driver-sized; " +
        "split the batch (or raise maxQueryTerms if the batch is genuinely " +
        "this wide). Did you pass the corpus as `queries`?")
  }

  /** Okapi BM25 parameters (Robertson et al., TREC-3): `k1` saturates
    * term frequency, `b` scales length normalization. */
  final case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

  /** Corpus-level statistics a BM25 score needs besides per-term df:
    * document count and mean token length. */
  final case class CorpusStats(n: Long, avgdl: Double)

  /** One partial-agg scan → (N, avgdl). avgdl is an exact integer-sum
    * mean, so engines agree bit-for-bit. */
  def corpusStats(docs: DataFrame, textCol: String): CorpusStats = {
    val row = docs.agg(
      count(lit(1)).as("n"),
      avg(TextAnalysis.tokenCount(col(textCol))).as("avgdl")).head()
    if (row.getLong(0) == 0L) CorpusStats(0L, 0.0)
    else CorpusStats(row.getLong(0), row.getDouble(1))
  }

  /** [[corpusStats]] plus the POSTINGS-visible totals, in the SAME single
    * pass: (stats over all docs, #docs with ≥1 token, exact token total).
    * A zero-token doc counts toward stats.n but produces no posting rows,
    * so `postingsN ≤ stats.n`; the token total is identical either way
    * (zero-token docs contribute 0). These two extra integers ride the
    * index sidecar and are what lets [[indexRemove]] update stats by
    * SUBTRACTION instead of a corpus-sized distinct re-aggregation (r13,
    * guide §2.4). avgdl is computed by the same `avg` aggregate as
    * [[corpusStats]] — bit-identical stats on the common fields. */
  def corpusStatsFull(docs: DataFrame,
      textCol: String): (CorpusStats, Long, Long) = {
    val tc = TextAnalysis.tokenCount(col(textCol))
    val row = docs.agg(
      count(lit(1)).as("n"),
      avg(tc).as("avgdl"),
      count(when(tc > 0, lit(1))).as("pn"),
      sum(tc).as("ptot")).head()
    if (row.getLong(0) == 0L) (CorpusStats(0L, 0.0), 0L, 0L)
    else (CorpusStats(row.getLong(0), row.getDouble(1)), row.getLong(2),
      if (row.isNullAt(3)) 0L else row.getLong(3))
  }

  /** Robertson–Spärck-Jones idf with +1 smoothing — strictly positive for
    * every 0 ≤ df ≤ N, so a matched term always contributes and "matched
    * nothing" is exactly score 0. */
  private def idfValue(n: Long, df: Long): Double =
    math.log((n - df + 0.5) / (df + 0.5) + 1.0)

  /** BM25 top-k for ONE keyword query, as a zero-wide-shuffle plan: the
    * per-term tf columns are computed by codegen'd array kernels over the
    * token array (terms are few — a query, not a corpus), df/N/avgdl
    * reduce to one driver row, and the score scan inlines them as
    * literals so the whole ranking is scan → project → bounded top-k.
    * Returns (idCol, score), score descending, ties by id; only documents
    * matching ≥1 term (score > 0) are returned.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      params: Bm25Params = Bm25Params(),
      precomputed: Option[CorpusStats] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct
    // tokenize ONCE per row behind an intermediate column: the split/HOF
    // chain is interpreted (lambdas are outside whole-stage codegen, so
    // no subexpression elimination) and CollapseProject will not inline a
    // non-cheap expression referenced by every tf kernel — without this
    // the plan re-tokenized each doc once per tf/dl use
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("__tk"), x => x === lit(t))).as(s"__tf$i")
    }
    val base = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol) +: size(col("__tk")).as("__dl") +: tfCols: _*)

    // Stats scan: one partial agg, ONE row to the driver (contract-sized).
    val dfAggs = terms.indices.map(i =>
      sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    val statsAggs =
      count(lit(1)).as("__n") +: avg(col("__dl")).as("__avgdl") +: dfAggs
    val stats = base.agg(statsAggs.head, statsAggs.tail: _*).head()
    val n = stats.getLong(0)
    if (n == 0L) return base.select(col(idCol), lit(0.0).as(ScoreCol)).limit(0)
    val cs = precomputed.getOrElse(CorpusStats(n, stats.getDouble(1)))
    val dfs = terms.indices.map(i => stats.getLong(2 + i))

    val dl = col("__dl").cast("double")
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      lit(idfValue(cs.n, dfs(i))) * tf * (params.k1 + 1.0) /
        (tf + lit(params.k1) * (lit(1.0 - params.b) + lit(params.b) * dl / lit(cs.avgdl)))
    }.reduce(_ + _)

    // the score>0 cut sits ABOVE the top-k: semantically identical (a
    // zero-score doc orders below every match, so it only surfaces when
    // fewer than k docs match, and is dropped either way) but the
    // optimizer cannot push a filter through a limit — below it, the
    // predicate was substituted into the scan stage and re-evaluated the
    // whole interpreted score expression per row a second time
    base.select(col(idCol), score.as(ScoreCol))
      .orderBy(col(ScoreCol).desc, col(idCol).asc)
      .limit(k)
      .where(col(ScoreCol) > 0)
  }

  /** BM25 top-k for a BATCH of keyword queries `(queryIdCol, queryTextCol)`
    * via the inverted-index shape: corpus tokens are broadcast-semi-joined
    * against the batch vocabulary BEFORE the one (doc, term) shuffle, df
    * comes from the resulting tf table (tiny — bounded by matched
    * vocabulary), and per-query ranking is a rank-filter the optimizer
    * executes as `WindowGroupLimit` partial top-k. Returns
    * (queryIdCol, idCol, score) with rank ≤ k per query.
    */
  def bm25Multi(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, params: Bm25Params = Bm25Params(),
      precomputed: Option[CorpusStats] = None,
      maxQueryTerms: Int = MaxQueryTerms): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cs = precomputed.getOrElse(corpusStats(docs, textCol))
    if (cs.n == 0L)
      return queries.select(col(queryIdCol)).limit(0)
        .withColumn(idCol, lit(0L)).withColumn(ScoreCol, lit(0.0))

    // (query, term): per-query DISTINCT terms — plain BM25 ignores query tf.
    val qt = queries.select(col(queryIdCol),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as(TermCol))
    requireBoundedVocab(qt, maxQueryTerms)
    val vocab = qt.select(TermCol).distinct()

    // Corpus → matched (doc, term, tf, dl): the broadcast semi-join keeps
    // only query-vocabulary tokens, so the groupBy's map-side combine
    // ships one (doc, term) pair per partition, not every occurrence.
    // The posting table is localCheckpoint-materialized (the
    // simhashPairsAuto precedent) because TWO consumers read it — the df
    // broadcast build and the scoring join — and without the barrier each
    // re-runs the whole corpus scan+explode lineage. Its size is
    // O(matched postings) = docs × matched query vocabulary, the working
    // set any inverted-index retrieval carries.
    val occurrences = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), size(col("__tk")).as("__dl"), explode(col("__tk")).as(TermCol))
      .join(broadcast(vocab), TermCol)
    val tf = Materialize.eager(occurrences.groupBy(col(idCol), col(TermCol))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl")),
      "TextRetrieval.bm25Multi.tf")

    // df per term from the tf table (already distinct per (doc, term))
    val dfByTerm = tf.groupBy(col(TermCol)).agg(count(lit(1)).as("__df"))
    scoreAndRank(tf, dfByTerm, qt, idCol, queryIdCol, cs, k, params)
  }

  /** The shared scoring tail over a matched posting table
    * (`idCol, term, __tf, __dl`) and a per-term df table (`term, __df` —
    * for BM25 only the QUERY terms' df matters): idf/tf arithmetic,
    * per-(query, doc) sum, and a rank-filter the optimizer executes as
    * `WindowGroupLimit` partial top-k. */
  private def scoreAndRank(tf: DataFrame, dfByTerm: DataFrame,
      qt: DataFrame, idCol: String, queryIdCol: String, cs: CorpusStats,
      k: Int, params: Bm25Params): DataFrame = {
    val tfd = col("__tf").cast("double")
    val dl = col("__dl").cast("double")
    val idf = log((lit(cs.n.toDouble) - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val contrib = idf * tfd * (params.k1 + 1.0) /
      (tfd + lit(params.k1) * (lit(1.0 - params.b) + lit(params.b) * dl / lit(cs.avgdl)))

    val scored = tf
      .join(broadcast(dfByTerm), TermCol)
      .join(broadcast(qt), TermCol)
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(contrib).as(ScoreCol))

    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col(ScoreCol).desc, col(idCol).asc)
    scored.withColumn(RankCol, row_number().over(w))
      .where(col(RankCol) <= k)
      .drop(RankCol)
  }

  // ------------------------------------------------------- stored index

  /** The persisted-index sidecar name ([[indexSave]]). */
  val IndexSidecar = "lexstats.csv"

  /** Build the posting-list table a stored lexical index serves: one row
    * per (term, doc) carrying tf and the doc's token length, RANGE-
    * partitioned and sorted by term so the saved parquet's row-group
    * min/max statistics answer term predicates — a query batch's pushed
    * `In(term, …)` filter then reads only the files/row groups its
    * vocabulary overlaps, never the corpus. One-time build cost: the
    * corpus tokenize + one (term, doc) shuffle + the range repartition. */
  def indexBuild(docs: DataFrame, idCol: String, textCol: String,
      partitions: Int = 0): DataFrame = {
    val base = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), size(col("__tk")).as("__dl"), explode(col("__tk")).as(TermCol))
      .groupBy(col(TermCol), col(idCol))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
    // partition count: explicit when the caller sized it, otherwise LEFT
    // TO AQE (r12, guide §2.2/§6 "scale-adaptive partitioning"): a
    // rangepartition without an explicit N is advisory-size-coalesced at
    // runtime, so posting-file count tracks index bytes — the previous
    // numShufflePartitions constant wrote 32 tiny files at bench scale
    // and would under-partition a 100-TB index on a wide cluster
    val ranged = if (partitions > 0)
      base.repartitionByRange(partitions, col(TermCol))
    else base.repartitionByRange(col(TermCol))
    ranged.sortWithinPartitions(TermCol)
  }

  /** A loaded lexical index: the posting table, the per-term df summary,
    * and the corpus stats that were computed with them. */
  final case class LexIndex(postings: DataFrame, dfByTerm: DataFrame,
      stats: CorpusStats)

  /** Persist a lexical index: postings ([[indexBuild]]) + a per-term df
    * summary + corpus stats, under the same versioned-dir +
    * atomic-sidecar-swap protocol the ANN indexes use ([[Ann.ivfSave]] /
    * [[graft.model.VersionedDir]]) — a torn write keeps serving the
    * previous complete version, and df/stats always match the postings
    * they were computed with. The df summary is aggregated from the
    * postings AS WRITTEN (read back, term column only — a cheap columnar
    * pass, not a corpus-lineage recompute); at query time it answers
    * "which of these terms exist, with what df" from a term-pruned read
    * of a vocabulary-sized table, so the postings of terms a query drops
    * (absent, or over the [[bm25Indexed]] df cap) are never read. The df
    * dir is an append-only DELTA LOG ([[indexAppend]] adds segments,
    * loads merge them); a full save writes the single base segment.
    *
    * The sidecar carries one line `n,avgdl,totalTokens,postingsN,postingsTotal`:
    *  - the exact integer token total is what [[indexAppend]] updates —
    *    adding exact longs — so appended stats never accumulate FP drift.
    *    It is recovered from n·avgdl here (exact: the product's FP error
    *    is far below 0.5 for any total < 2^53, so the round is the true
    *    total);
    *  - the postings-visible totals ([[corpusStatsFull]]'s last two
    *    fields) let [[indexRemove]] update stats and df by SUBTRACTION
    *    (delta-sized work) instead of re-aggregating the corpus-sized kept
    *    postings (r13, guide §2.4). */
  def indexSave(dir: String, postings: DataFrame, stats: CorpusStats,
      postingsN: Long, postingsTotal: Long): Unit =
    indexSaveImpl(dir, postings, stats, (postingsN, postingsTotal), None)

  /** The one save implementation: postings, then the df summary — either
    * the supplied vocabulary-sized table (the incremental-remove path) or
    * aggregated from the postings AS WRITTEN (read back, term column only
    * — a cheap columnar pass, not a corpus-lineage recompute) — then the
    * sidecar swap. */
  private def indexSaveImpl(dir: String, postings: DataFrame,
      stats: CorpusStats, postingsStats: (Long, Long),
      dfTable: Option[DataFrame]): Unit = {
    val spark = postings.sparkSession
    val statsLine = s"${stats.n},${stats.avgdl},${math.round(stats.n * stats.avgdl)}," +
      s"${postingsStats._1},${postingsStats._2}"
    graft.model.VersionedDir.commit(spark, dir, IndexSidecar,
        Seq(_, statsLine)) { path =>
      postings.write.mode("overwrite").parquet(s"$path/postings")
      val dfSummary = dfTable.getOrElse(
        spark.read.parquet(s"$path/postings")
          .groupBy(col(TermCol)).agg(count(lit(1)).as("__df")))
      dfSummary
        .repartitionByRange(8, col(TermCol))
        .sortWithinPartitions(TermCol)
        .write.mode("overwrite").parquet(s"$path/df")
    }
  }

  /** The sidecar stats line ([[indexSave]]): (stats, exact token total,
    * postings-visible (docs, tokens)). */
  private def readStatsLine(dir: String, line: String)
      : (CorpusStats, Long, (Long, Long)) = {
    val parts = line.split(",")
    require(parts.length == 5,
      s"$dir/$IndexSidecar stats line '$line' is not " +
        "n,avgdl,totalTokens,postingsN,postingsTotal — an older lexical " +
        "index format; rebuild it with indexSave")
    (CorpusStats(parts(0).toLong, parts(1).toDouble), parts(2).toLong,
      (parts(3).toLong, parts(4).toLong))
  }

  /** Load a persisted lexical index, resolving the versioned data dir
    * through the sidecar. The df summary merges the base segment with
    * any [[indexAppend]] delta segments (a tiny term-pruned agg — the
    * pushed `In(term)` predicate still reaches every segment file). */
  def indexLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): LexIndex =
    indexAt(spark, dir, graft.model.VersionedDir.readSidecar(spark, dir, IndexSidecar))

  /** The index a read of the sidecar (`lines`) names. */
  private def indexAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      lines: Seq[String]): LexIndex = {
    val (stats, _, _) = readStatsLine(dir, lines(1))
    LexIndex(spark.read.parquet(s"$dir/${lines.head}/postings"),
      spark.read.parquet(s"$dir/${lines.head}/df")
        .groupBy(col(TermCol)).agg(sum(col("__df")).as("__df")),
      stats)
  }

  /** Incremental index maintenance: append NEW documents to the stored
    * index without rebuilding — the lexical analog of [[Ann.ivfAppend]],
    * shaped for streaming ingest. The batch's postings land as new
    * term-sorted files inside the sidecar-named version (each file
    * carries its own min/max term statistics, so pruned queries skip it
    * like any other), its df lands as a delta segment the load-time
    * merge absorbs, and the sidecar swaps to exact updated stats
    * (integer token totals — no FP drift across appends).
    *
    * Contract: `docs` ids must be NEW — appending an existing doc id
    * would duplicate its (term, doc) rows, inflating df and double-
    * scoring the doc (route replacements through [[indexCompact]] +
    * append, or a full rebuild). Same single-writer contract as every
    * saver here. Returns the updated stats. */
  def indexAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String): CorpusStats = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, IndexSidecar)
    val version = lines.head
    val (stats, total, (pn, ptot)) = readStatsLine(dir, lines(1))
    // one tokenize pass feeds postings and df; AQE sizes the delta
    val batch = Materialize.eager(indexBuild(docs, idCol, textCol),
      "TextRetrieval.indexAppend.batch")
    batch.write.mode("append").parquet(s"$dir/$version/postings")
    batch.groupBy(col(TermCol)).agg(count(lit(1)).as("__df"))
      .repartitionByRange(2, col(TermCol)).sortWithinPartitions(TermCol)
      .write.mode("append").parquet(s"$dir/$version/df")
    // batch stats from the DOCS, not the postings: a zero-token doc has
    // no posting rows but still counts toward N/avgdl. The same single
    // pass also yields the batch's postings-visible totals, so the
    // sidecar's postings totals stay exact across appends.
    val (bs, bpn, bptot) = corpusStatsFull(docs, textCol)
    val n2 = stats.n + bs.n
    val total2 = total + math.round(bs.n * bs.avgdl)
    val stats2 = CorpusStats(n2, if (n2 == 0) 0.0 else total2.toDouble / n2)
    val statsLine = s"${stats2.n},${stats2.avgdl},$total2,${pn + bpn},${ptot + bptot}"
    graft.model.VersionedDir.writeSidecar(spark, dir, IndexSidecar,
      Seq(version, statsLine))
    stats2
  }

  /** Purge-side maintenance, the delete counterpart of [[indexAppend]]
    * (the [[Ann.ivfCompact]] analog): rewrite the stored index keeping
    * only `keepIds`, under the same versioned sidecar swap as a full
    * save — readers serve the previous complete version until the
    * rename. Stats are recomputed exactly from the kept postings and the
    * df delta log collapses back to a single base segment. Appended docs
    * survive when their id is kept. Known limit: a ZERO-TOKEN doc has no
    * posting rows, so compaction drops it from N/avgdl even if its id is
    * kept — such docs can never match a query; filter them before
    * indexing if exact N parity with the raw corpus matters. */
  def indexCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
      keepIds: DataFrame, idCol: String): LexIndex = {
    val old = indexLoad(spark, dir)
    // materialize before indexSave opens writers: the rewrite reads the
    // OLD version while writing the NEW one (the ivfCompact rationale);
    // the kept postings are corpus-sized, hence on disk
    val kept = Materialize.eagerOnDisk(old.postings.join(
        keepIds.select(col(idCol)).distinct(), Seq(idCol), "left_semi"),
      "TextRetrieval.indexCompact.kept")
    saveKept(spark, dir, kept, idCol)
  }

  /** Delete-set twin of [[indexCompact]] (compact takes the KEEP set;
    * a [[SnapshotDiff]] hands you the REMOVED ∪ changed set): rewrite
    * the stored index without `ids`, stats recomputed exactly from the
    * kept postings, df delta log collapsed — the same versioned swap.
    * Changed-doc UPDATE is remove-then-[[indexAppend]] with the new
    * text (after removal the ids are new again, satisfying append's
    * contract); `retrieval_index_sync` proves that composition equals a
    * fresh build of v2, score-for-score. Same zero-token caveat as
    * compact.
    *
    * Cost guidance, measured at TWO scales (525k: sync 9.6 s vs fresh
    * 4.3 s; 5.25M decade, 3% churn: sync 195 s vs fresh 270 s): a
    * lexical index is corpus-sized (postings ∝ tokens), so a remove
    * REWRITE costs like a rebuild's I/O — but a fresh build ALSO pays
    * the full corpus tokenize+explode, and that term wins with corpus
    * size. Small corpora: rebuild (constant factors favor one pass).
    * Large corpora at low churn: sync wins (the rewrite is serialized
    * posting I/O; the delta tokenize is tiny). High churn at any scale:
    * rebuild — the rewrite approaches a build plus the diff. Results
    * are identical either way — the choice is purely a cost call. */
  /** Stored-postings byte size past which [[indexRemove]] switches from
    * the recompute path (re-aggregate stats and df over the kept corpus)
    * to the INCREMENTAL path (subtract the removed docs' contributions —
    * delta-sized work). Both paths are bit-identical (spec-pinned); this
    * is purely a cost dispatch, the [[jaccardPairsAuto]] convention.
    * Measured at sf0.1 (~8 MB postings) the incremental path's extra
    * jobs (removed-side semi scan + df subtraction join) cost ~+0.5 s
    * while the recompute it replaces costs ~0.2 s — below the cut the
    * corpus IS delta-sized and recompute wins on job count. Past ~256 MB
    * the recompute's corpus-sized distinct shuffle and read-back df
    * groupBy dominate (the r12 decade leg: corpus-sized maintenance
    * passes are the wall), and subtraction's delta-sized work wins
    * regardless of churn. Callers can force either path for testing. */
  val RemoveIncrementalBytes: Long = 256L * 1024 * 1024

  /** Total byte size of a stored version's postings files (driver-side
    * listing, no job). */
  private def postingsBytes(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: String): Long = {
    val (fs, base) = graft.model.VersionedDir.fsAndPath(spark, dir)
    val p = new org.apache.hadoop.fs.Path(base, s"$version/postings")
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).map(_.getLen).sum
  }

  def indexRemove(spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idCol: String,
      incrementalBytes: Long = RemoveIncrementalBytes): LexIndex = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, IndexSidecar)
    val old = indexAt(spark, dir, lines)
    val (_, _, (pn, ptot)) = readStatsLine(dir, lines(1))
    // the id set feeds the anti-join (kept) and — on the incremental path
    // — the semi-join (removed); it is id-column-only and each consumer
    // broadcasts it, so recomputing beats a checkpoint job
    val idSet = ids.select(col(idCol)).distinct()
    val kept = Materialize.eagerOnDisk(old.postings.join(idSet, Seq(idCol), "left_anti"),
      "TextRetrieval.indexRemove.kept")
    if (postingsBytes(spark, dir, lines.head) >= incrementalBytes) {
      // Incremental stats + df (r13, VERDICT r12 #3 / guide §2.4): the
      // sidecar carries the exact postings-doc and token totals, so the
      // new stats are OLD − REMOVED — a delta-sized semi-join instead
      // of the corpus-sized distinct over the kept postings — and the
      // new df summary is the vocabulary-sized merged OLD df minus the
      // removed postings' per-term counts, instead of a read-back
      // groupBy over the whole rewritten corpus. Integer subtraction on
      // both: results are bit-identical to the recompute path
      // (TextRetrievalSpec pins remove == compact-with-complement,
      // including a zero-token doc). The removed-side frame is consumed
      // twice (stats agg, df agg) — each is a pruned columnar re-scan
      // of the stored postings, cheaper than a checkpoint round-trip.
      val removed = old.postings.join(idSet, Seq(idCol), "left_semi")
      val rrow = removed.select(col(idCol), col("__dl")).distinct()
        .agg(count(lit(1)), sum(col("__dl"))).head()
      val rn = rrow.getLong(0)
      val rtot = if (rrow.isNullAt(1)) 0L else rrow.getLong(1)
      val n2 = pn - rn
      val ptot2 = ptot - rtot
      val stats2 = CorpusStats(n2, if (n2 == 0) 0.0 else ptot2.toDouble / n2)
      val removedDf = removed.groupBy(col(TermCol))
        .agg(count(lit(1)).as("__rdf"))
      val newDf = old.dfByTerm
        .join(removedDf, Seq(TermCol), "left")
        .select(col(TermCol),
          (col("__df") - coalesce(col("__rdf"), lit(0L))).as("__df"))
        .filter(col("__df") > 0)
      indexSaveImpl(dir, kept, stats2, (n2, ptot2), Some(newDf))
      indexLoad(spark, dir)
    } else saveKept(spark, dir, kept, idCol)
  }

  private def saveKept(spark: org.apache.spark.sql.SparkSession,
      dir: String, kept: DataFrame, idCol: String): LexIndex = {
    val row = kept.select(col(idCol), col("__dl")).distinct()
      .agg(count(lit(1)), sum(col("__dl"))).head()
    val n = row.getLong(0)
    val total = if (row.isNullAt(1)) 0L else row.getLong(1)
    val stats = CorpusStats(n, if (n == 0) 0.0 else total.toDouble / n)
    // stats recomputed from kept postings ARE the postings totals
    indexSaveImpl(dir, kept, stats, (n, total), None)
    indexLoad(spark, dir)
  }

  /** BM25 over a STORED index: the repeated-retrieval scale path. The
    * batch vocabulary is collected to the driver (bounded by contract —
    * it is the union of query terms, the same size class the ANN batch
    * probes collect), its df resolved from a term-pruned read of the df
    * summary, and only the SURVIVING terms — present in the index, and
    * under the df cap — are pushed into the postings scan as an
    * `In(term)` predicate: ONE pruned read of O(matched postings), no
    * corpus rescan, no stats job (N/avgdl ride the sidecar), no
    * df-aggregation pass over postings. Scoring is [[bm25Multi]]'s tail
    * with the stored df, so the two paths return the same rows for the
    * same corpus.
    *
    * `maxDfRatio` < 1.0 drops query terms whose df > ratio·N before the
    * postings are read — the BM25-rational twin of the dedup family's
    * `maxShingleDf` boilerplate cap: an ultra-common term's idf is near
    * zero, but its posting list is the longest in the index; capping
    * skips exactly the reads that buy the least score mass. The cut is
    * replayed verbatim by the capped query's oracle. */
  def bm25Indexed(index: LexIndex, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, params: Bm25Params = Bm25Params(),
      maxDfRatio: Double = 1.0,
      maxQueryTerms: Int = MaxQueryTerms): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDfRatio > 0.0 && maxDfRatio <= 1.0,
      s"maxDfRatio must be in (0, 1], got $maxDfRatio")
    require(maxQueryTerms > 0, s"maxQueryTerms must be positive, got $maxQueryTerms")
    val spark = queries.sparkSession
    val qt = queries.select(col(queryIdCol),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as(TermCol))
    // the gate rides the collect itself: fetch at most max+1 rows, fail
    // loudly past the bound — never materialize an unbounded vocabulary
    val vocabRows = qt.select(TermCol).distinct()
      .limit(maxQueryTerms + 1).collect()
    require(vocabRows.length <= maxQueryTerms,
      s"query batch carries > $maxQueryTerms distinct terms — the stored-" +
        "index path collects the query vocabulary for postings pushdown, " +
        "which must stay driver-sized; split the batch (or raise " +
        "maxQueryTerms). Did you pass the corpus as `queries`?")
    val vocab = vocabRows.map(_.getString(0)).toSeq
    def empty = queries.select(col(queryIdCol)).limit(0)
      .withColumn(idCol, lit(0L)).withColumn(ScoreCol, lit(0.0))
    if (vocab.isEmpty || index.stats.n == 0L) return empty
    val cap = maxDfRatio * index.stats.n
    val dfRows = index.dfByTerm.where(col(TermCol).isin(vocab: _*))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 <= cap)
    if (dfRows.isEmpty) return empty
    import spark.implicits._
    val dfKept = dfRows.toSeq.toDF(TermCol, "__df")
    val matched = index.postings.where(col(TermCol).isin(dfRows.map(_._1): _*))
    scoreAndRank(matched, dfKept, qt, idCol, queryIdCol, index.stats, k, params)
  }

  /** Match snippet: the ±`window`-token context around the FIRST query
    * term occurrence in `text`, original casing preserved (matching is
    * case-folded), `null` when nothing matches. A pure codegen'd column
    * composition — at scale, snippeting a result page is a projection
    * over the k retrieved rows, not a corpus pass. The window clamps at
    * the document start/end (a head match yields fewer leading tokens,
    * never an error). */
  def snippet(text: Column, queryTerms: Seq[String], window: Int = 5): Column = {
    require(queryTerms.nonEmpty, "snippet needs at least one query term")
    require(window >= 0, s"window must be non-negative, got $window")
    val terms = queryTerms.map(_.toLowerCase).distinct
    // original-case tokens: the same split as TextAnalysis.tokens minus
    // the lower() — display keeps the source text, matching folds
    val toks = filter(split(text, graft.functions.TextHash.WsRegex), t => t =!= "")
    val hits = filter(
      transform(toks, (x, i) => struct(i.as("i"), x.as("x"))),
      s => lower(s.getField("x")).isin(terms.map(lit): _*))
    // try_element_at: ANSI-mode element_at THROWS on an empty array —
    // a no-match document must yield null, not an error
    val first = try_element_at(hits, lit(1)).getField("i") // 0-based, null if none
    when(first.isNotNull,
      array_join(
        slice(toks, greatest(lit(1), first + 1 - window), lit(2 * window + 1)),
        " "))
  }

  /** Attach 1-based ranks to a TOP-N RESULT (≤ a few hundred rows by
    * contract — the output of [[bm25]] / [[Search.search]], never a raw
    * corpus: the single-partition window is the correct plan only because
    * the input is already a bounded top-k). */
  def rankByScore(topN: DataFrame, idCol: String,
      higherIsBetter: Boolean = true): DataFrame = {
    val ord =
      if (higherIsBetter) Seq(col(ScoreCol).desc, col(idCol).asc)
      else Seq(col(ScoreCol).asc, col(idCol).asc)
    topN.withColumn(RankCol, row_number().over(Window.orderBy(ord: _*)))
      .select(col(idCol), col(RankCol))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09): fused(d) =
    * Σ_r 1/(rrfK + rank_r(d)) over each ranking that contains d. Rank
    * arithmetic only — no score normalization across heterogeneous
    * scorers, and exactly reproducible in any engine. Inputs are
    * (idCol, rank) top-N lists (tiny by contract); returns (idCol, score)
    * descending, ties by id, top k. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0 && rrfK >= 0)
    val contribs = rankings.map(r =>
      r.select(col(idCol), (lit(1.0) / (lit(rrfK) + col(RankCol))).as("__c")))
    contribs.reduce(_ unionAll _)
      .groupBy(col(idCol)).agg(sum(col("__c")).as(ScoreCol))
      .orderBy(col(ScoreCol).desc, col(idCol).asc)
      .limit(k)
  }
}
