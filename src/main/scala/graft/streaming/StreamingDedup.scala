package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.{Dedup, Materialize}

/** Incremental near-dup gating at ingest — the streaming face of the
  * dedup family: a training-data pipeline does not re-dedup the whole
  * corpus per arrival, it checks each micro-batch against the ACCUMULATED
  * corpus and admits only novel documents.
  *
  * State = (admitted docs, their MinHash band keys). Per batch:
  *   1. batch band keys ([[Dedup.minhashBandKeys]] — one pass over the
  *      batch only);
  *   2. candidates vs CORPUS = equi-join batch keys × stored keys on
  *      (band, bkey) — the stored side is the persisted index, so the
  *      join cost scales with bucket collisions, never corpus size;
  *   3. candidates WITHIN the batch = the usual band self-join;
  *   4. exact-Jaccard verify of candidates only; a batch doc is dropped
  *      if it verifies ≥ threshold against the corpus, and intra-batch
  *      verified pairs run through [[Dedup.resolve]] — each connected
  *      duplicate cluster keeps its smallest id;
  *   5. survivors append to the corpus, their keys to the index.
  *
  * At cluster scale the state tables live partitioned/bucketed by
  * (band, bkey) (Delta/Iceberg MERGE in prod); here they ride through
  * `readState`/`writeState` so tests swap storage, exactly like
  * [[StreamingIngest.upsertWriter]]. */
object StreamingDedup {

  final case class DedupGateConfig(
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 4,
      threshold: Double = 0.6,
      maxShingleDf: Long = Long.MaxValue,
      /** CORPUS-level df cap, served from the gate's persisted
        * [[Dedup.shingleDf]] state: shingles seen in more than this many
        * ADMITTED documents are excluded from banding and verify — the
        * cap `maxShingleDf` cannot express from inside one micro-batch,
        * where every df is batch-sized (a corpus-scale boilerplate footer
        * looks rare). Requires the df-state variants
        * ([[admitWithState]] / [[dedupedAppendWriterWithDf]]). */
      maxCorpusShingleDf: Long = Long.MaxValue)

  /** One micro-batch of the gate: returns (novel rows, their band keys).
    * Per-batch cost discipline: the signature pass runs over the BATCH
    * exactly once (band keys reused for the corpus join, the intra-batch
    * self-join, and the state append), the verify shingle-sets are built
    * once over batch ∪ corpus-candidates and shared by BOTH verifies, and
    * the corpus side is touched only for rows that are actually banded
    * candidates (semi-join before shingling) — never a full-corpus
    * re-shingle.
    *
    * A finite `maxShingleDf` is evaluated over the per-batch verify
    * universe (batch ∪ candidates), not the whole corpus — document
    * frequencies there are micro-batch-sized, so a corpus-scale
    * boilerplate shingle is typically NOT capped inside a batch. The
    * exact fix is `maxCorpusShingleDf` + the persisted corpus-df state
    * ([[admitWithState]]/[[dedupedAppendWriterWithDf]]): shingles hot
    * over the ADMITTED corpus are excluded from banding and verify, so
    * two documents sharing only corpus-level boilerplate are not near
    * dups — matching what a batch-mode cap over the final corpus decides. */
  private[streaming] def admitWithKeys(rawBatch: DataFrame, corpus: DataFrame,
      corpusKeys: DataFrame, cfg: DedupGateConfig,
      dfState: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    // corpus-hot shingles (df state over ADMITTED docs, threshold from
    // cfg) are excluded from BOTH candidate generation and verify — tiny
    // by construction, so it broadcasts
    val hot = dfState
      .filter(_ => cfg.maxCorpusShingleDf != Long.MaxValue)
      .map(st => Materialize.eager( // consumed by band keys AND verify sets
        st.filter(col("df") > cfg.maxCorpusShingleDf).select("h"),
        "StreamingDedup.admitWithKeys.hot"))
    // Id hygiene BEFORE any shingling: the verify stage collects shingles
    // grouped by id over batch ∪ corpus-candidates, so an id present twice
    // (at-least-once replay within a batch, or a batch id already admitted
    // to the corpus) would merge two documents' shingle sets into one and
    // corrupt every Jaccard it participates in — and re-admitting would
    // leave duplicate ids in the corpus state. Replayed ids are treated as
    // already-processed and dropped (idempotent gate); id reuse with NEW
    // text is indistinguishable from replay and is dropped the same way.
    val batch = rawBatch
      .dropDuplicates(cfg.idCol)
      .join(corpus.select(col(cfg.idCol)), Seq(cfg.idCol), "left_anti")
    val batchKeys = Materialize.eager(Dedup
      .minhashBandKeys(batch, cfg.idCol, cfg.textCol, cfg.n, cfg.bands,
        cfg.maxShingleDf, excludeHashes = hot),
      "StreamingDedup.admitWithKeys.batchKeys") // ONE signature pass per batch, three consumers
    // vs corpus: any banded candidate that verifies kills the batch doc
    val vsCorpus = Materialize.eager(batchKeys.as("a")
      .join(corpusKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct(),
      "StreamingDedup.admitWithKeys.vsCorpus") // consumed by the semi-join AND the verify
    // verify shingles ONLY candidate rows: batch side is small, corpus
    // side is semi-joined down to the colliding ids first
    val corpusCand = corpus
      .select(col(cfg.idCol).as("id"), col(cfg.textCol).as("t"))
      .join(vsCorpus.select(col("id_b").as("id")).distinct(), Seq("id"), "left_semi")
    val batchDocs = batch.select(col(cfg.idCol).as("id"), col(cfg.textCol).as("t"))
    // ONE shingle-set pass feeds both verifies (corpus pairs + in-batch
    // pairs) — per-verify rebuilds would shingle the batch three times a
    // micro-batch; sharing also puts both verifies in the same df-cap
    // universe (see the header note on maxShingleDf semantics)
    val sets = Materialize.eager(Dedup.shingleSets(batchDocs.unionByName(corpusCand),
        "id", "t", cfg.n, cfg.maxShingleDf, excludeHashes = hot),
      "StreamingDedup.admitWithKeys.sets")
    val corpusHits = Dedup.verifyJaccardPairsWithSets(vsCorpus, sets, cfg.threshold)
      .select(col("id_a").as(cfg.idCol)).distinct()
    // within batch: band self-join on the SAME keys, then verify; the
    // verified pairs resolve to connected components ([[Dedup.resolve]])
    // and each cluster keeps its smallest id — pairwise loser-dropping
    // (every id_b side) would over-admit on shared-sink patterns like
    // (a,c),(b,c): component {a,b,c} must keep only a, but c is the lone
    // id_b and a AND b would both survive
    val inBatchCand = batchKeys.as("a")
      .join(batchKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val inBatchPairs = Dedup.verifyJaccardPairsWithSets(inBatchCand, sets, cfg.threshold)
    val batchLosers = Dedup.resolve(inBatchPairs, batchDocs.select(col("id")), "id")
      .filter(!col("keep"))
      .select(col("id").as(cfg.idCol))
    val novel = Materialize.eager(batch
      .join(corpusHits, Seq(cfg.idCol), "left_anti")
      .join(batchLosers, Seq(cfg.idCol), "left_anti"),
      "StreamingDedup.admitWithKeys.novel")
    val novelKeys = batchKeys.join(
      novel.select(col(cfg.idCol).as("id")), Seq("id"), "left_semi")
    (novel, novelKeys)
  }

  /** Novel rows of `batch` — not near-dup of `corpus`, one representative
    * (smallest id) per intra-batch duplicate cluster. */
  def admit(batch: DataFrame, corpus: DataFrame, corpusKeys: DataFrame,
      cfg: DedupGateConfig): DataFrame =
    admitWithKeys(batch, corpus, corpusKeys, cfg)._1

  /** [[admit]] with the corpus-df state: (novel rows, their band keys,
    * their [[Dedup.shingleDf]] delta to merge into state). */
  def admitWithState(batch: DataFrame, corpus: DataFrame,
      corpusKeys: DataFrame, dfState: DataFrame,
      cfg: DedupGateConfig): (DataFrame, DataFrame, DataFrame) = {
    val (novel, novelKeys) =
      admitWithKeys(batch, corpus, corpusKeys, cfg, Some(dfState))
    // the delta counts the FULL shingle universe of admitted docs (no cap,
    // no hot exclusion): state must keep measuring excluded shingles or a
    // shingle could never cross the threshold consistently
    (novel, novelKeys,
      Dedup.shingleDf(novel.select(col(cfg.idCol).as("id"),
        col(cfg.textCol).as("t")), "id", "t", cfg.n))
  }

  /** The batch twin of one [[admitWithState]] round, with RECALL-1
    * candidate generation: the gate's admit decision is DEFINED by exact
    * Jaccard over the hot-excluded shingle universe — banding merely
    * approximates the candidate set — so this twin generates candidates
    * from the exhaustive hashed inverted index instead of band keys and
    * is therefore SQL-replayable end-to-end (the `stream_admit_batch`
    * driver oracle). Decision per batch doc, exactly as in the gate:
    * dropped if it verifies ≥ threshold against any corpus doc, or if it
    * is a non-minimum member of an intra-batch duplicate component
    * ([[Dedup.resolve]]); hot shingles (corpus df state over
    * `cfg.maxCorpusShingleDf`) are excluded from every set. Returns the
    * admitted batch rows. */
  def admitExact(batch: DataFrame, corpus: DataFrame, dfState: DataFrame,
      cfg: DedupGateConfig): DataFrame = {
    val hot =
      if (cfg.maxCorpusShingleDf == Long.MaxValue) None
      else Some(Materialize.eager( // feeds every set build
        dfState.filter(col("df") > cfg.maxCorpusShingleDf).select("h"),
        "StreamingDedup.admitExact.hot"))
    val b = Materialize.eager(batch.dropDuplicates(cfg.idCol)
      .join(corpus.select(col(cfg.idCol)), Seq(cfg.idCol), "left_anti"),
      "StreamingDedup.admitExact.batch") // consumed by sets, ids, and the final anti-joins
    val batchDocs = b.select(col(cfg.idCol).as("id"), col(cfg.textCol).as("t"))
    val corpusDocs = corpus.select(col(cfg.idCol).as("id"), col(cfg.textCol).as("t"))
    val sets = Materialize.eager(Dedup.shingleSets(batchDocs.unionByName(corpusDocs), "id", "t",
        cfg.n, cfg.maxShingleDf, excludeHashes = hot),
      "StreamingDedup.admitExact.sets") // inverted index + the shared verify
    // ONE fused candidate join + ONE verify for BOTH families (r13,
    // guide §2.4 — the annVerified pattern): the batch-vs-corpus and
    // batch-vs-batch candidate joins shared the same batch-side inverted
    // index and the same verify sets, so tag each inverted row with
    // "is batch" (map-side broadcast flag — batch ids are trigger-sized
    // by contract) and join batch rows against ALL rows once. The a<b
    // dedup applies only within the batch (corpus ids are anti-joined
    // disjoint, so a.id===b.id cannot cross families); the verify runs
    // once over the union and splits by the flag AFTER. Decisions are
    // identical: same candidate pairs per family, same exact-Jaccard
    // verify, same resolve.
    val batchIds = batchDocs.select("id")
    val invTag = sets
      .join(broadcast(batchIds.withColumn("__isb", lit(true))), Seq("id"), "left")
      .select(col("id"), explode(col("sh")).as("h"),
        coalesce(col("__isb"), lit(false)).as("__isb"))
    val cand = invTag.filter(col("__isb")).as("a")
      .join(invTag.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") &&
          (!col("b.__isb") || col("a.id") < col("b.id")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("b.__isb").as("__isb"))
      .distinct()
    val verified = Materialize.eager(Dedup.verifyJaccardPairsWithSets(cand, sets, cfg.threshold),
      "StreamingDedup.admitExact.verified") // corpus-hit filter AND in-batch resolve read it
    val corpusHits = verified.filter(!col("__isb"))
      .select(col("id_a").as(cfg.idCol)).distinct()
    val inBatchPairs = verified.filter(col("__isb"))
      .select("id_a", "id_b", "jaccard")
    val losers = Dedup.resolve(inBatchPairs, batchIds, "id")
      .filter(!col("keep")).select(col("id").as(cfg.idCol))
    b.join(corpusHits, Seq(cfg.idCol), "left_anti")
      .join(losers, Seq(cfg.idCol), "left_anti")
  }

  /** Recompute the corpus band-key index under the CURRENT hot set — the
    * out-of-band index rebuild (the Annoy-rebuild analog): stored keys
    * were computed under the hot set of THEIR admit time, so keys of docs
    * admitted before a shingle went hot still carry it; candidate
    * generation (not verify — verify always uses fresh, consistent sets)
    * slowly loses recall against those old keys until a rebuild. */
  def rebuildKeys(corpus: DataFrame, dfState: DataFrame,
      cfg: DedupGateConfig): DataFrame = {
    val hot =
      if (cfg.maxCorpusShingleDf == Long.MaxValue) None
      else Some(dfState.filter(col("df") > cfg.maxCorpusShingleDf).select("h"))
    // cfg.maxShingleDf is a BATCH-universe cap; over the full corpus the
    // same number would strip nearly every ordinary shingle (corpus dfs are
    // thousands where batch dfs are tens) and the rebuilt keys would match
    // nothing a future batch computes. The corpus-level cap is the hot set.
    Dedup.minhashBandKeys(corpus, cfg.idCol, cfg.textCol, cfg.n, cfg.bands,
      maxShingleDf = Long.MaxValue, excludeHashes = hot)
  }

  /** Wire the gate into a foreachBatch stream: state is (docs, band keys),
    * survivors append and extend the index. */
  def dedupedAppendWriter(
      updates: DataFrame,
      cfg: DedupGateConfig,
      readState: () => (DataFrame, DataFrame),
      writeState: (DataFrame, DataFrame) => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    updates.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (corpus, corpusKeys) = readState()
        val (novel, novelKeys) = admitWithKeys(batch, corpus, corpusKeys, cfg)
        writeState(
          corpus.unionByName(novel),
          corpusKeys.unionByName(novelKeys))
      }
  }

  /** [[dedupedAppendWriter]] with the corpus-df state as a third state
    * table: survivors append, keys extend the index, the shingle-df delta
    * merges into state ([[Dedup.mergeShingleDf]]). */
  def dedupedAppendWriterWithDf(
      updates: DataFrame,
      cfg: DedupGateConfig,
      readState: () => (DataFrame, DataFrame, DataFrame),
      writeState: (DataFrame, DataFrame, DataFrame) => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    updates.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (corpus, corpusKeys, dfState) = readState()
        val (novel, novelKeys, dfDelta) =
          admitWithState(batch, corpus, corpusKeys, dfState, cfg)
        writeState(
          corpus.unionByName(novel),
          corpusKeys.unionByName(novelKeys),
          Dedup.mergeShingleDf(dfState, dfDelta))
      }
  }
}
