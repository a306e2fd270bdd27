package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.operators.Ingest
import graft.operators.Ingest.IngestConfig

/** Structured-Streaming ingestion (SURVEY.md §2.7): the reference's
  * insert-RPC stream + periodic maintenance loop (data/data.go:145-168)
  * becomes a micro-batch pipeline — each batch is upserted with the exact
  * batch semantics of [[Ingest.upsert]], and maintenance (stats refresh,
  * compaction, index rebuild) hooks the batch boundary, which is the Spark
  * analog of the reference's RecentInsertCount-gated Process runs
  * (newsync.go:98-101).
  *
  * The state table is a parquet path here; on a cluster you'd point this at
  * a transactional table (Delta/Iceberg MERGE) — the plan shape (one
  * co-partitioned join per batch) is identical.
  */
object StreamingIngest {

  /** Wire a streaming Dataset of updates into a foreachBatch upsert.
    * `readState`/`writeState` abstract the table so tests can swap storage.
    * `onBatch` runs after each upsert with the new state (full-rebuild
    * maintenance, e.g. ivfBuild+ivfSave); `onBatchRows` runs with the
    * batch rows that actually LANDED in state (incremental maintenance,
    * e.g. [[graft.operators.Ann.ivfAppend]]).
    *
    * "Landed" is the post-merge version of every batch key, NOT the raw
    * micro-batch: the upsert can reject the whole batch (capacity gate
    * returns the state unchanged — detected by reference equality on the
    * untouched return), drop intra-batch duplicate versions (one winner
    * per key survives), or keep the stored row on a close-enough no-op.
    * Feeding the raw batch to an index append would file rows that exist
    * NOWHERE in state — ghost probe results until the next full rebuild.
    * For close-enough no-ops the kept stored row is value-equal to the
    * update by definition of the dedup predicate, so indexing the merged
    * version is always the correct payload. */
  def upsertWriter(
      updates: DataFrame,
      cfg: IngestConfig,
      readState: () => DataFrame,
      writeState: DataFrame => Unit,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      onBatchRows: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    updates.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val state = readState()
        val merged = Ingest.upsert(state, batch, cfg)
        // writeState must not clobber storage merged still reads lazily —
        // use versioned paths (tests) or a transactional format (prod)
        writeState(merged)
        onBatch(merged, batchId)
        if (!(merged eq state)) { // capacity rejection returns state as-is
          // null-safe key match, same as the upsert join itself (a key
          // column may legitimately hold NULL)
          val bk = broadcast(batch.select(cfg.keyCols.map(col): _*).distinct())
          val cond = cfg.keyCols.map(k => col(s"m.$k") <=> col(s"b.$k")).reduce(_ && _)
          val landed = merged.as("m").join(bk.as("b"), cond, "left_semi")
          onBatchRows(landed, batchId)
        }
      }
  }

  /** Event-time windowed counts with a watermark — the standard streaming
    * aggregation the reference lacks entirely (its "streaming" is RPC
    * result streaming); included as the §2.7 Spark-native surface. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      watermarkDelay: String, windowDuration: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .count()
      .select(
        col(s"window.start").as("window_start"),
        col(keyCol), col("count"))
}
