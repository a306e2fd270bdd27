package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.model.VersionedDir
import graft.operators.{Attributes, Materialize}

/** Streaming attribute maintenance — the tagger side of the
  * [[graft.operators.Attributes]] tagger→mixer split kept CURRENT as
  * documents arrive: each micro-batch is tagged and UPSERTED into the
  * store at the batch boundary, so every read-side filter/mix decision
  * sees attributes for everything ingested so far without any
  * corpus-rescan tagging job.
  *
  * Why upsert and not append: a plain parquet append replayed after a
  * crash between the write and the checkpoint commit duplicates that
  * batch — and a doubled attribute row double-counts its document in
  * every later `filterByAttrs` join. [[Attributes.attrUpsert]] replaces
  * rows by id, so a replayed batch CONVERGES to the same store —
  * at-least-once delivery composes to effectively-once attribute state
  * (the same trade [[StreamingLayoutSink]] documents, resolved here by
  * the upsert's idempotence instead of a downstream dedup). Re-ingested
  * documents (same id, new content) overwrite their stale attributes
  * for free by the same mechanism.
  *
  * Cost class, stated honestly: each batch boundary rewrites the
  * sidecar (narrow-table bytes × corpus rows) under the VersionedDir
  * atomic swap — the same maintained-state class as the sketch-profile
  * and cluster-state updates, and readers always see a complete store.
  * Batches carrying duplicate ids are refused loudly: which copy wins
  * inside one batch would be nondeterministic — route the stream
  * through a dedup gate or `dropDuplicates` first.
  */
object StreamingAttributes {

  /** foreachBatch writer: tag each micro-batch with `taggers` and
    * upsert into the store at `storeDir` (first batch creates it).
    * `onBatch` observes (batchId, taggedRowCount) for tests and ops
    * counters. */
  def writer(stream: DataFrame, storeDir: String, id: String,
      taggers: Seq[(String, Column)],
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] = {
    require(taggers.nonEmpty, "StreamingAttributes: empty tagger list")
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val tagged = Materialize.eager(Attributes.tag(batch, id, taggers),
          "StreamingAttributes.writer.tagged")
        val dup = tagged.groupBy(col(id)).count()
          .filter(col("count") > 1).limit(1).count()
        require(dup == 0L,
          s"StreamingAttributes: batch $batchId carries duplicate ids — " +
            "which copy wins would be nondeterministic; route the stream " +
            "through a dedup gate or dropDuplicates first")
        if (VersionedDir.sidecarExists(spark, storeDir, Attributes.Sidecar))
          Attributes.attrUpsert(spark, storeDir, tagged)
        else
          Attributes.attrSave(spark, storeDir, tagged, id)
        onBatch(batchId, tagged.count())
      }
  }
}
