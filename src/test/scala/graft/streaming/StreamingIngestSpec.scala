package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.Ingest.IngestConfig

/** Structured-Streaming ingest: MemoryStream → foreachBatch upsert with
  * versioned state, and watermarked windowed aggregation (SURVEY.md §2.7). */
class StreamingIngestSpec extends SparkTestBase {

  import spark.implicits._

  test("foreachBatch upsert: inserts + overwrites land in state; maintenance hook fires") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData((1L, "a"), (2L, "b"))
    stream.addData((1L, "a2"), (3L, "c"))

    // versioned in-memory state (prod: transactional table)
    var state: DataFrame = Seq.empty[(Long, String)].toDF("id", "v")
    var batches = 0
    val q = StreamingIngest.upsertWriter(
      stream.toDF.toDF("id", "v"),
      IngestConfig(Seq("id"), Seq("v")),
      readState = () => state,
      writeState = df => state = df.collect().toSeq
        .map(r => (r.getLong(0), r.getString(1))).toDF("id", "v"),
      onBatch = (_, _) => batches += 1
    ).start()
    q.awaitTermination(60000)

    val r = state.as[(Long, String)].collect().toMap
    assert(r == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    assert(batches >= 1)
  }

  test("index-refresh lifecycle: onBatch rebuilds + persists IVF, probes see new rows") {
    import graft.operators.{Ann, Search, SearchConfig}
    implicit val sqlCtx = spark.sqlContext
    val idxDir = java.nio.file.Files.createTempDirectory("graft-stream-ivf").toString
    val stream = MemoryStream[(Long, Seq[Float])]
    stream.addData((1L, Seq(0f, 0f)), (2L, Seq(10f, 0f)), (3L, Seq(0f, 10f)))
    stream.addData((4L, Seq(10f, 10f))) // arrives in a later micro-batch

    var state: DataFrame = Seq.empty[(Long, Seq[Float])].toDF("id", "feature")
    val q = StreamingIngest.upsertWriter(
      stream.toDF.toDF("id", "feature"),
      IngestConfig(Seq("id"), Seq("feature")),
      readState = () => state,
      writeState = df => state = df.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toDF("id", "feature"),
      // the reference's RecentInsertCount-gated rebuild (newsync.go:98-101,
      // 169-222): rebuild the index from the merged state, atomically
      // persist, queries probe the stored layout
      onBatch = (merged, _) => {
        val (indexed, centroids) =
          Ann.ivfBuild(merged, "feature", k = 2, normalize = false)
        Ann.ivfSave(idxDir, indexed, centroids)
      }
    ).start()
    q.awaitTermination(60000)

    val (stored, centroids) = Ann.ivfLoad(spark, idxDir)
    assert(stored.count() == 4) // index reflects the LAST batch's state
    val res = Ann.ivfSearch(stored, centroids, Seq(10f, 10f),
      SearchConfig(scoreFuncName = "VectorDistance", higherIsBetter = false,
        limit = 1, featureCol = "feature", keyCols = Seq("id"),
        tieBreakCol = Some("id"), assumeUniqueKeys = true),
      nProbe = 2)
    assert(res.select("id").as[Long].head == 4L) // late row is queryable
  }

  test("incremental index maintenance: onBatchRows ivfAppends each micro-batch") {
    import graft.operators.{Ann, Search, SearchConfig}
    implicit val sqlCtx = spark.sqlContext
    val idxDir = java.nio.file.Files.createTempDirectory("graft-stream-append").toString
    // seed index built once from the initial corpus
    val initial = Seq((1L, Seq(0f, 0f)), (2L, Seq(10f, 0f)), (3L, Seq(0f, 10f)))
      .toDF("id", "feature")
    val (indexed, centroids) = Ann.ivfBuild(initial, "feature", k = 2, normalize = false)
    Ann.ivfSave(idxDir, indexed, centroids)

    val stream = MemoryStream[(Long, Seq[Float])]
    stream.addData((4L, Seq(9f, 9f)))
    stream.addData((5L, Seq(1f, 0f))) // a later micro-batch
    var state: DataFrame = initial
    val q = StreamingIngest.upsertWriter(
      stream.toDF.toDF("id", "feature"),
      IngestConfig(Seq("id"), Seq("feature")),
      readState = () => state,
      writeState = df => state = df.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toDF("id", "feature"),
      // assignment-only maintenance: no KMeans refit per batch — each
      // micro-batch's rows file under their nearest STORED centroid
      onBatchRows = (batch, _) =>
        Ann.ivfAppend(batch.sparkSession, idxDir, batch, "feature", normalize = false)
    ).start()
    q.awaitTermination(60000)

    val (stored, after) = Ann.ivfLoad(spark, idxDir)
    assert(stored.count() == 5)
    assert(after.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq) // unchanged
    val res = Ann.ivfSearch(stored, after, Seq(9f, 9f),
      SearchConfig(scoreFuncName = "VectorDistance", higherIsBetter = false,
        limit = 1, featureCol = "feature", keyCols = Seq("id"),
        tieBreakCol = Some("id"), assumeUniqueKeys = true),
      nProbe = 1)
    assert(res.select("id").as[Long].head == 4L) // appended row is queryable
  }

  test("onBatchRows sees only rows that LANDED: capacity-rejected batch never indexes") {
    implicit val sqlCtx = spark.sqlContext
    var state: DataFrame = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    var seen = Vector.empty[Set[Long]]
    // targetN = 5 with the gate ON; priority col "v" collapses
    // intra-batch duplicates to one winner per key
    val cfg = IngestConfig(Seq("id"), Seq("v"), targetN = 5L, noTarget = false,
      updatesPriorityCol = Some("v"))
    def run(rows: (Long, String)*): Unit = {
      val stream = MemoryStream[(Long, String)]
      stream.addData(rows: _*)
      val q = StreamingIngest.upsertWriter(
        stream.toDF.toDF("id", "v"), cfg,
        readState = () => state,
        writeState = df => state = df.collect().toSeq
          .map(r => (r.getLong(0), r.getString(1))).toDF("id", "v"),
        onBatchRows = (landed, _) =>
          seen = seen :+ landed.select("id").as[Long].collect().toSet
      ).start()
      q.awaitTermination(60000)
    }
    // batch 1 (state 3 < 5, admitted): both keys land, ONE row per key —
    // the raw batch had two versions of key 10, the hook must see one
    run((10L, "x"), (10L, "x-dup"), (11L, "y"))
    assert(seen == Vector(Set(10L, 11L)), s"got $seen")
    // batch 2 (state 5 >= 5, capacity-rejected): the hook must not fire
    // at all — the raw batch would have filed id 12 as a ghost index row
    run((12L, "z"))
    assert(seen == Vector(Set(10L, 11L)), s"got $seen")
    assert(state.count() == 5)
    assert(state.filter(col("id") === 12L).isEmpty)
  }

  test("watermarked windowed counts over an event stream") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    stream.addData(
      (Timestamp.valueOf("2024-01-01 00:00:10"), "click"),
      (Timestamp.valueOf("2024-01-01 00:00:50"), "click"),
      (Timestamp.valueOf("2024-01-01 00:01:10"), "view"))

    val counts = StreamingIngest.windowedCounts(
      stream.toDF.toDF("ts", "event_type"), "ts", "event_type",
      watermarkDelay = "10 seconds", windowDuration = "1 minute")

    val q = counts.writeStream
      .format("memory").queryName("wc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select($"window_start".cast("string"), $"event_type", $"count")
        .as[(String, String, Long)].collect().toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00", "click", 2L),
        ("2024-01-01 00:01:00", "view", 1L)))
    } finally q.stop()
  }

  test("lexical-index lifecycle: onBatchRows appends landed docs, queries serve the stream") {
    import graft.operators.TextRetrieval
    implicit val sqlCtx = spark.sqlContext
    val idxDir = java.nio.file.Files.createTempDirectory("graft-stream-lex").toString
    // non-empty base: the index starts from a seed corpus, the stream grows it
    var state: DataFrame = Seq((0L, "seed words here")).toDF("doc_id", "text")
    val (st, pn, ptot) = TextRetrieval.corpusStatsFull(state, "text")
    TextRetrieval.indexSave(idxDir,
      TextRetrieval.indexBuild(state, "doc_id", "text"), st, pn, ptot)

    val stream = MemoryStream[(Long, String)]
    stream.addData((1L, "spark fast spark"), (2L, "slow table scan"))
    stream.addData((3L, "spark table join table")) // later micro-batch

    // the landed-rows hook is the per-batch lexical maintenance — the
    // text twin of the IVF sidecar refresh above: only NEW admitted docs
    // reach indexAppend, satisfying its new-ids contract
    val q = StreamingIngest.upsertWriter(
      stream.toDF.toDF("doc_id", "text"),
      IngestConfig(Seq("doc_id"), Seq("text")),
      readState = () => state,
      writeState = df => state = df.collect().toSeq
        .map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text"),
      onBatchRows = (landed, _) =>
        TextRetrieval.indexAppend(spark, idxDir, landed, "doc_id", "text")
    ).start()
    q.awaitTermination(60000)

    val idx = TextRetrieval.indexLoad(spark, idxDir)
    assert(idx.stats.n == 4L, idx.stats.toString)
    val queries = Seq((1L, "spark table")).toDF("query_id", "qtext")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9))).toSet
    assert(rows(TextRetrieval.bm25Indexed(idx, "doc_id",
        queries, "query_id", "qtext", k = 10)) ==
      rows(TextRetrieval.bm25Multi(state, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)))
  }
}
