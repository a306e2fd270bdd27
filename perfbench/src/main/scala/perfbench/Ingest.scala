package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis.GopherThresholds
import graft.model.DatasetCatalog
import graft.operators.{Ann, Clustering, Dedup, Ingest, LangId, LanguageModel,
  QualityClassifier, Search, SearchConfig, TextRetrieval}
import graft.streaming.{CurationPipeline, StreamingDedup}

/** Writes beside reads: micro-batches of generated documents go through
  * the curation gates, admitted rows are upserted into the catalog and
  * appended to the lexical index, and a read-your-writes probe follows
  * each batch. Every second batch runs a maintenance sweep once its own
  * commit is readable. */
final class IngestCurate(seed: Long) extends Workload {
  val BatchDocs = 100
  val SweepEvery = 2
  val EmbDim = 32
  val SeedDocs = 500

  private val stream = new Gen.DocStream(seed, EmbDim)
  private val seedCorpus = stream.cleanDocs(SeedDocs, 1, corpus = true)
  private val trainDocs = stream.cleanDocs(500, 2, corpus = false)
  private val junkDocs = {
    val r = new scala.util.Random(seed * 17 + 3)
    (0 until 200).map(j => Doc(-1L - j, stream.junkText(r), "en", Array.empty, "junk"))
  }
  /** Micro-batches generated so far. They are generated in order, as the
    * loop reaches them, since a batch may copy documents of earlier ones. */
  private val batches = mutable.ArrayBuffer.empty[Seq[Doc]]
  private val byId = mutable.HashMap.from(seedCorpus.map(d => d.id -> d))

  def batchDocs(i: Int): Seq[Doc] = {
    while (batches.size <= i) {
      val b = stream.batch(batches.size, BatchDocs)
      b.foreach(d => byId(d.id) = d)
      batches += b
    }
    batches(i)
  }

  override def prepare(i: Int): Unit = batchDocs(i)

  def inputDigest: String = {
    val d = new Gen.Digest
    (seedCorpus ++ trainDocs ++ junkDocs ++ batches.flatten).foreach(d.doc)
    d.hex
  }

  private val gateCfg = CurationPipeline.CurationConfig(
    allowLangs = Some(Gen.AllowedLangs),
    gopher = Some(GopherThresholds(minWords = 10, maxWords = 10000,
      minMeanWordLen = 2, maxMeanWordLen = 12, maxSymbolWordRatio = 0.1,
      minAlphaWordFrac = 0.8, minStopwordHits = 0)),
    minAvgLogodds = Some(0.0),
    lexical = Some(StreamingDedup.DedupGateConfig("doc_id", "text",
      n = 3, bands = 4, threshold = 0.6)),
    semanticThreshold = Some(0.95))
  private val ingestCfg = Ingest.IngestConfig(keyCols = Seq("doc_id"),
    valueCols = Seq("text", "embedding"))
  private val probeCfg = SearchConfig(limit = 1, featureCol = "embedding",
    keyCols = Seq("doc_id"), assumeUniqueKeys = true, tieBreakCol = Some("doc_id"))
  private val IvfProbes = 1
  private val RecallQueries = 50

  private var spark: SparkSession = _
  private var catalog: DatasetCatalog = _
  private var catalogRoot = ""
  private var stateRoot = ""
  private var state: CurationPipeline.CurationState = _
  private var minLogprob = 0.0
  private var lexKeys: DataFrame = _
  private var sinceSweep: Seq[DataFrame] = Nil

  // oracle state: the ids the catalog must hold, and their texts
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private val liveTexts = mutable.HashSet.empty[String]
  private var admittedTotal = 0L
  private var inputTotal = 0L
  private val admittedBytes = mutable.HashMap.empty[Int, Long]
  private var recalls = Vector.empty[Double]
  /** Per batch, arrival until durable and readable: the sweep that may
    * follow is not part of it. */
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private var spaceAmp = Double.NaN

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.emb.toSeq)), spark.sparkContext.defaultParallelism),
      schema)

  private def ivfDir = s"$stateRoot/ivf"
  private def textDir = s"$stateRoot/text"
  private def clusterDir = s"$stateRoot/cluster"

  def setup(s: SparkSession, root: String, tr: Tracer): Unit = {
    spark = s
    catalogRoot = s"$root/catalog"
    stateRoot = s"$root/state"
    catalog = new DatasetCatalog(spark, catalogRoot)
    catalog.write("docs", frame(seedCorpus))
    catalog.save()
    val corpus = catalog.table("docs")
    val train = frame(trainDocs)
    val (lid, lm, nb, clusters) = tr.span("operators.train") {
      val lid = LangId.train(spark.createDataFrame(graft.operators.LangIdFixture.Train
        .filter { case (l, _) => Gen.Langs.contains(l) }).toDF("lang", "text"),
        "lang", "text", 3, 20000)
      val lm = LanguageModel.trainBigram(train, "text", vocabCap = 5000)
      val nb = QualityClassifier.trainNb(train,
        spark.createDataFrame(junkDocs.map(d => (d.id, d.text))).toDF("doc_id", "text"),
        "text", vocabCap = 5000)
      val clusters = Clustering.lloydByGroup(
        corpus.select(col("doc_id"), col("embedding"), (col("doc_id") % 16).as("g")),
        "g", "embedding", iters = 3)
      (lid, lm, nb, clusters)
    }
    // perplexity floor: half a nat under the worst seed document, which
    // the LM did not see in training
    minLogprob = LanguageModel.scoreDocs(corpus, "doc_id", "text", lm)
      .agg(org.apache.spark.sql.functions.min("avg_logprob")).head().getDouble(0) - 0.5
    Clustering.clusterSave(clusterDir,
      clusters.assigned.select("doc_id", "embedding", "cluster"), clusters.centroids)
    val (st, pn, ptot) = TextRetrieval.corpusStatsFull(corpus, "text")
    TextRetrieval.indexSave(textDir,
      TextRetrieval.indexBuild(corpus, "doc_id", "text"), st, pn, ptot)
    val (indexed, cents) = tr.span("operators.ivf_build") {
      Ann.ivfBuild(corpus, "embedding", k = -1, normalize = false,
        knownRows = catalog.rowCount("docs").getOrElse(-1L))
    }
    Ann.ivfSave(ivfDir, indexed, cents)
    lexKeys = Dedup.minhashBandKeys(corpus, "doc_id", "text").localCheckpoint(true)
    state = CurationPipeline.CurationState(lid = Some(lid), lm = Some(lm), nb = Some(nb))
    sinceSweep = Nil
  }

  override def prepareOracle(s: SparkSession): Unit = {
    live.clear(); liveTexts.clear()
    seedCorpus.foreach(d => { live(d.id) = d.text; liveTexts += d.text })
  }

  override def cycle: Int = SweepEvery

  def op(i: Int, tr: Tracer): Op = {
    val arrival = System.nanoTime()
    val batch = frame(batchDocs(i))
    val cfg = gateCfg.copy(minAvgLogprob = Some(minLogprob))
    val admitted = tr.span("streaming.curate") {
      val corpus = tr.span("model.table")(catalog.table("docs"))
      val r = CurationPipeline.curateBatch(batch, cfg, state.copy(
        lexCorpus = Some((corpus.select("doc_id", "text"), lexKeys)),
        cluster = Some(Clustering.clusterLoad(spark, clusterDir))))
      val adm = r.admitted.localCheckpoint(true)
      lexKeys = lexKeys.unionByName(r.lexKeys.get.localCheckpoint(true))
      Clustering.clusterAppend(spark, clusterDir, adm.select("doc_id", "embedding", "cluster"))
      adm.select("doc_id", "text", "embedding")
    }
    val ids = admitted.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    tr.span("model.upsert")(catalog.upsertInto("docs", admitted, ingestCfg))
    tr.span("operators.text_index") {
      TextRetrieval.indexAppend(spark, textDir, admitted, "doc_id", "text")
    }
    sinceSweep :+= admitted
    // read-your-writes: the first admitted document must come back from
    // both the vector and the lexical read path
    val probe = ids.headOption.map(byId)
    val (vecHit, lexHits) = probe.fold((Seq.empty[Long], Seq.empty[Long])) { p =>
      val t = tr.span("model.table")(catalog.table("docs"))
      tr.span("operators.search") {
        val v = Search.search(t, p.emb.toSeq, probeCfg).select("doc_id").collect()
          .map(_.getLong(0)).toSeq
        val q = spark.createDataFrame(Seq((0L, p.text))).toDF("qid", "qtext")
        val l = TextRetrieval.bm25Indexed(TextRetrieval.indexLoad(spark, textDir),
          "doc_id", q, "qid", "qtext", k = 10).select("doc_id").collect()
          .map(_.getLong(0)).toSeq
        (v, l)
      }
    }
    commitMs += (System.nanoTime() - arrival) / 1e6
    val swept = if (i % SweepEvery == SweepEvery - 1) Some(sweep(tr)) else None
    Op(if (swept.isDefined) "commit_sweep" else "commit", BatchDocs,
      vecHit.size + lexHits.size, () => {
        inputTotal += BatchDocs
        admittedTotal += ids.size
        admittedBytes(i) = ids.map(id => userBytes(byId(id))).sum
        // no admitted document may repeat the text of a live one
        val fresh = ids.map { id =>
          val t = byId(id).text
          val ok = !liveTexts.contains(t)
          live(id) = t
          liveTexts += t
          ok
        }
        swept.foreach(afterSweep)
        fresh.map("admit_no_exact_dup" -> _) ++ probe.toSeq.flatMap { p =>
          Seq("read_probe_search" -> (vecHit == Seq(p.id)),
            "read_probe_bm25" -> lexHits.contains(p.id))
        }
      })
  }

  /** The maintenance sweep: lexical near-duplicate purge of the whole
    * corpus, then the index rewrites that follow it. Returns the kept
    * rows. */
  private def sweep(tr: Tracer): DataFrame = {
    val kept = tr.span("operators.dedup_sweep") {
      val corpus = tr.span("model.table")(catalog.table("docs"))
      val pairs = Dedup.jaccardPairsAuto(corpus, "doc_id", "text", n = 3,
        threshold = 0.6, knownRows = catalog.rowCount("docs").getOrElse(-1L))
      val res = Dedup.resolve(pairs, corpus.select("doc_id"), "doc_id")
      val kept = Dedup.purge(corpus, "doc_id", res).localCheckpoint(true)
      catalog.write("docs", kept)
      Ann.ivfAppend(spark, ivfDir, sinceSweep.reduce(_.unionByName(_)), "embedding",
        normalize = false)
      Ann.ivfCompactAuto(spark, ivfDir, kept.select("doc_id"), "doc_id", "embedding",
        normalize = false)
      kept
    }
    tr.span("operators.text_index") {
      TextRetrieval.indexCompact(spark, textDir, kept.select("doc_id"), "doc_id")
    }
    sinceSweep = Nil
    kept
  }

  /** Untimed, after a sweep: drop the purged ids from the oracle's live
    * set, take the space amplification (first sweep only) and the IVF
    * recall of a batch of generated queries against the live corpus. */
  private def afterSweep(kept: DataFrame): Unit = {
    val rows = kept.collect()
    val keptIds = rows.map(_.getLong(0)).toSet
    (live.keySet -- keptIds).toSeq.foreach(id => liveTexts -= live.remove(id).get)
    if (spaceAmp.isNaN)
      spaceAmp = Io.treeBytes(catalogRoot) / rows.map(r => 8L +
        r.getString(1).getBytes("UTF-8").length + 4L * r.getSeq[Float](2).size).sum
    val liveVecs = rows.map(r => Vec(r.getLong(0), r.getSeq[Float](2).toArray, "", ""))
    val (ivfData, cents) = Ann.ivfLoad(spark, ivfDir)
    val qs = new Gen.Mixture(seed + 7, EmbDim, 16, 1.0, 0.6)
      .queries(RecallQueries, recalls.size + 1000)
    val qdf = spark.createDataFrame(qs.toSeq.zipWithIndex.map { case (q, j) =>
      (j.toLong, q.toSeq) }).toDF("query_id", "embedding")
    val got = Ann.ivfMultiSearch(ivfData, cents, qdf, probeCfg.copy(limit = 10), IvfProbes)
      .select("query_id", "doc_id").collect()
      .groupBy(_.getLong(0)).map { case (j, rs) => j -> rs.map(_.getLong(1)).toSeq }
    recalls :+= qs.indices.map { j =>
      Oracle.recall(got.getOrElse(j.toLong, Nil), Oracle.topL2(liveVecs, qs(j), 10).map(_.id))
    }.sum / qs.length
  }

  private def userBytes(d: Doc): Long = 8L + d.text.getBytes("UTF-8").length + 4L * d.emb.length

  override def endChecks(s: SparkSession, root: String): Seq[(String, Boolean)] = {
    // a fresh catalog on the same root must serve every acknowledged id
    val fresh = new DatasetCatalog(s, catalogRoot)
    fresh.load()
    val ids = fresh.table("docs").select("doc_id").collect().map(_.getLong(0)).toSet
    Seq("reload_has_acknowledged" -> live.keySet.subsetOf(ids),
      "reload_no_extra_ids" -> ids.subsetOf(live.keySet))
  }

  /** Every batch is traced: a run holds too few batches to spare one as
    * an untraced baseline, so the tracing overhead comes from `knn`. */
  override def traced(i: Int): Boolean = true

  /** The median commit time of every batch, sweep excluded; the time of
    * the batches that sweep, sweep included, as the tail, since a run
    * holds too few batches for a percentile and the sweeps set the tail;
    * throughput over all of it. */
  def metrics(lat: Seq[(Op, Double)]): Map[String, Double] = {
    Map(
      "p50_ms" -> Stats.median(commitMs.toSeq),
      "tail_ms" -> Stats.median(lat.filter(_._1.kind == "commit_sweep").map(_._2)),
      "items_per_s" -> lat.map(_._1.items).sum / (lat.map(_._2).sum / 1000),
      "recall_at_10" -> recalls.sum / math.max(recalls.size, 1),
      "space_amp" -> spaceAmp)
  }

  def layerExtras(tr: Tracer, slots: Int): Map[String, Double] = {
    val upserts = tr.allSpans.filter(_.name == "model.upsert")
    val written = upserts.map(s => tr.countersOf(s.id).bytesWritten).sum.toDouble
    val user = upserts.map(s => admittedBytes.getOrElse(s.op.toInt, 0L)).sum.toDouble
    Map(
      "operators.search.overhead_ms" -> Tracer.overheadMs(tr, "operators.search", slots),
      "operators.search.rows_read_per_result" ->
        Tracer.rowsReadPerResult(tr, Set("operators.search")),
      "model.write_amp" -> (if (user == 0) 0.0 else written / user),
      "streaming.curate.admit_ratio" -> admittedTotal.toDouble / math.max(inputTotal, 1))
  }

  /** LID, LM, NB and SimHash kernel throughput over a cached frame of the
    * corpus text, noop sink. */
  override def kernelRates(s: SparkSession): Map[String, Double] = {
    val frame = catalog.table("docs").crossJoin(s.range(4).toDF("rep"))
      .select((col("doc_id") * 4 + col("rep")).as("doc_id"), col("text")).cache()
    val n = frame.count()
    def rate(df: DataFrame): Double = n / Seq.fill(3)(Io.timeNoop(df)).min
    val r = Map(
      "lid" -> rate(LangId.scoreDocs(frame, "doc_id", "text", state.lid.get)),
      "lm_score" -> rate(LanguageModel.scoreDocs(frame, "doc_id", "text", state.lm.get)),
      "nb_score" -> rate(QualityClassifier.scoreDocs(frame, "doc_id", "text", state.nb.get)),
      "simhash" -> rate(frame.select(Dedup.simhash(col("text")))))
    frame.unpersist()
    r
  }
}
