package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.model.DatasetCatalog
import graft.operators.{Ann, Search, SearchConfig}

/** kNN reads, the online and the batch path over one corpus. A closed
  * loop of serving requests (each resolves the table through the catalog,
  * then runs one of four queries in turn: exact L2 top-10, cosine grouped
  * top-5×3, JSON-filtered L2 top-10, IVF top-10) with one batch call after
  * every [[ServePerBatch]] requests, rotating through three narrow exact
  * batches, one wide exact batch and one IVF batch.
  *
  * Serving requests are fixed-cost dominated: table resolution, plan
  * build, job launch. Batch calls score millions of pairs, so the vector
  * kernel, the broadcast nested-loop join and the per-query top-k
  * aggregate carry them; the wide width is past the 128-query point where
  * the top-k aggregate falls back to sort. The latency metrics come from
  * the requests, the throughput metric from the batches, so a fixed
  * overhead cut and a batch-path cut each move their own metric. */
final class Knn(seed: Long) extends Workload {
  val Dim = 64
  val CorpusRows = 6000
  val IvfCells = 32
  val NProbe = 4
  val ServePerBatch = 6
  val Narrow = 64
  val Wide = 160
  /** Operations per cycle: the requests plus the five batch calls. */
  val Cycle: Int = 5 * (ServePerBatch + 1)
  val mix = new Gen.Mixture(seed, Dim, 64, 0.6, 1.0)
  val corpus: Array[Vec] = mix.corpus(CorpusRows, 1)
  val serveQueries: Array[Array[Float]] = mix.queries(2048, 2)
  val batchQueries: Array[Array[Float]] = mix.queries(4096, 3)

  val l2Cfg = SearchConfig(limit = 10, keyCols = Seq("vec_id"),
    assumeUniqueKeys = true, tieBreakCol = Some("vec_id"))

  private var spark: SparkSession = _
  private var catalog: DatasetCatalog = _
  private var centroids: Array[Array[Double]] = _
  /** vec_id → IVF cell, read back from the stored layout. */
  private var cellOf: Map[Long, Int] = Map.empty
  private var catalogRoot = ""

  lazy val inputDigest: String = {
    val d = new Gen.Digest
    corpus.foreach(d.vec)
    (serveQueries ++ batchQueries).foreach(d.floats)
    d.hex
  }

  val cosGroupedCfg = SearchConfig(scoreFuncName = "CosineSimilarity",
    higherIsBetter = true, limit = 5, groupLimit = 3, keyCols = Seq("vec_id"),
    assumeUniqueKeys = true, tieBreakCol = Some("vec_id"))
  val filteredCfg = l2Cfg.copy(filters = Seq("attrs.hot"))
  private val hot: Set[Long] = corpus.filter(_.label.contains("\"hot\"")).map(_.id).toSet
  private var recalls = Vector.empty[Double]
  private var nextBatchQuery = 0

  def setup(s: SparkSession, root: String, tr: Tracer): Unit = {
    spark = s
    catalogRoot = s"$root/catalog"
    catalog = new DatasetCatalog(spark, catalogRoot)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("group_label", StringType),
      StructField("label", StringType)))
    val rows = corpus.toSeq.map(v => Row(v.id, v.v.toSeq, v.group, v.label))
    catalog.write("vectors", spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema))
    val (indexed, cents) = tr.span("operators.ivf_build") {
      Ann.ivfBuild(catalog.table("vectors"), "feature", IvfCells, normalize = false)
    }
    catalog.writePartitioned("vectors_ivf", indexed, "cluster")
    centroids = cents
  }

  override def prepareOracle(s: SparkSession): Unit =
    cellOf = catalog.table("vectors_ivf").select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The `nProbe` cells an IVF query probes: centroids by ascending
    * squared L2 distance, ties by cell id (`Ann.probeCells`). */
  def probedCells(q: Array[Float]): Set[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length) { val x = q(j).toDouble - c(j); d += x * x; j += 1 }
      (d, i)
    }.sorted.take(NProbe).map(_._2).toSet

  /** The exact answer restricted to the probed cells: what a correct IVF
    * search returns. */
  def ivfExact(q: Array[Float]): Seq[Oracle.Hit] = {
    val cells = probedCells(q)
    Oracle.topL2(corpus.filter(v => cells(cellOf(v.id))), q, 10)
  }

  private def hits(rows: Seq[Row]): Seq[Oracle.Hit] =
    rows.map(r => Oracle.Hit(r.getAs[Long]("vec_id"), r.getAs[Double]("score")))

  private def catalogBytes: Double = Io.treeBytes(catalogRoot)

  /** Logical bytes of the corpus rows: id, floats and both strings. */
  private def logicalBytes: Double =
    corpus.map(v => 8L + 4L * v.v.length + v.group.length + v.label.length).sum.toDouble

  /** Vector kernel and JSON-filter kernel throughput over a cached frame
    * of generated rows, evaluated with the noop sink as `graft.Bench`
    * does. */
  override def kernelRates(s: SparkSession): Map[String, Double] = {
    val frame = catalog.table("vectors").crossJoin(s.range(8).toDF("rep")).cache()
    val n = frame.count()
    val q = mix.queries(1, 99).head
    def rate(df: DataFrame): Double = n / Seq.fill(3)(Io.timeNoop(df)).min
    val r = Map(
      "vector_score" -> rate(frame.select(graft.functions.ScoreFunctions
        .vectorDistance(col("feature"), org.apache.spark.sql.functions.lit(q)))),
      "gjson_filter" -> rate(frame.filter(
        graft.operators.GjsonPath.exists(col("label"), "attrs.hot"))))
    frame.unpersist()
    r
  }

  override def cycle: Int = Cycle

  /** Batch calls are the only samples of their layers, so wide and IVF
    * batches are always traced; requests and narrow batches alternate. */
  override def traced(i: Int): Boolean = {
    val pos = i % Cycle
    if (pos % (ServePerBatch + 1) != ServePerBatch) i % 2 == 0
    else pos / (ServePerBatch + 1) >= 3 || pos / (ServePerBatch + 1) == 1
  }

  def op(i: Int, tr: Tracer): Op = {
    val pos = i % Cycle
    if (pos % (ServePerBatch + 1) == ServePerBatch) batch(pos / (ServePerBatch + 1), tr)
    else serve(i / (ServePerBatch + 1) * ServePerBatch + pos % (ServePerBatch + 1), tr)
  }

  private def serve(r: Int, tr: Tracer): Op = {
    val q = serveQueries(r % serveQueries.length)
    r % 4 match {
      case 0 =>
        val t = tr.span("model.table")(catalog.table("vectors"))
        val rows = tr.span("operators.search")(Search.search(t, q, l2Cfg).collect().toSeq)
        Op("exact_l2", 1, rows.size, () =>
          Seq("exact_l2" -> Oracle.sameHits(hits(rows), Oracle.topL2(corpus, q, 10))))
      case 1 =>
        val t = tr.span("model.table")(catalog.table("vectors"))
        val rows = tr.span("operators.search")(
          Search.search(t, q, cosGroupedCfg).collect().toSeq)
        Op("cosine_grouped", 1, rows.size, () => {
          val want = Oracle.groupedCosine(corpus, q, 5, 3)
          val got = rows.map(r => (r.getAs[String]("group_label"),
            r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
          // group scores are sums, so allow summation-order rounding
          val ok = got.size == want.size && got.zip(want).forall {
            case ((g, id, s), (wg, wh)) =>
              g == wg && id == wh.id && math.abs(s - wh.score) <= 1e-9 * math.abs(wh.score)
          }
          Seq("cosine_grouped" -> ok)
        })
      case 2 =>
        val t = tr.span("model.table")(catalog.table("vectors"))
        val rows = tr.span("operators.search")(
          Search.search(t, q, filteredCfg).collect().toSeq)
        Op("filtered_l2", 1, rows.size, () => Seq("filtered_l2" -> Oracle.sameHits(
          hits(rows), Oracle.topL2(corpus.filter(v => hot(v.id)), q, 10))))
      case _ =>
        val t = tr.span("model.table")(catalog.table("vectors_ivf"))
        val rows = tr.span("operators.search")(
          Ann.ivfSearch(t, centroids, q, l2Cfg, NProbe).collect().toSeq)
        Op("ivf", 1, rows.size, () => {
          val got = hits(rows)
          recalls :+= Oracle.recall(got.map(_.id), Oracle.topL2(corpus, q, 10).map(_.id))
          Seq("ivf" -> Oracle.sameHits(got, ivfExact(q)))
        })
    }
  }

  private def take(n: Int): Seq[(Long, Array[Float])] = {
    val qs = (0 until n).map { j =>
      val k = nextBatchQuery + j
      (k.toLong, batchQueries(k % batchQueries.length))
    }
    nextBatchQuery += n
    qs
  }

  private def queryFrame(qs: Seq[(Long, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      qs.map { case (id, v) => Row(id, v.toSeq) }, 1), schema)
  }

  private def byQuery(rows: Seq[Row]): Map[Long, Seq[Oracle.Hit]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (k, rs) =>
      k -> hits(rs).sortBy(h => (h.score, h.id))
    }

  /** Batch call `b` of the cycle: 0-2 narrow, 3 wide, 4 IVF. */
  private def batch(b: Int, tr: Tracer): Op = {
    val n = if (b == 3) Wide else Narrow
    val qs = take(n)
    val qdf = queryFrame(qs)
    if (b < 4) {
      val kind = if (b == 3) "wide" else "narrow"
      val t = tr.span("model.table")(catalog.table("vectors"))
      val rows = tr.span(s"operators.search_multi.$kind") {
        Search.multiSearch(t, qdf, l2Cfg).select("query_id", "vec_id", "score")
          .collect().toSeq
      }
      Op(s"batch_$kind", n, rows.size, () => {
        val got = byQuery(rows)
        qs.map { case (id, v) =>
          s"multi_$kind" -> Oracle.sameHits(got.getOrElse(id, Nil), Oracle.topL2(corpus, v, 10))
        }
      })
    } else {
      val t = tr.span("model.table")(catalog.table("vectors_ivf"))
      val rows = tr.span("operators.ivf_multi") {
        Ann.ivfMultiSearch(t, centroids, qdf, l2Cfg, NProbe)
          .select("query_id", "vec_id", "score").collect().toSeq
      }
      Op("batch_ivf", n, rows.size, () => {
        val got = byQuery(rows)
        qs.map { case (id, v) =>
          val g = got.getOrElse(id, Nil)
          recalls :+= Oracle.recall(g.map(_.id), Oracle.topL2(corpus, v, 10).map(_.id))
          "ivf_multi" -> Oracle.sameHits(g, ivfExact(v))
        }
      })
    }
  }

  /** Latency from the serving requests; throughput from the batch calls,
    * each timed at the median latency of its kind, so one call caught by
    * a load spike on the host does not set the figure. */
  def metrics(lat: Seq[(Op, Double)]): Map[String, Double] = {
    val (batches, requests) = lat.partition(_._1.kind.startsWith("batch_"))
    val sorted = requests.map(_._2).sorted
    val batchMs = batches.groupBy(_._1.kind).values
      .map(ls => ls.size * Stats.median(ls.map(_._2))).sum
    Map(
      "p50_ms" -> Stats.median(sorted),
      "tail_ms" -> Stats.tail(sorted)._2,
      "tail_rank" -> Stats.tail(sorted)._1.toDouble / sorted.size,
      "items_per_s" -> batches.map(_._1.items).sum / (batchMs / 1000),
      "recall_at_10" -> recalls.sum / math.max(recalls.size, 1),
      "space_amp" -> catalogBytes / logicalBytes)
  }

  def layerExtras(tr: Tracer, slots: Int): Map[String, Double] = Map(
    "operators.search.overhead_ms" -> Tracer.overheadMs(tr, "operators.search", slots),
    "operators.search.rows_read_per_result" -> Tracer.rowsReadPerResult(tr,
      Set("operators.search", "operators.search_multi.narrow",
        "operators.search_multi.wide", "operators.ivf_multi")))

  /** One request of each kind, on queries the loop does not use. Batch
    * calls get no warm-up: the narrow time is the median of three, which
    * leaves out the first, coldest one. */
  override def warmup(): Unit = {
    val off = new Tracer
    (0 until 4).foreach(k => serve(serveQueries.length - 4 + k, off))
  }
}
