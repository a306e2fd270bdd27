package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Search, SearchConfig}

/** The brute-force oracle must agree with the library on a corpus built
  * to tie: mirrored points sit at equal L2 distance and equal cosine from
  * the query, so only the `vec_id` tie-break orders them. */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", 2).config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val q = Array(0f, 0f, 0f, 0f)

  /** Eight ring points at radius 1 and 2 around the origin (every point
    * on a ring ties with the rest of it), plus two exact copies. */
  private val corpus: Seq[Vec] = {
    val ring = for {
      r <- Seq(1f, 2f)
      (x, y) <- Seq((1f, 0f), (0f, 1f), (-1f, 0f), (0f, -1f))
    } yield Array(r * x, r * y, 0.5f, 0f)
    val pts = ring ++ Seq(ring(2), ring(5))
    // ids deliberately out of insertion order
    pts.zipWithIndex.map { case (v, i) =>
      Vec((i * 7 % 10).toLong, v, s"g${i % 3}", s"""{"vec_id":$i}""")
    }
  }

  private lazy val frame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      corpus.map(v => Row(v.id, v.v.toSeq, v.group, v.label)), 3),
    StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = false)),
      StructField("group_label", StringType),
      StructField("label", StringType))))

  private val cfg = SearchConfig(limit = 5, keyCols = Seq("vec_id"),
    assumeUniqueKeys = true, tieBreakCol = Some("vec_id"))

  test("the planted ties are real") {
    val scores = Oracle.topL2(corpus, q, corpus.size).map(_.score)
    assert(scores.distinct.size < scores.size)
  }

  test("exact L2 top-k agrees with Search.search, ties by vec_id") {
    for (k <- 1 to corpus.size) {
      val got = Search.search(frame, q.toSeq, cfg.copy(limit = k)).collect()
        .map(r => Oracle.Hit(r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSeq
      assert(Oracle.sameHits(got, Oracle.topL2(corpus, q, k)), s"k=$k")
    }
  }

  test("batch top-k agrees with Search.multiSearch for every query") {
    val queries = Seq(q, Array(1f, 0f, 0.5f, 0f), Array(0f, 2f, 0.5f, 0f))
    val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
      queries.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }, 1),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("feature", ArrayType(FloatType, containsNull = false)))))
    val got = Search.multiSearch(frame, qdf, cfg).collect()
      .groupBy(_.getAs[Long]("query_id"))
    queries.zipWithIndex.foreach { case (v, i) =>
      val hits = got(i.toLong).toSeq
        .map(r => Oracle.Hit(r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
        .sortBy(h => (h.score, h.id))
      assert(Oracle.sameHits(hits, Oracle.topL2(corpus, v, 5)), s"query $i")
    }
  }

  test("grouped cosine agrees with Search.search's group merge") {
    val qv = Array(1f, 1f, 0.5f, 0f)
    val gcfg = SearchConfig(scoreFuncName = "CosineSimilarity", higherIsBetter = true,
      limit = 3, groupLimit = 2, keyCols = Seq("vec_id"), assumeUniqueKeys = true,
      tieBreakCol = Some("vec_id"))
    val got = Search.search(frame, qv.toSeq, gcfg).collect().map(r =>
      (r.getAs[String]("group_label"), r.getAs[Long]("vec_id"))).toSeq
    val want = Oracle.groupedCosine(corpus, qv, 3, 2).map { case (g, h) => (g, h.id) }
    assert(got === want)
  }
}
