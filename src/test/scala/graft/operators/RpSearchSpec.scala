package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Rademacher random-projection search ([[Ann.rpSearch]]): the
  * driver-side projection twin is bit-identical to the column
  * expression, a full-coverage refine reduces exactly to the exact
  * scan, the self-query comes back as its own top-1 at distance 0, and
  * the similarity-space misuse is rejected loudly. */
class RpSearchSpec extends SparkTestBase {

  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val cfg = SearchConfig(
    scoreFuncName = "VectorDistance", higherIsBetter = false, limit = 5,
    featureCol = "embedding", keyCols = Seq("vec_id"),
    tieBreakCol = Some("vec_id"), assumeUniqueKeys = true)

  private def corpus(n: Int, dim: Int, seed: Long) =
    (0 until n).map { id =>
      val rnd = new java.util.Random(seed * 7919L + id)
      (id.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }

  test("column projection == driver-side twin, bit-identical") {
    (1 to 5).foreach { seed =>
      val dim = sample(Gen.choose(3, 24), seed)
      val projDim = sample(Gen.choose(1, 9), seed + 50)
      val rows = corpus(20, dim, seed)
      val got = rows.toDF("vec_id", "embedding")
        .select($"vec_id", Ann.rpProject($"embedding", projDim).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      rows.foreach { case (id, v) =>
        val local = Ann.rpProjectLocal(v, projDim)
        assert(got(id) === local.toSeq,
          s"seed=$seed id=$id: column ${got(id)} vs local ${local.toSeq}")
      }
    }
  }

  test("full-coverage refine == exact scan; self-query is top-1 at 0") {
    val rows = corpus(60, 12, 3L)
    val df = rows.toDF("vec_id", "embedding")
    val q = rows(7)._2
    // refine · limit ≥ n → the shortlist IS the corpus → identical rows
    val viaRp = Ann.rpSearch(df, q, cfg, projDim = 6, refine = 12)
      .select($"vec_id", round(col(Search.ScoreCol), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaExact = Search.search(df, q, cfg)
      .select($"vec_id", round(col(Search.ScoreCol), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaRp === viaExact)
    assert(viaRp.head._1 === 7L && viaRp.head._2 === 0.0)
    // tight refine: the self row STILL surfaces first (its projected
    // distance is exactly 0 — the projection is a pure function)
    val tight = Ann.rpSearch(df, q, cfg, projDim = 6, refine = 1).collect()
    assert(tight.head.getLong(0) === 7L)
    assert(tight.length === cfg.limit)
  }

  test("recall is high on a clustered corpus at modest refine") {
    // 4 tight clusters: projected distances preserve the cluster gap, so
    // the shortlist finds the true neighbours with refine 3
    val centers = Seq.tabulate(4)(c =>
      Array.fill(16)(new java.util.Random(c * 31L).nextGaussian() * 5))
    val rows = (0 until 200).map { id =>
      val rnd = new java.util.Random(id * 13L + 1)
      val c = centers(id % 4)
      (id.toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows(0)._2
    val exact = Search.search(df, q, cfg.copy(limit = 10))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = Ann.rpSearch(df, q, cfg.copy(limit = 10),
        projDim = 6, refine = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall under clustered corpus")
  }

  test("rpSearchEncoded over a stored projection == on-the-fly rpSearch") {
    val rows = corpus(70, 14, 8L)
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-rpenc").toString
    Ann.rpEncode(df, "embedding", projDim = 6)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = rows(3)._2
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d
      .select($"vec_id", round(col(Search.ScoreCol), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaStored = rowsOf(Ann.rpSearchEncoded(stored, q, cfg,
      projDim = 6, refine = 3))
    val viaFly = rowsOf(Ann.rpSearch(df, q, cfg, projDim = 6, refine = 3))
    assert(viaStored === viaFly)
    val e = intercept[IllegalArgumentException] {
      Ann.rpSearchEncoded(df, q, cfg, projDim = 6)
    }
    assert(e.getMessage.contains("__rp"))
  }

  test("rpMultiSearch == rpSearch per query of the batch") {
    val rows = corpus(80, 10, 5L)
    val df = rows.toDF("vec_id", "embedding")
    val qids = Seq(0L, 17L, 42L)
    val queries = rows.filter(t => qids.contains(t._1))
      .toDF(Search.QueryIdCol, "embedding")
    // the context config re-scores against a corpus vector in both paths
    Seq(cfg, cfg.copy(context = SearchContext(vectors = Seq(rows(5)._2))))
      .foreach { c =>
        val multi = Ann.rpMultiSearch(df, queries, c, projDim = 5, refine = 4)
          .select(col(Search.QueryIdCol), $"vec_id",
            round(col(Search.ScoreCol), 9).as("s"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        qids.foreach { q =>
          val single = Ann.rpSearch(df, rows(q.toInt)._2, c,
              projDim = 5, refine = 4)
            .select($"vec_id", round(col(Search.ScoreCol), 9).as("s"))
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(single.size === c.limit)
          single.foreach { case (id, s) =>
            assert(multi.get((q, id)).contains(s),
              s"context=${c.context} query $q doc $id: " +
                s"multi=${multi.get((q, id))} single=$s")
          }
        }
        assert(multi.size === qids.size * c.limit)
      }
  }

  test("similarity-space misuse is rejected loudly") {
    val df = corpus(5, 4, 9L).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.rpSearch(df, Seq(1f, 0f, 0f, 0f),
        cfg.copy(scoreFuncName = "CosineSimilarity", higherIsBetter = true))
    }
    assert(e.getMessage.contains("projected L2"))
  }
}
