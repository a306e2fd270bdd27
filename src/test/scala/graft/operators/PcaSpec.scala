package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** PCA fit/transform ([[Pca]]): the Jacobi solver reproduces analytic
  * eigenpairs, the fitted basis is orthonormal with descending
  * eigenvalues that equal the projected sample variances, a planted
  * dominant direction is recovered, the column projection matches the
  * driver twin, the model round-trips exactly, and the PCA-shortlist
  * search reduces to the exact scan at full coverage. */
class PcaSpec extends SparkTestBase {

  import spark.implicits._

  test("jacobiEigen reproduces the analytic 2x2 eigensystem") {
    // [[3, 1], [1, 3]] -> eigenvalues 4 and 2, vectors (1,1)/√2, (1,-1)/√2
    val (vals, vecs) = Pca.jacobiEigen(
      Array(Array(3d, 1d), Array(1d, 3d)))
    val pairs = vals.zipWithIndex.sortBy(-_._1)
    assert(math.abs(pairs(0)._1 - 4d) < 1e-12)
    assert(math.abs(pairs(1)._1 - 2d) < 1e-12)
    val v0 = Array(vecs(0)(pairs(0)._2), vecs(1)(pairs(0)._2))
    assert(math.abs(math.abs(v0(0)) - 1d / math.sqrt(2)) < 1e-12)
    assert(math.abs(v0(0) - v0(1)) < 1e-12) // (1,1) direction
  }

  /** Anisotropic Gaussian cloud: variance ~25 along `axis1`, ~4 along
    * `axis2`, ~0.01 isotropic noise elsewhere. */
  private def cloud(n: Int, d: Int, seed: Long) = {
    val axis1 = Array.tabulate(d)(i => if (i == 2) 1d else 0d)
    val axis2 = Array.tabulate(d)(i => if (i == 5) 1d else 0d)
    // ONE sequential RNG: per-row re-seeding with nearby seeds produces
    // correlated first draws (java.util.Random seed mixing), which
    // inflates the planted variance well past its nominal value
    val rnd = new java.util.Random(seed)
    (0 until n).map { id =>
      val a = rnd.nextGaussian() * 5
      val b = rnd.nextGaussian() * 2
      val base = Array.tabulate(d)(i =>
        a * axis1(i) + b * axis2(i) + rnd.nextGaussian() * 0.1 + 3d)
      (id.toLong, base.map(_.toFloat).toSeq)
    }
  }

  test("fit recovers planted directions; basis orthonormal; eigen desc") {
    val rows = cloud(400, 10, 7L)
    val m = Pca.fit(rows.toDF("vec_id", "embedding"), "embedding", k = 3)
    assert(m.dim === 10 && m.k === 3)
    // top component is ±e_2, second ±e_5 (sign canon makes them +)
    assert(m.components(0)(2) > 0.99, m.components(0).toSeq.toString)
    assert(m.components(1)(5) > 0.99, m.components(1).toSeq.toString)
    // descending eigenvalues near the planted variances
    assert(m.eigenvalues(0) > m.eigenvalues(1))
    assert(m.eigenvalues(1) > m.eigenvalues(2))
    assert(math.abs(m.eigenvalues(0) - 25d) < 4d)
    assert(math.abs(m.eigenvalues(1) - 4d) < 1d)
    // orthonormal rows
    for (i <- 0 until 3; j <- 0 until 3) {
      val dot = (0 until 10).map(x => m.components(i)(x) * m.components(j)(x)).sum
      val expect = if (i == j) 1d else 0d
      assert(math.abs(dot - expect) < 1e-9, s"V${i}.V$j = $dot")
    }
    // explained-variance ratios bounded by 1 and dominated by axis 1
    val ratios = m.eigenvalues.map(_ / m.totalVariance)
    assert(ratios.sum <= 1d + 1e-12)
    assert(ratios(0) > 0.7, ratios.toSeq.toString)
  }

  test("projected sample variance equals the eigenvalue; dims decorrelated") {
    val rows = cloud(300, 8, 3L)
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding", k = 2)
    val proj = Pca.pcaEncode(df, "embedding", m)
      .select((1 to 2).map(j =>
        element_at(col(Pca.PcaCol), j).as(s"p$j")): _*)
    val r = proj.agg(
      variance(col("p1")), variance(col("p2")),
      corr(col("p1"), col("p2")), avg(col("p1")), avg(col("p2"))).head
    assert(math.abs(r.getDouble(0) - m.eigenvalues(0)) < 1e-6 * m.eigenvalues(0))
    assert(math.abs(r.getDouble(1) - m.eigenvalues(1)) < 1e-6 * m.eigenvalues(1))
    assert(math.abs(r.getDouble(2)) < 1e-6, s"corr ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3)) < 1e-9) // centered
    assert(math.abs(r.getDouble(4)) < 1e-9)
  }

  test("column projection == driver-side twin") {
    val rows = cloud(50, 6, 11L)
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding", k = 4)
    val got = Pca.pcaEncode(df, "embedding", m)
      .select($"vec_id", col(Pca.PcaCol))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, v) =>
      val local = Pca.projectLocal(v, m)
      assert(got(id) === local.toSeq, s"id=$id")
    }
  }

  test("save/load round-trips the model exactly (with and without moments)") {
    val rows = cloud(100, 7, 5L)
    val df = rows.toDF("vec_id", "embedding")
    val mom = Pca.moments(df, "embedding")
    val m = Pca.fitFromMoments(mom, k = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-pca").toString
    Pca.pcaSave(spark, dir, m, Some(mom))
    val m2 = Pca.pcaLoad(spark, dir)
    assert(m2.mean.toSeq === m.mean.toSeq)
    assert(m2.eigenvalues.toSeq === m.eigenvalues.toSeq)
    assert(m2.totalVariance === m.totalVariance)
    assert(m2.components.map(_.toSeq).toSeq === m.components.map(_.toSeq).toSeq)
    val mom2 = Pca.pcaLoadMoments(spark, dir)
    assert(mom2.d === mom.d)
    assert(mom2.sums.toSeq === mom.sums.toSeq)
    // a momentless save still loads as a model, and the moments fetch
    // fails loudly naming the fix
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pca2").toString
    Pca.pcaSave(spark, dir2, m)
    assert(Pca.pcaLoad(spark, dir2).mean.toSeq === m.mean.toSeq)
    val e = intercept[IllegalArgumentException] {
      Pca.pcaLoadMoments(spark, dir2)
    }
    assert(e.getMessage.contains("no moment pack"))
  }

  test("pcaUpdate == refit on the union (statistic-exact up to float order)") {
    val all = cloud(500, 9, 13L)
    val (a, b) = all.splitAt(300)
    val dfA = a.toDF("vec_id", "embedding")
    val dfB = b.toDF("vec_id", "embedding")
    val dfAll = all.toDF("vec_id", "embedding")
    val updated = Pca.pcaUpdate(Pca.moments(dfA, "embedding"), dfB, "embedding")
    val full = Pca.moments(dfAll, "embedding")
    assert(updated.d === full.d)
    assert(updated.n === 500d)
    // raw moment sums agree to summation-order noise
    updated.sums.zip(full.sums).foreach { case (u, f) =>
      assert(math.abs(u - f) <= 1e-9 * math.max(1d, math.abs(f)), s"$u vs $f")
    }
    // and the resolved models agree far below any decision threshold
    val mU = Pca.fitFromMoments(updated, k = 3)
    val mF = Pca.fitFromMoments(full, k = 3)
    mU.mean.zip(mF.mean).foreach { case (u, f) => assert(math.abs(u - f) < 1e-9) }
    mU.eigenvalues.zip(mF.eigenvalues).foreach { case (u, f) =>
      assert(math.abs(u - f) < 1e-9 * math.max(1d, f)) }
    mU.components.zip(mF.components).foreach { case (cu, cf) =>
      cu.zip(cf).foreach { case (u, f) => assert(math.abs(u - f) < 1e-7) } }
    // dim-mismatch merge is loud
    val e = intercept[IllegalArgumentException] {
      updated.merge(Pca.moments(cloud(10, 4, 1L).toDF("vec_id", "embedding"),
        "embedding"))
    }
    assert(e.getMessage.contains("dim"))
  }

  test("whitened projection has unit variance per dim; zero mean") {
    val rows = cloud(400, 8, 21L)
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding", k = 3)
    val w = Pca.pcaWhitenEncode(df, "embedding", m)
      .select((1 to 3).map(j =>
        element_at(col(Pca.WhitenCol), j).as(s"w$j")): _*)
    val r = w.agg(
      variance(col("w1")), variance(col("w2")), variance(col("w3")),
      avg(col("w1")), corr(col("w1"), col("w2"))).head
    assert(math.abs(r.getDouble(0) - 1d) < 1e-9)
    assert(math.abs(r.getDouble(1) - 1d) < 1e-9)
    assert(math.abs(r.getDouble(2) - 1d) < 1e-9)
    assert(math.abs(r.getDouble(3)) < 1e-9)
    assert(math.abs(r.getDouble(4)) < 1e-9)
    // degenerate spectrum refuses to whiten
    val degenerate = m.copy(eigenvalues = Array(1d, 0d, 1d))
    val e = intercept[IllegalArgumentException] {
      Pca.whiten(col("embedding"), degenerate)
    }
    assert(e.getMessage.contains("positive eigenvalues"))
  }

  test("a pca_v1 model header fails loudly") {
    val df = cloud(40, 7, 3L).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-old").toString
    Pca.pcaSave(spark, dir, Pca.fit(df, "embedding", k = 2))
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, "pca_model.tsv")
    graft.model.VersionedDir.writeSidecar(spark, dir, "pca_model.tsv",
      lines.head.replace("pca_v2", "pca_v1") +: lines.tail)
    val e = intercept[IllegalArgumentException](Pca.pcaLoad(spark, dir))
    assert(e.getMessage.contains(s"$dir/pca_model.tsv") &&
      e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("pcaSearchEncoded at full coverage == exact scan; guards fire") {
    val rows = cloud(80, 12, 9L)
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding", k = 6)
    val cfg = SearchConfig(
      scoreFuncName = "VectorDistance", higherIsBetter = false, limit = 5,
      featureCol = "embedding", keyCols = Seq("vec_id"),
      tieBreakCol = Some("vec_id"), assumeUniqueKeys = true)
    val q = rows(4)._2
    val enc = Pca.pcaEncode(df, "embedding", m)
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d
      .select($"vec_id", round(col(Search.ScoreCol), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaPca = rowsOf(Pca.pcaSearchEncoded(enc, q, m, cfg, refine = 16))
    val viaExact = rowsOf(Search.search(df, q, cfg))
    assert(viaPca === viaExact)
    assert(viaPca.head._1 === 4L)
    // modest refine still finds the true neighbours (variance-optimal
    // axes preserve most of the distance signal)
    val tight = rowsOf(Pca.pcaSearchEncoded(enc, q, m, cfg, refine = 4))
    val recall = tight.map(_._1).toSet
      .intersect(viaExact.map(_._1).toSet).size.toDouble / viaExact.size
    assert(recall >= 0.8, s"recall $recall")
    val e = intercept[IllegalArgumentException] {
      Pca.pcaSearchEncoded(df, q, m, cfg)
    }
    assert(e.getMessage.contains(Pca.PcaCol))
    val e2 = intercept[IllegalArgumentException] {
      Pca.fit(df.limit(1), "embedding", k = 2)
    }
    assert(e2.getMessage.contains("at least 2 rows"))
  }
}
