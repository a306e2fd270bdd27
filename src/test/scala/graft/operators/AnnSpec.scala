package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** ANN recall vs the exact brute-force oracle (SURVEY.md §5 test 5) on the
  * real sf0.001 embeddings, plus the reference's name-prefix routing. */
class AnnSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** The reference's real 512-dim news-title embeddings (50 rows). */
  private def newsEmbeddings: org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("title", StringType),
      StructField("embedding", ArrayType(FloatType))))
    spark.read.schema(schema)
      .json(getClass.getResource("/news_title_embeddings.jsonl").getPath)
  }

  private def cfg(fn: String, higher: Boolean) = SearchConfig(
    scoreFuncName = fn, higherIsBetter = higher, limit = 10,
    featureCol = "embedding", keyCols = Seq("vec_id"), tieBreakCol = Some("vec_id"))

  private def queryVec(id: Long): Seq[Float] =
    emb.filter($"vec_id" === id).select("embedding").as[Seq[Float]].head

  private def recallAt10(fn: String, higher: Boolean,
      approx: (Seq[Float], SearchConfig) => org.apache.spark.sql.DataFrame): Double = {
    val queries = Seq(0L, 7L, 23L, 111L, 200L)
    val scores = queries.map { qid =>
      val q = queryVec(qid)
      val c = cfg(fn, higher)
      val exact = Search.search(emb, q, c).select("vec_id").as[Long].collect().toSet
      val got = approx(q, c).select("vec_id").as[Long].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    scores.sum / scores.size
  }

  test("LSH recall@10 >= 0.8 vs brute force (euclidean)") {
    val r = recallAt10("VectorDistance", higher = false,
      (q, c) => Ann.lshSearch(emb, q, c))
    assert(r >= 0.8, s"mean recall $r")
  }

  test("LSH recall@10 >= 0.8 vs brute force (angular, normalized)") {
    val r = recallAt10("AngularDistance", higher = true,
      (q, c) => Ann.lshSearch(emb, q, c))
    assert(r >= 0.8, s"mean recall $r")
  }

  test("IVF: probing all cells is exact; few cells trades recall for scan fraction") {
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    indexed.cache()
    val full = recallAt10("VectorDistance", higher = false,
      (q, c) => Ann.ivfSearch(indexed, centroids, q, c, nProbe = 8))
    assert(full == 1.0, s"probing every cell must be exact, got $full")
    val partial = recallAt10("VectorDistance", higher = false,
      (q, c) => Ann.ivfSearch(indexed, centroids, q, c, nProbe = 3))
    assert(partial >= 0.6, s"nProbe=3 recall $partial")
    indexed.unpersist()
  }

  test("LSH recall on REAL 512-dim news embeddings (the reference's fixture)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("title", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val news = spark.read.schema(schema)
      .json(getClass.getResource("/news_title_embeddings.jsonl").getPath)
    val c = SearchConfig(scoreFuncName = "AngularDistance", higherIsBetter = true,
      limit = 10, featureCol = "embedding", keyCols = Seq("title"),
      tieBreakCol = Some("title"))
    val q = news.limit(1).select("embedding").as[Seq[Float]].head
    val exact = Search.search(news, q, c).select("title").as[String].collect().toSet
    val approx = Ann.lshSearch(news, q, c, bucketLength = 2.0)
      .select("title").as[String].collect().toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"512-dim news recall $recall")
  }

  test("SQ8 recall on REAL 512-dim news embeddings") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("title", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val news = spark.read.schema(schema)
      .json(getClass.getResource("/news_title_embeddings.jsonl").getPath)
    val c = SearchConfig(scoreFuncName = "VectorDistance", higherIsBetter = false,
      limit = 10, featureCol = "embedding", keyCols = Seq("title"),
      tieBreakCol = Some("title"))
    val q = news.limit(1).select("embedding").as[Seq[Float]].head
    val exact = Search.search(news, q, c).select("title").as[String].collect().toSet
    val approx = Ann.sq8Search(Ann.sq8Encode(news, "embedding"), q, c, refine = 4)
      .select("title").as[String].collect().toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"512-dim SQ8 recall $recall") // int8 barely perturbs L2
  }

  test("IVF stored partitioned by cluster: probes prune partitions (the 100TB layout)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val catalog = new graft.model.DatasetCatalog(spark, dir)
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    catalog.writePartitioned("ivf_idx", indexed, "cluster")

    val stored = catalog.table("ivf_idx")
    val res = Ann.ivfSearch(stored, centroids, queryVec(0L),
      cfg("VectorDistance", higher = false), nProbe = 2)
    val scan = res.queryExecution.executedPlan.toString
    // partition pruning: the cluster IN filter lands in PartitionFilters
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(scan).isDefined,
      s"no partition pruning in:\n$scan")
    assert(res.count() == 10)
  }

  test("IVF save/load round-trip: centroids, rows and probe results survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-save").toString
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    val (loaded, loadedCentroids) = Ann.ivfLoad(spark, dir)
    assert(loadedCentroids.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq)
    assert(loaded.count() == emb.count())
    val c = cfg("VectorDistance", higher = false)
    val before = Ann.ivfSearch(indexed, centroids, queryVec(0L), c, nProbe = 3)
      .select("vec_id").as[Long].collect().toSet
    val after = Ann.ivfSearch(loaded, loadedCentroids, queryVec(0L), c, nProbe = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(after == before)
  }

  test("ivfAppend: probes reach appended rows; centroids stay put (no refit)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val half = emb.filter($"vec_id" % 2 === 0)
    val rest = emb.filter($"vec_id" % 2 =!= 0)
    val (indexed, centroids) = Ann.ivfBuild(half, "embedding", k = 8, normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    Ann.ivfAppend(spark, dir, rest, "embedding", normalize = false)
    val (loaded, after) = Ann.ivfLoad(spark, dir)
    // assignment-only: the quantizer is byte-identical after the append
    assert(after.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq)
    assert(loaded.count() == emb.count())
    // an appended row is reachable through its assigned cell: querying ON
    // its vector probes that same nearest cell, and the exact re-score
    // puts the row itself first
    val qid = rest.select("vec_id").as[Long].head()
    val c = cfg("VectorDistance", higher = false)
    val hit = Ann.ivfSearch(loaded, after, queryVec(qid), c, nProbe = 1)
      .select("vec_id").as[Long].collect()
    assert(hit.contains(qid), s"appended row $qid not found via its cell")
    // probing every cell over the appended index == exact over the union
    val full = Ann.ivfSearch(loaded, after, queryVec(0L), c, nProbe = 8)
      .select("vec_id").as[Long].collect().toSet
    val exact = Search.search(emb, queryVec(0L), c)
      .select("vec_id").as[Long].collect().toSet
    assert(full == exact)
    // a null vector would land in a partition no probe scans — refused
    val withNull = Seq((900000L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Ann.ivfAppend(spark, dir, withNull, "embedding", normalize = false))
    assert(e.getMessage != null)
  }

  test("ivfCompact: purged ids leave the stored layout; centroids and appends survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    val half = emb.filter($"vec_id" % 2 === 0)
    val rest = emb.filter($"vec_id" % 2 =!= 0)
    val (indexed, centroids) = Ann.ivfBuild(half, "embedding", k = 8, normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    Ann.ivfAppend(spark, dir, rest, "embedding", normalize = false)
    // purge every vec_id divisible by 3 (hits saved AND appended rows)
    val keep = emb.filter($"vec_id" % 3 =!= 0).select("vec_id")
    val (kept, after) = Ann.ivfCompact(spark, dir, keep, "vec_id")
    assert(after.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq) // unchanged
    val (loaded, _) = Ann.ivfLoad(spark, dir)
    val ids = loaded.select("vec_id").as[Long].collect().toSet
    assert(ids == emb.filter($"vec_id" % 3 =!= 0)
      .select("vec_id").as[Long].collect().toSet)
    assert(kept.select("vec_id").as[Long].collect().toSet == ids)
    // a purged id is unreachable through ANY probe; a kept appended row is
    val c = cfg("VectorDistance", higher = false)
    val gone = Ann.ivfSearch(loaded, after, queryVec(3L), c, nProbe = 8)
      .select("vec_id").as[Long].collect()
    assert(!gone.contains(3L))
    val keptAppended = rest.filter($"vec_id" % 3 =!= 0)
      .select("vec_id").as[Long].head()
    val hit = Ann.ivfSearch(loaded, after, queryVec(keptAppended), c, nProbe = 1)
      .select("vec_id").as[Long].collect()
    assert(hit.contains(keptAppended))
  }

  test("ivfAutoK: rows-per-cell target, clamped — pinned at the decade's corpus sizes") {
    // the round-11 decade legs (BASELINE.md): 525k and 5.25M rows
    assert(Ann.ivfAutoK(525000L) == 257)
    assert(Ann.ivfAutoK(5250000L) == 2564)
    // rows-per-cell held ~constant across the decade by construction
    assert(5250000L / Ann.ivfAutoK(5250000L) <= Ann.IvfTargetCellRows)
    // clamps
    assert(Ann.ivfAutoK(1L) == Ann.IvfAutoKMin)
    assert(Ann.ivfAutoK(Long.MaxValue / 4) == Ann.IvfAutoKMax)
    // the driver-query sizing (AutoCellRows = 64 over the embeddings table)
    assert(Ann.ivfAutoK(500L, 64L) == 8)
    assert(Ann.ivfAutoK(2000L, 64L) == 32)
    intercept[IllegalArgumentException](Ann.ivfAutoK(100L, 0L))
  }

  test("ivfBuild k<=0: auto-sized cell count; probing all auto cells is exact") {
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = -1,
      normalize = false, targetCellRows = 64L)
    assert(centroids.length == Ann.ivfAutoK(500L, 64L)) // 8 cells for 500 rows
    val c = cfg("VectorDistance", higher = false)
    val q = queryVec(0L)
    val exact = Search.search(emb, q, c).select("vec_id").as[Long].collect().toSeq
    val all = Ann.ivfSearch(indexed, centroids, q, c, nProbe = centroids.length)
      .select("vec_id").as[Long].collect().toSeq
    assert(all == exact)
  }

  test("ivfCompactAuto: centroids preserved inside the drift band, refit past it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-autok").toString
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 4, normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    val allIds = emb.select("vec_id")
    // auto k for 500 rows at 64/cell is 8 — exactly 2.0x the stored 4,
    // NOT past the (strict) 2.0 drift bound: compact keeps the quantizer
    val (kept1, c1) = Ann.ivfCompactAuto(spark, dir, allIds, "vec_id",
      "embedding", normalize = false, targetCellRows = 64L)
    assert(c1.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq)
    assert(kept1.count() == 500L)
    // at 16 rows/cell auto k is 32 — 8x the stored 4: quantizer refits
    val (kept2, c2) = Ann.ivfCompactAuto(spark, dir, allIds, "vec_id",
      "embedding", normalize = false, targetCellRows = 16L)
    assert(c2.length == Ann.ivfAutoK(500L, 16L)) // 32
    assert(kept2.count() == 500L)
    // the refit index is stored and probes exactly at nProbe = all cells
    val (loaded, cents) = Ann.ivfLoad(spark, dir)
    assert(cents.length == c2.length)
    val c = cfg("VectorDistance", higher = false)
    val q = queryVec(0L)
    val exact = Search.search(emb, q, c).select("vec_id").as[Long].collect().toSeq
    val got = Ann.ivfSearch(loaded, cents, q, c, nProbe = cents.length)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exact)
    // purge-side drift: keep 1/8 of the rows under the 32-cell index —
    // auto k for ~63 rows at 16/cell is 4, an 8x shrink: refit again
    val few = emb.filter($"vec_id" % 8 === 0).select("vec_id")
    val (kept3, c3) = Ann.ivfCompactAuto(spark, dir, few, "vec_id",
      "embedding", normalize = false, targetCellRows = 16L)
    assert(c3.length == Ann.ivfAutoK(kept3.count(), 16L))
    assert(c3.length < c2.length)
  }

  /** The inline literal spelling of IVF routing — one `zip_with` /
    * `aggregate` sub-expression per centroid, sorted by (squared L2,
    * index) — kept as the executable spec the routing kernel is
    * parity-tested against (the `scoreDocsExpanded` discipline). */
  private def probeCellsInline(centroids: Array[Array[Double]],
      vec: org.apache.spark.sql.Column, normalize: Boolean,
      nProbe: Int): org.apache.spark.sql.Column = {
    val qv = if (normalize) Ann.l2Normalize(vec) else vec.cast("array<double>")
    val cells = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(zip_with(qv, lit(c), (a, b) => (a - b) * (a - b)),
          lit(0d), _ + _).as("d"),
        lit(i).as("i"))
    }: _*)
    transform(slice(array_sort(cells), 1, nProbe), s => s.getField("i"))
  }

  test("VectorCellsParity: nearest_cells kernel == inline probeCells spelling") {
    val (_, centroids) = Ann.ivfBuild(emb, "embedding", k = 32, normalize = false)
    for (norm <- Seq(false, true); nProbe <- Seq(1, 4, 40)) {
      val both = emb.select(
        $"vec_id",
        probeCellsInline(centroids, $"embedding", norm, nProbe).as("a"),
        graft.functions.NearestCellsExpr($"embedding", centroids, norm, nProbe).as("b"))
      val bad = both.filter(not($"a" <=> $"b")).count()
      assert(bad == 0L, s"norm=$norm nProbe=$nProbe: $bad rows diverge")
    }
    // null vector passes through as null (UnaryExpression null contract)
    val withNull = Seq((1L, null: Array[Float])).toDF("vec_id", "v")
    assert(withNull.select(graft.functions.NearestCellsExpr(
      $"v", centroids, normalize = false, nProbe = 2).as("c"))
      .filter($"c".isNull).count() == 1L)
  }

  test("single and batch IVF probe the same cells on near-tie centroids") {
    // two centroids whose squared distances to the query differ in the
    // last bit while their square roots are equal: cell 1 is nearer by
    // squared L2, the routing every IVF path and perfbench's oracle use
    val rnd = new scala.util.Random(11)
    def sq(c: Array[Double]): Double = c.foldLeft(0d)((acc, x) => acc + x * x)
    val (c0, c1) = Iterator.continually {
      val c = Array(1.2 + rnd.nextDouble() * 0.1, 1.2 + rnd.nextDouble() * 0.1)
      val n = Array(c(0), Math.nextDown(c(1)))
      (c, n)
    }.find { case (c, n) =>
      sq(n) < sq(c) && math.sqrt(sq(n)) == math.sqrt(sq(c))
    }.get
    val centroids = Array(c0, c1, Array(9d, 9d))
    val data = Seq((0L, Seq(1.2f, 1.2f), 0), (1L, Seq(1.3f, 1.3f), 1), (2L, Seq(9f, 9f), 2))
      .toDF("vec_id", "embedding", "cluster")
    val c = cfg("VectorDistance", higher = false)
    val single = Ann.ivfSearch(data, centroids, Seq(0f, 0f), c, nProbe = 1)
      .select("vec_id").as[Long].collect().toSeq
    val batch = Ann.ivfMultiSearch(data, centroids,
        Seq((7L, Seq(0f, 0f))).toDF(Search.QueryIdCol, "embedding"), c, nProbe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(single == Seq(1L) && batch == single, s"single $single, batch $batch")
  }

  test("IVF routing fails loudly on a dimension mismatch or a null element") {
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 4, normalize = false)
    val c = cfg("VectorDistance", higher = false)
    val short = queryVec(0L).dropRight(1)
    val e1 = intercept[IllegalArgumentException](
      Ann.ivfSearch(indexed, centroids, short, c, nProbe = 2))
    assert(e1.getMessage.contains("dim"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Ann.ivfMultiSearch(indexed, centroids,
      Seq((1L, short)).toDF(Search.QueryIdCol, "embedding"), c, nProbe = 2))
    assert(e2.getMessage.contains("dim"), e2.getMessage)
    import org.apache.spark.sql.types._
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, queryVec(0L).updated(3, null))),
      StructType(Seq(StructField(Search.QueryIdCol, LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    val e3 = intercept[IllegalArgumentException](
      Ann.ivfMultiSearch(indexed, centroids, withNull, c, nProbe = 2))
    assert(e3.getMessage.contains("NULL element"), e3.getMessage)
  }

  test("ivfCompact with the complement keep-set; update = compact+append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rm").toString
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8,
      normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    // a delete set (SnapshotDiff's removed ∪ changed) becomes the keep-set
    // of the stored ids minus the deleted ones
    def complement(gone: org.apache.spark.sql.DataFrame) =
      Ann.ivfLoad(spark, dir)._1.select("vec_id").join(gone, Seq("vec_id"), "left_anti")
    val gone = emb.filter($"vec_id" % 3 === 0).select("vec_id")
    val (kept, after) = Ann.ivfCompact(spark, dir, complement(gone), "vec_id")
    assert(after.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq)
    val want = emb.filter($"vec_id" % 3 =!= 0)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.select("vec_id").as[Long].collect().toSet == want)
    assert(Ann.ivfLoad(spark, dir)._1
      .select("vec_id").as[Long].collect().toSet == want)
    // changed-vector update: drop the id, append its new embedding —
    // reachable again through the FIXED quantizer
    val moved = emb.filter($"vec_id" === 1L)
      .select($"vec_id", $"embedding")
    Ann.ivfCompact(spark, dir, complement(moved.select("vec_id")), "vec_id")
    assert(Ann.ivfLoad(spark, dir)._1.filter($"vec_id" === 1L).isEmpty)
    Ann.ivfAppend(spark, dir, moved, "embedding", normalize = false)
    val (loaded, cents) = Ann.ivfLoad(spark, dir)
    val hit = Ann.ivfSearch(loaded, cents, queryVec(1L),
        cfg("VectorDistance", higher = false), nProbe = 8)
      .select("vec_id").as[Long].collect()
    assert(hit.contains(1L))
  }

  test("torn write: data dir without sidecar rename still serves previous index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-torn").toString
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 4, normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    val (_, before) = Ann.ivfLoad(spark, dir)
    // a crash between the data write and the sidecar rename leaves a newer
    // data_* dir that no sidecar names — readers must keep resolving the
    // previous complete version
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, s"data_${System.nanoTime()}"))
    val (loaded, after) = Ann.ivfLoad(spark, dir)
    assert(after.map(_.toSeq).toSeq == before.map(_.toSeq).toSeq)
    assert(loaded.count() == emb.count())
  }

  test("ivfSave sweep keeps the version the sidecar names, drops the rest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-sweep").toString
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 4, normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    // plant an orphan data dir (a save whose sidecar rename lost a race)
    val orphan = java.nio.file.Paths.get(dir, "data_0_orphan")
    java.nio.file.Files.createDirectories(orphan)
    // age the orphan and the first version past the sweep grace (younger
    // dirs are spared as possible in-progress writers), so the second
    // save sweeps both
    val aged = System.currentTimeMillis() - graft.model.VersionedDir.SweepGraceMs - 60000L
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("data_"))
      .foreach(f => assert(f.setLastModified(aged)))
    Ann.ivfSave(dir, indexed, centroids)
    val kept = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("data_")).toSet
    val named = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dir, "centroids.csv")).get(0)
    assert(kept == Set(named), s"swept set wrong: kept=$kept sidecar=$named")
    val (loaded, _) = Ann.ivfLoad(spark, dir)
    assert(loaded.count() == emb.count())
  }

  test("IVF sampled fit (the 100TB build path) keeps partial-probe recall") {
    val (indexed, centroids) =
      Ann.ivfBuild(emb, "embedding", k = 8, normalize = false, fitFraction = 0.2)
    indexed.cache()
    assert(indexed.count() == emb.count()) // assignment covers ALL rows
    assert(centroids.length == 8)
    val partial = recallAt10("VectorDistance", higher = false,
      (q, c) => Ann.ivfSearch(indexed, centroids, q, c, nProbe = 4))
    assert(partial >= 0.6, s"sampled-fit nProbe=4 recall $partial")
    indexed.unpersist()
  }

  test("SQ8: codes bounded, round-trip error bounded by scale/2, high recall") {
    val encoded = Ann.sq8Encode(emb, "embedding")
    val row = encoded.select(col("embedding"), col("codes"), col("__scale"))
      .filter(size(col("embedding")) > 0).head
    val orig = row.getSeq[Float](0)
    val codes = row.getSeq[Byte](1)
    val scale = row.getDouble(2)
    assert(codes.forall(c => c >= -127 && c <= 127))
    orig.zip(codes).foreach { case (x, c) =>
      assert(math.abs(x - c * scale) <= scale / 2 + 1e-9,
        s"dequant error for $x -> $c at scale $scale") }
    val c = cfg("VectorDistance", higher = false)
    val exact = Search.search(emb, queryVec(0L), c)
      .select("vec_id").as[Long].collect().toSet
    val approx = Ann.sq8Search(encoded, queryVec(0L), c, refine = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.intersect(exact).size >= 8, s"sq8 recall ${approx.intersect(exact).size}/10")
  }

  test("LSH model save/load round-trip: loaded model reproduces results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-save").toString
    val c = cfg("VectorDistance", higher = false)
    val model = Ann.lshFit(emb, c)
    Ann.lshSave(dir, model)
    val loaded = Ann.lshLoad(dir)
    val q = queryVec(0L)
    val before = Ann.lshSearchWith(model, emb, q, c)
      .select("vec_id").as[Long].collect().toSet
    val after = Ann.lshSearchWith(loaded, emb, q, c)
      .select("vec_id").as[Long].collect().toSet
    assert(after == before)
  }

  test("lshFit bucket estimate is layout-independent (ADVICE r4)") {
    // the auto bucketLength samples 256 rows ordered by vector hash; a
    // repartitioned refit of the SAME corpus must land on the SAME width,
    // or bucket boundaries silently move between fits
    val c = cfg("VectorDistance", higher = false)
    val w1 = Ann.lshFit(emb, c).getBucketLength
    val w2 = Ann.lshFit(emb.repartition(7), c).getBucketLength
    assert(w1 == w2, s"bucketLength moved with layout: $w1 vs $w2")
  }

  test("batch IVF: probing ALL cells equals the exact batch scan") {
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    indexed.cache()
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false)
    val exact = Search.multiSearch(emb, queries, c)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect().toSet
    val all = Ann.ivfMultiSearch(indexed, centroids, queries, c, nProbe = 8)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect().toSet
    assert(all == exact, "nProbe = k must reproduce the exact batch scan")
    indexed.unpersist()
  }

  test("batch IVF recall@10 >= 0.8 vs exact batch at nProbe=4 (VERDICT next #3)") {
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    indexed.cache()
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false)
    val exact = Search.multiSearch(emb, queries, c)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.ivfMultiSearch(indexed, centroids, queries, c, nProbe = 4)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean batch recall $mean")
    indexed.unpersist()
  }

  test("batch LSH recall@10 >= 0.8 on REAL embeddings (one keyed scan, not per-query)") {
    // recall is measured on the news fixture because the synthetic
    // embeddings have NO neighbor structure (measured: avg 10th-NN
    // distance 1.21 vs 1.41 for a random pair — near-uniform on the unit
    // sphere), so no LSH family can prune AND recall there; the earlier
    // BRP-based version of this test only passed by degenerating to ~2
    // buckets per table and scanning half the corpus per query. The
    // synthetic corpus still runs this operator as the `ann_lsh_multi`
    // bench query (plan shape + cost), rows-only.
    val news = newsEmbeddings.withColumn("vec_id", monotonically_increasing_id()).cache()
    val queries = news.filter($"vec_id" < 20)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false)
    val exact = Search.multiSearch(news, queries, c)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Ann.lshMultiSearch(news, queries, c,
      Dedup.hyperplanes(dim = 512, count = 16), bands = 8, bucketWidth = 2.0)
    // the bucket-key columns are internal — they must not leak
    assert(!got.columns.contains("__band") && !got.columns.contains("__bucket"))
    val approx = got
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // multi-band collisions collapsed: no (query, row) appears twice
    approx.foreach { case (q, ids) =>
      assert(ids.size <= c.limit, s"query $q returned ${ids.size} rows") }
    val recalls = exact.map { case (q, ids) =>
      approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean batch LSH recall $mean")
    // the ANGULAR config keys NORMALIZED vectors (unit-sphere euclidean
    // == angular): same planes, same width, the lshFeature normalization
    // path must hold recall too
    val cA = cfg("AngularDistance", higher = true)
    val exactA = Search.multiSearch(news, queries, cA)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approxA = Ann.lshMultiSearch(news, queries, cA,
        Dedup.hyperplanes(dim = 512, count = 16), bands = 8, bucketWidth = 2.0)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recallsA = exactA.map { case (q, ids) =>
      approxA.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val meanA = recallsA.sum / recallsA.size
    assert(meanA >= 0.8, s"mean batch LSH ANGULAR recall $meanA")
    news.unpersist()
  }

  test("batch LSH on planted clusters: recall holds WITH real pruning (2000 rows)") {
    // the news fixture (50 rows) proves recall but is too small to prove
    // pruning matters; this plants 200 clusters x 10 members (unit center
    // + sigma=0.02-per-coordinate noise, i.e. noise norm ~0.16 over 64 dims)
    // so true neighbors are the 9 siblings at distance ~0.23 while random pairs sit at ~sqrt(2) — the structured-data shape
    // where E2LSH must keep recall while touching a corpus fraction, not
    // the half-corpus scans the degenerate BRP buckets did
    val rnd = new scala.util.Random(11L)
    val dim = 64
    val rows = (0 until 200).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      val n0 = math.sqrt(center.map(x => x * x).sum)
      (0 until 10).map { m =>
        val v = center.map(x => (x / n0 + 0.02 * rnd.nextGaussian()).toFloat)
        (c * 10L + m, v.toSeq)
      }
    }
    val planted = rows.toDF("vec_id", "embedding").cache()
    val queries = planted.filter($"vec_id" % 10 === 0 && $"vec_id" < 200)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false)
    val exact = Search.multiSearch(planted, queries, c)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.lshMultiSearch(planted, queries, c,
        Dedup.hyperplanes(dim, count = 32), bands = 8)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"planted-cluster batch recall $mean")
    planted.unpersist()
  }

  test("batch LSH: an exact duplicate is ALWAYS retrieved (deterministic, not recall)") {
    // identical vectors agree on every floored projection, hence on every
    // band key — the twin is a candidate by construction, and the exact
    // re-score ranks distance 0 first; this is a guarantee of the family,
    // not a probabilistic recall bound
    val base = emb.select("vec_id", "embedding")
    val dup = base.filter($"vec_id" < 25)
      .select(($"vec_id" + 10000000).as("vec_id"), $"embedding")
    val corpus = base.unionByName(dup)
    val queries = emb.filter($"vec_id" < 25)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false)
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val got = Ann.lshMultiSearch(corpus, queries, c,
        Dedup.hyperplanes(dim, count = 32), bands = 8)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 25L).foreach { q =>
      val ids = got.getOrElse(q, Set.empty)
      assert(ids.contains(q) && ids.contains(q + 10000000),
        s"query $q missing its exact twin: $ids")
    }
  }

  test("batch IVF over stored layout: static partition pruning + one shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-batch").toString
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    Ann.ivfSave(dir, indexed, centroids)
    val (stored, cs) = Ann.ivfLoad(spark, dir)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val res = Ann.ivfMultiSearch(stored, cs, queries,
      cfg("VectorDistance", higher = false).copy(limit = 5, assumeUniqueKeys = true),
      nProbe = 2)
    assert(res.count() == 50)
    val plan = res.queryExecution.executedPlan.toString
    // the stored-index scan is pruned to the UNION of probed cells named
    // by the probe collect itself: a static partition filter, with no
    // join and no dynamic-pruning subquery left to plan
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"no partition pruning in:\n${plan.take(3000)}")
    assert(!plan.contains("dynamicpruning") && !plan.contains("Join"),
      s"probe routing must not plan a join:\n${plan.take(3000)}")
    val shuffles = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"expected one shuffle (the per-query merge), plan:\n${plan.take(3000)}")
  }

  test("PQ: codes are m small ints; recall@10 >= 0.8 after exact refine") {
    val cb = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16)
    assert(cb.subDim * cb.m == 64)
    val encoded = Ann.pqEncode(emb, "embedding", cb).cache()
    val codes = encoded.select("codes").head.getSeq[Int](0)
    assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
    val r = recallAt10("VectorDistance", higher = false,
      (q, c) => Ann.pqSearch(encoded, cb, q, c, refine = 8))
    assert(r >= 0.8, s"PQ+refine recall $r")
    encoded.unpersist()
  }

  test("batch IVF x PQ: compressed batch scan keeps recall vs exact batch") {
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    val cb = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16)
    val both = Ann.pqEncode(indexed, "embedding", cb).cache()
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false)
    val exact = Search.multiSearch(emb, queries, c)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.ivfPqMultiSearch(both, centroids, cb, queries, c,
        nProbe = 6, refine = 8)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"batch IVFxPQ recall $mean") // two approximations stack
    // every query answers with exactly k rows
    assert(approx.size == 20 && approx.values.forall(_.size == 10))
    both.unpersist()
  }

  test("batch IVF x SQ8: column-only compressed batch scan keeps recall") {
    val (indexed, centroids) = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    val encoded = Ann.sq8Encode(indexed, "embedding").cache()
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false)
    val exact = Search.multiSearch(emb, queries, c)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.ivfSq8MultiSearch(encoded, centroids, queries, c,
        nProbe = 6, refine = 4)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    // int8 barely perturbs L2 ordering, so the only loss is cell pruning
    assert(mean >= 0.8, s"batch IVFxSQ8 recall $mean")
    assert(approx.size == 20 && approx.values.forall(_.size == 10))
    // probing every cell makes the shortlist exhaustive: exact agreement
    val full = Ann.ivfSq8MultiSearch(encoded, centroids, queries, c,
        nProbe = 8, refine = 20)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(full == exact, "nProbe=k with a wide refine must equal exact")
    encoded.unpersist()
  }

  test("PQ save/load round-trip reproduces codebook and results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-save").toString
    val cb = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16)
    Ann.pqSave(dir, Ann.pqEncode(emb, "embedding", cb), cb)
    val (loaded, cb2) = Ann.pqLoad(spark, dir)
    assert(cb2.m == cb.m && cb2.subDim == cb.subDim)
    assert(cb2.centers.map(_.map(_.toSeq).toSeq).toSeq ==
      cb.centers.map(_.map(_.toSeq).toSeq).toSeq)
    val c = cfg("VectorDistance", higher = false)
    val q = queryVec(0L)
    val before = Ann.pqSearch(Ann.pqEncode(emb, "embedding", cb), cb, q, c)
      .select("vec_id").as[Long].collect().toSet
    val after = Ann.pqSearch(loaded, cb2, q, c)
      .select("vec_id").as[Long].collect().toSet
    assert(after == before)
  }

  test("a 3-field PQ header (no normalized flag) fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-old").toString
    val cb = Ann.pqTrain(emb.limit(50), "embedding", m = 8, ksub = 4)
    Ann.pqSave(dir, Ann.pqEncode(emb.limit(50), "embedding", cb), cb)
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, Ann.PqSidecar)
    graft.model.VersionedDir.writeSidecar(spark, dir, Ann.PqSidecar,
      lines.head.split(";").take(3).mkString(";") +: lines.tail)
    val e = intercept[IllegalArgumentException](Ann.pqLoad(spark, dir))
    assert(e.getMessage.contains(s"$dir/${Ann.PqSidecar}") &&
      e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("PQ: cosine config demands a normalized codebook; normalized keeps recall") {
    val raw = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16)
    val c = cfg("CosineSimilarity", higher = true)
    // squared-L2 ADC over a raw-space codebook is NOT a cosine ranking —
    // must fail loudly instead of silently collapsing recall
    intercept[IllegalArgumentException] {
      Ann.pqSearch(Ann.pqEncode(emb, "embedding", raw), raw, queryVec(0L), c)
    }
    val cb = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16, normalize = true)
    val encoded = Ann.pqEncode(emb, "embedding", cb).cache()
    val r = recallAt10("CosineSimilarity", higher = true,
      (q, cc) => Ann.pqSearch(encoded, cb, q, cc, refine = 8))
    assert(r >= 0.7, s"normalized-PQ cosine recall $r")
    encoded.unpersist()
    // the flag survives the sidecar round-trip (a reloaded cosine index
    // must not be refused or mis-scored)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-norm").toString
    Ann.pqSave(dir, Ann.pqEncode(emb.limit(50), "embedding", cb), cb)
    assert(Ann.pqLoad(spark, dir)._2.normalized)
  }

  test("PQ ADC fails loudly on m or code-range mismatch (stale index pairing)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val lut = Array.fill(8)(Array.fill(16)(0.0))
    val wrongM = intercept[IllegalArgumentException](
      graft.functions.PqKernel.adc(new GenericArrayData(Array.fill(4)(0)), lut))
    assert(wrongM.getMessage.contains("disagree on m"))
    val wrongCode = intercept[IllegalArgumentException](
      graft.functions.PqKernel.adc(new GenericArrayData(Array.fill(8)(200)), lut))
    assert(wrongCode.getMessage.contains("out of range"))
  }

  /** Every non-IVF shortlist path over `data`, each answering the queries
    * `qs` as (query_id, vec_id, score) rows: the single-query paths once
    * per query, the batch paths in one batch. */
  private def shortlistPaths(data: org.apache.spark.sql.DataFrame,
      qs: Seq[(Long, Seq[Float])], c: SearchConfig)
      : Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val dim = qs.head._2.length
    val cb = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16)
    val pca = Pca.fit(emb, "embedding", k = 8)
    def single(search: Seq[Float] => org.apache.spark.sql.DataFrame) =
      qs.map { case (id, q) => search(q).withColumn(Search.QueryIdCol, lit(id)) }
        .reduce(_ unionByName _)
    val queries = qs.toDF(Search.QueryIdCol, "embedding")
    Seq(
      "pq" -> single(Ann.pqSearch(Ann.pqEncode(data, "embedding", cb), cb, _, c, refine = 4)),
      "sq8" -> single(Ann.sq8Search(Ann.sq8Encode(data, "embedding"), _, c, refine = 4)),
      "rp" -> single(Ann.rpSearch(data, _, c, projDim = 8, refine = 4)),
      "rpEncoded" -> single(Ann.rpSearchEncoded(Ann.rpEncode(data, "embedding", 8), _, c,
        projDim = 8, refine = 4)),
      "bq" -> single(Ann.bqSearch(data, _, c, refine = 4)),
      "pca" -> single(Pca.pcaSearchEncoded(Pca.pcaEncode(data, "embedding", pca), _, pca, c,
        refine = 4)),
      "rpMulti" -> Ann.rpMultiSearch(data, queries, c, projDim = 8, refine = 4),
      "bqMulti" -> Ann.bqMultiSearch(data, queries, c, dim = dim, refine = 4))
      .map { case (name, df) =>
        name -> df.select(col(Search.QueryIdCol), $"vec_id", col(Search.ScoreCol))
      }
  }

  test("shortlist paths exclude null-feature rows (nulls sort FIRST ascending)") {
    // enough null rows to fill the whole limit*refine shortlist if unguarded
    val nulls = spark.range(1000000L, 1000100L)
      .select($"id".as("vec_id"), lit(null).cast("array<float>").as("embedding"))
    val data = emb.select("vec_id", "embedding").unionByName(nulls)
    val q = queryVec(0L)
    // a null vector packs to all-zero sign words: Hamming 0 to an
    // all-negative query
    val qs = Seq(0L -> q, 1L -> Seq.fill(q.length)(-1f))
    val c = cfg("VectorDistance", higher = false)
    val wrong = shortlistPaths(data, qs, c).flatMap { case (name, df) =>
      val got = df.as[(Long, Long, Option[Double])].collect()
      qs.map { case (id, _) => (name, id, got.filter(_._1 == id).toSeq) }
        .filterNot { case (_, _, rows) => rows.length == c.limit &&
          rows.forall(r => r._2 < 1000000L && r._3.isDefined) }
    }
    assert(wrong.isEmpty, wrong.map { case (name, id, rows) =>
      s"$name query $id got $rows" }.mkString("\n"))
  }

  test("shortlist paths apply JSON filters BEFORE the bounded top-k") {
    // 10% selectivity: a filter-blind 40-row shortlist keeps ~4 survivors —
    // far under k=10 — while plenty of matching rows exist
    val lab = emb.withColumn("label",
      when($"vec_id" % 10 === 0, lit("""{"keep":1}""")).otherwise(lit("{}")))
    val c = cfg("VectorDistance", higher = false)
      .copy(filters = Seq("keep"), labelCol = "label")
    val wrong = shortlistPaths(lab, Seq(0L -> queryVec(0L)), c)
      .map { case (name, df) => name -> df.select("vec_id").as[Long].collect().toSeq }
      .filterNot { case (_, ids) => ids.length == 10 && ids.forall(_ % 10 == 0) }
    assert(wrong.isEmpty, wrong.map { case (name, ids) =>
      s"$name shortlist is filter-blind: $ids" }.mkString("\n"))
  }

  test("route: Annoy* names go approximate, others exact (search.go:136-141)") {
    val q = queryVec(0L)
    val exactPlan = Ann.route(emb, q, cfg("VectorDistance", higher = false))
    assert(exactPlan.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val approx = Ann.route(emb, q, cfg("AnnoyVectorDistance", higher = false))
    assert(approx.count() == 10)
  }

  test("multiRoute: Annoy* batches go through the index, others exact") {
    lazy val index = Ann.ivfBuild(emb, "embedding", k = 8, normalize = false)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as(Search.QueryIdCol), $"embedding")
    val c = cfg("VectorDistance", higher = false).copy(limit = 5)
    val exact = Ann.multiRoute(emb, queries, c, index)
    // exact path never builds the index (lazy arg untouched) and matches
    // the brute batch scan
    val brute = Search.multiSearch(emb, queries, c)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect().toSet
    assert(exact.select(Search.QueryIdCol, "vec_id").as[(Long, Long)]
      .collect().toSet == brute)
    val approx = Ann.multiRoute(emb, queries,
      c.copy(scoreFuncName = "AnnoyVectorDistance"), index, nProbe = 8)
    // nProbe = all cells → index path reproduces the exact result too
    assert(approx.select(Search.QueryIdCol, "vec_id").as[(Long, Long)]
      .collect().toSet == brute)
  }
}
