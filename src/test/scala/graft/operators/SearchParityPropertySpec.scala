package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** The per-partition kernel behind [[Search]] against the relational
  * spelling ([[SearchReference]]) on seeded corpora split into 8
  * partitions, so per-partition pools truncate: rows, bit-exact scores,
  * schema and per-query best-first order must all match. The corpora
  * carry score ties across partitions, null vectors, null elements in
  * row and query vectors, duplicate dedup keys, JSON labels, null group
  * labels, routing keys and a binary column (payload and tie-break). */
class SearchParityPropertySpec extends SparkTestBase {

  private val Parts = 8
  private val Dim = 3

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = true)),
    StructField("group_label", StringType),
    StructField("label", StringType),
    StructField("cluster", IntegerType, nullable = false),
    StructField("blob", BinaryType)))

  /** `ties`: elements from {-1, 0, 1, 2}, so exact score ties are common
    * and only the tie-break orders them; else Gaussian floats. */
  private def vector(rnd: Random, ties: Boolean): Seq[Any] =
    Seq.fill(Dim)(if (ties) (rnd.nextInt(4) - 1).toFloat else rnd.nextGaussian().toFloat)

  private def corpus(seed: Int, n: Int, ties: Boolean): DataFrame = {
    val rnd = new Random(seed)
    val rows = (0 until n).map { i =>
      val p = rnd.nextDouble()
      val feature =
        if (p < 0.04) null
        else if (p < 0.08) vector(rnd, ties).updated(rnd.nextInt(Dim), null)
        else vector(rnd, ties)
      Row(i.toLong, (i % (n / 3)).toLong, feature,
        if (rnd.nextInt(10) == 0) null else s"g${rnd.nextInt(5)}",
        if (rnd.nextInt(3) == 0) """{"hot":1}""" else "{}",
        rnd.nextInt(4),
        java.nio.ByteBuffer.allocate(8).putLong(i.toLong).array())
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Parts), schema)
  }

  /** Five plain query vectors, then a null vector and one with a null
    * element; each routes to two cells. */
  private def queries(seed: Int, ties: Boolean): DataFrame = {
    val rnd = new Random(seed * 31 + 7)
    val vecs = Seq.fill(5)(vector(rnd, ties)) ++
      Seq(null, vector(rnd, ties).updated(1, null))
    val rows = vecs.zipWithIndex.flatMap { case (v, i) =>
      Seq(Row(100L + i, v, i % 4), Row(100L + i, v, (i + 1) % 4))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField(Search.QueryIdCol, LongType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = true)),
      StructField("cluster", IntegerType, nullable = false))))
  }

  private val base = SearchConfig(limit = 4, keyCols = Seq("vec_id"),
    assumeUniqueKeys = true, tieBreakCol = Some("vec_id"))
  private val cos = base.copy(scoreFuncName = "CosineSimilarity", higherIsBetter = true)
  private val ctx = SearchContext(Seq(Seq(1f, 0f, 0f), Seq(0f, -1f, 1f)))

  private val configs: Seq[(String, SearchConfig)] = Seq(
    "l2" -> base,
    "cosine" -> cos,
    "dot" -> base.copy(scoreFuncName = "VectorMultiplication", higherIsBetter = true),
    "l1" -> base.copy(scoreFuncName = "QuickVectorDistance"),
    "angular" -> cos.copy(scoreFuncName = "AngularDistance"),
    "dedup" -> base.copy(keyCols = Seq("key"), assumeUniqueKeys = false),
    "dedup cosine" -> cos.copy(keyCols = Seq("key"), assumeUniqueKeys = false),
    "dedup on no key columns" -> base.copy(keyCols = Nil, assumeUniqueKeys = false),
    "context least" -> base.copy(context = ctx),
    "context greatest" -> cos.copy(context = ctx),
    "context prioritize" -> base.copy(context = ctx.copy(prioritize = true)),
    "JSON filter" -> cos.copy(filters = Seq("hot")),
    "resultLimit" -> base.copy(limit = 6, resultLimit = 2),
    "grouped sum/len²" -> base.copy(groupLimit = 2, limit = 3),
    "grouped sum" -> cos.copy(groupLimit = 2, limit = 3, context = ctx),
    "grouped dedup" -> base.copy(groupLimit = 2, limit = 3,
      keyCols = Seq("key", "group_label"), assumeUniqueKeys = false),
    "grouped spanning keys" -> base.copy(groupLimit = 2, limit = 3,
      keyCols = Seq("key"), assumeUniqueKeys = false),
    "grouped on no key columns" -> base.copy(groupLimit = 2, limit = 3,
      keyCols = Nil, assumeUniqueKeys = false),
    "binary tie-break" -> base.copy(tieBreakCol = Some("blob")),
    "limit 0" -> base.copy(limit = 0))

  /** The configs the kernel refuses and `Search` plans relationally, so
    * the reference meets itself there. */
  private def spans(c: SearchConfig): Boolean = KnnKernel.keysSpanGroups(c)

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Rows with the score compared bit for bit (and binary values by
    * content). */
  private def norm(df: DataFrame): Seq[Seq[Any]] = {
    val s = df.schema.fieldIndex(Search.ScoreCol)
    df.collect().toSeq.map(r => r.toSeq.updated(s, bits(r.getDouble(s))).map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })
  }

  /** Each query's rows, in output order. */
  private def perQuery(rows: Seq[Seq[Any]]): Map[Any, Seq[Seq[Any]]] =
    rows.groupBy(_.head)

  private def sameSchema(got: DataFrame, want: DataFrame, what: String): Unit =
    assert(got.schema == want.schema,
      s"$what schema:\n${got.schema.treeString}vs\n${want.schema.treeString}")

  private def checkBatch(what: String, got: DataFrame, want: DataFrame): Unit = {
    sameSchema(got, want, what)
    val (g, w) = (norm(got), norm(want))
    assert(perQuery(g) == perQuery(w), s"$what:\n${g.mkString("\n")}\nvs\n${w.mkString("\n")}")
    // each query's rows leave the merge contiguously
    val order = g.map(_.head)
    assert(order.isEmpty ||
      order.zip(order.drop(1)).count { case (a, b) => a != b } == order.distinct.size - 1,
      s"$what: a query's rows are interleaved: $order")
  }

  private def checkSingle(what: String, got: DataFrame, want: DataFrame): Unit = {
    sameSchema(got, want, what)
    val (g, w) = (norm(got), norm(want))
    assert(g == w, s"$what:\n${g.mkString("\n")}\nvs\n${w.mkString("\n")}")
  }

  for (ties <- Seq(true, false)) {
    val kind = if (ties) "tied" else "continuous"
    test(s"batch and single search == relational reference ($kind corpora)") {
      for (seed <- 1 to 3) {
        val data = corpus(seed, 150 + 40 * seed, ties)
        val qs = queries(seed, ties).dropDuplicates(Search.QueryIdCol).drop("cluster")
        val q = new Random(seed).shuffle(Seq(1f, 0f, 2f).take(Dim))
        for ((name, c0) <- configs) {
          // continuous corpora have no score ties, so they run without a
          // tie-break column too
          for (c <- if (ties) Seq(c0) else Seq(c0, c0.copy(tieBreakCol = None))) {
            val what = s"seed $seed $name tie=${c.tieBreakCol.isDefined}"
            // the reference's CollectTopK rejects k = 0; the kernel keeps
            // nothing, like the single path's limit(0)
            if (c.limit == 0) assert(Search.multiSearch(data, qs, c).isEmpty, what)
            else checkBatch(s"$what batch", Search.multiSearch(data, qs, c),
              SearchReference.multiSearch(data, qs, c))
            checkSingle(s"$what single", Search.search(data, q, c),
              SearchReference.search(data, q, c))
          }
        }
      }
    }
  }

  /** The budgeted entry points, with a budget no scan exhausts, fold 8
    * partitions three at a time through the same merge: the same rows,
    * scores, schema and order as [[Search]], and the same refusals. */
  test("budgeted search and multiSearch == Search, folded over several batches") {
    for (ties <- Seq(true, false); seed <- 1 to 2) {
      val data = corpus(seed, 150 + 40 * seed, ties)
      val qs = queries(seed, ties).dropDuplicates(Search.QueryIdCol).drop("cluster")
      val q = new Random(seed).shuffle(Seq(1f, 0f, 2f).take(Dim))
      for ((name, c0) <- configs;
          c <- if (ties) Seq(c0) else Seq(c0, c0.copy(tieBreakCol = None))) {
        val what = s"seed $seed $name tie=${c.tieBreakCol.isDefined} budgeted"
        def single() = BudgetedSearch.search(data, q, c, budgetMs = 600000L,
          batchPartitions = 3)
        def batch() = BudgetedSearch.multiSearch(data, qs, c, budgetMs = 600000L,
          batchPartitions = 3)
        if (spans(c)) {
          for (e <- Seq(intercept[IllegalArgumentException](single()),
              intercept[IllegalArgumentException](batch())))
            assert(e.getMessage.contains("do not cover the group column"), s"$what: $e")
        } else {
          val (s, b) = (single(), batch())
          assert(s.complete && b.complete && b.scannedPartitions == Parts, what)
          checkSingle(s"$what single", s.rows, Search.search(data, q, c))
          checkBatch(s"$what batch", b.rows, Search.multiSearch(data, qs, c))
        }
      }
    }
  }

  test("joinCols routing == relational reference: IVF cells, LSH band keys, __cand_q") {
    import org.apache.spark.sql.functions._
    for (seed <- 4 to 5; (name, c) <- configs if !spans(c) && c.limit > 0) {
      val data = corpus(seed, 200, ties = true)
      val qs = queries(seed, ties = true)
      // IVF: each query row scores only its probed cell
      checkBatch(s"seed $seed $name cluster",
        Search.multiSearch(data, qs, c, Seq("cluster")),
        SearchReference.multiSearch(data, qs, c, Seq("cluster")))
      // LSH: every row and query lands in two (band, bucket) keys, so a
      // pair can match twice and dedup must collapse it
      val lshCfg = c.copy(assumeUniqueKeys = false)
      def banded(df: DataFrame): DataFrame = df
        .withColumn("__band", explode(array(lit(0), lit(1))))
        .withColumn("__bucket", (col("cluster") + col("__band")) % 3)
        .drop("cluster")
      // (which band's copy of a deduped row survives is arbitrary, so the
      // band columns are dropped, as lshMultiSearch drops them)
      val bands = Seq("__band", "__bucket")
      checkBatch(s"seed $seed $name bands",
        Search.multiSearch(banded(data), banded(qs), lshCfg, bands).drop(bands: _*),
        SearchReference.multiSearch(banded(data), banded(qs), lshCfg, bands).drop(bands: _*))
      // shortlist rerank: candidate rows carry the query they belong to
      val pairs = data.withColumn("__cand_q", lit(100L) + col("vec_id") % 7)
      val candQs = qs.dropDuplicates(Search.QueryIdCol).drop("cluster")
        .withColumn("__cand_q", col(Search.QueryIdCol))
      checkBatch(s"seed $seed $name __cand_q",
        Search.multiSearch(pairs, candQs, c, Seq("__cand_q")),
        SearchReference.multiSearch(pairs, candQs, c, Seq("__cand_q")))
    }
  }

  /** Five score kinds over `ragged` rows: each row's dimension is the
    * query dimension 8 or one off it, some rows are zero vectors (cosine's
    * zero-norm guard), and the 9-query batch — not a multiple of the
    * four-query scoring block — holds one query one element longer, one
    * with a null element and one null vector, so blocks, ragged blocks
    * and the remainder all run. */
  test("ragged rows and a 9-query batch == relational reference, all five kinds") {
    val qDim = 8
    def gauss(rnd: Random, d: Int): Seq[Any] = Seq.fill(d)(rnd.nextGaussian().toFloat)
    for (seed <- 6 to 7) {
      val rnd = new Random(seed)
      val rows = (0 until 240).map { i =>
        val d = qDim - 1 + rnd.nextInt(3)
        val feature = if (rnd.nextInt(20) == 0) Seq.fill(d)(0f) else gauss(rnd, d)
        Row(i.toLong, i.toLong, feature, s"g${rnd.nextInt(4)}", "{}", rnd.nextInt(4),
          java.nio.ByteBuffer.allocate(8).putLong(i.toLong).array())
      }
      val data = spark.createDataFrame(spark.sparkContext.parallelize(rows, Parts), schema)
      val qVecs = Seq.fill(6)(gauss(rnd, qDim)) ++
        Seq(gauss(rnd, qDim + 1), gauss(rnd, qDim).updated(2, null), null)
      val qs = spark.createDataFrame(spark.sparkContext.parallelize(
        qVecs.zipWithIndex.map { case (v, i) => Row(200L + i, v) }, 2), StructType(Seq(
          StructField(Search.QueryIdCol, LongType, nullable = false),
          StructField("feature", ArrayType(FloatType, containsNull = true)))))
      val q = gauss(rnd, qDim + 1).map(_.asInstanceOf[Float])
      for ((name, c) <- configs.take(5) :+ ("context least" -> base.copy(context =
          SearchContext(Seq(Seq.fill(qDim - 1)(0.5f), Seq.fill(qDim)(-0.25f)))))) {
        val what = s"seed $seed ragged $name"
        checkBatch(s"$what batch", Search.multiSearch(data, qs, c),
          SearchReference.multiSearch(data, qs, c))
        checkSingle(s"$what single", Search.search(data, q, c),
          SearchReference.search(data, q, c))
      }
    }
  }

  /** Every row shares one of three vectors, so scores tie exactly, and
    * each partition holds its rows in DESCENDING tie-break order: once a
    * pool is full, every later row ties its worst entry on score and
    * must still displace it on the tie-break. Query rows sharing a query
    * id (two cells each) share one pool. */
  test("a full pool meets exact-score ties at its worst entry") {
    val vecs = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f), Seq(1f, 1f, 0f))
    val rows = (299 to 0 by -1).map { i =>
      Row(i.toLong, (i % 40).toLong, vecs(i % 3), s"g${i % 5}", "{}", i % 4,
        java.nio.ByteBuffer.allocate(8).putLong(i.toLong).array())
    }
    val data = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val qs = queries(9, ties = true)
    val single = qs.dropDuplicates(Search.QueryIdCol).drop("cluster")
    for ((name, c) <- configs if name != "limit 0") {
      checkBatch(s"tied pools $name batch", Search.multiSearch(data, single, c),
        SearchReference.multiSearch(data, single, c))
      checkSingle(s"tied pools $name single", Search.search(data, Seq(1f, 0f, 1f), c),
        SearchReference.search(data, Seq(1f, 0f, 1f), c))
      if (!spans(c))
        checkBatch(s"tied pools $name cluster",
          Search.multiSearch(data, qs, c, Seq("cluster")),
          SearchReference.multiSearch(data, qs, c, Seq("cluster")))
    }
  }

  /** The merge must not fork again: only KnnKernel.scala may build a
    * pool or run the top-k and group finishing step. */
  test("one stage-2 fold: only KnnKernel builds pools or finishes rows") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val forms = Seq("""new\s+(Pool|PoolState)\b""".r, """\b(topRows|groupRows)\s*\(""".r)
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    val hits = for {
      f <- sources
      (ln, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = ln.replaceAll("//.*", "")
      if !code.trim.startsWith("*")
      form <- forms if form.findFirstIn(code).isDefined
    } yield (f.getFileName.toString, form, s"$f:${i + 1}: ${ln.trim}")
    val (kernel, others) = hits.partition(_._1 == "KnnKernel.scala")
    assert(forms.forall(form => kernel.exists(_._2 == form)),
      s"the check no longer sees the kernel's own fold: ${kernel.map(_._3)}")
    assert(others.isEmpty, s"a second stage-2 fold: ${others.map(_._3).mkString(", ")}")
  }
}
