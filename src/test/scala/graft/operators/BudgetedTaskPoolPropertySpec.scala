package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Property spec for the kernel's per-partition pools ([[KnnKernel.scan]])
  * as both search paths run them: [[BudgetedSearch]] with
  * `batchPartitions = 1` (one job per partition, the survivors folded on
  * the driver) and [[Search]] (the survivors merged after a shuffle). Both
  * must equal a plain-Scala reference — dedup best per key, top-k per
  * pool, then the group score and top-k — over a parquet corpus in
  * several partitions whose scan REUSES its buffers: every case reads
  * with a two-row vectorized batch or the row-based reader, which writes
  * each row into one shared buffer. The pools' copy-on-admission is where
  * a missed copy silently reports a later-scanned row's contents for a
  * pool slot, so the payloads must survive. Scores are exact: 1-d
  * half-integer vectors under `VectorDistance` give |v - q| with no
  * rounding, and the tie column is unique, so the expected rows are
  * unambiguous. */
class BudgetedTaskPoolPropertySpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("grp", StringType, nullable = true),
    StructField("key", IntegerType, nullable = true),
    StructField("tie", LongType, nullable = false),
    StructField("payload", StringType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** A reference row: (query_id, grp, key, score, tie, payload). */
  private val ScoreIdx = 3
  private val TieIdx = 4
  private val GroupIdx = 1

  /** `rows` written as `parts` parquet files and read back. */
  private def parquet(rows: Seq[Row], parts: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pool").resolve("c").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** `body` with the parquet scan reusing its buffers row by row (the
    * row-based reader) or every two rows (a two-row vectorized batch). */
  private def reusingBuffers[T](vectorized: Boolean)(body: => T): T = {
    val confs = Seq(
      "spark.sql.parquet.enableVectorizedReader" -> vectorized.toString,
      "spark.sql.parquet.columnarReaderBatchSize" -> "2")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Mirror of the pools' ordering: score in the sign's direction, then
    * the (unique, non-null) tie column — total, so expected pool contents
    * are unambiguous. */
  private def ord(sign: Int): Ordering[Row] = new Ordering[Row] {
    def compare(a: Row, b: Row): Int = {
      val s = sign * java.lang.Double.compare(a.getDouble(ScoreIdx), b.getDouble(ScoreIdx))
      if (s != 0) s else java.lang.Long.compare(a.getLong(TieIdx), b.getLong(TieIdx))
    }
  }

  /** Ground truth, stated directly from the contract: per pool (query,
    * or (query, group)), keep the best row per dedup key, then the top
    * `gL > 0 ? gL : k` by the total order. */
  private def reference(rows: Seq[Row], k: Int, gL: Int, sign: Int,
      dedupIdx: Array[Int]): Seq[Seq[Row]] = {
    def keyOf(r: Row): Any =
      if (dedupIdx.length == 1) r.get(dedupIdx(0))
      else dedupIdx.toSeq.map(r.get)
    rows.groupBy(r => if (gL > 0) (r.get(0), r.get(GroupIdx)) else r.get(0))
      .values.map { pool =>
        val deduped =
          if (dedupIdx.isEmpty) pool
          else pool.groupBy(keyOf).values.map(_.min(ord(sign))).toSeq
        deduped.sorted(ord(sign)).take(if (gL > 0) gL else k)
      }.toSeq
  }

  /** The expected result per query: the pool rows best-first, or, grouped,
    * each group's (group, score, representative) — the score the sum of
    * its members (sign -1) or sum/len², folded best-first — best-first
    * by score, then the representative's tie. */
  private def expected(rows: Seq[Row], k: Int, gL: Int, sign: Int,
      dedupIdx: Array[Int]): Map[Any, Seq[Seq[Any]]] = {
    val pools = reference(rows, k, gL, sign, dedupIdx)
    if (gL == 0) pools.filter(_.nonEmpty).map { p =>
      p.head.get(0) -> p.map(r => Seq(r.get(ScoreIdx), r.get(TieIdx), r.get(5)))
    }.toMap
    else pools.filter(_.nonEmpty).groupBy(_.head.get(0)).map { case (q, ps) =>
      val groups = ps.map { p =>
        val sum = p.foldLeft(0d)(_ + _.getDouble(ScoreIdx))
        val score = if (sign < 0) sum else sum / (p.size * p.size)
        (score, p.head)
      }.sortWith { case ((s1, r1), (s2, r2)) =>
        val c = sign * java.lang.Double.compare(s1, s2)
        if (c != 0) c < 0 else r1.getLong(TieIdx) < r2.getLong(TieIdx)
      }.take(k)
      q -> groups.map { case (s, r) => Seq(r.get(GroupIdx), s, r.get(TieIdx), r.get(5)) }
    }
  }

  /** A result's rows per query id (`()` for a single query), in the
    * columns [[expected]] lists, in result order. */
  private def actual(df: DataFrame, multi: Boolean, grouped: Boolean): Map[Any, Seq[Seq[Any]]] = {
    val cols = (if (multi) Seq(Search.QueryIdCol) else Nil) ++
      (if (grouped) Seq("grp") else Nil) ++ Seq(Search.ScoreCol, "tie", "payload")
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
      .groupBy(r => if (multi) r.get(0) else ())
      .map { case (q, rs) => q -> rs.map(r => r.toSeq.drop(if (multi) 1 else 0)) }
  }

  private def run(rows: Seq[Row], parts: Int, queries: Seq[Float], multi: Boolean,
      k: Int, gL: Int, sign: Int, dedupIdx: Array[Int], vectorized: Boolean): Unit = {
    val cfg = SearchConfig(scoreFuncName = "VectorDistance", higherIsBetter = sign < 0,
      limit = k, groupLimit = gL, groupLabelCol = "grp",
      keyCols = dedupIdx.toSeq.map(Map(GroupIdx -> "grp", 2 -> "key")),
      assumeUniqueKeys = dedupIdx.isEmpty, tieBreakCol = Some("tie"))
    val refRows = for {
      (q, qi) <- queries.zipWithIndex
      r <- rows
    } yield Row(if (multi) qi else (), r.get(0), r.get(1),
      math.abs(r.getSeq[Float](4).head.toDouble - q), r.get(2), r.get(3))
    val want = expected(refRows, k, gL, sign, dedupIdx)
    val data = parquet(rows, parts)
    if (rows.size > parts) assert(data.rdd.getNumPartitions > 1, "one partition only")
    import spark.implicits._
    val qs = queries.zipWithIndex.map { case (q, i) => (i, Seq(q)) }
      .toDF(Search.QueryIdCol, "feature")
    val (budgeted, exact) = reusingBuffers(vectorized) {
      val b =
        if (multi) BudgetedSearch.multiSearch(data, qs, cfg, budgetMs = 120000L,
          batchPartitions = 1)
        else BudgetedSearch.search(data, queries, cfg, budgetMs = 120000L, batchPartitions = 1)
      assert(b.complete)
      val e = if (multi) Search.multiSearch(data, qs, cfg) else Search.search(data, queries, cfg)
      (actual(b.rows, multi, gL > 0), actual(e, multi, gL > 0))
    }
    val what = s"(n=${rows.size} parts=$parts k=$k gL=$gL sign=$sign multi=$multi " +
      s"dedup=${dedupIdx.mkString(",")} vectorized=$vectorized)"
    assert(budgeted == want, s"budgeted $what:\n got $budgeted\nwant $want")
    assert(exact == want, s"search $what:\n got $exact\nwant $want")
  }

  private def corpus(rnd: Random, n: Int): Seq[Row] = (0 until n).map { i =>
    Row(
      if (rnd.nextInt(10) == 0) null else ("g" + rnd.nextInt(4)),
      if (rnd.nextInt(10) == 0) null else Int.box(rnd.nextInt(6)),
      i.toLong,                                       // unique tie-break
      "p" + rnd.nextInt(100),
      Seq(math.floor(rnd.nextDouble() * 16).toFloat / 2)) // coarse: forces score ties
  }

  private def query(rnd: Random): Float = math.floor(rnd.nextDouble() * 16).toFloat / 2

  private def trials(seed0: Int)(body: (Random, Boolean) => Unit): Unit =
    for (seed <- 0 until 6) body(new Random(seed0 + seed), seed % 2 == 0)

  test("heap pool (no dedup) == reference over reused buffers") {
    trials(0) { (rnd, vec) =>
      run(corpus(rnd, rnd.nextInt(120)), parts = 2 + rnd.nextInt(4), Seq(query(rnd)),
        multi = false, k = 1 + rnd.nextInt(8), gL = 0, sign = if (rnd.nextBoolean()) 1 else -1,
        dedupIdx = Array.empty, vectorized = vec)
    }
  }

  test("dedup pool, single query == reference (nullable keys)") {
    trials(100) { (rnd, vec) =>
      run(corpus(rnd, rnd.nextInt(120)), parts = 2 + rnd.nextInt(4), Seq(query(rnd)),
        multi = false, k = 1 + rnd.nextInt(8), gL = 0, sign = if (rnd.nextBoolean()) 1 else -1,
        dedupIdx = Array(2), vectorized = vec)
    }
  }

  test("dedup pool, multi-query == reference") {
    trials(200) { (rnd, vec) =>
      run(corpus(rnd, rnd.nextInt(150)), parts = 2 + rnd.nextInt(4), Seq.fill(3)(query(rnd)),
        multi = true, k = 1 + rnd.nextInt(8), gL = 0, sign = if (rnd.nextBoolean()) 1 else -1,
        dedupIdx = Array(2), vectorized = vec)
    }
  }

  test("grouped pools (key covers group, as run() requires) == reference") {
    trials(300) { (rnd, vec) =>
      run(corpus(rnd, rnd.nextInt(150)), parts = 2 + rnd.nextInt(4), Seq.fill(3)(query(rnd)),
        multi = true, k = 1 + rnd.nextInt(5), gL = 1 + rnd.nextInt(4),
        sign = if (rnd.nextBoolean()) 1 else -1, dedupIdx = Array(GroupIdx, 2),
        vectorized = vec)
    }
  }

  test("grouped pools without dedup == reference") {
    trials(400) { (rnd, vec) =>
      run(corpus(rnd, rnd.nextInt(150)), parts = 2 + rnd.nextInt(4), Seq.fill(3)(query(rnd)),
        multi = true, k = 1 + rnd.nextInt(5), gL = 1 + rnd.nextInt(4),
        sign = if (rnd.nextBoolean()) 1 else -1, dedupIdx = Array.empty, vectorized = vec)
    }
  }

  test("edge shapes: empty input, k=1, k > n, single row") {
    run(Nil, parts = 1, Seq(0f), multi = false, k = 3, gL = 0, sign = 1,
      dedupIdx = Array.empty, vectorized = true)
    val rnd = new Random(7)
    run(corpus(rnd, 1), parts = 1, Seq(1f), multi = false, k = 1, gL = 0, sign = -1,
      dedupIdx = Array(2), vectorized = false)
    val few = corpus(rnd, 5)
    run(few, parts = 2, Seq(0f, 2f), multi = true, k = 50, gL = 0, sign = 1,
      dedupIdx = Array(2), vectorized = true)
    run(few, parts = 2, Seq(0f, 2f), multi = true, k = 50, gL = 50, sign = 1,
      dedupIdx = Array(GroupIdx, 2), vectorized = false)
  }

  test("a reducer that skipped the admission copy would fail: rows differ") {
    // sanity on the harness itself — with reused buffers, DISTINCT
    // payloads must survive into the output; if pool slots carried a
    // later-scanned row's payload this assert (not just the property) fails
    val rows = (0 until 20).map(i =>
      Row("g", Int.box(i), i.toLong, s"payload-$i", Seq(i.toFloat)))
    val cfg = SearchConfig(scoreFuncName = "VectorDistance", limit = 5, groupLabelCol = "grp",
      keyCols = Seq("key"), assumeUniqueKeys = true, tieBreakCol = Some("tie"))
    for (vec <- Seq(true, false)) {
      val data = parquet(rows, 3)
      val (budgeted, exact) = reusingBuffers(vec) {
        val b = BudgetedSearch.search(data, Seq(0f), cfg, budgetMs = 120000L,
          batchPartitions = 1)
        val payloads = (df: DataFrame) => df.select("payload").collect().map(_.getString(0)).toSeq
        (payloads(b.rows), payloads(Search.search(data, Seq(0f), cfg)))
      }
      val want = (0 until 5).map(i => s"payload-$i")
      assert(budgeted == want, s"admission copy lost (vectorized=$vec): $budgeted")
      assert(exact == want, s"admission copy lost (vectorized=$vec): $exact")
    }
  }
}
