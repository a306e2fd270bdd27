package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[BudgetedSearch]] — the opt-in timeout-bounded best-effort search
  * (VERDICT r4 #7): within the budget it equals the deterministic path;
  * past it, it returns the exact top-k over a documented subset, within
  * the budget plus scheduling slack. */
class BudgetedSearchSpec extends SparkTestBase {

  import spark.implicits._

  private def corpus(n: Int) = (0 until n)
    .map(i => (i.toLong, Array.tabulate(4)(d => (i * 4 + d).toFloat)))
    .toDF("vec_id", "feature")

  /** Names, types and nullability, field by field. */
  private def assertSameSchema(budgeted: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame): Unit =
    assert(budgeted.schema == exact.schema,
      s"budgeted schema ${budgeted.schema.treeString} != deterministic ${exact.schema.treeString}")

  private def cfg = SearchConfig(
    scoreFuncName = "VectorDistance", higherIsBetter = false, limit = 5,
    featureCol = "feature", keyCols = Seq("vec_id"), tieBreakCol = Some("vec_id"),
    assumeUniqueKeys = true)

  test("ample budget: complete scan, rows equal the deterministic search") {
    val data = corpus(500).repartition(8)
    val q = Seq(10f, 11f, 12f, 13f)
    val r = BudgetedSearch.search(data, q, cfg, budgetMs = 120000L)
    assert(r.complete && r.scannedPartitions == r.totalPartitions)
    val got = r.rows.select("vec_id", Search.ScoreCol)
      .as[(Long, Double)].collect().toSeq
    val want = Search.search(data, q, cfg).select("vec_id", Search.ScoreCol)
      .as[(Long, Double)].collect().toSeq
    assert(got == want, s"got $got want $want")
    assertSameSchema(r.rows, Search.search(data, q, cfg))
  }

  test("ample budget, multi: equals deterministic multiSearch per query") {
    val data = corpus(300).repartition(8)
    val queries = corpus(300).filter($"vec_id" < 10)
      .select($"vec_id".as(Search.QueryIdCol), $"feature")
    val r = BudgetedSearch.multiSearch(data, queries, cfg, budgetMs = 120000L)
    assert(r.complete)
    val got = r.rows.select(Search.QueryIdCol, "vec_id")
      .as[(Long, Long)].collect().toSet
    val want = Search.multiSearch(data, queries, cfg)
      .select(Search.QueryIdCol, "vec_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    assertSameSchema(r.rows, Search.multiSearch(data, queries, cfg))
  }

  test("dedup semantics survive the driver merge (duplicate keys, best kept)") {
    // two rows per vec_id with different features -> different scores;
    // without assumeUniqueKeys the merge must keep the better one
    val dup = corpus(100).unionByName(
      corpus(100).withColumn("feature",
        transform($"feature", x => x + 1000f)))
      .repartition(6)
    val q = Seq(10f, 11f, 12f, 13f)
    val c = cfg.copy(assumeUniqueKeys = false)
    val r = BudgetedSearch.search(dup, q, c, budgetMs = 120000L)
    assert(r.complete)
    val got = r.rows.select("vec_id", Search.ScoreCol)
      .as[(Long, Double)].collect().toSeq
    val want = Search.search(dup, q, c).select("vec_id", Search.ScoreCol)
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("expired budget: partial subset, exact over scanned partitions, bounded time") {
    // each partition sleeps ~400 ms inside the scan; 8 partitions, budget
    // 700 ms with batches of 2 -> only the first batch(es) complete
    val slow = corpus(80).repartition(8)
      .as[(Long, Array[Float])]
      .mapPartitions { it => Thread.sleep(400); it }
      .toDF("vec_id", "feature")
    val q = Seq(0f, 1f, 2f, 3f)
    val t0 = System.nanoTime()
    val r = BudgetedSearch.search(slow, q, cfg, budgetMs = 700L,
      batchPartitions = 2)
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(!r.complete, s"scanned ${r.scannedPartitions}/${r.totalPartitions}")
    assert(r.scannedPartitions < r.totalPartitions)
    // bounded: budget + one in-flight batch + scheduling slack, far under
    // a full serial scan (8 x 400 ms in 4 sequential local batches)
    assert(elapsedMs < 2500, s"took $elapsedMs ms")
    // every returned row is a REAL row with its true score, sorted, <= k
    val rows = r.rows.select("vec_id", Search.ScoreCol).as[(Long, Double)].collect()
    assert(rows.length <= 5)
    assert(rows.sortBy(_._2).toSeq == rows.toSeq)
    val truth = Search.search(corpus(80), q, cfg.copy(limit = 80))
      .select("vec_id", Search.ScoreCol).as[(Long, Double)].collect().toMap
    rows.foreach { case (id, s) => assert(truth(id) == s, s"row $id score $s") }
  }

  test("batchPartitions=0 (the default) sizes batches to one scheduler wave") {
    assert(BudgetedSearch.autoBatchPartitions(spark.sparkContext) ==
      math.max(spark.sparkContext.defaultParallelism, 8))
    intercept[IllegalArgumentException](
      BudgetedSearch.search(corpus(10), Seq(0f, 1f, 2f, 3f), cfg,
        budgetMs = 1000L, batchPartitions = -1))
  }

  test("score ties at the k boundary break by NATIVE ordering, not lexicographic") {
    // ids 5..15 all carry the query vector itself -> eleven exact score-0
    // ties at the k=5 boundary. Numeric vec_id ascending picks 5,6,7,8,9;
    // a lexicographic tie-break would pick "10","11","12","13","14"
    val q = Seq(1f, 2f, 3f, 4f)
    val data = (0 until 30).map { i =>
      val f = if (i >= 5 && i <= 15) q.toArray
              else Array.tabulate(4)(d => (1000f + i * 4 + d))
      (i.toLong, f)
    }.toDF("vec_id", "feature").repartition(4)
    val r = BudgetedSearch.search(data, q, cfg, budgetMs = 120000L)
    assert(r.complete)
    val got = r.rows.select("vec_id").as[Long].collect().toSeq
    val want = Search.search(data, q, cfg).select("vec_id").as[Long].collect().toSeq
    assert(got == want, s"got $got want $want")
    assert(got == Seq(5L, 6L, 7L, 8L, 9L))
  }

  test("duplicate keys crowding one partition cannot evict other keys' top-k rows") {
    // ONE partition: key 0 has 20 rows, ALL better than every other key's
    // row. A pool keyed only by query would fill its k slots with key-0
    // copies and lose keys 1..9 entirely; the dedup-aware pool must keep
    // key 0's best plus the next four keys — the deterministic result.
    val q = Seq(0f, 0f, 0f, 0f)
    val dupes = (0 until 20).map(c => (0L, Array.tabulate(4)(_ => c * 0.01f)))
    val others = (1 to 9).map(i => (i.toLong, Array.tabulate(4)(_ => 100f + i)))
    val data = (dupes ++ others).toDF("vec_id", "feature").repartition(1)
    val c = cfg.copy(assumeUniqueKeys = false)
    val r = BudgetedSearch.search(data, q, c, budgetMs = 120000L)
    assert(r.complete)
    val got = r.rows.select("vec_id", Search.ScoreCol)
      .as[(Long, Double)].collect().toSeq
    val want = Search.search(data, q, c).select("vec_id", Search.ScoreCol)
      .as[(Long, Double)].collect().toSeq
    assert(got == want, s"got $got want $want")
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
  }

  private def groupedCorpus(n: Int) = (0 until n)
    .map(i => (i.toLong, s"g${i % 7}", Array.tabulate(4)(d => (i * 4 + d).toFloat)))
    .toDF("vec_id", "group_label", "feature")

  private def groupedCfg = cfg.copy(limit = 3, groupLimit = 2,
    keyCols = Seq("vec_id", "group_label"))

  test("grouped top-k, ample budget: equals the deterministic grouped search exactly") {
    // duplicate (vec_id, group_label) keys with worse features make the
    // dedup stage load-bearing, not a no-op
    val data = groupedCorpus(200).unionByName(
        groupedCorpus(200).filter($"vec_id" % 3 === 0)
          .withColumn("feature", transform($"feature", x => x + 500f)))
      .repartition(8)
    val q = Seq(50f, 51f, 52f, 53f)
    for (c <- Seq(groupedCfg.copy(assumeUniqueKeys = false), // dedup, keyCols cover the group
        groupedCfg)) { // no dedup (assumeUniqueKeys inherited true)
      val r = BudgetedSearch.search(data, q, c, budgetMs = 120000L)
      assert(r.complete)
      val got = r.rows.select("group_label", Search.ScoreCol, "vec_id")
        .as[(String, Double, Long)].collect().toSeq
      val want = Search.search(data, q, c)
        .select("group_label", Search.ScoreCol, "vec_id")
        .as[(String, Double, Long)].collect().toSeq
      assert(got == want, s"cfg $c: got $got want $want")
      assertSameSchema(r.rows, Search.search(data, q, c))
    }
  }

  test("grouped dedup keys that span groups are refused loudly (truncation not associative)") {
    // WHY: key A's group-G row can win partition 1's G pool (evicting B)
    // while A's GLOBAL best lives in group H on partition 2 — after
    // cross-partition dedup, G's true member is the evicted B, so no
    // bounded per-partition pool can be exact. The reference cannot hit
    // this (its dedup key contains the group label), so the config is
    // rejected rather than silently wrong:
    val c = groupedCfg.copy(keyCols = Seq("vec_id"), groupLimit = 1,
      assumeUniqueKeys = false)
    val e = intercept[IllegalArgumentException](
      BudgetedSearch.search(groupedCorpus(50), Seq(0f, 0f, 0f, 0f), c,
        budgetMs = 120000L))
    assert(e.getMessage.contains("do not cover the group column"))
    // dedup on no key columns keys every row alike, so that one key spans
    // every group: the deterministic answer is a single row
    val noKeys = groupedCfg.copy(keyCols = Nil, assumeUniqueKeys = false)
    val sixGroups = (0 until 60)
      .map(i => (i.toLong, s"g${i % 6}", Array.tabulate(4)(d => (i * 4 + d).toFloat)))
      .toDF("vec_id", "group_label", "feature").repartition(4)
    val q = Seq(50f, 51f, 52f, 53f)
    val eNoKeys = intercept[IllegalArgumentException](
      BudgetedSearch.search(sixGroups, q, noKeys, budgetMs = 120000L))
    assert(eNoKeys.getMessage.contains("do not cover the group column"))
    assert(Search.search(sixGroups, q, noKeys)
      .select("group_label", "vec_id", Search.ScoreCol).as[(String, Long, Double)]
      .collect().toSeq == Seq(("g0", 12L, 4.0)))
    // the deterministic path still serves it — build the reviewer's exact
    // scenario and pin its answer as the contract the budget path must
    // not silently corrupt: key 0 in groups G (score worse) and H (best)
    val rows = Seq(
      (0L, "G", Array(1f, 0f, 0f, 0f)), // key 0, group G, score 1
      (1L, "G", Array(2f, 0f, 0f, 0f)), // key 1, group G, score 2
      (0L, "H", Array(0.5f, 0f, 0f, 0f)) // key 0's global best: group H
    ).toDF("vec_id", "group_label", "feature")
    val det = Search.search(rows, Seq(0f, 0f, 0f, 0f),
        c.copy(limit = 2, tieBreakCol = Some("vec_id")))
      .select("group_label", "vec_id").as[(String, Long)].collect().toSet
    assert(det == Set(("H", 0L), ("G", 1L)), s"deterministic said $det")
  }

  test("reserved columns: score always, query_id only for a batch, on both entry points") {
    val data = groupedCorpus(40).withColumn(Search.QueryIdCol, lit(7L)).repartition(4)
    val q = Seq(0f, 1f, 2f, 3f)
    // a single query writes no query_id, so data may carry one, grouped or not
    for (c <- Seq(cfg, groupedCfg)) {
      val r = BudgetedSearch.search(data, q, c, budgetMs = 120000L)
      val want = Search.search(data, q, c)
      val cols = Seq("group_label", "vec_id", Search.QueryIdCol, Search.ScoreCol).map(col)
      assert(r.rows.select(cols: _*).collect().toSeq == want.select(cols: _*).collect().toSeq)
      assertSameSchema(r.rows, want)
    }
    val queries = groupedCorpus(40).filter($"vec_id" < 2)
      .select($"vec_id".as(Search.QueryIdCol), $"feature")
    val scored = data.withColumn(Search.ScoreCol, lit(0.0))
    for (c <- Seq(cfg, groupedCfg); e <- Seq(
        intercept[IllegalArgumentException](Search.multiSearch(data, queries, c)),
        intercept[IllegalArgumentException](
          BudgetedSearch.multiSearch(data, queries, c, budgetMs = 120000L)),
        intercept[IllegalArgumentException](Search.search(scored, q, c)),
        intercept[IllegalArgumentException](
          BudgetedSearch.search(scored, q, c, budgetMs = 120000L))))
      assert(e.getMessage.contains("reserved column"), e.getMessage)
  }

  test("grouped top-k, ample budget, multi: equals deterministic multiSearch per query") {
    val data = groupedCorpus(200).repartition(8)
    val queries = groupedCorpus(200).filter($"vec_id" < 5)
      .select($"vec_id".as(Search.QueryIdCol), $"feature")
    val r = BudgetedSearch.multiSearch(data, queries, groupedCfg, budgetMs = 120000L)
    assert(r.complete)
    val got = r.rows.select(Search.QueryIdCol, "group_label", Search.ScoreCol, "vec_id")
      .as[(Long, String, Double, Long)].collect().toSet
    val want = Search.multiSearch(data, queries, groupedCfg)
      .select(Search.QueryIdCol, "group_label", Search.ScoreCol, "vec_id")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(got == want)
  }

  test("grouped top-k under an expired budget: bounded partial, complete=false") {
    val slow = groupedCorpus(80).repartition(8)
      .as[(Long, String, Array[Float])]
      .mapPartitions { it => Thread.sleep(400); it }
      .toDF("vec_id", "group_label", "feature")
    val r = BudgetedSearch.search(slow, Seq(0f, 1f, 2f, 3f), groupedCfg,
      budgetMs = 700L, batchPartitions = 2)
    assert(!r.complete && r.scannedPartitions < r.totalPartitions)
    assert(r.rows.count() <= groupedCfg.limit)
  }

  test("NULL dedup-key values cannot corrupt the bounded pool's worst tracking") {
    // ADVICE r6 (medium): with worstKey==null doubling as the 'no worst
    // yet' sentinel, a real NULL key as the pool's worst let any new
    // distinct key unconditionally become worstKey — a later eviction
    // then removed the WRONG key while reporting complete=true. Arrival
    // order is load-bearing: null(worst) must enter before 'b', then 'c'
    // must force an eviction. One partition, k=3.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("vec_id", LongType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = Seq(
      org.apache.spark.sql.Row("a", 1L, Seq(1f, 0f, 0f, 0f)), // score 1
      org.apache.spark.sql.Row(null, 2L, Seq(5f, 0f, 0f, 0f)), // score 5: the true worst
      org.apache.spark.sql.Row("b", 3L, Seq(3f, 0f, 0f, 0f)), // score 3
      org.apache.spark.sql.Row("c", 4L, Seq(2f, 0f, 0f, 0f))) // score 2: evicts the null key
    val data = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, numSlices = 1), schema)
    val c = cfg.copy(limit = 3, keyCols = Seq("k"),
      tieBreakCol = Some("vec_id"), assumeUniqueKeys = false)
    val q = Seq(0f, 0f, 0f, 0f)
    val r = BudgetedSearch.search(data, q, c, budgetMs = 120000L)
    assert(r.complete)
    val got = r.rows.select("vec_id").as[Long].collect().toSeq
    val want = Search.search(data, q, c).select("vec_id").as[Long].collect().toSeq
    assert(got == want, s"got $got want $want")
    assert(got == Seq(1L, 4L, 3L)) // the null-keyed row (score 5) is out
  }

  test("incremental fold: driver holds O(k + one batch) rows across many batches") {
    // 64 partitions in batches of 4 = 16 batches; the r6 accumulate-all
    // design held 64*k rows before merging — the incremental fold must
    // stay at merge state (<= k) + one batch (<= 4*k) at any instant
    val data = corpus(2000).repartition(64)
    val q = Seq(10f, 11f, 12f, 13f)
    val r = BudgetedSearch.search(data, q, cfg, budgetMs = 120000L,
      batchPartitions = 4)
    assert(r.complete && r.totalPartitions == 64)
    val k = cfg.limit
    assert(r.driverPeakRows > 0 && r.driverPeakRows <= k + 4 * k,
      s"driverPeakRows ${r.driverPeakRows} exceeds state+one-batch bound ${k + 4 * k}")
    val got = r.rows.select("vec_id").as[Long].collect().toSeq
    val want = Search.search(data, q, cfg).select("vec_id").as[Long].collect().toSeq
    assert(got == want)
  }

  test("typo'd keyCols / tieBreakCol are rejected loudly, like the deterministic path") {
    val data = corpus(20)
    val q = Seq(0f, 1f, 2f, 3f)
    val e1 = intercept[IllegalArgumentException](BudgetedSearch.search(
      data, q, cfg.copy(keyCols = Seq("no_such_col"), assumeUniqueKeys = false),
      budgetMs = 120000L))
    assert(e1.getMessage.contains("no_such_col"))
    val e2 = intercept[IllegalArgumentException](BudgetedSearch.search(
      data, q, cfg.copy(tieBreakCol = Some("no_such_col")), budgetMs = 120000L))
    assert(e2.getMessage.contains("no_such_col"))
  }

  test("grouped driver state beyond maxDriverRows fails loudly, naming the cause") {
    // one group per row -> exact grouped state is O(distinct groups);
    // a tiny cap must trip the guard rather than grow silently
    val data = (0 until 200)
      .map(i => (i.toLong, s"g$i", Array.tabulate(4)(d => (i * 4 + d).toFloat)))
      .toDF("vec_id", "group_label", "feature").repartition(8)
    val c = cfg.copy(limit = 3, groupLimit = 1)
    val e = intercept[IllegalStateException](BudgetedSearch.search(
      data, Seq(0f, 0f, 0f, 0f), c, budgetMs = 120000L, maxDriverRows = 10))
    assert(e.getMessage.contains("maxDriverRows"))
  }

  test("property sweep: ample budget == deterministic across random corpora and configs") {
    // the broad pin for the r7 incremental merge: random duplicate
    // rates, score ties, NULL-able group labels, dedup on/off, grouped
    // on/off, both score directions, varying partition and batch counts
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 8) {
      val n = 50 + rnd.nextInt(200)
      val nParts = 1 + rnd.nextInt(7)
      val batch = 1 + rnd.nextInt(4)
      val dupEvery = 2 + rnd.nextInt(5)
      val tieEvery = 2 + rnd.nextInt(4) // frequent exact score ties
      val rows = (0 until n).map { i =>
        val key = (i / dupEvery).toLong // duplicate keys with different rows
        val base = (i % tieEvery) * 10f
        // group is a FUNCTION of the key (the reference's own invariant:
        // the dedup key contains the group label) — otherwise two groups
        // can tie on BOTH score and rep tie-break, leaving their mutual
        // order genuinely unspecified in either path
        (key, s"g${key % 5}", Array.tabulate(4)(d => base + d))
      }
      val data = rows.toDF("vec_id", "group_label", "feature").repartition(nParts)
      val grouped = rnd.nextBoolean()
      val c = SearchConfig(
        scoreFuncName = "VectorDistance",
        higherIsBetter = rnd.nextBoolean(),
        limit = 1 + rnd.nextInt(8),
        groupLimit = if (grouped) 1 + rnd.nextInt(3) else 0,
        featureCol = "feature",
        groupLabelCol = "group_label",
        keyCols = if (grouped) Seq("vec_id", "group_label") else Seq("vec_id"),
        tieBreakCol = Some("vec_id"),
        assumeUniqueKeys = rnd.nextBoolean())
      val q = Seq.fill(4)(rnd.nextInt(40).toFloat)
      val r = BudgetedSearch.search(data, q, c, budgetMs = 120000L,
        batchPartitions = batch)
      assert(r.complete, s"trial $trial: incomplete ample scan")
      val cols =
        if (grouped) Seq("group_label", Search.ScoreCol, "vec_id")
        else Seq("vec_id", Search.ScoreCol)
      val got = r.rows.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      val want = Search.search(data, q, c).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
      assert(got == want,
        s"trial $trial (n=$n parts=$nParts batch=$batch cfg=$c):\n got=$got\nwant=$want")
    }
  }

  test("a genuine task failure propagates — it is NOT converted into a partial result") {
    val poisoned = corpus(40).repartition(4)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case r @ (id, _) =>
          if (id == 17L) throw new RuntimeException("corrupt input row")
          r
        }
      }
      .toDF("vec_id", "feature")
    val e = intercept[org.apache.spark.SparkException](
      BudgetedSearch.search(poisoned, Seq(0f, 1f, 2f, 3f), cfg,
        budgetMs = 120000L))
    assert(e.getMessage.contains("corrupt input row") ||
      Option(e.getCause).exists(_.getMessage.contains("corrupt input row")))
  }

  test("deployed Spark carries the self-controlled cancel reason to the driver exception") {
    // pins the dependency the expiry check rests on (ADVICE r7): on THIS
    // Spark version, cancelJobGroup(groupId, reason) threads our marker
    // string verbatim into the driver-side failure. If a Spark upgrade
    // drops the reason, this fails here — not as silently-broken expiry.
    val sc = spark.sparkContext
    val groupId = s"graft-budget-pin-${java.util.UUID.randomUUID()}"
    val reason = BudgetedSearch.cancelReason(groupId)
    BudgetedSearchSpec.taskStarted.set(false)
    val canceller = new Thread(() => {
      while (!BudgetedSearchSpec.taskStarted.get()) Thread.sleep(10)
      sc.cancelJobGroup(groupId, reason)
    })
    canceller.setDaemon(true)
    canceller.start()
    val e = intercept[org.apache.spark.SparkException] {
      sc.setJobGroup(groupId, "cancel-reason pin", interruptOnCancel = true)
      try {
        // local mode shares the JVM, so the static flag observes the task
        val rdd = sc.parallelize(1 to 4, 4).map { i =>
          BudgetedSearchSpec.taskStarted.set(true)
          Thread.sleep(30000)
          i
        }
        rdd.count()
      } finally sc.clearJobGroup()
    }
    canceller.join(10000)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(chain.contains(reason), s"cancel reason not in failure chain: $chain")
  }
}

object BudgetedSearchSpec {
  val taskStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
}
