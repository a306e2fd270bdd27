package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{BudgetedSearch, Search, SearchConfig}

/** Dev probe (r8, VERDICT r7 #2): where does `knn_budget_complete`'s
  * constant cost sit vs its deterministic twin? Times the ample-budget
  * single-query search at batchPartitions ∈ {8 (the default), 32 (one
  * batch = one job)} against `Search.search`, best-of-5 in ONE JVM, so
  * the sequential-job overhead and the fold cost separate: if bp=32
  * tracks the exact twin, the delta is per-job submission overhead at
  * tiny partitions, not the incremental fold. */
object BudgetProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val cfg = SearchConfig(
      scoreFuncName = "VectorDistance", higherIsBetter = false, limit = 10,
      featureCol = "embedding", keyCols = Seq("vec_id"),
      tieBreakCol = Some("vec_id"), assumeUniqueKeys = true)
    val nParts = emb.rdd.getNumPartitions
    println(s"[probe] scan partitions: $nParts")

    def best5(label: String)(body: => Long): Unit = {
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val rows = times.map(_._2).distinct
      println(f"[probe] $label%-28s best=${times.map(_._1).min}%.3f s " +
        f"runs=${times.map(t => f"${t._1}%.3f").mkString(",")} rows=$rows")
    }

    // warmup
    Search.search(emb, q, cfg).count()
    best5("exact Search.search")(Search.search(emb, q, cfg).count())
    for (bp <- Seq(8, nParts))
      best5(s"budget bp=$bp")(
        BudgetedSearch.search(emb, q, cfg, budgetMs = 600000L,
          batchPartitions = bp).rows.count())

    // r9: the scale leg — 10× the corpus over 16 partitions, where the
    // per-SCANNED-row decode the r8 path paid (scored.rdd) would grow
    // 10×; the budgeted path decodes only the kernel scan's pool
    // survivors, so the budget-vs-exact delta should stay the per-job
    // constant, not scale with the rows.
    import spark.implicits._
    val d = emb.select(col("embedding")).head().getSeq[Float](0).size
    val big = spark.range(525000L).map { id =>
      val rnd = new java.util.Random(id * 40503L + 7L)
      (id, Array.fill(d)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").repartition(16).localCheckpoint(true)
    println(s"[probe] scale leg: ${big.count()} vectors, " +
      s"${big.rdd.getNumPartitions} partitions")
    Search.search(big, q, cfg).count() // warm the big-corpus plan
    best5("exact 525k")(Search.search(big, q, cfg).count())
    for (bp <- Seq(4, 16))
      best5(s"budget 525k bp=$bp")(
        BudgetedSearch.search(big, q, cfg, budgetMs = 600000L,
          batchPartitions = bp).rows.count())
    spark.stop()
  }
}
