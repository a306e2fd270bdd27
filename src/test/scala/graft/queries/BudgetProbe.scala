package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{BudgetedSearch, Search, SearchConfig}

/** Dev probe: the ample-budget single-query `BudgetedSearch.search`
  * against its deterministic twin `Search.search`, best-of-5 in ONE JVM.
  * Two corpora, each split into 16 partitions: the sf table's embeddings
  * and 525k synthetic vectors of the same dimension. Each runs the budget
  * at bp=4 (four batch jobs, each folded on the driver) and bp=16 (one
  * job), so the per-batch cost separates from the scan: if bp=16 tracks
  * the exact twin, the bp=4 delta is per-job overhead, not the fold.
  * Run: `SPARK_GRAFT_SF_DIR=<sf dir> sbt "Test/runMain graft.queries.BudgetProbe"`. */
object BudgetProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    import spark.implicits._
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val cfg = SearchConfig(
      scoreFuncName = "VectorDistance", higherIsBetter = false, limit = 10,
      featureCol = "embedding", keyCols = Seq("vec_id"),
      tieBreakCol = Some("vec_id"), assumeUniqueKeys = true)

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

    val d = q.size
    val synthetic = spark.range(525000L).map { id =>
      val rnd = new java.util.Random(id * 40503L + 7L)
      (id, Array.fill(d)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    for ((name, corpus) <- Seq("sf" -> emb, "525k" -> synthetic)) {
      val data = corpus.repartition(16).localCheckpoint(true)
      println(s"[probe] $name: ${data.count()} vectors, " +
        s"${data.rdd.getNumPartitions} partitions")
      Search.search(data, q, cfg).count() // warm the plan
      best5(s"exact $name")(Search.search(data, q, cfg).count())
      for (bp <- Seq(4, 16))
        best5(s"budget $name bp=$bp")(
          BudgetedSearch.search(data, q, cfg, budgetMs = 600000L,
            batchPartitions = bp).rows.count())
    }
    spark.stop()
  }
}
