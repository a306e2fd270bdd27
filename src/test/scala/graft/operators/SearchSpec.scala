package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Search pipeline semantics (SURVEY.md §2.4-2.5): dedup keep-best (A1),
  * context re-scoring incl. prioritize (A2), grouped top-k + group scoring
  * sum vs sum/len² (A3/A4), resultLimit (A6), JSON filters (F1/F2), and the
  * reference's golden kNN test (data/data_test.go:98-136) with exact
  * brute-force angular scoring. */
class SearchSpec extends SparkTestBase {

  import spark.implicits._

  private def cfg = SearchConfig(
    featureCol = "feature", groupLabelCol = "group_label",
    keyCols = Seq("id"), tieBreakCol = Some("id"))

  private def mkData(rows: (Long, Seq[Float], String, String)*) =
    rows.toDF("id", "feature", "group_label", "label")

  test("single-query kNN: orders by score, limits to k") {
    val df = mkData(
      (1L, Seq(1f, 0f), "g1", "{}"),
      (2L, Seq(0.9f, 0f), "g1", "{}"),
      (3L, Seq(0f, 1f), "g2", "{}"),
      (4L, Seq(5f, 5f), "g2", "{}"))
    val res = Search.search(df, Seq(1f, 0f), cfg.copy(limit = 2))
      .select("id").as[Long].collect()
    assert(res.toSeq == Seq(1L, 2L))
  }

  test("NaN-scored rows never rank: both paths drop them identically") {
    // a NaN element in a stored vector makes every score NaN; Spark orders
    // NaN as the LARGEST double, so unguarded desc ordering ranked it first
    val df = mkData(
      (1L, Seq(1f, 0f), "g", "{}"),
      (2L, Seq(Float.NaN, 0f), "g", "{}"),
      (3L, Seq(0.5f, 0.5f), "g", "{}"))
    val c = cfg.copy(scoreFuncName = "CosineSimilarity", higherIsBetter = true, limit = 3)
    val single = Search.search(df, Seq(1f, 0f), c).select("id").as[Long].collect().toSeq
    assert(single == Seq(1L, 3L), s"single path ranked $single")
    val multi = Search.multiSearch(df,
        Seq((9L, Seq(1f, 0f))).toDF(Search.QueryIdCol, "feature"), c)
      .select("id").as[Long].collect().toSeq
    assert(multi.toSet == single.toSet, s"paths disagree: $multi vs $single")
  }

  test("physical plan for single-query top-k is TakeOrderedAndProject") {
    val df = mkData((1L, Seq(1f, 0f), "g", "{}"), (2L, Seq(0f, 1f), "g", "{}"))
    val plan = Search.search(df, Seq(1f, 0f), cfg.copy(limit = 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("A1 dedup: best score per key wins") {
    // two rows with same key(id) via union; lower L2 must survive
    val df = mkData(
      (1L, Seq(0.5f, 0f), "g", "{}"),
      (1L, Seq(0.9f, 0f), "g", "{}"), // closer to query [1,0]
      (2L, Seq(0f, 1f), "g", "{}"))
    val res = Search.search(df, Seq(1f, 0f), cfg.copy(limit = 10))
    assert(res.count() == 2)
    val best = res.filter($"id" === 1L).select("feature").as[Seq[Float]].head
    assert(best == Seq(0.9f, 0f))
  }

  test("A2 context re-scoring: best-of {own, ctx}; prioritize drops own") {
    val df = mkData((1L, Seq(10f, 0f), "g", "{}"))
    val q = Seq(10f, 0f) // own score = 0
    val ctx = SearchContext(Seq(Seq(0f, 0f)), prioritize = false) // ctx score = 10
    val s1 = Search.search(df, q, cfg.copy(context = ctx))
      .select("score").as[Double].head
    assert(s1 === 0.0) // min(own=0, ctx=10)
    val s2 = Search.search(df, q, cfg.copy(context = ctx.copy(prioritize = true)))
      .select("score").as[Double].head
    assert(s2 === 10.0) // own ignored
  }

  test("A3/A4 grouped: lower-is-better group score = sum/len² with groupLimit") {
    // query [0,0]; group a members at L2 dists {1,2,9}; groupLimit=2 keeps {1,2}
    // → score (1+2)/2² = 0.75 ; group b single member at dist 2 → 2/1 = 2
    val df = mkData(
      (1L, Seq(1f, 0f), "a", "{}"),
      (2L, Seq(2f, 0f), "a", "{}"),
      (3L, Seq(9f, 0f), "a", "{}"),
      (4L, Seq(2f, 0f), "b", "{}"))
    val res = Search.search(df, Seq(0f, 0f), cfg.copy(limit = 10, groupLimit = 2))
      .select($"group_label", $"score", $"id").collect()
    assert(res.length == 2)
    assert(res(0).getString(0) == "a" && math.abs(res(0).getDouble(1) - 0.75) < 1e-9)
    assert(res(0).getLong(2) == 1L) // representative = best-ranked member
    assert(res(1).getString(0) == "b" && math.abs(res(1).getDouble(1) - 2.0) < 1e-9)
  }

  test("A4 grouped higherIsBetter: group score = plain sum (aggregator.go:167-172)") {
    // cosine vs [1,0]: group a = {1.0, ~0.894}, group b = {0.0}
    val df = mkData(
      (1L, Seq(1f, 0f), "a", "{}"),
      (2L, Seq(2f, 1f), "a", "{}"),
      (3L, Seq(0f, 1f), "b", "{}"))
    val res = Search.search(df, Seq(1f, 0f),
        cfg.copy(scoreFuncName = "CosineSimilarity", higherIsBetter = true,
          limit = 10, groupLimit = 5))
      .select($"group_label", $"score").as[(String, Double)].collect()
    val expectedA = 1.0 + 2.0 / math.sqrt(5.0)
    assert(res(0)._1 == "a" && math.abs(res(0)._2 - expectedA) < 1e-6)
    assert(res(1)._1 == "b" && math.abs(res(1)._2 - 0.0) < 1e-9)
  }

  test("A6 resultLimit truncates below limit") {
    val df = mkData((1 to 8).map(i => (i.toLong, Seq(i.toFloat), "g", "{}")): _*)
    val res = Search.search(df, Seq(0f), cfg.copy(limit = 5, resultLimit = 3))
    assert(res.count() == 3)
  }

  test("F1/F2 JSON-path existence filters, AND semantics (search.go:89-107)") {
    val df = mkData(
      (1L, Seq(1f), """{"category":"news","lang":"en"}""", """{"category":"news","lang":"en"}"""),
      (2L, Seq(1f), """{"category":"news"}""", """{"category":"news"}"""),
      (3L, Seq(1f), "not json", "not json"))
        .withColumnRenamed("group_label", "gl_tmp")
        .withColumnRenamed("label", "group_label")
        .withColumnRenamed("gl_tmp", "label")
    val both = Search.search(df, Seq(1f), cfg.copy(filters = Seq("category", "lang")))
    assert(both.select("id").as[Long].collect().toSeq == Seq(1L))
    val one = Search.search(df, Seq(1f), cfg.copy(filters = Seq("category")))
    assert(one.select("id").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
    val grp = Search.search(df, Seq(1f), cfg.copy(groupFilters = Seq("lang")))
    assert(grp.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("F3 TTL predicate") {
    import java.sql.Timestamp
    val now = Timestamp.valueOf("2026-01-01 00:00:00")
    val df = Seq(
      (1L, Option(Timestamp.valueOf("2026-06-01 00:00:00"))),
      (2L, Option(Timestamp.valueOf("2025-06-01 00:00:00"))),
      (3L, Option.empty[Timestamp])).toDF("id", "expire_at")
    val live = df.filter(Search.notExpired($"expire_at", lit(now)))
      .select("id").as[Long].collect().toSeq.sorted
    assert(live == Seq(1L, 3L))
  }

  test("rows with null feature are excluded, not ranked first") {
    val df = Seq(
      (1L, Some(Seq(1f, 0f)), "g", "{}"),
      (2L, Option.empty[Seq[Float]], "g", "{}"))
      .toDF("id", "feature", "group_label", "label")
    val res = Search.search(df, Seq(1f, 0f), cfg.copy(limit = 5))
      .select("id").as[Long].collect().toSeq
    assert(res == Seq(1L))
  }

  test("multi-query batch kNN partitions results per query") {
    val df = mkData(
      (1L, Seq(1f, 0f), "g", "{}"),
      (2L, Seq(0f, 1f), "g", "{}"),
      (3L, Seq(-1f, 0f), "g", "{}"))
    val queries = Seq((10L, Seq(1f, 0f)), (20L, Seq(0f, 1f)))
      .toDF(Search.QueryIdCol, "feature")
    val res = Search.multiSearch(df, queries, cfg.copy(limit = 1))
      .select(Search.QueryIdCol, "id").as[(Long, Long)].collect().toMap
    assert(res == Map(10L -> 1L, 20L -> 2L))
  }

  test("assumeUniqueKeys: multi-query plan has exactly ONE shuffle Exchange") {
    val df = mkData(
      (1L, Seq(1f, 0f), "g", "{}"),
      (2L, Seq(0f, 1f), "g", "{}"),
      (3L, Seq(-1f, 0f), "g", "{}"))
    val queries = Seq((10L, Seq(1f, 0f)), (20L, Seq(0f, 1f)))
      .toDF(Search.QueryIdCol, "feature")
    val res = Search.multiSearch(df, queries, cfg.copy(limit = 1, assumeUniqueKeys = true))
    // same results as the dedup path when keys really are unique
    val got = res.select(Search.QueryIdCol, "id").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 1L, 20L -> 2L))
    // scale contract: the only shuffle carries the per-partition pools'
    // survivors to the per-query merge; the query side is collected and
    // broadcast, and scoring feeds the bounded pools directly — no
    // O(rows) dedup exchange
    val plan = res.queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"expected exactly 1 shuffle Exchange, plan:\n$plan")
  }

  test("exact batch plan evaluates the pair score fewer than 3 times") {
    // the undefined-score drop references the score once: the optimizer
    // pushes it into the join condition and inlines the score there, so a
    // two-reference guard costs two extra evaluations per (query, row) pair.
    // Grouped with dedup keys that miss the group column is the config that
    // keeps the relational plan, so its plan still holds the score expression
    val df = mkData(
      (1L, Seq(1f, 0f), "g", "{}"),
      (2L, Seq(0f, 1f), "g", "{}"))
    val queries = Seq((10L, Seq(1f, 0f))).toDF(Search.QueryIdCol, "feature")
    val res = Search.multiSearch(df, queries, cfg.copy(limit = 1, groupLimit = 1))
    val scores = res.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.map(_.collect {
        case v: graft.functions.VectorScore => v }.size).sum
    }.sum
    assert(scores > 0 && scores < 3,
      s"score evaluated $scores times:\n${res.queryExecution.optimizedPlan}")
    assert(res.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("exact batch plan holds no BroadcastNestedLoopJoin and no ObjectHashAggregate") {
    // the kernel scores, dedups and keeps the top-k inside each data
    // partition: no per-pair join output, no per-query struct aggregate
    val df = mkData(
      (1L, Seq(1f, 0f), "g", "{}"),
      (2L, Seq(0f, 1f), "g", "{}"))
    val queries = Seq((10L, Seq(1f, 0f))).toDF(Search.QueryIdCol, "feature")
    for (c <- Seq(cfg, cfg.copy(assumeUniqueKeys = true),
        cfg.copy(groupLimit = 1, assumeUniqueKeys = true))) {
      val res = Search.multiSearch(df, queries, c.copy(limit = 1))
      assert(res.select("id").as[Long].collect().toSeq == Seq(1L))
      val plan = res.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("ObjectHashAggregate"),
        s"plan:\n$plan")
    }
  }

  test("golden: news-title kNN reproduces reference neighbour (data_test.go:135)") {
    val schema = StructType(Seq(
      StructField("title", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val path = getClass.getResource("/news_title_embeddings.jsonl").getPath
    val news = spark.read.schema(schema).json(path)
    val query = news.orderBy("title").limit(1) // row 0 is deterministic by file order; use first line's title instead
    // Reference queries with row 0's embedding (the Queen Elizabeth headline).
    val qvec = news
      .filter($"title" === "The Brands Queen Elizabeth, Prince Charles, and Prince Philip Swear By")
      .select("embedding").as[Seq[Float]].head
    val res = Search.search(
        news, qvec,
        SearchConfig(scoreFuncName = "AngularDistance", higherIsBetter = true,
          limit = 10, featureCol = "embedding", keyCols = Seq("title"),
          tieBreakCol = Some("title")))
      .select("title").as[String].collect()
    assert(res.length == 10)
    assert(res(0) == "The Brands Queen Elizabeth, Prince Charles, and Prince Philip Swear By") // self
    // The reference's golden assert (rank-1 = the Duchess Kate headline,
    // data_test.go:135) is an artifact of Annoy's approximation: by EXACT
    // angular similarity the LA-rivalry headline is closer (0.3654 vs
    // 0.3316). Our engine is exact by default, so we assert the true
    // ordering and keep the reference's neighbour at rank-2.
    assert(res(1) == "LA rivalry takes on new meaning for fans as Lakers, Clippers in hunt for NBA championship")
    assert(res(2) == "Every outfit Duchess Kate has worn in 2019") // reference's golden neighbour
  }

  test("reserved output columns in the input are rejected with the rename hint") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cfg = SearchConfig(featureCol = "embedding", keyCols = Seq("vec_id"),
      tieBreakCol = Some("vec_id"))
    val q = emb.select("embedding").as[Seq[Float]].head
    // feeding a previous result (which carries `score`) back in would be
    // silently clobbered then doubly-projected — must fail loudly instead
    val withScore = emb.withColumn("score", lit(0.0))
    val e = intercept[IllegalArgumentException](Search.search(withScore, q, cfg))
    assert(e.getMessage.contains("score") && e.getMessage.contains("rename"))
    val queries = emb.limit(2).select($"vec_id".as(Search.QueryIdCol), $"embedding")
    intercept[IllegalArgumentException](
      Search.multiSearch(emb.withColumn("query_id", lit(1)), queries, cfg))
  }
}
