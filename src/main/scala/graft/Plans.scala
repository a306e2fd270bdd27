package graft

/** Dev tool: dump formatted physical plans of the flagship queries to
  * stdout (redirect into PLANS.md). Not part of the driver contract. */
object Plans {
  /** The flagship set PLANS.md documents — public so PlansGuardSpec can
    * fail the build when PLANS.md drifts from it (or it drifts from
    * `SparkEntry.queries`), instead of the doc silently going stale
    * (VERDICT r7 #8). */
  val flagships: Seq[String] = Seq(
    "knn_multi_100", "ann_ivf_multi", "ann_ivfpq_multi", "ann_ivfsq8_multi",
    "ann_lsh_multi", "ann_sq8_knn",
    "dedup_jaccard_pairs", "dedup_jaccard_skew_prefix", "dedup_minhash_lsh",
    "dedup_simhash_pairs", "dedup_strip_spans", "dedup_substring_strip",
    "dedup_contains_ngram",
    "filter_json_keywild", "filter_json_nested",
    "mix_sample_rate", "mix_sample_budget", "pack_chunked", "pipeline_curate",
    "rel_q3_top_revenue", "retrieval_bm25", "retrieval_bm25_multi",
    "retrieval_bm25_indexed", "cluster_lloyd", "cluster_semdedup",
    "lm_ppl_filter", "lm_5gram_score", "bpe_segment_count",
    "ann_rp_multi", "mix_temperature", "dsir_weights", "chunk_docs",
    "text_knn_hashed_multi", "pipeline_curate_v3", "layout_bucketed_join",
    "events_asof_attrib", "dedup_contains_bloom", "emb_hard_negatives",
    "layout_zorder_scan",
    "url_domain_cap", "attr_store_census", "snapshot_diff_census",
    "dedup_paragraphs", "pipeline_curate_v4")

  /** The extra hand-built section documenting the budgeted path's
    * per-batch stage (not a `SparkEntry.queries` key). */
  val budgetSection = "knn_budget_* (per-batch kernel scan)"

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    println("# Physical plans of the flagship queries")
    println(s"\nGenerated by `graft.Plans` over `$dir` -- the plans the scale")
    println("claims in README.md rest on (broadcasts, partial top-k heaps,")
    println("pushed filters, single exchanges). Regenerate after plan-affecting")
    println("changes: `SPARK_GRAFT_SF_DIR=... sbt \"runMain graft.Plans\" > PLANS.md`.")
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n## $name\n")
      println("```")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println("```")
    }
    flagships.foreach(name => dump(name, SparkEntry.queries(name)(spark, dir)))
    // the budgeted path's per-batch plan: its queries (knn_budget_*)
    // return driver-merged local relations by design, so the plan worth
    // reading is the kernel scan each incremental batch job runs — the
    // deterministic batch plan's stage 1, without the shuffle and merge
    locally {
      import org.apache.spark.sql.functions.col
      import graft.operators.{BudgetedSearch, Search, SearchConfig}
      val emb = graft.queries.Tables(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as(Search.QueryIdCol), col("embedding"))
      val cfg = SearchConfig(
        scoreFuncName = "VectorDistance", higherIsBetter = false, limit = 10,
        featureCol = "embedding", groupLabelCol = "label",
        keyCols = Seq("vec_id"), tieBreakCol = Some("vec_id"),
        assumeUniqueKeys = true)
      dump(budgetSection,
        BudgetedSearch.batchStageMulti(emb, queries, cfg))
    }
    spark.stop()
  }
}
