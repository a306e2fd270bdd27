package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The relational spelling of [[Search.multiSearch]] and
  * [[Search.search]], kept as the parity reference for the kernel:
  * broadcast nested-loop (or hash, with `joinCols`) join → score →
  * `min_by` dedup → grouped `CollectTopK` → per-query `CollectTopK`, and
  * scan → score → dedup → group → `orderBy.limit` for one query. Main
  * reaches the batch stages only for grouped configs whose dedup keys
  * span groups, a single query included; the single-query scored stage
  * lives only here. */
object SearchReference {

  def multiSearch(data: DataFrame, queries: DataFrame, cfg: SearchConfig,
      joinCols: Seq[String] = Nil): DataFrame = {
    val scored = Search.scoredMulti(data, queries, cfg, joinCols)
    val deduped =
      if (cfg.assumeUniqueKeys) scored else Search.dedupBest(scored, cfg, Seq(Search.QueryIdCol))
    val merged = if (cfg.groupLimit > 0) Search.groupedMerge(deduped, cfg) else deduped
    Search.topKPerQuery(merged, cfg)
  }

  def search(data: DataFrame, query: Seq[Float], cfg: SearchConfig): DataFrame = {
    val scored = scoredSingle(data, query, cfg)
    val deduped = if (cfg.assumeUniqueKeys) scored else Search.dedupBest(scored, cfg, Nil)
    val merged =
      if (cfg.groupLimit > 0)
        Search.groupedMerge(deduped.withColumn(Search.QueryIdCol, lit(0)), cfg)
          .drop(Search.QueryIdCol)
      else deduped
    merged.orderBy(Search.orderCols(cfg, col(Search.ScoreCol)): _*).limit(Search.topK(cfg))
  }

  /** The scan → filter → score stage of one query (pre-dedup, pre-top-k),
    * with the same null-feature and NaN guard as [[Search.scoredMulti]]. */
  private def scoredSingle(data: DataFrame, query: Seq[Float],
      cfg: SearchConfig): DataFrame =
    data
      .filter(Search.passesFilters(cfg))
      .withColumn(Search.ScoreCol,
        Search.contextRescore(cfg, col(cfg.featureCol),
          Search.scoreExpr(cfg, col(cfg.featureCol), lit(query.toArray))))
      .filter(Search.definedScore(col(Search.ScoreCol)))
}
