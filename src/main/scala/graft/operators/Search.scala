package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

import graft.functions.ScoreFunctions

/** Context re-scoring input (veriservice.proto:42-45). */
final case class SearchContext(
    vectors: Seq[Seq[Float]] = Nil,
    prioritize: Boolean = false)

/** The reference's SearchConfig (veriservice.proto:24-40; defaults
  * data/search.go:26-34) plus Spark column-binding knobs. */
final case class SearchConfig(
    scoreFuncName: String = "VectorDistance",
    higherIsBetter: Boolean = false,
    limit: Int = 10,
    groupLimit: Int = 0,
    resultLimit: Int = 0,
    filters: Seq[String] = Nil,
    groupFilters: Seq[String] = Nil,
    context: SearchContext = SearchContext(),
    featureCol: String = "feature",
    groupLabelCol: String = "group_label",
    labelCol: String = "label",
    /** row-identity columns for best-score dedup (the serialized DatumKey
      * in the reference, aggregator.go:118-134) */
    keyCols: Seq[String] = Seq("feature", "group_label"),
    /** The reference needs A1 dedup only because the same datum arrives
      * from multiple peers (aggregator.go:118-134); a single-table Spark
      * scan of a source whose `keyCols` are unique cannot produce
      * duplicates. Setting this skips the dedup aggregate entirely — at
      * scale that aggregate is an O(rows) shuffle (map-side `min_by`
      * combines nothing when keys are unique), whereas the bounded top-k
      * that follows ships only k rows per partition. */
    assumeUniqueKeys: Boolean = false,
    /** optional unique column for deterministic tie-breaking; the reference
      * is order-nondeterministic on score ties, we are not */
    tieBreakCol: Option[String] = None)

/** The query engine: multi-query kNN scan → context re-score → JSON filter
  * → best-score dedup → optional grouped top-k → global top-k
  * (reference lifecycle SURVEY.md §3.1).
  *
  * Scale design (100 TB): every search shape runs one per-partition
  * kernel ([[KnnKernel]]). The batch's queries are collected once on the
  * driver (bounded by [[MaxQueryRows]]) and broadcast; the big table is
  * scanned exactly once, its JSON filter a Catalyst `Filter` under the
  * kernel, and each task scores its rows against every query and folds
  * the pairs into bounded pools — one per query, or per (query, group) —
  * that keep the best row per dedup key. Only the pool survivors (k rows
  * per query per partition; `groupLimit` per (query, group) when
  * grouped) cross the one shuffle, on `query_id` for a batch, where the
  * same pools merge and the group-score and top-k step runs. A single
  * query ends in `orderBy.limit` (`TakeOrderedAndProject`), after its
  * survivors are folded in one task when it groups or dedups. No stage
  * shuffles O(rows) data, and no join or aggregate builds per-pair
  * structs. The one exception is a grouped config whose
  * dedup keys miss the group column: a key can then span groups, bounded
  * per-partition group pools are not exact, and it keeps the relational
  * plan (broadcast join → `min_by` dedup → grouped `CollectTopK`).
  */
object Search {

  val QueryIdCol = "query_id"
  val ScoreCol = "score"

  /** The most query rows (one per query, or per (query, routing key)
    * when `joinCols` route) one batch may collect. The query set lives on
    * the driver, is broadcast to every executor, and each task keeps one
    * bounded pool per query: 100k rows of 1,024-d floats are ~400 MB of
    * broadcast and, at k = 10, a million pooled rows per task. A larger
    * batch should be split by the caller; failing loudly here beats an
    * executor running out of memory. */
  val MaxQueryRows = 100000

  /** Sort order for "better" per config (search.go:75-83). */
  def scoreOrder(cfg: SearchConfig, score: Column): Column =
    if (cfg.higherIsBetter) score.desc else score.asc

  private[operators] def orderCols(cfg: SearchConfig, score: Column): Seq[Column] =
    scoreOrder(cfg, score) +: cfg.tieBreakCol.map(col(_).asc).toSeq

  /** "Smaller is better" composite ordering key: the (possibly negated)
    * score plus the deterministic tie-break. Lets every merge stage use
    * min-style aggregates regardless of score direction. */
  private[operators] def orderKey(cfg: SearchConfig, score: Column): Column = {
    val eff = if (cfg.higherIsBetter) -score else score
    struct(eff.as("__eff") +: cfg.tieBreakCol.map(c => col(c).as("__tie")).toSeq: _*)
  }

  /** Partial-aggregating bounded top-k (the Spark-native version of the
    * reference's bounded Collector, search.go:64-86): per-partition heaps
    * of size k, merged — shuffle carries at most k rows per partition per
    * group instead of every scored row (what a window row_number would do). */
  private[operators] def collectTopK(e: Column, k: Int): Column =
    Bridge.column(
      new CollectTopK(Bridge.expression(e), k, true).toAggregateExpression())

  private def betterOf(cfg: SearchConfig, cs: Seq[Column]): Column =
    if (cs.size == 1) cs.head // least/greatest require >= 2 args
    else if (cfg.higherIsBetter) greatest(cs: _*)
    else least(cs: _*)

  /** Stage: raw score column between the row's feature and a query vector. */
  def scoreExpr(cfg: SearchConfig, feature: Column, query: Column): Column =
    ScoreFunctions.score(cfg.scoreFuncName, feature, query)

  /** Stage A2: context re-scoring (aggregator.go:56-76). The row's score
    * becomes the best of {its own score (unless context.prioritize)} ∪
    * {score vs each context vector}. */
  def contextRescore(cfg: SearchConfig, feature: Column, ownScore: Column): Column = {
    if (cfg.context.vectors.isEmpty) ownScore
    else {
      val ctxScores = cfg.context.vectors.map { v =>
        scoreExpr(cfg, feature, lit(v.toArray))
      }
      val candidates = if (cfg.context.prioritize) ctxScores else ownScore +: ctxScores
      betterOf(cfg, candidates)
    }
  }

  /** Stages F1/F2: conjunctive JSON-path existence filters
    * (search.go:89-107; gjson paths → [[GjsonPath.exists]], which covers
    * dotted keys (with `\` escapes), `*`/`?` key wildcards, array
    * indexes, `#` wildcards and `#(key op literal)` queries, and rejects
    * the rest of gjson's syntax loudly — see its scaladoc for the exact
    * subset and deviations). */
  def passesFilters(cfg: SearchConfig): Column = {
    // conjunctive per column: kernel-routed paths against the same label
    // column share ONE JSON parse per row (GjsonPath.existsAll) — the
    // reference ANDs every filter (search.go:99-107), so f filters must
    // not cost f parses on the scan's hot path
    val f1 = Option.when(cfg.filters.nonEmpty)(
      GjsonPath.existsAll(col(cfg.labelCol), cfg.filters))
    val f2 = Option.when(cfg.groupFilters.nonEmpty)(
      GjsonPath.existsAll(col(cfg.groupLabelCol), cfg.groupFilters))
    (f1 ++ f2).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Stage F3: TTL expiry predicate (newsync.go:78-80). Deterministic `asOf`
    * instead of wall-clock for testability; physical delete is compaction. */
  def notExpired(expireAt: Column, asOf: Column): Column =
    expireAt.isNull || expireAt > asOf

  /** The engine owns these output column names; input data carrying one
    * would be silently replaced by `withColumn` and then projected TWICE
    * (ambiguous-reference failures deep in the merge) — reject up front
    * with the rename instruction instead. */
  private[operators] def requireFreeColumns(data: DataFrame, reserved: Seq[String],
      op: String): Unit = {
    val clash = reserved.filter(data.columns.contains)
    require(clash.isEmpty,
      s"$op: data already carries reserved column(s) ${clash.mkString(", ")} " +
        "— rename or drop them first (e.g. a previous search result's score)")
  }

  /** The broadcast-join→filter→score stage of the relational plan
    * (pre-dedup, pre-top-k): every (query, row) pair, scored. Main runs it
    * only in the spanning-keys plan, a single query as a one-row query
    * frame; the relational parity reference runs it for every config. */
  private[operators] def scoredMulti(data: DataFrame, queries: DataFrame,
      cfg: SearchConfig, joinCols: Seq[String]): DataFrame = {
    requireFreeColumns(data, Seq(QueryIdCol, ScoreCol, "__query_vec"), "multiSearch")
    val qvec = "__query_vec"
    val q = queries.select(
      col(QueryIdCol) +:
        col(cfg.featureCol).cast("array<float>").as(qvec) +:
        joinCols.map(col): _*)

    val dataCols = data.columns.toSeq
    val joined =
      if (joinCols.isEmpty) data.crossJoin(broadcast(q))
      else data.join(broadcast(q), joinCols)
    joined
      .filter(passesFilters(cfg))
      .withColumn(ScoreCol,
        contextRescore(cfg, col(cfg.featureCol),
          scoreExpr(cfg, col(cfg.featureCol), col(qvec))))
      // rows with null feature score null; without this guard they'd sort
      // FIRST in the ascending order key and poison dedup/top-k (the
      // reference can't hit this — protobuf vectors are never null). NaN
      // (a NaN element in a stored vector) is dropped for the same reason:
      // Spark orders NaN as the LARGEST double, so it would rank first in
      // descending order here yet last in the negated multi-query order
      // key — an undefined score must not rank at all, and never
      // differently across the two paths
      .filter(definedScore(col(ScoreCol)))
      .select((QueryIdCol +: dataCols :+ ScoreCol).map(col): _*)
  }

  /** True where `score` is defined (neither null nor NaN), spelled with
    * ONE reference to the score: the optimizer pushes this filter below
    * the projection that computes the score and inlines it there, so
    * every reference is one more score evaluation per row — the
    * two-reference spelling ran the unrolled RP fold three times per
    * batch pair (ann_rp_multi 4.1 s against 1.4 s at sf0.1). */
  private[operators] def definedScore(score: Column): Column =
    !isnan(coalesce(score, lit(Double.NaN)))

  /** The query side of a batch as the kernel collects it: `query_id`, the
    * vector cast to `array<float>` (under the feature column's name),
    * then the `joinCols` values. */
  private[operators] def queryFrame(queries: DataFrame, cfg: SearchConfig,
      joinCols: Seq[String]): DataFrame =
    queries.select(
      col(QueryIdCol) +:
        col(cfg.featureCol).cast("array<float>").as(cfg.featureCol) +:
        joinCols.map(col): _*)

  /** J4 MultiAggregatedSearch: batch kNN of every row in `queries` against
    * `data`. `queries` must carry a `query_id` column and a vector column
    * named like cfg.featureCol. Result: query_id, data.*, score — the top
    * `limit` rows per query, best-first within each query.
    *
    * `joinCols`: optional routing key shared by `data` and `queries` (e.g.
    * the IVF `cluster` id). Empty = every query scores every row (exact);
    * non-empty = each query row scores only the data rows whose key
    * equals its own (an equi-join: null keys never match) — the batch
    * index path. The query set is collected here, in one job labelled
    * `Search.queries`, and fails loudly past [[MaxQueryRows]]; the
    * returned DataFrame is lazy. */
  def multiSearch(data: DataFrame, queries: DataFrame, cfg: SearchConfig,
      joinCols: Seq[String] = Nil): DataFrame =
    knn(data, collectQueries(queries, cfg, joinCols), cfg, joinCols)

  /** A batch's query set as the kernel takes it: [[queryFrame]] collected
    * in one job labelled `Search.queries`, failing loudly past
    * [[MaxQueryRows]] — for [[multiSearch]] and
    * [[BudgetedSearch.multiSearch]]. */
  private[operators] def collectQueries(queries: DataFrame, cfg: SearchConfig,
      joinCols: Seq[String]): KnnKernel.Queries = {
    val q = queryFrame(queries, cfg, joinCols)
    KnnKernel.Queries(Materialize.collect(q, "Search.queries", MaxQueryRows), Some(q.schema))
  }

  /** J1/J3 single-query exact kNN, ending in `orderBy().limit()` — the
    * `TakeOrderedAndProject` bounded-heap merge of the reference's
    * bounded Collector (search.go:64-86) + scatter-gather merge
    * (search.go:161-241). */
  def search(data: DataFrame, query: Seq[Float], cfg: SearchConfig): DataFrame =
    knn(data, KnnKernel.singleQuery(query), cfg, Nil)

  /** Every search shape: the kernel, or — for the one config it cannot
    * serve exactly, [[KnnKernel.keysSpanGroups]] — the relational plan.
    * Each checks the reserved columns it writes. */
  private[operators] def knn(data: DataFrame, qs: KnnKernel.Queries,
      cfg: SearchConfig, joinCols: Seq[String]): DataFrame =
    if (KnnKernel.keysSpanGroups(cfg)) spanningKeysPlan(data, qs, cfg, joinCols)
    else KnnKernel.plan(data, qs, cfg, joinCols)

  /** The relational plan for [[KnnKernel.keysSpanGroups]] configs: score
    * every pair, dedup per (query, key) with `min_by`, group with
    * `CollectTopK`, then the global top-k. A single query runs as a
    * one-row query frame (its id null) and ends in `orderBy.limit`. */
  private def spanningKeysPlan(data: DataFrame, qs: KnnKernel.Queries,
      cfg: SearchConfig, joinCols: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = qs.schema.getOrElse(StructType(Seq(
      StructField(QueryIdCol, IntegerType), StructField(cfg.featureCol, ArrayType(FloatType)))))
    val queries = data.sparkSession.createDataFrame(qs.rows.toSeq.asJava, schema)
    val grouped = groupedMerge(
      dedupBest(scoredMulti(data, queries, cfg, joinCols), cfg, Seq(QueryIdCol)), cfg)
    if (qs.single)
      grouped.drop(QueryIdCol).orderBy(orderCols(cfg, col(ScoreCol)): _*).limit(topK(cfg))
    else topKPerQuery(grouped, cfg)
  }

  /** `limit`, folded with `resultLimit` (A6). */
  private[operators] def topK(cfg: SearchConfig): Int =
    if (cfg.resultLimit > 0) math.min(cfg.limit, cfg.resultLimit) else cfg.limit

  /** A5/A6: global top-k per query (partial heaps, k rows per partition
    * cross the shuffle). */
  private[operators] def topKPerQuery(merged: DataFrame, cfg: SearchConfig): DataFrame = {
    val outCols = merged.columns.filterNot(_ == QueryIdCol)
    val item = struct(
      orderKey(cfg, col(ScoreCol)).as("__o"),
      struct(outCols.map(col): _*).as("__p"))
    merged.groupBy(QueryIdCol)
      .agg(collectTopK(item, topK(cfg)).as("__arr"))
      .select(col(QueryIdCol), explode(col("__arr")).as("__e"))
      .select(col(QueryIdCol) +: outCols.map(c => col(s"__e.__p.$c").as(c)): _*)
  }

  /** A1: best-score dedup per (prefix ++ keyCols) as a hash aggregate with
    * map-side partial combine (`min_by` on the composite order key) — no
    * per-partition sort, no full-row window shuffle (aggregator.go:118-134). */
  private[operators] def dedupBest(scored: DataFrame, cfg: SearchConfig,
      prefix: Seq[String]): DataFrame = {
    val payloadCols = scored.columns.filterNot(prefix.contains)
    val payload = struct(payloadCols.map(col): _*)
    scored
      .groupBy((prefix ++ cfg.keyCols).distinct.map(col): _*)
      .agg(min_by(payload, orderKey(cfg, col(ScoreCol))).as("__r"))
      .select(prefix.map(col) ++
        payloadCols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** A3+A4 in ONE partial-aggregating pass: collect the per-group
    * top-`groupLimit` members with a bounded heap, then derive the group
    * score — sum(scores) when higherIsBetter else sum(scores)/len² — and
    * the representative (best-ranked member = heap head) from the tiny
    * array (aggregator.go:103-117, 138-180). */
  private[operators] def groupedMerge(deduped: DataFrame, cfg: SearchConfig): DataFrame = {
    val payloadCols = deduped.columns
      .filterNot(c => c == QueryIdCol || c == cfg.groupLabelCol || c == ScoreCol)
    val item = struct(
      orderKey(cfg, col(ScoreCol)).as("__o"),
      col(ScoreCol).as("__s"),
      struct(payloadCols.map(col): _*).as("__p"))
    val g = deduped
      .groupBy(col(QueryIdCol), col(cfg.groupLabelCol))
      .agg(collectTopK(item, cfg.groupLimit).as("__arr"))
    val n = size(col("__arr"))
    val sumScores = aggregate(col("__arr"), lit(0d), (acc, x) => acc + x.getField("__s"))
    val groupScore =
      if (cfg.higherIsBetter) sumScores else sumScores / (n * n)
    g.select(
      Seq(col(QueryIdCol), col(cfg.groupLabelCol), groupScore.as(ScoreCol)) ++
        payloadCols.map(c => element_at(col("__arr"), 1).getField("__p").getField(c).as(c)): _*)
  }
}
