package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PolyHash

/** Sampling operators for training-data curation.
  *
  * `deterministicPerGroup` is the reproducible variant of stratified
  * sampling: each group keeps its `quota` rows with the smallest
  * content-hash, so the sample is a pure function of the data — stable
  * across runs, engines and cluster layouts (unlike `df.sample`, whose
  * output depends on partitioning). Runs as one partial-aggregating
  * bounded top-k per group (CollectTopK via Search-internal machinery is
  * overkill here; min-hash ordering + window-free aggregation). */
object Sampling {

  /** Deterministic N-way split (train/validation/test): assign each row
    * a split label by thresholding [[Mixture.idHash]] — the same
    * engine-replayable affine hash the mixture samplers use, so split
    * membership is a pure function of the id: stable across runs,
    * cluster layouts, and insertion order, and any row's split can be
    * recomputed from its id alone. Weights need not be normalized;
    * thresholds are `floor(cum_k · P)` on exact doubles, so both engines
    * decide every boundary identically. Map-side only — no shuffle, no
    * sort, no sampling state. */
  def splitByHash(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)],
      splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"splitByHash needs positive weights, got $splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"duplicate split names in $splits")
    Mixture.requireIntegralId(df, idCol, "splitByHash")
    val bounds = splitBounds(splits)
    val h = Mixture.idHash(col(idCol))
    val expr = splits.map(_._1).zip(bounds).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, (name, b)) =>
        when(h < b, lit(name)).otherwise(acc)
      }
    df.withColumn(splitCol, expr)
  }

  /** The exact integer hash thresholds [[splitByHash]] cuts at — ONE
    * definition shared with the DuckDB oracle, so no reimplementation of
    * the `floor(cum/total · P)` double arithmetic can sit an ulp apart
    * and flip a boundary id. The last threshold is exactly P: the top
    * split absorbs the hash range's end regardless of FP rounding. */
  def splitBounds(splits: Seq[(String, Double)]): Seq[Long] = {
    val total = splits.map(_._2).sum
    val cum = splits.map(_._2).scanLeft(0d)(_ + _).tail
    cum.dropRight(1).map(c =>
      math.floor(c / total * Mixture.HashP).toLong) :+ Mixture.HashP
  }

  /** Keep `quota` rows per group, chosen by ascending rolling-hash of
    * `contentCol` (hash collisions broken by content, content ties by
    * `uniqueCol`). Deterministic and engine-replayable: without the
    * unique column, two rows with identical content but different
    * payloads tie exactly and which one survives would depend on
    * partition layout (ADVICE round-1). */
  def deterministicPerGroup(df: DataFrame, groupCol: String,
      contentCol: String, quota: Int, uniqueCol: String): DataFrame = {
    val h = PolyHash(col(contentCol), 31L)
    val payloadCols = df.columns.toSeq
    // CollectTopK builds its ordering over the WHOLE collected struct —
    // the __o prefix decides every comparison (uniqueCol breaks all ties),
    // but an unorderable payload type (map<...>) fails ordering
    // CONSTRUCTION. Two physical strategies behind one contract, like
    // Dedup.resolve: orderable payloads ride in the single-pass heap;
    // otherwise collect only the keys and semi-join the winners back
    // (keys frame = groups×quota rows — broadcast-sized by construction).
    val orderable = payloadCols.forall(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(df.schema(c).dataType))
    if (orderable) {
      val item = struct(
        struct(h.as("__h"), col(contentCol).as("__c"), col(uniqueCol).as("__u")).as("__o"),
        struct(payloadCols.map(col): _*).as("__p"))
      df.groupBy(col(groupCol).as("__g"))
        .agg(Search.collectTopK(item, quota).as("__arr"))
        .select(explode(col("__arr")).as("__e"))
        .select(payloadCols.map(c => col(s"__e.__p.$c").as(c)): _*)
    } else {
      // join back on (group, unique): uniqueCol only promises tie-breaking
      // WITHIN a group — a cross-group repeat would admit extra rows and
      // diverge from the single-pass path
      val keys = df
        .groupBy(col(groupCol))
        .agg(Search.collectTopK(
          struct(h.as("__h"), col(contentCol).as("__c"), col(uniqueCol).as("__u")),
          quota).as("__arr"))
        .select(col(groupCol), explode(col("__arr")).as("__e"))
        .select(col(groupCol), col("__e.__u").as(uniqueCol))
      df.join(broadcast(keys), Seq(groupCol, uniqueCol), "left_semi")
        .select(payloadCols.map(col): _*)
    }
  }

  /** Deterministic global shuffle order: every id gets its position in
    * the total order (idHash(id), id) — the epoch-shuffle a training
    * pipeline needs (reproducible order, resumable positions) WITHOUT a
    * single-node sort. Two-phase distributed rank: range-partition by the
    * hash key and sort within partitions (ranges are ordered, so the
    * global order is the concatenation), then one tiny driver pass turns
    * per-partition counts into offsets and a second map stamps
    * `offset + local index`. The output (id → pos) is a pure function of
    * the id set: range boundaries move with input splits, but the rank in
    * a total order does not (spec asserts partition-count independence).
    * Vary the epoch by mixing it into the id upstream (e.g.
    * `idHash(id + epoch·C)`). */
  def deterministicOrderIndex(df: DataFrame, idCol: String,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // explicit contract instead of a silent cast: a string id would either
    // null out (opaque mid-job decode failure) or be rewritten ('007' → 7),
    // breaking joins back to the corpus under the original column name —
    // ONE shared guard with the other idHash consumers
    Mixture.requireIntegralId(df, idCol, "deterministicOrderIndex")
    val n = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    // the range-partition index rides as DATA (stamped when the checkpoint
    // materializes), NOT as TaskContext.getPartitionId(): a downstream
    // narrow coalesce (e.g. `.coalesce(1)` before a single-file write)
    // merges many range partitions into one task, where the task-level id
    // would be 0 for all of them and every group would take offset 0
    // a NULL id would pass the type require, hash to NULL, and kill the
    // tuple-encoder checkpoint with an opaque "null in non-nullable field"
    // mid-job — name the contract violation instead (per-row branch only)
    val nonNullId = when(col(idCol).isNotNull, col(idCol).cast("long"))
      .otherwise(raise_error(lit(
        s"deterministicOrderIndex: NULL in id column '$idCol' — " +
          "positions are defined for non-null ids only; filter or fill first")))
    val keyedPlan = df.select(nonNullId.as("id"))
      .withColumn("__k", Mixture.idHash(col("id")))
      .repartitionByRange(n, col("__k"), col("id"))
      .sortWithinPartitions(col("__k"), col("id"))
      .withColumn("__p", spark_partition_id())
      .as[(Long, Long, Int)]
    // both passes must see the SAME partitioning; the keyed checkpoint is
    // released once the (small: two longs/row) result is materialized on
    // its own — otherwise every call pins a full (id, hash, partition)
    // copy in executor storage for the session's lifetime
    Materialize.scoped(keyedPlan, "Sampling.deterministicOrderIndex.keyed") { keyed =>
      // shuffle-free: each checkpoint partition streams its own (p, count)
      // rows (normally one per partition) instead of a groupBy exchange
      val sizes = keyed.mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[Int, Long]
        it.foreach { case (_, _, p) => counts(p) = counts.getOrElse(p, 0L) + 1 }
        counts.iterator
      }.collect().toMap
      val pidsInOrder = sizes.keys.toSeq.sorted
      val offsets = pidsInOrder.zip(
        pidsInOrder.map(sizes).scanLeft(0L)(_ + _)).toMap
      val bc = spark.sparkContext.broadcast(offsets)
      Materialize.eager(keyed.mapPartitions { it =>
        var cur = -1
        var i = 0L
        it.map { case (id, _, p) =>
          if (p != cur) { cur = p; i = bc.value(p) }
          val r = (id, i); i += 1; r
        }
      }.toDF(idCol, "pos"), "Sampling.deterministicOrderIndex.pos")
    }
  }
}
