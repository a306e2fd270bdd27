package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Bridge

/** Timeout-bounded best-effort kNN: veri's per-query time budget
  * ("more time gives more accurate results", reference README.md:50;
  * `data/search.go:162-165,219-224` drains its result channels until the
  * timeout and returns whatever arrived), as an OPT-IN. The deterministic
  * [[Search.search]]/[[Search.multiSearch]] stay the default.
  *
  * The contract: the exact searches' own kernel runs here,
  * [[KnnKernel.scan]] over a batch of partitions per Spark job, each
  * finished batch folded on the driver through [[KnnKernel.Merge]] (see
  * [[KnnKernel]] for the pools and why folding them batch by batch is
  * exact). At the deadline no further batch launches, the batch in
  * flight is cancelled through its job group, and the rows are the exact
  * answer over the partitions that completed, with `complete = false`. A
  * complete scan returns the deterministic rows and schema. A config the
  * kernel refuses (grouped dedup keys that span groups) is refused here.
  *
  * Only a budget cancellation becomes a partial result: the timer must
  * have fired AND the failure must carry this run's [[cancelReason]], so
  * a genuine task failure propagates even when it lands as the timer
  * fires.
  *
  * The driver holds the merge state plus one batch's survivors
  * (`driverPeakRows`): O(k · queries) ungrouped, O(queries · distinct
  * groups · groupLimit) grouped, since an exact grouped answer must see
  * every group. `maxDriverRows` bounds that state and fails loudly. */
object BudgetedSearch {

  /** Driver merge state is bounded by this many rows; crossing it fails
    * loudly (only reachable with a very high-cardinality group column —
    * the ungrouped state is O(k·queries)). */
  val DefaultMaxDriverRows: Long = 8000000L

  /** `rows`: exact result over the scanned subset, already sorted by the
    * config's order (per query). `complete`: the whole input was scanned
    * before the budget expired (rows == the deterministic result).
    * `driverPeakRows`: the maximum number of rows the driver held at any
    * instant (merge state + one arriving batch) — the quantity the
    * incremental fold keeps bounded. */
  final case class BudgetedResult(
      rows: DataFrame,
      complete: Boolean,
      scannedPartitions: Int,
      totalPartitions: Int,
      driverPeakRows: Long)

  /** [[Search.search]] under a wall-clock budget. `batchPartitions = 0`
    * (the default) sizes batches automatically — see
    * [[autoBatchPartitions]]. */
  def search(data: DataFrame, query: Seq[Float], cfg: SearchConfig,
      budgetMs: Long, batchPartitions: Int = 0,
      maxDriverRows: Long = DefaultMaxDriverRows): BudgetedResult = {
    require(budgetMs > 0 && batchPartitions >= 0 && maxDriverRows > 0)
    run(data, KnnKernel.singleQuery(query), cfg, budgetMs, batchPartitions, maxDriverRows)
  }

  /** [[Search.multiSearch]] under a shared wall-clock budget: one bounded
    * pool PER QUERY per partition, merged per query on the driver. The
    * query set is collected as [[Search.multiSearch]] collects it, before
    * the budget clock starts. `batchPartitions = 0` (the default) =
    * [[autoBatchPartitions]]. */
  def multiSearch(data: DataFrame, queries: DataFrame, cfg: SearchConfig,
      budgetMs: Long, batchPartitions: Int = 0,
      maxDriverRows: Long = DefaultMaxDriverRows): BudgetedResult = {
    require(budgetMs > 0 && batchPartitions >= 0 && maxDriverRows > 0)
    run(data, Search.collectQueries(queries, cfg, Nil), cfg, budgetMs, batchPartitions,
      maxDriverRows)
  }

  /** The automatic batch size (`batchPartitions = 0`): one full scheduler
    * wave, `max(defaultParallelism, 8)`. The budget is WALL-CLOCK, so a
    * batch narrower than the cluster's task slots idles the difference
    * and burns the budget for nothing — the r9 scale probe measured a
    * fixed bp=4 on a 32-core box at 2.4× the one-wave wall clock for
    * identical results (BASELINE.md r9). At real scale the granularity
    * stays fine: a 100 TB scan is ~10⁵-10⁶ partitions, so waves of
    * `defaultParallelism` still give hundreds of budget checkpoints,
    * while the per-wave driver load stays O(slots · k · queries) —
    * bounded by CLUSTER size, not data size. Inputs with fewer
    * partitions than slots run as one cancellable wave; pass an explicit
    * smaller `batchPartitions` when progressive partial results on such
    * small inputs matter more than wall clock. */
  private[operators] def autoBatchPartitions(sc: org.apache.spark.SparkContext): Int =
    math.max(sc.defaultParallelism, 8)

  /** The stage a budgeted multi-query run evaluates per batch of
    * partitions — [[KnnKernel.scan]] over the collected `queries`, the
    * per-partition pool survivors — exposed for plan inspection
    * ([[graft.Plans]]); the driver's fold ([[KnnKernel.Merge]]) runs
    * outside Catalyst, so this is the part of the budgeted path with a
    * physical plan. */
  def batchStageMulti(data: DataFrame, queries: DataFrame,
      cfg: SearchConfig): DataFrame =
    KnnKernel.scan(data, Search.collectQueries(queries, cfg, Nil), cfg, Nil).toDF()

  // ------------------------------------------------------------ runner

  private def run(data: DataFrame, qs: KnnKernel.Queries, cfg: SearchConfig,
      budgetMs: Long, batchPartitions0: Int, maxDriverRows: Long): BudgetedResult = {
    val sc = data.sparkSession.sparkContext
    val batchPartitions =
      if (batchPartitions0 > 0) batchPartitions0 else autoBatchPartitions(sc)
    // toRdd = the scan's InternalRow output, the pool survivors of each
    // partition (accessing it materializes any shuffle stages of `data`
    // up front, before the clock starts)
    val rdd = KnnKernel.scan(data, qs, cfg, Nil).queryExecution.toRdd
    val hits = KnnKernel.hitSchema(data.schema, qs, cfg)
    val nParts = rdd.getNumPartitions
    val deadline = System.nanoTime() + budgetMs * 1000000L
    val groupId = s"graft-budget-${java.util.UUID.randomUUID()}"
    // the driver's incremental merge state: each completed batch folds in
    // immediately, so the driver never holds more than this state plus
    // one batch's survivors
    val merge = new KnnKernel.Merge(cfg, hits, qs.single)
    var scanned = 0
    var peakRows = 0L
    val timer = new java.util.Timer("graft-budget-cancel", true)
    try {
      val batches = (0 until nParts).grouped(batchPartitions)
      var expired = false
      while (!expired && batches.hasNext) {
        val batch = batches.next()
        val leftMs = (deadline - System.nanoTime()) / 1000000L
        if (leftMs <= 0) expired = true
        else {
          sc.setJobGroup(groupId, s"budgeted search ($budgetMs ms)",
            interruptOnCancel = true)
          // records whether THIS batch's failure is our own cancellation;
          // anything else (corrupt input, scoring error) must propagate,
          // not masquerade as "ran out of time"
          val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
          val cancel = new java.util.TimerTask {
            // the reason string is SELF-CONTROLLED (ADVICE r7): Spark
            // threads it verbatim into the job failure, so the expiry
            // check below matches OUR marker, not whatever format a
            // given Spark version uses for "job group cancelled"
            def run(): Unit = {
              fired.set(true)
              sc.cancelJobGroup(groupId, cancelReason(groupId))
            }
          }
          timer.schedule(cancel, leftMs)
          try {
            // a task's output row is a reused buffer: ship copies
            val res = sc.runJob(rdd, (it: Iterator[InternalRow]) => it.map(_.copy()).toArray,
              batch)
            val batchRows = res.map(_.length.toLong).sum
            peakRows = math.max(peakRows, merge.rowCount + batchRows)
            res.foreach(rs => merge.add(rs.iterator.map(r => Row.fromSeq(r.toSeq(hits)))))
            scanned += batch.size
            val held = merge.rowCount
            // the true instantaneous peak includes the moment right
            // AFTER the fold, when the post-fold state and the
            // still-referenced batch arrays coexist
            peakRows = math.max(peakRows, held + batchRows)
            if (held > maxDriverRows) throw new IllegalStateException(
              s"BudgetedSearch: driver merge state holds $held rows " +
                s"(> maxDriverRows=$maxDriverRows). An exact grouped answer " +
                "must track every (query, group) pool — this cardinality " +
                "(queries × distinct groups × groupLimit) does not fit the " +
                "driver; lower groupLimit/query count, raise maxDriverRows, " +
                "or use the deterministic distributed path")
          } catch {
            case e: org.apache.spark.SparkException =>
              // cancelled by the budget timer: the batch's rows are
              // discarded, previous batches stand. The timer flag alone
              // is NOT proof — a genuine failure can land in the same
              // instant the timer fires — so the failure must ALSO name
              // this run's job group (the cancellation reason carries
              // it); anything else propagates
              if (fired.get() && isBudgetCancellation(e, groupId)) expired = true
              else throw e
          } finally {
            cancel.cancel()
            sc.clearJobGroup()
          }
        }
      }
    } finally timer.cancel()
    val rows = data.sparkSession.createDataset(merge.result.toSeq)(
      Bridge.internalRowEncoder(merge.schema)).toDF()
    BudgetedResult(rows, complete = scanned == nParts, scanned, nParts, peakRows)
  }

  /** The self-controlled cancellation reason passed to
    * `cancelJobGroup(groupId, reason)` — it embeds the run's group id (a
    * UUID no other failure can contain), and because WE wrote the string
    * into the failure, matching it is not coupled to Spark's own message
    * format for cancelled groups (ADVICE r7). Package-visible so the
    * spec can pin that the deployed Spark version really does carry the
    * reason through to the driver-side exception. */
  private[operators] def cancelReason(groupId: String): String =
    s"graft budget expired for job group $groupId"

  /** True iff the throwable chain identifies OUR budget cancellation:
    * some frame carries the [[cancelReason]] marker for THIS run's group. */
  private def isBudgetCancellation(e: Throwable, groupId: String): Boolean = {
    val marker = cancelReason(groupId)
    var t: Throwable = e
    while (t != null) {
      val m = t.getMessage
      if (m != null && m.contains(marker)) return true
      t = t.getCause
    }
    false
  }
}
