package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.storage.StorageLevel

/** Every point where the library cuts lineage or pins a stage before a
  * multi-consumer plan — the RDD model's own recovery and cost tool
  * (Zaharia et al., NSDI 2012) — goes through this object, so the three
  * choices a materialization makes live in one place:
  *
  *  - '''how''' it materializes: [[eager]] (a local checkpoint filled by
  *    its own job now), [[eagerOnDisk]], [[deferred]] (filled by the
  *    first consuming job) or [[cachedScoped]] (a lazy, lineage-keeping
  *    cache);
  *  - '''how''' it is released: [[scoped]] and [[cachedScoped]] drop the
  *    blocks in a `finally` once their body returns; the other forms'
  *    blocks live until the driver garbage-collects the Dataset;
  *  - '''how''' its plan-build job is labelled: each job an eager form
  *    or a bounded [[collect]] runs carries the local property
  *    [[SiteProperty]] set to the call's
  *    site name (`"Dedup.resolve.round"`), so a listener can attribute
  *    plan-build jobs per site (`graft.tools.Profile` prints them). The
  *    caller's own value is restored afterwards, so an enclosing label
  *    (a tracer's span, an outer site) survives the call.
  *
  * A site name is a label, not a setting: it changes no plan, storage
  * level or job. Each call site passes its own literal (a source-tree
  * spec keeps them unique and keeps raw checkpoints out of other files).
  */
object Materialize {
  /** Local property naming the site whose materialization ran a job. */
  val SiteProperty = "graft.site"

  /** Local-checkpoint `ds` now (memory and disk) and return the
    * truncated Dataset; the job that fills it is labelled `site`. */
  def eager[T](ds: Dataset[T], site: String): Dataset[T] =
    labelled(ds, site)(ds.localCheckpoint(eager = true))

  /** [[eager]] with the blocks on disk only, for corpus-sized rewrites
    * (the lexical index's compaction and removal, read once by the
    * versioned writer). The default memory-and-disk level stages
    * deserialized row blocks on the heap across every concurrent task: at
    * the 5.25M-doc decade the kept postings are ~430M rows and that
    * OOM'd an 8 GB driver, while disk blocks serialize through a bounded
    * stream per task. */
  def eagerOnDisk[T](ds: Dataset[T], site: String): Dataset[T] =
    labelled(ds, site)(ds.localCheckpoint(eager = true, StorageLevel.DISK_ONLY))

  /** Mark `ds` for local checkpointing without running a job: the first
    * action that reads it fills the checkpoint as part of that action's
    * job (which carries the consumer's labels, not `site`), and later
    * readers start from the stored blocks. */
  def deferred[T](ds: Dataset[T], site: String): Dataset[T] =
    ds.localCheckpoint(eager = false)

  /** [[eager]], then `use` the checkpoint, then release its blocks in a
    * `finally`. `use` must finish every read of the checkpoint before it
    * returns — the truncated lineage cannot recompute released blocks —
    * so it returns driver values or a Dataset materialized on its own. */
  def scoped[T, A](ds: Dataset[T], site: String)(use: Dataset[T] => A): A = {
    val m = eager(ds, site)
    try use(m)
    finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(m)
  }

  /** Persist `ds` (memory and disk) for the reads inside `use`, then
    * unpersist it in a `finally`. Unlike the checkpoint forms this runs
    * no job of its own and keeps the lineage: the first read inside
    * `use` fills the cache, and a Dataset `use` returns still plans from
    * the source after release. */
  def cachedScoped[T, A](ds: Dataset[T], site: String)(use: Dataset[T] => A): A = {
    val c = ds.persist(StorageLevel.MEMORY_AND_DISK)
    try use(c) finally c.unpersist(blocking = false)
  }

  /** Collect `df` to the driver in one result job labelled `site` (its
    * shuffles, if it has any, run as labelled jobs first), failing loudly
    * — naming the site — when it holds more than `maxRows` rows. Each
    * task ships at most `maxRows + 1` rows, so an oversized input fails
    * after a bounded fetch instead of filling the driver heap (a `limit`
    * would read the same bound through several growing jobs). */
  def collect(df: DataFrame, site: String, maxRows: Int): Array[Row] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue, s"$site: maxRows=$maxRows")
    val rows = labelled(df, site)(
      df.mapPartitions(_.take(maxRows + 1))(Encoders.row(df.schema)).collect())
    if (rows.length > maxRows) throw new IllegalStateException(
      s"$site: the driver collect holds more than $maxRows rows — split the " +
        "input into smaller calls")
    rows
  }

  private def labelled[A](ds: Dataset[_], site: String)(run: => A): A = {
    val sc = ds.sparkSession.sparkContext
    val prev = sc.getLocalProperty(SiteProperty)
    sc.setLocalProperty(SiteProperty, site)
    try run finally sc.setLocalProperty(SiteProperty, prev)
  }
}
