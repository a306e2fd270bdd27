package graft.model

import scala.annotation.tailrec
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's `Dataset` catalog (SURVEY.md §2.1 S3/S5): named datasets
  * with `DataConfig` properties, persisted as JSON lines (the `index.save`
  * analog, data/dataset.go:166-227).
  *
  * Datasets are path-based parquet tables under `rootDir/<name>`; the
  * catalog only tracks configs — data placement, replication and
  * durability are the storage layer's job in Spark (HDFS/object store),
  * which is why the reference's replication knobs are carried as inert
  * properties.
  *
  * All paths resolve through the Hadoop FileSystem of `rootDir`'s scheme
  * (local, HDFS, object store alike), and every table write goes through
  * [[VersionedDir]]: data lands in a fresh versioned subdir and a sidecar
  * swap commits it, so a crash mid-write can never destroy the previous
  * copy (an in-place `mode("overwrite")` deletes before it commits).
  * Intended write concurrency is single-writer per dataset (the
  * reference's model — one process owns a shard); a stray concurrent
  * writer loses its batch to the sidecar race but cannot corrupt the
  * surviving version.
  */
final class DatasetCatalog(spark: SparkSession, rootDir: String) {

  private val configs = TrieMap.empty[String, DataConfig]

  private val CurrentSidecar = "_current"
  private val IndexFile = "index.save.jsonl"

  private def dataPath(name: String) = s"$rootDir/data/$name"

  /** Dataset names are path + JSON + session-table identifiers all at
    * once; restricting them beats escaping in three syntaxes ("../x" must
    * not escape rootDir). */
  private def requireValidName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit && c < 128 || c == '_' || c == '-'),
      s"invalid dataset name '$name': use [A-Za-z0-9_-]")

  /** Create-or-upgrade semantics of CreateDataIfNotExists
    * (data/dataset.go:107-130): a config with a strictly newer version
    * replaces the stored one; same-or-older versions are ignored. The
    * read-check-put is a compare-and-swap loop — a plain check-then-put
    * would let a racing older version overwrite a newer one. */
  def createIfNotExists(cfg: DataConfig): DataConfig = {
    requireValidName(cfg.name)
    val effective = withDefaults(cfg)
    @tailrec def loop(): DataConfig = configs.get(cfg.name) match {
      case Some(existing) if cfg.version <= existing.version => existing
      case Some(existing) =>
        if (configs.replace(cfg.name, existing, effective)) effective else loop()
      case None =>
        configs.putIfAbsent(cfg.name, effective) match {
          case None => effective
          case Some(_) => loop()
        }
    }
    loop()
  }

  /** Get-with-auto-create (data/dataset.go:65-75): unknown names get the
    * default config, like the reference's insert path. */
  def getOrCreate(name: String): DataConfig = {
    requireValidName(name)
    configs.getOrElseUpdate(name, withDefaults(DataConfig(name)))
  }

  /** GetNoCreate (data/dataset.go:88-97). */
  def get(name: String): Option[DataConfig] = configs.get(name)

  def list: Seq[DataConfig] = configs.values.toSeq.sortBy(_.name)

  def drop(name: String): Unit = configs.remove(name)

  /** retention 0 → 14 days (data/dataset.go:58-63). */
  private def withDefaults(cfg: DataConfig): DataConfig =
    if (cfg.retentionDays <= 0) cfg.copy(retentionDays = 14) else cfg

  // ------------------------------------------------------------------ read

  /** Names written bucketed in THIS session — their reads must resolve via
    * the session catalog or the bucket metadata (and the shuffle-free join
    * it promises) is silently lost on a path read. */
  private val bucketedNames = TrieMap.empty[String, Unit]

  /** The current committed data path, if any (sidecar-resolved). */
  private def currentVersionPath(name: String): Option[String] = {
    val dir = dataPath(name)
    if (VersionedDir.sidecarExists(spark, dir, CurrentSidecar))
      Some(s"$dir/${VersionedDir.readSidecar(spark, dir, CurrentSidecar).head}")
    else None
  }

  /** Bucketed writes put part files at the dir top level (the session
    * table's location); their presence marks a readable non-versioned
    * layout. Checked on the dir's OWN filesystem — a driver-local
    * java.nio check would read every remote table as absent. */
  private def hasTopLevelParts(dir: String): Boolean = {
    val (fs, base) = VersionedDir.fsAndPath(spark, dir)
    fs.exists(base) && fs.listStatus(base).exists(st =>
      st.isFile && st.getPath.getName.startsWith("part-"))
  }

  /** The relation last resolved per name, with the committed version path
    * it was read from. */
  private val resolved = TrieMap.empty[String, (String, DataFrame)]

  /** Read a dataset's table (empty Datum-schema table when never written).
    * Resolution order: bucketed session table (keeps bucket metadata) →
    * sidecar-committed version → top-level part files (a bucketed layout
    * from a previous session, readable but without bucket metadata) →
    * empty.
    *
    * The `_current` sidecar is re-read on every call, so a commit by this
    * catalog or by another one on the same root is seen on the next call.
    * A committed version is resolved once: each `data_*` dir is written
    * once under a fresh name and never appended to, so while the sidecar
    * names the same dir the stored relation (schema and file listing) is
    * still exact, and the per-call footer-inference job is skipped. */
  def table(name: String): DataFrame = {
    getOrCreate(name)
    if (bucketedNames.contains(name) && spark.catalog.tableExists(name))
      spark.table(name)
    else currentVersionPath(name) match {
      case Some(p) => resolved.get(name) match {
        case Some((`p`, df)) => df
        case _ =>
          val df = spark.read.parquet(p)
          resolved.put(name, (p, df))
          df
      }
      case None if hasTopLevelParts(dataPath(name)) =>
        spark.read.parquet(dataPath(name))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Datum.schema)
    }
  }

  // ------------------------------------------------------------- row stats

  /** Live row count per dataset, maintained on every write — the
    * reference keeps N incrementally (data/data.go:54) so its capacity
    * gate is O(1); ours reads parquet FOOTERS once per write (a
    * metadata-only count, no data scan) and serves the gate from memory.
    * See [[graft.operators.Ingest.IngestConfig.currentN]]. */
  private val rowCounts = TrieMap.empty[String, Long]

  def rowCount(name: String): Option[Long] = rowCounts.get(name)

  private def refreshCount(name: String): Unit =
    rowCounts.put(name, table(name).count())

  /** Versioned write: fresh `data_*` subdir, sidecar swap, sweep. Because
    * the destination is never the dir being read, a plan that lazily reads
    * the PREVIOUS version (the upsert merge) can be written directly — no
    * checkpoint needed; the old version survives until swept, well after
    * the write action completes. */
  private def writeVersioned(name: String)(write: String => Unit): Unit = {
    getOrCreate(name)
    VersionedDir.commit(spark, dataPath(name), CurrentSidecar, Seq(_))(write)
    // a bucketed session table registered earlier now points at STALE data
    // (it lists only top-level part files, never the new data_* subdir) —
    // without this, table() would keep serving, and upsertInto keep merging
    // against, the pre-write snapshot. External table: drop is metadata-only.
    if (bucketedNames.remove(name).isDefined)
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
    refreshCount(name)
  }

  def write(name: String, df: DataFrame): Unit =
    writeVersioned(name)(df.write.mode("overwrite").parquet(_))

  /** S1 read-modify-write insert path: gate on the tracked count (no scan),
    * merge, persist, refresh the stat. A batch the capacity gate rejects —
    * here or inside [[graft.operators.Ingest.upsert]] when the stat is
    * unknown (fresh catalog, gate falls back to a count scan) — touches
    * NOTHING: no rewrite of identical data over the stored table. */
  def upsertInto(name: String, updates: DataFrame,
      cfg: graft.operators.Ingest.IngestConfig): Unit = {
    val existing = table(name)
    val n = rowCount(name)
    if (!cfg.noTarget && n.exists(_ >= cfg.targetN)) return
    val merged = graft.operators.Ingest
      .upsert(existing, updates, cfg.copy(currentN = n))
    // upsert returns `existing` ITSELF when its internal gate rejects
    if (merged eq existing) return
    write(name, merged)
  }

  /** Write a dataset hive-partitioned by `partitionCol` — the layout for
    * low-cardinality routing keys (IVF cluster ids): equality/IN filters
    * prune whole directories unconditionally (PartitionFilters on the
    * scan), so an nProbe search reads nProbe/k of the table. The write
    * rebalances on `partitionCol` first, as `Ann.ivfSave`/`ivfAppend` do:
    * each writer task then holds whole values, so a value's directory
    * gets one file (AQE splits only a skewed value) instead of one per
    * writer task, and a probe opens nProbe files, not nProbe × tasks. */
  def writePartitioned(name: String, df: DataFrame, partitionCol: String): Unit =
    writeVersioned(name)(df.hint("rebalance", col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(_))

  /** Write a dataset bucketed+sorted by `bucketCol` (registered as a
    * session table, `<name>` in the catalog's namespace — [[table]] resolves
    * it through the session catalog so the bucket metadata survives).
    * Joins/aggs between tables bucketed the same way on the same key skip
    * the shuffle entirely — the 100-TB answer to the reference's
    * group-label routing. Buckets default to 32 (match
    * spark.sql.shuffle.partitions). This path writes in place (saveAsTable
    * owns the location): unlike [[write]] it is not torn-write safe, the
    * documented trade for bucket metadata. */
  def writeBucketed(name: String, df: DataFrame, bucketCol: String,
      buckets: Int = 32): Unit = {
    getOrCreate(name)
    // catalog-integrated wrapper over the free-standing write-path tool
    graft.sources.Layout.bucketize(df, name, dataPath(name),
      Seq(bucketCol), buckets)
    bucketedNames.put(name, ())
    refreshCount(name)
  }

  // ---------------------------------------------------------------- persist

  private def jsonStr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  private def toJson(c: DataConfig): String =
    s"""{"name":${jsonStr(c.name)},"version":${c.version},"targetN":${c.targetN},""" +
      s""""targetUtilization":${c.targetUtilization},"noTarget":${c.noTarget},""" +
      s""""retentionDays":${c.retentionDays}}"""

  /** Persist configs as JSONL (dataset.go:209-227) — atomic sidecar write
    * on rootDir's filesystem, so readers never see a half-written index. */
  def save(): Unit =
    VersionedDir.writeSidecar(spark, rootDir, IndexFile,
      configs.values.toSeq.sortBy(_.name).map(toJson))

  /** Load configs from JSONL (dataset.go:166-188); unknown file → empty. */
  def load(): Unit = {
    if (!VersionedDir.sidecarExists(spark, rootDir, IndexFile)) return
    val lines = VersionedDir.readSidecar(spark, rootDir, IndexFile)
    if (lines.isEmpty) return // empty index file = empty catalog
    import spark.implicits._
    val ds = spark.read.json(spark.createDataset(lines))
    ds.collect().foreach { r =>
      def idx(n: String) = r.schema.fieldNames.indexOf(n)
      val cfg = DataConfig(
        name = r.getString(idx("name")),
        version = r.getLong(idx("version")),
        targetN = r.getLong(idx("targetN")),
        targetUtilization = r.getDouble(idx("targetUtilization")),
        noTarget = r.getBoolean(idx("noTarget")),
        retentionDays = r.getLong(idx("retentionDays")).toInt)
      // keep the validation boundary consistent: a legacy entry whose name
      // every OTHER entry point rejects would load fine yet make
      // table()/write() throw — skip it loudly instead of half-admitting it
      if (scala.util.Try(requireValidName(cfg.name)).isSuccess)
        configs.put(cfg.name, cfg)
      else System.err.println(
        s"[catalog] skipping persisted entry with invalid name '${cfg.name}'")
    }
  }
}
