package graft.model

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Versioned-directory persistence with an atomic sidecar swap — the
  * shared analog of the reference's Annoy index save + atomic swap
  * (data/newsync.go:169-222). [[commit]] is the one save path; its
  * committers are the dataset catalog's table writes
  * ([[DatasetCatalog]]), the IVF and PQ index savers
  * ([[graft.operators.Ann.ivfSave]] / `pqSave`), the cluster state
  * (`Clustering.clusterSave`), the lexical index
  * (`TextRetrieval.indexSave` and its compact/remove rewrites), sketch
  * profiles (`Sketches.profileSave`), attribute frames
  * (`Attributes.attrSave`) and the stored query encodings in
  * `graft.queries.AnnQueries` (SQ8, IVF×PQ, IVF×SQ8, RP, BQ, PCA).
  *
  * Protocol: each save writes data into a FRESH `data_<nanos>` subdir,
  * then atomically renames a sidecar whose first line names that subdir.
  * Readers resolve the sidecar first, so a torn write (crash between data
  * write and sidecar rename) leaves the previous sidecar pointing at the
  * previous, complete data — an in-place `mode("overwrite")` would instead
  * delete the only copy before the new one commits. Superseded data dirs
  * are swept best-effort AFTER the swap, once they are older than the
  * fixed [[SweepGraceMs]] (10 minutes; not a per-call setting).
  *
  * All I/O goes through the Hadoop FileSystem resolved from the dir's own
  * scheme, NOT driver-local java.nio — the data parquet is written by
  * Spark to that filesystem, and an atomic swap (or an existence check)
  * only means anything when sidecar and data live on the same one.
  */
object VersionedDir {

  /** Sweep grace: longer than any plausible sidecar-rename lag. */
  val SweepGraceMs: Long = 10 * 60 * 1000L

  private def newVersion(): String = s"data_${System.nanoTime()}"

  /** Commit one new version of the state under `dir`: `write` fills the
    * fresh `dir/data_<nanos>` path, then `sidecar` is swapped to
    * `lines(version)` (its first line must name the version, alone or as
    * `version;...`), then superseded versions are swept. An exception
    * from `write` leaves the sidecar — and so what readers serve —
    * unchanged. */
  def commit(spark: SparkSession, dir: String, sidecar: String,
      lines: String => Seq[String])(write: String => Unit): Unit = {
    val version = newVersion()
    write(s"$dir/$version")
    writeSidecar(spark, dir, sidecar, lines(version))
    sweepOldVersions(spark, dir, sidecar)
  }

  def fsAndPath(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  def sidecarExists(spark: SparkSession, dir: String, name: String): Boolean = {
    val (fs, base) = fsAndPath(spark, dir)
    fs.exists(new Path(base, name))
  }

  /** Write `name` under `dir` atomically: create `name.tmp_*`, then rename
    * over `name` (FileContext rename-OVERWRITE — atomic on HDFS and posix;
    * object stores degrade to copy+delete, where the versioned-data scheme
    * still bounds the damage to serving the previous complete version). */
  def writeSidecar(spark: SparkSession, dir: String,
      name: String, lines: Seq[String]): Unit = {
    val (fs, base) = fsAndPath(spark, dir)
    fs.mkdirs(base)
    val tmp = new Path(base, s"$name.tmp_${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(base.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(base, name), Options.Rename.OVERWRITE)
  }

  def readSidecar(spark: SparkSession, dir: String, name: String): Seq[String] = {
    val (fs, base) = fsAndPath(spark, dir)
    val in = fs.open(new Path(base, name))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toVector
    finally in.close()
  }

  /** Delete superseded `data_*` versions after a sidecar swap. Two guards
    * against concurrent savers (single-writer is the intended mode, but a
    * stray overlap must not corrupt the data):
    *  - the kept version is whatever the sidecar names NOW (re-read after
    *    our rename) — if a concurrent save won the sidecar race, its data
    *    survives and ours is the stale one;
    *  - only versions whose mtime is older than [[SweepGraceMs]] are
    *    deleted — a writer mid-`parquet` (data written, sidecar not yet
    *    renamed) has a fresh mtime and is spared; genuinely orphaned dirs
    *    age out and the NEXT save sweeps them.
    * Best-effort, ignores IO races; without the sweep a periodic rebuild
    * leaks one full table copy per save. */
  private def sweepOldVersions(spark: SparkSession, dir: String,
      sidecarName: String): Unit = {
    val (fs, base) = fsAndPath(spark, dir)
    // sidecar line 1 is `version` (IVF/catalog) or `version;...` (PQ)
    val keep = readSidecar(spark, dir, sidecarName).head.split(";")(0)
    val cutoff = System.currentTimeMillis() - SweepGraceMs
    fs.listStatus(base).iterator
      .filter(st => st.getPath.getName.startsWith("data_") &&
        st.getPath.getName != keep && st.getModificationTime < cutoff)
      .foreach(st =>
        try fs.delete(st.getPath, true) catch { case _: java.io.IOException => () })
  }
}
