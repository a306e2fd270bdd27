package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.VersionedDir

/** The query layer's "build once, then reuse" artifacts (veri's stored
  * index lifecycle, data/newsync.go:169-222): trained models, stored ANN
  * indexes and encodings, the lexical index and rewritten layouts.
  *
  *  - ONE in-JVM memo, keyed by the session OBJECT plus an artifact key.
  *    The session rides as the object (not an identity hash, which can
  *    collide across GC'd sessions and hand back DataFrames bound to a
  *    stopped session); the strong reference is fine — driver and test
  *    sessions are few and long-lived.
  *  - ONE key rule ([[key]]): family, sanitized source dir, the source
  *    table's content fingerprint, then the build params — so regenerated
  *    data or changed params miss the memo mid-JVM, not only on first
  *    access, and two families over one source never collide.
  *  - ONE directory rule ([[dir]]): `java.io.tmpdir/graft_artifacts_<Format>/<key>`.
  *    Bumping [[Format]] retires every stored artifact at once, so the
  *    stored-format readers parse exactly one format.
  *  - ONE existence check ([[stored]]): the build runs only while the
  *    artifact's marker sidecar is missing (a torn build never wrote it),
  *    then the artifact loads from disk.
  *  - ONE scratch rule ([[scratch]]) for the queries that write fresh
  *    state on every call, all under `java.io.tmpdir/graft_scratch`. */
private[queries] object Artifacts {

  /** Stored-format tag of every artifact directory. Bump it when a stored
    * format changes: the next run rebuilds under the new name and no
    * reader ever meets the old format. */
  val Format = "f2"

  private def root: String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_artifacts_$Format").toString

  /** Content fingerprint of a parquet source: part-file count + total
    * bytes + newest mtime over the files INSIDE the directory. A parquet
    * "file" is a directory whose own length/mtime barely
    * track content (regenerated data of equal dir-entry size would serve a
    * stale index) — the part files are what changes. */
  def sourceFingerprint(path: String): String = {
    val root = new java.io.File(path)
    // fall back to the entry itself for a plain file OR a dir holding no
    // plain files (interrupted generation leaving only _temporary):
    // `Seq.empty.max` would throw an opaque UnsupportedOperationException
    val parts = Option(root.listFiles()).map(_.toSeq.filter(_.isFile))
      .filter(_.nonEmpty).getOrElse(Seq(root))
    s"${parts.size}_${parts.map(_.length).sum}_${parts.map(_.lastModified).max}"
  }

  /** The artifact key of `family` built from `dir`'s `table` with
    * `params`: `family/<sanitized dir>_<fingerprint><params>`. */
  def key(family: String, dir: String, table: String, params: String = ""): String =
    s"$family/${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      s"${sourceFingerprint(s"$dir/$table.parquet")}$params"

  /** Where the artifact `key` is stored. */
  def dir(key: String): String = s"$root/$key"

  /** The one root every [[scratch]] dir lives under. */
  def scratchRoot: java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_scratch")

  private val lastScratch = scala.collection.mutable.Map.empty[String, java.io.File]

  private lazy val sweepScratchAtExit =
    sys.addShutdownHook(lastScratch.synchronized(
      lastScratch.values.foreach(org.apache.commons.io.FileUtils.deleteQuietly)))

  /** A fresh, empty dir for one call of the query `family`, which writes
    * per-call state there (a stream sink, a versioned store: rerunning
    * into an old dir would append to it). The DataFrame a call returns
    * may still read its dir when evaluated, so the family's previous dir
    * is deleted at the family's NEXT call, not at return — at most one
    * dir per family exists at a time — and the last ones at JVM exit. */
  def scratch(family: String): String = lastScratch.synchronized {
    sweepScratchAtExit
    lastScratch.get(family).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    java.nio.file.Files.createDirectories(scratchRoot)
    val d = java.nio.file.Files.createTempDirectory(scratchRoot, s"${family}_").toFile
    lastScratch(family) = d
    d.toString
  }

  private val values = TrieMap.empty[(SparkSession, String), Any]

  /** The value `build` made for (`s`, `key`), built on first use only. */
  def memo[A](s: SparkSession, key: String)(build: => A): A =
    values.getOrElseUpdate((s, key), build).asInstanceOf[A]

  /** A stored artifact: `build` fills [[dir]]`(key)` only while its
    * `marker` sidecar is missing, then `load` reads it back; memoized. */
  def stored[A](s: SparkSession, key: String, marker: String)(
      build: String => Unit)(load: String => A): A = {
    val d = dir(key)
    memo(s, key) {
      if (!VersionedDir.sidecarExists(s, d, marker)) build(d)
      load(d)
    }
  }

  /** The sidecar naming a stored encoding's committed version. */
  val Current = "_current"

  /** The encoding table the [[Current]] sidecar under `d` names. */
  def current(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/${VersionedDir.readSidecar(s, d, Current).head}")

  /** A stored encoding: one parquet table that `write` fills (handed the
    * fresh version path), committed under the [[Current]] sidecar. */
  def encoding(s: SparkSession, key: String)(write: String => Unit): DataFrame =
    stored(s, key, Current)(VersionedDir.commit(s, _, Current, Seq(_))(write))(
      current(s, _))
}
