package graft.model

import java.io.File
import java.nio.file.Files

import graft.SparkTestBase

/** The versioned-dir commit protocol, driven through [[VersionedDir.commit]]
  * directly: write a fresh `data_*` version → swap the sidecar → sweep
  * superseded versions older than [[VersionedDir.SweepGraceMs]]. */
class VersionedDirSpec extends SparkTestBase {

  private val Sidecar = "_current"

  private def tmp() = Files.createTempDirectory("graft-versioned").toString

  private def versions(dir: String): Set[String] =
    new File(dir).listFiles().map(_.getName).filter(_.startsWith("data_")).toSet

  private def named(dir: String): String =
    VersionedDir.readSidecar(spark, dir, Sidecar).head.split(";")(0)

  private def commitRows(dir: String, n: Long): Unit =
    VersionedDir.commit(spark, dir, Sidecar, Seq(_))(
      spark.range(n).write.mode("overwrite").parquet(_))

  /** Set a dir's mtime past the sweep grace. */
  private def age(path: String): Unit =
    assert(new File(path).setLastModified(
      System.currentTimeMillis() - VersionedDir.SweepGraceMs - 60000L))

  test("torn write: data written, sidecar not swapped — the previous version serves") {
    val dir = tmp()
    commitRows(dir, 3L)
    val v1 = named(dir)
    val e = intercept[RuntimeException](
      VersionedDir.commit(spark, dir, Sidecar, Seq(_)) { path =>
        spark.range(7L).write.mode("overwrite").parquet(path)
        throw new RuntimeException("crash before the sidecar swap")
      })
    assert(e.getMessage.contains("crash"))
    assert(versions(dir).size == 2) // the torn version's data is on disk
    assert(named(dir) == v1)
    assert(spark.read.parquet(s"$dir/$v1").count() == 3L)
  }

  test("sweep keeps the version the sidecar names, however old") {
    val dir = tmp()
    // a `version;...` first line (the PQ codebook header) names the
    // version by its first field
    VersionedDir.commit(spark, dir, Sidecar, v => Seq(s"$v;8;4;true", "1,2")) {
      path =>
        spark.range(3L).write.mode("overwrite").parquet(path)
        age(path)
    }
    val v = named(dir)
    assert(versions(dir) == Set(v))
    assert(spark.read.parquet(s"$dir/$v").count() == 3L)
  }

  test("sweep deletes a superseded version past the grace, spares a younger orphan") {
    val dir = tmp()
    commitRows(dir, 3L)
    val v1 = named(dir)
    age(s"$dir/$v1")
    // an in-progress writer: data dir created, sidecar not yet swapped
    val orphan = s"data_${System.nanoTime()}_writer"
    Files.createDirectories(new File(dir, orphan).toPath)
    commitRows(dir, 5L)
    val v2 = named(dir)
    assert(v2 != v1)
    assert(versions(dir) == Set(v2, orphan))
    assert(spark.read.parquet(s"$dir/$v2").count() == 5L)
  }
}
