package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

/** The query layer's one artifact cache ([[Artifacts]]): memo hits start
  * no Spark job, the key follows the source's content and the family,
  * the marker sidecar — not the directory — decides whether a build ran,
  * per-call scratch keeps one dir per family, and no other memo or `/tmp`
  * spelling creeps back into `src/main`. */
class ArtifactsSpec extends SparkTestBase {
  import spark.implicits._

  /** A fresh source dir holding a one-file `t.parquet`. */
  private def source(): String = {
    val dir = Files.createTempDirectory("graft-art-src").toString
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    dir
  }

  private val builds = new java.util.concurrent.atomic.AtomicInteger()

  /** A stored copy of `dir`'s `t` table, committed by its `_SUCCESS`. */
  private def copyOf(dir: String, family: String = "copy"): DataFrame =
    Artifacts.stored(spark, Artifacts.key(family, dir, "t"), "_SUCCESS") { out =>
      builds.incrementAndGet()
      spark.read.parquet(s"$dir/t.parquet").write.mode("overwrite").parquet(out)
    }(spark.read.parquet(_))

  private def ids(df: DataFrame): Set[Long] = df.as[Long].collect().toSet

  private def jobsIn[T](body: => T): (T, Int) = {
    val group = s"artifacts-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ArtifactsSpec job count")
    try {
      val r = body
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a second lookup with the same key runs no build and starts no Spark job") {
    val dir = source()
    val b0 = builds.get
    val first = copyOf(dir)
    assert(builds.get == b0 + 1)
    val (second, jobs) = jobsIn(copyOf(dir))
    assert(second eq first, "the memo must hand back the loaded artifact")
    assert(builds.get == b0 + 1 && jobs == 0, s"builds ${builds.get - b0}, jobs $jobs")
    // a new session misses the memo but finds the committed artifact
    val other = Artifacts.stored(spark.newSession(), Artifacts.key("copy", dir, "t"),
      "_SUCCESS")(_ => builds.incrementAndGet())(identity)
    assert(builds.get == b0 + 1 && other == Artifacts.dir(Artifacts.key("copy", dir, "t")))
  }

  test("a changed source fingerprint rebuilds") {
    val dir = source()
    val b0 = builds.get
    assert(ids(copyOf(dir)) == Set(1L, 2L, 3L))
    Seq(4L).toDF("id").write.mode("append").parquet(s"$dir/t.parquet")
    assert(ids(copyOf(dir)) == Set(1L, 2L, 3L, 4L))
    assert(builds.get == b0 + 2)
  }

  test("a dir whose marker sidecar is missing (a torn build) rebuilds") {
    val dir = source()
    val d = Artifacts.dir(Artifacts.key("copy", dir, "t"))
    // a build that died after writing data, before its marker
    Seq(9L).toDF("id").write.parquet(d)
    Files.delete(Paths.get(d, "_SUCCESS"))
    val b0 = builds.get
    assert(ids(copyOf(dir)) == Set(1L, 2L, 3L))
    assert(builds.get == b0 + 1)
  }

  test("two families over one source dir don't collide") {
    val dir = source()
    val (ka, kb) = (Artifacts.key("fa", dir, "t"), Artifacts.key("fb", dir, "t"))
    assert(ka != kb && Artifacts.dir(ka) != Artifacts.dir(kb))
    val b0 = builds.get
    copyOf(dir, "fa")
    copyOf(dir, "fb")
    assert(builds.get == b0 + 2)
    assert(Files.exists(Paths.get(Artifacts.dir(ka), "_SUCCESS")) &&
      Files.exists(Paths.get(Artifacts.dir(kb), "_SUCCESS")))
    assert(Artifacts.dir(ka).startsWith(System.getProperty("java.io.tmpdir")))
  }

  test("per-call scratch: each family keeps at most one dir, still readable") {
    val queries = Seq("stream_layout_sink", "sketch_profile", "attr_diff_retag",
      "retrieval_index_sync", "attr_store_census", "export_shards",
      "cluster_compact_refresh")
    for (_ <- 1 to 2; q <- queries)
      graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
    val dirs = Files.list(Artifacts.scratchRoot)
    val families = try dirs.iterator().asScala.toVector
      .map(_.getFileName.toString).groupBy(n => n.take(n.lastIndexOf('_')))
      finally dirs.close()
    assert(families.size == queries.size, families.keys)
    assert(families.forall(_._2.size == 1), families.filter(_._2.size > 1))
  }

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  test("src/main spells no /tmp path: temp state goes under java.io.tmpdir") {
    val hits = for {
      f <- mainSources
      (ln, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if ln.contains("\"/tmp/")
    } yield s"$f:${i + 1}"
    assert(mainSources.nonEmpty)
    assert(hits.isEmpty, s"literal /tmp paths: ${hits.mkString(", ")}")
  }

  test("graft.queries memoizes only through Artifacts (and Tables.rowCounts)") {
    val hits = for {
      f <- mainSources if f.startsWith(Paths.get("src/main/scala/graft/queries"))
      if f.getFileName.toString != "Artifacts.scala"
      (ln, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if ln.contains("TrieMap")
      if !(f.getFileName.toString == "Tables.scala" && ln.contains("val rowCounts"))
    } yield s"$f:${i + 1}"
    assert(hits.isEmpty, s"hand-rolled memos outside Artifacts: ${hits.mkString(", ")}")
  }
}
