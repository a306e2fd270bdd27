package graft.model

import java.nio.file.Files

import graft.SparkTestBase

/** Catalog semantics: auto-create defaults (dataset.go:45-56,65-75),
  * version-gated upgrade (dataset.go:107-130), retention default
  * (dataset.go:58-63), JSONL persistence round-trip (dataset.go:166-227). */
class DatasetCatalogSpec extends SparkTestBase {

  private def tmp() = Files.createTempDirectory("graft-catalog").toString

  test("getOrCreate applies reference defaults; retention 0 -> 14 days") {
    val c = new DatasetCatalog(spark, tmp())
    val cfg = c.getOrCreate("ds1")
    assert(cfg.targetN == 1000L && cfg.targetUtilization == 0.4)
    assert(cfg.retentionDays == 14)
  }

  test("createIfNotExists upgrades only on strictly newer version") {
    val c = new DatasetCatalog(spark, tmp())
    c.createIfNotExists(DataConfig("ds", version = 1, targetN = 10))
    val ignored = c.createIfNotExists(DataConfig("ds", version = 1, targetN = 999))
    assert(ignored.targetN == 10)
    val upgraded = c.createIfNotExists(DataConfig("ds", version = 2, targetN = 999))
    assert(upgraded.targetN == 999)
    assert(c.get("ds").get.targetN == 999)
  }

  test("save/load JSONL round-trip") {
    val dir = tmp()
    val c1 = new DatasetCatalog(spark, dir)
    c1.createIfNotExists(DataConfig("a", version = 3, targetN = 42, noTarget = false))
    c1.createIfNotExists(DataConfig("b", version = 1))
    c1.save()
    val c2 = new DatasetCatalog(spark, dir)
    c2.load()
    assert(c2.list.map(_.name) == Seq("a", "b"))
    assert(c2.get("a").get == DataConfig("a", 3, 42, 0.4, noTarget = false, 14))
  }

  test("rowCount stat tracks writes; upsertInto gates from the stat (S1)") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    import graft.operators.Ingest.IngestConfig
    val c = new DatasetCatalog(spark, tmp())
    assert(c.rowCount("ds").isEmpty)
    c.write("ds", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(c.rowCount("ds").contains(2L))
    val cfg = IngestConfig(Seq("id"), Seq("v"))
    // under target: merge applies and the stat refreshes
    c.upsertInto("ds", Seq((3L, "c")).toDF("id", "v"),
      cfg.copy(targetN = 10, noTarget = false))
    assert(c.rowCount("ds").contains(3L))
    // at target: batch rejected, stat unchanged
    c.upsertInto("ds", Seq((4L, "d")).toDF("id", "v"),
      cfg.copy(targetN = 3, noTarget = false))
    assert(c.rowCount("ds").contains(3L))
    assert(c.table("ds").where(lit(true)).count() == 3)
  }

  test("versioned write: a new write never touches the committed copy; torn write serves it") {
    import spark.implicits._
    val dir = tmp()
    val c = new DatasetCatalog(spark, dir)
    c.write("ds", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val v1 = VersionedDir.readSidecar(spark, s"$dir/data/ds", "_current").head
    c.write("ds", Seq((9L, "z")).toDF("id", "v"))
    val v2 = VersionedDir.readSidecar(spark, s"$dir/data/ds", "_current").head
    assert(v2 != v1)
    assert(c.table("ds").count() == 1)
    // the superseded version survives the sweep grace window — the committed
    // copy a crash mid-write would fall back to is never deleted eagerly
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/data/ds", v1)))
    // the committed version's relation is resolved before the torn write
    val warm = c.table("ds")
    // torn write: data lands but the sidecar swap never happens → readers
    // keep resolving the committed version
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/data/ds", s"data_${System.nanoTime()}"))
    assert(c.table("ds").count() == 1)
    assert(c.table("ds") eq warm)
  }

  /** Jobs started by `body` on this thread (tagged with a private job
    * group, so work from elsewhere in the JVM is not counted). */
  private def jobsIn[T](body: => T): (T, Int) = {
    val group = s"catalog-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "DatasetCatalogSpec job count")
    try {
      val r = body
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("table: an unchanged committed version is read with no job; every commit is seen next call") {
    import spark.implicits._
    val dir = tmp()
    val c1 = new DatasetCatalog(spark, dir)
    def ids(c: DatasetCatalog) = c.table("ds").select($"id").as[Long].collect().sorted.toSeq
    c1.write("ds", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(ids(c1) == Seq(1L, 2L))
    val (_, jobs) = jobsIn(c1.table("ds"))
    assert(jobs == 0, s"repeat read of an unchanged version started $jobs jobs")
    assert(ids(c1) == Seq(1L, 2L))
    // a commit through the same catalog
    c1.write("ds", Seq((3L, "c")).toDF("id", "v"))
    assert(ids(c1) == Seq(3L))
    // a commit through a second catalog on the same root
    new DatasetCatalog(spark, dir).write("ds", Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    assert(ids(c1) == Seq(4L, 5L))
  }

  test("a versioned write supersedes an earlier bucketed write of the same name") {
    import spark.implicits._
    val c = new DatasetCatalog(spark, tmp())
    c.writeBucketed("bv", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "k")
    assert(c.table("bv").count() == 3)
    // the stale session table (it can't see data_* subdirs) must not keep
    // serving reads — or upsertInto would merge against pre-write data
    c.write("bv", Seq((9L, "z")).toDF("k", "v"))
    assert(c.table("bv").count() == 1)
    assert(c.rowCount("bv").contains(1L))
  }

  test("invalid dataset names are rejected (path escape / JSON injection)") {
    val c = new DatasetCatalog(spark, tmp())
    intercept[IllegalArgumentException](c.getOrCreate("../escape"))
    intercept[IllegalArgumentException](c.getOrCreate("a\"b"))
    intercept[IllegalArgumentException](c.getOrCreate("a/b"))
    intercept[IllegalArgumentException](c.getOrCreate(""))
    intercept[IllegalArgumentException](
      c.createIfNotExists(DataConfig("nested\nname")))
  }

  test("upsertInto at capacity on a FRESH catalog (stat unknown) rewrites nothing") {
    import graft.operators.Ingest.IngestConfig
    import spark.implicits._
    val dir = tmp()
    val c1 = new DatasetCatalog(spark, dir)
    c1.write("ds", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val before = VersionedDir.readSidecar(spark, s"$dir/data/ds", "_current").head
    // fresh instance: rowCount stat is gone, the gate falls through to
    // Ingest.upsert's internal count — its rejection must not trigger a
    // rewrite of identical data over the stored table
    val c2 = new DatasetCatalog(spark, dir)
    c2.upsertInto("ds", Seq((4L, "d")).toDF("id", "v"),
      IngestConfig(Seq("id"), Seq("v"), targetN = 3, noTarget = false))
    val after = VersionedDir.readSidecar(spark, s"$dir/data/ds", "_current").head
    assert(after == before, "rejected batch must not write a new version")
    assert(c2.table("ds").count() == 3)
  }

  test("table: unknown dataset reads as empty Datum-schema table; write/read works") {
    val c = new DatasetCatalog(spark, tmp())
    val empty = c.table("fresh")
    assert(empty.schema == Datum.schema && empty.count() == 0)
    import spark.implicits._
    c.write("fresh", Seq(Datum(Seq(1f, 2f), "g", """{"k":1}""")).toDF()
      .withColumnRenamed("groupLabel", "group_label")
      .withColumnRenamed("expireAt", "expire_at"))
    assert(c.table("fresh").count() == 1)
  }

  test("writePartitioned leaves one file per partition value") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val c = new DatasetCatalog(spark, dir)
    // every one of the 4 input partitions holds rows of all 32 cells
    val df = spark.range(0, 3200, 1, 4)
      .select(col("id"), (col("id") % 32).cast("int").as("cluster"))
    c.writePartitioned("cells", df, "cluster")
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    val files = try walk.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.toVector finally walk.close()
    val perCell = files.groupBy(_.getParent.getFileName.toString)
    assert(perCell.size == 32, perCell.keys.toSeq.sorted)
    assert(perCell.values.forall(_.size == 1),
      perCell.collect { case (d, fs) if fs.size != 1 => s"$d: ${fs.size}" })
    assert(c.table("cells").count() == 3200)
  }
}
