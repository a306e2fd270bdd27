package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase

/** [[Materialize]] is the one owner of materialization: an eager site's
  * job carries its name, the caller's own local properties survive the
  * call, the scoped forms release what they pinned, and no raw
  * checkpoint, persist or hand-paired release lives anywhere else in
  * `src/main`. */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** `body`'s result and the properties of every job it started. */
  private def jobProps[T](body: => T): (T, Seq[java.util.Properties]) = {
    val seen = new ConcurrentLinkedQueue[java.util.Properties]()
    val group = s"materialize-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.add(js.properties)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "MaterializeSpec")
    try {
      val r = body
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      (r, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def frame = (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "k")
    .groupBy("k").count()

  test("an eager site's job carries its name; the label is gone afterwards") {
    val (m, props) = jobProps(Materialize.eager(frame, "MaterializeSpec.eager"))
    assert(props.nonEmpty, "eager must run its own job")
    assert(props.forall(_.getProperty(Materialize.SiteProperty) == "MaterializeSpec.eager"),
      props.map(_.getProperty(Materialize.SiteProperty)))
    assert(sc.getLocalProperty(Materialize.SiteProperty) == null)
    // the query's own jobs over the checkpoint carry no site
    val (n, after) = jobProps(m.count())
    assert(n == 7 && after.forall(_.getProperty(Materialize.SiteProperty) == null))
  }

  test("a caller's own local properties survive the call") {
    sc.setLocalProperty(Materialize.SiteProperty, "outer")
    sc.setLocalProperty("perfbench.span", "42")
    try {
      val (_, props) = jobProps(Materialize.eagerOnDisk(frame, "MaterializeSpec.inner"))
      assert(props.nonEmpty && props.forall(p =>
        p.getProperty(Materialize.SiteProperty) == "MaterializeSpec.inner" &&
          p.getProperty("perfbench.span") == "42"))
      assert(sc.getLocalProperty(Materialize.SiteProperty) == "outer")
      assert(sc.getLocalProperty("perfbench.span") == "42")
    } finally {
      sc.setLocalProperty(Materialize.SiteProperty, null)
      sc.setLocalProperty("perfbench.span", null)
    }
  }

  test("scoped releases the checkpoint's RDD once its body returns") {
    val before = sc.getPersistentRDDs.keySet
    val (inside, n) = Materialize.scoped(frame, "MaterializeSpec.scoped") { m =>
      (sc.getPersistentRDDs.keySet -- before, m.count())
    }
    assert(n == 7)
    assert(inside.nonEmpty, "the checkpoint must be persisted while in use")
    assert((sc.getPersistentRDDs.keySet intersect inside).isEmpty,
      s"still persisted after scoped: ${sc.getPersistentRDDs.keySet intersect inside}")
  }

  test("cachedScoped runs no job of its own and uncaches on return") {
    val df = frame
    val (n, props) = jobProps(Materialize.cachedScoped(df, "MaterializeSpec.cached") { c =>
      assert(c.storageLevel.useMemory)
      c.count()
    })
    assert(n == 7 && props.forall(_.getProperty(Materialize.SiteProperty) == null))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("collect labels its one job and fails loudly past its bound, naming the site") {
    val df = sc.parallelize((1 to 10).map(i => (i.toLong, i % 3)), 3).toDF("id", "k")
    val (rows, props) = jobProps(Materialize.collect(df, "MaterializeSpec.collect", 10))
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    assert(props.size == 1, s"one job, got ${props.size}")
    assert(props.head.getProperty(Materialize.SiteProperty) == "MaterializeSpec.collect")
    assert(sc.getLocalProperty(Materialize.SiteProperty) == null)
    val e = intercept[IllegalStateException](
      Materialize.collect(df, "MaterializeSpec.collect.bounded", 9))
    assert(e.getMessage.contains("MaterializeSpec.collect.bounded") &&
      e.getMessage.contains("more than 9 rows"), e.getMessage)
  }

  test("a batch search's query collect is bounded and labelled Search.queries") {
    val data = (1 to 20).map(i => (i.toLong, Seq(i.toFloat, 0f))).toDF("id", "feature")
    val queries = sc.parallelize((1 to 3).map(i => (i.toLong, Seq(i.toFloat, 1f))), 2)
      .toDF(Search.QueryIdCol, "feature")
    val cfg = SearchConfig(limit = 2, keyCols = Seq("id"), assumeUniqueKeys = true,
      tieBreakCol = Some("id"))
    val (res, props) = jobProps(Search.multiSearch(data, queries, cfg))
    assert(props.map(_.getProperty(Materialize.SiteProperty)) == Seq("Search.queries"),
      "the call runs exactly the query collect")
    assert(res.count() == 6)
    assert(Search.MaxQueryRows > 0)
    // the budgeted batch collects its queries the same way; its batch
    // jobs run under the budget's own job group, so only the collect is
    // seen here
    val (budgeted, budgetedProps) =
      jobProps(BudgetedSearch.multiSearch(data, queries, cfg, budgetMs = 120000L))
    assert(budgetedProps.map(_.getProperty(Materialize.SiteProperty)) == Seq("Search.queries"),
      "the budgeted call runs one labelled query collect")
    assert(budgeted.complete && budgeted.rows.count() == 6)
  }

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  test("src/main materializes only through Materialize") {
    val raw = Seq(".localCheckpoint(", "Bridge.unpersistCheckpoint", ".persist(", ".cache()")
    val hits = for {
      f <- mainSources if f.getFileName.toString != "Materialize.scala"
      (ln, i) <- Files.readAllLines(f).asScala.zipWithIndex
      r <- raw if ln.contains(r)
    } yield s"$f:${i + 1}: $r"
    assert(mainSources.nonEmpty)
    assert(hits.isEmpty, s"raw materialization outside Materialize: ${hits.mkString(", ")}")
  }

  test("the search modules collect to the driver only through Materialize.collect") {
    // a bare Dataset collect has no row bound and no site label
    val bare = """\.collect(\(\)|\s*$|\s*[.),])""".r
    val files = mainSources.filter(f =>
      Set("Ann.scala", "Search.scala", "KnnKernel.scala", "BudgetedSearch.scala")(
        f.getFileName.toString))
    assert(files.size == 4, files)
    val hits = for {
      f <- files
      (ln, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = ln.replaceAll("//.*", "")
      if !code.trim.startsWith("*") && bare.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}: ${ln.trim}"
    assert(hits.isEmpty, s"unbounded driver collect: ${hits.mkString(", ")}")
  }

  /** The site argument of every `Materialize.<form>(` call in `src`: the
    * last top-level argument of the first argument list, or the second
    * for `collect(df, site, maxRows)`. */
  private def siteArgs(src: String): Seq[String] =
    """Materialize\.(eager|eagerOnDisk|deferred|scoped|cachedScoped|collect)\(""".r
      .findAllMatchIn(src).map { m =>
        var (i, depth) = (m.end, 1)
        val starts = scala.collection.mutable.ArrayBuffer(m.end)
        while (depth > 0) {
          src.charAt(i) match {
            case '"' => i = src.indexOf('"', i + 1)
            case '/' if src.charAt(i + 1) == '/' => i = src.indexOf('\n', i)
            case '(' | '[' | '{' => depth += 1
            case ')' | ']' | '}' => depth -= 1
            case ',' if depth == 1 => starts += i + 1
            case _ =>
          }
          i += 1
        }
        val ends = starts.drop(1).map(_ - 1) :+ (i - 1)
        val arg = if (m.group(1) == "collect") 1 else starts.size - 1
        src.substring(starts(arg), ends(arg)).replaceAll("//[^\n]*", "").trim
      }.toSeq

  test("every Materialize call site passes its own site literal") {
    val sites = for {
      f <- mainSources if f.getFileName.toString != "Materialize.scala"
      site <- siteArgs(new String(Files.readAllBytes(f), "UTF-8"))
    } yield (f.getFileName.toString.stripSuffix(".scala"), site)
    assert(sites.size > 60, s"found only ${sites.size} call sites")
    val bad = sites.filterNot { case (obj, site) =>
      site.matches(s""""$obj(\\.\\w+)+"""")
    }
    assert(bad.isEmpty, "site must be a literal \"<Object>.<method>[.<part>]\" " +
      s"naming its file's object: $bad")
    val dup = sites.groupBy(_._2).collect { case (s, hs) if hs.size > 1 => s }
    assert(dup.isEmpty, s"site literals passed by more than one call: $dup")
  }
}
