package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with total + per-query seconds.
  * A warmup action first absorbs JVM/parquet-footer/codegen startup so the
  * per-query numbers measure the plans, not Spark boot. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // evaluate = noop-sink write, NOT count(): under count() the optimizer
    // column-prunes the projections away entirely, so a map-only query
    // (text_redact's regexes, the quality kernels) benchmarks a bare
    // row-count scan and a 10× kernel regression is invisible. The noop
    // sink forces every output column through the full plan.
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warmup: small end-to-end query (JIT, codegen, parquet footers)
    try evaluate(SparkEntry.queries("knn_l2")(spark, sfDir))
    catch { case _: Throwable => () }

    // best of 3 runs per query: single-run numbers were ±30% noisy and
    // best-of-2 still swung individual queries 2× between bench
    // invocations on a shared box. A query that throws is reported as -1
    // and EXCLUDED from the total (round-1 summed the exception path's
    // elapsed time, which could mask failures as plausible numbers).
    // driver contract: no args. Extra args are a local dev convenience:
    // bench only the named queries.
    val only = args.toSet
    val bestOf = 3
    // VERDICT r12 #7: best-of-3 left ±9% total noise on a shared box, and
    // the noise budget is dominated by the multi-second queries. Queries
    // whose best-of-3 min is still above the cutoff get TWO extra runs
    // (best of 5). Bounded wall-clock cost (only the slow tail pays),
    // sub-cutoff queries measure exactly as before.
    val slowBestOf = 5
    val slowCutoffSec = 1.5
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try { evaluate(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }
      val runs0 = Seq.fill(bestOf)(once()).flatten
      val runs = if (runs0.nonEmpty && runs0.min > slowCutoffSec)
        runs0 ++ Seq.fill(slowBestOf - bestOf)(once()).flatten
      else runs0
      name -> (if (runs.isEmpty) -1d else runs.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // sfDir is user input on the one-line JSON protocol — escaped by
    // Verify.jsonString (query names are identifier-safe and need none)
    val sfJson = Verify.jsonString(sfDir)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":$sfJson}"""
    println(line)
    // VERDICT r12 #2: the full line above is ~7 KB for 182 queries and the
    // driver's log capture keeps only a short output TAIL — two rounds
    // running the line's head was cut off and the driver parsed nothing
    // (BENCH_r11/r12 `parsed: null`). Print a SECOND, short summary line
    // LAST — total, query count, failed list, no per-query map — so any
    // tail window of a few hundred bytes still contains one complete,
    // parseable JSON line. The full line keeps the original contract; the
    // complete per-query map is also persisted in BENCH_SELF.json below.
    println(summaryLine(total, results, sfDir))
    // ALSO persist the complete artifact at the repo root (VERDICT r7 #3):
    // the driver's log capture has head-truncated the printed line two
    // rounds running, so cross-round comparison gets a self-written file
    // that never depends on a log tail. Same payload plus run config —
    // one line, matching the BENCH_rXX convention, and bestOf derived
    // from the SAME constant the timing loop uses (ADVICE r8). ONLY the
    // contract-shaped no-arg run writes it: an arg-filtered dev run would
    // silently clobber the full-set artifact with a partial one.
    val master = spark.sparkContext.master
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val self =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failed,"sf":$sfJson,""" +
        s""""config":{"spark":"${spark.version}",""" +
        s""""master":"$master",""" +
        s""""shufflePartitions":"$shufflePartitions",""" +
        s""""queryCount":${results.size},"bestOf":$bestOf,""" +
        s""""slowBestOf":$slowBestOf,"slowCutoffSec":$slowCutoffSec,""" +
        s""""wallClockUtc":"${java.time.Instant.now()}"}}"""
    // ... and only at the driver's bench SF: a no-arg run pointed at a
    // smaller dev SF dir would clobber the sf0.1 artifact with numbers
    // that cannot be compared across rounds (this happened once — the
    // committed artifact silently became an sf0.01 run)
    val benchGradeSf = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    // ... and never over an artifact from another run config: numbers
    // from local[8] and local[32] cannot be compared across rounds either
    if (only.isEmpty && benchGradeSf)
      try {
        val path = java.nio.file.Paths.get("BENCH_SELF.json")
        val conflict =
          if (!java.nio.file.Files.exists(path)) None
          else overwriteConflict(new String(java.nio.file.Files.readAllBytes(path),
            "UTF-8"), master, shufflePartitions)
        conflict match {
          case Some(msg) => System.err.println(msg)
          case None => java.nio.file.Files.write(path, self.getBytes("UTF-8"))
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write BENCH_SELF.json: $e") }
    else if (only.isEmpty)
      System.err.println(s"[bench] dev SF dir $sfDir — BENCH_SELF.json not written")
    spark.stop()
  }

  /** The short summary line: total, query count, failed list (queries
    * that threw report -1) and the SF dir. */
  private[graft] def summaryLine(total: Double, results: Seq[(String, Double)],
      sfDir: String): String = {
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries_n":${results.size},""" +
      s""""failed":$failed,"sf":${Verify.jsonString(sfDir)}}"""
  }

  /** Why a run under (`master`, `shufflePartitions`) must not overwrite the
    * `BENCH_SELF.json` text `existing`: a one-line message naming both
    * configs when the artifact's `config.master` or
    * `config.shufflePartitions` differs, None when they match or the text
    * carries no config to compare. */
  def overwriteConflict(existing: String, master: String,
      shufflePartitions: String): Option[String] = {
    val config = scala.util.Try(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(existing).path("config"))
      .toOption.filter(_.isObject)
    config.flatMap { c =>
      val (oldMaster, oldParts) =
        (c.path("master").asText(""), c.path("shufflePartitions").asText(""))
      if (oldMaster == master && oldParts == shufflePartitions) None
      else Some(s"[bench] BENCH_SELF.json not overwritten: it holds a run with " +
        s"master=$oldMaster shufflePartitions=$oldParts, this run has " +
        s"master=$master shufflePartitions=$shufflePartitions")
    }
  }
}
