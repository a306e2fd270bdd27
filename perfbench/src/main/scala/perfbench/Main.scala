package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one timed operation did: its kind (for per-kind stats), how many
  * items it completed, how many rows its reads returned, and the oracle
  * checks to run once the clock is stopped: (op name, passed). */
final case class Op(kind: String, items: Long, returned: Long,
    check: () => Seq[(String, Boolean)])

/** A workload: seeded inputs, a set-up the program performs, and a closed
  * loop of operations. */
trait Workload {
  /** SHA-256 of every input generated so far: the set-up inputs, the
    * queries and the batches the operations have drawn. */
  def inputDigest: String
  /** The program's set-up: catalog writes, model training, index builds. */
  def setup(spark: SparkSession, root: String, tr: Tracer): Unit
  /** Driver-side oracle preparation; untimed. */
  def prepareOracle(spark: SparkSession): Unit = ()
  /** Untimed preparation of operation `i`: input generation. */
  def prepare(i: Int): Unit = ()
  def op(i: Int, tr: Tracer): Op
  /** Operations per cycle. The loop runs whole cycles, at least one, until
    * the deadline, so every run sees the same operation mix. */
  def cycle: Int = 1
  /** Checks at run end (durability, reload). */
  def endChecks(spark: SparkSession, root: String): Seq[(String, Boolean)] = Nil
  /** Whether operation `i` of a traced run is traced. Untraced ones give
    * the baseline for the tracing overhead. */
  def traced(i: Int): Boolean = i % 2 == 0
  /** Workload-specific end-to-end metrics from the timed operations:
    * p50_ms, tail_ms, items_per_s, recall_at_10, space_amp, and
    * optionally tail_rank (the tail's percentile as a fraction). */
  def metrics(lat: Seq[(Op, Double)]): Map[String, Double]
  /** Untimed operations that let JIT and codegen caches fill before the
    * loop, as they are on a long-running server. */
  def warmup(): Unit = ()
  /** Per-layer extras beyond the span counter set, by name
    * ([[Main.LayerExtras]]); absent ones are reported as 0. */
  def layerExtras(tr: Tracer, slots: Int): Map[String, Double]
  /** Kernel rows/s, `functions.<kernel>.rows_per_s`, for the kernels this
    * workload exercises. */
  def kernelRates(spark: SparkSession): Map[String, Double] = Map.empty
}

object Main {

  /** Layers the traced run reports, in BENCHMARK.json order. */
  val Layers: Seq[String] = Seq(
    "model.table", "operators.search", "operators.search_multi.narrow",
    "operators.search_multi.wide", "operators.ivf_multi", "streaming.curate",
    "model.upsert", "operators.text_index", "operators.dedup_sweep",
    "operators.train", "operators.ivf_build")

  val Kernels: Seq[String] =
    Seq("vector_score", "gjson_filter", "lid", "lm_score", "nb_score", "simhash")

  val Workloads: Map[String, Long => Workload] = Map(
    "knn" -> (new Knn(_)),
    "ingest_curate" -> (new IngestCurate(_)))

  /** End-to-end metrics, (name, unit), in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "retained_heap_mb" -> "MB", "ok_rate" -> "fraction", "p50_ms" -> "ms",
    "tail_ms" -> "ms", "items_per_s" -> "1/s", "recall_at_10" -> "fraction", "space_amp" -> "ratio")

  val LayerExtras: Seq[(String, String)] = Seq(
    "operators.search.overhead_ms" -> "ms",
    "operators.search.rows_read_per_result" -> "ratio",
    "model.write_amp" -> "ratio",
    "streaming.curate.admit_ratio" -> "ratio")

  /** Per-layer metrics, (name, unit), in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => Tracer.CounterSet.map { case (c, u) => s"$l.$c" -> u }) ++
      LayerExtras ++
      Seq("jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB") ++
      Kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++
      Seq("bench.trace_overhead_ms" -> "ms")

  def usage(): Nothing = {
    System.err.println(s"usage: perfbench.Main --workload <${Workloads.keys.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> [--trace-out <file>] [--work <dir>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    val name = kv.getOrElse("workload", usage())
    val seed = kv.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = kv.get("seconds").map(_.toDouble).getOrElse(usage())
    val trace = kv.getOrElse("trace", "0") == "1"
    val work = Paths.get(kv.getOrElse("work", "bench_work")).toAbsolutePath.toString

    val w = Workloads.getOrElse(name, usage())(seed)

    val tr = new Tracer
    // set-up from a cold JVM, as a user starting the system pays it
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local()
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (trace) tr.begin(spark.sparkContext, -1)
    w.setup(spark, work, tr)
    val setupS = (System.nanoTime() - t0) / 1e9
    tr.end()
    System.err.println(f"# session start $sessionS%.2f s, set-up $setupS%.2f s")
    w.prepareOracle(spark)
    w.warmup()

    val gcBefore = gcMs()
    val lat = mutable.ArrayBuffer.empty[(Op, Double, Boolean)]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || i % w.cycle != 0 || System.nanoTime() < deadline) {
      // a traced run leaves some operations untraced (Workload.traced):
      // they are the baseline the tracing overhead is measured against
      val traced = trace && w.traced(i)
      w.prepare(i)
      if (traced) tr.begin(spark.sparkContext, i)
      val t0 = System.nanoTime()
      val op = try w.op(i, tr) catch {
        case e: Exception =>
          System.err.println(s"# op $i failed: $e")
          e.printStackTrace()
          Op("op_exception", 0, 0, () => Seq("op_exception" -> false))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) { tr.noteReturned(i, op.returned); tr.end() }
      lat += ((op, ms, traced))
      System.err.println(f"# op $i ${op.kind}: $ms%.1f ms")
      checks ++= op.check()
      i += 1
    }
    val gcMsRun = gcMs() - gcBefore
    checks ++= w.endChecks(spark, work)
    println(s"# workload=$name seed=$seed inputs_sha256=${w.inputDigest}")

    val failedByOp = checks.filterNot(_._2).groupBy(_._1).map { case (k, v) => k -> v.size }
    failedByOp.toSeq.sorted.foreach { case (k, n) => println(s"# failed op=$k count=$n") }
    val failed = checks.count(!_._2)
    val attempted = checks.size

    val timed = lat.filter(_._1.kind != "op_exception").map(l => (l._1, l._2)).toSeq
    val m = w.metrics(timed)
    println(f"# ops=${lat.size} setup_s=$setupS%.2f" +
      m.get("tail_rank").fold("")(r => f" tail_ms=p${100 * r}%.1f"))
    timed.groupBy(_._1.kind).toSeq.sortBy(_._1).foreach { case (k, ls) =>
      println(f"# kind=$k n=${ls.size} p50_ms=${Stats.median(ls.map(_._2))}%.1f")
    }

    val values: Map[String, Double] =
      if (!trace)
        m ++ Map("setup_s" -> setupS, "retained_heap_mb" -> retainedHeapMb(),
          "ok_rate" -> (1.0 - failed.toDouble / attempted))
      else {
        val slots = spark.sparkContext.defaultParallelism
        Layers.flatMap(Tracer.layerMetrics(tr, _)).toMap ++
          w.layerExtras(tr, slots) ++
          w.kernelRates(spark).map { case (k, v) => s"functions.$k.rows_per_s" -> v } ++
          Map("jvm.gc_ms" -> gcMsRun.toDouble, "jvm.peak_rss_mb" -> peakRssMb(),
            "bench.trace_overhead_ms" ->
              Stats.traceOverheadMs(lat.toSeq.map(l => (l._1.kind, l._2, l._3))))
      }
    val metrics = (if (trace) PerLayer else EndToEnd).map { case (k, u) =>
      (k, values.getOrElse(k, 0.0), u)
    }

    if (trace) kv.get("trace-out").foreach { out =>
      writeTrace(out, name, seed, tr, metrics)
      println(s"# trace written to $out")
    }
    spark.stop()
    println(Stats.resultJson(failed == 0, attempted, failed, metrics))
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap this process retains after a full collection, in MB: what the
    * session holds at run end (cached and checkpointed blocks, catalog
    * state, job history) plus the benchmark's own inputs. Unlike VmHWM,
    * it does not depend on when the collector chose to grow the heap. */
  def retainedHeapMb(): Double = {
    // a collection hands the session's cleaner the blocks and broadcasts
    // that became unreachable; it drops them on its own thread, so collect
    // until the figure holds still
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = collect()
    var n = 1
    while (n < 10 && math.abs(prev - cur) > 0.005 * cur) {
      prev = cur
      cur = collect()
      n += 1
    }
    cur
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** The per-layer file: every span (name, start, end, parent, op id)
    * with its own counters, plus the aggregated metrics. */
  def writeTrace(out: String, workload: String, seed: Long, tr: Tracer,
      metrics: Seq[(String, Double, String)]): Unit = {
    val self = tr.selfMs
    val spans = tr.allSpans.map { s =>
      val c = tr.countersOf(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${Stats.num(self(s.id))},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""exec_run_ms":${c.execRunMs},"exec_cpu_ms":${Stats.num(c.execCpuNs / 1e6)},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""records_read":${c.recordsRead},"bytes_written":${c.bytesWritten}}"""
    }
    val body = s"""{"workload":"$workload","seed":$seed,""" +
      s""""metrics":${Stats.metricsJson(metrics)},""" +
      s""""spans":[${spans.mkString(",\n")}]}"""
    val p = Paths.get(out)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, body.getBytes(UTF_8))
  }
}
