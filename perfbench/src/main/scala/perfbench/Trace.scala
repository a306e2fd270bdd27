package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

/** Spark counters of one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
}

/** One timed call into a layer. `op` is the request or batch the span
  * belongs to; `parent` is 0 for a top-level span. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, endNs: Long)

/** Spans recorded around every call into a layer, plus the Spark counters
  * of the jobs each call ran. A span's id travels to Spark as the local
  * property [[Tracer.SpanProp]]: every job carries the properties of the
  * thread that submitted it (broadcast and subquery threads inherit them),
  * so the listener attributes a job, its stages and its tasks to the span
  * by id alone, never by timing.
  *
  * Tracing is on only between [[begin]] and [[end]]; outside, [[span]]
  * runs its body untouched and the listener is detached. */
final class Tracer {
  import Tracer.SpanProp

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var op = 0L
  private var sc: SparkContext = _
  private val returned = mutable.HashMap.empty[Long, Long]

  /** Rows the reads of traced operation `opId` returned. */
  def noteReturned(opId: Long, rows: Long): Unit = synchronized { returned(opId) = rows }
  def returnedBy(opId: Long): Long = synchronized(returned.getOrElse(opId, 0L))

  private def cnt(spanId: Long): Counters = counters.getOrElseUpdate(spanId, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanProp)))
      p.foreach { s =>
        val id = s.toLong
        Tracer.this.synchronized {
          cnt(id).jobs += 1
          e.stageIds.foreach(stageSpan(_) = id)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(cnt(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageId).foreach { id =>
          val c = cnt(id)
          c.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            c.execRunMs += m.executorRunTime
            c.execCpuNs += m.executorCpuTime
            c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.recordsRead += m.inputMetrics.recordsRead
            c.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Start tracing operation `opId` on `context`. */
  def begin(context: SparkContext, opId: Long): Unit = {
    sc = context
    op = opId
    sc.addSparkListener(listener)
  }

  /** Stop tracing: drain the listener bus, so every event of the traced
    * operation has been counted, then detach. */
  def end(): Unit = if (sc != null) {
    ListenerDrain.drain(sc)
    sc.removeSparkListener(listener)
    sc = null
  }

  def span[T](name: String)(body: => T): T = {
    if (sc == null) return body
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(0L)
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prev)
      synchronized { spans += Span(id, name, parent, op, t0, t1) }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toVector)

  def countersOf(id: Long): Counters = synchronized(counters.getOrElse(id, new Counters))

  /** Duration minus the part covered by child spans, in ms. */
  def selfMs: Map[Long, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
        .filter(_ > 0).sum
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Rows the named spans read per row their operations returned. */
  def rowsReadPerResult(tr: Tracer, names: Set[String]): Double = {
    val ss = tr.allSpans.filter(s => names(s.name))
    val read = ss.map(s => tr.countersOf(s.id).recordsRead).sum.toDouble
    val returned = ss.map(_.op).distinct.map(tr.returnedBy).sum
    if (returned == 0) 0.0 else read / returned
  }

  /** Span wall time minus its executor run time spread over the task
    * slots: the part of a call that waited rather than worked. */
  def overheadMs(tr: Tracer, name: String, slots: Int): Double = {
    val ss = tr.allSpans.filter(_.name == name)
    if (ss.isEmpty) 0.0
    else ss.map(s => (s.endNs - s.startNs) / 1e6 -
      tr.countersOf(s.id).execRunMs.toDouble / slots).sum / ss.size
  }

  /** The counter set every span reports, as (suffix, unit). */
  val CounterSet: Seq[(String, String)] = Seq(
    "ms" -> "ms", "self_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "exec_run_ms" -> "ms", "exec_cpu_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "records_read" -> "count")

  /** Per-call means of the counter set over every span named `name`;
    * zeros when the workload never calls that layer. */
  def layerMetrics(tr: Tracer, name: String): Seq[(String, Double)] = {
    val ss = tr.allSpans.filter(_.name == name)
    val self = tr.selfMs
    val n = math.max(ss.size, 1).toDouble
    def mean(f: Span => Double) = ss.map(f).sum / n
    def c(f: Counters => Long) = mean(s => f(tr.countersOf(s.id)).toDouble)
    val values = Map(
      "ms" -> mean(s => (s.endNs - s.startNs) / 1e6),
      "self_ms" -> mean(s => self(s.id)),
      "jobs" -> c(_.jobs), "stages" -> c(_.stages), "tasks" -> c(_.tasks),
      "exec_run_ms" -> c(_.execRunMs),
      "exec_cpu_ms" -> c(_.execCpuNs) / 1e6,
      "shuffle_bytes" -> c(_.shuffleBytes), "spill_bytes" -> c(_.spillBytes),
      "records_read" -> c(_.recordsRead))
    CounterSet.map { case (k, _) => s"$name.$k" -> values(k) }
  }
}
