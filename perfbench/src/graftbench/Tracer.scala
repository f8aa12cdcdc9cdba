package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call. `layer` is the engine module called (or "bench" for
  * the benchmark's own unit spans); `phase` says whether it ran during
  * set-up, the measured loop or the checks. */
final class Span(val id: Int, val parent: Int, val layer: String,
    val op: String, val phase: String, val startMs: Long,
    val startNs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var ok: Boolean = true
  /** Hadoop filesystem calls made during the span, by kind (traced). */
  var fs: Array[Long] = Array.emptyLongArray

  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the engine. Spans
  * are kept in memory and written when the run ends.
  *
  * When `traced`, every Spark job is attributed to the span active on
  * the calling thread when the job started (a local property), and the
  * filesystem counters are snapshotted at each span boundary. Untraced,
  * a span is two clock reads. */
final class Tracer(spark: SparkSession, val traced: Boolean,
    val runId: String, fault: Option[String]) {
  import Tracer._

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var phase: String = "setup"
  private var current = -1
  private var faultFired = false
  private val sc = spark.sparkContext
  val jobs: Option[JobListener] =
    if (traced) Some(new JobListener) else None
  jobs.foreach(sc.addSparkListener)

  def span[T](layer: String, op: String)(body: => T): T = {
    val s = new Span(spans.size, current, layer, op, phase,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    val parent = current
    current = s.id
    val fs0 = if (traced) CountingFs.snapshot() else null
    if (traced) sc.setLocalProperty(SpanKey, s.id.toString)
    try {
      if (fault.contains(layer) && phase == "loop" && !faultFired) {
        faultFired = true
        throw new IllegalStateException(s"injected fault in $layer.$op")
      }
      body
    } catch {
      case e: Throwable => s.ok = false; throw e
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      if (traced) {
        val fs1 = CountingFs.snapshot()
        s.fs = Array.tabulate(fs1.length)(i => fs1(i) - fs0(i))
        sc.setLocalProperty(SpanKey,
          if (parent >= 0) parent.toString else null)
      }
      current = parent
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) BenchBus.drain(sc)

  def spansJsonl: String = spans.map { s =>
    Json.obj(Seq("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "op" -> s.op, "phase" -> s.phase,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "ok" -> s.ok,
      "fs" -> CountingFs.Kinds.zip(s.fs).toMap))
  }.mkString("", "\n", "\n")
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Length of the union of `[start, end]` intervals, each clipped to
    * `[lo, hi]`. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Per-job and per-task numbers, keyed by the span that started the
  * job. Fed on Spark's listener thread; read after [[Tracer.drain]]. */
final class JobListener extends SparkListener {
  final class Job(val span: Int, val startMs: Long) { var endMs: Long = -1L }
  /** task run time (ms), shuffle bytes written, bytes spilled */
  final class TaskTotals { var runMs = 0L; var shuffle = 0L; var spill = 0L }

  val byJob: mutable.Map[Int, Job] = mutable.HashMap.empty
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val bySpan: mutable.Map[Int, TaskTotals] = mutable.HashMap.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    byJob(e.jobId) = new Job(span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = bySpan.getOrElseUpdate(
        stageSpan.getOrElse(e.stageId, -1), new TaskTotals)
      t.runMs += m.executorRunTime
      t.shuffle += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
