package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, var end: Double)

/** Per-operation counters folded from listener events. */
final class OpCounters {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val taskIntervals: mutable.ArrayBuffer[(Double, Double)] = mutable.ArrayBuffer.empty
  def add(k: String, v: Double): Unit = c(k) += v
}

/** In-memory span recorder around the program's layers.
  *
  * The benchmark opens the workload / operation / plan_build / action
  * spans itself; Spark's public listeners supply the job, stage and
  * micro-batch spans and the task counters. Jobs are linked to their
  * operation by job group; streaming queries set their own group, so
  * their jobs fall back to the operation whose window holds the job's
  * start. Listener events arrive asynchronously: [[sync]] runs a
  * one-task sentinel job in its own group and waits for its end event,
  * after which every earlier event on the shared queue has been seen. */
final class Tracer(spark: SparkSession) {
  import Harness.nowMs

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val counters: mutable.Map[String, OpCounters] = mutable.Map.empty
  private val opSpanOf = mutable.Map.empty[String, Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var currentOp: String = "__none__"
  @volatile private var sentinelEnds = 0
  @volatile private var streamsStarted = 0
  @volatile private var streamsEnded = 0
  private val Sentinel = "__sentinel__"

  def open(parent: Int, kind: String, name: String): Span = synchronized {
    val s = Span(spans.size, parent, kind, name, nowMs, Double.NaN)
    spans += s
    s
  }
  def close(s: Span): Unit = synchronized { s.end = nowMs }

  /** Mark `op` (and its span) as the one later events belong to. */
  def beginOp(op: String, span: Span): Unit = synchronized {
    currentOp = op
    opSpanOf(op) = span
    counters.getOrElseUpdate(op, new OpCounters)
  }

  /** Events from now on belong to no operation (untimed work). */
  def endOp(): Unit = synchronized { currentOp = "__between__" }

  /** The job group's operation, else the latest-started operation whose
    * span holds `timeMs`, else the current one. */
  private def opFor(group: String, timeMs: Double): String =
    if (group != null && opSpanOf.contains(group)) group
    else opSpanOf.filter { case (_, s) => s.start <= timeMs && (s.end.isNaN || timeMs <= s.end) }
      .maxByOption(_._2.start).map(_._1).getOrElse(currentOp)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == Sentinel) return
      val op = opFor(group, e.time.toDouble)
      val opSpan = opSpanOf.get(op)
      // a job's parent is the plan_build or action span it started in
      val parent = opSpan.flatMap { os =>
        spans.reverseIterator.find(s => s.parent == os.id && s.start <= e.time && (s.end.isNaN || e.time <= s.end))
      }.orElse(opSpan).map(_.id).getOrElse(-1)
      val s = Span(spans.size, parent, "job", s"job ${e.jobId}", e.time.toDouble, Double.NaN)
      spans += s
      jobSpans(e.jobId) = s
      e.stageIds.foreach { sid => stageOp(sid) = op; stageJob.getOrElseUpdate(sid, e.jobId) }
      counters.getOrElseUpdate(op, new OpCounters).add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.get(e.jobId) match {
        case Some(s) => s.end = e.time.toDouble
        case None => sentinelEnds += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageOp.get(info.stageId).foreach { op =>
        counters(op).add("stages", 1)
        val parent = stageJob.get(info.stageId).flatMap(jobSpans.get).map(_.id).getOrElse(-1)
        for (st <- info.submissionTime; en <- info.completionTime)
          spans += Span(spans.size, parent, "stage", s"stage ${info.stageId}", st.toDouble, en.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val c = counters(op)
        c.add("tasks", 1)
        c.taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
        val m = e.taskMetrics
        if (m != null) {
          c.add("task_cpu_s", m.executorCpuTime / 1e9)
          c.add("task_run_s", m.executorRunTime / 1e3)
          c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          c.add("input_rows", m.inputMetrics.recordsRead.toDouble)
          c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          c.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          c.add("spill_memory_bytes", m.memoryBytesSpilled.toDouble)
          c.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val c = counters.getOrElseUpdate(currentOp, new OpCounters)
      qe.tracker.phases.foreach { case (phase, summary) =>
        c.add(s"catalyst_${phase}_ms", summary.durationMs.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted += 1
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded += 1
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    sync()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until every listener event posted so far has been handled. */
  def sync(): Unit = if (attached) {
    val sc = spark.sparkContext
    val before = sentinelEnds
    sc.setJobGroup(Sentinel, "trace sync", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 5000000000L
    while ((sentinelEnds == before || streamsEnded < streamsStarted) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }
}

object Tracer {
  def isoMs(s: String): Double = java.time.Instant.parse(s).toEpochMilli.toDouble

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per span kind: duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.filter(s => !s.end.isNaN).groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).filter(k => !k.end.isNaN).map(k => (k.start, k.end))
        (s.end - s.start) - covered(kids, s.start, s.end)
      }.sum / 1e3
    }
  }
}
