package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a root op (parent = 0) or a layer call inside one. Times
  * are epoch nanoseconds so they line up with Spark's event times. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics summed over one stage attempt's tasks. */
final class StageAgg {
  var submitMs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var schedDelayMs = 0L
}

final case class JobRec(jobId: Int, op: Long, span: Long, execId: Long,
    startMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var failed: Boolean = false
}

/** Spans recorded by the benchmark around its calls into graft, plus the
  * Spark jobs, stages and tasks those calls caused. Each op is a root
  * span whose id is set as the Spark job group, and each layer call sets
  * its span id as a local property, so every job is attributed to the
  * op and layer that submitted it.
  *
  * Tracing is switched per op: a traced op runs with the listeners
  * attached, an untraced one without, so one run can compare both. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = System.nanoTime() + epochOffsetNs

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** Output rows of the graft scan nodes of each finished execution. */
  private val scanRows = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  private val watched = mutable.HashMap[Long, QueryExecution]()

  private var curOp = 0L
  private var curSpan = 0L
  private var lastSpan: Option[Int] = None
  private var attached = false

  /** Runs one op as a root span. */
  def op[T](cls: String, traced: Boolean)(body: => T): T = {
    if (traced != attached) setAttached(traced)
    val id = ids.incrementAndGet()
    sc.setJobGroup(id.toString, cls, interruptOnCancel = false)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    curOp = id
    curSpan = id
    val s0 = nowNs
    try body
    finally {
      if (traced) spans += Span(id, 0L, id, cls, s0, nowNs, Map.empty)
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.SpanProp, null)
      curOp = 0L
      curSpan = 0L
    }
  }

  /** A layer call inside the current op. */
  def span[T](name: String)(body: => T): T = {
    if (!attached) return body
    val id = ids.incrementAndGet()
    val parent = curSpan
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    curSpan = id
    val s0 = nowNs
    try body
    finally {
      spans += Span(id, parent, curOp, name, s0, nowNs, Map.empty)
      lastSpan = Some(spans.size - 1)
      curSpan = parent
      sc.setLocalProperty(Tracer.SpanProp, parent.toString)
    }
  }

  /** Ties a query execution to the current span, so the rows its graft
    * scans emitted (reported by the query listener) count for that span. */
  def watch(qe: QueryExecution): Unit = if (attached) watched(curSpan) = qe

  /** Rows the graft scan nodes of a span's watched query emitted. */
  def scanRowsOut(span: Long): Long =
    watched.get(span).flatMap(qe => Option(scanRows.get(qe))).map(_.longValue).getOrElse(0L)

  /** Adds counts measured by the benchmark to the last closed layer span. */
  def annotate(kv: (String, Double)*): Unit =
    if (attached) lastSpan.foreach(i => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ kv))

  def tracing: Boolean = attached

  /** Waits until every posted Spark event has reached the listeners. */
  def drain(): Unit = BenchBus.drain(sc)

  def detach(): Unit = if (attached) setAttached(false)

  private def setAttached(on: Boolean): Unit = {
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      drain()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    attached = on
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Long =
        p.flatMap(x => Option(x.getProperty(k))).flatMap(_.toLongOption).getOrElse(0L)
      val rec = JobRec(e.jobId, prop("spark.jobGroup.id"), prop(Tracer.SpanProp),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
          .getOrElse(-1L),
        e.time, e.stageIds)
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.failed = e.jobResult != JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageAgg(e.stageInfo.stageId).submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAgg(e.stageId)
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        if (a.submitMs > 0) a.schedDelayMs += math.max(0L, e.taskInfo.launchTime - a.submitMs)
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.recordsRead += m.inputMetrics.recordsRead
          a.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private def stageAgg(id: Int): StageAgg = stages.computeIfAbsent(id, _ => new StageAgg)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      scanRows.put(qe, Tracer.graftScans(qe.executedPlan)
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Jobs submitted under a span (or, for a root span, anywhere in its op). */
  def jobsOf(s: Span): Seq[JobRec] =
    jobs.values.asScala.filter(j => if (s.parent == 0L) j.op == s.id else j.span == s.id).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Physical nodes of a plan, looking through adaptive execution. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  def graftScans(p: SparkPlan): Seq[BatchScanExec] = nodes(p).collect {
    case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") => b
  }

  /** Input partitions the graft scans of a planned frame will read. */
  def inputPartitions(df: org.apache.spark.sql.DataFrame): Double =
    graftScans(df.queryExecution.executedPlan).map(_.inputPartitions.size).sum.toDouble

  /** Millisecond intervals merged into their union's total length. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
