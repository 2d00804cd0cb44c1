package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision; `req` groups the spans of one request. */
final case class Span(id: Long, parent: Long, name: String, req: Long, thread: String,
                      startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def wallMs: Double = endMs - startMs
}

/** Spark-side work attributed to one span (or one streaming micro-batch). */
final class SparkAgg {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start, end) epoch ms
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var queries = 0
  var planningMs = 0.0
  var execMs = 0.0
  var scanRows = 0L
  var scanFiles = 0L
  var exchanges = 0
  var writtenFiles = 0L
  var writtenBytes = 0L
}

/** Span recorder plus the Spark listeners that attribute jobs, stages, tasks
  * and SQL executions to the span active on the submitting thread. The
  * active span travels to Spark as a thread-local job property; streaming
  * micro-batches are keyed by Spark's own batch-id property instead.
  * Spans stay in memory until [[writeSpans]]. A disabled tracer runs the
  * body and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val originMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def nowMs: Double = originMs + System.nanoTime() / 1e6

  // listener state: written by the listener-bus thread, read after drain()
  private val aggs = new ConcurrentHashMap[String, SparkAgg]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  // a QueryExecution reaches the QueryExecutionListener without its SQL
  // execution id; the execution-end event links the two, so successes are
  // kept until drain() and attributed then
  private val qeKey = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, String]())
  private val succeeded = new ConcurrentLinkedQueue[(QueryExecution, Long)]()

  private def agg(key: String) = aggs.computeIfAbsent(key, _ => new SparkAgg)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val key = Option(p).flatMap(p => Option(p.getProperty(BatchIdProp)).map("b" + _))
        .orElse(Option(p).flatMap(p => Option(p.getProperty(SpanProp)).map("s" + _)))
      key.foreach { k =>
        jobStart.put(e.jobId, (k, e.time))
        e.stageIds.foreach(stageKey.put(_, k))
        Option(p.getProperty("spark.sql.execution.id")).foreach(x => execKey.put(x.toLong, k))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (k, t0) => agg(k).jobs += ((t0, e.time)) }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(execKey.get(end.executionId)).foreach { k =>
          Option(SqlBridge.queryExecution(end)).foreach(qeKey.put(_, k))
        }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val m = e.taskMetrics
        if (m != null) {
          val a = agg(k)
          a.taskCpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      succeeded.add((qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  /** Run `body` inside a span named `layer.op`. */
  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val id = ids.incrementAndGet()
      val r = if (req != 0L) req else parent.map(_.req).getOrElse(0L)
      val open = Span(id, parent.map(_.id).getOrElse(0L), name, r,
        Thread.currentThread.getName, nowMs, 0.0)
      stack.set(open :: stack.get)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        sc.setLocalProperty(SpanProp, prev)
        stack.set(stack.get.tail)
        done.add(open.copy(endMs = nowMs))
      }
    }

  /** Wait until every listener event posted so far has been delivered,
    * then attribute the SQL executions that succeeded. */
  def drain(): Unit = {
    BusDrain(sc)
    var next = succeeded.poll()
    while (next != null) {
      val (qe, durationNs) = next
      Option(qeKey.remove(qe)).foreach { k =>
        val a = agg(k)
        a.queries += 1
        a.planningMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        a.execMs += durationNs / 1e6
        PlanStats.walk(qe.executedPlan, a)
      }
      next = succeeded.poll()
    }
  }

  /** Drop every span recorded so far. A workload calls this when its timed
    * window opens, so warm-up calls stay out of the per-layer metrics. */
  def discard(): Unit = done.clear()

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startMs)

  def sparkOf(span: Span): SparkAgg = aggs.getOrDefault("s" + span.id, Empty)
  def sparkOfBatch(batchId: Long): SparkAgg = aggs.getOrDefault("b" + batchId, Empty)

  /** Spans named exactly `name`, in start order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Every span below `root` (not including it). */
  def descendants(root: Span): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def go(id: Long): Seq[Span] = byParent.getOrElse(id, Nil).flatMap(s => s +: go(s.id))
    go(root.id)
  }

  /** Spark work of a span and all spans below it. */
  def subtree(root: Span): Seq[SparkAgg] = (root +: descendants(root)).map(sparkOf)

  /** Self time: the span's wall minus the part its children cover. */
  def selfMs(s: Span): Double =
    s.wallMs - covered(spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)), s)

  /** Span wall minus the time covered by the Spark jobs of its subtree. */
  def driverGapMs(s: Span): Double =
    s.wallMs - covered(subtree(s).flatMap(_.jobs.map { case (a, b) => (a.toDouble, b.toDouble) }), s)

  /** Write every span as one JSON line, with its self time and Spark work. */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val a = sparkOf(s)
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "thread" -> s.thread, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> selfMs(s), "jobs" -> a.jobs.size,
        "task_cpu_ms" -> a.taskCpuNs / 1e6, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "planning_ms" -> a.planningMs, "scan_rows" -> a.scanRows))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val BatchIdProp = "streaming.sql.batchId"
  private val Empty = new SparkAgg

  /** Length of the union of `ivs`, clipped to `s`. */
  def covered(ivs: Seq[(Double, Double)], s: Span): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
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
}

/** Physical-plan counters, read through adaptive query stages. */
object PlanStats extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def walk(plan: SparkPlan, a: SparkAgg): Unit = foreach(plan) {
    case s: FileSourceScanExec =>
      a.scanRows += metric(s, "numOutputRows")
      a.scanFiles += metric(s, "numFiles")
    case _: ShuffleExchangeExec => a.exchanges += 1
    case w: DataWritingCommandExec =>
      a.writtenFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      a.writtenBytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
    case _ => ()
  }
}

/** The `spark.*` per-layer metrics, averaged over a workload's operations. */
object SparkLayer {
  /** One operation: its wall, its driver gap and the Spark work under it. */
  final case class Op(wallMs: Double, gapMs: Double, work: Seq[SparkAgg])

  def ofSpans(tr: Tracer, ops: Seq[Span]): Map[String, Double] =
    of(ops.map(s => Op(s.wallMs, tr.driverGapMs(s), tr.subtree(s))))

  def of(ops: Seq[Op]): Map[String, Double] = {
    def per(f: SparkAgg => Double) = Stats.ratio(ops.map(_.work.map(f).sum).sum, ops.size)
    Map(
      "spark.jobs_per_op" -> per(_.jobs.size.toDouble),
      "spark.driver_gap_ms" -> Stats.mean(ops.map(_.gapMs)),
      "spark.task_cpu_ms" -> per(_.taskCpuNs / 1e6),
      "spark.gc_ms" -> per(_.gcMs.toDouble),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> per(_.shuffleRead.toDouble))
  }
}
