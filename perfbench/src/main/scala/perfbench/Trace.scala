package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `group` ties the spans of
  * one operation (a drain, a micro-batch, a pass) together; `parent`
  * is the enclosing span (0 for a root). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, group: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double]) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spark engine counters summed over the tasks of some SQL executions. */
final case class Counters(tasks: Long = 0, cpuS: Double = 0, gcS: Double = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, inputBytes: Long = 0,
    taskMs: Vector[Long] = Vector.empty) {
  def +(o: Counters): Counters = Counters(tasks + o.tasks, cpuS + o.cpuS, gcS + o.gcS,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, taskMs ++ o.taskMs)
  /** Slowest task over the median task: how unevenly the work split. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else { val s = taskMs.sorted; s.last.toDouble / math.max(1L, s(s.size / 2)) }
  def attrs: Map[String, Double] = Map(
    "spark.tasks" -> tasks.toDouble, "spark.task_cpu_s" -> cpuS, "spark.gc_s" -> gcS,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble, "spark.input_bytes" -> inputBytes.toDouble,
    "spark.task_skew" -> skew)
}

/** In-memory span recorder. Disabled, it only runs the body: the
  * untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def now(): Double = System.currentTimeMillis().toDouble

  def span[T](group: String, name: String, attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = now()
      try body
      finally {
        stack.set(stack.get().tail)
        add(Span(id, parent, group, name, t0, now(), attrs))
      }
    }

  /** Record a span measured elsewhere (a listener or a progress event). */
  def add(s: Span): Unit = synchronized { recorded += s }
  def record(group: String, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty): Unit =
    if (enabled) add(Span(ids.incrementAndGet(), 0L, group, name, startMs, endMs, attrs))

  def spans: Seq[Span] = synchronized(recorded.toList)
}

/** Task counters from a SparkListener, aggregated per SQL execution id
  * (jobs carry the id of the execution that started them), and each
  * execution's start and end as the engine posted them. */
final class TaskCounters extends SparkListener {
  private val stageExec = new ConcurrentHashMap[Int, Long]()
  private val perExec = new ConcurrentHashMap[Long, Counters]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execEnd = new ConcurrentHashMap[Long, Long]()
  /** execution id → the root execution it ran under, when not itself */
  private val execRoot = new ConcurrentHashMap[Long, Long]()
  /** `QueryExecution.id` → the execution id it ran under. The two are
    * numbered apart; the end event carries the `QueryExecution` that
    * QueryExecutionListener callbacks receive, behind an accessor that is
    * private to Spark's sql package, hence the reflection. */
  private val execOfQe = new ConcurrentHashMap[Long, Long]()
  private val endQe = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(s => stageExec.put(s, id.toLong)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val exec = stageExec.getOrDefault(e.stageId, -1L)
      val c = Counters(1, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, Vector(e.taskInfo.duration))
      perExec.merge(exec, c, (a: Counters, b: Counters) => a + b)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, s.time)
      s.rootExecutionId.filter(_ != s.executionId).foreach(r => execRoot.put(s.executionId, r))
    case s: SparkListenerSQLExecutionEnd =>
      execEnd.put(s.executionId, s.time)
      endQe.invoke(s) match {
        case qe: QueryExecution => execOfQe.put(qe.id, s.executionId)
        case _ => ()
      }
    case _ => ()
  }

  /** The execution a `QueryExecution` ran under, once its end was posted. */
  def executionOf(qeId: Long): Option[Long] = Option(execOfQe.get(qeId)).map(_.longValue)

  /** Start and end (epoch ms) of one execution, once both were posted. */
  def interval(id: Long): Option[(Double, Double)] =
    for (s <- Option(execStart.get(id)); e <- Option(execEnd.get(id))) yield (s.toDouble, e.toDouble)

  /** Counters of one execution and of the executions that ran under it. */
  def of(id: Long): Counters =
    (id +: execRoot.asScala.collect { case (sub, root) if root == id => sub }.toSeq)
      .flatMap(i => Option(perExec.get(i))).foldLeft(Counters())(_ + _)

  /** Counters of every execution that started inside [fromMs, toMs]. */
  def within(fromMs: Double, toMs: Double): Counters =
    execStart.asScala.iterator
      .collect { case (id, t) if t >= fromMs && t <= toMs => Option(perExec.get(id)) }
      .flatten.foldLeft(Counters())(_ + _)
}

/** One completed Spark SQL action, keyed by its `QueryExecution` id: which
  * table it wrote (if any), the write command's own metrics and what its
  * file scans read. Its times come from the engine's execution events. */
final case class Action(qeId: Long, funcName: String, table: Option[String],
    files: Long, bytes: Long, rows: Long, scanFiles: Long, scanBytes: Long, ok: Boolean)

/** QueryExecutionListener recording every action; callbacks arrive on
  * the listener bus some time after the action has finished, so they
  * carry no times of their own. */
final class ActionListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val buf = mutable.ArrayBuffer.empty[Action]

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    // writes planned under AQE carry the command inside the adaptive plan
    val write = collect(qe.executedPlan) { case d: DataWritingCommandExec => d }.headOption
    def metric(name: String) =
      write.flatMap(_.metrics.get(name)).map(_.value).getOrElse(0L)
    val table = write.map(_.cmd).collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
    }
    val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    def scanMetric(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    synchronized {
      buf += Action(qe.id, funcName, table,
        metric("numFiles"), metric("numOutputBytes"), metric("numOutputRows"),
        scanMetric("numFiles"), scanMetric("filesSize"), ok)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  def actions: Seq[Action] = synchronized(buf.toList)
}

/** The listeners the traced run registers on the session, and the
  * per-layer report built from them once the run ends. */
final class Tracing(spark: SparkSession, val tracer: Tracer) {
  val counters = new TaskCounters
  val actions = new ActionListener
  if (tracer.enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(actions)
  }

  /** Listener events are delivered asynchronously; give the bus a moment
    * to drain before reading what it collected. */
  def settle(): Unit = if (tracer.enabled) Thread.sleep(1500)

  /** Every span, plus one child span per Spark action inside it, each
    * with the engine counters of the executions it covers. An action's
    * span runs from its execution's start to its end; an action whose
    * execution events were not seen is left out and counted on stderr. */
  def finished(): Seq[Span] = {
    val roots = tracer.spans
    val timedActions = actions.actions.map(a =>
      a -> counters.executionOf(a.qeId).flatMap(id => counters.interval(id).map(id -> _)))
    val unseen = timedActions.count(_._2.isEmpty)
    if (unseen > 0) System.err.println(s"[perfbench] $unseen actions without execution events")
    val actionSpans = timedActions.collect { case (a, Some((execId, (start, end)))) =>
      val parent = roots.filter(s => s.startMs <= start && s.endMs >= end)
        .sortBy(s => s.endMs - s.startMs).headOption
      Span(-execId, parent.map(_.id).getOrElse(0L), parent.map(_.group).getOrElse(""),
        "action." + a.table.getOrElse(a.funcName), start, end,
        Map("files" -> a.files.toDouble, "bytes" -> a.bytes.toDouble,
          "rows" -> a.rows.toDouble, "scan_files" -> a.scanFiles.toDouble,
          "scan_bytes" -> a.scanBytes.toDouble, "ok" -> (if (a.ok) 1.0 else 0.0)) ++
          counters.of(execId).attrs)
    }
    roots.map(s => s.copy(attrs = counters.within(s.startMs, s.endMs).attrs ++ s.attrs)) ++
      actionSpans
  }
}
