package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall-clock epoch in nanoseconds shared by the benchmark's own
  * spans (nanoTime precision) and Spark's listener events (ms).
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = base + System.nanoTime()
  def ofMs(ms: Long): Long = ms * 1000000L
}

/** A traced interval. `kind` is one of: cycle, step, entry (a call into
  * the program), client (a BatchClient call), action (a Spark action,
  * `cls` = its plan class), batch (a streaming micro-batch).
  */
final case class Span(id: Long, name: String, kind: String, startNs: Long, endNs: Long,
                      stackParent: Long, attrs: Map[String, Double], cls: String = "") {
  def durNs: Long = endNs - startNs
  def contains(o: Span): Boolean =
    startNs <= o.startNs + 1000000L && o.endNs <= endNs + 1000000L && o.id != id
}

/** Per-task engine counts, attributed to spans by completion time. */
final case class TaskRec(endNs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, spill: Long)

/** Span recorder for the traced run. Spans stay in memory and are
  * written once, at exit; nothing is recorded while disabled, so the
  * untraced run pays one volatile read per boundary.
  */
object Trace {
  @volatile var enabled = false
  var runId = ""
  @volatile var mainThread: Thread = null
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  // SQL execution id -> start time, from the listener bus
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  def span[T](name: String, kind: String = "entry")(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      // -1: opened on a task thread, parent resolved by time later
      val parent = stack.get.headOption.getOrElse(
        if (Thread.currentThread() eq mainThread) 0L else -1L)
      stack.set(id :: stack.get)
      val t0 = Clock.now
      try f
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, name, kind, t0, Clock.now, parent, Map.empty))
      }
    }

  def record(name: String, kind: String, startNs: Long, endNs: Long,
             attrs: Map[String, Double] = Map.empty, cls: String = ""): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, kind, startNs, endNs, -1L, attrs, cls))

  def snapshot(): Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))
  def taskSnapshot(): Seq[TaskRec] = tasks.asScala.toSeq
  def jobSnapshot(): Seq[Long] = jobs.asScala.toSeq.map(_.longValue())

  /** Walks adaptive plans into their final stages. */
  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** ItemStore scan nodes of a plan, including those inside cached
    * relations it reads (a cache is built by the first action using it).
    */
  private def itemStoreScans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    Plans.flatMap(plan) {
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        itemStoreScans(c.relation.cachedPlan)
      case p if p.nodeName.startsWith("BatchScan") && p.toString.contains("ItemStoreScan") => Seq(p)
      case _ => Nil
    }

  /** Scan nodes already counted: a cached scan runs once, however many
    * actions read its cache.
    */
  private val countedScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[org.apache.spark.sql.execution.SparkPlan, java.lang.Boolean]())

  /** Plan class of a Spark action: a file sink, a global aggregate
    * collected as one row, a scan of the item store, or other.
    */
  def classify(funcName: String, qe: QueryExecution): String = {
    val globalAgg = qe.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate if a.groupingExpressions.isEmpty => a
    }.nonEmpty
    if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand") ||
        qe.optimizedPlan.nodeName.startsWith("InsertInto")) "json_sink"
    else if (funcName == "collect" && globalAgg) "aggregate"
    else if (itemStoreScans(qe.executedPlan).nonEmpty) "itemstore_scan"
    else "other"
  }

  final class ActionListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val start = Option(execStart.get(qe.id)).map(_.longValue()).getOrElse(Clock.now - durationNs)
        val scans = itemStoreScans(qe.executedPlan).filter(countedScans.add)
        val rows = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        record(s"action.$funcName", "action", start, start + durationNs,
          Map("itemstore_rows" -> rows.toDouble, "itemstore_scans" -> scans.size.toDouble),
          classify(funcName, qe))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  final class EngineListener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if enabled => execStart.put(s.executionId, Clock.ofMs(s.time))
      case _ => ()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (enabled) jobs.add(Clock.ofMs(j.time))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (enabled && t.taskMetrics != null) {
        val m = t.taskMetrics
        tasks.add(TaskRec(Clock.ofMs(t.taskInfo.finishTime), m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  /** Micro-batch progress. Always installed: the per-batch durations
    * are end-to-end samples of the streaming workload, not tracing.
    */
  final class BatchListener extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[(String, Long, Long, Map[String, Long], Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val start = Clock.ofMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      progress.add((p.runId.toString, p.batchId, start, d, p.numInputRows))
      if (enabled)
        record(s"microbatch.${p.batchId}", "batch", start, start + Clock.ofMs(d.getOrElse("triggerExecution", 0L)),
          d.map { case (k, v) => s"$k.ms" -> v.toDouble } + ("rows" -> p.numInputRows.toDouble))
    }
  }

  def install(spark: SparkSession): BatchListener = {
    spark.listenerManager.register(new ActionListener)
    spark.sparkContext.addSparkListener(new EngineListener)
    val bl = new BatchListener
    spark.streams.addListener(bl)
    bl
  }

  /** Resolve parents: spans opened on the main thread keep their
    * call-stack parent; spans from listeners and task threads get the
    * innermost main-thread span whose interval covers theirs.
    */
  def resolve(all: Seq[Span]): Seq[(Span, Long)] = {
    val main = all.filter(s => s.stackParent >= 0)
    all.map { s =>
      if (s.stackParent >= 0) (s, s.stackParent)
      else {
        val cands = main.filter(d => d.contains(s) && d.kind != "client")
        (s, if (cands.isEmpty) 0L else cands.minBy(_.durNs).id)
      }
    }
  }

  /** Self time: duration minus the union of its children's intervals. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.durNs - covered
  }

  /** Write the spans, each with the engine totals of the tasks that
    * finished inside it.
    */
  def write(path: Path, resolved: Seq[(Span, Long)], tasks: Seq[TaskRec]): Unit =
    Files2.write(path, resolved.map { case (s, parent) =>
      val ts = tasks.filter(t => t.endNs >= s.startNs && t.endNs <= s.endNs)
      val engine = Map("tasks" -> ts.size.toDouble, "task_ms" -> ts.map(_.runMs).sum.toDouble,
        "gc_ms" -> ts.map(_.gcMs).sum.toDouble, "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> ts.map(_.spill).sum.toDouble)
      Json.obj(Seq("run_id" -> Json.str(runId), "id" -> s.id.toString, "parent" -> parent.toString,
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind), "class" -> Json.str(s.cls),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "attrs" -> Json.obj((s.attrs ++ engine).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    })

}
