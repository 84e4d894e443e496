package org.apache.spark.graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: jobs started under its job group
  * and the task metrics of their stages.
  */
final class ExecAcc {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L

  def add(o: ExecAcc): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
  }
}

final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, var endNs: Long = -1L, var err: String = null) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One planning record from the QueryExecutionListener: when it ran
  * (epoch ms) and what Catalyst plus the graftx rules produced.
  */
final case class PlanRecord(startMs: Long, planMs: Long, topkOps: Int)

/** Spans recorded by the benchmark around each call into the program.
  *
  * Disabled (the untraced run), [[span]] only runs its body: no job
  * groups, no listeners, nothing recorded. Enabled, every span gets an
  * id, its parent and the id of the operation it belongs to; the
  * innermost open span's id is set as the Spark job group, so the
  * [[SparkListener]] can attribute each job and its tasks to the span
  * that caused it. Jobs started on threads the program owns (its index
  * write pool) carry a stale or no group and are attributed to the
  * innermost span open on the benchmark thread. Spans stay in memory
  * until [[write]].
  */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Long = 0L
  private val openSpans = ConcurrentHashMap.newKeySet[Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val accs = new ConcurrentHashMap[Long, ExecAcc]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRecord]()
  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
  }

  /** Stops attributing, so the untimed check dumps are not recorded. */
  def detach(): Unit = if (enabled && spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark = null
  }

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId.getAndIncrement(), name, parent.map(_.id).getOrElse(0L),
        if (op != 0L) op else parent.map(_.op).getOrElse(0L), System.nanoTime())
      spans += s
      stack = s :: stack
      openSpans.add(s.id)
      current = s.id
      setGroup(s.id)
      try body
      catch { case e: Throwable => s.err = e.getClass.getName; throw e }
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        openSpans.remove(s.id)
        current = stack.headOption.map(_.id).getOrElse(0L)
        if (current != 0L) setGroup(current)
        else if (spark != null) spark.sparkContext.clearJobGroup()
      }
    }

  def newOp(): Long = nextId.getAndIncrement()

  /** Id of the innermost open span, 0 when none (or tracing is off). */
  def currentSpan: Long = stack.headOption.map(_.id).getOrElse(0L)

  private def setGroup(id: Long): Unit =
    if (spark != null) spark.sparkContext.setJobGroup(s"graftbench-$id", s"span $id")

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit =
    if (enabled && spark != null) spark.sparkContext.listenerBus.waitUntilEmpty()

  private def acc(span: Long): ExecAcc = accs.computeIfAbsent(span, _ => new ExecAcc)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val group = Option(j.properties).flatMap(p =>
        Option(p.getProperty(org.apache.spark.SparkContext.SPARK_JOB_GROUP_ID)))
      val fromGroup = group.collect {
        case g if g.startsWith("graftbench-") => g.stripPrefix("graftbench-").toLong
      }.filter(openSpans.contains)
      val span = fromGroup.getOrElse(current)
      j.stageIds.foreach(id => stageSpan.put(id, span))
      val a = acc(span)
      a.synchronized { a.jobs += 1 }
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val a = acc(stageSpan.getOrDefault(t.stageId, 0L))
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val start = phases.map(_.startTimeMs).min
      plans.add(PlanRecord(start, phases.map(_.durationMs).sum,
        topk(qe.executedPlan)))
    }
  }

  /** graftx top-k-per-key operators in the plan that ran. */
  private def topk(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => topk(a.executedPlan)
    case q: QueryStageExec => topk(q.plan)
    case other =>
      (if (other.getClass.getName == "org.apache.spark.sql.graftx.TopKPerKeyFinalExec") 1
       else 0) + other.children.map(topk).sum + other.subqueries.map(topk).sum
  }

  def all: Seq[Span] = spans.toSeq

  /** The span `root` and all its descendants, except the subtrees the
    * tracer itself adds (named `trace.*`), which are not workload work.
    */
  def within(root: Long): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] =
      s +: kids.getOrElse(s.id, Nil).toSeq.filterNot(_.name.startsWith("trace.")).flatMap(walk)
    spans.find(_.id == root).toSeq.flatMap(walk)
  }

  /** Spark work attributed to `root` and its descendants. */
  def execUnder(root: Long): ExecAcc = {
    val out = new ExecAcc
    within(root).foreach(s => Option(accs.get(s.id)).foreach(a => a.synchronized(out.add(a))))
    out
  }

  def jobsIn(id: Long): Long = execUnder(id).jobs

  /** Planning records whose start falls inside [fromMs, toMs]. */
  def plansBetween(fromMs: Long, toMs: Long): Seq[PlanRecord] =
    plans.asScala.toSeq.filter(p => p.startMs >= fromMs && p.startMs <= toMs)

  def write(path: String, t0Ns: Long): Unit = if (enabled) {
    val rows = spans.map { s =>
      val a = Option(accs.get(s.id))
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_us" -> (s.startNs - t0Ns) / 1000,
        "end_us" -> (s.endNs - t0Ns) / 1000, "err" -> s.err,
        "jobs" -> a.map(_.jobs).getOrElse(0L),
        "tasks" -> a.map(_.tasks).getOrElse(0L),
        "task_run_ms" -> a.map(_.runMs).getOrElse(0L))
    }
    Json.write(path, rows.toSeq)
  }
}
