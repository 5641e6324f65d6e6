package graftbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution. Listener
  * events carry epoch-millisecond stamps, so ops, spans and jobs share
  * one time line. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Local properties that tag every job with the op and pass it ran in.
  * Jobs of a streaming query inherit them from the thread that started
  * the query. */
object Tags {
  val Op = "graftbench.op"
  val Pass = "graftbench.pass"
  val Phase = "graftbench.phase"
  def set(sc: SparkContext, key: String, value: String): Unit =
    sc.setLocalProperty(key, value)
}

/** One timed unit of work: a query, a day cycle or a micro-batch. */
final case class Op(id: String, kind: String, pass: Int, t0: Double, t1: Double,
                    error: Option[String], result: Map[String, Any])

final class Ops(sc: SparkContext) {
  val all = mutable.ArrayBuffer.empty[Op]

  /** Runs `body` as op `id`; an exception fails the op and is recorded,
    * not rethrown, so one failed op does not hide the others. */
  def time(id: String, kind: String, pass: Int)(body: => Map[String, Any]): Op = {
    Tags.set(sc, Tags.Op, id)
    val t0 = Clock.nowMs
    val op = try {
      val r = body
      Op(id, kind, pass, t0, Clock.nowMs, None, r)
    } catch {
      case e: Throwable =>
        Op(id, kind, pass, t0, Clock.nowMs,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)), Map.empty)
    } finally Tags.set(sc, Tags.Op, null)
    all += op
    op
  }
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
                      op: String, t0: Double, t1: Double)

/** Spans around public calls into the engine. Kept in memory and
  * written out at exit; disabled spans cost one branch. */
final class Spans(enabled: Boolean) {
  val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var currentOp: String = ""

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = Clock.nowMs
      try body
      finally {
        stack.pop()
        all += Span(id, parent, name, layer, currentOp, t0, Clock.nowMs)
      }
    }
}

/** Scheduler, task, SQL-execution and streaming-progress records. Every
  * counter is kept per job or stage and filtered at report time, so the
  * listener does no work beyond appending. */
final class Recorder(sc: SparkContext) extends SparkListener {
  final class JobRec(val id: Int, val t0: Double, val props: Map[String, String],
                     val short: String, val long: String, val stages: Seq[Int],
                     val persisted: Int) {
    var t1: Double = t0
    var ok: Boolean = false
  }
  final class StageRec(val id: Int) {
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var swBytes = 0L
    var swRows = 0L
    var srBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var inRows = 0L
    var outRows = 0L
    var outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
    // the result stage carries the job's call site
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, props,
      result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""),
      e.stageIds, sc.getPersistentRDDs.size)
  }

  /** Call sites of SQL executions. Jobs an execution submits from Spark's
    * own threads (adaptive query stages, broadcasts, writes) carry only
    * that thread's stack; the execution's site names the engine call. */
  val sqlSites = mutable.Map.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(s.executionId) = (s.description, s.details) }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.t1 = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    s.tasks += 1
    s.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.swRows += m.shuffleWriteMetrics.recordsWritten
      s.srBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inRows += m.inputMetrics.recordsRead
      s.outRows += m.outputMetrics.recordsWritten
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  // ---- SQL executions: catalyst phases, write-command metrics, observed
  // metrics. Callbacks do not see the submitting thread's tags, so they
  // are stamped with `currentPass`, which the harness changes only after
  // draining the bus.
  final class ExecRec(val pass: String, val phasesMs: Map[String, Double],
                      val files: Long, val rows: Long, val bytes: Long,
                      val observed: Set[String])
  val execs = mutable.ArrayBuffer.empty[ExecRec]
  @volatile var currentPass: String = ""

  def phasesOf(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // an eagerly run write command sits under CommandResultExec, which
      // holds it as a field; adaptive plans hold theirs in the final plan
      val plan = qe.executedPlan match {
        case c: CommandResultExec => c.commandPhysicalPlan
        case p => p
      }
      val writes = AdaptivePlans.collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }
      def sum(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
      val rec = new ExecRec(currentPass, phasesOf(qe), sum("numFiles"),
        sum("numOutputRows"), sum("numOutputBytes"), qe.observedMetrics.keySet)
      Recorder.this.synchronized { execs += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- streaming progress (always recorded: it times the micro-batches)
  final class Progress(val pass: String, val t0: Double, val durations: Map[String, Double],
                       val rows: Long)
  val progress = mutable.ArrayBuffer.empty[Progress]
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      Recorder.this.synchronized { progress += new Progress(currentPass, t0, d, p.numInputRows) }
    }
  }
}

object AdaptivePlans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** JSON output through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }

  def conv(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new JMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, conv(x)) }
      j
    case s: Iterable[_] =>
      val l = new JList[Any]()
      s.foreach(x => l.add(conv(x)))
      l
    case a: Array[_] => conv(a.toSeq)
    case o: Option[_] => o.map(conv).orNull
    case x => x
  }

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), conv(v))
}
