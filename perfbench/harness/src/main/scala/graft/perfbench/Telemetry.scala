package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced span: a named interval on the driver clock (epoch ms) with
  * its parent span and the operation it belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double)

/** Span recorder for the traced run. Spans stay in memory and are written
  * once, when the run ends. Nested calls of [[apply]] form the parent
  * chain; [[add]] attaches a listener-derived span under a given parent.
  * While disabled, [[apply]] only runs its body.
  */
final class Spans {
  private val all = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  var enabled = false
  var op = 0

  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Driver clock in epoch milliseconds, with nanosecond resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def current: Int = open.headOption.getOrElse(0)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      open = id :: open
      val start = nowMs
      try body
      finally {
        open = open.tail
        all += Span(id, parent, op, name, start, nowMs)
      }
    }

  /** Record a span measured elsewhere (a job, stage or trigger); returns
    * its id so children can point at it.
    */
  def add(parent: Int, name: String, startMs: Double, endMs: Double): Int = {
    val id = nextId
    nextId += 1
    all += Span(id, parent, op, name, startMs, endMs)
    id
  }

  /** Spans of operation `opId` named `name`, in record order. */
  def of(opId: Int, name: String): Seq[Span] =
    all.iterator.filter(s => s.op == opId && s.name == name).toSeq

  def result: Seq[Span] = all.toSeq
}

/** The listener set the benchmark attaches to the session it measures:
  * a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phase times) and a
  * `StreamingQueryListener` (trigger progress). Events collect in
  * concurrent queues; [[drain]] flushes the listener bus and hands back
  * everything delivered since the previous drain.
  */
final class Telemetry(spark: SparkSession) {
  import Telemetry._

  private val jobStarts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()

  private def add(k: String, v: Double): Unit = { counters.merge(k, v, _ + _); () }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, (e.time, e.stageIds)); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, stageIds) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, Nil))
      jobs.add(JobRec(e.jobId, start, e.time, stageIds)); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks)); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      if (e.taskInfo.failed || e.taskInfo.killed) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime.toDouble
        add("exec.task_run_ms", run)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        // the scheduler-delay formula of Spark's own stage page
        val delay = e.taskInfo.duration - run - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime
        add("exec.scheduler_delay_ms", math.max(0L, delay).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }); ()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      triggers.add(TriggerRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L), d, p.numInputRows,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum)); ()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Everything delivered since the previous drain. A bus that does not
    * empty within Spark's timeout is reported, not fatal: the operation's
    * late events then land in the next window.
    */
  def drain(): Window = {
    val timedOut =
      try { SparkInternals.drainListenerBus(spark.sparkContext); false }
      catch { case NonFatal(_) => true }
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    val c = counters.keySet.asScala.toSeq
      .map(k => k -> counters.remove(k).doubleValue).toMap
    Window(take(jobs), take(stages), take(triggers), take(phases), c, timedOut)
  }
}

object Telemetry {
  final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, submitMs: Long, endMs: Long, tasks: Int)
  final case class TriggerRec(startMs: Long, durMs: Long, parts: Map[String, Long],
      inputRows: Long, stateCommitMs: Long, stateRows: Long, stateMemBytes: Long)
  final case class Window(jobs: Seq[JobRec], stages: Seq[StageRec],
      triggers: Seq[TriggerRec], phases: Seq[Map[String, Double]],
      counters: Map[String, Double], timedOut: Boolean)
}
