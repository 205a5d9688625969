package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of the closed loop: wall-clock window (epoch ms
  * for attributing listener events, nanos for latency) and whether its
  * output check passed.
  */
final case class Op(id: Int, kind: String, startMs: Long, endMs: Long,
                    nanos: Long, ok: Boolean)

/** A span around one call into a graft layer, recorded from outside the
  * program. `parent` is the id of the enclosing span (-1 at the top).
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

/** Spans of the traced run, kept in memory and written out at the end. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val open = mutable.Map.empty[Int, (String, Long, Int, Int)]
  private var next = 0
  var enabled = false
  var currentOp = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      open(id) = (name, System.nanoTime(), parent, currentOp)
      stack.push(id)
      try body
      finally {
        stack.pop()
        val (n, s, p, o) = open.remove(id).get
        all += Span(id, n, s, System.nanoTime(), p, o)
      }
    }
}

/** Observes Spark from outside the program: a SparkListener for jobs,
  * stages and task metrics, a QueryExecutionListener for the Catalyst
  * phase times and a StreamingQueryListener for micro-batch progress. Events are buffered with their wall-clock times and
  * attributed to operations by time window once the run is over, so the
  * listeners do no work on the hot path beyond an append.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stagesDone = new ConcurrentLinkedQueue[Integer]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // a trigger that found no new data reports no batch
      if (p.numInputRows > 0 || p.durationMs.containsKey("addBatch"))
        progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private def phaseMs(qe: QueryExecution, name: String): Long =
    qe.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)

  /** The Catalyst phase times of one executed query, attributed by the
    * time its last tracked phase ended.
    */
  private def record(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases
    val end = if (ps.isEmpty) System.currentTimeMillis() else ps.values.map(_.endTimeMs).max
    // writes run wrapped in an adaptive plan; the helper walks into it
    def files(p: SparkPlan): Long = p match {
      case c: CommandResultExec => files(c.commandPhysicalPlan)
      case _ => Plans.collect(p) { case q => q.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    }
    phases.add(Phases(end, phaseMs(qe, "analysis"), phaseMs(qe, "optimization"),
      phaseMs(qe, "planning"), files(qe.executedPlan)))
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

  /** Wait until the listener bus has delivered everything posted so far:
    * a marker job's end event arrives after every event queued before it.
    */
  def drain(): Unit = {
    val before = jobEnds.size
    spark.sparkContext.setJobDescription("perfbench: drain listener bus")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 10000
    while (jobEnds.size <= before && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Each micro-batch: its operation, its phase times and the Spark jobs
    * that started within it.
    */
  def batches(ops: Seq[Op]): Seq[Map[String, Any]] = {
    val starts = jobs.asScala.toSeq.map(_.startMs)
    progress.asScala.toSeq.sortBy(_.startMs).flatMap { p =>
      ops.find(o => p.startMs >= o.startMs && p.startMs <= o.endMs).map { o =>
        Map("op" -> o.id, "ms" -> p.ms,
          "jobs" -> starts.count(t => t >= p.startMs && t <= p.startMs + p.ms)) ++
          Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning")
            .map(k => k -> p.phases.getOrElse(k, 0L))
      }
    }
  }

  /** Per-operation totals of the buffered events, keyed by op id. */
  def perOp(ops: Seq[Op]): Map[Int, Map[String, Double]] = {
    def opOf(ms: Long): Option[Op] = ops.find(o => ms >= o.startMs && ms <= o.endMs)
    val jobList = jobs.asScala.toSeq
    val stageOp = mutable.Map.empty[Int, Int]
    val acc = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def add(op: Int, k: String, v: Double): Unit = {
      val m = acc.getOrElseUpdate(op, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      m(k) += v
    }
    val intervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    jobList.foreach { j =>
      opOf(j.startMs).foreach { o =>
        add(o.id, "jobs", 1)
        j.stages.foreach(s => stageOp(s) = o.id)
        val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(o.endMs)
        intervals.getOrElseUpdate(o.id, mutable.ArrayBuffer.empty) += ((j.startMs, math.min(end, o.endMs)))
      }
    }
    stagesDone.asScala.foreach(s => stageOp.get(s).foreach(o => add(o, "stages", 1)))
    tasks.asScala.foreach { t =>
      stageOp.get(t.stage).foreach { o =>
        add(o, "tasks", 1); add(o, "task_ms", t.runMs.toDouble)
        add(o, "shuffle_write_bytes", t.shufWrite.toDouble)
        add(o, "shuffle_records", t.shufRecords.toDouble)
        add(o, "shuffle_read_bytes", t.shufRead.toDouble)
        add(o, "spill_bytes", t.spill.toDouble)
        add(o, "scan_bytes", t.inBytes.toDouble); add(o, "scan_rows", t.inRecords.toDouble)
        add(o, "output_bytes", t.outBytes.toDouble)
      }
    }
    phases.asScala.foreach { p =>
      opOf(p.endMs).foreach { o =>
        add(o.id, "analysis_ms", p.analysis.toDouble)
        add(o.id, "optimization_ms", p.optimization.toDouble)
        add(o.id, "planning_ms", p.planning.toDouble)
        add(o.id, "output_files", p.files.toDouble)
      }
    }
    ops.foreach { o =>
      val busy = Trace.covered(intervals.getOrElse(o.id, mutable.ArrayBuffer.empty).toSeq)
      add(o.id, "no_job_ms", math.max(0L, (o.endMs - o.startMs) - busy).toDouble)
    }
    acc.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object Trace {
  private object Plans extends AdaptiveSparkPlanHelper

  final case class Job(id: Int, startMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, shufWrite: Long, shufRecords: Long,
                        shufRead: Long, spill: Long, inBytes: Long, inRecords: Long,
                        outBytes: Long)
  final case class Phases(endMs: Long, analysis: Long, optimization: Long,
                          planning: Long, files: Long)
  final case class Progress(startMs: Long, ms: Long, phases: Map[String, Long])

  /** Total length of the union of closed intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
