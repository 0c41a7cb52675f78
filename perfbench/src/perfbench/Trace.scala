package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span: a call into one layer, made from the benchmark's own code.
  * Spans of one operation share `op`; `parent` is the enclosing span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, startMs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and counters of the traced run, kept in memory until the end.
  *
  * Disabled (the untraced run) it is a pass-through: no span is
  * recorded and no listener is registered. Enabled, it also registers a
  * [[SparkListener]] and a [[QueryExecutionListener]]; each Spark job is
  * attributed to the span that was open on the submitting thread (a
  * local property), each query's planning phases to the span that was
  * open when the phase started. The harness drives one operation at a
  * time, so the open spans always form a single stack, even when a
  * streaming callback runs on the stream's own thread. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[Span]
  private var nextOp = 0
  private val lock = new Object

  def currentOp: Int = lock.synchronized(stack.lastOption.map(_.op).getOrElse(-1))

  /** A top-level operation span (a new op id). */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body else { nextOp += 1; open(name, nextOp)(body) }

  /** A span inside the current operation. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body else open(name, currentOp)(body)

  private def open[T](name: String, op: Int)(body: => T): T = {
    val s = lock.synchronized {
      val sp = Span(spans.size, name, stack.lastOption.map(_.id).getOrElse(-1),
        op, System.nanoTime(), System.currentTimeMillis())
      spans += sp; stack += sp; sp
    }
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try body finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Trace.SpanKey, prev)
      lock.synchronized { stack -= s; () }
    }
  }

  // ------------------------------------------------------ engine events
  final class JobRec(val id: Int, val span: Int, val pin: String,
                     val startMs: Long, val stages: Seq[Int]) {
    var endMs: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var inRecords = 0L
    var shuffleReadRecords = 0L; var shuffleWriteBytes = 0L; var spill = 0L
  }
  final case class QueryRec(planMs: Seq[(Long, Long)], files: Long)

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  val queries = mutable.ArrayBuffer.empty[QueryRec]

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.SpanKey))).map(_.toInt).getOrElse(-1)
      // the call site of a job is the user stack that submitted it
      val site = e.stageInfos.map(_.details).mkString("\n")
      val pin =
        if (!site.contains("graft.core.Checkpoints")) ""
        else if (site.contains("graft.operators.Dedup")) "dedup"
        else if (site.contains("graft.operators.Lineage")) "lineage"
        else "other"
      jobs.synchronized {
        jobs += new JobRec(e.jobId, span, pin, e.time, e.stageIds); ()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.find(_.id == e.jobId).foreach(_.endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageAgg.synchronized {
        val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.inRecords += m.inputMetrics.recordsRead
        a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(p => (p.startTimeMs, p.durationMs)).toSeq
      val files = PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      queries.synchronized { queries += QueryRec(phases, files); () }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    enabled = true
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  def stop(): Unit = {
    enabled = false
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  // ---------------------------------------------------------- analysis
  def spanOf(id: Int): Option[Span] = if (id >= 0 && id < spans.size) Some(spans(id)) else None

  /** Innermost span covering epoch-millisecond `ms`. */
  def spanAt(ms: Long): Option[Span] = spans.filter { s =>
    s.startMs <= ms && ms <= s.startMs + math.ceil(s.seconds * 1000).toLong
  }.sortBy(-_.startNs).headOption

  /** Self time of every span named `name`: its duration minus the part
    * its child spans cover. */
  def selfSeconds(name: String): Seq[Double] = {
    val children = spans.groupBy(_.parent)
    spans.filter(_.name == name).map { s =>
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    }.toSeq
  }

  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.seconds).toSeq

  /** Jobs submitted inside the given operations. */
  def jobsOfOps(ops: Set[Int]): Seq[JobRec] =
    jobs.toSeq.filter(j => spanOf(j.span).exists(s => ops(s.op)))

  /** Task totals of the stages of `js`; a stage shared by several jobs
    * counts once. */
  def totals(js: Seq[JobRec]): StageAgg = {
    val t = new StageAgg
    js.flatMap(_.stages).distinct.flatMap(stageAgg.get).foreach { a =>
      t.tasks += a.tasks; t.cpuNs += a.cpuNs; t.inRecords += a.inRecords
      t.shuffleReadRecords += a.shuffleReadRecords
      t.shuffleWriteBytes += a.shuffleWriteBytes; t.spill += a.spill
    }
    t
  }

  /** Analysis + optimization + planning seconds of the queries planned
    * inside the given operations. */
  def planSecondsOfOps(ops: Set[Int]): Double =
    queries.toSeq.flatMap(_.planMs).filter { case (st, _) =>
      spanAt(st).exists(s => ops(s.op))
    }.map(_._2).sum / 1000.0

  /** Files scanned by the queries executed inside the given operations. */
  def filesOfOps(ops: Set[Int]): Long =
    queries.toSeq.filter(q => q.planMs.nonEmpty &&
      spanAt(q.planMs.map(_._1).max).exists(s => ops(s.op))).map(_.files).sum
}

object Trace {
  val SpanKey = "perfbench.span"
}
