package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer, on the epoch-millisecond clock the
  * Spark listener bus stamps its events with. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startMs: Double, var endMs: Double = Double.NaN)

/** Span recorder plus the listeners that attribute Spark work to spans.
  *
  * Spans are opened only by the benchmark's own thread, around its calls
  * into graft. A Spark job belongs to the innermost span that was open
  * when the job was SUBMITTED, whatever thread submitted it: graft runs
  * actions on futures, and the listener's call sites name
  * CompletableFuture frames rather than the layer. Tasks follow their
  * job through the stage ids the job-start event lists.
  *
  * Counters with no submission time of their own (join output rows from
  * the query-execution listener, micro-batch progress from the streaming
  * listener) go to the span open when the event is delivered; every span
  * drains the listener bus before it closes, so a span's events are
  * delivered while it is still open.
  *
  * Everything stays in memory and is summarised once, after the run.
  */
object Trace {
  @volatile private var enabled = false
  @volatile private var stack: List[Span] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[(Int, String), DoubleAdder]()

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Job(id: Int, submitMs: Double, var endMs: Double, stages: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // per stage: executor cpu ns, shuffle write bytes, shuffle read bytes
  private val stageCpu = new ConcurrentHashMap[Int, DoubleAdder]()
  private val stageShuffle = new ConcurrentHashMap[Int, DoubleAdder]()

  def on: Boolean = enabled
  def setEnabled(v: Boolean): Unit = enabled = v

  /** Run `body` as span `name` of iteration `iter` (no-op when off). */
  def span[T](name: String, iter: Int, drain: () => Unit)(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), iter, nowMs)
        spans += s
        s
      }
      stack = s :: stack
      try body
      finally {
        s.endMs = nowMs
        drain()
        stack = stack.tail
      }
    }

  /** Add to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { s =>
      counters.computeIfAbsent((s.id, key), _ => new DoubleAdder).add(v)
    }

  // ---- listeners -----------------------------------------------------

  final class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val ids = e.stageIds
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN, ids))
      ids.foreach(stageJob.put(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).filter(_ => stageJob.containsKey(e.stageId)).foreach { m =>
        stageCpu.computeIfAbsent(e.stageId, _ => new DoubleAdder)
          .add(m.executorCpuTime.toDouble)
        stageShuffle.computeIfAbsent(e.stageId, _ => new DoubleAdder)
          .add((m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead).toDouble)
      }
  }

  /** Sum of join output rows in an executed plan (AQE stages included). */
  def joinRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => joinRows(a.executedPlan)
    case q: QueryStageExec => joinRows(q.plan)
    case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) +
        j.children.map(joinRows).sum
    case other => other.children.map(joinRows).sum
  }

  // ---- summary ---------------------------------------------------------

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Per span: wall, jobs, executor cpu, shuffle MB and idle time (wall
    * minus the union of its jobs' run intervals), inclusive of child
    * spans, plus the span's own counters. */
  def summarise(): Map[Int, Map[String, Double]] = {
    val ss = allSpans.filterNot(_.endMs.isNaN)
    val byId = ss.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)
    val owner = mutable.Map.empty[Int, mutable.ArrayBuffer[Job]]
    jobs.values().asScala.foreach { j =>
      val open = ss.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
      if (open.nonEmpty) {
        val s = open.maxBy(depth)
        owner.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j
      }
    }
    val children = ss.groupBy(_.parent)
    def inclusive(s: Span): Seq[Job] =
      owner.getOrElse(s.id, Nil).toSeq ++ children.getOrElse(s.id, Nil).flatMap(inclusive)
    def stageSum(m: ConcurrentHashMap[Int, DoubleAdder], js: Seq[Job]) =
      js.flatMap(_.stages).map(st => Option(m.get(st)).map(_.sum).getOrElse(0.0)).sum
    ss.map { s =>
      val js = inclusive(s)
      val intervals = js.map(j => (math.max(j.submitMs, s.startMs),
        math.min(if (j.endMs.isNaN) s.endMs else j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy, curA, curB = 0.0
      var open = false
      intervals.foreach { case (a, b) =>
        if (!open || a > curB) { if (open) busy += curB - curA; curA = a; curB = b; open = true }
        else curB = math.max(curB, b)
      }
      if (open) busy += curB - curA
      val wall = (s.endMs - s.startMs) / 1e3
      val own = counters.asScala.collect { case ((id, k), v) if id == s.id => k -> v.sum }
      s.id -> (Map(
        "wall_s" -> wall,
        "jobs" -> js.size.toDouble,
        "cpu_s" -> stageSum(stageCpu, js) / 1e9,
        "shuffle_mb" -> stageSum(stageShuffle, js) / 1e6,
        "idle_s" -> math.max(0.0, wall - busy / 1e3)) ++ own)
    }.toMap
  }
}

/** Query-execution listener, installed through
  * `spark.sql.queryExecutionListeners` so the per-stream session clones
  * graft makes carry it too: join output rows per span. */
final class JoinRowsListener extends QueryExecutionListener {
  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
    if (Trace.on) Trace.count("join_rows", Trace.joinRows(qe.executedPlan).toDouble)
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
}

/** Streaming listener, installed through
  * `spark.sql.streaming.streamingQueryListeners` for the same reason:
  * micro-batches and their WAL/offset commit time per span. */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.on) {
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      Trace.count("batches", 1)
      Trace.count("commit_ms", ms("walCommit") + ms("commitOffsets"))
    }
}
