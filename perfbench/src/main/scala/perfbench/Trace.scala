package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch as `StreamingQueryProgress` reports it: trigger start
  * (epoch ms) and the trigger's phase durations (ms).
  */
final case class BatchRecord(
    queryId: String,
    batchId: Long,
    startMs: Long,
    durations: Map[String, Long],
    rows: Long,
    cadence: Boolean = false) {
  def wallMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + wallMs

  /** The addBatch interval, placed from the phase durations: every phase
    * before it runs first in a trigger, `commitOffsets` after it.
    */
  def addBatchSpan: (Long, Long) = {
    val end = endMs - durations.getOrElse("commitOffsets", 0L)
    (end - durations.getOrElse("addBatch", 0L), end)
  }

  def toMap: Map[String, Any] = Map(
    "query" -> queryId, "batch" -> batchId, "start_ms" -> startMs,
    "wall_ms" -> wallMs, "rows" -> rows, "durations" -> durations, "cadence" -> cadence)
}

/** The only listener the end-to-end runs keep: collects every data batch's
  * progress and counts terminated queries, so a pass can wait until the
  * listener bus has delivered all of its events.
  */
final class ProgressCollector extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[BatchRecord]()
  private val terminated = new AtomicLong(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    if (d.contains("addBatch"))
      batches.add(BatchRecord(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    terminated.incrementAndGet()
    ()
  }

  def terminatedCount: Long = terminated.get()

  /** Wait until `count` queries have terminated (their events precede the
    * termination event on the bus), then hand over and forget the batches.
    */
  def drain(count: Long): Seq[BatchRecord] = {
    val until = System.nanoTime() + 60L * 1000000000L
    while (terminated.get() < count && System.nanoTime() < until) Thread.sleep(5)
    require(terminated.get() >= count, "stream termination event never arrived")
    val out = mutable.ArrayBuffer.empty[BatchRecord]
    var b = batches.poll()
    while (b != null) { out += b; b = batches.poll() }
    out.sortBy(r => (r.startMs, r.batchId)).toSeq
  }
}

/** A finished Spark job with the totals of the stages it ran. The local
  * properties name the streaming query and batch that submitted it.
  */
final case class JobRecord(
    jobId: Int,
    startMs: Long,
    endMs: Long,
    queryId: Option[String],
    batchId: Option[Long],
    stages: Int,
    tasks: Int,
    cpuNs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long)

/** Traced runs only: records every job with its stages' task, CPU,
  * shuffle-write and spill totals.
  */
final class ExecCollector extends SparkListener {
  import ExecCollector._

  private val open = mutable.Map.empty[Int, Open]
  private val stages = mutable.Map.empty[Int, StageTotals]
  private val done = mutable.ArrayBuffer.empty[JobRecord]
  @volatile private var lastEventNs = System.nanoTime()

  override def onOtherEvent(e: SparkListenerEvent): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    open(e.jobId) = Open(e.time, e.properties, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val t = if (m == null) StageTotals(i.numTasks, 0L, 0L, 0L)
    else StageTotals(i.numTasks, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled)
    stages(i.stageId) = t
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    open.remove(e.jobId).foreach { o =>
      // skipped stages (shuffle output reused) never complete: not counted
      val ran = o.stageIds.flatMap(stages.remove)
      def prop(k: String) = Option(o.props).flatMap(p => Option(p.getProperty(k)))
      done += JobRecord(
        e.jobId, o.startMs, e.time,
        prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId").map(_.toLong),
        ran.size, ran.map(_.tasks).sum, ran.map(_.cpuNs).sum,
        ran.map(_.shuffle).sum, ran.map(_.spill).sum)
    }
  }

  /** Waits until no job is open and the bus has been quiet for 200 ms (the
    * listener bus delivers asynchronously), then hands over the jobs.
    */
  def drain(): Seq[JobRecord] = {
    val until = System.nanoTime() + 10L * 1000000000L
    def busy = synchronized(open.nonEmpty) || System.nanoTime() - lastEventNs < 200000000L
    while (busy && System.nanoTime() < until) Thread.sleep(20)
    take()
  }

  private def take(): Seq[JobRecord] = synchronized {
    val out = done.toList.sortBy(_.startMs)
    done.clear()
    out
  }
}

object ExecCollector {
  private final case class Open(startMs: Long, props: java.util.Properties, stageIds: Seq[Int])
  private final case class StageTotals(tasks: Int, cpuNs: Long, shuffle: Long, spill: Long)
}

/** Traced runs only: reads the similarity join's candidate and verified
  * pair counts from the SQL metrics of each executed plan. The verify step
  * is the filter or join whose condition calls `intersect_size` (the
  * optimizer folds the Jaccard filter into the join that brings in the
  * stored tokens); its output rows are verified pairs, and the rows its
  * probe-side input produced are the candidates that reached verification.
  */
final class PlanCounter extends QueryExecutionListener {
  val candidates = new AtomicLong(0L)
  val verified = new AtomicLong(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    nodes(qe.executedPlan).foreach { p =>
      verifyInput(p).foreach { in =>
        metric(p).foreach(verified.addAndGet)
        firstCounted(in).foreach(candidates.addAndGet)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def callsIntersect(e: Expression): Boolean =
    e.exists(_.isInstanceOf[graft.functions.ArrayIntersectSize])

  /** The input whose rows a verify step checks, if `p` is one. */
  private def verifyInput(p: SparkPlan): Option[SparkPlan] = p match {
    case f: FilterExec if callsIntersect(f.condition) => Some(f.child)
    case h: HashJoin if h.condition.exists(callsIntersect) =>
      Some(if (h.buildSide == BuildLeft) h.right else h.left)
    case j: BaseJoinExec if j.condition.exists(callsIntersect) => Some(j.left)
    case _ => None
  }

  private def metric(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  private def firstCounted(p: SparkPlan): Option[Long] =
    metric(p).orElse(p.children.headOption.flatMap(firstCounted))

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    p +: (inner ++ p.children).flatMap(nodes)
  }
}

/** A closed interval of work on one layer. `parent` is the span that caused
  * it; spans of one micro-batch share `trace`.
  */
final case class Span(
    id: Int,
    parent: Option[Int],
    trace: String,
    name: String,
    layer: String,
    startMs: Long,
    endMs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "trace" -> trace, "name" -> name,
    "layer" -> layer, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** Spans are kept in memory and written once, when the run ends. */
final class SpanLog {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def add(parent: Option[Int], trace: String, name: String, layer: String,
      startMs: Long, endMs: Long, attrs: Map[String, Any] = Map.empty): Int = synchronized {
    next += 1
    spans += Span(next, parent, trace, name, layer, startMs, endMs, attrs)
    next
  }

  /** Time `f` as a span; returns its result and duration (ms). */
  def timed[T](parent: Option[Int], trace: String, name: String, layer: String)(f: => T): (T, Long) = {
    val s = System.currentTimeMillis()
    val r = f
    val e = System.currentTimeMillis()
    add(parent, trace, name, layer, s, e)
    (r, e - s)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path, all.map(s => SpanLog.json.writeValueAsString(s.toMap)).asJava)
    ()
  }
}

object SpanLog {
  /** The encoder of spans and of the raw run record: Scala maps, sequences
    * and options (None as null).
    */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
