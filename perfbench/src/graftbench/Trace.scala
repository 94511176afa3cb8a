package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchAccess
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval: workload, pass, op, or an op's construct/action
  * phase. Times are epoch microseconds so they line up with the listener
  * bus's epoch-millisecond job and stage times.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Any])

/** In-memory span store; spans are written out once, when the run ends. */
final class Recorder {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val ids = new AtomicLong(1L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def newId(): Long = ids.getAndIncrement()

  /** Times `body` as a span; `body` gets the span id and a map it may add
    * attributes to. The span is recorded even when `body` throws.
    */
  def span[T](kind: String, name: String, parent: Long, id: Long = newId())(
      body: (Long, mutable.Map[String, Any]) => T): T = {
    val attrs = mutable.Map.empty[String, Any]
    val t0 = nowUs
    try body(id, attrs)
    finally spans.add(Span(id, parent, kind, name, t0, nowUs, attrs.toMap))
  }
}

/** Per-stage task totals, filled on the listener bus thread. */
final class StageAgg(val stageId: Int, val attempt: Int, val jobId: Int) {
  var submitMs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(jobId: Int, group: String, startMs: Long) {
  @volatile var endMs: Long = 0L
}

final case class PlanRec(execId: Long, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long, nodes: Int, scanFiles: Long,
                         scanBytes: Long, scanRows: Long, scanTimeMs: Long)

/** Job, stage and task counters keyed by job group, and the Catalyst phase
  * times, plan size and scan metrics of every finished SQL execution.
  * Stages that belong to no job this listener saw start are skipped, never
  * credited elsewhere.
  */
final class LayerListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  val execGroup = new ConcurrentHashMap[Long, String]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  private def stage(id: Int, attempt: Int): Option[StageAgg] =
    Option(stageJob.get(id)).map(j =>
      stages.computeIfAbsent((id, attempt), _ => new StageAgg(id, attempt, j)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).foreach(s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stage(e.stageId, e.stageAttemptId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      val launchWait =
        if (s.submitMs > 0) math.max(0L, e.taskInfo.launchTime - s.submitMs) else 0L
      s.waitMs += launchWait + m.executorDeserializeTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleRecords += m.shuffleReadMetrics.recordsRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskRunMs += m.executorRunTime
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case end: SparkListenerSQLExecutionEnd =>
      BenchAccess.queryExecution(end).foreach { qe =>
        val phases = qe.tracker.phases
        def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
        val all = nodes(qe.executedPlan)
        val scans = all.collect { case s: FileSourceScanExec => s }
        def metric(k: String) = scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
        plans.add(PlanRec(end.executionId, ms("analysis"), ms("optimization"),
          ms("planning"), all.size, metric("numFiles"), metric("filesSize"),
          metric("numOutputRows"), metric("scanTime")))
      }
    case _ =>
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

final case class ProgressRec(runId: String, batchId: Long,
                             durationMs: Map[String, Long], rows: Long)

/** Per-trigger phase durations of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(ProgressRec(p.runId.toString, p.batchId,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
}

/** Minimal JSON emission: numbers, strings, booleans, maps and sequences. */
object Json {
  import graft.JsonDump.{q => str}

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}
