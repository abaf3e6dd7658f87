package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation counters from Spark's public listener APIs.
  *
  * Each operation runs with the job tag `pb-op-<id>` and, around each
  * layer call, a phase tag `pb-ph-<phase>`. Jobs, stages, tasks and SQL
  * executions inherit the submitting thread's tags, which is how work
  * that the listener bus reports asynchronously finds its operation,
  * also when several operations run at once.
  */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Probe._

  private val stageOwner = TrieMap.empty[Int, Owner]
  private val stageSubmitMs = TrieMap.empty[Int, Long]
  private val execOwner = TrieMap.empty[Long, Owner]
  val jobs = new ConcurrentLinkedQueue[(Owner, Int, Long)]
  val jobEndMs = TrieMap.empty[Int, Long]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val plans = new ConcurrentLinkedQueue[PlanRec]
  @volatile private var pending: Option[PlanRec] = None
  private val aggUpdates = new ConcurrentLinkedQueue[(Long, Long)]

  private def ownerOf(tags: Iterable[String]): Option[Owner] = {
    val op = tags.collectFirst { case t if t.startsWith(OpTag) => t.drop(OpTag.length).toLong }
    val ph = tags.collectFirst { case t if t.startsWith(PhaseTag) => t.drop(PhaseTag.length) }
    op.map(Owner(_, ph.getOrElse("")))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    ownerOf(tags).foreach { o =>
      jobs.add((o, e.jobId, e.time))
      e.stageInfos.foreach(s => stageOwner.put(s.stageId, o))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEndMs.put(e.jobId, e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOwner.get(e.stageId).foreach { o =>
      val m = e.taskMetrics
      val i = e.taskInfo
      i.accumulables.foreach { a =>
        if (a.name.exists(AggMetricNames)) a.update.foreach {
          case v: Long => aggUpdates.add((a.id, v))
          case _ => ()
        }
      }
      if (m != null) tasks.add(TaskRec(o, e.stageId,
        i.launchTime - stageSubmitMs.getOrElse(e.stageId, i.launchTime),
        m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      ownerOf(s.jobTags).foreach(execOwner.put(s.executionId, _))
    // the session's QueryExecutionListener bus shares this queue and was
    // registered first, so onSuccess/onFailure for an execution ran just
    // before its end event reaches this listener
    case e: SparkListenerSQLExecutionEnd =>
      pending.foreach(p => plans.add(p.copy(execId = e.executionId)))
      pending = None
    case _ => ()
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val aggs = collectWithSubqueries(qe.executedPlan) { case h: HashAggregateExec => h }
    pending = Some(PlanRec(-1L, phases,
      aggs.flatMap(_.metrics.get("avgHashProbe").map(_.id)).toSet,
      aggs.flatMap(_.metrics.get("peakMemory").map(_.id)).toSet))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Owner of a recorded SQL execution, once its start event arrived. */
  def planOwner(p: PlanRec): Option[Owner] = execOwner.get(p.execId)

  /** Task-level updates of the aggregate metrics with these accumulator ids. */
  def aggValues(ids: Set[Long]): Seq[Long] =
    aggUpdates.asScala.collect { case (id, v) if ids(id) => v }.toSeq
}

object Probe {
  val OpTag = "pb-op-"
  val PhaseTag = "pb-ph-"
  private val AggMetricNames = Set("avg hash probes per key", "peak memory")

  final case class Owner(op: Long, phase: String)
  final case class TaskRec(owner: Owner, stage: Int, waitMs: Long, runMs: Long,
      cpuMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, input: Long, output: Long)
  final case class PlanRec(execId: Long, phases: Map[String, (Long, Long)],
      probeIds: Set[Long], peakIds: Set[Long])

  def attach(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  def detach(spark: SparkSession, p: Probe): Unit = {
    spark.listenerManager.unregister(p)
    spark.sparkContext.removeSparkListener(p)
  }

  /** Runs `f` with the operation's tag (and a phase tag) on this thread. */
  def tagged[T](spark: SparkSession, op: Long, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    val tags = Set(OpTag + op, PhaseTag + phase)
    sc.addJobTags(tags)
    try f finally sc.removeJobTags(tags)
  }
}
