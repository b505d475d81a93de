package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Task-level figures for one tag (one query execution or one exec job). */
final case class TaskSums(
    jobs: Int = 0,
    stages: Int = 0,
    tasks: Int = 0,
    intervals: Vector[(Long, Long)] = Vector.empty,
    runMs: Long = 0L,
    cpuNs: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    shuffleReadBytes: Long = 0L,
    fetchWaitMs: Long = 0L,
    spillBytes: Long = 0L)

/** Collects Spark's public listener events, attributed to the tag that
  * was set as the local property [[Tracer.TagKey]] when each job started.
  * Attach it only around traced work: [[Tracer.drain]] waits until every
  * event posted before it has been delivered.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._
  private val stageTag = mutable.Map[Int, String]()
  private val sums = mutable.Map[String, TaskSums]().withDefaultValue(TaskSums())
  private val markersSeen = mutable.Set[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    e.stageIds.foreach(stageTag(_) = tag)
    if (tag.startsWith(MarkerPrefix)) markersSeen += tag
    else sums(tag) = sums(tag).copy(jobs = sums(tag).jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageInfo.stageId, "")
    if (!tag.startsWith(MarkerPrefix)) sums(tag) = sums(tag).copy(stages = sums(tag).stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageId, "")
    if (!tag.startsWith(MarkerPrefix) && e.taskInfo != null) {
      val s = sums(tag)
      val m = Option(e.taskMetrics)
      sums(tag) = s.copy(
        tasks = s.tasks + 1,
        intervals = s.intervals :+ ((e.taskInfo.launchTime, e.taskInfo.finishTime)),
        runMs = s.runMs + m.map(_.executorRunTime).getOrElse(0L),
        cpuNs = s.cpuNs + m.map(_.executorCpuTime).getOrElse(0L),
        shuffleWriteBytes = s.shuffleWriteBytes + m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        shuffleReadBytes = s.shuffleReadBytes + m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        fetchWaitMs = s.fetchWaitMs + m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L),
        spillBytes = s.spillBytes + m.map(_.diskBytesSpilled).getOrElse(0L))
    }
  }

  def get(tag: String): TaskSums = synchronized(sums(tag))

  /** Run a one-task marker job and wait until its start event arrives:
    * the bus delivers in posting order, so every earlier event is in.
    */
  def drain(): Unit = {
    val marker = MarkerPrefix + System.nanoTime()
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(TagKey, prev)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (synchronized(!markersSeen.contains(marker))) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(5)
    }
  }
}

object Tracer {
  val TagKey = "perfbench.tag"
  private val MarkerPrefix = "perfbench.marker."

  /** Run `body` with the local property that tags its Spark jobs. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Attach a fresh tracer for `body`, drain it, detach it. */
  def around[T](sc: SparkContext)(body: => T): (T, Tracer) = {
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    try { val r = body; t.drain(); (r, t) }
    finally sc.removeSparkListener(t)
  }
}

/** Scan-node SQLMetrics of an executed query. */
final case class ScanSums(rows: Long, bytes: Long, scanMs: Long)

object PlanMetrics extends AdaptiveSparkPlanHelper {

  /** Sum the scan nodes' rows, file bytes and scan time over the final
    * physical plan, subqueries and adaptive stages included.
    */
  def scans(df: DataFrame): ScanSums = {
    val nodes: Seq[SparkPlan] = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: DataSourceScanExec => s
      case s: BatchScanExec => s
    }
    def sum(key: String): Long = nodes.flatMap(_.metrics.get(key)).map(_.value).sum
    ScanSums(sum("numOutputRows"), sum("filesSize"), sum("scanTime"))
  }

  /** Analysis, optimization and planning milliseconds from the query's
    * planning tracker.
    */
  def phasesMs(df: DataFrame): (Long, Long, Long) = {
    val p = df.queryExecution.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    (ms("analysis"), ms("optimization"), ms("planning"))
  }
}
