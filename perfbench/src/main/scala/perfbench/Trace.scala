package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's listener bus reported for one traced op. */
final class OpLayers {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var queryExecutions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var scanRows = 0L
}

/** Attributes listener events to ops by Spark job tag. Each traced op
  * runs with one `perfbench-op-*` tag on its thread, so jobs, stages and
  * SQL executions of two concurrent clients stay apart.
  *
  * A QueryExecution reaches [[QueryExecutionListener]] without its
  * execution id, so it is paired with the `SparkListenerSQLExecutionEnd`
  * that delivered it: both run on the shared listener queue, the
  * session's execution-listener bus first (it registered at session
  * creation, before this recorder). */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Recorder._

  private val ops = mutable.HashMap.empty[String, OpLayers]
  private val jobTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val execTag = mutable.HashMap.empty[Long, String]
  private val drained = mutable.HashSet.empty[String]
  private var pendingQe: QueryExecution = null
  private var nextTag = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def newTag(): String = synchronized { nextTag += 1; s"$OpPrefix$nextTag" }

  /** Run `body` with `tag` on this thread's Spark jobs. */
  def tagged[T](tag: String)(body: => T): T = {
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }

  /** Wait until every event posted before this call has been seen: a
    * tagged no-job query's execution-end arrives after them. */
  def drain(): Unit = {
    val tag = s"${DrainPrefix}${newTag()}"
    tagged(tag)(spark.sql("SELECT 1").collect())
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!synchronized(drained.contains(tag))) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener bus did not drain in 60 s")
      Thread.sleep(2)
    }
    synchronized { drained -= tag; () }
  }

  /** Remove and return what was recorded under `tag`. */
  def take(tag: String): OpLayers = synchronized {
    ops.remove(tag).getOrElse(new OpLayers)
  }

  private def op(tag: String): OpLayers = ops.getOrElseUpdate(tag, new OpLayers)

  private def tagIn(tags: Iterable[String]): Option[String] =
    tags.find(t => t.startsWith(OpPrefix) || t.startsWith(DrainPrefix))

  private def propTags(p: java.util.Properties): Seq[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagIn(propTags(e.properties)).filter(_.startsWith(OpPrefix)).foreach { t =>
      jobTag(e.jobId) = t
      jobStart(e.jobId) = e.time
      op(t).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { t =>
      op(t).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    tagIn(propTags(e.properties)).filter(_.startsWith(OpPrefix))
      .foreach(t => stageTag(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.remove(e.stageInfo.stageId).foreach { t =>
      val o = op(t)
      o.stages += 1
      o.tasks += e.stageInfo.numTasks
      Option(e.stageInfo.taskMetrics).foreach { m =>
        o.runMs += m.executorRunTime
        o.cpuNs += m.executorCpuTime
        o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        tagIn(s.jobTags).foreach(t => execTag(s.executionId) = t)
      case x: SparkListenerSQLExecutionEnd =>
        val qe = pendingQe
        pendingQe = null
        execTag.remove(x.executionId).foreach { t =>
          if (t.startsWith(DrainPrefix)) drained += t
          else if (qe != null) addExecution(op(t), qe)
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { pendingQe = qe }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized { pendingQe = qe }

  private def addExecution(o: OpLayers, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
    o.queryExecutions += 1
    o.analysisMs += ms("analysis")
    o.optimizationMs += ms("optimization")
    o.planningMs += ms("planning")
    o.scanRows += scanRows(qe.executedPlan)
  }
}

object Recorder {
  val OpPrefix = "perfbench-op-"
  val DrainPrefix = "perfbench-drain-"

  /** Rows produced by source scans (files and DSv2 connectors),
    * looking through adaptive-execution wrappers. */
  def scanRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case s @ (_: FileSourceScanExec | _: DataSourceV2ScanExecBase) =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case p => p.children.map(scanRows).sum + p.subqueries.map(scanRows).sum
  }

  /** Global counters read around a pass (and around each op of a
    * sequential workload): Hadoop FileSystem statistics, codegen
    * compilations and JVM garbage-collection time. */
  final case class Counters(bytesRead: Long, bytesWritten: Long,
      readOps: Long, writeOps: Long, compiles: Long, gcMs: Long) {
    def -(o: Counters): Counters = Counters(bytesRead - o.bytesRead,
      bytesWritten - o.bytesWritten, readOps - o.readOps,
      writeOps - o.writeOps, compiles - o.compiles, gcMs - o.gcMs)
    def toMap: Map[String, Any] = Map(
      "fs_bytes_read" -> bytesRead, "fs_bytes_written" -> bytesWritten,
      "fs_read_ops" -> readOps, "fs_write_ops" -> writeOps,
      "codegen_compiles" -> compiles, "gc_ms" -> gcMs)
  }

  @annotation.nowarn("cat=deprecation")
  def counters(): Counters = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Counters(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      st.map(_.getReadOps.toLong).sum, st.map(_.getWriteOps.toLong).sum,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum)
  }
}
