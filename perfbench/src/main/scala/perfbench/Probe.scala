package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters, collected through Spark's public listener
  * interfaces only: a [[QueryExecutionListener]] per action and a
  * [[SparkListener]] per job and task. Events are attributed to traced
  * operations afterwards by time. */
final class Probe(spark: SparkSession) {
  import Probe._

  val actions = new ConcurrentLinkedQueue[Action]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val markers = new java.util.concurrent.ConcurrentHashMap[Int, CountDownLatch]()
  @volatile private var pendingMarker: CountDownLatch = _

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val end = System.currentTimeMillis()
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs, v.endTimeMs)
      }
      val scans = leaves(qe.executedPlan).collect { case s: FileSourceScanExec =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        (m("numFiles"), m("filesSize"), m("numOutputRows"))
      }
      actions.add(Action(end - ns / 1000000L, end, phases,
        scans.map(_._1).sum, scans.map(_._2).sum, scans.map(_._3).sum))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val marker = Option(e.properties).exists(_.getProperty(MarkerKey) != null)
      if (marker) markers.put(e.jobId, pendingMarker)
      else jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val m = markers.remove(e.jobId)
      if (m != null) m.countDown()
      else Option(jobStart.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) tasks.add(Task(
        e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.outputMetrics.bytesWritten))
    }
  }

  def start(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(listener)
  }

  def stop(): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Block until every event posted before this call has been seen:
    * run one tagged job and wait for its end event, which the listener
    * bus delivers after everything queued ahead of it. */
  def quiesce(): Unit = {
    val latch = new CountDownLatch(1)
    pendingMarker = latch
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    latch.await(30, TimeUnit.SECONDS)
  }
}

object Probe {
  private val MarkerKey = "perfbench.marker"

  final case class Action(startMs: Long, endMs: Long,
      phases: Map[String, (Long, Long)], files: Long, bytes: Long,
      rows: Long)
  final case class Job(startMs: Long, endMs: Long)
  final case class Task(finishMs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, fetchWaitMs: Long, spill: Long, peakMem: Long,
      written: Long)

  /** Every physical node, looking through adaptive wrappers. */
  def leaves(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(leaves)
  }
}
