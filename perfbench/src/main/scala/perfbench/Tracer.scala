package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Job groups the harness sets around each call into the program; the
  * tracer attributes every Spark job to one of them. */
object Groups {
  val Marker = "perfbench:marker"
  def build(query: String) = s"q:$query:build"
  def run(query: String) = s"q:$query:run"
  def task(name: String) = s"dag:$name"
  def of(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
}

/** Counts one traced pass from outside the program: a SparkListener for
  * jobs, stages, tasks, shuffle, spill and I/O, and a
  * QueryExecutionListener for planning-phase times and executed-plan
  * node counts. Everything stays in memory until [[close]]. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext

  val jobsByGroup = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val markerJobs = mutable.Set.empty[Int]
  val jobIntervals = mutable.Buffer.empty[(Long, Long)]
  var stages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var executions, exchanges, singlePartitionOps = 0L
  private var marker: CountDownLatch = _

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Groups.of(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    if (g == Groups.Marker) markerJobs += e.jobId
    else {
      jobsByGroup(g) += 1
      jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    if (markerJobs.remove(e.jobId) && marker != null) marker.countDown()
  }

  private def counted(stageId: Int): Boolean =
    stageGroup.getOrElse(stageId, "") != Groups.Marker

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (counted(e.stageInfo.stageId)) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (counted(e.stageId)) {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
        outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = Tracer.nodes(qe.executedPlan).toSeq
    synchronized {
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
      executions += 1
      exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      singlePartitionOps += nodes.count(Tracer.singlePartition)
    }
  }

  /** Waits until every event posted before this call has been
    * delivered: runs a one-task marker job and blocks on its end event,
    * which the listener bus delivers after all earlier events. */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    synchronized { marker = latch }
    sc.setJobGroup(Groups.Marker, "drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!latch.await(120, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not deliver the marker job")
    synchronized { marker = null }
  }

  /** Drains, then detaches both listeners. */
  def close(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Milliseconds of `[from, to]` during which no job was running. */
  def noJobMs(from: Long, to: Long): Long = synchronized {
    val spans = jobIntervals.map { case (s, e) => (s max from, e min to) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = from
    spans.foreach { case (s, e) =>
      if (e > end) { covered += e - (s max end); end = e }
    }
    (to - from) - covered
  }
}

object Tracer {
  /** Every node of an executed plan: through adaptive wrappers, query
    * stages and subqueries; a reused exchange counts once. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val children: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    Iterator(p) ++ children.iterator.flatMap(nodes)
  }

  /** Operators that funnel all rows through one task. */
  def singlePartition(p: SparkPlan): Boolean = p match {
    case w: WindowExec => w.partitionSpec.isEmpty
    case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
    case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
    case _ => false
  }
}
