package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters for the traced run, fed by a SparkListener
  * (scheduler events) and a QueryExecutionListener (one event per
  * executed query). Both arrive on the listener bus, so a reader drains
  * the bus first ([[snapshot]]) and then sees every event of the work
  * finished before the call.
  */
object Probe {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskCpuNs = 3
  val TaskRunMs = 4; val ShuffleRead = 5; val ShuffleWrite = 6
  val Spill = 7; val InBytes = 8; val InRecords = 9; val OutBytes = 10
  val OutRecords = 11; val Queries = 12; val PlanNs = 13; val VecPairs = 14
  val FilesRead = 15; val FkCheckNs = 16; val FilesWritten = 17; val N = 18

  private val c = new AtomicLongArray(N)
  @volatile private var installed: Option[SparkSession] = None

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        c.incrementAndGet(Jobs)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        c.incrementAndGet(Stages)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c.incrementAndGet(Tasks)
        val m = e.taskMetrics
        if (m != null) {
          c.addAndGet(TaskCpuNs, m.executorCpuTime)
          c.addAndGet(TaskRunMs, m.executorRunTime)
          c.addAndGet(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
          c.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
          c.addAndGet(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
          c.addAndGet(InBytes, m.inputMetrics.bytesRead)
          c.addAndGet(InRecords, m.inputMetrics.recordsRead)
          c.addAndGet(OutBytes, m.outputMetrics.bytesWritten)
          c.addAndGet(OutRecords, m.outputMetrics.recordsWritten)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe, ns)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe, 0L)
    })
    installed = Some(spark)
  }

  /** Drain the bus, then copy the counters. */
  def snapshot(): Array[Long] = {
    installed.foreach(s => org.apache.spark.perfbenchshim.Bus.drain(s.sparkContext))
    Array.tabulate(N)(c.get)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    c.incrementAndGet(Queries)
    val phases = qe.tracker.phases.values.map(_.durationMs).sum
    c.addAndGet(PlanNs, phases * 1000000L)
    val nodes = try walk(qe.executedPlan) catch { case _: Throwable => Nil }
    c.addAndGet(VecPairs, nodes.map(vecPairs).sum)
    c.addAndGet(FilesRead, nodes.collect { case s: FileSourceScanExec =>
      metric(s, "numFiles") }.sum)
    c.addAndGet(FilesWritten, nodes.collect { case w: DataWritingCommandExec =>
      metric(w, "numFiles") }.sum)
    // Rebuild's referential-integrity checks are left-anti joins
    if (qe.optimizedPlan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }) c.addAndGet(FkCheckNs, durationNs)
  }

  /** Every physical node of a plan, through adaptive stages, reused
    * exchanges and subqueries.
    */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case r: ReusedExchangeExec => walk(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def rowsOut(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case s: QueryStageExec => rowsOut(s.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case _ if p.children.size == 1 => rowsOut(p.children.head)
    case _ => 0L
  }

  private val scoringKernels = Set("vec_dot", "vec_pq_adc", "vec_pq_sdc", "vec_pq_adc_at")

  private def usesVecKernel(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(e => scoringKernels(e.prettyName)))

  /** Vector pairs a node scored: the rows fed into a node that evaluates
    * a pair-scoring kernel, or the cross product for a nested-loop join
    * whose condition does.
    */
  private def vecPairs(p: SparkPlan): Long =
    if (!usesVecKernel(p)) 0L
    else p match {
      case j: BroadcastNestedLoopJoinExec => rowsOut(j.left) * rowsOut(j.right)
      case j: CartesianProductExec => rowsOut(j.left) * rowsOut(j.right)
      case _ => p.children.map(rowsOut).sum
    }
}
