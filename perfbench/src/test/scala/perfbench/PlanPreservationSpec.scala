package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The analytics workload times `Analytics.timedAction` (a noop-sink
  * write). For every entry, the optimized plan of that action must keep
  * every Sort, Window, Join and Union of the entry's own optimized plan,
  * so the timing covers the whole query. A negative control shows the
  * check can fail: `.count()` drops operators from some entries.
  *
  * Runs over the sf0.01 fixture, written by gen_data.py on first use.
  */
class PlanPreservationSpec extends AnyFunSuite {
  private val home = sys.props.getOrElse("perfbench.home", ".")
  private lazy val data: String = {
    val out = new File(s"$home/.state/sf0.01")
    if (!out.isDirectory) {
      val rc = new ProcessBuilder("python3", s"$home/gen_data.py", "--sf", "0.01",
        "--out", out.getPath).inheritIO().start().waitFor()
      assert(rc == 0, "gen_data.py failed")
    }
    out.getPath
  }
  private lazy val spark: SparkSession =
    Session.create(s"$home/.state/spec-work", sql = false)

  private val seen = ArrayBuffer.empty[QueryExecution]
  private lazy val listener = {
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    l
  }

  /** Sort, Window, Join and Union nodes, subqueries included. */
  def operators(p: LogicalPlan): Map[String, Int] =
    p.collectWithSubqueries {
      case _: Sort => "Sort"
      case _: Window => "Window"
      case _: Join => "Join"
      case _: Union => "Union"
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Optimized plan of the query an action ran, via the listener. */
  private def actionPlan(action: => Unit): LogicalPlan = {
    listener
    seen.synchronized(seen.clear())
    action
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    seen.synchronized(seen.last).optimizedPlan
  }

  private def lost(own: Map[String, Int], got: Map[String, Int]): Map[String, Int] =
    own.collect { case (k, n) if got.getOrElse(k, 0) < n => k -> (n - got.getOrElse(k, 0)) }

  test("the timed noop write keeps every Sort, Window, Join and Union of every entry") {
    val failures = Analytics.entries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, data)
      val own = operators(df.queryExecution.optimizedPlan)
      val got = operators(actionPlan(Analytics.timedAction(df)))
      val l = lost(own, got)
      if (l.isEmpty) None else Some(s"$name lost $l")
    }
    assert(Analytics.entries.size == 122)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("negative control: .count() drops operators the check detects") {
    val dropped = Seq("q20_running_sum", "q93_funnel", "q104_next_purchase").map { n =>
      val df = Analytics.entries(n)(spark, data)
      n -> lost(operators(df.queryExecution.optimizedPlan),
        operators(actionPlan(df.groupBy().count().collect())))
    }
    assert(dropped.forall(_._2.nonEmpty), dropped.mkString("\n"))
  }

  test("the analytics slice names only existing entries") {
    assert(Analytics.slice.forall(Analytics.entries.contains))
    assert(Analytics.kernelEntries.forall(Analytics.slice.contains))
  }
}
