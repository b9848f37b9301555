package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bus
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs. getOrCreate on every access so a
  * suite that legitimately stops the session (HarnessRehearsalSpec runs
  * Verify.main, which stops it) doesn't poison later suites — suites run
  * sequentially (build.sbt: Test / parallelExecution := false).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  // per-suite-instance: resolved via getOrCreate when THIS suite first
  // touches it, so suites running after a stop() get a fresh session while
  // `import spark.implicits._` still sees a stable identifier
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** `body`'s result and the Spark jobs it started on the shared session. */
  def jobsDuring[T](body: => T): (T, Int) = SparkSpecBase.jobsDuring(spark)(body)
}

object SparkSpecBase {
  /** `body`'s result and the Spark jobs it started on `spark`, counted
    * once the listener bus has drained.
    */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Bus.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
