package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --data DIR --work DIR --home DIR` (home holds the stored
  * digests). Prints a report and, as its last
  * stdout line, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics` (end-to-end metrics untraced, per-layer metrics traced).
  */
object Main {
  val workloads: Map[String, Run => Workload] = Map(
    "analytics" -> (new Analytics(_)),
    "catalog_refresh" -> (new CatalogRefresh(_)),
    "lake_mixed" -> (new LakeMixed(_)),
    "embed_search" -> (new EmbedSearch(_)))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val make = workloads.getOrElse(name,
      sys.error(s"unknown workload $name; one of ${workloads.keys.mkString(", ")}"))
    val trace = a.getOrElse("trace", "0") == "1"
    val spark = Session.create(a("work"), sql = name == "lake_mixed")
    val run = new Run(spark, a("seed").toLong, a("seconds").toDouble, trace,
      a("data"), a("work"), a("home"))
    if (trace) Probe.install(spark)
    val wl = make(run)
    run.report += f"setup session: ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s"
    try {
      wl.setup()
      run.startTimed()
      run.loop(wl)
      Trace.enabled = false
      wl.check()
      val out = if (trace) run.layerMetrics(wl) else run.endToEnd(wl)
      if (trace) Trace.write(java.nio.file.Paths.get(a("work"), "spans.jsonl"))
      run.report.foreach(l => println(s"[$name] $l"))
      println(Json.result(run.failed == 0, run.attempted,
        run.failed, out))
    } finally spark.stop()
  }
}

/** A workload: untimed [[setup]], a closed loop of [[cycle]]s, and an
  * untimed output [[check]].
  */
trait Workload {
  /** Inputs, seeding and warm-up of every op kind; all of it counts in
    * setup_s. */
  def setup(): Unit
  /** One fixed, seeded batch of ops; the loop runs whole cycles until
    * the run's seconds are used. */
  def cycle(i: Int): Unit
  /** Output checks, outside the timed region; mismatches go to
    * [[Run.fail]]. */
  def check(): Unit
  /** Queries an op of this kind answers; 0 for ops that answer none
    * (maintenance, refresh), which still count in the timed wall. */
  def answers(kind: String): Int = 1
  /** Cycles the timed phase runs at least. */
  def minCycles: Int = 1
  /** Op kinds whose latency the latency metrics describe. */
  def latencyKinds: String => Boolean = _ => true
  /** Workload-specific figures for the report and the traced metrics. */
  def extras: Map[String, Double] = Map.empty
}

final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val data: String, val work: String,
                val home: String) {
  final case class Op(kind: String, ns: Long, cpuNs: Long, cycle: Int)
  val ops = ArrayBuffer.empty[Op]
  val report = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var cycles = 0
  /** Traced-cycle tallies the workloads feed for the per-layer ratios. */
  var kernelResults = 0L
  var rowsSupplied = 0L
  var filesTotal = 0L
  var rowsReturned = 0L
  /** The cycle run before tracing is switched on (traced runs only). */
  var untracedCycleNs = 0L
  val tracedCycleNs = ArrayBuffer.empty[Long]
  private var setupS = 0.0
  private var timedWallNs = 0L
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val rng = new scala.util.Random(seed)

  def cpuNs: Long = os.getProcessCpuTime

  def startTimed(): Unit =
    setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Whole cycles while the next one, at the last one's length, would
    * end no more than half a cycle past `seconds` of op time: the timed
    * phase is `seconds` give or take half a cycle. A traced run times
    * one cycle untraced first, so tracing overhead can be reported as
    * traced minus untraced cycle wall.
    */
  def loop(wl: Workload): Unit = {
    val t0 = System.nanoTime()
    var used = 0L
    var last = 0L
    while (cycles < wl.minCycles || used + last / 2 < seconds * 1e9 ||
        (trace && tracedCycleNs.isEmpty)) {
      Trace.enabled = trace && cycles > 0
      val before = opNs
      wl.cycle(cycles)
      val took = opNs - before
      if (trace && cycles == 0) untracedCycleNs = took
      else if (trace) tracedCycleNs += took
      used += took
      last = took
      cycles += 1
    }
    timedWallNs = System.nanoTime() - t0
  }

  private def opNs: Long = ops.map(_.ns).sum

  /** Time one op; its latency and process CPU are recorded. A thrown
    * exception counts as a failed op.
    */
  def op[T](kind: String, layer: String, name: String)(body: => T): Option[T] = {
    Trace.newOp()
    attempted += 1
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val r = try Some(Trace.span(layer, name)(body)) catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] op $kind/$name failed: $e")
        None
    }
    val t1 = System.nanoTime()
    ops += Op(kind, t1 - t0, cpuNs - c0, cycles)
    r
  }

  /** Time one setup step for the report. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally report += f"setup $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"
  }

  /** Record an output check that runs outside the timed region. */
  def fail(what: String): Unit = {
    failed += 1
    report += s"CHECK FAILED: $what"
  }

  /** Whether workload-side tallies should count now: always in an
    * untraced run, only in traced cycles of a traced run. */
  def tally: Boolean = !trace || Trace.enabled

  /** The op after each op of a maintenance kind, minus the median op
    * of the same kind. */
  def stallMs(maintenance: Set[String]): Double = {
    val os = ops.toIndexedSeq.filter(o => !trace || o.cycle > 0)
    val stalls = os.indices.filter(i => i > 0 && maintenance(os(i - 1).kind)).map { i =>
      os(i).ns / 1e6 - Stats.quantile(os.filter(_.kind == os(i).kind).map(_.ns / 1e6), 0.5)
    }
    if (stalls.isEmpty) 0.0 else Stats.quantile(stalls, 0.5)
  }

  def timedNs: Long = opNs
  def latMs(kind: String => Boolean): Seq[Double] =
    ops.filter(o => kind(o.kind)).map(_.ns / 1e6).toSeq

  def endToEnd(wl: Workload): Map[String, (Double, String)] = {
    val all = latMs(wl.latencyKinds)
    val p90 = Stats.quantile(all, 0.9)
    report += f"ops=${ops.size} cycles=$cycles timed_s=${timedNs / 1e9}%.3f " +
      f"wall_s=${timedWallNs / 1e9}%.3f failed_frac=${failed.toDouble / attempted}%.4f"
    report += f"latency_p90_ms=$p90%.2f over ${all.size} ops (" +
      s"${(all.size * 0.1).toInt} beyond it${if (all.size < 100) "; under 10, not reported as a metric" else ""})"
    wl.extras.toSeq.sortBy(_._1).foreach { case (k, v) => report += s"$k=$v" }
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      report += f"op $k: n=${os.size} p50_ms=${Stats.quantile(os.map(_.ns / 1e6).toSeq, 0.5)}%.1f " +
        f"max_ms=${os.map(_.ns / 1e6).max}%.1f"
    }
    Map(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (ops.map(o => wl.answers(o.kind)).sum / (timedNs / 1e9), "1/s"),
      "latency_p50_ms" -> (Stats.quantile(all, 0.5), "ms"),
      "cpu_s" -> (ops.map(_.cpuNs).sum / 1e9 / cycles, "s"),
      "peak_rss_mb" -> (Stats.peakRssMb, "MB"))
  }

  def layerMetrics(wl: Workload): Map[String, (Double, String)] =
    Layers.metrics(this, wl)
}

object Session {
  /** A `local[cores]` session configured as the engine's bench
    * configures it; `sql` adds the graft SQL extensions and the `lake`
    * catalog.
    */
  def create(work: String, sql: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
    val s = (if (!sql) b else b
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.catalog.lake", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.lake.warehouse", s"$work/lake"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(s)
    s
  }
}
