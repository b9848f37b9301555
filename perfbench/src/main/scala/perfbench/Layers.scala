package perfbench

/** Per-layer metrics of a traced run, from the spans and the counters
  * read at their boundaries. Every workload reports every metric; a
  * layer a workload does not exercise reports 0.
  */
object Layers {
  import Probe._

  def metrics(run: Run, wl: Workload): Map[String, (Double, String)] = {
    val layers = Trace.byLayer
    def self(l: String): Double = layers.get(l).map(_._1 / 1e9).getOrElse(0.0)
    def ctr(l: String, i: Int): Long = layers.get(l).map(_._2(i)).getOrElse(0L)
    val roots = Trace.spans.filter(_.parent == -1)
    def total(i: Int): Long = roots.map(_.counters(i)).sum
    def spansNamed(p: String => Boolean) = Trace.spans.filter(s => p(s.name))
    def durS(p: String => Boolean) = spansNamed(p).map(_.durNs).sum / 1e9
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val wall = run.tracedCycleNs.sum / 1e9
    val cores = Runtime.getRuntime.availableProcessors
    val tracedOps = run.ops.filter(_.cycle > 0)
    val x = wl.extras.withDefaultValue(0.0)
    val out = Map.newBuilder[String, (Double, String)]
    def m(name: String, v: Double, unit: String): Unit = out += name -> (v, unit)

    m("engine.jobs", total(Jobs), "count")
    m("engine.stages", total(Stages), "count")
    m("engine.tasks", total(Tasks), "count")
    m("engine.task_cpu_s", total(TaskCpuNs) / 1e9, "s")
    m("engine.shuffle_read_bytes", total(ShuffleRead), "bytes")
    m("engine.shuffle_write_bytes", total(ShuffleWrite), "bytes")
    m("engine.spill_bytes", total(Spill), "bytes")
    m("engine.plan_ms", total(PlanNs) / 1e6, "ms")
    m("engine.self_s", self("engine"), "s")
    m("engine.core_util", ratio(total(TaskRunMs) / 1e3, wall * cores), "ratio")

    val kernelPairs = total(VecPairs).toDouble
    m("functions.kernel_s", durS(n => Analytics.kernelEntries(n) || n.startsWith("knn")), "s")
    m("functions.vec_pairs", kernelPairs, "count")
    m("functions.pairs_per_result", ratio(kernelPairs, run.kernelResults), "ratio")

    m("ingest.self_s", self("ingest"), "s")
    wl match {
      case c: CatalogRefresh =>
        m("ingest.rows_in", c.ingest("rows_in"), "count")
        m("ingest.bad_rows", c.ingest("bad_rows"), "count")
        m("ingest.dup_rows", c.ingest("dup_rows"), "count")
      case _ => Seq("rows_in", "bad_rows", "dup_rows").foreach(k => m(s"ingest.$k", 0, "count"))
    }
    m("ingest.fk_check_s", ctr("ingest", FkCheckNs) / 1e9, "s")

    val commitBytes = ctr("commit", OutBytes).toDouble
    val commitRecs = ctr("commit", OutRecords).toDouble
    m("commit.count", Trace.spans.count(_.layer == "commit"), "count")
    m("commit.self_s", self("commit"), "s")
    m("commit.bytes_written", commitBytes, "bytes")
    m("commit.files_written", ctr("commit", FilesWritten), "count")
    m("commit.bytes_rewritten",
      ratio(commitBytes * math.max(0.0, commitRecs - run.rowsSupplied), commitRecs), "bytes")

    val filesRead = ctr("read", FilesRead).toDouble
    m("read.self_s", self("read"), "s")
    m("read.files_total", run.filesTotal, "count")
    m("read.files_read", filesRead, "count")
    // 0 where the read path hides its file scans (the format("graft")
    // relation runs the snapshot plan inside its own RDD)
    m("read.skip_ratio", if (filesRead == 0) 0.0 else 1 - filesRead / run.filesTotal, "ratio")
    m("read.bytes_read", ctr("read", InBytes), "bytes")
    m("read.rows_returned_per_row_scanned", ratio(run.rowsReturned, ctr("read", InRecords)), "ratio")

    val maint = wl match {
      case c: CatalogRefresh => c.maintenance.toSeq
      case l: LakeMixed => l.maintenance.toSeq
      case _ => Nil
    }
    m("maintenance.runs", maint.size, "count")
    m("maintenance.self_s", self("maintenance"), "s")
    m("maintenance.bytes_rewritten", ctr("maintenance", OutBytes), "bytes")
    m("maintenance.files_before", ratio(maint.map(_._1).sum, maint.size), "count")
    m("maintenance.files_after", ratio(maint.map(_._2).sum, maint.size), "count")
    m("maintenance.stall_ms", x("stall_ms"), "ms")

    val sql = wl match { case l: LakeMixed => l.sqlTimes.toSeq; case _ => Nil }
    val planMs = sql.map(_._2).sum / 1e6
    val totalMs = sql.map(_._3).sum / 1e6
    m("sql.statements", sql.size, "count")
    m("sql.plan_ms", ratio(planMs, sql.size), "ms")
    m("sql.exec_ms", ratio(totalMs - planMs, sql.size), "ms")
    m("sql.plan_share", ratio(planMs, totalMs), "ratio")

    val batches = wl match { case c: CatalogRefresh => c.stream.toSeq; case _ => Nil }
    m("streaming.batches", batches.size, "count")
    m("streaming.batch_ms_p50", if (batches.isEmpty) 0.0 else Stats.quantile(batches.map(_._1.toDouble), 0.5), "ms")
    m("streaming.rows_per_batch", ratio(batches.map(_._2).sum, batches.size), "count")
    m("streaming.replayed_batches", wl match { case c: CatalogRefresh => c.replayed; case _ => 0 }, "count")

    val annQueries = tracedOps.filter(_.kind.startsWith("knn")).map(o => wl.answers(o.kind)).sum.toDouble
    val annPairs = Trace.spans.filter(s => s.parent == -1 && s.name.startsWith("knn"))
      .map(_.counters(VecPairs)).sum.toDouble
    m("ann.refresh_s", durS(_ == "refresh"), "s")
    m("ann.knn_s", durS(n => n == "knn" || n == "knnWhere"), "s")
    m("ann.knn_all_s", durS(_ == "knnAll"), "s")
    m("ann.files_per_query", ratio(Trace.spans.filter(s => s.parent == -1 && s.name.startsWith("knn"))
      .map(_.counters(FilesRead)).sum, annQueries), "count")
    m("ann.candidates_per_query", ratio(annPairs, annQueries), "count")
    m("ann.candidates_per_result", ratio(annPairs, annQueries * EmbedSearch.K), "ratio")

    Seq("rows_per_s" -> "1/s", "write_amp" -> "ratio", "space_amp" -> "ratio",
      "recall_at_10" -> "ratio", "read_p50_ms" -> "ms", "write_p50_ms" -> "ms")
      .foreach { case (k, u) => m(s"workload.$k", x(k), u) }
    m("workload.latency_p90_ms", Stats.quantile(run.latMs(wl.latencyKinds), 0.9), "ms")

    val accounted = layers.values.map(_._1).sum / 1e9
    m("trace.wall_s", wall, "s")
    m("trace.accounted_s", accounted, "s")
    m("trace.overhead_s", if (run.tracedCycleNs.isEmpty) 0.0
      else (wall / run.tracedCycleNs.size) - run.untracedCycleNs / 1e9, "s")
    m("trace.bookkeeping_s", Trace.bookkeepingNs / 1e9, "s")
    m("trace.spans", Trace.spans.size, "count")
    val res = out.result()
    run.report += f"traced wall ${wall}%.3f s over ${run.tracedCycleNs.size} cycles; " +
      f"layer self times sum to $accounted%.3f s; " +
      Trace.byLayer.toSeq.sortBy(-_._2._1).map { case (l, (ns, _)) => f"$l=${ns / 1e9}%.3f" }.mkString(" ")
    res
  }
}
