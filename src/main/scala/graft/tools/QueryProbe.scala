// Per-query execution profile: wall seconds vs where they go.
//   sbt -batch "runMain graft.tools.QueryProbe q59_contamination x32_top_pairs_lsh"
// For each named query (declared or bench twin) runs REPS times under the
// EXACT bench session config and prints, for the best rep:
//   wall s | #jobs | #stages | #tasks | sum(task time) | max single stage wall
// High wall with low task-time sum = driver/planning/barrier overhead;
// high task-time concentrated in one stage = that stage's compute.
package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val stageWall = mutable.Map[Int, (Long, Long)]() // id -> (submit, complete)
    // per stage: (tasks, taskMs, cpuMs, gcMs, shuffleReadB, name)
    val stageAgg = mutable.Map[Int, (Int, Long, Long, Long, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        synchronized { stages += 1; stageWall(e.stageInfo.stageId) = (System.nanoTime(), 0L) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val id = e.stageInfo.stageId
          stageWall.get(id).foreach { case (s, _) => stageWall(id) = (s, System.nanoTime()) }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        synchronized {
          tasks += 1
          if (e.taskInfo != null) {
            taskMs += e.taskInfo.duration
            val m = e.taskMetrics
            val (cpu, gc, sh) = if (m != null)
              (m.executorCpuTime / 1000000L, m.jvmGCTime,
               m.shuffleReadMetrics.totalBytesRead) else (0L, 0L, 0L)
            val cur = stageAgg.getOrElse(e.stageId, (0, 0L, 0L, 0L, 0L, ""))
            stageAgg(e.stageId) = (cur._1 + 1, cur._2 + e.taskInfo.duration,
              cur._3 + cpu, cur._4 + gc, cur._5 + sh, e.stageId.toString)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val verbose = sys.env.get("QPROBE_STAGES").contains("1")

    // bench twins come from Bench's OWN map (same constructions the bench
    // times — the local partial copy this replaced had drifted to 8 of 13)
    val all = graft.SparkEntry.queries ++ graft.Bench.benchOnly
    // warmup (same as bench)
    try { graft.SparkEntry.queries.head._2(spark, sfDir).count() } catch { case _: Throwable => () }

    val names =
      if (args.headOption.contains("all")) all.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else Seq("q01_scan_filter_project")
    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"taskSum_s"}%10s ${"maxStage_s"}%10s")
    names.foreach { n =>
      val fn = all(n)
      val runs = (0 until reps).map { _ =>
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L
        synchronized { stageWall.clear(); stageAgg.clear() }
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.optimizedPlan // force analysis + optimization
        val planS = (System.nanoTime() - t0) / 1e9
        df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        if (verbose) println(f"    [plan $planS%6.3f s]")
        org.apache.spark.sql.graftshim.Bus.drain(spark.sparkContext)
        val maxStage = synchronized {
          stageWall.values.collect { case (s, e) if e > 0 => (e - s) / 1e9 }
            .foldLeft(0.0)(math.max)
        }
        val detail = synchronized {
          stageAgg.toSeq.sortBy(-_._2._2).take(8).map { case (id, (t, ms, cpu, gc, sh, _)) =>
            val w = stageWall.get(id).collect { case (s, e) if e > 0 => (e - s) / 1e9 }.getOrElse(-1.0)
            f"    stage $id%4d wall=$w%7.3f tasks=$t%4d taskSum=${ms / 1e3}%7.3f cpu=${cpu / 1e3}%7.3f gc=${gc / 1e3}%6.3f shRead=${sh / 1048576.0}%8.2fMB"
          }
        }
        (wall, jobs, stages, tasks, taskMs / 1e3, maxStage, detail)
      }
      val best = runs.minBy(_._1)
      println(f"$n%-28s ${best._1}%8.3f ${best._2}%5d ${best._3}%7d ${best._4}%6d ${best._5}%10.3f ${best._6}%10.3f")
      if (verbose) best._7.foreach(println)
    }
    spark.stop()
  }
}
