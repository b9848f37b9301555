// ANN recall floor (round 14 — VERDICT r13 #4): recall@10 vs the exact
// brute-force answer across index kinds × nprobe, measured on an index
// that has been CHURNED by 20 maintenance cycles (keyed MoR upserts with
// replaced vectors, tombstone deletes, appends — each followed by an
// incremental AnnIndex.refresh), so accumulated tombstone slices and
// re-assignments are in the measurement, not assumed away. AnnIndexSpec
// asserts the ≥0.9 floor at the documented defaults; this tool prints
// the full recall surface for SCALE.md.
// Run: sbt "runMain graft.tools.AnnRecallBench [rows] [dim] [cycles]".
package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{AnnIndex, EmbedOps}
import graft.sources.SnapshotLog

object AnnRecallBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    val rows = args.headOption.map(_.toInt).getOrElse(40000)
    val dim = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val cycles = args.drop(2).headOption.map(_.toInt).getOrElse(20)
    // arg 4 is a comma-separated shortlist sweep (round 15: the auto-sizing
    // formula needs the recall CURVE, not two points; 0 = auto-sized)
    val shortlists = args.drop(3).headOption
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(100))
    val kPq = args.drop(4).headOption.map(_.toInt).getOrElse(16)
    val root = java.nio.file.Files
      .createTempDirectory("graft_annrecall").toString + "/emb"

    // deterministic spread vectors; `gen` shifts the phase so an upsert
    // cycle REPLACES a key's vector with a genuinely different one
    def vecsExpr(gen: Int) =
      s"transform(sequence(0, ${dim - 1}), d -> " +
      s"CAST(sin(vec_id * 0.7 + d * 1.3 + $gen * 0.37) AS FLOAT))"
    def seed(lo: Long, hi: Long, gen: Int): DataFrame =
      spark.range(lo, hi).toDF("vec_id")
        .withColumn("embedding", expr(vecsExpr(gen))).coalesce(1)

    (0 until 4).foreach { d =>
      val b = seed(d.toLong * rows / 4, (d + 1L) * rows / 4, 0)
      if (d == 0) SnapshotLog.commit(spark, root, b, statsCols = Seq("vec_id"))
      else SnapshotLog.appendCommit(spark, root, b, statsCols = Seq("vec_id"))
    }
    AnnIndex.build(spark, root, "ivf", k = 16, maxTrain = 4096)
    AnnIndex.buildPq(spark, root, "ivfpq", kCells = 16, m = 8, kPq = kPq)

    // 20 maintenance cycles: upsert-with-replacement / delete / append,
    // each incrementally refreshed on BOTH indexes
    (1 to cycles).foreach { c =>
      c % 3 match {
        case 0 => SnapshotLog.upsert(spark, root,
          seed(c.toLong * 37, c.toLong * 37 + 50, c), Seq("vec_id"))
        case 1 => SnapshotLog.tombstoneDelete(spark, root,
          spark.range(c.toLong * 53, c.toLong * 53 + 20).toDF("vec_id"),
          Seq("vec_id"))
        case 2 => SnapshotLog.appendCommit(spark, root,
          seed(rows + c.toLong * 50, rows + c.toLong * 50 + 50, c),
          statsCols = Seq("vec_id"))
      }
      AnnIndex.refresh(spark, root, "ivf")
      AnnIndex.refresh(spark, root, "ivfpq")
    }
    val ivfSlices = AnnIndex.model(spark, root, "ivf").get.slices.get.size
    val pqSlices = AnnIndex.model(spark, root, "ivfpq").get.slices.get.size

    val queries: Seq[Seq[Float]] = (0 until 10).map(qi =>
      (0 until dim).map(d => math.sin(qi * 2.1 + d * 1.3).toFloat))
    val corpus = SnapshotLog.read(spark, root)
      .select("vec_id", "embedding").cache()
    corpus.count()
    def exact(q: Seq[Float]): Set[Long] =
      EmbedOps.knnBruteForce(corpus, q, 10).collect()
        .map(_.getLong(0)).toSet
    val exactSets = queries.map(exact)

    def recallOf(f: Seq[Float] => DataFrame): Double =
      queries.zip(exactSets).map { case (q, ex) =>
        f(q).collect().map(_.getLong(0)).toSet.intersect(ex).size / 10.0
      }.sum / queries.size

    println(s"[annrecall] corpus=${corpus.count()} dim=$dim cycles=$cycles " +
      s"slices ivf=$ivfSlices ivfpq=$pqSlices")
    Seq(1, 2, 4, 8).foreach { np =>
      val rIvf = recallOf(q => AnnIndex.knn(spark, root, q, 10, "ivf", np))
      val pqLine = shortlists.map { sl =>
        val rPq = recallOf(q =>
          AnnIndex.knn(spark, root, q, 10, "ivfpq", np, shortlist = sl))
        f"sl=$sl%d:$rPq%.2f"
      }.mkString(" ")
      println(f"[annrecall] nprobe=$np%d/16: ivf recall@10=$rIvf%.2f " +
        f"ivfpq(kPq=$kPq%d) recall@10 $pqLine")
    }
    spark.stop()
  }
}
