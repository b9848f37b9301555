package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpecBase
import graft.sources.SnapshotLog

/** AnnIndex's slice reads through the committed-file reader
  * ([[graft.sources.CommittedFiles]]):
  *   - planning `knn`, `knnWhere` and `knnAll` starts no Spark job;
  *   - executing `knn` starts one job at 1 slice and at 4, so the count
  *     does not grow with the slices; `knnWhere` starts at most 2;
  *   - a slice file lacking the id or vector column fails the read,
  *     naming the file;
  *   - a rebuild at the same table version, which rewrites the same
  *     slice name, is never served a stale cached listing;
  *   - answers are identical with the planning cache off.
  */
class AnnSliceReaderSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_ann_reader").toString + "/emb"

  /** Deterministic unit vectors clustered around four axes. */
  private def vecs(n: Int, offset: Int = 0): DataFrame = {
    val dim = 16
    (0 until n).map { i =>
      val id = (i + offset).toLong
      val v = Array.tabulate(dim) { d =>
        (if (d == (id % 4).toInt) 1.0f else 0.0f) +
          0.05f * (((id * 131 + d * 31) % 97).toFloat / 97f)
      }
      val n0 = math.sqrt(v.map(x => x * x).sum).toFloat
      (id, v.map(_ / n0), (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  private def query(id: Int): Seq[Float] =
    vecs(1, offset = id).select("embedding").head().getSeq[Float](0)

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  /** The exact top-k of the table by dot product. */
  private def exact(root: String, q: Seq[Float], k: Int): Seq[Long] =
    SnapshotLog.read(spark, root).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).zip(q).map(p => p._1.toDouble * p._2).sum)
      .sortBy(p => (-p._2, p._1)).take(k).map(_._1).toSeq

  private def assignSlices(root: String): Seq[String] =
    AnnIndex.model(spark, root, "ivf").get.slices.get.filter(_.startsWith("assign_v"))

  test("planning knn, knnWhere and knnAll starts no job; knn runs 1 job at 1 and at 4 slices; " +
       "answers are identical with the planning cache off") {
    val root = freshRoot()
    SnapshotLog.commit(spark, root, vecs(400), statsCols = Seq("vec_id"))
    AnnIndex.build(spark, root, k = 4)
    val q = query(7)
    val batch = Seq((0L, q), (1L, query(13))).toDF("qid", "qvec")
    val plans = Seq[(String, () => DataFrame)](
      "knn" -> (() => AnnIndex.knn(spark, root, q, k = 5)),
      "knnWhere" -> (() => AnnIndex.knnWhere(spark, root, q, 5, col("label") < 6)),
      "knnAll" -> (() => AnnIndex.knnAll(spark, root, batch, 5, qidCol = "qid", vecCol = "qvec")))
    def check(slices: Int): Unit = {
      assert(assignSlices(root).size == slices)
      plans.foreach { case (op, plan) =>
        assert(jobsDuring(plan().queryExecution.executedPlan)._2 == 0,
          s"planning $op started a job at $slices slice(s)")
      }
      val (rows, knnJobs) = jobsDuring(AnnIndex.knn(spark, root, q, k = 5).collect())
      assert(rows.length == 5)
      assert(knnJobs == 1, s"knn ran $knnJobs jobs at $slices slice(s)")
      val (_, whereJobs) = jobsDuring(
        AnnIndex.knnWhere(spark, root, q, 5, col("label") === 3).collect())
      assert(whereJobs > 0 && whereJobs <= 2, s"knnWhere ran $whereJobs jobs at $slices slice(s)")
    }
    check(1)
    (1 to 3).foreach { i =>
      SnapshotLog.appendCommit(spark, root, vecs(30, offset = 1000 * i))
      AnnIndex.refresh(spark, root)
    }
    check(4)
    val cached = plans.map(_._2().collect().toSeq)
    assert(cached.forall(_.nonEmpty))
    spark.conf.set("spark.graft.plan.cache", "false")
    try assert(plans.map(_._2().collect().toSeq) == cached)
    finally spark.conf.unset("spark.graft.plan.cache")
  }

  test("a slice file lacking the id or vector column fails the read, naming the file") {
    val root = freshRoot()
    SnapshotLog.commit(spark, root, vecs(60), statsCols = Seq("vec_id"))
    AnnIndex.build(spark, root, k = 2)
    val cellDir = new java.io.File(root, s"_graft_ann/ivf/${assignSlices(root).head}")
      .listFiles().filter(_.getName.startsWith("cell=")).head
    val planted = new java.io.File(cellDir, "part-99999-handwritten.parquet")
    def plant(df: DataFrame): Unit = {
      val out = Files.createTempDirectory("graft_ann_bad").toString + "/out"
      df.coalesce(1).write.parquet(out)
      val f = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.deleteIfExists(planted.toPath)
      Files.copy(f.toPath, planted.toPath)
      SnapshotLog.planCacheClear()
    }
    def refused(column: String): Unit = {
      val e = intercept[IllegalStateException](AnnIndex.knn(spark, root, query(3), k = 5).collect())
      assert(e.getMessage.contains(planted.getName) && e.getMessage.contains(column), e.getMessage)
    }
    plant(vecs(2, offset = 500).select(col("embedding"), col("label").as("cell2")))
    refused("vec_id")
    // the cache did not admit the refused slice: still refused
    refused("vec_id")
    plant(vecs(2, offset = 500).select(col("vec_id"), col("label").as("cell2")))
    refused("embedding")
  }

  test("a rebuild at the same version rewrites the slice name and is never served a stale listing") {
    val root = freshRoot()
    SnapshotLog.commit(spark, root, vecs(120), statsCols = Seq("vec_id"))
    val q = query(41)
    AnnIndex.build(spark, root, k = 2)
    val first = assignSlices(root)
    assert(ids(AnnIndex.knn(spark, root, q, k = 6, nprobe = 2)) == exact(root, q, 6))
    AnnIndex.build(spark, root, k = 4)
    assert(assignSlices(root) == first, "the rebuild wrote another slice name")
    assert(AnnIndex.model(spark, root, "ivf").get.k == 4)
    // all four cells of the second build probed: exact, and read from its files
    assert(ids(AnnIndex.knn(spark, root, q, k = 6, nprobe = 4)) == exact(root, q, 6))
  }
}
