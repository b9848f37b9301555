package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.AnnIndex
import graft.sources.SnapshotLog

/** `embed_search`: a seeded clustered corpus of [[Corpus]] × [[Dim]]
  * vectors committed to a SnapshotLog table and indexed by
  * `AnnIndex.build` in setup. A cycle answers [[Singles]] single-query
  * `knn`, and as many `knnWhere` under a selective (one label of ten) and
  * a broad (eight of ten) predicate each, then one `knnAll` batch of
  * [[BatchQueries]]; between cycles it appends
  * [[AppendRows]] vectors and runs `AnnIndex.refresh`.
  *
  * Every answer is checked outside the op timing against an exact
  * top-k over the driver's copy of the corpus: ids must exist and pass
  * the predicate, scores must equal the exact dot product, and
  * recall@10 is the share of the exact top 10 returned.
  */
final class EmbedSearch(run: Run) extends Workload {
  import EmbedSearch._
  private val spark = run.spark
  private val rng = run.rng
  private val root = s"${run.work}/embed/corpus"
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val labels = mutable.ArrayBuffer.empty[Int]
  private var centers: Array[Array[Float]] = Array.empty
  private var hits = 0L
  private var wanted = 0L
  private var bytesWritten = 0L
  private var userRows = 0L
  private val written = mutable.Map.empty[String, Long]

  def setup(): Unit = {
    centers = Array.fill(Clusters)(unit(Array.fill(Dim)(rng.nextGaussian().toFloat)))
    run.phase("corpus")(SnapshotLog.commit(spark, root, frame(grow(Corpus)), statsCols = Seq("vec_id")))
    run.phase("build")(AnnIndex.build(spark, root, k = Cells))
    // warm every op kind
    run.phase("warm")(cycleOps(timed = false, singles = 1, batchQueries = 10))
    written ++= Stats.files(root)
  }

  def cycle(i: Int): Unit = {
    cycleOps(timed = true)
    Stats.files(root).foreach { case (p, n) =>
      if (!written.contains(p)) { bytesWritten += n; written(p) = n }
    }
  }

  private def cycleOps(timed: Boolean, singles: Int = Singles, batchQueries: Int = BatchQueries): Unit = {
    def op[T](kind: String, layer: String)(body: => T): Option[T] =
      if (timed) run.op(kind, layer, kind)(body) else Some(body)
    (0 until singles).foreach { _ =>
      val q = query()
      op("knn", "ann")(AnnIndex.knn(spark, root, q.toSeq, K).collect())
        .foreach(r => verify(q, r, _ => true))
    }
    (0 until 2 * singles).foreach { i =>
      val q = query()
      val (pred, ok): (org.apache.spark.sql.Column, Int => Boolean) =
        if (i % 2 == 0) { val l = rng.nextInt(10); (col("label") === l, _ == l) }
        else (col("label") < 8, _ < 8)
      op("knnWhere", "ann")(AnnIndex.knnWhere(spark, root, q.toSeq, K, pred).collect())
        .foreach(r => verify(q, r, ok))
    }
    val qs = (0 until batchQueries).map(_ => query())
    val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
      qs.zipWithIndex.map { case (q, i) => Row(i.toLong, q.toSeq) }, 1),
      StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(FloatType)))))
    op("knnAll", "ann")(AnnIndex.knnAll(spark, root, qdf, K).collect()).foreach { rows =>
      val byQ = rows.groupBy(_.getLong(0))
      qs.indices.foreach { i =>
        verify(qs(i), byQ.getOrElse(i.toLong, Array.empty[Row]).map(r => Row(r.get(1), r.get(2))), _ => true)
      }
    }
    if (Trace.enabled) run.kernelResults += (3 * singles + batchQueries) * K
    val batch = frame(grow(AppendRows))
    op("append", "commit")(SnapshotLog.appendCommit(spark, root, batch, statsCols = Seq("vec_id")))
    op("refresh", "ann")(AnnIndex.refresh(spark, root))
    if (timed) userRows += AppendRows
    if (Trace.enabled) run.rowsSupplied += AppendRows
  }

  /** Append `n` seeded vectors to the driver's corpus; their first id. */
  private def grow(n: Int): Long = {
    val first = vecs.size.toLong
    (0 until n).foreach { _ =>
      val c = centers(rng.nextInt(Clusters))
      vecs += unit(c.map(x => x + Spread * rng.nextGaussian().toFloat))
      labels += rng.nextInt(10)
    }
    first
  }

  private def frame(first: Long): DataFrame = {
    val rows = (first.toInt until vecs.size).map(i => Row(i.toLong, vecs(i).toSeq, labels(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Schema)
  }

  /** A query near a random corpus vector. */
  private def query(): Array[Float] = {
    val v = vecs(rng.nextInt(vecs.size))
    unit(v.map(x => x + Spread * rng.nextGaussian().toFloat))
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Check one answer against the exact top-k under the same predicate. */
  private def verify(q: Array[Float], rows: Array[Row], ok: Int => Boolean): Unit = {
    val exact = vecs.indices.filter(i => ok(labels(i)))
      .map(i => (i, dot(q, vecs(i)))).sortBy(p => (-p._2, p._1)).take(K)
    val got = rows.map(r => (r.getLong(0).toInt, r.getDouble(1)))
    val valid = got.length == math.min(K, exact.size) && got.forall { case (id, s) =>
      id >= 0 && id < vecs.size && ok(labels(id)) && math.abs(dot(q, vecs(id)) - s) < 1e-4
    } && got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    if (!valid) run.fail(s"embed_search answer ${got.take(3).mkString(",")} violates the exact scores/predicate")
    hits += got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
    wanted += exact.size
  }

  def check(): Unit = {
    val n = SnapshotLog.read(spark, root).count()
    if (n != vecs.size) run.fail(s"corpus table has $n rows, driver copy ${vecs.size}")
  }

  override def answers(kind: String): Int = kind match {
    case "knnAll" => BatchQueries
    case "knn" | "knnWhere" => 1
    case _ => 0
  }
  override def latencyKinds: String => Boolean = k => k == "knn" || k == "knnWhere"

  override def extras: Map[String, Double] = {
    val rowBytes = SnapshotLog.describeDetail(spark, root).sizeBytes.toDouble / vecs.size
    Map("recall_at_10" -> hits.toDouble / wanted,
      "write_amp" -> (if (userRows == 0) 0.0 else bytesWritten / (userRows * rowBytes)))
  }
}

object EmbedSearch {
  val Corpus = 10000
  val Dim = 64
  val Clusters = 64
  val Cells = 32
  val Spread = 0.08f
  val K = 10
  /** Single `knn` calls per cycle; `knnWhere` gets twice as many. */
  val Singles = 4
  val BatchQueries = 50
  val AppendRows = 200
  val Schema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
}
