package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `lake_mixed`: a seeded statement mix through the `lake` catalog's SQL
  * surface against one table seeded from the fixture's lineitem rows of the first
  * [[Orders]] orders (key
  * `id` = l_orderkey · 8 + l_linenumber, stats on `id`, rows sorted by
  * it). Point and range SELECTs take most of the [[Cycle]]; UPDATE,
  * DELETE and small INSERT/MERGE the rest; keys are Zipf-skewed towards
  * the newest; each cycle ends with `CALL lake.system.compact_small_files`.
  *
  * Every statement is replayed on an in-memory model (a sorted map, no
  * SnapshotLog). SELECT results are compared with it as they come and
  * the final table with it at the end, outside the op timing.
  */
final class LakeMixed(run: Run) extends Workload {
  import LakeMixed._
  private val spark = run.spark
  private val rng = run.rng
  private val model = new java.util.TreeMap[java.lang.Long, Rec]()
  private val keys = mutable.ArrayBuffer.empty[Long]  // oldest first
  private var nextId = 0L
  private var zipfCdf: Array[Double] = Array.empty
  val sqlTimes = mutable.ArrayBuffer.empty[(String, Long, Long)]  // kind, plan ns, total ns
  private var userRows = 0L
  private var bytesWritten = 0L
  private val written = mutable.Map.empty[String, Long]
  val maintenance = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private def root = s"${run.work}/lake/ns/li"
  private def liveFiles: Long =
    graft.sources.SnapshotLog.describeDetail(spark, root).numFiles

  def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.ns")
    spark.sql(s"CREATE TABLE lake.ns.li ($Ddl) TBLPROPERTIES ('graft.statsCols'='id')")
    val src = spark.read.parquet(s"${run.data}/lineitem.parquet")
      .filter(col("l_orderkey") < Orders)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("id") +: Cols.tail.map(col): _*)
      .orderBy("id")
    run.phase("model")(src.collect()).foreach { r =>
      val rec = Rec(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getString(7))
      model.put(rec.id, rec); keys += rec.id
    }
    src.createOrReplaceTempView("seed")
    run.phase("seed")(spark.sql("INSERT INTO lake.ns.li SELECT * FROM seed"))
    nextId = keys.last + 1
    val h = (1 to keys.size).map(r => 1.0 / math.pow(r, 1.1)).scanLeft(0.0)(_ + _).tail
    zipfCdf = h.map(_ / h.last).toArray
    // warm every statement kind on the live table
    run.phase("warm")(cycleOps(timed = false, Cycle.distinct))
    written ++= Stats.files(root)
  }

  def cycle(i: Int): Unit = {
    cycleOps(timed = true)
    Stats.files(root).foreach { case (p, n) =>
      if (!written.contains(p)) { bytesWritten += n; written(p) = n }
    }
  }

  private def cycleOps(timed: Boolean, kinds: Seq[String] = Cycle): Unit = {
    kinds.foreach(k => statement(k, timed))
    val d0 = liveFiles
    val w0 = Stats.du(root)._1
    exec("compact", "CALL lake.system.compact_small_files('ns.li', 8388608)",
      timed, "maintenance")
    if (timed && run.tally) maintenance += ((d0, liveFiles, math.max(0L, Stats.du(root)._1 - w0)))
  }

  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    val rank = if (i >= 0) i else -i - 1
    keys(keys.size - 1 - math.min(rank, keys.size - 1))
  }

  private def statement(kind: String, timed: Boolean): Unit = kind match {
    case "point" =>
      val k = zipfKey()
      val got = exec(kind, s"SELECT $Select FROM lake.ns.li WHERE id = $k", timed, "read")
      val want = Option(model.get(k)).map(_.row).toSeq
      if (Trace.enabled) run.rowsReturned += want.size
      got.foreach(rows => if (rows.map(norm) != want) mismatch(s"point $k"))
    case "range" =>
      val k = zipfKey()
      val got = exec(kind, s"SELECT count(*), sum(l_quantity), max(l_extendedprice) " +
        s"FROM lake.ns.li WHERE id BETWEEN $k AND ${k + RangeWidth}", timed, "read")
      val sub = model.subMap(k, true, k + RangeWidth, true).values.asScala
      val want: Seq[Any] = if (sub.isEmpty) Seq(0L, null, null)
        else Seq(sub.size.toLong, sub.map(_.quantity).sum, sub.map(_.price).max)
      if (Trace.enabled) run.rowsReturned += sub.size
      got.foreach(rows => if (rows.head.toSeq != want) mismatch(s"range $k: ${rows.head} != $want"))
    case "update" =>
      val k = zipfKey()
      exec(kind, s"UPDATE lake.ns.li SET l_quantity = l_quantity + 1 WHERE id = $k",
        timed, "commit")
      Option(model.get(k)).foreach(r => model.put(k, r.copy(quantity = r.quantity + 1)))
    case "delete" =>
      val k = zipfKey()
      exec(kind, s"DELETE FROM lake.ns.li WHERE id = $k", timed, "commit")
      model.remove(k)
    case "insert" =>
      val rows = (0 until 5).map(_ => fresh(nextIdInc()))
      exec(kind, s"INSERT INTO lake.ns.li VALUES ${rows.map(_.values).mkString(", ")}",
        timed, "commit")
      rows.foreach(put)
      userRows += rows.size
    case "merge" =>
      // a MERGE source must be key-unique: the Zipf draw repeats hot keys
      val hot = Iterator.continually(zipfKey()).distinct.take(5).toSeq
      val rows = hot.map(fresh) ++ (0 until 5).map(_ => fresh(nextIdInc()))
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map(r => Row(r.row: _*)), 1),
        spark.table("lake.ns.li").schema).createOrReplaceTempView("src")
      exec(kind, "MERGE INTO lake.ns.li t USING src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *", timed, "commit")
      rows.foreach(put)
      userRows += rows.size
  }

  private def nextIdInc(): Long = { val k = nextId; nextId += 1; k }

  private def put(r: Rec): Unit = {
    if (!model.containsKey(r.id) && r.id >= keys.last) keys += r.id
    model.put(r.id, r)
  }

  private def fresh(id: Long): Rec =
    Rec(id, id / 8, rng.nextInt(20000).toLong, rng.nextInt(1000).toLong,
      (1 + rng.nextInt(50)).toDouble, math.round(rng.nextDouble() * 1e7) / 100.0,
      rng.nextInt(11) / 100.0, Seq("A", "N", "R")(rng.nextInt(3)))

  private def mismatch(what: String): Unit = run.fail(s"lake_mixed $what")

  /** Run one statement: SELECTs are planned (parse, analyze, optimize,
    * plan) and then collected; DML executes inside `spark.sql`, so its
    * planning share comes from the query's phase tracker.
    */
  private def exec(kind: String, text: String, timed: Boolean, layer: String): Option[Seq[Row]] = {
    def body(): (Seq[Row], Long) =
      if (layer == "read") {
        val (df, plan) = Trace.span("sql", "plan") {
          val t0 = System.nanoTime()
          val df = spark.sql(text)
          df.queryExecution.executedPlan
          (df, System.nanoTime() - t0)
        }
        (Trace.span("read", "execute")(df.collect().toSeq), plan)
      } else {
        val df = Trace.span(layer, kind)(spark.sql(text))
        (Seq.empty, df.queryExecution.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      }
    if (!timed) Some(body()._1)
    else {
      if (Trace.enabled) {
        if (layer == "read") run.filesTotal += liveFiles
        run.rowsSupplied += Supplied.getOrElse(kind, 0)
      }
      val t0 = System.nanoTime()
      val r = run.op(kind, "op", kind)(body())
      if (run.tally) r.foreach { case (_, plan) => sqlTimes += ((kind, plan, System.nanoTime() - t0)) }
      r.map(_._1)
    }
  }

  def check(): Unit = {
    val got = spark.table("lake.ns.li").collect()
    val want = model.values.asScala.map(_.row).toSeq
    if (got.length != want.size) run.fail(s"final table has ${got.length} rows, model ${want.size}")
    else {
      val g = got.map(norm).sortBy(_.head.asInstanceOf[Long]).toSeq
      val firstBad = g.zip(want).find { case (a, b) => a != b }
      firstBad.foreach { case (a, b) => run.fail(s"final table row $a != model $b") }
    }
  }

  override def extras: Map[String, Double] = {
    val once = s"${run.work}/lake_once"
    spark.table("lake.ns.li").write.mode("overwrite").parquet(once)
    val live = Stats.du(once)._1.toDouble
    val rowBytes = live / model.size
    def p50(kinds: Set[String]) = Stats.quantile(run.latMs(kinds), 0.5)
    Map("read_p50_ms" -> p50(Set("point", "range")),
      "write_p50_ms" -> p50(Set("update", "delete", "insert", "merge")),
      "write_amp" -> bytesWritten / (userRows * rowBytes),
      "space_amp" -> Stats.du(root)._1 / live,
      "stall_ms" -> run.stallMs(Set("compact")))
  }
}

object LakeMixed {
  final case class Rec(id: Long, orderkey: Long, partkey: Long, suppkey: Long,
                       quantity: Double, price: Double, discount: Double, flag: String) {
    def row: Seq[Any] = Seq(id, orderkey, partkey, suppkey, quantity, price, discount, flag)
    def values: String =
      s"($id, $orderkey, $partkey, $suppkey, $quantity, $price, $discount, '$flag')"
  }
  val Cols = Seq("id", "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_returnflag")
  val Ddl = "id BIGINT, l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_returnflag STRING"
  val Select: String = Cols.mkString(", ")
  /** The statement kinds of a cycle, in order; the seed picks keys and
    * values. The order is fixed so that every seed's reads see the same
    * number of preceding writes (and deletion vectors); a compaction
    * ends each cycle.
    */
  val Cycle: Seq[String] = Seq("point", "point", "update", "point", "range",
    "point", "delete", "point", "point", "insert", "range", "point", "point",
    "merge", "point", "update", "point", "range", "point", "point")
  /** The table holds the lineitem rows of the first [[Orders]] orders. */
  val Orders = 15000
  val RangeWidth = 400
  /** Rows each write statement supplies. */
  val Supplied: Map[String, Int] = Map("update" -> 1, "delete" -> 1, "insert" -> 5, "merge" -> 10)

  def norm(r: Row): Seq[Any] = r.toSeq
}
