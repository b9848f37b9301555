package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{Rebuild, SnapshotLog}

/** `catalog_refresh`: the reference's flow, one generation at a time.
  *
  * A seeded generator derives dated CSV snapshots of nation, customer and
  * orders from the fixture (customers below [[Customers]] and their
  * orders), changing a few percent of rows per generation and adding
  * exact duplicates and unparseable rows for the rebuild to drop. Each
  * generation op runs `Rebuild.run` (coerce, dedup, FK check), applies
  * the difference to the catalog with keyed SnapshotLog verbs
  * (customer copy-on-write: `upsert` + `deleteByKey`; orders
  * merge-on-read: `upsertMor` + `tombstoneDelete`) and lands the
  * generation's events through a `Trigger.AvailableNow` stream into
  * `writeStream.format("graft")`. A report op reads the tables back
  * through `spark.read.format("graft")`; every [[MaintainEvery]]
  * generations a maintenance op compacts and vacuums.
  */
final class CatalogRefresh(run: Run) extends Workload {
  import CatalogRefresh._
  private val spark = run.spark
  private val w = run.work
  private val input = s"$w/refresh/input"
  private val events = s"$w/refresh/events_in"
  private val stage = s"$w/refresh/stage"
  private def root(t: String) = s"$w/refresh/catalog/$t"
  private val roots = Seq("customer", "orders", "events").map(root)
  private val rng = run.rng

  private val cust = mutable.LinkedHashMap.empty[Long, Array[String]]
  private val ord = mutable.LinkedHashMap.empty[Long, Array[String]]
  private var nextCust = 0L
  private var nextOrd = 0L
  private var nextEvent = 0L
  private var gen = 0
  private var rowsApplied = 0L
  private var userRows = 0L
  private val written = mutable.Map.empty[String, Long]
  private var bytesWritten = 0L
  private var reportRows = Seq.empty[Row]
  val ingest = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val stream = mutable.ArrayBuffer.empty[(Long, Long)]  // (batch ms, rows)
  var replayed = 0L
  val maintenance = mutable.ArrayBuffer.empty[(Long, Long, Long)] // files before, after, bytes written

  def setup(): Unit = {
    val nation = spark.read.parquet(s"${run.data}/nation.parquet").collect()
    val nationCsv = nation.map(r => Array(r.get(0), r.get(1), r.get(2)).map(_.toString))
    spark.read.parquet(s"${run.data}/customer.parquet")
      .filter(col("c_custkey") < Customers).orderBy("c_custkey").collect()
      .foreach(r => cust(r.getLong(0)) = rowStrings(r))
    spark.read.parquet(s"${run.data}/orders.parquet")
      .filter(col("o_custkey") < Customers).orderBy("o_orderkey").collect()
      .foreach(r => ord(r.getLong(0)) = rowStrings(r))
    nextCust = Customers.toLong
    nextOrd = ord.keys.max + 1
    new File(input).mkdirs(); new File(events).mkdirs()
    writeCsv("nation", 0, NationCols, nationCsv.toSeq)
    // generation 0 seeds the catalog; generation 1 warms every op kind
    run.phase("seed") {
      emit()
      Rebuild.run(spark, input, stage, plan)
      SnapshotLog.commit(spark, root("customer"),
        spark.read.parquet(s"$stage/customer"), statsCols = Seq("c_custkey"))
      SnapshotLog.upsertMor(spark, root("orders"),
        spark.read.parquet(s"$stage/orders"), Seq("o_orderkey"),
        statsCols = Seq("o_orderkey"))
      landEvents()
    }
    run.phase("warm") {
      emit()
      generation()
      report()
      maintain()
    }
    bytesWritten = 0L; rowsApplied = 0L; userRows = 0L
    ingest.clear(); stream.clear(); maintenance.clear(); replayed = 0L
    roots.foreach(r => written ++= Stats.files(r))
  }

  def cycle(i: Int): Unit = {
    emit()
    run.op("generation", "op", s"generation-$gen")(generation())
    run.op("report", "op", "report")(report())
    if (Trace.enabled) run.filesTotal += roots.map(r => SnapshotLog.describeDetail(spark, r).numFiles).sum
    if (gen % MaintainEvery == 0) run.op("maintenance", "op", "maintenance")(maintain())
    // bytes of new files under the table roots, outside the op timing
    roots.foreach { r =>
      Stats.files(r).foreach { case (p, n) =>
        if (!written.contains(p)) { bytesWritten += n; written(p) = n }
      }
    }
  }

  /** One generation from landing to queryable. */
  private def generation(): Unit = {
    val reports = Trace.span("ingest", "Rebuild.run")(Rebuild.run(spark, input, stage, plan))
    reports.foreach { r =>
      if (run.tally) {
        ingest("rows_in") += r.rowsIn; ingest("bad_rows") += r.badRows
        ingest("dup_rows") += r.dupRows
      }
      require(r.fkViolations.values.forall(_ == 0), s"FK violations in ${r.table}: ${r.fkViolations}")
    }
    apply("customer", "c_custkey", mor = false)
    apply("orders", "o_orderkey", mor = true)
    landEvents()
  }

  /** Apply the rebuilt snapshot's difference to one catalog table: one
    * full outer join on the key finds new, changed and deleted rows.
    */
  private def apply(t: String, key: String, mor: Boolean): Unit = {
    val fresh = spark.read.parquet(s"$stage/$t")
    val cols = fresh.columns.toSeq
    val cur = SnapshotLog.read(spark, root(t))
    val diff = fresh.withColumn("__new", xxhash64(cols.map(col): _*))
      .join(cur.select(col(key), xxhash64(cols.map(col): _*).as("__old")), Seq(key), "full_outer")
      .filter(col("__new").isNull || col("__old").isNull || col("__new") =!= col("__old"))
      .collect()
    val (gone, changed) = diff.partition(r => r.isNullAt(r.fieldIndex("__new")))
    def frame(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    rowsApplied += diff.length
    if (Trace.enabled) run.rowsSupplied += diff.length
    userRows += changed.length
    if (changed.nonEmpty) Trace.span("commit", if (mor) "upsertMor" else "upsert") {
      val batch = frame(changed.map(r => Row(cols.map(r.getAs[Any]): _*)).toSeq, fresh.schema)
      if (mor) SnapshotLog.upsertMor(spark, root(t), batch, Seq(key), statsCols = Seq(key))
      else SnapshotLog.upsert(spark, root(t), batch, Seq(key), statsCols = Seq(key))
    }
    if (gone.nonEmpty) Trace.span("commit", if (mor) "tombstoneDelete" else "deleteByKey") {
      val keys = frame(gone.map(r => Row(r.getAs[Any](key))).toSeq,
        StructType(Seq(fresh.schema(key))))
      if (mor) SnapshotLog.tombstoneDelete(spark, root(t), keys, Seq(key))
      else SnapshotLog.deleteByKey(spark, root(t), keys, Seq(key))
    }
  }

  private def landEvents(): Unit = Trace.span("streaming", "AvailableNow") {
    val q = spark.readStream.schema(EventSchema).json(events)
      .writeStream.format("graft").option("checkpointLocation", s"$w/refresh/events_ck")
      .trigger(Trigger.AvailableNow()).start(root("events"))
    q.awaitTermination()
    if (run.tally) q.recentProgress.foreach { p =>
      stream += ((p.batchDuration, p.numInputRows))
      if (p.numInputRows > 0 && p.sink.numOutputRows == 0) replayed += 1
    }
    rowsApplied += q.recentProgress.map(_.numInputRows).sum
    userRows += q.recentProgress.map(_.numInputRows).sum
  }

  private def readTable(t: String): DataFrame = spark.read.format("graft").load(root(t))

  /** The report slice: three queries over tables read back through
    * `format("graft")`, collected to the driver.
    */
  private def report(): Unit = {
    def q(name: String)(df: => DataFrame): Seq[Row] = Trace.span("read", name) {
      val rows = df.collect().toSeq
      if (Trace.enabled) run.rowsReturned += rows.size
      rows
    }
    val c = readTable("customer"); val o = readTable("orders"); val e = readTable("events")
    reportRows =
      q("orders by status")(o.groupBy("o_orderstatus")
        .agg(count(lit(1)), round(sum("o_totalprice"), 2)).orderBy("o_orderstatus")) ++
      q("orders by segment")(o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)), round(sum("o_totalprice"), 2))
        .orderBy("c_mktsegment")) ++
      q("events by type")(e.groupBy("event_type")
        .agg(count(lit(1)), round(sum("value"), 2)).orderBy("event_type"))
  }

  private def maintain(): Unit = {
    val before = roots.map(r => SnapshotLog.describeDetail(spark, r).numFiles).sum
    val w0 = roots.map(r => Stats.du(r)._1).sum
    Trace.span("maintenance", "compactSmallFiles customer")(
      SnapshotLog.compactSmallFiles(spark, root("customer"), 8L << 20, statsCols = Seq("c_custkey")))
    Trace.span("maintenance", "compactMor orders")(SnapshotLog.compactMor(spark, root("orders")))
    Trace.span("maintenance", "compactSmallFiles events")(
      SnapshotLog.compactSmallFiles(spark, root("events"), 8L << 20))
    Trace.span("maintenance", "vacuum")(roots.foreach(r => SnapshotLog.vacuum(spark, r, 2)))
    val after = roots.map(r => SnapshotLog.describeDetail(spark, r).numFiles).sum
    if (run.tally) maintenance += ((before, after, math.max(0L, roots.map(r => Stats.du(r)._1).sum - w0)))
  }

  /** Write the next dated generation of every input. */
  private def emit(): Unit = {
    gen += 1
    if (gen > 1) mutate()
    writeCsv("customer", gen, CustCols, dirty(cust.values.toSeq, 3))
    writeCsv("orders", gen, OrdCols, dirty(ord.values.toSeq, 3))
    val pw = new PrintWriter(s"$events/events-$gen.json")
    try (0 until EventsPerGen).foreach { _ =>
      val ts = java.time.LocalDateTime.of(2025, 1, 1, 0, 0)
        .plusDays(gen).plusNanos((rng.nextDouble() * 86400e9).toLong / 1000 * 1000)
      pw.println(s"""{"event_id":$nextEvent,"ts":"$ts","user_id":${rng.nextInt(1500)},""" +
        s""""event_type":"${EventTypes(rng.nextInt(5))}","value":${math.round(rng.nextDouble() * 10000) / 100.0},""" +
        s""""props":"{\\"k\\": ${rng.nextInt(100)}}"}""")
      nextEvent += 1
    } finally pw.close()
  }

  /** Update, insert and delete a few percent of rows; orders keep
    * valid customer keys, and only customers without orders are deleted.
    */
  private def mutate(): Unit = {
    val custKeys = cust.keys.toIndexedSeq
    val ordKeys = ord.keys.toIndexedSeq
    def pick(keys: IndexedSeq[Long], frac: Double) =
      (0 until (keys.size * frac).toInt).map(_ => keys(rng.nextInt(keys.size))).distinct
    pick(custKeys, 0.02).foreach { k => cust(k)(3) = money(-999.99, 9999.99) }
    pick(ordKeys, 0.02).foreach { k =>
      ord(k)(2) = Seq("F", "O", "P")(rng.nextInt(3)); ord(k)(3) = money(900, 500000)
    }
    pick(ordKeys, 0.01).foreach(ord.remove)
    val withOrders = ord.values.map(_(1).toLong).toSet
    pick(custKeys, 0.01).filterNot(withOrders).foreach(cust.remove)
    (0 until (custKeys.size * 0.005).toInt).foreach { _ =>
      cust(nextCust) = Array(nextCust.toString, f"Customer#$nextCust%09d",
        rng.nextInt(25).toString, money(-999.99, 9999.99), Segments(rng.nextInt(5)))
      nextCust += 1
    }
    val live = cust.keys.toIndexedSeq
    (0 until (ordKeys.size * 0.01).toInt).foreach { _ =>
      ord(nextOrd) = Array(nextOrd.toString, live(rng.nextInt(live.size)).toString,
        Seq("F", "O", "P")(rng.nextInt(3)), money(900, 500000),
        s"2001-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)} 00:00:00", "3-MEDIUM")
      nextOrd += 1
    }
  }

  private def money(lo: Double, hi: Double): String =
    (math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0).toString

  /** The rows plus 0.3% exact duplicates and 0.1% unparseable copies
    * (column `badCol` set to text), shuffled.
    */
  private def dirty(rows: Seq[Array[String]], badCol: Int): Seq[Array[String]] = {
    val dups = (0 until rows.size * 3 / 1000).map(_ => rows(rng.nextInt(rows.size)))
    val bad = (0 until rows.size / 1000).map { _ =>
      val r = rows(rng.nextInt(rows.size)).clone(); r(badCol) = "n/a"; r
    }
    rng.shuffle(rows ++ dups ++ bad)
  }

  private def writeCsv(t: String, g: Int, cols: Seq[String], rows: Seq[Array[String]]): Unit = {
    val f = new File(input, f"$t-${20250101 + g}%08d.csv")
    val pw = new PrintWriter(f)
    try {
      pw.println(cols.mkString(","))
      rows.foreach(r => pw.println(r.mkString(",")))
    } finally pw.close()
  }

  def check(): Unit = {
    // a from-scratch rebuild of the last generation alone
    val last = s"$w/refresh/last"
    new File(last).mkdirs()
    new File(input).listFiles.filter(_.getName.endsWith(f"-${20250101 + gen}%08d.csv"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, new File(last, f.getName).toPath))
    java.nio.file.Files.copy(new File(input, "nation-20250101.csv").toPath,
      new File(last, "nation-20250101.csv").toPath)
    Rebuild.run(spark, last, s"$w/refresh/truth", plan)
    Seq("customer", "orders").foreach { t =>
      val truth = spark.read.parquet(s"$w/refresh/truth/$t")
      val got = SnapshotLog.read(spark, root(t)).select(truth.columns.map(col): _*)
      val (a, b) = (Analytics.digest(got), Analytics.digest(truth))
      if (a != b) run.fail(s"catalog $t $a != rebuild $b")
    }
    val evTruth = spark.read.schema(EventSchema).json(events)
    val evGot = SnapshotLog.read(spark, root("events")).select(evTruth.columns.map(col): _*)
    if (Analytics.digest(evGot) != Analytics.digest(evTruth)) run.fail("events table != landed files")
    if (reportRows.isEmpty) run.fail("empty report")
  }

  override def minCycles: Int = 2
  override def answers(kind: String): Int = if (kind == "generation") 1 else 0
  override def latencyKinds: String => Boolean = _ == "generation"

  override def extras: Map[String, Double] = {
    val timed = run.timedNs / 1e9
    val live = Seq("customer", "orders", "events").map { t =>
      val once = s"$w/refresh/once/$t"
      SnapshotLog.read(spark, root(t)).write.mode("overwrite").parquet(once)
      Stats.du(once)._1
    }.sum
    val liveRows = roots.map(r => SnapshotLog.read(spark, r).count()).sum
    val stored = roots.map(r => Stats.du(r)._1).sum
    Map("rows_per_s" -> rowsApplied / timed,
      "write_amp" -> bytesWritten / (userRows * live.toDouble / liveRows),
      "space_amp" -> stored.toDouble / live,
      "generations" -> run.ops.count(_.kind == "generation").toDouble,
      "stall_ms" -> run.stallMs(Set("maintenance")))
  }
}

object CatalogRefresh {
  val Customers = 1500
  val MaintainEvery = 3
  val EventsPerGen = 1000
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Seq("signup", "click", "error", "view", "purchase")
  val NationCols = Seq("n_nationkey", "n_name", "n_regionkey")
  val CustCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val OrdCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def schema(fs: (String, DataType)*) =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  val plan: Seq[Rebuild.TableSpec] = Seq(
    Rebuild.TableSpec("nation", "^nation-(\\d{8})\\.csv$",
      schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      naturalKey = Seq("n_nationkey")),
    Rebuild.TableSpec("customer", "^customer-(\\d{8})\\.csv$",
      schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      naturalKey = Seq("c_custkey"),
      foreignKeys = Seq(("c_nationkey", "nation", "n_nationkey"))),
    Rebuild.TableSpec("orders", "^orders-(\\d{8})\\.csv$",
      schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
        "o_orderpriority" -> StringType),
      naturalKey = Seq("o_orderkey"),
      foreignKeys = Seq(("o_custkey", "customer", "c_custkey"))))

  /** A fixture row as CSV fields (timestamps as `yyyy-MM-dd HH:mm:ss`). */
  def rowStrings(r: Row): Array[String] = r.toSeq.map {
    case t: java.time.LocalDateTime => t.toString.replace('T', ' ') + (if (t.toString.length == 16) ":00" else "")
    case t: java.sql.Timestamp => t.toString.stripSuffix(".0")
    case v => String.valueOf(v)
  }.toArray
}
