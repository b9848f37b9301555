package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.CommandExecutionMode
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The deletion-vector (DV) file contract and its one reader,
  * [[DeletionVectors]]:
  *   - planning a DV-bearing SELECT, UPDATE or DELETE starts no Spark job,
  *     at 1 DV dir and at 40 (past Spark's 32-path parallel-listing
  *     threshold);
  *   - every DV writer's output reads back exactly under the declared
  *     (`__rel` STRING, `__ri` BIGINT) schema;
  *   - a DV file without both columns fails the read, naming the file,
  *     instead of resurrecting the rows it deletes.
  *
  * Lives in graft.sources to plan the DML commands' position probes
  * directly. Owns its SparkSession (the SQL extension is injected at
  * build time), like SqlSurfaceSpec.
  */
class DeletionVectorReaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: String = _
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft_dv_wh").toString
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-dv-reader")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("CREATE NAMESPACE graft.ns")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  private def tableRoot(name: String) = s"$warehouse/ns/$name"
  private def freshRoot(): String =
    Files.createTempDirectory("graft_dv").toString + "/table"

  /** Spark jobs started by `body` on this spec's session. */
  private def jobsDuring(body: => Unit): Int =
    graft.SparkSpecBase.jobsDuring(spark)(body)._2

  /** Plan a statement without running it (DML commands run eagerly
    * through `spark.sql`).
    */
  private def planOnly(sqlText: String): Unit =
    spark.sessionState.executePlan(spark.sessionState.sqlParser.parsePlan(sqlText),
      CommandExecutionMode.SKIP).executedPlan

  private def table(name: String): Map[Int, String] =
    spark.sql(s"SELECT k, v FROM graft.ns.$name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap

  test("planning a DV-bearing SELECT, UPDATE and DELETE starts no Spark job (1 and 40 DV dirs)") {
    Seq(1, 40).foreach { nDirs =>
      val name = s"t$nDirs"
      val root = tableRoot(name)
      spark.sql(s"CREATE TABLE graft.ns.$name (k INT, v STRING)")
      spark.sql(s"INSERT INTO graft.ns.$name VALUES " +
        (1 to 100).map(i => s"($i, 'v$i')").mkString(", "))
      var model = (1 to 100).map(i => i -> s"v$i").toMap
      (1 to nDirs).foreach { i =>
        spark.sql(s"DELETE FROM graft.ns.$name WHERE k = $i")
        model -= i
      }
      def head = SnapshotLog.currentVersion(spark, root).get
      assert(SnapshotLog.tombDirsOf(spark, root, head).size == nDirs,
        s"fixture must carry $nDirs DV dirs")

      val select = s"SELECT k, v FROM graft.ns.$name WHERE k = 77"
      assert(jobsDuring(spark.sql(select).queryExecution.executedPlan) == 0,
        s"planning a point SELECT over $nDirs DV dirs started a job")
      // non-vacuous floor: running the same statement does start jobs
      assert(jobsDuring(spark.sql(select).collect()) > 0,
        "the listener counted no job for a real scan")
      assert(spark.sql(select).collect().map(r => r.getInt(0) -> r.getString(1)).toSeq ==
        Seq(77 -> "v77"))

      // UPDATE: the statement's plan, then the probe its command plans
      // before its first action (live rows of the DV-bearing scan)
      val update = s"UPDATE graft.ns.$name SET v = 'u' WHERE k = 60"
      assert(jobsDuring(planOnly(update)) == 0,
        s"planning an UPDATE over $nDirs DV dirs started a job")
      assert(jobsDuring {
        val v = head
        val base = SnapshotLog.prunedBaseScan(spark, root, v)
        DeletionVectors.liveRows(spark, root, SnapshotLog.tombDirsOf(spark, root, v), base)
          .filter(col("k") === 60).queryExecution.executedPlan
      } == 0, s"planning the UPDATE probe over $nDirs DV dirs started a job")
      spark.sql(update)
      model += 60 -> "u"

      // DELETE: likewise, the statement and the positions it tombstones
      val delete = s"DELETE FROM graft.ns.$name WHERE k = 70"
      assert(jobsDuring(planOnly(delete)) == 0,
        s"planning a DELETE over $nDirs DV dirs started a job")
      assert(jobsDuring {
        SnapshotLog.doomedPositions(spark, root, head, b => b.filter(col("k") === 70))
          .queryExecution.executedPlan
      } == 0, s"planning the DELETE probe over $nDirs DV dirs started a job")
      spark.sql(delete)
      model -= 70

      assert(table(name) == model)
    }
  }

  /** Every DV row of `root`'s head version read under the declared
    * schema: none null, and the same multiset the inferred read gives.
    */
  private def assertReadsBack(root: String, what: String): Unit = {
    val v = SnapshotLog.currentVersion(spark, root).get
    val dirs = SnapshotLog.tombDirsOf(spark, root, v)
    assert(dirs.nonEmpty, s"$what wrote no DV dir")
    val declared = DeletionVectors.read(spark, root, dirs)
    assert(declared.schema == DeletionVectors.Schema)
    assert(declared.filter(col("__rel").isNull || col("__ri").isNull).count() == 0,
      s"$what: null __rel/__ri under the declared schema")
    def pairs(df: DataFrame): Seq[(String, Long)] =
      df.select("__rel", "__ri").collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq.sorted
    val inferred = spark.read.parquet(dirs.map(d => s"$root/$d"): _*)
    assert(pairs(declared).nonEmpty && pairs(declared) == pairs(inferred),
      s"$what: the declared read differs from the files")
  }

  test("every DV writer's output reads back exactly under the declared schema") {
    val session = spark
    import session.implicits._
    def kv(n: Int): DataFrame = (1 to n).map(i => (i, s"v$i")).toDF("k", "v")
    def rows(root: String): Set[(Int, String)] = SnapshotLog.read(spark, root)
      .select("k", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet

    // tombstoneDelete
    val a = freshRoot()
    SnapshotLog.commit(spark, a, kv(20).repartition(2))
    SnapshotLog.tombstoneDelete(spark, a, Seq(3, 4).toDF("k"), Seq("k"))
    assertReadsBack(a, "tombstoneDelete")
    // updateWhere
    SnapshotLog.updateWhere(spark, a, b => b("k") === 5,
      Map("v" -> org.apache.spark.sql.functions.lit("u5")))
    assertReadsBack(a, "updateWhere")
    assert(rows(a) == (1 to 20).filterNot(Set(3, 4)).map(i =>
      i -> (if (i == 5) "u5" else s"v$i")).toSet)

    // SQL DELETE and UPDATE (the lock-free staged paths)
    spark.sql("CREATE TABLE graft.ns.w (k INT, v STRING)")
    spark.sql("INSERT INTO graft.ns.w VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM graft.ns.w WHERE k = 1")
    assertReadsBack(tableRoot("w"), "SQL DELETE")
    spark.sql("UPDATE graft.ns.w SET v = 'z' WHERE k = 2")
    assertReadsBack(tableRoot("w"), "SQL UPDATE")
    assert(table("w") == Map(2 -> "z", 3 -> "c"))

    // merge-on-read lineage (upsertMor): a predicate delete, then a
    // merge whose delete keys write the vector beside the shadow delta
    val m = freshRoot()
    SnapshotLog.upsertMor(spark, m, kv(6), Seq("k"))
    SnapshotLog.tombstoneDeleteWhere(spark, m, b => b("k") === 2)
    assertReadsBack(m, "merge-on-read delete")
    SnapshotLog.mergeMor(spark, m, Seq((1, "m1")).toDF("k", "v"),
      Seq(5).toDF("k"), Seq("k"))
    assertReadsBack(m, "mergeMor delete keys")
    assert(rows(m) == Set(1 -> "m1", 3 -> "v3", 4 -> "v4", 6 -> "v6"))

    // the scoped delete, then the scoped compaction's vector carry: the
    // multi-file leaf p1 packs, the big leaf p2 keeps its vector rows
    val s = freshRoot()
    val big = (1000 until 3000).map(i => (i, f"value_$i%06d", "p2"))
    SnapshotLog.upsertScoped(spark, s,
      (Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p1")) ++ big)
        .toDF("k", "v", "p").repartition(3), Seq("k"), "p")
    SnapshotLog.tombstoneDeleteWhere(spark, s, b => b("k") === 1500 || b("k") === 2)
    assertReadsBack(s, "scoped delete")
    val leafBytes = SnapshotLog.dirsOf(spark, s, SnapshotLog.currentVersion(spark, s).get)
      .filter(_.contains("p2")).flatMap(d => new java.io.File(s, d).listFiles())
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(leafBytes > 0)
    val sc = SnapshotLog.compactSmallFiles(spark, s, targetBytes = leafBytes)
    assert(SnapshotLog.tombDirsOf(spark, s, sc) == Seq(SnapshotLog.tombDirName(sc)),
      "the scoped compaction must carry the kept leaf's vector")
    assertReadsBack(s, "scoped compaction carry")
    assert(SnapshotLog.read(spark, s).count() == 3 + big.size - 2)

    // the flat compaction's vector carry (compactSmallFiles)
    val c = freshRoot()
    val bigFlat = (1000 until 3000).map(i => (i, f"value_$i%06d"))
    SnapshotLog.commit(spark, c, bigFlat.toDF("k", "v").repartition(2))
    SnapshotLog.appendCommit(spark, c, Seq((1, "a")).toDF("k", "v"))
    SnapshotLog.appendCommit(spark, c, Seq((2, "b")).toDF("k", "v"))
    val bigBytes = new java.io.File(c, "data_v00000001").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    SnapshotLog.tombstoneDelete(spark, c, Seq(1, 1500).toDF("k"), Seq("k"))
    val cc = SnapshotLog.compactSmallFiles(spark, c, targetBytes = bigBytes)
    assert(SnapshotLog.tombDirsOf(spark, c, cc) == Seq(SnapshotLog.tombDirName(cc)))
    assertReadsBack(c, "flat compaction carry")

    // the widened-file rewrite's vector carry (rebloomWidened)
    val r = freshRoot()
    Seq(Seq((1, "a"), (9999, "z")), Seq((2, "b"), (9998, "y"))).foreach { rs =>
      SnapshotLog.appendCommit(spark, r, rs.toDF("id", "v").coalesce(1),
        statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    SnapshotLog.widenColumnType(spark, r, "id", org.apache.spark.sql.types.LongType)
    SnapshotLog.appendCommit(spark, r, Seq((0L, "w"), (9996L, "q")).toDF("id", "v")
      .coalesce(1), statsCols = Seq("id"), bloomCols = Seq("id"))
    // one delete in a narrow file (folds) and one in the wide file (carries)
    SnapshotLog.tombstoneDelete(spark, r, Seq(9999L, 9996L).toDF("id"), Seq("id"))
    val rv = SnapshotLog.rebloomWidened(spark, r)
    assert(SnapshotLog.tombDirsOf(spark, r, rv) == Seq(SnapshotLog.tombDirName(rv)))
    assertReadsBack(r, "rebloomWidened carry")
    assert(SnapshotLog.read(spark, r).select("id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 9998L))
  }

  test("a DV file lacking __ri fails the read, naming the file, instead of resurrecting rows") {
    val session = spark
    import session.implicits._
    val root = freshRoot()
    SnapshotLog.commit(spark, root, (1 to 10).map(i => (i, s"v$i")).toDF("k", "v"))
    SnapshotLog.tombstoneDelete(spark, root, Seq(3).toDF("k"), Seq("k"))
    val v = SnapshotLog.currentVersion(spark, root).get
    val dir = new java.io.File(root, SnapshotLog.tombDirsOf(spark, root, v).head)
    // a hand-written file with __rel but no __ri, pointing at k = 4's file
    val rel = DeletionVectors.positions(SnapshotLog.prunedBaseScan(spark, root, v))
      .filter(col("k") === 4).select("__rel").as[String].head()
    val outDir = Files.createTempDirectory("graft_dv_bad").toString + "/out"
    Seq(rel).toDF("__rel").coalesce(1).write.parquet(outDir)
    val bad = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val planted = new java.io.File(dir, "part-99999-handwritten.parquet")
    Files.copy(bad.toPath, planted.toPath)
    SnapshotLog.planCacheClear()
    val e = intercept[IllegalStateException](SnapshotLog.read(spark, root).collect())
    assert(e.getMessage.contains(planted.getName) && e.getMessage.contains("__ri"),
      e.getMessage)
    // the cache must not have admitted the refused dir: still refused
    intercept[IllegalStateException](SnapshotLog.read(spark, root).collect())
    // a wrongly typed __ri is refused the same way
    Files.delete(planted.toPath)
    Seq((rel, 0)).toDF("__rel", "__ri").coalesce(1).write.mode("overwrite").parquet(outDir)
    val badType = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(badType.toPath, planted.toPath)
    SnapshotLog.planCacheClear()
    val e2 = intercept[IllegalStateException](SnapshotLog.read(spark, root).collect())
    assert(e2.getMessage.contains(planted.getName), e2.getMessage)
  }

  test("a table re-created at the same path never reads the old DV listing") {
    val session = spark
    import session.implicits._
    val root = freshRoot()
    def build(keys: Seq[Int], delete: Int): Unit = {
      SnapshotLog.commit(spark, root, keys.map(i => (i, s"v$i")).toDF("k", "v"))
      SnapshotLog.tombstoneDelete(spark, root, Seq(delete).toDF("k"), Seq("k"))
    }
    def keys(): Set[Int] = SnapshotLog.read(spark, root).select("k").as[Int].collect().toSet
    build(1 to 5, 2)
    assert(keys() == Set(1, 3, 4, 5))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    // same version numbers and DV dir names, different files
    build(11 to 15, 12)
    assert(keys() == Set(11, 13, 14, 15))
    // with the planning cache off the reader lists and checks directly
    spark.conf.set("spark.graft.plan.cache", "false")
    try assert(keys() == Set(11, 13, 14, 15))
    finally spark.conf.unset("spark.graft.plan.cache")
  }
}
