package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.sources.{DeletionVectors, SnapshotLog}

/** Each row-level DML verb has one body: the claimed `tombstoneDelete`,
  * `tombstoneDeleteWhere` and `updateWhere` run the same stage and
  * publish as `tombstoneDeleteOcc`, `tombstoneDeleteWhereOcc` and
  * `updateWhereOcc`, only with the table claim held across the scan.
  *
  * Each pair runs on twin tables (one table, then a byte copy of its
  * directory, so data file names and thus DV keys agree) and must give
  * the same rows, DV positions, manifest kind and dir lists, and the
  * same change rows (key- and row-id-based) with the change feed on.
  *
  * The Spark jobs each verb starts are pinned against the figures the
  * same fixture gave before the claimed verbs were folded into the OCC
  * bodies: the claimed verbs must not start more, and the OCC verbs,
  * which then collected the touched file keys of every staged vector
  * eagerly, must start fewer now that the overlap check reads them only
  * when a vector landed during the stage.
  */
class RowDmlTwinSpec extends SparkSpecBase {
  import spark.implicits._

  /** Jobs per verb on this fixture before the fold (claimed, OCC). */
  private val before: Map[String, (Int, Int)] = Map(
    "tombstoneDelete" -> (5, 7),
    "tombstoneDeleteWhere" -> (3, 5),
    "updateWhere" -> (8, 10))

  /** Two byte-identical tables: two single-file appends with skipping
    * stats on `k`, row tracking on, and a prior deletion vector on
    * k = 150, so the stage's dedup against prior vectors runs.
    */
  private def twins(): (String, String) = {
    val dir = Files.createTempDirectory("graft_twin")
    val a = dir.resolve("a").toString
    SnapshotLog.appendCommit(spark, a,
      (0 until 100).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1),
      statsCols = Seq("k"))
    SnapshotLog.appendCommit(spark, a,
      (100 until 200).map(k => (k, s"b$k")).toDF("k", "v").coalesce(1),
      statsCols = Seq("k"))
    SnapshotLog.enableRowTracking(spark, a)
    SnapshotLog.tombstoneDeleteOcc(spark, a, Seq(150).toDF("k"), Seq("k"))
    val b = dir.resolve("b")
    val src = dir.resolve("a")
    val walk = Files.walk(src)
    try walk.forEach { (p: JPath) =>
      Files.copy(p, b.resolve(src.relativize(p).toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    (a, b.toString)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Everything a reader or a change consumer can see of `root`'s head
    * since `from`.
    */
  private def state(root: String, from: Long): Map[String, Any] = {
    val head = SnapshotLog.currentVersion(spark, root).get
    val tombs = SnapshotLog.tombDirsOf(spark, root, head)
    Map(
      "head" -> head,
      "rows" -> sorted(SnapshotLog.read(spark, root)),
      "rowIds" -> sorted(SnapshotLog.readWithRowIds(spark, root)),
      "dvPositions" -> sorted(DeletionVectors.read(spark, root, tombs)),
      "kind" -> SnapshotLog.manifestKind(spark, root, head),
      "dirs" -> SnapshotLog.dirsOf(spark, root, head),
      "tombDirs" -> tombs,
      "changes" -> sorted(SnapshotLog.changesBetween(spark, root, from, head, Seq("k"))),
      "changesByRowId" -> sorted(SnapshotLog.changesByRowId(spark, root, from, head)))
  }

  /** Runs `claimed` on one twin and `occ` on the other, asserts they
    * leave the same state, and returns their job counts.
    */
  private def twinRun(claimed: String => Long, occ: String => Long): (Int, Int) = {
    val (a, b) = twins()
    val from = SnapshotLog.currentVersion(spark, a).get
    spark.conf.set("graft.changeFeed.enabled", "true")
    try {
      val (va, jobsClaimed) = jobsDuring(claimed(a))
      val (vb, jobsOcc) = jobsDuring(occ(b))
      assert(va == from + 1 && vb == from + 1, s"versions $va, $vb after v$from")
      val (sa, sb) = (state(a, from), state(b, from))
      sa.keys.foreach(k => assert(sa(k) == sb(k), s"$k differs"))
      assert(sa("dvPositions").asInstanceOf[Seq[String]].nonEmpty)
      assert(sa("changes").asInstanceOf[Seq[String]].nonEmpty)
      (jobsClaimed, jobsOcc)
    } finally spark.conf.unset("graft.changeFeed.enabled")
  }

  private def checkJobs(verb: String, jobs: (Int, Int)): Unit = {
    val (claimed, occ) = jobs
    val (claimedBefore, occBefore) = before(verb)
    info(s"$verb jobs: claimed $claimed (before $claimedBefore), " +
      s"OCC $occ (before $occBefore)")
    assert(claimed > 0 && occ > 0, "the listener counted no job")
    assert(claimed <= claimedBefore, s"claimed $verb: $claimed > $claimedBefore jobs")
    assert(occ < occBefore, s"OCC $verb: $occ >= $occBefore jobs")
    assert(claimed == occ, s"claimed $verb ran $claimed jobs, its OCC form $occ")
  }

  test("tombstoneDelete and tombstoneDeleteOcc: one body, same result and jobs") {
    val keys = Seq(5, 150, 160).toDF("k")
    checkJobs("tombstoneDelete", twinRun(
      SnapshotLog.tombstoneDelete(spark, _, keys, Seq("k")),
      SnapshotLog.tombstoneDeleteOcc(spark, _, keys, Seq("k"))))
  }

  test("tombstoneDeleteWhere and tombstoneDeleteWhereOcc: one body, same result and jobs") {
    checkJobs("tombstoneDeleteWhere", twinRun(
      SnapshotLog.tombstoneDeleteWhere(spark, _, b => b("k") < 3 || b("k") === 150),
      SnapshotLog.tombstoneDeleteWhereOcc(spark, _, b => b("k") < 3 || b("k") === 150)))
  }

  test("updateWhere and updateWhereOcc: one body, same result and jobs") {
    val cond = (b: DataFrame) => b("k") === 7 || b("k") === 120 || b("k") === 150
    checkJobs("updateWhere", twinRun(
      SnapshotLog.updateWhere(spark, _, cond, Map("v" -> lit("u"))),
      SnapshotLog.updateWhereOcc(spark, _, cond, _ => Map("v" -> lit("u")))))
  }

  test("an update matching nothing is a no-op in both forms") {
    val (a, b) = twins()
    val head = SnapshotLog.currentVersion(spark, a).get
    val none = (df: DataFrame) => df("k") === 1000
    assert(SnapshotLog.updateWhere(spark, a, none, Map("v" -> lit("u"))) == head)
    assert(SnapshotLog.updateWhereOcc(spark, b, none, _ => Map("v" -> lit("u"))) == head)
    Seq(a, b).foreach { r =>
      assert(SnapshotLog.currentVersion(spark, r).contains(head))
      assert(!new java.io.File(r).listFiles().exists(f =>
        f.getName.startsWith("tomb_u") || f.getName.startsWith("data_u")))
    }
  }
}
