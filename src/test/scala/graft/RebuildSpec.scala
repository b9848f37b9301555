package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types._
import graft.sources.{Coerce, Rebuild}
import graft.sources.Rebuild.TableSpec

/** End-to-end rebuild orchestration: generation selection → coercion →
  * dependency-ordered build → dedup → FK checks → all-or-nothing snapshot,
  * with one staged write per table and every count riding that write.
  */
class RebuildSpec extends SparkSpecBase {

  private val deptSchema = StructType(Seq(
    StructField("dept_id", IntegerType), StructField("dept_name", StringType)))
  private val courseSchema = StructType(Seq(
    StructField("course_id", IntegerType), StructField("dept_id", IntegerType),
    StructField("credits", DoubleType)))

  private def writeInputs(dir: String, courseRows: Seq[String]): Unit = {
    Files.writeString(Paths.get(s"$dir/DEPTS-20250101.csv"),
      "dept_id,dept_name\n10,math\n20,physics\n")
    Files.writeString(Paths.get(s"$dir/DEPTS-20250301.csv"),
      "dept_id,dept_name\n10, math \n20,physics\n30,biology\n")
    Files.writeString(Paths.get(s"$dir/COURSES-20250301.csv"),
      ("course_id,dept_id,credits" +: courseRows).mkString("", "\n", "\n"))
  }

  private def plan = Seq(
    TableSpec("depts", raw"DEPTS-(\d{8})\.csv", deptSchema,
      rules = Seq(Coerce.Rule("dept_name", Seq(Coerce.Trim, Coerce.Upper), "string")),
      naturalKey = Seq("dept_id")),
    TableSpec("courses", raw"COURSES-(\d{8})\.csv", courseSchema,
      naturalKey = Seq("course_id"),
      foreignKeys = Seq(("dept_id", "depts", "dept_id"))))

  test("clean rebuild: latest generation, coercion, dedup, FK pass, snapshot written") {
    val dir = Files.createTempDirectory("graft_rebuild").toString
    writeInputs(dir, Seq("1,10,3.0", "1,10,3.0", "2,30,4.5", "3,20,oops"))
    val out = s"$dir/out"
    val reports = Rebuild.run(spark, dir, out, plan).map(r => r.table -> r).toMap

    // depts: picked the 20250301 generation (3 rows incl. biology), cleaned
    assert(reports("depts").rowsOut == 3)
    val depts = spark.read.parquet(s"$out/depts").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(depts(10) == "MATH")           // trimmed + uppercased
    assert(depts.contains(30))            // from the newer generation

    // courses: 4 in, 1 bad (credits 'oops'), 1 dup (course 1) -> 2 out
    val c = reports("courses")
    assert(c.rowsIn == 4 && c.badRows == 1 && c.dupRows == 1 && c.rowsOut == 2)
    assert(c.fkViolations("dept_id->depts.dept_id") == 0)
    assert(spark.read.parquet(s"$out/courses").count() == 2)
  }

  test("dirty rebuild: FK violation blocks ALL snapshot writes") {
    val dir = Files.createTempDirectory("graft_rebuild_bad").toString
    writeInputs(dir, Seq("1,10,3.0", "2,99,4.0"))  // dept 99 does not exist
    val out = s"$dir/out"
    val reports = Rebuild.run(spark, dir, out, plan).map(r => r.table -> r).toMap
    assert(reports("courses").fkViolations("dept_id->depts.dept_id") == 1)
    assert(!Files.exists(Paths.get(s"$out/courses")), "dirty build must not write")
    assert(!Files.exists(Paths.get(s"$out/depts")), "all-or-nothing: no partial snapshot")
  }

  test("missing generation aborts the rebuild") {
    val dir = Files.createTempDirectory("graft_rebuild_missing").toString
    Files.writeString(Paths.get(s"$dir/DEPTS-20250101.csv"),
      "dept_id,dept_name\n10,math\n")
    intercept[IllegalStateException] {
      Rebuild.run(spark, dir, s"$dir/out", plan)
    }
  }

  /** Every file under `dir` (relative path -> size); empty if it is absent. */
  private def fileSizes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => root.relativize(p).toString -> Files.size(p)).toMap
      finally walk.close()
    }
  }

  private def assertNoLeftovers(out: String): Unit =
    Seq("_staging", "_bak").foreach(s =>
      assert(!Files.exists(Paths.get(out + s)), s"$out$s left behind"))

  test("each table is one staged write: jobs bounded by 3 x (tables + FK checks)") {
    val dir = Files.createTempDirectory("graft_rebuild_jobs").toString
    writeInputs(dir, Seq("1,10,3.0", "1,10,3.0", "2,30,4.5", "3,20,oops"))
    val (reports, jobs) = jobsDuring(Rebuild.run(spark, dir, s"$dir/out", plan))
    val fkChecks = plan.map(_.foreignKeys.size).sum
    val what = s"$jobs jobs for ${plan.size} tables and $fkChecks FK checks"
    info(what)
    assert(jobs > 0 && jobs <= 3 * (plan.size + fkChecks), what)
    // the counts still come out exact
    val c = reports.find(_.table == "courses").get
    assert((c.rowsIn, c.badRows, c.dupRows, c.rowsOut) == (4L, 1L, 1L, 2L))
    assertNoLeftovers(s"$dir/out")
  }

  test("dirty generation over a clean snapshot leaves the snapshot untouched") {
    val dir = Files.createTempDirectory("graft_rebuild_keep").toString
    writeInputs(dir, Seq("1,10,3.0", "2,30,4.5"))
    val out = s"$dir/out"
    Rebuild.run(spark, dir, out, plan)
    val before = fileSizes(out)
    assert(before.keys.exists(_.startsWith("courses/")))
    Files.writeString(Paths.get(s"$dir/COURSES-20250401.csv"),
      "course_id,dept_id,credits\n1,10,3.0\n2,99,4.0\n")  // dept 99 does not exist
    val reports = Rebuild.run(spark, dir, out, plan)
    assert(reports.find(_.table == "courses").get.fkViolations.values.sum == 1)
    assert(fileSizes(out) == before)
    assertNoLeftovers(out)
  }

  test("naturalKey collapses rows differing outside the key; no key keeps exact duplicates") {
    val dir = Files.createTempDirectory("graft_rebuild_dedup").toString
    Files.writeString(Paths.get(s"$dir/DEPTS-20250101.csv"),
      "dept_id,dept_name\n10,math\n10,math\n20,physics\n")
    Files.writeString(Paths.get(s"$dir/COURSES-20250101.csv"),
      "course_id,dept_id,credits\n1,10,3.0\n1,10,4.0\n1,20,3.0\n2,20,4.5\n")
    val dedupPlan = Seq(
      TableSpec("depts", raw"DEPTS-(\d{8})\.csv", deptSchema),
      TableSpec("courses", raw"COURSES-(\d{8})\.csv", courseSchema,
        naturalKey = Seq("course_id")))
    val out = s"$dir/out"
    val reports = Rebuild.run(spark, dir, out, dedupPlan).map(r => r.table -> r).toMap
    val d = reports("depts")
    assert((d.rowsIn, d.rowsOut, d.dupRows) == (3L, 3L, 0L))
    assert(spark.read.parquet(s"$out/depts").count() == 3)
    val c = reports("courses")
    assert((c.rowsIn, c.rowsOut, c.dupRows) == (4L, 2L, 2L))
    assert(spark.read.parquet(s"$out/courses").select("course_id").distinct().count() == 2)
  }

  test("a CSV header that does not match the schema throws and leaves outDir unchanged") {
    val dir = Files.createTempDirectory("graft_rebuild_header").toString
    writeInputs(dir, Seq("1,10,3.0"))
    val out = s"$dir/out"
    Rebuild.run(spark, dir, out, plan)
    val before = fileSizes(out)
    Files.writeString(Paths.get(s"$dir/COURSES-20250401.csv"),
      "course_id,credits,dept_id\n1,3.0,10\n")  // reordered export
    intercept[Exception] {
      Rebuild.run(spark, dir, out, plan)
    }
    assert(fileSizes(out) == before)
    assertNoLeftovers(out)
  }

  test("a header-only generation builds empty tables with all counts 0") {
    val dir = Files.createTempDirectory("graft_rebuild_empty").toString
    Files.writeString(Paths.get(s"$dir/DEPTS-20250101.csv"), "dept_id,dept_name\n")
    Files.writeString(Paths.get(s"$dir/COURSES-20250101.csv"), "course_id,dept_id,credits\n")
    val out = s"$dir/out"
    Rebuild.run(spark, dir, out, plan).foreach { r =>
      assert((r.rowsIn, r.badRows, r.rowsOut, r.dupRows) == (0L, 0L, 0L, 0L), r.table)
      assert(r.fkViolations.values.forall(_ == 0L), r.table)
    }
    assert(spark.read.parquet(s"$out/depts").count() == 0)
    assert(spark.read.parquet(s"$out/courses").count() == 0)
    assertNoLeftovers(out)
  }

  test("a generation whose rows are all bad counts every row as bad") {
    val dir = Files.createTempDirectory("graft_rebuild_allbad").toString
    writeInputs(dir, Seq("1,10,oops", "2,20,n/a", "2,20,n/a"))
    val c = Rebuild.run(spark, dir, s"$dir/out", plan).find(_.table == "courses").get
    assert((c.rowsIn, c.badRows, c.rowsOut, c.dupRows) == (3L, 3L, 0L, 0L))
    assert(spark.read.parquet(s"$dir/out/courses").count() == 0)
  }
}
