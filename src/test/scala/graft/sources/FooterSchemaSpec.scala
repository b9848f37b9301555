package graft.sources

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.ClassicShim

/** The stats writer's schema probe: `ClassicShim.parquetFooterSchema`
  * reads a commit's schema from its first file's footer on the driver.
  * It must equal what `spark.read.parquet(dir).schema` infers, for every
  * type the stats sidecar accepts, and start no Spark job.
  */
class FooterSchemaSpec extends graft.SparkSpecBase {
  import spark.implicits._

  test("footer schema equals the inferred schema for every stats type, with no job") {
    val dd = new Path(Files.createTempDirectory("graft_footer_schema").toString, "v1")
    val rows = Seq(
      (1, 1.5, "a", Timestamp.valueOf("2025-01-01 10:00:00"),
        LocalDateTime.parse("2025-01-01T10:00:00"), Date.valueOf("2025-01-01"), Seq(1, 2)),
      (2, Double.NaN, null, null, null, null, null),
      (3, 0.0, "c", Timestamp.valueOf("2025-03-01 00:00:00"),
        LocalDateTime.parse("2025-03-01T00:00:00"), Date.valueOf("2025-03-01"), Seq.empty[Int]))
    val df = rows.toDF("id", "x", "s", "ts", "ntz", "d", "tags")
      .withColumn("n", lit(null).cast("long"))   // numeric, all null
    SnapshotLog.writeDataDir(spark, df.repartition(2), dd, bloomCols = Nil)
    val first = new java.io.File(dd.toString).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).min

    val (got, jobs) = jobsDuring(ClassicShim.parquetFooterSchema(spark, first))

    assert(jobs == 0, s"$jobs jobs")
    assert(got == spark.read.parquet(dd.toString).schema)
    assert(got.fieldNames.toSeq == Seq("id", "x", "s", "ts", "ntz", "d", "tags", "n"))
    // every stats type the sidecar accepts is accepted on this schema
    val fields = got.fields.map(f => f.name -> f.dataType).toMap
    assert(SnapshotLog.footerSpanRdd(spark, Seq(first),
      Seq("id", "x", "s", "ts", "ntz", "d", "n"), fields).isDefined)
  }
}
