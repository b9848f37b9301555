package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint over reads of committed, immutable files: they go
  * through the committed-file reader (`graft.sources.CommittedFiles`).
  *   - Every read of table deletion-vector (DV) files goes through
  *     `graft.sources.DeletionVectors`, its DV caller. An ad-hoc
  *     `spark.read.parquet(<tomb dirs>)` declares no schema and lists
  *     its paths itself, so it brings back the schema-inference job
  *     (and, past 32 DV dirs, the parallel listing job) on every plan
  *     of a DV-bearing statement — and it skips the reader's footer
  *     check. A DataFrameReader chain (`x.read` … `.parquet(…)` /
  *     `.load(…)` …, up to the end of the method chain) counts as a DV
  *     read when the paths it reads name a tomb dir or the chain names
  *     a DV column (`__rel`, `__ri`).
  *   - `AnnIndex.scala` holds no DataFrameReader chain at all: table
  *     reads go through `SnapshotLog`, and the index's assignment and
  *     tombstone slices through the committed-file reader, so a query
  *     plans its slices without a job.
  */
class DeletionVectorLintSpec extends AnyFunSuite {

  private val Reader = "DeletionVectors.scala"
  private val Terminals = "parquet|load|json|csv|orc|text|textFile|table|jdbc"
  private val ReadStart =
    ("""\.read\s*\.\s*(?=(schema|option|options|format|""" + Terminals + """)\b)""").r
  private val Terminal = ("""\b(""" + Terminals + """)\s*\(""").r
  private val Continues = """\A\s*\.\s*[A-Za-z_]\w*""".r
  private val TombPath = """(?i)tomb""".r
  private val DvColumn = """__rel\b|__ri\b""".r

  /** Index just past the paren that closes the one opened at `open`. */
  private def closing(src: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < src.length) {
      src(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    src.length
  }

  /** Each DataFrameReader chain in `src` as (line, paths, text): from
    * `.read` through its terminal call (whose arguments are the paths)
    * and every chained call after it.
    */
  private def readerChains(src: String): Seq[(Int, String, String)] =
    ReadStart.findAllMatchIn(src).flatMap { m =>
      Terminal.findFirstMatchIn(src.substring(m.start)).map { t =>
        val open = m.start + t.end - 1
        var end = closing(src, open)
        val paths = src.substring(open, end)
        var more = true
        while (more) Continues.findFirstMatchIn(src.substring(end)) match {
          case Some(c) =>
            end += c.end
            if (end < src.length && src(end) == '(') end = closing(src, end)
          case None => more = false
        }
        (src.substring(0, m.start).count(_ == '\n') + 1, paths, src.substring(m.start, end))
      }
    }.toSeq

  private def dvReads(src: String): Seq[(Int, String)] =
    readerChains(src).collect { case (line, paths, text)
      if TombPath.findFirstIn(paths).nonEmpty || DvColumn.findFirstIn(text).nonEmpty =>
        (line, text)
    }

  private val mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
  }

  test("the detector flags the ad-hoc DV read shapes and passes data reads") {
    val flagged = Seq(
      "spark.read.parquet(tombs.map(d => new Path(rootPath, d).toString): _*)",
      "val dv = spark.read.parquet(\n  newTombs.map(t => new Path(rootPath, t).toString): _*)",
      "spark.read\n  .parquet(new Path(rootPath, staging).toString)\n  .select(\"__rel\").distinct()",
      "s.read.schema(schema).parquet(prior: _*)\n  .select(col(\"__rel\"), col(\"__ri\"))",
      "spark.read.format(\"parquet\").load(s\"$root/tomb_v00000002\")")
    flagged.foreach(s => assert(dvReads(s).size == 1, s"not flagged:\n$s"))
    val clean = Seq(
      "spark.read.schema(physicalSchema(st)).parquet(paths: _*)",
      "DeletionVectors.positions(\n  spark.read.schema(declared).parquet(paths: _*))\n  .join(tombRows, Seq(\"k\"))",
      "SnapshotLog.read(spark, root).select(\"tomb\")",
      "spark.read.parquet(d.toString).withColumn(\"__tomb_v\", lit(v))",
      "import org.apache.spark.sql.connector.read.ScanBuilder")
    clean.foreach(s => assert(dvReads(s).isEmpty, s"wrongly flagged:\n$s"))
  }

  test("no DV read in src/main bypasses DeletionVectors") {
    val chains = mainSources.map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    // non-vacuous: the scan sees the tree and parses its reader chains
    assert(chains.size > 50 && chains.map(c => readerChains(c._2).size).sum > 50,
      "the lint found too few sources or reader chains to mean anything")
    assert(mainSources.exists(_.getFileName.toString == Reader),
      s"the DV reader $Reader is missing")
    val bypasses = chains.filterNot(_._1.getFileName.toString == Reader)
      .flatMap { case (p, src) => dvReads(src).map { case (line, text) =>
        s"$p:$line: ${text.replaceAll("\\s+", " ").take(160)}" } }
    assert(bypasses.isEmpty,
      "DV files read outside DeletionVectors — use DeletionVectors.read:\n" +
        bypasses.mkString("\n"))
  }

  test("AnnIndex.scala reads no file through a DataFrameReader chain") {
    // negative control: the per-query slice reads AnnIndex used to plan
    val flagged = Seq(
      "spark.read.option(\"basePath\", d.toString).parquet(d.toString)\n" +
        "  .withColumn(\"__slice_v\", lit(sliceVersion(d.getName)))",
      "spark.read.parquet(d.toString)\n  .withColumn(\"__tomb_v\", lit(sliceVersion(d.getName)))")
    flagged.foreach(s => assert(readerChains(s).size == 1, s"not flagged:\n$s"))
    val clean = Seq(
      "CommittedFiles.read(spark, c.files, c.schema, parts)",
      "SnapshotLog.readVersion(spark, root, cur).filter(p).select(col(m.idCol))")
    clean.foreach(s => assert(readerChains(s).isEmpty, s"wrongly flagged:\n$s"))
    val ann = mainSources.filter(_.getFileName.toString == "AnnIndex.scala")
    assert(ann.size == 1, s"expected one AnnIndex.scala, found $ann")
    val chains = readerChains(new String(Files.readAllBytes(ann.head), "UTF-8"))
    assert(chains.isEmpty, "AnnIndex.scala reads files outside SnapshotLog and " +
      "CommittedFiles:\n" + chains.map { case (line, _, text) =>
        s"${ann.head}:$line: ${text.replaceAll("\\s+", " ").take(160)}" }.mkString("\n"))
  }
}
