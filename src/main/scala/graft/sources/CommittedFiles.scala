package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** The one reader of committed, immutable parquet dirs: a table's
  * deletion-vector dirs ([[DeletionVectors]]) and an ANN index's
  * assignment and tombstone slices ([[graft.engine.AnnIndex]]). Such a
  * dir never changes once its pointer (manifest or index MODEL)
  * publishes it, so
  *   - [[checked]] lists it and checks every file's footer once, and the
  *     planning cache keeps the result ([[SnapshotLog.committedDir]]);
  *   - [[read]] declares the schema those footers were checked against,
  *     so planning starts no schema-inference job;
  *   - [[read]] plans over the explicit file list, so planning starts no
  *     listing job, and its index prunes `k=v` partition dirs itself
  *     (Spark's file-source strategy does not re-apply partition-only
  *     predicates above the scan).
  * Under a declared schema a column missing from a file reads as null,
  * so a caller's check must refuse such a file rather than let it
  * through; [[footerColumns]] is that check for Spark-written files.
  */
private[graft] object CommittedFiles {

  /** A committed dir's data files and the schema their footers were
    * checked against.
    */
  final case class Checked(files: Seq[FileStatus], schema: StructType)

  /** `dir`'s data files with the schema `check` derives from them (it
    * throws to refuse the dir), served from the planning cache: listed
    * and checked once per dir, not on every plan.
    */
  def checked(spark: SparkSession, dir: Path)
             (check: Seq[FileStatus] => StructType): Checked =
    SnapshotLog.committedDir(spark, dir) {
      val files = dataFiles(spark, dir)
      Checked(files, check(files))
    }

  /** The rows of `files` under `dataSchema`, plus the `k=v` partition
    * columns of `partitionSchema` read from the files' dir names —
    * planned without a job.
    */
  def read(spark: SparkSession, files: Seq[FileStatus], dataSchema: StructType,
           partitionSchema: StructType = StructType(Nil)): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    spark.baseRelationToDataFrame(HadoopFsRelation(
      location = new ListedFileIndex(files, partitionSchema,
        spark.sessionState.conf.sessionLocalTimeZone),
      partitionSchema = partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark))
  }

  /** The `required` columns as every file's footer stores them, read on
    * the driver (no job): each file must carry each column (matched
    * case-insensitively) at the type the first file gives it. A file
    * that does not, or a dir with no file, fails naming `what` and the
    * file.
    */
  def footerColumns(spark: SparkSession, files: Seq[FileStatus],
                    required: Seq[String], what: String): StructType = {
    def refuse(file: Any, why: String): Nothing = throw new IllegalStateException(
      s"$what file $file $why — refusing to read it: under the declared " +
      "schema a missing column reads as null")
    val footers = files.map { st =>
      val schema =
        try org.apache.spark.sql.graftshim.ClassicShim
          .parquetFooterSchema(spark, st.getPath.toString)
        catch { case e: Exception => refuse(st.getPath, s"has no readable parquet footer ($e)") }
      st.getPath -> required.map(c => schema.find(_.name.equalsIgnoreCase(c))
        .getOrElse(refuse(st.getPath, s"lacks column $c")))
    }
    val first = footers.headOption.map(_._2).getOrElse(
      throw new IllegalStateException(s"$what dir holds no data file"))
    footers.foreach { case (p, fields) =>
      fields.zip(first).foreach { case (f, f0) =>
        if (f.dataType != f0.dataType)
          refuse(p, s"stores column ${f.name} as ${f.dataType.simpleString}, " +
            s"not ${f0.dataType.simpleString}")
      }
    }
    StructType(first.map(_.copy(nullable = true)))
  }

  /** `dir`'s data files, recursing through partition dirs, sorted by
    * path. Hidden names are skipped as Spark's own listing skips them:
    * files and dirs starting with `.`, files starting with `_`, and
    * dirs starting with `_` unless they are `k=v` dirs.
    */
  private def dataFiles(spark: SparkSession, dir: Path): Seq[FileStatus] = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(d: Path): Seq[FileStatus] = fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(".")) Nil
      else if (st.isDirectory) { if (n.startsWith("_") && !n.contains("=")) Nil else walk(st.getPath) }
      else if (n.startsWith("_")) Nil
      else Seq(st)
    }
    walk(dir).sortBy(_.getPath.toString)
  }

  /** A file index over a fixed file list: no listing. Each file's
    * partition values come from its `k=v` ancestor dirs, and
    * [[listFiles]] keeps only the partitions the partition filters
    * accept.
    */
  private class ListedFileIndex(files: Seq[FileStatus], override val partitionSchema: StructType,
                                zone: String)
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.datasources.PartitionDirectory

    private val partitions: Seq[(InternalRow, Seq[FileStatus])] =
      if (partitionSchema.isEmpty) Seq(InternalRow.empty -> files)
      else files.groupBy(st => partitionValues(st.getPath)).toSeq
        .sortBy(_._2.head.getPath.toString)
        .map { case (vs, fs) => InternalRow.fromSeq(vs) -> fs }

    private def partitionValues(file: Path): Seq[Any] = {
      val dirs = Iterator.iterate(file.getParent)(_.getParent)
        .takeWhile(_ != null).map(_.getName).toSeq
      partitionSchema.fields.toSeq.map { case StructField(name, dt, _, _) =>
        val raw = dirs.collectFirst { case d if d.startsWith(name + "=") => d.drop(name.length + 1) }
          .getOrElse(throw new IllegalStateException(
            s"file $file is under no $name=… partition dir"))
        if (raw == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else Cast(Literal(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(raw)), dt, Some(zone)).eval()
      }
    }

    override def rootPaths: Seq[Path] = files.map(_.getPath.getParent).distinct
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val kept =
        if (partitionFilters.isEmpty) partitions
        else {
          val accept = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
          partitions.filter { case (vs, _) => accept.eval(vs) }
        }
      kept.map { case (vs, fs) => PartitionDirectory(vs, fs.toArray) }
    }
  }
}
