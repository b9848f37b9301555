package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The deletion-vector (DV) files and their one reader.
  *
  * A DV dir (`tomb_vNNNNNNNN/`, or a `tomb_u…` dir staged before its
  * commit) holds parquet files of two columns: `__rel` STRING, the last
  * two segments of a data file's path (`<leaf dir>/<file>`), and `__ri`
  * BIGINT, a row index inside that file. Readers anti-join their scans
  * on the pair. Every read of DV files goes through [[read]], a caller
  * of the committed-file reader ([[CommittedFiles]]), which
  *   - declares that schema, so planning starts no schema-inference job;
  *   - plans over an explicit, unpartitioned file list (listed and
  *     checked once per DV dir, then served from the planning cache), so
  *     planning starts no listing job however many DV dirs a version
  *     carries.
  * The footer check is this file's own: it refuses any file whose
  * footer lacks either column at its parquet type. Under a declared
  * schema parquet returns nulls for a missing column, and a null `__ri`
  * matches nothing in the anti-join: deleted rows would come back
  * silently.
  */
private[graft] object DeletionVectors {

  val Schema: StructType = StructType(Seq(
    StructField("__rel", StringType), StructField("__ri", LongType)))

  /** The rows of the DV dirs `dirs` (names relative to `root`, or
    * absolute paths for a clone's carried dirs), planned without a job.
    */
  def read(spark: SparkSession, root: String, dirs: Seq[String]): DataFrame = {
    val rootPath = new Path(root.replaceAll("/+$", ""))
    val files = dirs.distinct.flatMap(d =>
      CommittedFiles.checked(spark, new Path(rootPath, d))(checkFooters(spark, _)).files)
    CommittedFiles.read(spark, files, Schema)
  }

  /** `base` (a fresh file-source scan, so `_metadata` resolves) with
    * each row's DV key attached as `__rel` and `__ri`.
    */
  def positions(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring_index}
    base
      .withColumn("__rel", substring_index(col("_metadata.file_path"), "/", -2))
      .withColumn("__ri", col("_metadata.row_index"))
  }

  /** A data file's DV key, `__rel`: the last two segments of its path,
    * the value [[positions]] derives from `_metadata.file_path`. Every
    * sidecar and carry that names single files keys them the same way.
    */
  def relKey(p: Path): String = p.getParent.getName + "/" + p.getName

  /** [[relKey]] of a manifest FILE entry (`<dir>/<file>.parquet`). */
  def relKey(entry: String): String = entry.split('/').takeRight(2).mkString("/")

  /** [[positions]] of `base` minus the rows the DV dirs `dirs` delete. */
  def liveRows(spark: SparkSession, root: String, dirs: Seq[String],
               base: DataFrame): DataFrame =
    if (dirs.isEmpty) positions(base)
    else positions(base).join(read(spark, root, dirs), Seq("__rel", "__ri"),
      "left_anti")

  /** Checks each DV file's footer against [[Schema]]. */
  private def checkFooters(spark: SparkSession, files: Seq[FileStatus]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    files.foreach(st => checkFooter(conf, st))
    Schema
  }

  private def checkFooter(conf: org.apache.hadoop.conf.Configuration,
                          st: FileStatus): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LT, Type}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"deletion-vector file ${st.getPath} $why — refusing to read it: " +
      "under the declared (__rel STRING, __ri BIGINT) schema a missing " +
      "column reads as null and the rows it deletes would come back")
    val schema =
      try {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try reader.getFooter.getFileMetaData.getSchema finally reader.close()
      } catch { case e: Exception => refuse(s"has no readable parquet footer ($e)") }
    def expect(name: String, prim: PrimitiveTypeName, ok: LT => Boolean): Unit = {
      if (!schema.containsField(name)) refuse(s"lacks column $name")
      val t = schema.getType(schema.getFieldIndex(name))
      if (!t.isPrimitive || t.isRepetition(Type.Repetition.REPEATED) ||
          t.asPrimitiveType.getPrimitiveTypeName != prim ||
          !ok(t.getLogicalTypeAnnotation))
        refuse(s"stores column $name as $t, not $prim")
    }
    expect("__rel", PrimitiveTypeName.BINARY,
      lt => lt == null || lt.isInstanceOf[LT.StringLogicalTypeAnnotation])
    expect("__ri", PrimitiveTypeName.INT64, {
      case null => true
      case i: LT.IntLogicalTypeAnnotation => i.getBitWidth == 64 && i.isSigned
      case _ => false
    })
  }
}
