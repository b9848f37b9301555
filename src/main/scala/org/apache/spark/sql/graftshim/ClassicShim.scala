package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Minimal bridge into Spark's `private[sql]` classic internals, the
  * standard extension-library technique (a lakehouse format or query
  * extension needs exactly these hooks): materialize a Dataset from a
  * composed logical plan, wrap a Catalyst expression as a public Column,
  * and read a parquet footer's schema the way the reader does. Kept to
  * one tiny object so the internal surface we touch is auditable at a
  * glance.
  */
object ClassicShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** v1 writer bridge: `DataFrameWriter.partitionBy` reaches a v1
    * `CreatableRelationProvider` as a JSON-array options value under
    * this key; expose Spark's own codec (it is `private[sql]`) so the
    * graft batch write decodes it identically to the built-in sources.
    */
  val partitioningColumnsKey: String =
    org.apache.spark.sql.execution.datasources.DataSourceUtils
      .PARTITIONING_COLUMNS_KEY

  def decodePartitioningColumns(v: String): Seq[String] =
    org.apache.spark.sql.execution.datasources.DataSourceUtils
      .decodePartitioningColumns(v)

  /** The ForeachBatchSink idiom: re-wrap a streaming micro-batch frame
    * as a BATCH Dataset over its own executed RDD — `isStreaming`
    * becomes false (so observe()/multi-action batch APIs apply) while
    * the rows stay exactly the micro-batch's. What Spark's own
    * foreachBatch hands user code; the graft streaming sink needs the
    * same wrap before entering the snapshot-log commit paths.
    */
  def stableBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** The schema `spark.read.parquet` infers from one file without schema
    * merging — Spark's own footer conversion under the session's conf,
    * all-nullable as the relation exposes it — read on the driver, so
    * no inference job starts.
    */
  def parquetFooterSchema(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(p, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }
}
