package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Full-rebuild orchestration — the reference's `update_db` flow (SURVEY
  * §3.1.1) re-expressed: select the latest dated generation per input,
  * ingest + coerce with per-table rules, build tables in dependency order
  * (dimensions before facts), run referential-integrity checks, and publish
  * the snapshot only if the build is clean.
  *
  * Where the reference crosses a process boundary per builder script and a
  * client/server boundary per INSERT, this is one Spark application:
  *  - each table is built by ONE staged write — CSV scan → coercion audit
  *    → good rows → coerce → dedup → parquet under `<outDir>_staging` —
  *    and every [[BuildReport]] count rides that write through `observe()`
  *    (no persist, no separate count job);
  *  - integrity checks are `left_anti` joins over the staged files, read
  *    back with the schema they were written with (no inference job);
  *  - the swap is all-or-nothing: a clean build renames `_staging` into
  *    place, a dirty or failed one deletes it and leaves `outDir` as it was
  *    (if the rename into place fails, the previous snapshot is renamed back
  *    from `<outDir>_bak`; if that rename fails too, it is left in `_bak`).
  * At 100 TB the same orchestration runs unchanged — each table's write
  * parallelizes across the cluster and the checks are ordinary joins.
  */
object Rebuild {

  /** One input table: dated-file pattern, explicit schema, cleaning rules,
    * and the foreign keys that must resolve against previously built
    * tables (dependency order = list order in the plan).
    */
  final case class TableSpec(
      name: String,
      filePattern: String,                    // regex with date capture group
      schema: StructType,
      rules: Seq[Coerce.Rule] = Nil,
      naturalKey: Seq[String] = Nil,          // dedup key (last wins not needed: inputs are snapshots)
      foreignKeys: Seq[(String, String, String)] = Nil) // (localCol, refTable, refCol)

  final case class BuildReport(
      table: String,
      rowsIn: Long,
      rowsOut: Long,
      badRows: Long,
      dupRows: Long,
      fkViolations: Map[String, Long])

  /** Run the rebuild. Returns per-table reports; replaces `outDir` (one
    * `outDir/<table>` parquet dir per table) ONLY if no integrity
    * violations anywhere (all-or-nothing, like the reference's
    * transactional rebuild). Throws if any input generation is missing,
    * if the plan references a table before building it, or if an input
    * fails to load; `outDir` is then untouched too.
    */
  def run(spark: SparkSession, inputDir: String, outDir: String,
          plan: Seq[TableSpec]): Seq[BuildReport] = {
    // 1. generation check: every input must have a dated file present
    val picked: Map[String, String] = plan.map { t =>
      val f = Sources.latestGeneration(spark, inputDir, t.filePattern)
        .getOrElse(throw new IllegalStateException(
          s"rebuild aborted: no input generation matches ${t.filePattern}"))
      t.name -> f
    }.toMap
    // FK targets must come earlier in the plan; checked before any write
    plan.zipWithIndex.foreach { case (t, i) =>
      t.foreignKeys.foreach { case (_, refTable, _) =>
        require(plan.take(i).exists(_.name == refTable),
          s"plan error: ${t.name} references $refTable before it is built")
      }
    }

    val fs = FileSystem.get(new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val dst = new Path(outDir)
    val staging = new Path(outDir + "_staging")
    val bak = new Path(outDir + "_bak")
    fs.delete(staging, true)
    try {
      // 2. one staged write per table, in dependency order
      val staged = plan.map(t =>
        t.name -> stage(spark, t, picked(t.name), s"$staging/${t.name}")).toMap

      // 3. integrity checks over the staged files
      val reports = plan.map { t =>
        val (report, files) = staged(t.name)
        val fkViolations = t.foreignKeys.map { case (local, refTable, refCol) =>
          // standard FK semantics: a NULL foreign key is not a violation
          val orphans = files
            .filter(col(local).isNotNull)
            .join(staged(refTable)._2.select(col(refCol).as("__ref")),
              col(local) === col("__ref"), "left_anti")
            .count()
          s"$local->$refTable.$refCol" -> orphans
        }.toMap
        report.copy(fkViolations = fkViolations)
      }

      // 4. all-or-nothing swap: a mid-swap failure never destroys the
      // previous consistent snapshot (overwriting tables in place would)
      if (reports.forall(_.fkViolations.values.forall(_ == 0L))) {
        def mustRename(a: Path, b: Path): Unit =
          require(fs.rename(a, b), s"rename $a -> $b failed")
        fs.delete(bak, true)
        val hadSnapshot = fs.exists(dst)
        if (hadSnapshot) mustRename(dst, bak)
        try mustRename(staging, dst)
        catch {
          case e: Throwable =>
            // put the previous snapshot back; should that fail too, it stays in _bak
            if (hadSnapshot) mustRename(bak, dst)
            throw e
        }
        fs.delete(bak, true)
      }
      reports
    } finally fs.delete(staging, true) // gone already after a clean swap
  }

  /** Build one table with a single write to `path`: the report's counts
    * (FK checks still empty) and the staged files, read back with the
    * schema they were written with.
    */
  private def stage(spark: SparkSession, t: TableSpec, csv: String,
                    path: String): (BuildReport, DataFrame) = {
    val rules = coercionRules(t)
    val in = Observation()
    val out = Observation()
    val inAggs = Seq(count(lit(1)).as("rows"), count_if(Coerce.isBad).as("bad"))
    val outAggs = Seq(count(lit(1)).as("rows"))
    val audited = Coerce.audit(Sources.readCsv(spark, csv, allStrings(t.schema)), rules)
    val typed = Coerce.good(audited.observe(in, inAggs.head, inAggs.tail: _*), rules)
    // reference's dedup-by-natural-key; without a key, exact duplicates stay
    val deduped = if (t.naturalKey.nonEmpty) typed.dropDuplicates(t.naturalKey) else typed
    deduped.observe(out, outAggs.head).write.parquet(path)
    val files = spark.read.schema(deduped.schema).parquet(path)
    val inM = observed(in, audited, inAggs)
    val nOut = observed(out, files, outAggs)("rows")
    (BuildReport(t.name, inM("rows"), nOut, inM("bad"), inM("rows") - inM("bad") - nOut,
      Map.empty), files)
  }

  /** The counts `o` observed. AQE may drop a shuffle stage that produced
    * no rows from the final plan, and an observation inside it then
    * completes empty (seen ahead of the dedup shuffle on a header-only
    * generation and on one whose rows are all bad); only then are the
    * counts recomputed from `data`.
    */
  private def observed(o: Observation, data: DataFrame,
                       aggs: Seq[Column]): Map[String, Long] = {
    val counts = if (o.get.nonEmpty) o.get else {
      val r = data.agg(aggs.head, aggs.tail: _*).head()
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }
    counts.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }

  /** CSV arrives all-strings; the typed schema drives coercion rules. */
  private def allStrings(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(dataType = org.apache.spark.sql.types.StringType)))

  private def coercionRules(t: TableSpec): Seq[Coerce.Rule] = {
    val unknown = t.rules.map(_.column).filterNot(t.schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"table ${t.name}: coercion rules reference unknown columns $unknown")
    val explicit = t.rules.map(r => r.column -> r).toMap
    t.schema.fields.toSeq.map { f =>
      explicit.getOrElse(f.name,
        Coerce.Rule(f.name, Seq(Coerce.Trim), f.dataType.catalogString))
    }
  }
}
