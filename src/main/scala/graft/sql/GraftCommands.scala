package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col

import graft.sources.SnapshotLog

/** Runnable commands the analyzer rule lowers graft SQL DML onto. Each
  * one re-enters the corresponding [[SnapshotLog]] write path, so SQL
  * statements get the identical crash-safety/concurrency contract as
  * the Scala API — there is exactly one commit protocol.
  */
private[sql] object GraftCommands {

  /** Non-null boolean column the MERGE/UPDATE lowerings append to a
    * full-snapshot rewrite plan: true exactly on rows a WHEN clause /
    * SET actually wrote. [[graft.sources.Constraints.gateWritten]]
    * restricts constraint enforcement to those rows and drops the
    * marker before the commit.
    */
  private[sql] val WrittenMarker = "__graft_written"

  private[sql] def classicDf(spark: SparkSession, plan: LogicalPlan) =
    org.apache.spark.sql.graftshim.ClassicShim.ofRows(spark, plan)

  /** The full-snapshot rewrite shapes (general MERGE, copy-on-write
    * UPDATE) have no O(batch) form on a merge-on-read lineage and would
    * silently resolve the shadow history, drop the morKeys marker and
    * pay O(table) — refuse with the escape hatches, matching the Scala
    * API's posture (upsert/commitBatch/deleteByKey refuse the same way).
    */
  private[sql] def refuseMorRewrite(spark: SparkSession, table: GraftTable,
                                    verb: String): Unit =
    SnapshotLog.currentVersion(spark, table.root).foreach { c =>
      require(SnapshotLog.morKeysOf(spark, table.root, c).isEmpty,
        s"$verb on a merge-on-read keyed lineage is a full-table " +
        "rewrite — a MERGE whose ON is pure equality on the declared " +
        "keys lowers to the O(batch) shadowing form instead " +
        "(round 11d); otherwise materialize first " +
        "via CALL <cat>.system.compact_chain")
    }

  /** Align an INSERT source frame to the table schema: positional with
    * casts (ANSI INSERT), or by-name for `INSERT ... BY NAME`.
    */
  private[sql] def align(df: org.apache.spark.sql.DataFrame,
                         schema: org.apache.spark.sql.types.StructType,
                         byName: Boolean): org.apache.spark.sql.DataFrame = {
    if (byName) {
      val have = df.columns.map(_.toLowerCase).toSet
      val missing = schema.fields.filterNot(f => have.contains(f.name.toLowerCase))
      require(missing.isEmpty,
        s"INSERT BY NAME is missing columns: ${missing.map(_.name).mkString(", ")}")
      df.select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
    } else {
      require(df.columns.length == schema.fields.length,
        s"INSERT has ${df.columns.length} columns, table expects " +
        s"${schema.fields.length} (${schema.fieldNames.mkString(", ")})")
      df.select(df.columns.toSeq.zip(schema.fields.toSeq).map { case (c, f) =>
        col(c).cast(f.dataType).as(f.name)
      }: _*)
    }
  }
}

/** INSERT INTO → O(batch) [[SnapshotLog.appendCommit]], whose internal
  * constraint gate (round 11 — shared by the Scala API and the
  * streaming sinks) enforces the table's declared CHECKs and audits.
  * On a merge-on-read keyed lineage the insert lands as an O(batch)
  * shadowing delta instead ([[SnapshotLog.upsertMor]] — the Hudi
  * upsert-table contract: INSERT on a keyed MoR table upserts by key,
  * so re-inserting a key replaces it at read time; a plain append
  * could smuggle duplicate keys past resolution and is refused by the
  * log itself).
  */
case class GraftAppendCommand(table: GraftTable, query: LogicalPlan,
                              byName: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftCommands.align(
      GraftCommands.classicDf(spark, query), table.tableSchema, byName)
    val mor = SnapshotLog.currentVersion(spark, table.root)
      .map(SnapshotLog.morKeysOf(spark, table.root, _)).getOrElse(Nil)
    if (mor.nonEmpty)
      SnapshotLog.upsertMor(spark, table.root, df, mor,
        statsCols = table.statsCols)
    else
      SnapshotLog.appendCommit(spark, table.root, df,
        statsCols = table.statsCols)
    Seq.empty
  }
}

/** INSERT OVERWRITE → full-snapshot [[SnapshotLog.commit]] (the next
  * version replaces the table; readers on older versions keep them).
  * Constraint-gated inside commit() — every row is newly written.
  */
case class GraftOverwriteCommand(table: GraftTable, query: LogicalPlan,
                                 byName: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftCommands.align(
      GraftCommands.classicDf(spark, query), table.tableSchema, byName)
    SnapshotLog.commit(spark, table.root, df,
      statsCols = table.statsCols)
    Seq.empty
  }
}

/** `INSERT OVERWRITE t PARTITION (p = v) SELECT …` / DataFrameWriterV2
  * `overwrite(cond)` → [[SnapshotLog.replaceWhere]] (round 11): ONE
  * atomic version that tombstones the predicate's slice into a
  * deletion vector and appends the query result — O(positions +
  * batch), zero pre-existing files rewritten. The predicate re-binds
  * by name onto the positional scan (the [[GraftDeleteCommand]]
  * contract); the batch⊆predicate check and constraint gate live in
  * replaceWhere itself.
  */
case class GraftReplaceWhereCommand(table: GraftTable, query: LogicalPlan,
                                    byName: Boolean,
                                    condition: Expression)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  private def rebind(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Column = {
    val out = base.queryExecution.analyzed.output
    val rebound = condition.transform {
      case a: AttributeReference =>
        out.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
          throw new IllegalStateException(
            s"REPLACE WHERE predicate column ${a.name} not found in " +
            s"${out.map(_.name).mkString(", ")}"))
    }
    org.apache.spark.sql.graftshim.ClassicShim.column(rebound)
  }

  /** The attribute names of a conjunction of `attr = literal`
    * equalities, or None when the predicate has any other shape.
    */
  private def staticEqualityCols(e: Expression): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison,
      EqualNullSafe, EqualTo}
    e match {
      case And(l, r) =>
        for (a <- staticEqualityCols(l); b <- staticEqualityCols(r)) yield a ++ b
      // the analyzer's static-spec shape is EqualNullSafe(attr,
      // Cast(lit)); a user's writeTo-overwrite equality is EqualTo —
      // either way: one attribute against one foldable value
      case cmp: BinaryComparison
          if cmp.isInstanceOf[EqualTo] || cmp.isInstanceOf[EqualNullSafe] =>
        (cmp.left, cmp.right) match {
          case (a: AttributeReference, v) if v.foldable => Some(Seq(a.name))
          case (v, a: AttributeReference) if v.foldable => Some(Seq(a.name))
          case _ => None
        }
      case _ => None
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftCommands.align(
      GraftCommands.classicDf(spark, query), table.tableSchema, byName)
    if (table.partCol.isEmpty) {
      SnapshotLog.replaceWhere(spark, table.root, df, rebind)
    } else {
      // PARTITIONED table, static overwrite: sound exactly when the
      // predicate is the analyzer's full static PARTITION conjunction —
      // `p1 = v1 AND … AND pn = vn` over EVERY identity partition
      // column. It then names ONE partition; batch⊆predicate (checked)
      // plus non-emptiness makes the batch's touched set equal the
      // named set, so replacing touched partitions IS the static
      // semantics. A partial spec or a non-partition predicate would
      // silently diverge (partitions the predicate names but the batch
      // does not touch must truncate) — refused toward dynamic mode.
      val spec = SnapshotLog.parseGpSpec(table.partCol)
      val idCols = spec.comps.filter(_.kind == "id").map(_.col)
      val eqCols = staticEqualityCols(condition)
      require(spec.comps.forall(_.kind == "id") &&
          eqCols.exists(cs => cs.map(_.toLowerCase).toSet ==
            idCols.map(_.toLowerCase).toSet),
        "static INSERT OVERWRITE on a partitioned graft table needs the " +
        "full identity PARTITION spec (one named partition); transform " +
        "specs and partial/complex predicates replace partitions through " +
        "spark.sql.sources.partitionOverwriteMode=dynamic")
      import org.apache.spark.sql.functions.not
      require(df.filter(not(rebind(df))).limit(1).count() == 0,
        "REPLACE WHERE: query rows outside the named partition")
      if (df.isEmpty)
        // an empty static overwrite TRUNCATES the named partition —
        // a deletion-vector delete, zero rewrites
        SnapshotLog.tombstoneDeleteWhere(spark, table.root, rebind)
      else
        SnapshotLog.overwritePartitions(spark, table.root, df, table.partCol,
          statsCols = table.statsCols)
    }
    Seq.empty
  }
}

/** Dynamic-mode `INSERT OVERWRITE` (the analyzer emits
  * OverwritePartitionsDynamic when
  * `spark.sql.sources.partitionOverwriteMode=dynamic`) →
  * [[SnapshotLog.overwritePartitions]] on a partitioned table: the
  * query result replaces exactly the partitions it touches, untouched
  * leafs carry byte-identical, zero pre-existing bytes read. On an
  * unpartitioned table dynamic mode degenerates to the full-snapshot
  * replace, which is Spark's own semantics for it.
  */
case class GraftDynamicOverwriteCommand(table: GraftTable,
                                        query: LogicalPlan,
                                        byName: Boolean)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftCommands.align(
      GraftCommands.classicDf(spark, query), table.tableSchema, byName)
    if (table.partCol.nonEmpty)
      SnapshotLog.overwritePartitions(spark, table.root, df, table.partCol,
        statsCols = table.statsCols)
    else
      SnapshotLog.commit(spark, table.root, df, statsCols = table.statsCols)
    Seq.empty
  }
}

/** General MERGE / UPDATE: `plan` is the complete next snapshot the
  * analyzer composed from the resolved actions — commit it as one new
  * version (copy-on-write; Delta's row-level fallback is the same
  * shape: rewrite what the merge touches, here the full snapshot).
  */
case class GraftReplaceCommand(table: GraftTable, plan: LogicalPlan,
                               verb: String,
                               assignedCols: Set[String] = Set.empty)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(plan)
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCommands.refuseMorRewrite(spark, table, verb)
    // with the change feed enabled, the rewrite also records its row
    // diff as commit-time change files (delete + insert rows) so the
    // CDC surfaces stay O(changes); identical to commit() otherwise.
    // Round 11 (ADVICE): the plan is the COMPLETE next snapshot —
    // written rows AND carried-through target rows — so constraints
    // gate ONLY the rows the statement's actions wrote (marked
    // __graft_written by the lowering): a DROP constraint must not
    // silently delete pre-existing rows an unrelated UPDATE carried,
    // and a FAIL constraint must not abort on rows it never gated in.
    val df0 = GraftCommands.classicDf(spark, plan)
    // round 12: written rows recompute generated columns the statement
    // did not explicitly assign (carried rows keep their values)
    val df =
      if (df0.columns.contains(GraftCommands.WrittenMarker))
        graft.sources.Generated.recomputeWritten(spark, table.root, df0,
          assignedCols, GraftCommands.WrittenMarker)
      else df0
    val (gated, obs) =
      if (df.columns.contains(GraftCommands.WrittenMarker))
        graft.sources.Constraints.gateWritten(spark, table.root, df,
          GraftCommands.WrittenMarker)
      else graft.sources.Constraints.gate(spark, table.root, df)
    val v = SnapshotLog.replaceWithChanges(spark, table.root, gated)
    graft.sources.Constraints.finish(spark, table.root, v, obs)
    Seq.empty
  }
}

/** Classic upsert-shaped MERGE on a PARTITIONED BY table →
  * [[SnapshotLog.upsertScoped]]: only partitions the batch touches are
  * rewritten — the O(touched partitions) path the scoped log exists for.
  */
case class GraftUpsertScopedCommand(table: GraftTable, batch: LogicalPlan,
                                    keys: Seq[String]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(batch)
  override def run(spark: SparkSession): Seq[Row] = {
    // constraint-gated inside upsertScoped (round 11)
    SnapshotLog.upsertScoped(spark, table.root,
      GraftCommands.classicDf(spark, batch), keys, table.partCol)
    Seq.empty
  }
}

/** Classic upsert-shaped MERGE on a FLAT (unpartitioned) table →
  * [[SnapshotLog.upsert]], whose file-granular path (round 10) probes
  * the skipping stats with the batch keys and rewrites ONLY matched
  * files — O(matched files) + O(batch), the Delta touched-file MERGE
  * rule. Tables without stats fall back to the full-snapshot rewrite
  * inside the same call.
  */
case class GraftUpsertKeyedCommand(table: GraftTable, batch: LogicalPlan,
                                   keys: Seq[String]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(batch)
  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftCommands.classicDf(spark, batch)
    // a merge-on-read keyed lineage takes the O(batch) shadowing delta
    // instead of any rewrite — the classic upsert-shaped MERGE IS
    // upsertMor when the ON keys are the lineage's declared keys (the
    // log enforces source key-uniqueness, Delta's multiple-match error)
    val mor = SnapshotLog.currentVersion(spark, table.root)
      .map(SnapshotLog.morKeysOf(spark, table.root, _)).getOrElse(Nil)
    if (mor.nonEmpty) {
      require(mor == keys,
        s"MERGE ON keys $keys != the merge-on-read lineage's declared " +
        s"keys $mor — shadowing resolves by the declared keys only")
      SnapshotLog.upsertMor(spark, table.root, df, keys,
        statsCols = table.statsCols)
    } else
      // constraint-gated inside upsert (round 11)
      SnapshotLog.upsert(spark, table.root, df, keys,
        statsCols = table.statsCols)
    Seq.empty
  }
}

/** UPDATE WHERE on a MERGE-ON-READ keyed lineage → ONE O(matched rows)
  * shadowing delta: the rewritten matched rows of the VISIBLE table
  * commit through [[SnapshotLog.upsertMor]] and shadow their old
  * versions at read time — no deletion vector, no file rewrites, and
  * the keyed snapshot diff reports them as updates. Key columns are
  * immutable: a SET on one would change the shadowing identity while
  * the old key's row stayed visible (refused toward compact_chain).
  * Predicate and SET expressions are re-bound by name onto the visible
  * frame, the [[GraftDeleteCommand]] contract.
  */
case class GraftUpdateShadowCommand(table: GraftTable,
                                    condition: Option[Expression],
                                    sets: Seq[(String, Expression)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    require(sets.forall { case (n, _) =>
        !table.morKeys.exists(_.equalsIgnoreCase(n)) },
      s"UPDATE on merge-on-read key columns ${table.morKeys.mkString(",")} " +
      "would change the shadowing identity while the old key's row " +
      "stayed visible — materialize first via CALL " +
      "<cat>.system.compact_chain")
    val visible = SnapshotLog.read(spark, table.root)
    val out = visible.queryExecution.analyzed.output
    def rebind(e: Expression): org.apache.spark.sql.Column =
      org.apache.spark.sql.graftshim.ClassicShim.column(e.transform {
        case a: AttributeReference =>
          out.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
            throw new IllegalStateException(
              s"UPDATE expression column ${a.name} not found in " +
              s"${out.map(_.name).mkString(", ")}"))
      })
    val matched = condition.map(c => visible.filter(rebind(c)))
      .getOrElse(visible)
    if (matched.isEmpty) return Seq.empty // version-preserving no-op
    val rewritten = matched.select(visible.columns.toSeq.map { c =>
      sets.find(_._1.equalsIgnoreCase(c))
        .map { case (_, v) => rebind(v).as(c) }.getOrElse(col(c))
    }: _*)
    // round 12: generated columns the SET did not assign recompute from
    // the post-update values (the Delta UPDATE contract)
    val regen = graft.sources.Generated.recompute(spark, table.root,
      rewritten, sets.map(_._1).toSet)
    // constraint-gated inside upsertMor — rewritten rows are written rows
    SnapshotLog.upsertMor(spark, table.root, regen, table.morKeys,
      statsCols = table.statsCols)
    Seq.empty
  }
}

/** Subquery-form UPDATE on a merge-on-read lineage (round 11d):
  * `query` is Project(assignments, Filter(cond, visible-read)) built by
  * the lowering with the relation's own attribute ids, so IN / scalar /
  * correlated subqueries evaluate exactly as Catalyst resolved them —
  * the name-rebinding [[GraftUpdateShadowCommand]] cannot carry those.
  * The matched rows commit as ONE O(matched) shadowing delta; an empty
  * match is a version-preserving no-op (the [[GraftUpdateShadowCommand]]
  * contract). Key columns were refused at lowering time.
  */
case class GraftUpdateShadowPlanCommand(table: GraftTable,
                                        query: LogicalPlan,
                                        assignedCols: Set[String] = Set.empty)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    // every row of `query` is a written row — unassigned generated
    // columns recompute before the shadowing delta commits (round 12)
    val df = graft.sources.Generated.recompute(spark, table.root,
      GraftCommands.classicDf(spark, query), assignedCols).persist()
    try {
      if (df.limit(1).count() == 0) return Seq.empty
      SnapshotLog.upsertMor(spark, table.root, df, table.morKeys,
        statsCols = table.statsCols)
    } finally df.unpersist()
    Seq.empty
  }
}

/** DELETE WHERE → [[SnapshotLog.tombstoneDeleteWhereOcc]]: the predicate
  * is re-bound by name onto the positional scan and the matching (file,
  * row) positions land in an O(deleted rows) deletion-vector sidecar —
  * zero data files rewritten.
  */
case class GraftDeleteCommand(table: GraftTable,
                              condition: Expression) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // round 10: through the OCC split — the position scan and vector
    // write run lock-free, the publish rebases over file-disjoint
    // interleavings, so a long DELETE never serializes other writers
    SnapshotLog.tombstoneDeleteWhereOcc(spark, table.root, { base =>
      val out = base.queryExecution.analyzed.output
      val rebound = condition.transform {
        case a: AttributeReference =>
          out.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
            throw new IllegalStateException(
              s"DELETE predicate column ${a.name} not found in " +
              s"${out.map(_.name).mkString(", ")}"))
      }
      org.apache.spark.sql.graftshim.ClassicShim.column(rebound)
    })
    Seq.empty
  }
}

/** UPDATE WHERE on an unpartitioned table → [[SnapshotLog.updateWhereOcc]]:
  * ONE merge-on-read version that tombstones the matched positions
  * (deletion vector) and appends the rewritten matched rows — write
  * cost O(matched rows), zero pre-existing files rewritten. Predicate
  * and SET expressions are re-bound by name onto the positional scan,
  * the same contract as [[GraftDeleteCommand]].
  */
case class GraftUpdateMorCommand(table: GraftTable,
                                 condition: Option[Expression],
                                 sets: Seq[(String, Expression)]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    def rebind(e: Expression,
               base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column = {
      val out = base.queryExecution.analyzed.output
      val rebound = e.transform {
        case a: AttributeReference =>
          out.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
            throw new IllegalStateException(
              s"UPDATE expression column ${a.name} not found in " +
              s"${out.map(_.name).mkString(", ")}"))
      }
      org.apache.spark.sql.graftshim.ClassicShim.column(rebound)
    }
    // round 10: through the OCC split — scan and both staged writes
    // run lock-free, the publish rebases over disjoint interleavings
    SnapshotLog.updateWhereOcc(spark, table.root,
      (base: org.apache.spark.sql.DataFrame) =>
        condition.map(rebind(_, base))
          .getOrElse(org.apache.spark.sql.functions.lit(true)),
      (base: org.apache.spark.sql.DataFrame) =>
        sets.map { case (n, v) => n -> rebind(v, base) }.toMap)
    Seq.empty
  }
}

/** CREATE TABLE AS SELECT: catalog-create with the query schema, then
  * the first commit carries the query result (schema pinned by create).
  * TBLPROPERTIES thread through (round 11c — they were silently
  * dropped: a CTAS could not declare `graft.statsCols` or
  * `graft.morKeys`); a morKeys CTAS bootstraps the MoR lineage and its
  * first commit lands as the shadowing upsert, like INSERT INTO.
  */
case class GraftCtasCommand(catalog: GraftCatalog, ident: Identifier,
                            partitioning: Seq[Transform], query: LogicalPlan,
                            ignoreIfExists: Boolean,
                            properties: Map[String, String] = Map.empty)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    if (catalog.tableExists(ident)) {
      if (ignoreIfExists) return Seq.empty
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    }
    val df = GraftCommands.classicDf(spark, query)
    val jprops = new java.util.HashMap[String, String]()
    properties.foreach { case (k, v) => jprops.put(k, v) }
    val t = catalog.createTable(ident, df.schema, partitioning.toArray,
      jprops).asInstanceOf[GraftTable]
    if (t.morKeys.nonEmpty)
      SnapshotLog.upsertMor(spark, t.root, df, t.morKeys,
        statsCols = t.statsCols)
    else
      SnapshotLog.appendCommit(spark, t.root, df, statsCols = t.statsCols)
    Seq.empty
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` → a persistent
  * FAIL-policy table check ([[graft.sources.Constraints]]): every later
  * SQL DML gates its batch through it during the commit's own write
  * scan, ANSI NULL-passes semantics, violations abort before the
  * manifest publishes. WARN/DROP policies are declared through
  * `CALL graft.system.add_constraint(t, name, expr, policy)`.
  */
case class GraftAddConstraintCommand(table: GraftTable, constraintName: String,
                                     checkSql: String,
                                     policy: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sources.Constraints.add(spark, table.root, constraintName, checkSql,
      policy)
    Seq.empty
  }
}

case class GraftDropConstraintCommand(table: GraftTable, constraintName: String,
                                      ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sources.Constraints.drop(spark, table.root, constraintName, ifExists)
    Seq.empty
  }
}

/** General (multi-clause) MERGE on a FLAT table, FILE-GRANULAR
  * (round 10): when the ON condition is a pure key-equality AND chain
  * and there are no NOT MATCHED BY SOURCE clauses, every clause can
  * only touch rows whose key appears in the source — so only the files
  * whose skipping stats admit a source key need rewriting; the rest
  * carry by reference ([[SnapshotLog.rewriteMatchedFlat]]). The merge
  * actions evaluate over the matched slice x source with exactly the
  * generalMergePlan semantics: first matching clause wins, unmatched
  * target rows survive, source-only rows insert only through a NOT
  * MATCHED clause. Ineligible tables (no stats, nothing pruned, head
  * races) fall back to the full-snapshot rewrite inside the same run.
  * Declared CHECK constraints gate the rewritten rows either way.
  */
case class GraftMergePrunedCommand(
    table: GraftTable,
    source: LogicalPlan,
    keyPairs: Seq[(String, AttributeReference)],
    matchedActions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
    notMatchedActions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
    mergeCondition: Expression,
    targetOutput: Seq[AttributeReference]) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction, UpdateAction}
  import org.apache.spark.sql.functions.{col, lit, when}

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val root = table.root
    val shim = org.apache.spark.sql.graftshim.ClassicShim
    val srcDf = GraftCommands.classicDf(spark, source)
    val keys = keyPairs.map(_._1)
    val probe = srcDf.select(keyPairs.map { case (t, sa) =>
      shim.column(sa).as(t) }: _*)
    val targetIds = targetOutput.map(_.exprId).toSet
    val srcIds = source.output.map(_.exprId).toSet

    // merge-clause semantics, shared by the flat rewrite paths and the
    // round-11d merge-on-read lowering: every branch below evaluates
    // over a `__t_`/`__s_`-prefixed full-outer join of SOME target
    // frame with the source, first matching WHEN clause wins
    def rebind(e: Expression): org.apache.spark.sql.Column =
      shim.column(e.transform {
        case a: AttributeReference if targetIds.contains(a.exprId) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq("__t_" + a.name))
        case a: AttributeReference if srcIds.contains(a.exprId) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq("__s_" + a.name))
      })
    def joinedWith(target: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val t = target.toDF(target.columns.map("__t_" + _): _*)
        .withColumn("__t_present", lit(true))
      val sd = srcDf.toDF(srcDf.columns.map("__s_" + _): _*)
        .withColumn("__s_present", lit(true))
      t.join(sd, rebind(mergeCondition), "full_outer")
    }
    val tPresent = col("__t_present").isNotNull
    val sPresent = col("__s_present").isNotNull
    type B = (org.apache.spark.sql.Column,
      org.apache.spark.sql.catalyst.plans.logical.MergeAction)
    val branches: Seq[B] =
      matchedActions.map(a => (tPresent && sPresent &&
        a.condition.map(rebind).getOrElse(lit(true)), a)) ++
      notMatchedActions.map(a => (sPresent && !tPresent &&
        a.condition.map(rebind).getOrElse(lit(true)), a))
    def chain(vals: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)],
              default: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      vals match {
        case Seq() => default
        case (c0, v0) +: rest =>
          rest.foldLeft(when(c0, v0)) { case (acc, (c, v)) => acc.when(c, v) }
            .otherwise(default)
      }
    def assignedId(k: Expression): Option[org.apache.spark.sql.catalyst.expressions.ExprId] =
      k match {
        case a: AttributeReference =>
          targetOutput.find(t0 => t0.exprId == a.exprId ||
            t0.name.equalsIgnoreCase(a.name)).map(_.exprId)
        case _ => None
      }
    def actionValue(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction,
                    tAttr: AttributeReference): org.apache.spark.sql.Column = a match {
      case UpdateAction(_, assigns, _) =>
        assigns.find(as => assignedId(as.key).contains(tAttr.exprId))
          .map(as => rebind(as.value).cast(tAttr.dataType))
          .getOrElse(col("__t_" + tAttr.name))
      case InsertAction(_, assigns) =>
        assigns.find(as => assignedId(as.key).contains(tAttr.exprId))
          .map(as => rebind(as.value).cast(tAttr.dataType))
          .getOrElse(lit(null).cast(tAttr.dataType))
      case _: DeleteAction => col("__t_" + tAttr.name)
      case other => throw new UnsupportedOperationException(
        s"unsupported merge action $other")
    }
    val outCols = targetOutput.map { tAttr =>
      chain(branches.map { case (c, a) => (c, actionValue(a, tAttr)) },
        col("__t_" + tAttr.name)).as(tAttr.name)
    }

    // merge semantics over any target frame (the matched slice on the
    // pruned path; the full snapshot on the fallback)
    // explicitly-assigned target columns PER ACTION (round 13, ADVICE):
    // a generated column recomputes on the rows whose own action left
    // it unassigned — the cross-action union would strand stale values
    // (and spuriously trip the gate) on rows of a non-assigning action
    // whenever any other action assigns it
    def assignedOf(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction): Set[String] =
      (a match {
        case UpdateAction(_, assigns, _) => assigns
        case InsertAction(_, assigns) => assigns
        case _ => Nil
      }).flatMap(as => assignedId(as.key)
        .flatMap(id => targetOutput.find(_.exprId == id)).map(_.name)).toSet
    val assignedPerAction: Seq[Set[String]] =
      branches.map { case (_, a) => assignedOf(a) }
    // which branch fired, as a per-row index (null = carried through)
    val actIdxName = "__graft_act_idx"
    val actIdx = chain(
      branches.zipWithIndex.map { case ((c, _), i) => (c, lit(i)) },
      lit(null).cast("int")).as(actIdxName)

    def mergeEval(target: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val joined = joinedWith(target)
      val keep = chain(branches.map { case (c, a) =>
        (c, lit(!a.isInstanceOf[DeleteAction])) }, tPresent)
      // written marker (round 11): true exactly where a WHEN clause
      // fired — carried-through target rows stay constraint-exempt
      val written = chain(branches.map { case (c, _) => (c, lit(true)) },
        lit(false)).as(GraftCommands.WrittenMarker)
      val out = joined.filter(keep === true)
        .select(outCols :+ written :+ actIdx: _*)
      graft.sources.Generated.recomputeByAction(spark, root, out,
        assignedPerAction, actIdxName).drop(actIdxName)
    }

    // MERGE-ON-READ lowering (round 11d — the last refusal with a sound
    // O(batch) form): with the ON a pure equality chain on EXACTLY the
    // declared keys, matched-ness coincides with shadowing identity —
    // UPDATE rows shadow precisely their old copy, DELETE rows die by
    // deletion vector over every physical copy, INSERT rows are true
    // inserts, and matched rows NO clause touched cost NOTHING (the
    // flat paths must rewrite them; shadowing just leaves them
    // visible). One atomic commit via [[SnapshotLog.mergeMor]].
    val morKeys = SnapshotLog.currentVersion(spark, root)
      .map(SnapshotLog.morKeysOf(spark, root, _)).getOrElse(Nil)
    if (morKeys.nonEmpty) {
      require(keys.map(_.toLowerCase).toSet ==
          morKeys.map(_.toLowerCase).toSet,
        s"general MERGE on a merge-on-read lineage needs ON to be pure " +
        s"equality on exactly the declared keys " +
        s"(${morKeys.mkString(", ")}; got ${keys.mkString(", ")}) — " +
        "or materialize first via CALL <cat>.system.compact_chain")
      // key columns are immutable under shadowing — an UPDATE may only
      // assign a key its own value (t.k, or the source attr the ON
      // equates with it; `UPDATE SET *` spells the latter)
      val keyAttrs = targetOutput.filter(a =>
        morKeys.exists(_.equalsIgnoreCase(a.name)))
      val pairedSrc: Map[String, org.apache.spark.sql.catalyst.expressions.ExprId] =
        keyPairs.map { case (t, sa) => (t.toLowerCase, sa.exprId) }.toMap
      matchedActions.foreach {
        case UpdateAction(_, assigns, _) => assigns.foreach { as =>
          keyAttrs.find(ka => assignedId(as.key).contains(ka.exprId)).foreach { ka =>
            val ok = as.value match {
              case a: AttributeReference => a.exprId == ka.exprId ||
                pairedSrc.get(ka.name.toLowerCase).contains(a.exprId)
              case _ => false
            }
            require(ok, s"MERGE on a merge-on-read lineage cannot " +
              s"update key column ${ka.name} — shadowing identity; " +
              "materialize first via CALL <cat>.system.compact_chain")
          }
        }
        case _ => ()
      }
      // O(batch) matched slice: the visible snapshot is key-unique, so
      // the semi-join keeps at most |distinct source keys| rows — the
      // full-outer clause eval below joins two O(batch) frames
      val matchedSlice = SnapshotLog.read(spark, root)
        .join(probe.distinct(), keys, "left_semi")
      val act = chain(branches.map { case (c, a) => (c, lit(a match {
        case _: DeleteAction => "delete"
        case _: UpdateAction => "update"
        case _ => "insert"
      })) }, lit(null).cast("string")).as("__act")
      val evaluated = joinedWith(matchedSlice)
        .select(outCols :+ act :+ actIdx: _*)
        .persist()
      try {
        // every surviving row here IS a written row (update/insert) —
        // generated columns its OWN action left unassigned recompute
        // before the shadow delta commits (round 13: per-action)
        val writes = graft.sources.Generated.recomputeByAction(spark, root,
          evaluated.filter(col("__act").isin("update", "insert")),
          assignedPerAction, actIdxName).drop("__act", actIdxName)
        val delKeys = evaluated.filter(col("__act") === "delete")
          .select(morKeys.map(col): _*)
        SnapshotLog.mergeMor(spark, root, writes, delKeys, morKeys,
          table.statsCols)
      } finally evaluated.unpersist()
      return Seq.empty
    }

    // constraints gate only the WRITTEN subset (the __graft_written
    // marker mergeEval emits) — carried target rows are exempt and the
    // marker is dropped before anything commits (round 11, ADVICE);
    // the gate-time fingerprint re-checks at publish (stale-gate guard)
    var obsHolder: Option[org.apache.spark.sql.Observation] = None
    val prunedV = SnapshotLog.currentVersion(spark, root).flatMap { cur =>
      SnapshotLog.retryPruned(spark, root, cur)(h =>
        SnapshotLog.rewriteMatchedFlat(spark, root, h, probe, keys,
          table.statsCols, Nil,
          Some(graft.sources.Constraints.fingerprint(spark, root))) { visible =>
          val (gated, o) = graft.sources.Constraints.gateWritten(spark, root,
            mergeEval(visible), GraftCommands.WrittenMarker)
          obsHolder = o
          gated
        })
    }
    prunedV match {
      case Some(v) =>
        graft.sources.Constraints.finish(spark, root, v, obsHolder)
      case None =>
        // full-snapshot rewrite fallback (the copy-on-write path the
        // general MERGE always took before round 10). Row-tracked
        // lineages re-attach identities by key (round 13) — the same
        // contract the pruned path's post-merge join gives.
        val (gated, o) = graft.sources.Constraints.gateWritten(spark, root,
          mergeEval(SnapshotLog.read(spark, root)), GraftCommands.WrittenMarker)
        val v = SnapshotLog.replaceWithChanges(spark, root,
          SnapshotLog.attachRidsByKey(spark, root, gated, keys))
        graft.sources.Constraints.finish(spark, root, v, o)
    }
    Seq.empty
  }
}
