package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** The analyzer half of the graft SQL surface ([[GraftCatalog]] is the
  * metadata half). One resolution rule, two jobs:
  *
  *  1. READ EXPANSION — every `DataSourceV2Relation` over a
  *     [[GraftTable]] is replaced by the exact logical plan
  *     `SnapshotLog.readVersion` builds (deletion-vector anti-join,
  *     pinned evolved schema, merge-on-read latest-wins included),
  *     wrapped in a Project that PRESERVES the relation's attribute
  *     ids — references already resolved against the relation stay
  *     valid, and Catalyst keeps optimizing (pushdown, pruning, join
  *     planning) into the underlying parquet scan as if the user had
  *     written the DataFrame pipeline by hand. This is why the table
  *     declares no read capability: the snapshot semantics live in the
  *     plan, not in a connector scan.
  *
  *  2. DML LOWERING — MERGE / UPDATE / DELETE / INSERT nodes whose
  *     target is a graft table are rewritten (once fully resolved, and
  *     before Spark's own row-level rewrites would reject the
  *     capability-less table) into [[GraftCommands]] runnable commands
  *     over the snapshot-log write paths:
  *       - INSERT INTO            → appendCommit        (O(batch))
  *       - DELETE WHERE p         → tombstoneDeleteWhereOcc (O(deleted
  *                                  rows), deletion vectors — zero file
  *                                  rewrites)
  *       - classic upsert MERGE   → upsertScoped        (O(touched
  *                                  partitions), when the table declared
  *                                  PARTITIONED BY and the merge is the
  *                                  update-all/insert-all-by-key shape)
  *       - UPDATE WHERE p (flat table, no subqueries)
  *                                → updateWhereOcc       (O(matched rows),
  *                                  merge-on-read: deletion vector over
  *                                  the old copies + appended rewrites)
  *       - general MERGE / other UPDATE → full-snapshot rewrite commit (the
  *                                  copy-on-write fallback; the plan for
  *                                  the new snapshot is composed from
  *                                  the resolved merge actions, so
  *                                  Catalyst optimizes the rewrite too)
  *
  * DML targets are matched before read expansion would swallow them
  * (the rule dispatches on the statement root), so the lowering always
  * sees the table handle; sources/subqueries are expanded like any
  * other read.
  */
case class GraftSqlRule(session: SparkSession) extends Rule[LogicalPlan] {

  import GraftSqlRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable =>
      val src = expand(session, m.sourceTable)
      val m2 = if (src eq m.sourceTable) m else m.copy(sourceTable = src)
      graftRelation(m2.targetTable) match {
        case Some((rel, g)) if m2.resolved && noStars(m2) =>
          lowerMerge(session, g, rel, m2)
        case _ => m2
      }

    case u: UpdateTable =>
      graftRelation(u.table) match {
        case Some((rel, g)) if u.resolved => lowerUpdate(session, g, rel, u)
        case _ => u
      }

    case d: DeleteFromTable =>
      graftRelation(d.table) match {
        case Some((rel, g)) if d.resolved =>
          GraftDeleteCommand(g, d.condition)
        case _ => d
      }

    case a: AppendData =>
      a.table match {
        case r: DataSourceV2Relation if isGraft(r) =>
          if (a.query.resolved)
            GraftAppendCommand(graftOf(r), expand(session, a.query), a.isByName)
          else a
        case _ => a
      }

    case o: OverwriteByExpression =>
      o.table match {
        case r: DataSourceV2Relation if isGraft(r) =>
          // the delete expression resolves against the TARGET table in
          // a later analyzer pass — wait for it, or the lowered command
          // would hold an unresolved predicate
          if (o.query.resolved && o.deleteExpr.resolved) {
            // true-literal = the whole table (static INSERT OVERWRITE):
            // full-snapshot replace. A real predicate (static PARTITION
            // spec / DataFrameWriterV2 overwrite(cond)) lowers onto the
            // round-11 selective overwrite — positions, not rewrites
            if (isTrueLiteral(o.deleteExpr))
              GraftOverwriteCommand(graftOf(r), expand(session, o.query),
                o.isByName)
            else
              GraftReplaceWhereCommand(graftOf(r), expand(session, o.query),
                o.isByName, o.deleteExpr)
          } else o
        case _ => o
      }

    // dynamic partitionOverwriteMode: INSERT OVERWRITE replaces exactly
    // the partitions the query touches (round 11 — overwritePartitions)
    case o: OverwritePartitionsDynamic =>
      o.table match {
        case r: DataSourceV2Relation if isGraft(r) =>
          if (o.query.resolved)
            GraftDynamicOverwriteCommand(graftOf(r), expand(session, o.query),
              o.isByName)
          else o
        case _ => o
      }

    case c: CreateTableAsSelect =>
      c.name match {
        case ri: ResolvedIdentifier if ri.catalog.isInstanceOf[GraftCatalog] =>
          if (c.query.resolved)
            GraftCtasCommand(ri.catalog.asInstanceOf[GraftCatalog],
              ri.identifier, c.partitioning, expand(session, c.query),
              c.ignoreIfExists,
              c.tableSpec match {
                // TBLPROPERTIES thread through (round 11c): the
                // resolved spec carries them as a plain map
                case ts: org.apache.spark.sql.catalyst.plans.logical.TableSpec =>
                  ts.properties
                case _ => Map.empty[String, String]
              })
          else c
        case _ =>
          val q = expand(session, c.query)
          if (q eq c.query) c else c.copy(query = q)
      }

    // `ALTER TABLE … ADD CONSTRAINT n CHECK (e)` parses as
    // AddCheckConstraint over Filter(NOT e, relation) — intercept it
    // whole (BEFORE the default read expansion would swallow the
    // relation and strand ResolveSessionCatalog's V1 probe on the
    // expanded parquet plan) and persist the check by its SQL text
    case ac: AddCheckConstraint =>
      graftRelation(ac.child) match {
        case Some((_, g)) =>
          val c = ac.checkConstraint
          val name = Option(c.userProvidedName).filter(_.nonEmpty)
            .getOrElse("chk_" + java.lang.Integer.toHexString(
              c.condition.hashCode))
          // the ANSI syntax declares standard CHECK behavior: FAIL
          GraftAddConstraintCommand(g, name, c.condition, "FAIL")
        case None => ac
      }

    case dc: DropConstraint =>
      dc.table match {
        case rt: org.apache.spark.sql.catalyst.analysis.ResolvedTable
            if rt.table.isInstanceOf[GraftTable] =>
          GraftDropConstraintCommand(rt.table.asInstanceOf[GraftTable],
            dc.name, dc.ifExists)
        case _ => dc
      }

    // READ EXPANSION waits for the plan to RESOLVE (round 12): the
    // relation's output attributes are what parents resolve against and
    // expansion preserves them, so nothing needs the expanded plan
    // early — but the metadata-aggregate pre-pass needs to see the
    // TABLE HANDLE under a resolved Aggregate, which an eager expansion
    // in an earlier fixed-point iteration would have swallowed. ONE
    // construct genuinely needs the expansion to resolve: `_metadata`
    // columns exist only on the expanded parquet relation (GraftTable
    // declares no metadata columns), so a plan still reaching for them
    // expands eagerly — exactly the pre-round-12 behavior for them.
    case other =>
      if (other.resolved || wantsMetadataCol(other)) expand(session, other)
      else other
  }

  private def wantsMetadataCol(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.headOption.exists(_.equalsIgnoreCase("_metadata"))
      case _ => false
    }))
}

object GraftSqlRule {

  private[sql] def isGraft(r: DataSourceV2Relation): Boolean =
    r.table.isInstanceOf[GraftTable]
  private[sql] def graftOf(r: DataSourceV2Relation): GraftTable =
    r.table.asInstanceOf[GraftTable]

  /** The single graft relation a DML target subtree resolves through
    * (the target is the relation, possibly under SubqueryAlias layers).
    */
  private def graftRelation(target: LogicalPlan): Option[(DataSourceV2Relation, GraftTable)] =
    target.collectFirst {
      case r: DataSourceV2Relation if isGraft(r) => (r, graftOf(r))
    }

  private def isTrueLiteral(e: Expression): Boolean = e match {
    case Literal(true, _) => true
    case _                => false
  }

  /** Star actions are syntactic until ResolveReferences expands them;
    * a merge is lowerable only once none remain.
    */
  private def noStars(m: MergeIntoTable): Boolean =
    (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
      .forall {
        case _: UpdateStarAction | _: InsertStarAction => false
        case _                                         => true
      }

  /** Replace every graft relation (in the plan AND inside subquery
    * expressions) with its snapshot read plan, preserving attribute ids
    * so already-resolved references keep pointing at the right columns.
    * A pre-pass answers whole-table aggregates from the stats sidecar
    * ([[metaAggregate]]) BEFORE the relation expands — top-down, so the
    * Aggregate still sees the table handle under it.
    */
  private[sql] def expand(session: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val pre = plan.transformDownWithSubqueries {
      case agg: Aggregate if agg.resolved =>
        // an OPTIMIZATION must never fail a query the scan could answer:
        // any unexpected error here bails to the normal plan (a genuinely
        // broken table still errors there, with the scan's diagnostics)
        scala.util.Try(metaAggregate(session, agg)).toOption.flatten
          .getOrElse(agg)
    }
    pre.transformUpWithSubqueries {
      case r: DataSourceV2Relation if isGraft(r) => expandRelation(session, r)
    }
  }

  /** METADATA-ONLY AGGREGATES (round 12 — the Iceberg/Delta
    * answer-from-manifest move): a groupless `SELECT count(*) /
    * count(col) / min(col) / max(col) FROM graft_table` (no WHERE, no
    * DISTINCT, no FILTER clause) is answered from the stats sidecar in
    * O(manifest) — zero data IO, the difference between one sidecar
    * read and a full scan on a 100 TB table. Exactness is delegated to
    * [[SnapshotLog.metaRowCount]]/[[SnapshotLog.metaNonNullCount]]/
    * [[SnapshotLog.metaMinMax]], which return None (→ normal scan plan)
    * whenever the sidecar cannot answer exactly: deletion vectors,
    * merge-on-read shadowing, incomplete file coverage, non-numeric
    * min/max (string footer bounds may be truncated), NaN-suppressed
    * stats. Time travel rides free: the relation's pinned
    * snapshotVersion is the version asked. Escape hatch:
    * `SET graft.metaAggregates.enabled=false`.
    */
  private def metaAggregate(session: SparkSession,
                            agg: Aggregate): Option[LogicalPlan] = {
    if (session.conf.get("graft.metaAggregates.enabled", "true") != "true")
      return None
    // the child must be the BARE table (alias layers only): any Filter/
    // Project/Join in between changes the rows the aggregate sees
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: SubqueryAlias => strip(s.child)
      case other            => other
    }
    val (g, ver) = strip(agg.child) match {
      case r: DataSourceV2Relation if isGraft(r) =>
        val gt = graftOf(r)
        (gt, resolvedVersionOf(session, r, gt)) // honor reader-option travel
      case _ => return None
    }
    agg.groupingExpressions match {
      case Nil                        => metaGlobalAgg(session, g, ver, agg)
      case Seq(a: AttributeReference) => metaGroupedAgg(session, g, ver, agg, a)
      case _                          => None
    }
  }

  /** Groupless count/min/max over the whole snapshot. */
  private def metaGlobalAgg(session: SparkSession, g: GraftTable,
                            version: Long,
                            agg: Aggregate): Option[LogicalPlan] = {
    val v = Some(version)
    // per-column memo: min and max of one column cost ONE sidecar fold
    val minMax = scala.collection.mutable.HashMap
      .empty[String, Option[(Any, Any)]]
    def mm(c: String): Option[(Any, Any)] =
      minMax.getOrElseUpdate(c,
        graft.sources.SnapshotLog.metaMinMax(session, g.root, c, v))
    def answer(e: Expression): Option[Any] = e match {
      case Alias(child, _) => answer(child)
      case ae: AggregateExpression
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(children)
              if children.forall(c => c.foldable && c.eval(null) != null) =>
            graft.sources.SnapshotLog.metaRowCount(session, g.root, v)
          case Count(Seq(a: AttributeReference)) =>
            graft.sources.SnapshotLog
              .metaNonNullCount(session, g.root, a.name, v)
          case Min(a: AttributeReference) => mm(a.name).map(_._1)
          case Max(a: AttributeReference) => mm(a.name).map(_._2)
          case _ => None
        }
      case _ => None
    }
    val values = agg.aggregateExpressions.map(answer)
    if (values.exists(_.isEmpty)) return None // any miss → scan the data
    Some(LocalRelation(agg.output,
      Seq(org.apache.spark.sql.catalyst.InternalRow
        .fromSeq(values.map(_.get)))))
  }

  /** GROUP BY <identity partition column>: one output row per leaf,
    * every aggregate answered from the per-leaf sidecar sums — the
    * per-partition profile of a 100 TB scoped table at O(manifest)
    * cost. Bails (scan answers) unless the grouping column IS the
    * single-identity partition column, the lineage is exact, every
    * file is covered, and no leaf is the null-partition marker.
    */
  private def metaGroupedAgg(session: SparkSession, g: GraftTable,
                             v: Long, agg: Aggregate,
                             groupAttr: AttributeReference): Option[LogicalPlan] = {
    import graft.sources.SnapshotLog
    import org.apache.spark.sql.types._
    val partCol = SnapshotLog.identityPartCol(session, g.root, v)
      .getOrElse(return None)
    if (partCol != groupAttr.name) return None
    val dt = g.tableSchema.fields.find(_.name == partCol)
      .map(_.dataType).getOrElse(return None)
    // the group value reconstructs from the DIR NAME string — only
    // types whose dir rendering round-trips exactly AND casts without
    // zone context qualify (timestamps render through the WRITER's
    // session zone; fractional formats vary) — everything else scans
    dt match {
      case StringType | DateType | BooleanType | ByteType | ShortType |
           IntegerType | LongType => ()
      case _ => return None
    }
    // leaf → rows; drop zero-row leaves (GROUP BY emits no group for
    // them); bail outright on the null-partition marker
    val rowsPerLeaf = SnapshotLog.metaZPerLeaf(session, g.root, v, None)
      .getOrElse(return None).filter(_._2._1 > 0L)
    val leafVals: Map[String, String] = rowsPerLeaf.keys.map { l =>
      l -> SnapshotLog.leafValue(l).getOrElse(return None)
    }.toMap
    // lazy per-column folds, shared across aggregate expressions
    val zMemo = scala.collection.mutable.HashMap
      .empty[String, Option[Map[String, (Long, Long)]]]
    def zFor(c: String): Option[Map[String, (Long, Long)]] =
      zMemo.getOrElseUpdate(c, SnapshotLog.metaZPerLeaf(session, g.root, v,
        Some(SnapshotLog.metaPhysName(session, g.root, v, c))))
    val spanMemo = scala.collection.mutable.HashMap
      .empty[String, Option[Map[String, (String, String)]]]
    def spanFor(c: String): Option[Map[String, (String, String)]] =
      spanMemo.getOrElseUpdate(c, {
        val cdt = g.tableSchema.fields.find(_.name == c).map(_.dataType)
        cdt match {
          case Some(d: NumericType) =>
            val castTo = d match {
              case dec: DecimalType       => dec.simpleString
              case DoubleType | FloatType => "double"
              case _                      => "decimal(38,0)"
            }
            SnapshotLog.metaSpanPerLeaf(session, g.root, v,
              SnapshotLog.metaPhysName(session, g.root, v, c), castTo)
          case _ => None
        }
      })
    // zone irrelevant for the admitted types, but Cast demands one for
    // some transitions — pin the session zone rather than crash; a
    // failed cast (corrupt dir name) bails the whole query to the scan
    val zone = session.sessionState.conf.sessionLocalTimeZone
    def castStr(s: String, d: DataType): Any =
      org.apache.spark.sql.catalyst.expressions.Cast(
        Literal.create(s, StringType), d, Some(zone)).eval(null)
    val leaves = rowsPerLeaf.keys.toSeq.sorted
    def answerFor(leaf: String)(e: Expression): Option[Any] = e match {
      case Alias(child, _) => answerFor(leaf)(child)
      case a: AttributeReference if a.name == partCol =>
        Some(castStr(leafVals(leaf), dt))
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(children)
              if children.forall(c => c.foldable && c.eval(null) != null) =>
            Some(rowsPerLeaf(leaf)._1)
          // every row of a leaf carries its (non-null) partition value
          case Count(Seq(a: AttributeReference)) if a.name == partCol =>
            Some(rowsPerLeaf(leaf)._1)
          case Count(Seq(a: AttributeReference)) =>
            zFor(a.name).map { m =>
              val (t, z) = m.getOrElse(leaf, (0L, 0L)); t - z
            }
          // the partition value is constant within its group
          case Min(a: AttributeReference) if a.name == partCol =>
            Some(castStr(leafVals(leaf), dt))
          case Max(a: AttributeReference) if a.name == partCol =>
            Some(castStr(leafVals(leaf), dt))
          case Min(a: AttributeReference) =>
            spanFor(a.name).map(_.get(leaf) match {
              case Some((lo, _)) => castStr(lo,
                g.tableSchema.fields.find(_.name == a.name).get.dataType)
              case None => null // all-NULL leaf
            })
          case Max(a: AttributeReference) =>
            spanFor(a.name).map(_.get(leaf) match {
              case Some((_, hi)) => castStr(hi,
                g.tableSchema.fields.find(_.name == a.name).get.dataType)
              case None => null
            })
          case _ => None
        }
      case _ => None
    }
    val rows = leaves.map { leaf =>
      val vals = agg.aggregateExpressions.map(answerFor(leaf))
      if (vals.exists(_.isEmpty)) return None
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals.map(_.get))
    }
    Some(LocalRelation(agg.output, rows))
  }

  /** `SELECT * FROM table_changes('ns.t', fromV, toV, 'k1,k2')` — the
    * batch CDC surface (Delta's table_changes shape): change rows
    * between two committed versions of a graft-catalog table, computed
    * by [[graft.sources.SnapshotLog.changesBetween]] (O(delta) direct
    * reads on append lineages, keyed snapshot diff otherwise — fully
    * distributed either way, nothing is collected to the driver).
    * Registered as a session TABLE FUNCTION through
    * `SparkSessionExtensions.injectTableFunction` ([[GraftSparkExtensions]])
    * — the native registry hook, so Spark's own TVF resolution finds it
    * like `range` or `explode` (an analyzer-rule interception would lose
    * the race: function resolution throws on unknown names before
    * extension resolution rules run).
    */
  private[sql] def lowerTableChanges(
      session: SparkSession,
      args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be a string literal, got $other")
    }
    def lng(e: Expression, what: String): Long = e match {
      case Literal(v, dt)
          if v != null && (dt == org.apache.spark.sql.types.IntegerType ||
                           dt == org.apache.spark.sql.types.LongType ||
                           dt == org.apache.spark.sql.types.ShortType) =>
        v.toString.toLong
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be an integer literal, got $other")
    }
    require(args.length == 4,
      "table_changes(table, fromVersion, toVersion, keys) takes exactly " +
      s"4 arguments, got ${args.length}")
    val Seq(tArg, fromArg, toArg, keysArg) = args
    val parts = session.sessionState.sqlParser
      .parseMultipartIdentifier(str(tArg, "table name"))
    // resolve the identifier against an explicit graft catalog prefix,
    // or the session's current catalog when it IS a graft catalog
    val mgr = session.sessionState.catalogManager
    val (cat, ident) = parts match {
      case head +: rest if rest.nonEmpty &&
          scala.util.Try(mgr.catalog(head)).toOption.exists(_.isInstanceOf[GraftCatalog]) =>
        (mgr.catalog(head).asInstanceOf[GraftCatalog],
         org.apache.spark.sql.connector.catalog.Identifier.of(
           rest.init.toArray, rest.last))
      case _ =>
        require(mgr.currentCatalog.isInstanceOf[GraftCatalog],
          s"table_changes: '${parts.mkString(".")}' does not name a table in " +
          "a graft catalog (qualify with the catalog name or USE it)")
        (mgr.currentCatalog.asInstanceOf[GraftCatalog],
         org.apache.spark.sql.connector.catalog.Identifier.of(
           parts.init.toArray, parts.last))
    }
    val root = cat.tableRoot(ident)
    val keys = str(keysArg, "keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    graft.sources.SnapshotLog.changesBetween(session, root,
      lng(fromArg, "fromVersion"), lng(toArg, "toVersion"), keys)
      .queryExecution.analyzed
  }

  /** `SELECT * FROM table_changes_by_rowid('ns.t', fromV, toV)` — the
    * KEYLESS batch CDC surface over row identities (round 13, the SQL
    * face of [[graft.sources.SnapshotLog.changesByRowId]]): no declared
    * key set needed, file-granular on flat lineages (only the changed
    * file sets are read), shadow-resolving on merge-on-read ones.
    */
  private[sql] def lowerTableChangesByRowId(
      session: SparkSession,
      args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"table_changes_by_rowid: $what must be a string literal, got $other")
    }
    def lng(e: Expression, what: String): Long = e match {
      case Literal(v, dt)
          if v != null && (dt == org.apache.spark.sql.types.IntegerType ||
                           dt == org.apache.spark.sql.types.LongType ||
                           dt == org.apache.spark.sql.types.ShortType) =>
        v.toString.toLong
      case other => throw new IllegalArgumentException(
        s"table_changes_by_rowid: $what must be an integer literal, got $other")
    }
    require(args.length == 3,
      "table_changes_by_rowid(table, fromVersion, toVersion) takes " +
      s"exactly 3 arguments, got ${args.length}")
    val Seq(tArg, fromArg, toArg) = args
    val root = resolveGraftRoot(session, str(tArg, "table name"),
      "table_changes_by_rowid")
    graft.sources.SnapshotLog.changesByRowId(session, root,
      lng(fromArg, "fromVersion"), lng(toArg, "toVersion"))
      .queryExecution.analyzed
  }

  /** `SELECT * FROM ann_knn('ns.t', array(0.1, …), k)` — top-k by
    * cosine through the table's persisted ANN index sidecar
    * ([[graft.engine.AnnIndex.knn]]): the probed cells' slices are
    * partition-pruned, deleted/superseded assignments are tombstone-
    * filtered, and a stale index refuses loudly (`CALL
    * system.ann_refresh` repairs). The 5-argument form
    * `ann_knn(table, query, k, index_name, nprobe)` selects a named
    * index (e.g. 'ivfpq') and the probe width. The query vector is any
    * constant numeric array, or a CSV string of floats.
    */
  private[sql] def lowerAnnKnn(
      session: SparkSession,
      args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"ann_knn: $what must be a string literal, got $other")
    }
    def int(e: Expression, what: String): Int = e match {
      case Literal(v, dt)
          if v != null && (dt == org.apache.spark.sql.types.IntegerType ||
                           dt == org.apache.spark.sql.types.LongType ||
                           dt == org.apache.spark.sql.types.ShortType) =>
        v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"ann_knn: $what must be an integer literal, got $other")
    }
    def vecOf(e: Expression): Seq[Float] = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        s.toString.split(",").map(_.trim.toFloat).toSeq
      case other =>
        // `array(0.1, …)` arrives UNRESOLVED at TVF-lowering time —
        // resolve it against a one-row relation, then constant-fold
        val resolved = session.sessionState.analyzer.execute(
          Project(Seq(Alias(other, "__q")()), OneRowRelation()))
        val folded = resolved match {
          case Project(Seq(a: Alias), _) => a.child
          case _ => throw new IllegalArgumentException(
            s"ann_knn: query must be a constant array, got $other")
        }
        require(folded.foldable &&
          folded.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"ann_knn: query must be a CONSTANT numeric array, got $other")
        val et = folded.dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        folded.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(et).map {
            case null => throw new IllegalArgumentException(
              "ann_knn: query vector must not contain NULLs")
            case n => n.toString.toFloat
          }.toSeq
    }
    require(args.length == 3 || args.length == 5 || args.length == 6,
      "ann_knn(table, query, k[, index_name, nprobe[, where_sql]]) " +
      s"takes 3, 5 or 6 arguments, got ${args.length}")
    val root = resolveGraftRoot(session, str(args(0), "table name"), "ann_knn")
    val q = vecOf(args(1))
    val k = int(args(2), "k")
    val (name, nprobe) =
      if (args.length >= 5) (str(args(3), "index_name"), int(args(4), "nprobe"))
      else ("ivf", 3)
    // 6-arg form: hybrid search — a SQL predicate over the TABLE's
    // columns restricts which rows compete (filter-before-rank)
    val whereSql = if (args.length == 6)
      Some(str(args(5), "where_sql")).filter(_.trim.nonEmpty) else None
    whereSql match {
      case Some(w) => graft.engine.AnnIndex.knnWhere(session, root, q, k,
        org.apache.spark.sql.functions.expr(w), name, nprobe)
        .queryExecution.analyzed
      case None => graft.engine.AnnIndex.knn(session, root, q, k, name, nprobe)
        .queryExecution.analyzed
    }
  }

  /** `ann_near_dup('ns.t', threshold [, index_name[, margin[,
    * probes]]])` — near-duplicate pairs through the persisted index
    * (round 14; kind dispatch r16; AUTO margin + multi-probe r17):
    * [[graft.engine.AnnIndex.nearDupPairs]] /
    * [[graft.engine.AnnIndex.nearDupPairsPq]] as a TVF, so SQL users
    * get index-amortized dedup candidates without per-run hashing.
    * margin < 0 = AUTO (the model's measured qerr); probes = 2 pairs
    * over each side's stored top-2 cells.
    */
  /** `SELECT * FROM ann_knn_batch('ns.t', 'query_view', k[, index_name,
    * nprobe[, qid_col, vec_col[, shortlist[, where]]]])` — BATCH top-k
    * through
    * the persisted index ([[graft.engine.AnnIndex.knnAll]]): the second
    * argument names any catalog-resolvable table or (temp) view whose
    * rows are the query batch, `(qid, qvec)` columns by default (any
    * numeric array type — SQL array literals are ARRAY<DOUBLE> and are
    * coerced). One pass over the union of the probed cells (chunked
    * passes for the ivfpq kind — round 16); per-row identical to
    * per-query `ann_knn`; batch bounded by
    * `spark.graft.ann.maxBatchQueries`; `shortlist` (ivfpq re-rank
    * width; 0 = auto) as in `ann_knn` — refusals surface as the Scala
    * API's own loud errors.
    */
  private[sql] def lowerAnnKnnBatch(
      session: SparkSession,
      args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"ann_knn_batch: $what must be a string literal, got $other")
    }
    def int(e: Expression, what: String): Int = e match {
      case Literal(v, dt)
          if v != null && (dt == org.apache.spark.sql.types.IntegerType ||
                           dt == org.apache.spark.sql.types.LongType ||
                           dt == org.apache.spark.sql.types.ShortType) =>
        v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"ann_knn_batch: $what must be an integer literal, got $other")
    }
    require(args.length == 3 || args.length == 5 || args.length == 7 ||
        args.length == 8 || args.length == 9,
      "ann_knn_batch(table, queries_view, k[, index_name, nprobe" +
      s"[, qid_col, vec_col[, shortlist[, where]]]]) takes 3, 5, 7, 8 " +
      s"or 9 arguments, got ${args.length}")
    val root = resolveGraftRoot(session, str(args(0), "table name"),
      "ann_knn_batch")
    val queries = session.table(str(args(1), "queries view"))
    val k = int(args(2), "k")
    val (name, nprobe) =
      if (args.length >= 5) (str(args(3), "index_name"), int(args(4), "nprobe"))
      else ("ivf", 3)
    val (qc, vc) =
      if (args.length >= 7) (str(args(5), "qid_col"), str(args(6), "vec_col"))
      else ("qid", "qvec")
    val shortlist = if (args.length >= 8) int(args(7), "shortlist") else 0
    val df = if (args.length == 9)
      graft.engine.AnnIndex.knnAllWhere(session, root, queries, k,
        org.apache.spark.sql.functions.expr(str(args(8), "where")),
        name, nprobe, qc, vc, shortlist)
    else
      graft.engine.AnnIndex.knnAll(session, root, queries, k, name,
        nprobe, qc, vc, shortlist)
    df.queryExecution.analyzed
  }

  private[sql] def lowerAnnNearDup(
      session: SparkSession,
      args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"ann_near_dup: $what must be a string literal, got $other")
    }
    def dbl(e: Expression, what: String): Double = e match {
      case Literal(v, dt)
          if v != null && dt.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        v match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case x => x.toString.toDouble
        }
      case other => throw new IllegalArgumentException(
        s"ann_near_dup: $what must be a numeric literal, got $other")
    }
    require(args.length >= 2 && args.length <= 5,
      s"ann_near_dup(table, threshold[, index_name[, margin[, probes]]])" +
      s" takes 2–5 arguments, got ${args.length}")
    val root = resolveGraftRoot(session, str(args(0), "table name"),
      "ann_near_dup")
    val threshold = dbl(args(1), "threshold")
    val name = if (args.length >= 3) str(args(2), "index_name") else "ivf"
    // margin < 0 = AUTO (round 17 — the Model's measured qerr); probes
    // (5th arg, round 17) is the multi-probe candidate fan-out, valid
    // for BOTH kinds — an ivf caller passes margin = -1 to reach it
    // (margin has no meaning there; any non-negative value is refused
    // below, as before)
    val probes =
      if (args.length == 5) {
        val p = dbl(args(4), "probes")
        require(p == p.toInt && p >= 1 && p <= 2,
          s"ann_near_dup: probes must be 1 or 2, got $p")
        p.toInt
      } else 1
    // dispatch on the INDEX KIND (round 16): an ivfpq index routes to
    // the SDC candidate generator + exact verify; margin (the 4th arg)
    // only means something there. A MISSING index routes by arity so
    // the API's own clean "no ANN index" refusal surfaces — never a
    // diagnostic asserting a kind for an index that does not exist
    // (review r16)
    val kind = graft.engine.AnnIndex.model(session, root, name).map(_.kind)
    val df =
      if (kind.contains("ivfpq") || (kind.isEmpty && args.length >= 4)) {
        if (args.length >= 4)
          graft.engine.AnnIndex.nearDupPairsPq(session, root, threshold,
            dbl(args(3), "margin"), name, probes)
        else
          graft.engine.AnnIndex.nearDupPairsPq(session, root, threshold,
            name = name)
      } else {
        require(args.length < 4 || dbl(args(3), "margin") < 0,
          s"ann_near_dup: margin only applies to ivfpq indexes — " +
          s"'$name' is '${kind.get}' (the per-cell float verify is " +
          "exact); pass margin = -1 to reach the probes argument")
        graft.engine.AnnIndex.nearDupPairs(session, root, threshold, name,
          probes)
      }
    df.queryExecution.analyzed
  }

  /** Resolve a (possibly catalog-qualified) table name string to its
    * snapshot-log root through a graft catalog — the TVF shared step.
    */
  private def resolveGraftRoot(session: SparkSession, name: String,
                               fn: String): String = {
    val parts = session.sessionState.sqlParser.parseMultipartIdentifier(name)
    val mgr = session.sessionState.catalogManager
    val (cat, ident) = parts match {
      case head +: rest if rest.nonEmpty &&
          scala.util.Try(mgr.catalog(head)).toOption.exists(_.isInstanceOf[GraftCatalog]) =>
        (mgr.catalog(head).asInstanceOf[GraftCatalog],
         org.apache.spark.sql.connector.catalog.Identifier.of(
           rest.init.toArray, rest.last))
      case _ =>
        require(mgr.currentCatalog.isInstanceOf[GraftCatalog],
          s"$fn: '${parts.mkString(".")}' does not name a table in " +
          "a graft catalog (qualify with the catalog name or USE it)")
        (mgr.currentCatalog.asInstanceOf[GraftCatalog],
         org.apache.spark.sql.connector.catalog.Identifier.of(
           parts.init.toArray, parts.last))
    }
    cat.tableRoot(ident)
  }

  /** The snapshot a relation reads: the catalog-pinned version, unless
    * READER-OPTION time travel overrides it (round 12 — Delta's shape:
    * `spark.read.option("versionAsOf", 3).table("graft.ns.t")` / the
    * timestampAsOf twin; SQL's own `VERSION AS OF` resolves through the
    * catalog earlier and arrives already pinned in snapshotVersion).
    * Shared by the read expansion and the metadata-aggregate pre-pass —
    * a meta answer must honor the same version the scan would read.
    */
  private def resolvedVersionOf(session: SparkSession,
                                r: DataSourceV2Relation,
                                g: GraftTable): Long = {
    val vOpt = Option(r.options.get("versionAsOf")).map { s =>
      try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"versionAsOf must be a long, got '$s'")
      }
    }
    val tsOpt = Option(r.options.get("timestampAsOf"))
      .map(graft.streaming.GraftBatchRead.parseInstant)
    require(vOpt.isEmpty || tsOpt.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    vOpt.orElse(tsOpt.map { ts =>
      graft.sources.SnapshotLog.versionAsOf(session, g.root, ts).getOrElse(
        throw new IllegalStateException(
          s"no version of ${g.name()} committed at or before $ts " +
          "(too early, or vacuumed)"))
    }).getOrElse(g.snapshotVersion)
  }

  private[sql] def expandRelation(session: SparkSession,
                                  r: DataSourceV2Relation): LogicalPlan = {
    val g = graftOf(r)
    val version = resolvedVersionOf(session, r, g)
    val child = graft.sources.SnapshotLog
      .readVersion(session, g.root, version)
      .queryExecution.analyzed
    val byName = child.output.map(a => a.name.toLowerCase -> a).toMap
    Project(
      r.output.map { t =>
        val src = byName.getOrElse(t.name.toLowerCase,
          throw new IllegalStateException(
            s"graft table ${g.name()} v${g.snapshotVersion} has no column ${t.name} " +
            s"— catalog schema drifted from the manifest"))
        Alias(src, t.name)(exprId = t.exprId, qualifier = t.qualifier)
      },
      child)
  }

  // ---- UPDATE: per-column conditional projection over the snapshot ----

  private def lowerUpdate(session: SparkSession, g: GraftTable,
                          rel: DataSourceV2Relation, u: UpdateTable): LogicalPlan = {
    val assigned: Map[ExprId, Expression] =
      u.assignments.flatMap(a => keyAttr(a.key, rel).map(_.exprId -> a.value)).toMap
    require(assigned.size == u.assignments.size,
      s"unresolvable UPDATE assignment keys in ${u.assignments}")
    // merge-on-read fast path: tombstone matched positions + append the
    // rewritten rows in one version — O(matched rows), no file rewrites.
    // Needs name-rebindable expressions (no subqueries) and a flat
    // lineage (scoped tables carry the partition value in __gp dir
    // names, which a flat appended dir can't).
    val rebindable = (u.condition.toSeq ++ u.assignments.map(_.value))
      .forall(e => !e.exists(_.isInstanceOf[SubqueryExpression]))
    if (g.morKeys.nonEmpty && rebindable) {
      // merge-on-read lineage: the rewritten matched rows commit as ONE
      // O(matched) shadowing delta (upsertMor) — no vector, no rewrite
      val sets = rel.output.toSeq.flatMap { t =>
        assigned.get(t.exprId).map(v => t.name -> castTo(v, t.dataType))
      }
      GraftUpdateShadowCommand(g, u.condition, sets)
    } else if (g.morKeys.nonEmpty) {
      // subquery-form UPDATE on a MoR lineage (round 11d — previously
      // the COW-fallback refusal): the predicate/assignments cannot
      // rebind by name onto a positional scan, but they CAN evaluate
      // against the expanded visible plan (attribute ids preserved, so
      // IN/scalar/correlated subqueries resolve as Catalyst left them)
      // — shadow ONLY the matched rows, still O(matched), no rewrite
      val keyHit = rel.output.filter(t =>
        g.morKeys.exists(_.equalsIgnoreCase(t.name)))
        .find(t => assigned.contains(t.exprId))
      require(keyHit.isEmpty,
        s"UPDATE cannot reassign merge-on-read key column " +
        s"${keyHit.map(_.name).getOrElse("")} — shadowing identity; " +
        "materialize first via CALL <cat>.system.compact_chain")
      val read = expand(session, u.table)
      val cond = u.condition.getOrElse(Literal.TrueLiteral)
      val cols = rel.output.map { t =>
        assigned.get(t.exprId) match {
          case Some(v) => Alias(castTo(v, t.dataType), t.name)()
          case None => Alias(t, t.name)()
        }
      }
      GraftUpdateShadowPlanCommand(g, Project(cols, Filter(cond, read)),
        assignedCols = rel.output
          .filter(t => assigned.contains(t.exprId)).map(_.name).toSet)
    } else if (g.partCol.isEmpty && rebindable) {
      val sets = rel.output.toSeq.flatMap { t =>
        assigned.get(t.exprId).map(v => t.name -> castTo(v, t.dataType))
      }
      GraftUpdateMorCommand(g, u.condition, sets)
    } else {
      // copy-on-write fallback: per-column conditional projection over
      // the snapshot, committed as the complete next version; the
      // written marker (round 11) flags exactly the condition-matched
      // rows so constraints gate writes, not carried rows
      val cond = u.condition.getOrElse(Literal.TrueLiteral)
      val cols = rel.output.map { t =>
        assigned.get(t.exprId) match {
          case Some(v) =>
            Alias(If(cond, castTo(v, t.dataType), t), t.name)()
          case None => Alias(t, t.name)()
        }
      }
      val written = Alias(Coalesce(Seq(cond, Literal.FalseLiteral)),
        GraftCommands.WrittenMarker)()
      // row tracking (round 13): an UPDATE rewrites rows IN PLACE, so
      // identities must survive — read the snapshot with its stable id,
      // rebind the relation's attribute ids onto that scan (the
      // expandRelation trick), and pass the id through the projection;
      // replaceWithChanges materializes it into the rewritten files.
      // Untracked tables keep the plain expansion.
      val ridThread: Option[(LogicalPlan, Alias)] =
        if (!graft.sources.SnapshotLog.rowTrackingEnabled(session, g.root))
          None
        else {
          val ridChild = graft.sources.SnapshotLog
            .readWithRowIds(session, g.root).queryExecution.analyzed
          val byName = ridChild.output.map(a => a.name.toLowerCase -> a).toMap
          val ridAlias = Alias(byName("_row_id"),
            graft.sources.SnapshotLog.RowIdCol)()
          val replaced = u.table.transformUp {
            case r: DataSourceV2Relation if isGraft(r) =>
              Project(
                r.output.map { t =>
                  val src = byName.getOrElse(t.name.toLowerCase,
                    throw new IllegalStateException(
                      s"graft table ${g.name()} has no column ${t.name}"))
                  Alias(src, t.name)(exprId = t.exprId,
                    qualifier = t.qualifier)
                } :+ ridAlias,
                ridChild)
          }
          Some((replaced, ridAlias))
        }
      val (read, extraOut) = ridThread match {
        case Some((p, a)) => (p, Seq(a.toAttribute))
        case None         => (expand(session, u.table), Nil)
      }
      GraftReplaceCommand(g, Project(cols ++ (written +: extraOut), read),
        "UPDATE",
        assignedCols = rel.output
          .filter(t => assigned.contains(t.exprId)).map(_.name).toSet)
    }
  }

  // ---- MERGE ----

  private def lowerMerge(session: SparkSession, g: GraftTable,
                         rel: DataSourceV2Relation, m: MergeIntoTable): LogicalPlan =
    classicUpsert(g, rel, m) match {
      case Some((keys, mapping)) =>
        // the pruned fast paths: UPDATE-all/INSERT-all by equality keys
        // is upsertScoped on a PARTITIONED BY table (O(touched
        // partitions)) and the file-granular keyed upsert on a flat one
        // (O(matched files) via the skipping stats — round 10)
        val batch = Project(
          rel.output.map(t => Alias(castTo(mapping(t.exprId), t.dataType), t.name)()),
          expand(session, m.sourceTable))
        if (g.partCol.nonEmpty) GraftUpsertScopedCommand(g, batch, keys)
        else GraftUpsertKeyedCommand(g, batch, keys)
      case None =>
        // general multi-clause form: still file-granular when the ON
        // is pure key equality and no NOT MATCHED BY SOURCE clause
        // exists (those touch rows outside the matched files) — the
        // command prunes to stats-matched files and falls back to the
        // full rewrite internally when ineligible
        val prunable = g.partCol.isEmpty &&
          m.notMatchedBySourceActions.isEmpty &&
          (m.matchedActions ++ m.notMatchedActions).forall {
            case _: UpdateAction | _: InsertAction | _: DeleteAction => true
            case _ => false
          }
        equalityKeyPairs(m.mergeCondition, rel).filter(_ => prunable) match {
          case Some(pairs) =>
            GraftMergePrunedCommand(g, expand(session, m.sourceTable), pairs,
              m.matchedActions, m.notMatchedActions, m.mergeCondition,
              rel.output.collect { case a: AttributeReference => a })
          case None =>
            GraftReplaceCommand(g, generalMergePlan(session, rel, m), "MERGE",
              assignedCols = mergeAssignedNames(m, rel))
        }
    }

  /** The union of target column names any of the MERGE's actions
    * explicitly assigns — generated columns OUTSIDE this set recompute
    * on written rows (round 12); inside it, the supplied value
    * validates like any other write.
    */
  private def mergeAssignedNames(m: MergeIntoTable,
                                 rel: DataSourceV2Relation): Set[String] =
    (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
      .flatMap {
        case UpdateAction(_, assigns, _) =>
          assigns.flatMap(a => keyAttr(a.key, rel).map(_.name))
        case InsertAction(_, assigns) =>
          assigns.flatMap(a => keyAttr(a.key, rel).map(_.name))
        case _ => Nil
      }.toSet

  /** `t.k1 = s.k1 AND …` → the (target column name, SOURCE attribute)
    * pairs — what the pruned general MERGE probes the skipping stats
    * with; None for any other condition shape.
    */
  private def equalityKeyPairs(cond: Expression, rel: DataSourceV2Relation)
      : Option[Seq[(String, AttributeReference)]] = {
    val targetIds = rel.output.map(_.exprId).toSet
    def split(e: Expression): Option[Seq[(String, AttributeReference)]] = e match {
      case And(l, r) => for (a <- split(l); b <- split(r)) yield a ++ b
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (targetIds.contains(a.exprId) && !targetIds.contains(b.exprId))
          Some(Seq((a.name, b)))
        else if (targetIds.contains(b.exprId) && !targetIds.contains(a.exprId))
          Some(Seq((b.name, a)))
        else None
      case _ => None
    }
    split(cond)
  }

  /** Detect `WHEN MATCHED THEN UPDATE SET <all cols from source> WHEN
    * NOT MATCHED THEN INSERT <same mapping>` with an equality-AND merge
    * condition: returns the key column names and the per-target-column
    * source expression.
    */
  private def classicUpsert(g: GraftTable, rel: DataSourceV2Relation,
                            m: MergeIntoTable): Option[(Seq[String], Map[ExprId, Expression])] = {
    if (m.notMatchedBySourceActions.nonEmpty) return None
    (m.matchedActions, m.notMatchedActions) match {
      case (Seq(UpdateAction(None, up, _)), Seq(InsertAction(None, ins))) =>
        def mapOf(as: Seq[Assignment]): Option[Map[ExprId, Expression]] = {
          val pairs = as.flatMap(a => keyAttr(a.key, rel).map(_.exprId -> a.value))
          if (pairs.size == as.size) Some(pairs.toMap) else None
        }
        (mapOf(up), mapOf(ins)) match {
          case (Some(um), Some(im))
              if um.keySet == rel.output.map(_.exprId).toSet &&
                 im.keySet == um.keySet &&
                 rel.output.forall(t => um(t.exprId).semanticEquals(im(t.exprId))) =>
            equalityKeys(m.mergeCondition, rel).flatMap { keys =>
              if (g.partCol.isEmpty) Some((keys, um)) // flat: keyed upsert
              else {
                // scoped upserts demand stable partition identity: every
                // column the partition spec references must itself be a
                // merge key (otherwise a row could migrate partitions,
                // which the scoped contract forbids — a day transform
                // over a key column is stable because the key is) — fall
                // back to rewrite if not
                val refs = graft.sources.SnapshotLog.parseGpSpec(g.partCol).refCols
                if (refs.nonEmpty && refs.forall(keys.contains))
                  Some((keys, um))
                else None
              }
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** `t.k1 = s.k1 AND t.k2 = s.k2 …` → Some(Seq(k1, k2…)); anything
    * else (OR, inequality, expressions over the keys) → None.
    */
  private def equalityKeys(cond: Expression,
                           rel: DataSourceV2Relation): Option[Seq[String]] = {
    val targetIds = rel.output.map(_.exprId).toSet
    def split(e: Expression): Option[Seq[String]] = e match {
      case And(l, r) => for (a <- split(l); b <- split(r)) yield a ++ b
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (targetIds.contains(a.exprId) && !targetIds.contains(b.exprId))
          Some(Seq(a.name))
        else if (targetIds.contains(b.exprId) && !targetIds.contains(a.exprId))
          Some(Seq(b.name))
        else None
      case _ => None
    }
    split(cond)
  }

  /** The copy-on-write general form: FULL OUTER join target×source on
    * the merge condition, presence flags on both sides, then per-column
    * CASE WHEN over the action list (first matching clause wins, SQL
    * MERGE semantics) plus a keep-predicate that drops DELETE-matched
    * rows and never-inserted source rows. The result is the complete
    * next snapshot — committed as one new version.
    */
  private def generalMergePlan(session: SparkSession,
                               rel: DataSourceV2Relation,
                               m: MergeIntoTable): LogicalPlan = {
    val targetRead = expand(session, m.targetTable)
    val sourceRead = expand(session, m.sourceTable)
    val tFlag = Alias(Literal(true), "__graft_from_target")()
    val sFlag = Alias(Literal(true), "__graft_from_source")()
    val left = Project(targetRead.output :+ tFlag, targetRead)
    val right = Project(sourceRead.output :+ sFlag, sourceRead)
    val join = Join(left, right, FullOuter, Some(m.mergeCondition), JoinHint.NONE)
    val tPresent = IsNotNull(tFlag.toAttribute)
    val sPresent = IsNotNull(sFlag.toAttribute)

    // (branch condition, action) in clause order across the three
    // disjoint regimes — regime predicates make the order across groups
    // irrelevant, order WITHIN a group is the user's clause order
    val branches: Seq[(Expression, MergeAction)] =
      m.matchedActions.map { a =>
        (And(And(tPresent, sPresent), a.condition.getOrElse(Literal.TrueLiteral)), a)
      } ++ m.notMatchedActions.map { a =>
        (And(And(sPresent, Not(tPresent)), a.condition.getOrElse(Literal.TrueLiteral)), a)
      } ++ m.notMatchedBySourceActions.map { a =>
        (And(And(tPresent, Not(sPresent)), a.condition.getOrElse(Literal.TrueLiteral)), a)
      }

    val keep = CaseWhen(
      branches.map { case (c, a) =>
        (c, Literal(!a.isInstanceOf[DeleteAction])): (Expression, Expression)
      },
      // no clause applies: target rows survive unchanged, source-only
      // rows are NOT inserted (SQL MERGE default)
      Some(tPresent))

    val cols = rel.output.map { t =>
      val value = CaseWhen(
        branches.map { case (c, a) =>
          (c, actionValue(a, t, rel)): (Expression, Expression)
        },
        Some(t: Expression))
      Alias(value, t.name)()
    }
    // written marker (round 11): a WHEN clause fired on this row — the
    // constraint gate binds to these, never to carried target rows
    val written = Alias(CaseWhen(
      branches.map { case (c, _) =>
        (c, Literal.TrueLiteral): (Expression, Expression)
      },
      Some(Literal.FalseLiteral)), GraftCommands.WrittenMarker)()
    Project(cols :+ written, Filter(keep, join))
  }

  private def actionValue(a: MergeAction, t: AttributeReference,
                          rel: DataSourceV2Relation): Expression = a match {
    case UpdateAction(_, assigns, _) =>
      assigns.find(as => keyAttr(as.key, rel).exists(_.exprId == t.exprId))
        .map(as => castTo(as.value, t.dataType)).getOrElse(t)
    case InsertAction(_, assigns) =>
      assigns.find(as => keyAttr(as.key, rel).exists(_.exprId == t.exprId))
        .map(as => castTo(as.value, t.dataType))
        .getOrElse(Literal(null, t.dataType))
    case _: DeleteAction => t // row is dropped by the keep predicate
    case other => throw new UnsupportedOperationException(
      s"unsupported merge action $other")
  }

  /** An assignment key resolves to a target column attribute (possibly
    * name-only if the analyzer left it unresolved-but-matchable).
    */
  private def keyAttr(key: Expression,
                      rel: DataSourceV2Relation): Option[AttributeReference] = key match {
    case a: AttributeReference =>
      rel.output.find(_.exprId == a.exprId)
        .orElse(rel.output.find(_.name.equalsIgnoreCase(a.name)))
    case _ => None
  }

  private def castTo(e: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
    if (e.dataType == dt) e else Cast(e, dt)
}
