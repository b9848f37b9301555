package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-column coercion + cleaning — the reference pipeline's per-row
  * clean/coerce stage (trim, case-fold, regex normalization of catalog
  * numbers like "MATH 201.5", string→typed casts) re-expressed as columnar
  * rules (SURVEY §2.1 [ref-shaped]).
  *
  * All-strings input (CSV) → typed output + an audit of rows that failed
  * coercion, via try_cast: the good/bad split is two filters over one
  * scan, never a row-at-a-time loop. At 100 TB both outputs stream from
  * the same stage with no extra shuffle.
  */
object Coerce {

  /** A cleaning rule: applied in order before the cast. */
  sealed trait Clean
  case object Trim extends Clean
  case object Upper extends Clean
  case object Lower extends Clean
  /** regexp_replace(pattern → replacement) */
  final case class ReplaceAll(pattern: String, replacement: String) extends Clean
  /** keep only the first regex group match (catalog-number extraction) */
  final case class Extract(pattern: String, group: Int) extends Clean

  final case class Rule(column: String, cleans: Seq[Clean], castTo: String)

  private def applyCleans(c: Column, cleans: Seq[Clean]): Column =
    cleans.foldLeft(c) {
      case (col0, Trim)                   => trim(col0)
      case (col0, Upper)                  => upper(col0)
      case (col0, Lower)                  => lower(col0)
      case (col0, ReplaceAll(p, r))       => regexp_replace(col0, p, r)
      case (col0, Extract(p, g))          => regexp_extract(col0, p, g)
    }

  /** Cleaned + coerced view of `raw`: every rule column cleaned then
    * try_cast to its target type (null on failure — see audit below);
    * non-rule columns pass through untouched.
    */
  def coerce(raw: DataFrame, rules: Seq[Rule]): DataFrame = {
    val byName = rules.map(r => r.column -> r).toMap
    val cols = raw.columns.toSeq.map { c =>
      byName.get(c) match {
        case Some(r) =>
          applyCleans(col(c), r.cleans).try_cast(r.castTo).as(c)
        case None => col(c)
      }
    }
    raw.select(cols: _*)
  }

  /** Name of the audit column [[audit]] adds. */
  val AuditCol = "bad_columns"

  /** True on an audited row that failed coercion. */
  val isBad: Column = size(col(AuditCol)) > 0

  /** `raw` plus the audit column: an array naming every rule column that
    * was NON-null before coercion but null after (the cast failed, not a
    * genuinely missing value). Empty on a good row. The one definition of
    * "bad row" shared by [[coerceWithAudit]] and [[Rebuild]].
    */
  def audit(raw: DataFrame, rules: Seq[Rule]): DataFrame = {
    val failFlags = rules.map { r =>
      val cleaned = applyCleans(col(r.column), r.cleans)
      when(col(r.column).isNotNull && cleaned.try_cast(r.castTo).isNull,
        lit(r.column))
    }
    raw.withColumn(AuditCol, array_compact(array(failFlags: _*)))
  }

  /** The good rows of an [[audit]]ed frame, cleaned and coerced. */
  def good(audited: DataFrame, rules: Seq[Rule]): DataFrame =
    coerce(audited.filter(!isBad).drop(AuditCol), rules)

  /** Good/bad split with audit. `bad` keeps the ORIGINAL raw values plus
    * the `bad_columns` array naming the offenders — the forensic output
    * the reference prints to its load logs.
    */
  def coerceWithAudit(raw: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val audited = audit(raw, rules)
    (good(audited, rules), audited.filter(isBad))
  }
}
