package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Projection / row-predicate operators (SURVEY.md §2.2, P1-P6; the P7
  * empty guard is [[CacheScope.isEmpty]], P8 lives in `Sinks.writeCsvAll`).
  *
  * All are pure `DataFrame => DataFrame` plan builders (use via
  * `df.transform(...)`): nothing here runs an action, so Catalyst folds the
  * whole chain into one physical plan with pushdown/pruning intact — the
  * property that keeps these viable at 100 TB.
  */
object Projections {

  /** P1 — drop noisy columns, ignoring absent ones (reference drops only
    * columns present: ecommerce_s3_to_pg.py:228-233; Spark `drop` already
    * ignores missing names). */
  def dropColumns(names: Seq[String])(df: DataFrame): DataFrame =
    df.drop(names: _*)

  /** P2 — column-name normalization: lowercase, trim, runs of whitespace or
    * hyphens → `_` (ecommerce_s3_to_pg.py:140, :394). Pure metadata. */
  def normalizeName(s: String): String =
    s.trim.toLowerCase.replaceAll("[\\s\\-]+", "_")

  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName): _*)

  /** P3 — rename map, applied only where the source column exists
    * (ecommerce_s3_to_pg.py:242-245, :324-326, :358-360; including the
    * *intent* of the dead `gross_amt` rename at :396-398 — see SURVEY.md
    * defect list). */
  def renameColumns(renames: Map[String, String])(df: DataFrame): DataFrame =
    // pure-metadata toDF rename: `withColumnsRenamed` parses attribute names
    // and rejects reference-real column names like `design_no.`
    df.toDF(df.columns.map(c => renames.getOrElse(c, c)): _*)

  /** P4 — keep rows whose null ratio across all columns is < `threshold`
    * (ecommerce_s3_to_pg.py:253 — runs BEFORE sentinel normalization, so
    * 'NA' strings count as non-null; the pipeline encodes that order). */
  def rowNullRatioBelow(threshold: Double, exclude: Seq[String] = Nil)(
      df: DataFrame): DataFrame = {
    val cols = df.columns.filterNot(exclude.contains)
    val n = cols.length
    val nullCount = cols
      .map(c => qcol(c).isNull.cast("int"))
      .reduce(_ + _)
    df.filter(nullCount / lit(n.toDouble) < threshold)
  }

  /** P5 — drop rows null in any *present* critical column
    * (ecommerce_s3_to_pg.py:267-270). */
  def dropRowsNullIn(critical: Seq[String])(df: DataFrame): DataFrame = {
    val present = critical.filter(df.columns.contains)
    if (present.isEmpty) df else df.na.drop("any", present)
  }

  /** P6 — row predicate: every listed cell is a string containing at least
    * one letter (`is_all_strings`, ecommerce_s3_to_pg.py:45-55). Null cells
    * fail the predicate, matching the reference's isinstance check. Compiles
    * to an rlike conjunction — no UDF. */
  def allAlphabetic(cols: Seq[String]): Column =
    cols.map(c => qcol(c).cast("string").rlike("[a-zA-Z]")).reduce(_ && _)
}
