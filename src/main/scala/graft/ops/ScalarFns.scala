package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Scalar / string / date / numeric cleaning functions (SURVEY.md §2.3,
  * F1-F10). All pure Catalyst expressions — codegen'd, no UDFs — and all
  * null-safe in the "coerce to null" style of the reference (`try_cast` /
  * `try_to_date`, since Spark 4 runs ANSI-on by default).
  */
object ScalarFns {

  /** F7 sentinel list (ecommerce_s3_to_pg.py:137). Applied after trim, so
    * `' '` is caught as `''` — the pipeline preserves that order. */
  val naSentinels: Seq[String] =
    Seq(" ", "", "NA", "na", "n/a", "N/A", "n/A", "N/a", "null", "Null", "NULL")

  /** F5 month-prefix mapping (ecommerce_s3_to_pg.py:130-135). */
  val monthMapping: Map[String, String] = Map(
    "jan" -> "January", "feb" -> "February", "mar" -> "March",
    "apr" -> "April", "may" -> "May", "jun" -> "June",
    "jul" -> "July", "aug" -> "August", "sep" -> "September",
    "oct" -> "October", "nov" -> "November", "dec" -> "December")

  /** F1 — upper+trim on columns whose (normalized) name contains a keyword
    * (`standardize_text_columns`, ecommerce_s3_to_pg.py:57-72). */
  val standardizeKeywords: Seq[String] = Seq("sku", "customer", "style", "size")

  def upperTrimKeywordCols(keywords: Seq[String] = standardizeKeywords)(
      df: DataFrame): DataFrame = {
    val targets = df.columns.filter(c =>
      keywords.exists(k => c.toLowerCase.contains(k)))
    targets.foldLeft(df)((d, c) =>
      d.withColumn(c, upper(strip(qcol(c).cast("string")))))
  }

  /** F2 — lower+trim on explicitly listed columns (ecommerce_s3_to_pg.py:
    * 236-240), only those present. */
  def lowerTrimCols(cols: Seq[String])(df: DataFrame): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df)((d, c) =>
      d.withColumn(c, lower(strip(qcol(c).cast("string")))))

  /** The whitespace class `\s` = [ \t\n\x0B\f\r] — shared by [[strip]] and
    * [[numericScrub]] so both stay in lock-step with the DuckDB oracles'
    * explicit char set. */
  private val wsChars = " \t\n\u000B\f\r"

  /** Python-`str.strip()` semantics: strip ALL leading/trailing whitespace
    * (tabs, newlines, …), not just spaces like Spark's one-arg `trim`.
    * Uses the char-set `trim` built-in — a single codegen'd pass; the
    * regexp_replace("^\\s+|\\s+$") form it replaces ran a regex engine per
    * value and dominated the Transform stats pass at sf0.1. */
  def strip(c: Column): Column = trim(c, wsChars)

  /** F3 — strip every string-typed column (ecommerce_s3_to_pg.py:190-191). */
  def trimStringCols(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    strCols.foldLeft(df)((d, c) => d.withColumn(c, strip(qcol(c))))
  }

  /** F4 — date parse expression: multi-format best-effort parse, formatted
    * back to `yyyy-MM-dd` strings, null on failure — the Spark rendering of
    * `pd.to_datetime(errors='coerce').strftime('%Y-%m-%d')`
    * (ecommerce_s3_to_pg.py:149-155). pandas infers per-value; we cover the
    * formats that occur in the three Kaggle report shapes. */
  def parseDate(c: Column): Column = {
    val s = strip(c.cast("string"))
    // regexp-dispatched: each row attempts (at most) ONE real parse. A
    // plain coalesce-of-try_to_date chain throws+catches internally for
    // every failed format per row — measured 100×+ slower on non-ISO data
    // at sf0.1 (the cheap rlike guard keeps whole-stage codegen hot and
    // garbage rows parse-free).
    val parsed =
      when(s.rlike("^\\d{4}-\\d{2}-\\d{2}"), try_to_date(s)) // ISO date/ts
        .when(s.rlike("^\\d{1,2}-\\d{1,2}-\\d{2}$"),
          try_to_date(s, "MM-dd-yy"))          // 04-30-22 (Amazon report)
        .when(s.rlike("^\\d{1,2}/\\d{1,2}/\\d{2}$"),
          try_to_date(s, "MM/dd/yy"))
        .when(s.rlike("^\\d{1,2}-\\d{1,2}-\\d{4}$"),
          try_to_date(s, "MM-dd-yyyy"))
        .when(s.rlike("^\\d{1,2}/\\d{1,2}/\\d{4}$"),
          try_to_date(s, "MM/dd/yyyy"))
        .when(s.rlike("^[A-Za-z]{3}-\\d{2}$"),
          try_to_date(s, "MMM-yy"))            // JUN-22 (intl report)
        .when(s.rlike("^\\d{1,2}-[A-Za-z]{3}-\\d{2}$"),
          try_to_date(s, "dd-MMM-yy"))
    date_format(parsed, "yyyy-MM-dd")
  }

  /** F5 strategy A — whole column datetime-parses: full month name.
    * Same regexp-dispatch rationale as [[parseDate]]: only plausible
    * datetime shapes ever reach a real parser. */
  def monthFromDatetime(c: Column): Column = {
    val s = strip(c.cast("string"))
    date_format(
      when(s.rlike("^\\d{4}-\\d{2}"), try_to_timestamp(s))
        .when(s.rlike("^[A-Za-z]{3}-\\d{2}$"),
          try_to_date(s, "MMM-yy").cast("timestamp")),
      "MMMM")
  }

  /** F5 strategy B — 3-char-prefix lookup (`jun` → `June`); non-match →
    * null (ecommerce_s3_to_pg.py:164-168). Map-literal expression, no UDF. */
  def monthFromPrefix(c: Column): Column = {
    val entries = monthMapping.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    val m = map(entries: _*)
    element_at(m, lower(strip(c.cast("string"))).substr(1, 3))
  }

  /** F6 — currency scrub: strip `[$,() \s]`, try-cast to double
    * (ecommerce_s3_to_pg.py:177-178). Adoption (the >90% rule) is decided
    * from stats by [[graft.pipeline.Transform]]; `round(2)` on adopt. */
  def numericScrub(c: Column): Column =
    // translate with an empty replacement DELETES every matched char in
    // one codegen'd dictionary pass — same effect as the regex class
    // [\$,()\s], without the per-value regex engine
    translate(c.cast("string"), "$,()" + wsChars, "")
      .try_cast("double")

  def numericScrubRounded(c: Column): Column = round(numericScrub(c), 2)

  /** F7 — NA-sentinel normalization (ecommerce_s3_to_pg.py:196-197). */
  def sentinelToNull(c: Column): Column =
    when(c.cast("string").isin(naSentinels: _*), lit(null)).otherwise(c)

  def sentinelsToNull(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    strCols.foldLeft(df)((d, c) => d.withColumn(c, sentinelToNull(qcol(c))))
  }

  /** F9 — timestamped object-key generation (driver-side;
    * ecommerce_raw_to_s3.py:86,106). */
  def timestampedKey(prefix: String, name: String, at: java.time.Instant): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd_HH-mm-ss").withZone(java.time.ZoneOffset.UTC)
    s"$prefix/${name}_${fmt.format(at)}.csv"
  }

  /** F10 — audit columns (`loaded_at`, `data_source`;
    * ecommerce_s3_to_pg.py:535-603). */
  def withAudit(source: String, loadedAt: java.sql.Timestamp)(
      df: DataFrame): DataFrame =
    df.withColumn("loaded_at", lit(loadedAt))
      .withColumn("data_source", lit(source))
}
