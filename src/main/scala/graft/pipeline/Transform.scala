package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType

import graft.ops.{qcol, CacheScope, Projections, ScalarFns}

/** The generic cleaning chain (`transform`, ecommerce_s3_to_pg.py:123-214) —
  * the heart of reference parity. Stage order is load-bearing (SURVEY.md
  * §3.3 / §7.4):
  *
  *  a. P2 normalize column names
  *  b. per column: F4 date-parse (`date` in name) → F5 month normalize
  *     (`month` in name, column-level two-strategy) → F6 currency scrub
  *     with the >90% adoption rule (string columns)
  *  c. F3 trim remaining string columns
  *  d. F7 NA-sentinel normalization (after trim, so `' '` → `''` is caught)
  *  e. A5 drop all-null columns
  *
  * The data-dependent decisions (F5 strategy, F6 adoption, A5 drop) cannot
  * be one lazy plan, but they need nothing beyond per-column non-NULL
  * counts: the input is persisted (memory-then-disk) with, per column,
  * the candidate value of EVERY possible outcome (datetime-parseable
  * months AND prefix-mapped months, adopted numerics AND kept-string
  * survivors), and the cache fill carries the counts. The one job that
  * fills that cache ([[Bridge.fillCache]]) sums the row count and each
  * column's non-NULL count from the statistics the cached batches keep
  * anyway, so strategy pick, adoption and the A5 column drop resolve
  * with no aggregate of their own. The fill + the caller's action =
  * exactly two passes, and the caller's action reads the cache, so
  * upstream shuffles (e.g. a preceding dedup) never re-execute. The
  * cache is registered with [[CacheScope]] — callers release it
  * deterministically after their materializing action, so
  * per-micro-batch / per-rep invocations never accumulate storage.
  */
object Transform {

  def apply(df0: DataFrame): DataFrame = {
    val norm = Projections.normalizeColumnNames(df0)
    val baseCols = norm.columns.toSeq

    val stringCols = norm.schema.fields
      .filter(_.dataType == StringType).map(_.name).toSet
    val dateCols = baseCols.filter(_.contains("date"))
    val monthCols = baseCols
      .filter(c => c.contains("month") && !dateCols.contains(c))
    // F6 candidates: string-typed columns (the reference's `object` dtype
    // loop) not already converted by the date pass. Month columns re-enter
    // as month-name strings and simply fail numeric conversion, like in
    // the reference.
    val numericCandidates = baseCols
      .filter(c => stringCols.contains(c) && !dateCols.contains(c)
        && !monthCols.contains(c))

    // ---- candidate columns, computed ONCE into the scope cache ------------
    // The heavy conversion expressions (multi-format date parse, both
    // month strategies, numeric scrub, stripped-sentinel survivor) are
    // extra cached columns, so each is evaluated exactly once: the cache
    // fill counts their non-NULLs and the final projection reads the
    // cached value. The cache row widens by the candidate columns in
    // exchange. Helper names carry the "__cand" prefix and never escape:
    // both return branches select `baseCols` only.
    def d(c: String) = s"__cand_d_$c"
    def ma(c: String) = s"__cand_ma_$c"
    def mb(c: String) = s"__cand_mb_$c"
    def num(c: String) = s"__cand_num_$c"
    def keep(c: String) = s"__cand_keep_$c"
    val candCols: Seq[Column] =
      dateCols.map(c => ScalarFns.parseDate(qcol(c)).as(d(c))) ++
        monthCols.flatMap(c => Seq(
          ScalarFns.monthFromDatetime(qcol(c)).as(ma(c)),
          ScalarFns.monthFromPrefix(qcol(c)).as(mb(c)))) ++
        numericCandidates.flatMap(c => Seq(
          ScalarFns.numericScrub(qcol(c)).as(num(c)),
          ScalarFns.sentinelToNull(ScalarFns.strip(qcol(c))).as(keep(c))))
    val df = CacheScope.persist(
      norm.select(baseCols.map(qcol) ++ candCols: _*))

    // ---- the counts every decision reads, from the cache fill ------------
    val counts = Bridge.fillCache(df)
    val nonNull = df.columns.zip(counts.nonNull).toMap
    val total = counts.rows

    // ---- resolve decisions + final non-null count per column --------------
    def monthStrategyA(c: String): Boolean = nonNull(ma(c)) > 0
    def adopted(c: String): Boolean =
      total > 0 && nonNull(num(c)) > 0.9 * total
    def finalNonNull(c: String): Long =
      if (dateCols.contains(c)) nonNull(d(c))
      else if (monthCols.contains(c))
        nonNull(if (monthStrategyA(c)) ma(c) else mb(c))
      else if (numericCandidates.contains(c))
        nonNull(if (adopted(c)) num(c) else keep(c))
      else nonNull(c)

    // ---- build the projection from the precomputed candidates -------------
    // identical values to recomputing the expressions here (same input
    // column, same expression, evaluated at fill time instead)
    val projected = baseCols.foldLeft(df: DataFrame) { (dd, c) =>
      if (dateCols.contains(c)) dd.withColumn(c, qcol(d(c)))
      else if (monthCols.contains(c)) {
        // column-level strategy pick (reference :160 `.notna().any()`)
        if (monthStrategyA(c)) dd.withColumn(c, qcol(ma(c)))
        else dd.withColumn(c, qcol(mb(c)))
      } else if (numericCandidates.contains(c) && adopted(c)) {
        // numericScrubRounded ≡ round(numericScrub, 2)
        dd.withColumn(c, round(qcol(num(c)), 2))
      } else if (numericCandidates.contains(c)) {
        // kept as string: final value is sentinelToNull(strip(c)) — the
        // cached keep column IS that expression; the shared trim+sentinel
        // pass below is then a no-op on it (already stripped, sentinels
        // already nulled), preserving the original stage order's values
        dd.withColumn(c, qcol(keep(c)))
      } else dd
    }.select(baseCols.map(qcol): _*)

    // c. trim surviving string columns, d. sentinel → NULL
    val cleaned = ScalarFns.sentinelsToNull(
      ScalarFns.trimStringCols(projected))

    // e. A5 — resolved from the same fill counts (empty input: keep schema)
    if (total == 0) cleaned
    else cleaned.select(
      baseCols.filter(c => finalNonNull(c) > 0L).map(qcol): _*)
  }
}
