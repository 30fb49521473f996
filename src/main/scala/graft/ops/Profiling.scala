package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, NumericType}

/** Profiling / stats aggregations (SURVEY.md §2.4, A1).
  *
  * Every stat here is a single distributed aggregate over the data — one
  * pass, map-side partial aggregation, a scalar per column back to the
  * driver. That shape (tiny driver-side result, full scan stays on
  * executors) is what makes the data-dependent schema rules viable at
  * 100 TB.
  */
object Profiling {

  /** A1 — profiling summary with `df.describe(include='all')` parity
    * (`inspect_df`, ecommerce_s3_to_pg.py:31-43): per column, count /
    * nulls / distinct and min/max rendered as strings (one schema fits
    * every column type), plus mean / sample-std / quartiles for numeric
    * columns (null elsewhere, like pandas).
    *
    * ONE pass: every per-column statistic lives in a single wide
    * aggregate (one scan, one Exchange — the multi-distinct rewrite
    * expands rows, it does not re-scan), and the wide row unpivots with
    * `stack` into the (column, stats...) shape. The previous
    * one-aggregate-per-column union re-scanned the input N times — linear
    * in table WIDTH at 100 TB.
    *
    * Determinism (DuckDB-oracle parity): mean/std go through exact
    * DECIMAL sums cast back to double (see [[graft.Det]]); quartiles use
    * the exact interpolating `percentile`; all three round to 6 dp.
    * Sample std (ddof=1, pandas semantics) via the sum-of-squares
    * identity — one pass, no re-scan.
    */
  def profile(df: DataFrame): DataFrame = profile(df, exactQuantiles = true)

  /** As [[profile]], with the quartile strategy explicit.
    * `exactQuantiles = true` (the oracle-checked default) uses exact
    * interpolating `percentile` — a per-column sort-based aggregate,
    * fine at report scale but the dominant cost profiling a 100 TB fact
    * table. `false` swaps in `approx_percentile` (Greenwald-Khanna,
    * mergeable map-side sketches, no sort): same schema, quartiles
    * within the sketch's rank-error bound — spec-checked against the
    * exact path, not oracle-hashable (the sketch is engine-internal). */
  def profile(df: DataFrame, exactQuantiles: Boolean): DataFrame = {
    require(df.columns.nonEmpty, "profile of a zero-column frame")
    val aggs: Seq[Column] = df.columns.zipWithIndex.toSeq.flatMap {
      case (c, i) =>
        val base = Seq(
          count(qcol(c)).as(s"nn_$i"),
          sum(qcol(c).isNull.cast("long")).as(s"nul_$i"),
          countDistinct(qcol(c)).as(s"dst_$i"),
          min(qcol(c)).cast("string").as(s"min_$i"),
          max(qcol(c)).cast("string").as(s"max_$i"))
        val stats =
          if (df.schema(c).dataType.isInstanceOf[NumericType]) {
            val n = count(qcol(c))
            // DECIMAL(38,6) holds 32 integer digits per value and per sum —
            // a per-value DECIMAL(18,6) would null anything >= 1e12 and
            // silently skew mean/std. Remaining bound: the sum-of-squares
            // path nulls out for |x| >= ~1e16 (x^2 >= 1e32); std is reported
            // null there rather than wrong.
            val s = sum(qcol(c).cast(DecimalType(38, 6))).cast("double")
            val sq = sum((qcol(c).cast("double") * qcol(c).cast("double"))
              .cast(DecimalType(38, 6))).cast("double")
            Seq(
              when(n > 0, round(s / n, 6)).as(s"mean_$i"),
              when(n > 1,
                round(sqrt(greatest(lit(0.0), (sq - s * s / n) / (n - 1))), 6))
                .as(s"std_$i"),
              (if (exactQuantiles)
                percentile(qcol(c), array(lit(0.25), lit(0.5), lit(0.75)))
              else
                approx_percentile(qcol(c).cast("double"),
                  array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)))
                .as(s"q_$i"))
          } else Seq(
            lit(null).cast("double").as(s"mean_$i"),
            lit(null).cast("double").as(s"std_$i"),
            lit(null).cast("array<double>").as(s"q_$i"))
        base ++ stats
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs: Seq[Column] = df.columns.zipWithIndex.toSeq.flatMap {
      case (c, i) => Seq(
        lit(c), col(s"nn_$i"), col(s"nul_$i"), col(s"dst_$i"),
        col(s"min_$i"), col(s"max_$i"), col(s"mean_$i"), col(s"std_$i"),
        round(element_at(col(s"q_$i"), 1), 6),
        round(element_at(col(s"q_$i"), 2), 6),
        round(element_at(col(s"q_$i"), 3), 6))
    }
    wide.select(stack((lit(df.columns.length) +: stackArgs): _*)
      .as(Seq("column", "non_null", "nulls", "distinct", "min", "max",
        "mean", "std", "q25", "median", "q75")))
  }

  /** KEY-SKEW profiler — the shuffle-planning diagnostic run BEFORE a
    * big join/agg at 100 TB: the top-N heaviest keys of a column with
    * each key's row share and hot factor (its count over the mean
    * per-key count). A hot factor in the thousands names the exact keys
    * that need salting / AQE skew handling; ~1 means the key is safe to
    * shuffle on.
    *
    * Shape: ONE key-grain hash agg (map-side partials), a 1-row totals
    * broadcast, and the bounded-heap
    * [[graft.functions.TopKAgg]] for the ranking — no window, no
    * sort, ≤ topN·partitions heap rows cross the shuffle. Total order
    * (count desc, key asc) matches a row_number window bit-exactly. */
  def keySkew(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    val counts = graft.ops.CacheScope.persist(
      df.groupBy(qcol(keyCol).cast("string").as("key"))
        .agg(count(lit(1)).as("n")))
    val tot = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"))
    counts
      .agg(graft.functions.TopKAgg.top_k_str(
        col("n").cast("double"), col("key"), topN).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.rank").as("rank"), col("t.key").as("key"),
        col("t.score").cast("long").as("n"))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("key"), col("n"),
        round(col("n") / col("total").cast("double"), 9).as("share"),
        // n promotes to double BEFORE the ×n_keys: the long product
        // wraps silently past 2^63 (where DuckDB would error) — at
        // extreme scale the double product stays finite and both
        // engines divide the same value
        round(col("n").cast("double") * col("n_keys")
          / col("total").cast("double"), 6)
          .as("hot_factor"))
  }

  /** DuckDB replay of [[keySkew]]: `fromSql` yields one column `key`
    * (already VARCHAR). */
  def keySkewOracleSql(fromSql: String, topN: Int): String =
    s"""WITH base AS ($fromSql),
      c AS (SELECT key, count(*) AS n FROM base GROUP BY 1),
      t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c),
      r AS (SELECT key, n, CAST(row_number() OVER (
        ORDER BY n DESC, key ASC) AS INTEGER) AS rank FROM c)
      SELECT rank, key, CAST(n AS BIGINT) AS n,
        round(n / CAST(total AS DOUBLE), 9) AS share,
        round(CAST(n AS DOUBLE) * n_keys / CAST(total AS DOUBLE), 6)
          AS hot_factor
      FROM r, t WHERE rank <= $topN"""

  /** Grouped higher-moment profile of an INTEGER measure: population
    * mean, std, skewness and excess kurtosis per group — the
    * distribution-shape row `describe()` lacks (a length distribution
    * with skew 4 and a symmetric one can share mean/std; the trainer
    * doc-length budget cares which it is).
    *
    * One hash aggregate computing the exact power sums s1..s4 (integer
    * powers summed as DECIMAL(38,6), so the sums carry no float
    * rounding and no overflow up to |x| ≲ 1e8), then a stateless
    * projection combines them into central moments IN DOUBLE — both
    * engines evaluate the identical expression tree on identical
    * inputs, so the 6-dp-rounded outputs hash-match. Constant groups
    * (m2 = 0) emit NULL shape stats explicitly (the ANSI-divide rule).
    *
    * Caller guarantees `valueCol` is integral and |x|^4 · rows fits
    * DECIMAL(38,6) — token/char counts and other pipeline measures do
    * with 10+ digits to spare. */
  def moments(df: DataFrame, valueCol: String,
      byCols: Seq[String]): DataFrame = {
    val x = qcol(valueCol).cast("long")
    def dec(c: Column) = c.cast(DecimalType(38, 6))
    val g = df
      .groupBy(byCols.map(qcol): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(dec(x)).cast("double").as("s1"),
        sum(dec(x * x)).cast("double").as("s2"),
        sum(dec(x * x * x)).cast("double").as("s3"),
        sum(dec(x * x * x * x)).cast("double").as("s4"))
    val nd = col("n").cast("double")
    val r = g.select(byCols.map(qcol) ++ Seq(col("n").as("n_rows"),
      (col("s1") / nd).as("m"), (col("s2") / nd).as("r2"),
      (col("s3") / nd).as("r3"), (col("s4") / nd).as("r4")): _*)
    val m = col("m")
    val m2 = col("r2") - m * m
    val m3 = col("r3") - lit(3.0) * m * col("r2") +
      lit(2.0) * m * m * m
    val m4 = col("r4") - lit(4.0) * m * col("r3") +
      lit(6.0) * m * m * col("r2") - lit(3.0) * m * m * m * m
    r.select(byCols.map(qcol) ++ Seq(
      col("n_rows"),
      round(m, 6).as("mean"),
      when(m2 > 0, round(sqrt(m2), 6))
        .otherwise(lit(null).cast("double")).as("std"),
      when(m2 > 0, round(m3 / (m2 * sqrt(m2)), 6))
        .otherwise(lit(null).cast("double")).as("skewness"),
      when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 6))
        .otherwise(lit(null).cast("double")).as("kurt_excess")): _*)
  }
}
