package graft

import org.apache.spark.sql.functions._

import graft.ops.{CacheScope, Dedup, OrderedSplit, Profiling, Projections, ScalarFns, qcol}
import graft.pipeline.Transform

/** Reference-parity operator queries (SURVEY.md §2): each §2 operator row
  * exercised over the driver testdata with a DuckDB oracle.
  *
  * The testdata is clean, so most queries first derive a deterministic
  * "messy" column (sentinels, currency strings, embedded nulls) with the
  * SAME derivation on the oracle side, then apply the operator under test
  * in Spark and its algebraic effect in SQL. Ops whose semantics are
  * driver-side (S-ops, P7/P8, F9, K-sinks) are covered by ScalaTest specs
  * instead — they have no tabular result to hash.
  */
object ParityQueries {

  // ---- P-ops ---------------------------------------------------------------

  val p1 = Q(
    "p1_drop_columns",
    (s, d) => Tables.lineitem(s, d).transform(Projections.dropColumns(Seq(
      "l_comment", "l_tax", "l_discount", "l_shipdate", "not_a_column"))),
    Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      l_extendedprice, l_returnflag, l_linestatus FROM lineitem"""))

  val p2 = Q(
    "p2_normalize_names",
    (s, d) => Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .toDF(" C CustKey ", "C-Name", "C  Mkt-Segment")
      .transform(Projections.normalizeColumnNames),
    Some("""SELECT c_custkey AS c_custkey, c_name AS c_name,
      c_mktsegment AS c_mkt_segment FROM customer"""))

  val p3 = Q(
    "p3_rename_map",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .transform(Projections.renameColumns(
        Map("o_orderstatus" -> "status", "missing_col" -> "never_used"))),
    Some("SELECT o_orderkey, o_orderstatus AS status FROM orders"))

  /** Shared "derived nulls" projection for P4/P5/A2 (same derivation in the
    * oracle): status null where 'F', priority null where '1-URGENT', price
    * null above 250k. */
  private def nullDerived(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      nullif(col("o_orderstatus"), lit("F")).as("status_n"),
      nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio_n"),
      when(col("o_totalprice") > 250000, lit(null))
        .otherwise(col("o_totalprice")).as("price_n"))

  private val nullDerivedSql =
    """SELECT o_orderkey,
      nullif(o_orderstatus, 'F') AS status_n,
      nullif(o_orderpriority, '1-URGENT') AS prio_n,
      CASE WHEN o_totalprice > 250000 THEN NULL ELSE o_totalprice END AS price_n
      FROM orders"""

  private val nullCountSql =
    """(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
      + CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      + CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END)"""

  val p4 = Q(
    "p4_row_null_ratio",
    (s, d) => nullDerived(s, d).transform(Projections.rowNullRatioBelow(0.5)),
    Some(s"""SELECT * FROM ($nullDerivedSql)
      WHERE (CASE WHEN status_n IS NULL THEN 1 ELSE 0 END
           + CASE WHEN prio_n IS NULL THEN 1 ELSE 0 END
           + CASE WHEN price_n IS NULL THEN 1 ELSE 0 END) / 4.0 < 0.5"""))

  val p5 = Q(
    "p5_critical_columns_drop",
    (s, d) => nullDerived(s, d).transform(
      Projections.dropRowsNullIn(Seq("status_n", "price_n", "absent_col"))),
    Some(s"""SELECT * FROM ($nullDerivedSql)
      WHERE status_n IS NOT NULL AND price_n IS NOT NULL"""))

  val p6 = Q(
    "p6_all_alphabetic_rows",
    (s, d) => Tables.documents(s, d)
      .select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0, col("doc_id").cast("string"))
          .otherwise(col("lang")).as("mixed"),
        col("source"))
      .filter(Projections.allAlphabetic(Seq("mixed", "source"))),
    Some("""SELECT doc_id,
      CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id AS VARCHAR) ELSE lang END AS mixed,
      source
      FROM documents
      WHERE regexp_matches(CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id AS VARCHAR)
                                ELSE lang END, '[a-zA-Z]')
        AND regexp_matches(source, '[a-zA-Z]')"""))

  // ---- F-ops ---------------------------------------------------------------

  val f1 = Q(
    "f1_upper_trim_keyword_cols",
    (s, d) => Tables.customer(s, d)
      .select(col("c_custkey"),
        concat(lit("  "), col("c_name"), lit(" ")).as("customer_name"))
      .transform(ScalarFns.upperTrimKeywordCols()),
    Some(s"""SELECT c_custkey,
      upper(trim(c_name, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) AS customer_name
      FROM customer"""))

  val f2 = Q(
    "f2_lower_trim_cols",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        concat(lit(" "), col("o_orderpriority"), lit("  ")).as("priority"))
      .transform(ScalarFns.lowerTrimCols(Seq("priority", "absent"))),
    Some(s"""SELECT o_orderkey,
      lower(trim(o_orderpriority, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) AS priority
      FROM orders"""))

  val f3 = Q(
    "f3_trim_string_cols",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("  "), col("lang"), lit("\t")).as("lang_pad"),
        col("n_chars"))
      .transform(ScalarFns.trimStringCols),
    // Spark `trim` strips spaces AND control chars <= U+0020, like
    // Python's str.strip(); DuckDB trim() strips spaces only, so the
    // oracle names the char set explicitly.
    Some(s"""SELECT doc_id,
      trim(lang_pad, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS lang_pad, n_chars
      FROM (SELECT doc_id, '  ' || lang || chr(9) AS lang_pad, n_chars
            FROM documents)"""))

  val f4 = Q(
    "f4_parse_date_multiformat",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 4 === 0,
          date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .when(col("o_orderkey") % 4 === 1,
            date_format(col("o_orderdate"), "MM/dd/yyyy"))
          .when(col("o_orderkey") % 4 === 2,
            date_format(col("o_orderdate"), "MM-dd-yyyy"))
          .otherwise(lit("not a date")).as("raw_date"))
      .withColumn("parsed_date", ScalarFns.parseDate(col("raw_date")))
      .drop("raw_date"),
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderkey % 4 IN (0, 1, 2)
           THEN strftime(o_orderdate, '%Y-%m-%d') ELSE NULL END AS parsed_date
      FROM orders"""))

  val f5a = Q(
    "f5_month_datetime_strategy",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("month_raw"))
      .select(col("o_orderkey"),
        ScalarFns.monthFromDatetime(col("month_raw")).as("month_name")),
    Some("SELECT o_orderkey, monthname(o_orderdate) AS month_name FROM orders"))

  val f5b = Q(
    "f5_month_prefix_strategy",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        upper(date_format(col("o_orderdate"), "MMM")).as("month_raw"))
      .select(col("o_orderkey"),
        ScalarFns.monthFromPrefix(col("month_raw")).as("month_name")),
    Some("SELECT o_orderkey, monthname(o_orderdate) AS month_name FROM orders"))

  val f6 = Q(
    "f6_currency_scrub",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("not numeric"))
          .otherwise(concat(lit(" $"), col("o_totalprice").cast("string"),
            lit(" "))).as("amount_raw"))
      .select(col("o_orderkey"),
        ScalarFns.numericScrubRounded(col("amount_raw")).as("amount")),
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderkey % 7 = 0 THEN NULL
           ELSE round(o_totalprice, 2) END AS amount
      FROM orders"""))

  val f7 = Q(
    "f7_sentinel_to_null",
    (s, d) => {
      val sentinelPick = element_at(
        array(ScalarFns.naSentinels.map(lit): _*),
        (col("o_orderkey") % ScalarFns.naSentinels.size).cast("int") + 1)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, sentinelPick)
            .otherwise(col("o_orderstatus")).as("status_raw"))
        .select(col("o_orderkey"),
          ScalarFns.sentinelToNull(col("status_raw")).as("status"))
    },
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS status
      FROM orders"""))

  // ---- A-ops ---------------------------------------------------------------

  val a1 = Q(
    "a1_profile_summary",
    (s, d) => Profiling.profile(Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))),
    Some {
      // mirrors Profiling.profile's decimal-sum mean/std and interpolated
      // quartiles (quantile_cont ≡ Spark's exact `percentile`), all 6 dp
      def one(c: String, numeric: Boolean) = {
        val dsum = s"CAST(sum(CAST($c AS DECIMAL(38,6))) AS DOUBLE)"
        val dsq =
          s"CAST(sum(CAST(CAST($c AS DOUBLE)*CAST($c AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)"
        val stats =
          if (numeric) s"""
            CASE WHEN count($c) > 0 THEN round($dsum / count($c), 6) END AS mean,
            CASE WHEN count($c) > 1 THEN round(sqrt(greatest(0.0,
              ($dsq - $dsum * $dsum / count($c)) / (count($c) - 1))), 6) END AS std,
            round(quantile_cont(CAST($c AS DOUBLE), 0.25), 6) AS q25,
            round(quantile_cont(CAST($c AS DOUBLE), 0.5), 6) AS median,
            round(quantile_cont(CAST($c AS DOUBLE), 0.75), 6) AS q75"""
          else """
            CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
            CAST(NULL AS DOUBLE) AS q25, CAST(NULL AS DOUBLE) AS median,
            CAST(NULL AS DOUBLE) AS q75"""
        s"""SELECT '$c' AS "column", count($c) AS non_null,
          CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
          count(DISTINCT $c) AS "distinct",
          CAST(min($c) AS VARCHAR) AS min, CAST(max($c) AS VARCHAR) AS max,
          $stats
          FROM lineitem"""
      }
      Seq("l_orderkey" -> true, "l_quantity" -> true, "l_returnflag" -> false)
        .map { case (c, n) => one(c, n) }.mkString(" UNION ALL ")
    })

  val a2 = Q(
    "a2_null_counts",
    (s, d) => Profiling.nullCounts(nullDerived(s, d)),
    Some(s"""SELECT CAST(0 AS BIGINT) AS o_orderkey,
      CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_n,
      CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS prio_n,
      CAST(sum(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS price_n
      FROM orders"""))

  val a5 = Q(
    "a5_drop_allnull_columns",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        lit(null).cast("string").as("dead_col"),
        when(col("doc_id") % 2 === 0, col("source")).as("half_null"))
      .transform { df =>
        // A5 from the fill counts the handler's Transform decides it on
        val nonNull = CacheScope.counts(df).nonNull
        df.select(df.columns.zip(nonNull).collect {
          case (c, n) if n > 0 => qcol(c) }.toSeq: _*)
      },
    Some("""SELECT doc_id, lang,
      CASE WHEN doc_id % 2 = 0 THEN source ELSE NULL END AS half_null
      FROM documents"""))

  // ---- D-ops ---------------------------------------------------------------

  val d1 = Q(
    "d1_full_row_dedup",
    (s, d) => Tables.documents(s, d).select(col("lang"), col("source"))
      .transform(Dedup.dropDuplicateRows),
    Some("SELECT DISTINCT lang, source FROM documents"))

  val d2clean = Q(
    "d2_conflict_split_clean",
    (s, d) => Dedup.conflictSplit("l_orderkey")(Tables.lineitem(s, d))._1
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity
      FROM (SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS c FROM lineitem)
      WHERE c = 1"""))

  val d2flagged = Q(
    "d2_conflict_split_flagged",
    (s, d) => Dedup.conflictSplit("l_orderkey")(Tables.lineitem(s, d))._2
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity
      FROM (SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS c FROM lineitem)
      WHERE c > 1"""))

  // ---- O-ops ---------------------------------------------------------------

  private def o1Input(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") === 250, lit("newcola"))
        .otherwise((col("doc_id") % 7).cast("string")).as("name_col"),
      when(col("doc_id") === 250, lit("newcolb"))
        .otherwise(col("source")).as("val_col"))

  val o1part1 = Q(
    "o1_embedded_header_part1",
    (s, d) => {
      val in = o1Input(s, d)
      val cols = Seq("name_col", "val_col")
      OrderedSplit.embeddedHeaderSplit(
        in, cols, Projections.allAlphabetic(cols), "doc_id")._1
    },
    Some("""SELECT CAST(doc_id % 7 AS VARCHAR) AS name_col, source AS val_col
      FROM documents WHERE doc_id < 250"""))

  val o1part2 = Q(
    "o1_embedded_header_part2",
    (s, d) => {
      val in = o1Input(s, d)
      val cols = Seq("name_col", "val_col")
      OrderedSplit.embeddedHeaderSplit(
        in, cols, Projections.allAlphabetic(cols), "doc_id")._2.get
    },
    Some("""SELECT CAST(doc_id % 7 AS VARCHAR) AS newcola, source AS newcolb
      FROM documents WHERE doc_id > 250"""))

  val o2 = Q(
    "o2_schema_padding",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .transform(OrderedSplit.padToColumns(
        Seq("doc_id", "lang", "extra_a", "extra_b"))),
    Some("""SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
      CAST(NULL AS VARCHAR) AS extra_a, CAST(NULL AS VARCHAR) AS extra_b
      FROM documents"""))

  // ---- the full generic transform chain (§3.3 step 6) ----------------------

  val transformChain = Q(
    "transform_chain_full",
    (s, d) => {
      // single-split scan → spread the narrow base so BOTH Transform
      // passes (cache fill + final projection: multi-format date
      // parses, regex scrubs) run wide instead of on the scan's 1-2
      // tasks (the amazonE2e/intlRaw shape; measured r14)
      val derived = Tables.orders(s, d)
        .repartition(s.sparkContext.defaultParallelism).select(
        when(col("o_orderkey") % 13 === 0, lit("NA"))
          .when(col("o_orderkey") % 13 === 1, lit(" "))
          .otherwise(concat(lit(" "), col("o_orderstatus"), lit(" ")))
          .as("Status "),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("Order Date"),
        date_format(col("o_orderdate"), "MMM").as("Ship-Month"),
        concat(lit("$"), col("o_totalprice").cast("string"))
          .as("Total Amount"),
        lit(null).cast("string").as("Dead Col"),
        col("o_custkey").as("Qty Count"))
      Transform(derived)
    },
    Some("""SELECT
      CASE WHEN o_orderkey % 13 IN (0, 1) THEN NULL
           ELSE o_orderstatus END AS status,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      monthname(o_orderdate) AS ship_month,
      round(o_totalprice, 2) AS total_amount,
      o_custkey AS qty_count
      FROM orders"""),
    bench = true)

  /** Full clean_amazon_sale pipeline end-to-end with a DuckDB oracle: the
    * messy Amazon-report shape is derived deterministically from `orders`
    * (conflicting order ids, exact dup rows, mostly-blank rows, currency
    * variants, sentinel NAs, an all-null column, unparseable dates), run
    * through the REAL `Cleaners.amazon` chain (P1→F2→P3→D1→P4→Transform→
    * P5→D2), and the oracle replicates each stage's algebraic effect. The
    * strongest single correctness statement: every stage order sensitivity
    * in SURVEY §3.3 is load-bearing for this hash to match. */
  val amazonE2e = Q(
    "amazon_pipeline_e2e",
    (s, d) => {
      // The testdata parquet is one row group per table, so the scan is ONE
      // split and the whole messy derivation + dedup map side would run in
      // 1-2 tasks on a 32-core box. Real input at this pipeline's scale
      // arrives in many splits; the round-robin repartition of the narrow
      // base restores that shape (measured: the cache-materialization stage
      // drops from ~2 tasks to full parallelism).
      val o = Tables.orders(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val k = col("o_orderkey")
      def messy(src: org.apache.spark.sql.DataFrame) = src.select(
        k.cast("int").as("index"),
        when(k % 41 === 0, lit(null))
          .when(k % 95 < 2,
            concat(lit("C"), expr("o_orderkey div 2").cast("string")))
          .otherwise(concat(lit("O"), k.cast("string"))).as("Order ID"),
        when(k % 41 === 0, lit(null))
          .when(k % 11 === 3, lit("not a date"))
          .otherwise(date_format(col("o_orderdate"), "MM/dd/yyyy"))
          .as("Date"),
        when(k % 41 === 0, lit(null))
          .when(k % 13 === 0, lit("NA"))
          .when(k % 13 === 1, lit(" "))
          .when(k % 13 === 2, lit(" SHIPPED "))
          .otherwise(col("o_orderstatus")).as("Status"),
        when(k % 2 === 0, lit("Merchant")).otherwise(lit("Amazon"))
          .as("Fulfilment"),
        (k % 5 + 1).cast("int").as("Qty"),
        lit("INR").as("currency"),
        when(k % 41 === 0, lit(null))
          .when(k % 23 === 0, lit("n/a"))
          .when(k % 7 === 0,
            concat(lit("$"), col("o_totalprice").cast("string")))
          .when(k % 7 === 1,
            concat(lit("("), col("o_totalprice").cast("string"), lit(")")))
          .otherwise(col("o_totalprice").cast("string")).as("Amount"),
        when(k % 41 === 0, lit(null))
          .otherwise(concat(lit("City"), (k % 37).cast("string")))
          .as("ship-city"),
        lit(null).cast("string").as("Ghost Col"))
      val raw = messy(o).unionAll(messy(o.filter(k % 101 === 0)))
      graft.pipeline.Cleaners.amazon(raw)._1
    },
    Some("""WITH dedup AS (
        SELECT DISTINCT o_orderkey AS k, o_orderdate AS d,
               o_totalprice AS p, o_orderstatus AS st
        FROM (SELECT * FROM orders
              UNION ALL
              SELECT * FROM orders WHERE o_orderkey % 101 = 0)),
      kept AS (SELECT * FROM dedup WHERE k % 41 != 0),
      cleaned AS (
        SELECT
          CASE WHEN k % 95 < 2 THEN 'C' || CAST(k // 2 AS VARCHAR)
               ELSE 'O' || CAST(k AS VARCHAR) END AS order_id,
          strftime(d, '%Y-%m-%d') AS date,
          CASE WHEN k % 13 = 2 THEN 'shipped' ELSE lower(st) END AS status,
          CASE WHEN k % 2 = 0 THEN 'merchant' ELSE 'amazon' END
            AS fulfillment,
          CAST(k % 5 + 1 AS INT) AS quantity,
          round(p, 2) AS amount,
          'city' || CAST(k % 37 AS VARCHAR) AS ship_city
        FROM kept
        WHERE k % 13 NOT IN (0, 1) AND k % 23 != 0 AND k % 11 != 3)
      SELECT order_id, date, status, fulfillment, quantity, amount, ship_city
      FROM (SELECT *, count(*) OVER (PARTITION BY order_id) AS c
            FROM cleaned)
      WHERE c = 1"""),
    bench = true)

  /** Full clean_sale pipeline end-to-end (ecommerce_s3_to_pg.py:298-335):
    * messy sale-report shape derived deterministically from `part` (exact
    * dup rows, blank rows, sentinel NAs, spaced numerics, an all-null
    * column), run through the REAL `Cleaners.sale` chain (P1→D1→P4→
    * Transform→P3 design_no. rename), oracle replicating each stage. */
  val saleE2e = Q(
    "sale_pipeline_e2e",
    (s, d) => {
      val p = Tables.part(s, d)
      val k = col("p_partkey")
      def messy(src: org.apache.spark.sql.DataFrame) = src.select(
        k.cast("int").as("index"),
        when(k % 53 === 0, lit(null))
          .otherwise(concat(lit(" SKU"), k.cast("string"), lit(" ")))
          .as("SKU Code"),
        when(k % 53 === 0, lit(null))
          .when(k % 17 === 0, lit("NA"))
          .otherwise(concat(lit("D"), (k % 100).cast("string")))
          .as("Design No."),
        when((k % 53 === 0) || (k % 43 === 0), lit(null))
          .when(k % 29 === 0, lit("n/a"))
          .otherwise(concat(lit(" "), (k % 500).cast("string"), lit(" ")))
          .as("Stock"),
        when(k % 53 === 0, lit(null))
          .otherwise(element_at(
            array(lit("Kurta"), lit("Top"), lit("Dress"), lit("Saree")),
            (k % 4).cast("int") + 1)).as("Category"),
        when(k % 53 === 0, lit(null))
          .otherwise(element_at(array(lit("S"), lit("M"), lit("L"), lit("XL")),
            (k % 4).cast("int") + 1)).as("Size"),
        when((k % 53 === 0) || (k % 41 === 0), lit(null))
          .otherwise(concat(lit("Color"), (k % 7).cast("string")))
          .as("Color"),
        lit(null).cast("string").as("Ghost Col"))
      val raw = messy(p).unionAll(messy(p.filter(k % 101 === 0)))
      graft.pipeline.Cleaners.sale(raw)
    },
    Some("""SELECT
        'SKU' || CAST(p_partkey AS VARCHAR) AS sku_code,
        CASE WHEN p_partkey % 17 = 0 THEN NULL
             ELSE 'D' || CAST(p_partkey % 100 AS VARCHAR) END AS design_no,
        CASE WHEN p_partkey % 43 = 0 OR p_partkey % 29 = 0 THEN NULL
             ELSE round(CAST(p_partkey % 500 AS DOUBLE), 2) END AS stock,
        list_extract(['Kurta','Top','Dress','Saree'],
          CAST(p_partkey % 4 AS INT) + 1) AS category,
        list_extract(['S','M','L','XL'],
          CAST(p_partkey % 4 AS INT) + 1) AS "size",
        CASE WHEN p_partkey % 41 = 0 THEN NULL
             ELSE 'Color' || CAST(p_partkey % 7 AS VARCHAR) END AS color
      FROM part WHERE p_partkey % 53 != 0"""))

  /** Messy international-report shape shared by the two e2e queries below:
    * derived from `orders` with an EMBEDDED SECOND HEADER row (O1) at
    * `__row_idx` 30001 whose cells are all-alphabetic column names — the
    * part2 header carries `gross amt`, exercising the normalize + dead
    * `gross_amt`→`gross_amount` rename intent. Exact dups (higher row
    * idx, D1 keep-first), blank rows (P4), sentinel months, currency
    * rates, unparseable dates included. */
  private def intlRaw(s: org.apache.spark.sql.SparkSession, d: String) = {
    // Single-split testdata scan → repartition the narrow base so the heavy
    // derivation + keep-first dedup parallelize (see amazonE2e). Safe here:
    // `__row_idx` is derived from o_orderkey, not from partition order.
    val o = Tables.orders(s, d)
      .repartition(s.sparkContext.defaultParallelism)
    val k = col("o_orderkey")
    def messy(src: org.apache.spark.sql.DataFrame, idxOffset: Long) = src.select(
      k.cast("int").as("index"),
      when(k % 53 === 0, lit(null))
        .when(k % 11 === 3, lit("not a date"))
        .otherwise(date_format(col("o_orderdate"), "MM/dd/yyyy")).as("DATE"),
      when(k % 53 === 0, lit(null))
        .when(k % 37 === 0, lit("NA"))
        .otherwise(upper(date_format(col("o_orderdate"), "MMM"))).as("Months"),
      when(k % 53 === 0, lit(null))
        .otherwise(concat(lit(" Cust "), (k % 50).cast("string")))
        .as("CUSTOMER"),
      when(k % 53 === 0, lit(null))
        .otherwise(concat(lit("St-"), (k % 30).cast("string"))).as("Style"),
      when(k % 53 === 0, lit(null))
        .otherwise(concat(lit("sku"), (k % 200).cast("string"))).as("SKU"),
      when(k % 53 === 0, lit(null))
        .otherwise(element_at(
          array(lit("s"), lit("m"), lit("l"), lit("xl"), lit("xxl")),
          (k % 5).cast("int") + 1)).as("Size"),
      when(k % 53 === 0, lit(null))
        .when(k % 29 === 0, lit("n/a"))
        .otherwise((k % 7 + 1).cast("string")).as("PCS"),
      when(k % 53 === 0, lit(null))
        .otherwise(concat(lit(" $"), (k % 90 + 10).cast("string"), lit(".5 ")))
        .as("RATE"),
      when(k % 53 === 0, lit(null))
        .otherwise(concat(lit("$"), col("o_totalprice").cast("string")))
        .as("GROSS AMT"),
      (k * 2 + idxOffset).as("__row_idx"))
    val pivot = o.sparkSession.range(1).select(
      lit(999999).cast("int").as("index"),
      lit("date").as("DATE"), lit("months").as("Months"),
      lit("customer").as("CUSTOMER"), lit("style").as("Style"),
      lit("sku").as("SKU"), lit("size").as("Size"),
      lit("pcs").as("PCS"), lit("rate").as("RATE"),
      lit("gross amt").as("GROSS AMT"),
      lit(15001L).as("__row_idx")) // between k=7500 and k=7501 at every SF
    messy(o, 0L).unionAll(messy(o.filter(k % 101 === 0), 200000L))
      .unionAll(pivot)
  }

  private def intlOracle(pred: String) =
    s"""SELECT
        CASE WHEN o_orderkey % 11 = 3 THEN NULL
             ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date,
        CASE WHEN o_orderkey % 37 = 0 THEN NULL
             ELSE monthname(o_orderdate) END AS months,
        'CUST ' || CAST(o_orderkey % 50 AS VARCHAR) AS customer,
        'ST-' || CAST(o_orderkey % 30 AS VARCHAR) AS style,
        'SKU' || CAST(o_orderkey % 200 AS VARCHAR) AS sku,
        upper(list_extract(['s','m','l','xl','xxl'],
          CAST(o_orderkey % 5 AS INT) + 1)) AS "size",
        CASE WHEN o_orderkey % 29 = 0 THEN NULL
             ELSE round(CAST(o_orderkey % 7 + 1 AS DOUBLE), 2) END AS pcs,
        round(CAST(o_orderkey % 90 + 10 AS DOUBLE) + 0.5, 2) AS rate,
        round(o_totalprice, 2) AS gross_amount
      FROM orders WHERE o_orderkey % 53 != 0 AND $pred"""

  /** clean_international_sale end-to-end, part 1 (rows before the embedded
    * header; ecommerce_s3_to_pg.py:337-421): D1 keep-first → P4 → P1 →
    * P3 → O1 split → Transform → F1. */
  val intlE2ePart1 = Q(
    "international_pipeline_e2e_part1",
    (s, d) => graft.pipeline.Cleaners.internationalPart1(intlRaw(s, d)),
    Some(intlOracle("o_orderkey <= 7500")))

  /** Part 2: rows after the embedded header, re-headered from the pivot
    * row's cells (`gross amt` → normalized `gross_amt` → renamed
    * `gross_amount`), then the same Transform + F1 chain. */
  val intlE2ePart2 = Q(
    "international_pipeline_e2e_part2",
    (s, d) => graft.pipeline.Cleaners.internationalPart2(intlRaw(s, d)),
    Some(intlOracle("o_orderkey >= 7501")),
    bench = true)

  def all: Seq[Q] = Seq(
    amazonE2e, saleE2e, intlE2ePart1, intlE2ePart2,
    p1, p2, p3, p4, p5, p6,
    f1, f2, f3, f4, f5a, f5b, f6, f7,
    a1, a2, a5,
    d1, d2clean, d2flagged,
    o1part1, o1part2, o2,
    transformChain)
}
