package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CacheScope, Dedup, OrderedSplit, Projections, ScalarFns}
import graft.sources.CsvSource

/** The three per-class cleaning pipelines (SURVEY.md §3.2-3.3), stage
  * orders exactly as the reference runs them.
  */
object Cleaners {

  /** The five cleaned frames of one handler invocation, in the
    * reference's load order. A class the invocation did not route
    * leaves its frames empty. */
  final case class Cleaned(amazonClean: DataFrame,
      amazonDuplicates: DataFrame, sale: DataFrame,
      international1: DataFrame, international2: DataFrame) {

    /** `load_to_s3`'s (folder, frame) pairs, in reference order. */
    def csvZone: Seq[(String, DataFrame)] = Seq(
      "amazon_sale" -> amazonClean, "amazon_sale_duplicates" -> amazonDuplicates,
      "sale" -> sale, "international_1" -> international1,
      "international_2" -> international2)
  }

  /** The class dispatch (`lambda_handler`, ecommerce_s3_to_pg.py:688-741):
    * each routed class through its cleaner, amazon then sale then
    * international, as the reference runs them. The batch, batch+JDBC
    * and streaming drivers all clean through here. `international` is
    * the international cleaner: the streaming driver passes a per-file
    * split of it, since a micro-batch may hold several files and the
    * embedded-header split is positional within one file. */
  def byClass(frames: Map[CsvSource.FileClass, DataFrame],
      international: DataFrame => (DataFrame, DataFrame) =
        Cleaners.international): Cleaned = {
    val empty = frames.valuesIterator.nextOption()
      .fold(SparkSession.active)(_.sparkSession).emptyDataFrame
    val (amC, amF) = frames.get(CsvSource.AmazonSale)
      .map(amazon(_, cacheSplit = true)).getOrElse((empty, empty))
    val sa = frames.get(CsvSource.PlainSale).map(sale).getOrElse(empty)
    val (i1, i2) = frames.get(CsvSource.InternationalSale)
      .map(international).getOrElse((empty, empty))
    Cleaned(amC, amF, sa, i1, i2)
  }

  /** `clean_amazon_sale` (ecommerce_s3_to_pg.py:216-296) →
    * (clean, flaggedDuplicates). Pass `cacheSplit = true` when BOTH
    * returned frames will be materialized (the loaders do) — the D2
    * window and its upstream then execute once, scope-cached. */
  def amazon(df0: DataFrame, cacheSplit: Boolean = false)
      : (DataFrame, DataFrame) = {
    val dropCols = Seq("Unnamed: 22", "promotion-ids", "fulfilled-by",
      "Style", "currency", "index")
    val toStandardize = Seq("Status", "Courier Status", "Fulfilment",
      "B2B", "ship-state", "ship-city")
    val critical = Seq("order_id", "amount", "date", "quantity",
      "status", "fulfillment")

    val prepared = df0
      .transform(Projections.dropColumns(dropCols))            // P1
      .transform(ScalarFns.lowerTrimCols(toStandardize))       // F2
      .transform(Projections.renameColumns(
        Map("Fulfilment" -> "fulfillment", "Qty" -> "quantity"))) // P3
      .transform(Dedup.dropDuplicateRows)                      // D1
      .transform(Projections.rowNullRatioBelow(0.5))           // P4

    val transformed = Transform(prepared)                      // §3.3 step 6
      .transform(Projections.dropRowsNullIn(critical))         // P5

    if (transformed.columns.contains("order_id"))
      Dedup.conflictSplit("order_id", cacheSplit)(transformed) // D2
    else (transformed, transformed.limit(0))
  }

  /** `clean_sale` (ecommerce_s3_to_pg.py:298-335). */
  def sale(df0: DataFrame): DataFrame =
    df0
      .transform(Projections.dropColumns(Seq("index")))        // P1
      .transform(Dedup.dropDuplicateRows)                      // D1
      .transform(Projections.rowNullRatioBelow(0.5))           // P4
      .transform(Transform.apply)
      .transform(Projections.renameColumns(
        Map("design_no." -> "design_no")))                     // P3

  /** `clean_international_sale` (ecommerce_s3_to_pg.py:337-421) →
    * (part1, part2). The embedded-header split: the first all-alphabetic
    * row (P6) re-headers everything after it. Requires `df0` to carry file
    * row order; callers attach it via [[OrderedSplit.withRowIndex]] at read
    * time. Implements the *intent* of the reference's dead
    * `gross_amt`→`gross_amount` rename on part 2 (SyntaxError at :396-398 —
    * see SURVEY.md defects).
    */
  def international(df0: DataFrame): (DataFrame, DataFrame) = {
    val parts = internationalImpl(df0, wantPart1 = true, wantPart2 = true)
    (parts._1.get, parts._2.get)
  }

  /** Single-part entry points for consumers that materialize only one
    * side (the two e2e registry queries): building a part's Transform
    * costs its scope-cache fill (the job its decisions are read from)
    * at CONSTRUCTION time, so the old `international(df)._2` paid part
    * 1's fill for a frame it never read. Identical lineage for
    * the requested part — the shared prepared/O1 front half is built the
    * same way, only the sibling's Transform is skipped. */
  def internationalPart1(df0: DataFrame): DataFrame =
    internationalImpl(df0, wantPart1 = true, wantPart2 = false)._1.get

  def internationalPart2(df0: DataFrame): DataFrame =
    internationalImpl(df0, wantPart1 = false, wantPart2 = true)._2.get

  private def internationalImpl(df0: DataFrame, wantPart1: Boolean,
      wantPart2: Boolean): (Option[DataFrame], Option[DataFrame]) = {
    val idx = "__row_idx"
    val indexed = if (df0.columns.contains(idx)) df0
      else OrderedSplit.withRowIndex(df0)

    val dataCols = indexed.columns.filterNot(_ == idx).toSeq
    // Persisted (scope-released): the O1 split takes two driver actions
    // (pivot min + pivot row) and each part's Transform fills its own
    // cache from it — without the cache the D1 dedup shuffle would re-execute
    // for every one of those five consumers.
    val prepared = CacheScope.persist(indexed
      .transform(Dedup.dropDuplicateRowsKeepingFirst(dataCols, idx)) // D1
      .transform(Projections.rowNullRatioBelow(0.5, Seq(idx))) // P4
      .transform(Projections.dropColumns(Seq("index")))        // P1
      .transform(Projections.renameColumns(
        Map("GROSS AMT" -> "gross_amount"))))                  // P3

    val cols = prepared.columns.filterNot(_ == idx).toSeq
    val (part1Raw, part2RawOpt) = OrderedSplit.embeddedHeaderSplit(
      prepared, cols, Projections.allAlphabetic(cols), idx)    // O1

    // the no-pivot fallback (part2 = empty part1) needs part1's schema,
    // so part1 must also build when part2 is wanted but no pivot exists
    val buildPart1 = wantPart1 || (wantPart2 && part2RawOpt.isEmpty)
    val part1 = if (buildPart1) Some(part1Raw
      .transform(Transform.apply)
      .transform(ScalarFns.upperTrimKeywordCols()))            // F1
    else None

    val part2 = if (wantPart2) Some(part2RawOpt match {
      case Some(p2) =>
        p2.transform(Projections.normalizeColumnNames)         // P2
          .transform(Projections.renameColumns(
            Map("gross_amt" -> "gross_amount")))               // P3 (intent)
          .transform(Transform.apply)
          .transform(ScalarFns.upperTrimKeywordCols())         // F1
      case None => part1.get.limit(0)
    })
    else None
    (part1, part2)
  }

  /** O2 target schema for the international sink
    * (ecommerce_s3_to_pg.py:584-588). */
  val internationalTargetCols: Seq[String] = Seq(
    "customer", "date", "months", "style", "sku", "pcs", "rate",
    "gross_amount", "size", "stock")
}
