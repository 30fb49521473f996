package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Banded AGGREGATE — per left row, the (count, non-null count, exact
  * decimal sum) of a right-side value over all right rows whose sort key
  * lies within `tolerance` of the left row's key. Replaces a band join
  * when the caller never needs the matched pairs themselves (the
  * `q_band_join_*` shape — join then immediately `groupBy(left id)`):
  * materializing the pair set first costs
  * O(Σ band sizes) shuffle rows — quadratic in any hot window (a
  * flash-sale instant at 100 TB makes that the whole job) — while the
  * aggregate is answerable from ORDER STATISTICS alone:
  *
  *   agg over [k−tol, k+tol] = prefix(k+tol) − prefix(k−tol−ε)
  *
  * Implementation is the [[graft.ext.Packing.packOffsets]] two-phase
  * distributed prefix sum over a union of POINT rows (right side,
  * weight = its count/value) and two QUERY rows per left row (the band's
  * ends, weight 0):
  *
  *   1. range-partition the union by (key, kind) and sort within
  *      partitions — kind orders a left row's lower query BEFORE the
  *      points at the same key (strict `<` prefix) and its upper query
  *      AFTER them (inclusive `≤` prefix), so band inclusivity at both
  *      ends is exact on integer keys;
  *   2. per-partition totals (one row per partition) get their running
  *      offsets on one bounded task and broadcast back;
  *   3. each partition computes its local running sums in parallel; the
  *      global prefix at a query row is offset + local sum.
  *
  * Each left row's band aggregate is then upper − lower, recovered by a
  * (left id)-keyed hash aggregate over its two signed query rows. Every
  * exchange is O(|left| + |right|) rows; nothing pair-grained ever
  * exists. A hot key concentrates its rows in one range partition (equal
  * keys are never split), costing that task an O(m log m) sort — versus
  * the pair join's O(m²) blowup that salting can only divide, not
  * remove.
  *
  * Determinism: count/non-null tallies are integral; value sums
  * accumulate in exact DECIMAL(38, `scale`) after the same per-row
  * double→decimal rounding as [[graft.Det.dsum]], so prefix subtraction
  * cancels out-of-band contributions EXACTLY (decimal, not IEEE) and the
  * result is bit-identical to summing the matched pairs directly, in any
  * row order and under any partitioning (range boundaries shift where
  * the offsets cut, never what they sum to).
  *
  * NULL semantics match the pairwise form: rows with a NULL key on
  * either side match nothing (dropped up front); NULL values count
  * toward `band_cnt` but not `band_nn`/`band_val`, and the caller
  * reconstructs SQL `sum`'s all-NULL → NULL from `band_nn`.
  *
  * Output: one row per left row — (idCol, band_cnt: long,
  * band_nn: long, band_val: decimal(38,scale) — coalesced, pair it with
  * band_nn). Left rows whose band is empty return (0, 0, 0); callers
  * wanting inner-join semantics filter on their own exclusion-corrected
  * count.
  */
object BandAgg {

  def apply(left: DataFrame, idCol: String, leftKey: String,
      right: DataFrame, rightKey: String, valueCol: String,
      tolerance: Long, scale: Int = 2): DataFrame = {
    require(tolerance > 0, s"tolerance must be positive, got $tolerance")
    val dec = DecimalType(38, scale)
    val zero = lit(0).cast(dec)
    val idT = left.schema(left.schema.fieldIndex(idCol)).dataType
    // __salt (r15, guide §2.5): a deterministic per-row hash over ALL of
    // the right row's columns, appended to the range-partition sort key
    // AFTER __kind. A pathological single key used to land its entire
    // band in one range partition (equal keys are never split), costing
    // one task an O(m log m) sort — at 100 TB a flash-sale instant means
    // one task sorting 10⁸ rows. With the salt as a sort-key tiebreak,
    // the range partitioner's sampled boundaries can fall INSIDE a hot
    // key's point mass, spreading it across partitions. Correctness is
    // untouched: a query row at (k, ±1) orders before/after EVERY point
    // at (k, 0) regardless of salt (kind dominates), points' order among
    // themselves contributes nothing to any query's prefix, the
    // per-partition offset pass already handles boundaries falling
    // anywhere, and the decimal sums are order-independent. Hash of the
    // row's values (not rand/partition id), so retried tasks re-derive
    // the same salt (SPARK-38388 discipline).
    val salt = pmod(
      xxhash64(right.columns.map(qcol).toSeq: _*), lit(1 << 16)).cast("int")
    val pts = right.filter(col(rightKey).isNotNull).select(
      col(rightKey).cast("long").as("__k"), lit(0).as("__kind"),
      salt.as("__salt"),
      lit(1L).as("__c"),
      when(col(valueCol).isNotNull, 1L).otherwise(0L).as("__nn"),
      coalesce(col(valueCol).cast(dec), zero).as("__v"),
      lit(null).cast(idT).as("__id"), lit(0L).as("__sign"))
    def query(kind: Int, off: Long, sign: Long) =
      left.filter(col(leftKey).isNotNull).select(
        (col(leftKey).cast("long") + off).as("__k"), lit(kind).as("__kind"),
        lit(0).as("__salt"),
        lit(0L).as("__c"), lit(0L).as("__nn"), zero.as("__v"),
        col(idCol).as("__id"), lit(sign).as("__sign"))
    val hi = query(1, tolerance, 1L)   // prefix at key ≤ k+tol (inclusive)
    val lo = query(-1, -tolerance, -1L) // prefix at key < k−tol (strict)
    // persisted: offsets and the local pass both re-derive __pid from
    // the range exchange; the cache pins ONE set of sampled boundaries
    // (the packOffsets rationale — results don't depend on boundaries,
    // but both consumers must see the SAME __pid assignment)
    val sorted = CacheScope.persist(
      pts.unionByName(hi).unionByName(lo)
        .repartitionByRange(col("__k"), col("__kind"), col("__salt"))
        .sortWithinPartitions(col("__k"), col("__kind"))
        .withColumn("__pid", spark_partition_id()))
    val offW = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sorted.groupBy(col("__pid"))
      .agg(sum(col("__c")).as("__tc"), sum(col("__nn")).as("__tn"),
        sum(col("__v")).as("__tv"))
      .select(col("__pid"),
        coalesce(sum(col("__tc")).over(offW), lit(0L)).as("__oc"),
        coalesce(sum(col("__tn")).over(offW), lit(0L)).as("__on"),
        coalesce(sum(col("__tv")).over(offW), zero).as("__ov"))
    val localW = Window.partitionBy("__pid")
      .orderBy(col("__k"), col("__kind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    sorted.join(broadcast(offs), Seq("__pid"))
      .withColumn("__cc", col("__oc") + sum(col("__c")).over(localW))
      .withColumn("__cn", col("__on") + sum(col("__nn")).over(localW))
      .withColumn("__cv", col("__ov") + coalesce(
        sum(col("__v")).over(localW), zero))
      .filter(col("__id").isNotNull)
      .groupBy(col("__id"))
      .agg(sum(col("__sign") * col("__cc")).as("band_cnt"),
        sum(col("__sign") * col("__cn")).as("band_nn"),
        sum(when(col("__sign") === 1L, col("__cv"))
          .otherwise(-col("__cv"))).cast(dec).as("band_val"))
      .select(col("__id").as(idCol), col("band_cnt"), col("band_nn"),
        col("band_val"))
  }
}
