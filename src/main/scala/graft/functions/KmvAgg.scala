package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch buffer: the k smallest
  * DISTINCT hash values seen so far. A TreeSet gives dedup + ordering in
  * one structure; admission against a full buffer is one `last()`
  * comparison. Unlike [[TopKHeap]], set semantics are load-bearing:
  * re-observing the same value must NOT occupy a second slot, or the
  * k-th minimum shrinks and the estimate biases high.
  */
final class KmvBuffer(val k: Int) {
  val set = new java.util.TreeSet[java.lang.Long]()

  def add(h: Long): Unit = {
    if (set.size < k) { set.add(h): Unit }
    else if (h < set.last()) {
      if (set.add(h)) { set.remove(set.last()): Unit }
    }
  }

  def merge(other: KmvBuffer): Unit = {
    val it = other.set.iterator()
    while (it.hasNext) add(it.next())
  }
}

/** Map-side KMV distinct-count sketch — `approx_count_distinct` for
  * engines that must be REPRODUCIBLE across systems. Spark's HLL++ is
  * approximate but implementation-defined; this sketch is defined purely
  * by "the k smallest md5-derived hash values of the distinct inputs",
  * so any engine (the DuckDB oracle included) computes the identical
  * sketch and the identical estimate `(k-1)/U(k)` from it
  * (Bar-Yossef et al. 2002, Beyer et al. SIGMOD'07).
  *
  * Scale shape: the buffer is k longs regardless of input size, partial
  * aggregation runs map-side in ObjectHashAggregate, and merge is a
  * bounded set-union — the exchange carries at most k values per
  * (group, partition), never the group's raw rows.
  *
  * Output: `array<bigint>` of the k smallest distinct hashes, ascending
  * (fewer if the group has fewer distinct values — then the estimate is
  * exact by construction). NULL hashes are excluded.
  */
case class KmvAgg(
    hash: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {

  require(k > 1, s"KmvAgg requires k > 1, got $k")

  override def child: Expression = hash

  override def checkInputDataTypes(): TypeCheckResult =
    hash.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"KmvAgg requires a BIGINT hash, got ${t.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
    val h = hash.eval(input)
    if (h != null) buffer.add(h.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KmvBuffer): Any = {
    val out = new Array[Any](buffer.set.size)
    val it = buffer.set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.set.size)
    bb.putInt(buffer.set.size)
    val it = buffer.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(hash = newChild)
}

object KmvAgg {
  /** `kmv_sketch(hash, k)` under `groupBy(...)` — k smallest distinct
    * hash values, ascending. */
  def kmv_sketch(hash: Column, k: Int): Column =
    Bridge.toCol(
      KmvAgg(Bridge.toExpr(hash), k).toAggregateExpression())
}
