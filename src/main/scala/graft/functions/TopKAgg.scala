package graft.functions

import java.nio.ByteBuffer
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k heap: a binary heap of (score, key) pairs with the WORST
  * kept element at the root, so admission against a full heap is one
  * comparison and O(log k) on replace. Ordering: higher score wins; equal
  * scores break on the SMALLER key. The scores live here; each key kind
  * ([[TopKBuffer]]: long ids, [[TopKStrBuffer]]: UTF-8 strings) keeps its
  * keys in a typed array over the same slots and supplies the key order,
  * swap and byte form. Slot k holds a candidate while it is offered
  * against a full heap.
  */
sealed abstract class TopKHeap(val k: Int) {
  val scores = new Array[Double](k + 1)
  var size = 0

  /** true if the key in slot i sorts after the key in slot j. */
  protected def keyAfter(i: Int, j: Int): Boolean
  protected def swapKeys(i: Int, j: Int): Unit
  /** Copy the key in slot i of `other` (same kind) into slot [[free]]. */
  protected def takeKey(other: TopKHeap, i: Int): Unit
  protected def keyBytes(i: Int): Int
  protected def putKey(bb: ByteBuffer, i: Int): Unit
  /** Read one key of [[putKey]]'s form into slot [[free]]. */
  protected def getKey(bb: ByteBuffer): Unit
  /** The key in slot i, as Catalyst holds it. */
  def keyAt(i: Int): Any

  /** The slot a candidate's key is written to before [[offer]]. */
  protected final def free: Int = if (size < k) size else k

  /** true if slot i ranks strictly worse than slot j. */
  private def worse(i: Int, j: Int): Boolean =
    scores(i) < scores(j) || (scores(i) == scores(j) && keyAfter(i, j))

  private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    swapKeys(i, j)
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && worse(i, (i - 1) >> 1)) {
      swap(i, (i - 1) >> 1)
      i = (i - 1) >> 1
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var worst = i
      if (l < size && worse(l, worst)) worst = l
      if (r < size && worse(r, worst)) worst = r
      if (worst == i) return
      swap(i, worst)
      i = worst
    }
  }

  /** Admit `score` with the key already written to slot [[free]]. */
  protected final def offer(score: Double): Unit = {
    scores(free) = score
    if (size < k) {
      size += 1
      siftUp(size - 1)
    } else if (worse(0, k)) {
      swap(0, k)
      siftDown()
    }
  }

  def merge(other: TopKHeap): Unit = {
    var i = 0
    while (i < other.size) { takeKey(other, i); offer(other.scores(i)); i += 1 }
  }

  /** Occupied slots sorted best-first — rank r + 1 for element r. */
  def order: Array[Int] = {
    val out = Array.range(0, size)
    scala.util.Sorting.stableSort(out, (a: Int, b: Int) => worse(b, a))
    out
  }

  /** `int n`, then per element `double score` and the key: 4 + 16n bytes
    * for long ids, `(double, int len, bytes)` per element for strings.
    * Streaming state holds these bytes, so the layout is fixed. */
  def serialize: Array[Byte] = {
    var bytes = 4
    var i = 0
    while (i < size) { bytes += 8 + keyBytes(i); i += 1 }
    val bb = ByteBuffer.allocate(bytes).putInt(size)
    i = 0
    while (i < size) { putKey(bb.putDouble(scores(i)), i); i += 1 }
    bb.array()
  }

  /** Add every element of a [[serialize]]d heap. */
  def addSerialized(bytes: Array[Byte]): this.type = {
    val bb = ByteBuffer.wrap(bytes)
    var n = bb.getInt
    while (n > 0) {
      val s = bb.getDouble
      getKey(bb)
      offer(s)
      n -= 1
    }
    this
  }
}

/** [[TopKHeap]] over long ids: ties break on the LOWER id (the similarity
  * family's reproducible total order). */
final class TopKBuffer(k: Int) extends TopKHeap(k) {
  val ids = new Array[Long](k + 1)

  def add(score: Double, id: Long): Unit = { ids(free) = id; offer(score) }

  /** (score, id) pairs sorted best-first. */
  def sortedPairs: Array[(Double, Long)] = order.map(i => (scores(i), ids(i)))

  def keyAt(i: Int): Any = ids(i)
  protected def keyAfter(i: Int, j: Int): Boolean = ids(i) > ids(j)
  protected def swapKeys(i: Int, j: Int): Unit = {
    val t = ids(i); ids(i) = ids(j); ids(j) = t
  }
  protected def takeKey(other: TopKHeap, i: Int): Unit =
    ids(free) = other.asInstanceOf[TopKBuffer].ids(i)
  protected def keyBytes(i: Int): Int = 8
  protected def putKey(bb: ByteBuffer, i: Int): Unit = bb.putLong(ids(i))
  protected def getKey(bb: ByteBuffer): Unit = ids(free) = bb.getLong
}

/** [[TopKHeap]] over STRING keys: ties break on the lexicographically
  * SMALLER key (UTF8String binary order = UTF-8 code-point order, matching
  * Spark's and DuckDB's default string sort). */
final class TopKStrBuffer(k: Int) extends TopKHeap(k) {
  val keys = new Array[UTF8String](k + 1)

  def add(score: Double, key: UTF8String): Unit = { keys(free) = key; offer(score) }

  /** (score, key) pairs sorted best-first. */
  def sortedPairs: Array[(Double, UTF8String)] = order.map(i => (scores(i), keys(i)))

  def keyAt(i: Int): Any = keys(i)
  protected def keyAfter(i: Int, j: Int): Boolean = keys(i).compareTo(keys(j)) > 0
  protected def swapKeys(i: Int, j: Int): Unit = {
    val t = keys(i); keys(i) = keys(j); keys(j) = t
  }
  protected def takeKey(other: TopKHeap, i: Int): Unit =
    keys(free) = other.asInstanceOf[TopKStrBuffer].keys(i)
  protected def keyBytes(i: Int): Int = 4 + keys(i).numBytes()
  protected def putKey(bb: ByteBuffer, i: Int): Unit = {
    val b = keys(i).getBytes
    bb.putInt(b.length).put(b)
  }
  protected def getKey(bb: ByteBuffer): Unit = {
    val b = new Array[Byte](bb.getInt)
    bb.get(b)
    keys(free) = UTF8String.fromBytes(b)
  }
}

/** Map-side bounded top-k aggregate — the scale-safe replacement for
  * `row_number().over(Window.partitionBy(group))` ranking. `top_k` ranks
  * BIGINT ids, `top_k_str` STRING keys (terms, tokens, categories).
  *
  * The window form shuffles EVERY scored (group, candidate) row to one
  * task per group before any ranking happens: with Q queries the whole
  * corpus funnels through Q reducers regardless of cluster size — the
  * classic single-reducer scale-killer. A dominant source's distinct-term
  * vocabulary ([[graft.ext.Retrieval.groupTopTerms]]) is 10⁸+ rows on
  * web-scale text. This aggregate instead keeps a k-element heap per group
  * inside each map task (partial aggregation in ObjectHashAggregate), so
  * the exchange carries at most k pairs per (group, partition) —
  * candidates shrink map-side by |partition|/k, and the final merge is
  * k·partitions per group, not |corpus|.
  *
  * Determinism contract: callers pass FINITE scores already rounded to
  * their comparison grain (the similarity family rounds to 6 dp), and
  * ties break on the lower id / smaller key — the same total order as the
  * `ORDER BY score DESC, key ASC` window form and DuckDB's default
  * collation, so results are bit-identical to it over finite scores.
  * Deliberate divergence outside that contract: NULL and NaN scores and
  * NULL keys are EXCLUDED (a NaN cosine means a zero-norm vector — garbage
  * the window form would have ranked first, since desc ordering puts NaN
  * on top).
  *
  * Output: `array<struct<id:long, score:double, rank:int>>` (`key:string`
  * for `top_k_str`) sorted best-first; explode + rename at the call site.
  * Plans name the two kinds `topkagg` and `topkstragg`.
  */
case class TopKAgg(
    score: Expression,
    key: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    stringKey: Boolean = false)
  extends TypedImperativeAggregate[TopKHeap] with BinaryLike[Expression] {

  private def name = if (stringKey) "TopKStrAgg" else "TopKAgg"
  private def keyType: DataType = if (stringKey) StringType else LongType

  require(k > 0, s"$name requires k > 0, got $k")

  override def prettyName: String = name.toLowerCase(Locale.ROOT)
  // the key kind is in the name, not the argument list
  override protected def stringArgs: Iterator[Any] =
    Iterator(score, key, k, mutableAggBufferOffset, inputAggBufferOffset)

  override def left: Expression = score
  override def right: Expression = key

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && key.dataType == keyType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires (DOUBLE score, " +
        (if (stringKey) "STRING key" else "BIGINT id") + "), got " +
        s"${score.dataType.catalogString}, ${key.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField(if (stringKey) "key" else "id", keyType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKHeap =
    if (stringKey) new TopKStrBuffer(k) else new TopKBuffer(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    val v = key.eval(input)
    // NaN would corrupt the heap invariant (every comparison false);
    // excluded by contract — see the class doc. A string key is cloned:
    // eval may return a pointer into a reused row buffer.
    if (s != null && v != null && !s.asInstanceOf[Double].isNaN) buffer match {
      case b: TopKBuffer => b.add(s.asInstanceOf[Double], v.asInstanceOf[Long])
      case b: TopKStrBuffer =>
        b.add(s.asInstanceOf[Double], v.asInstanceOf[UTF8String].clone())
    }
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: TopKHeap): Any = {
    val order = buffer.order
    new GenericArrayData(Array.tabulate[Any](order.length) { r =>
      InternalRow(buffer.keyAt(order(r)), buffer.scores(order(r)), r + 1)
    })
  }

  override def serialize(buffer: TopKHeap): Array[Byte] = buffer.serialize

  override def deserialize(bytes: Array[Byte]): TopKHeap =
    createAggregationBuffer().addSerialized(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAgg =
    copy(score = newLeft, key = newRight)
}

object TopKAgg {
  private def agg(f: TopKAgg): Column = Bridge.toCol(f.toAggregateExpression())

  /** Column-API entry point: `top_k(score, id, k)` under `groupBy(...)`. */
  def top_k(score: Column, id: Column, k: Int): Column =
    agg(TopKAgg(Bridge.toExpr(score), Bridge.toExpr(id), k))

  /** Column-API entry point: `top_k_str(score, key, k)` under `groupBy`. */
  def top_k_str(score: Column, key: Column, k: Int): Column =
    agg(TopKAgg(Bridge.toExpr(score), Bridge.toExpr(key), k, stringKey = true))
}
