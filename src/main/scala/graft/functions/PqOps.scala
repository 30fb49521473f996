package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native product-quantization kernels ([[graft.ext.PqIndex]]).
  *
  * Why native: the compositional forms — per (subspace, centroid) one
  * `float_dot(slice(emb, ...), typedLit(centroid))` — generate code LINEAR
  * in m·k. At the index defaults (m=8, k=32 → 256 inlined dot loops in the
  * encode projection and 256 more in the ADC stage) the whole-stage
  * `processNext()` crossed janino's 64 KB method limit and Spark silently
  * fell back to interpreted execution for the entire stage. These
  * expressions generate ONE static call each (constant code size for any
  * m/k/dim; JIT inlines the loop), with `eval` sharing the same helper so
  * interpreted and generated paths are bit-identical.
  *
  * Arithmetic contracts mirror the compositional form exactly, so the
  * ExtSpec equivalences (full-probe IVFPQ ≡ PQ-only, shortlist recall
  * floors) are unchanged:
  *  - dots accumulate `(double) a[t] * (double) b[t]` in ascending t
  *    ([[VecDot]]'s order);
  *  - distances are `|c|² − 2·dot` with `|c|²` summed left-to-right at
  *    model build time;
  *  - argmin keeps the FIRST minimum (`array_position(arr, array_min)`
  *    semantics);
  *  - null / short embeddings degrade like [[VecDot]]: null elements
  *    contribute 0, loops run to the shorter length.
  */
object PqOps {

  /** Flattened codebook handed to generated code as one reference object:
    * books[(i·k + j)·subDim + t] = coordinate t of centroid j of
    * subspace i; norms[i·k + j] = |c_ij|² (left-to-right double sum). */
  final case class FlatBooks(books: Array[Float], norms: Array[Double],
      m: Int, k: Int, subDim: Int)

  def flatten(codebooks: Array[Array[Array[Float]]]): FlatBooks = {
    val m = codebooks.length
    val k = codebooks.head.length
    val subDim = codebooks.head.head.length
    val books = new Array[Float](m * k * subDim)
    val norms = new Array[Double](m * k)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < k) {
        val c = codebooks(i)(j)
        System.arraycopy(c, 0, books, (i * k + j) * subDim, subDim)
        norms(i * k + j) = c.map(v => v.toDouble * v).sum
        j += 1
      }
      i += 1
    }
    FlatBooks(books, norms, m, k, subDim)
  }

  /** dot(emb[base ..< base+subDim], books[off ..< off+subDim]) with
    * VecDot's float_dot semantics (ascending, null→skip, min length). */
  private def subDot(emb: ArrayData, base: Int, fb: FlatBooks,
      off: Int): Double = {
    val n = math.min(fb.subDim, math.max(0, emb.numElements() - base))
    var s = 0.0
    var t = 0
    while (t < n) {
      if (!emb.isNullAt(base + t)) {
        s += emb.getFloat(base + t).toDouble * fb.books(off + t).toDouble
      }
      t += 1
    }
    s
  }

  /** Encode helper: nearest (min |c|²−2·dot, first tie) code per subspace. */
  def codes(emb: ArrayData, fb: FlatBooks): ArrayData = {
    val out = new Array[Int](fb.m)
    var i = 0
    while (i < fb.m) {
      var best = 0
      var bestDist = Double.MaxValue
      var j = 0
      while (j < fb.k) {
        val idx = i * fb.k + j
        val d = fb.norms(idx) - 2.0 * subDot(emb, i * fb.subDim, fb,
          idx * fb.subDim)
        if (d < bestDist) { bestDist = d; best = j }
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup-table helper: lut[i·k + j] = dot(q_sub_i, c_ij). Computed
    * once per QUERY row (the tiny broadcast side), never per candidate —
    * the table-precompute half of the PQ paper's ADC. */
  def lut(qEmb: ArrayData, fb: FlatBooks): ArrayData = {
    val out = new Array[Double](fb.m * fb.k)
    var idx = 0
    while (idx < fb.m * fb.k) {
      out(idx) = subDot(qEmb, (idx / fb.k) * fb.subDim, fb, idx * fb.subDim)
      idx += 1
    }
    new GenericArrayData(out)
  }

  private def requireFloatArray(child: Expression,
      what: String): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$what requires ARRAY<FLOAT>, got ${other.catalogString}")
  }

  /** `pq_codes(emb)` → ARRAY<INT> of m nearest-centroid codes. */
  case class PqCodes(child: Expression, fb: FlatBooks)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireFloatArray(child, "PqCodes")
    override def nullSafeEval(input: Any): Any =
      codes(input.asInstanceOf[ArrayData], fb)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fbRef = ctx.addReferenceObj("fb", fb, classOf[FlatBooks].getName)
      defineCodeGen(ctx, ev, c => s"graft.functions.PqOps.codes($c, $fbRef)")
    }
    override protected def withNewChildInternal(newChild: Expression): PqCodes =
      copy(child = newChild)
  }

  /** `pq_lut(qEmb)` → ARRAY<DOUBLE> of m·k per-subspace centroid dots. */
  case class PqLut(child: Expression, fb: FlatBooks)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireFloatArray(child, "PqLut")
    override def nullSafeEval(input: Any): Any =
      lut(input.asInstanceOf[ArrayData], fb)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fbRef = ctx.addReferenceObj("fb", fb, classOf[FlatBooks].getName)
      defineCodeGen(ctx, ev, c => s"graft.functions.PqOps.lut($c, $fbRef)")
    }
    override protected def withNewChildInternal(newChild: Expression): PqLut =
      copy(child = newChild)
  }

  def pqCodes(emb: Column, fb: FlatBooks): Column =
    Bridge.toCol(PqCodes(Bridge.toExpr(emb), fb))

  def pqLut(qEmb: Column, fb: FlatBooks): Column =
    Bridge.toCol(PqLut(Bridge.toExpr(qEmb), fb))
}
