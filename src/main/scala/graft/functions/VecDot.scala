package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expression: the dot product of two array columns, with
  * whole-stage codegen, in one of two kinds:
  *
  *  - `float_dot`: two `ARRAY<FLOAT>` embeddings, summed in double
  *    precision into a DOUBLE;
  *  - `int_dot`: two `ARRAY<INT>` code columns, summed exactly in a long
  *    into a BIGINT — the int8 compressed-scoring ANN stage
  *    ([[graft.ext.Similarity.int8TopK]]).
  *
  * The composable alternative — `aggregate(zip_with(a, b, _*_), 0, _+_)` —
  * is semantically identical but runs interpreted (higher-order-function
  * lambdas never enter codegen), allocating a zipped array per row. This
  * expression runs a tight primitive loop instead: no allocation, no
  * lambda dispatch, same strict left-to-right summation order — so for
  * EQUAL-LENGTH, NON-NULL inputs (the embeddings and quantizer contracts)
  * results are bit-identical to the HOF form, and the float kind to the
  * DuckDB oracle's list_dot_product at the 6-dp rounding grain used by the
  * similarity queries (integer addition is exact, so the int kind needs
  * no grain). Outside that contract the two differ by design: the HOF
  * form returns NULL on length mismatch (zip_with pads with nulls) or null
  * elements, while this expression computes a min-length partial sum
  * treating null elements as 0, keeping eval total. Interpreted eval and
  * the generated code call the same loop ([[VecDot.longDot]],
  * [[VecDot.doubleDot]]). Plans name the kinds `intvecdot` and
  * `floatvecdot`. Preference order per SURVEY §7.3: built-ins first,
  * custom Expression only where built-ins can't express it *efficiently*
  * — this is the one hot-loop case (N dot products per candidate pair at
  * 100 TB).
  */
case class VecDot(left: Expression, right: Expression, integral: Boolean)
    extends BinaryExpression {

  private def name = if (integral) "IntVecDot" else "FloatVecDot"

  override def prettyName: String = name.toLowerCase(Locale.ROOT)
  // the kind is in the name, not the argument list
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def dataType: DataType = if (integral) LongType else DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val (elem, what) =
      if (integral) (IntegerType, "ARRAY<INT>") else (FloatType, "ARRAY<FLOAT>")
    (left.dataType, right.dataType) match {
      case (ArrayType(`elem`, _), ArrayType(`elem`, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$name requires two $what inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (integral) VecDot.longDot(x, y) else VecDot.doubleDot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecDot.${if (integral) "longDot" else "doubleDot"}($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Column-API entry point: `int_dot(a, b)`. */
  def int_dot(a: Column, b: Column): Column =
    Bridge.toCol(VecDot(Bridge.toExpr(a), Bridge.toExpr(b), integral = true))

  /** Column-API entry point: `float_dot(a, b)`. */
  def float_dot(a: Column, b: Column): Column =
    Bridge.toCol(VecDot(Bridge.toExpr(a), Bridge.toExpr(b), integral = false))

  /** Σ x(i)·y(i) of two `ARRAY<INT>` over their common prefix, null
    * elements as 0, in a long. */
  def longDot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getInt(i).toLong * y.getInt(i)
      i += 1
    }
    s
  }

  /** Σ x(i)·y(i) of two `ARRAY<FLOAT>` over their common prefix, null
    * elements as 0, left to right in double precision. */
  def doubleDot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getFloat(i).toDouble * y.getFloat(i)
      i += 1
    }
    s
  }
}
