package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: project one `ARRAY<FLOAT>` embedding onto a
  * LITERAL row-major matrix (`planes`: dOut × dim doubles), emitting the
  * dOut projected coordinates as `ARRAY<DOUBLE>`, each rounded to `scale`
  * decimal places — the whole Johnson–Lindenstrauss reduction of
  * [[graft.ext.Similarity.randomProjection]] as ONE codegen'd expression.
  *
  * The composable alternative — dOut separate
  * `round(aggregate(zip_with(...)), 6)` HOF folds — walks the input array
  * dOut times through interpreted lambda dispatch and allocates a zipped
  * array per (row, output-dim). This expression generates one tight
  * nested primitive loop: the input array is read once per output
  * coordinate with no allocation beyond the output array, inside
  * whole-stage codegen. Summation is strict left-to-right over j for each
  * output i, and rounding replicates Catalyst `Round`'s double semantics
  * (BigDecimal HALF_UP) — so for NON-NULL float elements the result is
  * bit-identical to the HOF+round form and to the DuckDB oracle's
  * in-order list_dot_product (differential-tested in ExtSpec). Null
  * elements contribute 0, matching [[VecDot]]'s totality contract.
  *
  * Scale: at 100 TB this is the map-stage inner loop of reducing every
  * embedding; dOut×dim multiply-adds per row with zero per-row overhead
  * is the difference between a scan-bound and a CPU-bound reduction pass.
  */
case class MatProject(child: Expression, planes: Seq[Seq[Double]], scale: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"MatProject requires an ARRAY<FLOAT> input, got ${other.catalogString}")
  }

  @transient private lazy val mat: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val out = new Array[Double](mat.length)
    var i = 0
    while (i < mat.length) {
      val p = mat(i)
      val n = math.min(x.numElements(), p.length)
      var s = 0.0
      var j = 0
      while (j < n) {
        if (!x.isNullAt(j)) s += x.getFloat(j).toDouble * p(j)
        j += 1
      }
      out(i) = java.math.BigDecimal.valueOf(s)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("matProjectPlanes", mat, "double[][]")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val p = ctx.freshName("p")
      s"""
         |double[] $out = new double[$m.length];
         |for (int $i = 0; $i < $m.length; $i++) {
         |  double[] $p = $m[$i];
         |  int $n = Math.min($a.numElements(), $p.length);
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if (!$a.isNullAt($j)) {
         |      $s += (double) $a.getFloat($j) * $p[$j];
         |    }
         |  }
         |  $out[$i] = java.math.BigDecimal.valueOf($s)
         |    .setScale($scale, java.math.RoundingMode.HALF_UP).doubleValue();
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MatProject =
    copy(child = newChild)
}

object MatProject {
  /** Column-API entry point: project `emb` onto the literal `planes`
    * matrix, rounding each coordinate to `scale` dp. */
  def mat_project(emb: Column, planes: Array[Array[Double]],
      scale: Int = 6): Column =
    Bridge.toCol(MatProject(Bridge.toExpr(emb),
      planes.toSeq.map(_.toSeq), scale))
}
