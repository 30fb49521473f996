package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the library's native expressions/aggregates: register
  * `float_dot`, `int_dot`, `shingle_hashes`, `nfc`, `top_k`,
  * `kmv_sketch`, `hll_sketch` in the function registry, so
  * `spark.sql("SELECT top_k(score, id, 5) ...")` works the same as the
  * Column API. Two entry points:
  *
  *  - `spark.sql.extensions=graft.GraftExtensions` (the standard
  *    `SparkSessionExtensions` injection at session build time);
  *  - [[GraftExtensions.register]] for an already-running session.
  *
  * Both share one builder table, so the SQL and Column APIs can never
  * drift. Literal-only parameters (k, n) are enforced at resolution time
  * with a clear error — they parameterize the aggregation buffer /
  * generated code and cannot vary per row.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(ext.injectFunction)
    // opt-in all-pairs-join guard (no-op unless
    // spark.graft.guard.cartesian=true — it never rewrites, only vetoes)
    ext.injectOptimizerRule(_ => graft.plans.CartesianGuard)
    // whole-operator surface: plans AsofJoinNode (matches nothing else)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be an INT literal, got ${e.sql}")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(getClass.getName, null, name, usage, "", "", "", "",
      "", "", "built-in")

  /** Arity guard: positional args(i) on a wrong-arity call would surface
    * an internal IndexOutOfBoundsException instead of an analysis error. */
  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$fn expects $n arguments, got ${args.length}")

  /** (identifier, info, builder) rows in `injectFunction` shape. */
  val entries: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_dot"),
      info("float_dot",
        "float_dot(a, b) - codegen'd double dot product of two ARRAY<FLOAT>"),
      (args: Seq[Expression]) => {
        arity("float_dot", args, 2)
        functions.VecDot(args(0), args(1), integral = false)
      }),
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(text, n) - distinct 32-bit hashes of word n-grams"),
      (args: Seq[Expression]) => {
        arity("shingle_hashes", args, 2)
        functions.ShingleHashes(args(0),
          intLit(args(1), "shingle_hashes", "n"))
      }),
    (FunctionIdentifier("top_k"),
      info("top_k",
        "top_k(score, id, k) - bounded-heap top-k aggregate, map-side partial"),
      (args: Seq[Expression]) => {
        arity("top_k", args, 3)
        functions.TopKAgg(args(0), args(1), intLit(args(2), "top_k", "k"))
      }),
    (FunctionIdentifier("nfc"),
      info("nfc",
        "nfc(str) - Unicode NFC canonical composition, codegen'd"),
      (args: Seq[Expression]) => {
        arity("nfc", args, 1)
        functions.NfcNormalize(args(0))
      }),
    (FunctionIdentifier("kmv_sketch"),
      info("kmv_sketch",
        "kmv_sketch(hash, k) - k smallest distinct hashes (KMV distinct sketch)"),
      (args: Seq[Expression]) => {
        arity("kmv_sketch", args, 2)
        functions.KmvAgg(args(0), intLit(args(1), "kmv_sketch", "k"))
      }),
    (FunctionIdentifier("int_dot"),
      info("int_dot",
        "int_dot(a, b) - codegen'd BIGINT dot product of two ARRAY<INT> " +
          "(the int8-code ADC kernel)"),
      (args: Seq[Expression]) => {
        arity("int_dot", args, 2)
        functions.VecDot(args(0), args(1), integral = true)
      }),
    (FunctionIdentifier("hll_sketch"),
      info("hll_sketch",
        "hll_sketch(hash, p) - HyperLogLog register array (2^p registers) " +
          "over the portable 32-bit hash; mergeable, constant-size"),
      (args: Seq[Expression]) => {
        arity("hll_sketch", args, 2)
        functions.HllAgg(args(0), intLit(args(1), "hll_sketch", "p"))
      }))

  /** Register on a live session (same builders as the extension path). */
  def register(spark: SparkSession): Unit =
    entries.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(id, inf, builder): Unit
    }
}
