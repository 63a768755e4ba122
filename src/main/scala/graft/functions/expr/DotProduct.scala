package graft.functions.expr

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native codegen dot product over two `ARRAY<DOUBLE>` columns — the one spot
  * in the engine where a custom Catalyst `Expression` beats every alternative
  * (build-prompt preference order: compose > Expression > custom plan >
  * mapPartitions):
  *
  *  - the higher-order `aggregate(zip_with(...))` fold is evaluated
  *    interpreted, per pair, in similarity joins;
  *  - unrolling to a 64-term expression tree blows codegen/JIT method limits
  *    (measured 2-3× slower, see SimilarityFunctions.withNormalized);
  *  - this expression emits ONE tight Java loop inside whole-stage codegen.
  *
  * Contract (summation order, null handling): see [[PairedDoubleArrayFold]]
  * — bit-identical to the `aggregate(zip_with(...))` fold (DotProductSpec
  * pins it) and to the DuckDB oracle's `list_sum(list_transform(...))`.
  * Backs `SimilarityFunctions.dot`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends PairedDoubleArrayFold {

  override def prettyName: String = "graft_dot"

  override protected def termEval(x: Double, y: Double): Double = x * y

  override protected def termJava(ctx: CodegenContext, s: String,
                                  x: String, y: String, i: String): String =
    s"$s += $x.getDouble($i) * $y.getDouble($i);"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
