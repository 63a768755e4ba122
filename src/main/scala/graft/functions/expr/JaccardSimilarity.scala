package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, NullType}

/** One-pass distinct-set Jaccard over long arrays, JVM-side (shared by the
  * interpreted and generated paths): a single open-addressed long table holds
  * both sides' membership states, so neither `array_intersect` nor
  * `array_union` result arrays are ever materialized — the pair-verify step
  * of the LSH dedup joins (q36/q86) runs this per candidate pair, where the
  * composed form allocates two hash sets AND two result arrays per pair.
  *
  * Semantics are EXACTLY `size(array_intersect(a,b)) /
  * size(array_union(a,b))` with 0.0 for an empty union: duplicates collapse
  * (distinct-set semantics) and NULL ELEMENTS count as one element, present
  * in the intersection only if both sides carry a null — SQL's
  * array_intersect/array_union treatment.
  */
object JaccardHelper {

  /** @return Jaccard in [0,1]; 0.0 when both arrays are empty. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // open addressing, power-of-two capacity ≥ 2×(na+nb); states:
    // 1 = in a only, 2 = in b only, 3 = in both (already counted)
    var cap = 16
    while (cap < (na + nb) * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val state = new Array[Byte](cap)
    val mask = cap - 1
    var da = 0; var db = 0; var inter = 0
    var aHasNull = false; var bHasNull = false

    def slot(k: Long): Int = {
      // finalizer-mixed hash against clustered keys
      var h = k * -7046029254386353131L
      h ^= (h >>> 32)
      var i = (h.toInt & mask)
      while (state(i) != 0 && keys(i) != k) i = (i + 1) & mask
      i
    }

    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) aHasNull = true
      else {
        val k = a.getLong(i)
        val s = slot(k)
        if (state(s) == 0) { keys(s) = k; state(s) = 1; da += 1 }
      }
      i += 1
    }
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bHasNull = true
      else {
        val k = b.getLong(i)
        val s = slot(k)
        state(s) match {
          case 0 => keys(s) = k; state(s) = 2; db += 1
          case 1 => state(s) = 3; inter += 1; db += 1
          case _ => () // already counted for b
        }
      }
      i += 1
    }
    if (aHasNull) da += 1
    if (bHasNull) db += 1
    if (aHasNull && bHasNull) inter += 1
    val union = da + db - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** Native `graft_jaccard(a, b)` over two `ARRAY<BIGINT>` columns — the hot
  * expression of the LSH pair-verify step. Null ARRAYS propagate null
  * (`nullSafeEval`); see JaccardHelper for element semantics.
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = left.nullable || right.nullable

  // NullType (a literal NULL) and ArrayType(NullType) (an untyped empty/
  // all-null array literal) stay legal, as they are for the composed
  // builtins — same whitelist rationale as NfcNormalize
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) | ArrayType(NullType, _) | NullType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (l, r) if ok(l) && ok(r) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardHelper.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expr.JaccardHelper.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimilarity =
    copy(left = newLeft, right = newRight)
}
