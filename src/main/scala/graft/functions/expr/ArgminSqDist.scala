package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** array<double> → int: the index of the nearest centroid by squared L2 —
  * KMeansLite's assignment step as ONE expression whose centroid data lives
  * in the plan's REFERENCES array instead of a k·dims literal tree.
  *
  * Why (r20, VERDICT r19 item 4): the literal form
  * `array_min(array(struct(sqDist(v, [lit…]), lit(c))…)).cid` re-enters the
  * analyzer and whole-stage codegen with FRESH literal values every k-means
  * iteration, so every iteration pays a full analyze + Janino compile of a
  * k·dims-literal stage (q65/q81/q109/q112/q178's fit loops). Here the
  * centroids are a referenced object: the generated source is byte-identical
  * across iterations (data changes, code doesn't), so the codegen cache
  * compiles the assignment ONCE for N iterations — and the per-row work
  * drops the k struct + array allocations the argmin form paid.
  *
  * Bit-identical to the literal form by construction (ArgminSqDistSpec pins
  * it): per centroid, distance is the order-pinned sequential sum
  * `s += (x-c)·(x-c)` over ascending dims — exactly
  * [[SquaredDistance]]'s kernel — and the scan keeps the LOWEST cid on ties
  * via strict `<` over ascending cids, which reproduces the (d, cid)-ascending
  * struct-argmin (the same argument documented at KMeansLite.assign).
  * Null contract: null array → null; elements are assumed non-null
  * (embedding fixtures; matches what the literal form required).
  * Measured: −11% (q65) to −41% (q109) warm against the literal tree
  * (OPTIMIZATION_r20.md C2); the literal tree lives on only as
  * ArgminSqDistSpec's reference. [[graft.sql.LiftLiterals]] applies the
  * same idea to every comparison and projected literal ([[ParamLiteral]]).
  */
case class ArgminSqDist(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $t")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_argmin_sqdist"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var d = 0.0
      var i = 0
      while (i < cv.length) {
        val x = v.getDouble(i) - cv(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the centroid matrix enters via the references array — the generated
    // source below is IDENTICAL for every iteration's instance, which is
    // what lets the codegen cache reuse one compiled stage across the loop
    val cs = ctx.addReferenceObj("kmeansCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, x => {
      val m = ctx.freshName("cs")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val dx = ctx.freshName("dx")
      val cv = ctx.freshName("cv")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      // see Md5Half.doGenCode: no `|`-leading continuation lines
      s"""
         |double[][] $m = $cs;
         |int $best = 0;
         |double $bestD = Double.POSITIVE_INFINITY;
         |for (int $c = 0; $c < $m.length; $c++) {
         |  double[] $cv = $m[$c];
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $cv.length; $i++) {
         |    double $dx = $x.getDouble($i) - $cv[$i];
         |    $d += $dx * $dx;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ArgminSqDist =
    copy(child = newChild)
}
