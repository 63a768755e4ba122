package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** All `numHashes` MinHash samples in ONE pass over the token hash pairs —
  * replaces `numHashes` interpreted `array_min(transform(...))` evaluations
  * (graft.functions.DedupFunctions.minhashSignatureFromPairs) with a single
  * codegen'd tokens × hashes loop.
  *
  * Bit-identical to the composed form
  * `array_min(transform(pairs, p => pmod(p.h1 + i·p.h2, P)))` per sample i,
  * P = 4294967311 (Kirsch–Mitzenmacher construction; MinhashSignaturesSpec
  * pins it). The mod is a floor mod, as `pmod` is; the engine's inputs are
  * 32-bit non-negative halves of one md5 per token, so i·h2 cannot overflow
  * a long for any realistic numHashes. Like `array_min`, a term is skipped
  * when its element is null or has a null field, and a sample with no
  * non-null term is null — so an empty token array yields an array of nulls
  * (as the DuckDB oracle's `list_min` does). A null pairs array yields null.
  */
case class MinhashSignatures(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private val P = 4294967311L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<h1:bigint,h2:bigint>>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any = {
    val pairs = input.asInstanceOf[ArrayData]
    val n = pairs.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!pairs.isNullAt(i)) {
        val row = pairs.getStruct(i, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          seen = true
          val h1 = row.getLong(0)
          val h2 = row.getLong(1)
          var j = 0
          while (j < numHashes) {
            val v = java.lang.Math.floorMod(h1 + j * h2, P)
            if (v < mins(j)) mins(j) = v
            j += 1
          }
        }
      }
      i += 1
    }
    if (seen) new GenericArrayData(mins.map(Long.box): Array[Any])
    else new GenericArrayData(new Array[Any](numHashes))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val row = ctx.freshName("row")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val seen = ctx.freshName("seen")
      val out = ctx.freshName("out")
      val rowCls = classOf[InternalRow].getName
      val gadCls = classOf[GenericArrayData].getName
      s"""
         |int $n = $x.numElements();
         |Object[] $out = new Object[$numHashes];
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i)) continue;
         |  $rowCls $row = $x.getStruct($i, 2);
         |  if ($row.isNullAt(0) || $row.isNullAt(1)) continue;
         |  $seen = true;
         |  long $h1 = $row.getLong(0);
         |  long $h2 = $row.getLong(1);
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $v = java.lang.Math.floorMod($h1 + $j * $h2, ${P}L);
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |if ($seen) {
         |  for (int $j = 0; $j < $numHashes; $j++) $out[$j] = (Long) $mins[$j];
         |}
         |${ev.value} = new $gadCls($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatures =
    copy(child = newChild)
}
