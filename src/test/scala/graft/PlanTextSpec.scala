package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Plans.stableText`: the text PLANS.md records for a plan does not depend
  * on which ids or object hashes a run happened to hand out.
  */
class PlanTextSpec extends AnyFunSuite {

  private def plan(ids: Seq[Int], hash: String, lambda: String): String =
    s"""== Physical Plan ==
       |(1) Scan parquet
       |Output [2]: [a#${ids(0)}, b#${ids(1)}L]
       |
       |(2) Project [codegen id : ${ids(6) + 2}]
       |Output [1]: [transform(a#${ids(0)}, lambdafunction((lambda x_${ids(2)}#${ids(3)} + 1), lambda x_${ids(2)}#${ids(3)}, false)) AS c#${ids(4)}]
       |Input [2]: [a#${ids(0)}, b#${ids(1)}L]
       |
       |(3) HashAggregate
       |Functions [1]: [partial_topn(b#${ids(1)}L, graft.pipeline.typed.TypedAggs$$TopN@$hash, true)]
       |
       |(4) Exchange
       |Arguments: hashpartitioning(c#${ids(4)}, 4), ENSURE_REQUIREMENTS, [plan_id=${ids(5)}]
       |
       |(5) ShuffleQueryStage
       |Output [1]: [c#${ids(4)}]
       |Arguments: ${ids(6)}
       |
       |(6) Scan ExistingRDD
       |Arguments: [c#${ids(4)}], MapPartitionsRDD[${ids(7)}] at localCheckpoint at Q.scala:1, ExistingRDD
       |
       |(7) MapElements
       |Arguments: graft.queries.Q$$$$$$Lambda$$${ids(8)}/$lambda@$hash, obj#${ids(9)}: scala.Tuple2
       |""".stripMargin

  test("explain strings that differ only in ids and hashes normalise to the same text") {
    val first = plan(Seq(4, 7, 25, 1254, 31, 41, 0, 1107, 5868, 3563), "492d0748", "0x00007f9cf530d2f8")
    val second = plan(Seq(251, 252, 3, 458, 290, 738, 3, 1143, 5874, 3586), "656dc20f", "0x00007f9cf524ac48")
    assert(first != second)
    assert(Plans.stableText(first) === Plans.stableText(second))
    val text = Plans.stableText(first)
    assert(text.contains("Output [2]: [a#1, b#2L]"))
    assert(text.contains("(2) Project [codegen id : 1]"))
    assert(text.contains("lambda x_1#3 + 1"))
    assert(text.contains("TypedAggs$TopN, true"))
    assert(text.contains("[plan_id=1]"))
    assert(text.contains("ShuffleQueryStage\nOutput [1]: [c#4]\nArguments: 1\n"))
    assert(text.contains("MapPartitionsRDD[1]"))
    assert(text.contains("Q$$$Lambda, obj#5: scala.Tuple2"))
  }

  test("distinct ids stay distinct and references keep pointing at the same id") {
    val text = Plans.stableText("Output [3]: [a#90, b#17, a2#90]\nCondition : (b#17 > a#90)\n")
    assert(text === "Output [3]: [a#1, b#2, a2#1]\nCondition : (b#2 > a#1)\n")
  }
}
