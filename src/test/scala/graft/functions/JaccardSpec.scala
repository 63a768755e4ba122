package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The native one-pass `graft_jaccard` must be bit-identical to the composed
  * `size(array_intersect)/size(array_union)` reference (ComposedForms.jaccard)
  * on every input shape the LSH verify step can produce — duplicates,
  * empties, skewed sizes, and null elements (SQL set semantics: null counts
  * once, intersects only if present on both sides).
  */
class JaccardSpec extends SparkSpec {

  import spark.implicits._

  test("native jaccard == composed builtins for random long arrays (property)") {
    val arrGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 25L))) // small domain → real overlaps + dups
    val prop = Prop.forAll(arrGen, arrGen) { (a, b) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(DedupFunctions.jaccard($"a", $"b").as("n"),
          ComposedForms.jaccard($"a", $"b").as("c"))
        .collect().head
      row.getDouble(0) == row.getDouble(1)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, s"jaccard equivalence: $res")
  }

  test("null elements follow SQL array_intersect/array_union semantics") {
    val df = spark.sql(
      """SELECT graft_jaccard(array(1L, NULL, 1L), array(NULL, 2L)) AS both_null,
        |       graft_jaccard(array(1L, NULL), array(2L)) AS one_null,
        |       graft_jaccard(CAST(array() AS ARRAY<BIGINT>),
        |                     CAST(array() AS ARRAY<BIGINT>)) AS empty,
        |       graft_jaccard(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS null_arr,
        |       graft_jaccard(NULL, array(1L)) AS untyped_null
        |""".stripMargin).collect().head
    // {1, null} vs {null, 2}: inter {null} = 1, union {1, null, 2} = 3
    assert(df.getDouble(0) === 1.0 / 3.0)
    // {1, null} vs {2}: inter 0, union {1, null, 2} = 3
    assert(df.getDouble(1) === 0.0)
    assert(df.getDouble(2) === 0.0)
    assert(df.isNullAt(3))
    // an untyped NULL literal must stay analyzable (as it is in the
    // composed reference) and evaluate to NULL
    assert(df.isNullAt(4))
  }

  test("composed A/B baseline propagates NULL arrays like the native form") {
    val row = Seq((null: Array[java.lang.Long], Array[java.lang.Long](1L)))
      .toDF("a", "b")
      .select(ComposedForms.jaccard($"a", $"b").as("c"),
        DedupFunctions.jaccard($"a".cast("array<bigint>"), $"b".cast("array<bigint>")).as("n"))
      .collect().head
    assert(row.isNullAt(0) && row.isNullAt(1),
      "native and composed jaccard must both map NULL arrays to NULL")
  }
}
