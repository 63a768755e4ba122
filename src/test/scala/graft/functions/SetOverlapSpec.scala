package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The native one-pass `graft_overlap` (containment verify primitive, q93)
  * must equal the composed `size(array_intersect)` / `size(array_distinct)`
  * counts (ComposedForms.setOverlap) on every input shape — duplicates,
  * empties, skew, null elements.
  */
class SetOverlapSpec extends SparkSpec {

  import spark.implicits._

  test("native overlap counts == composed builtins for random long arrays (property)") {
    val arrGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 25L)))
    val prop = Prop.forAll(arrGen, arrGen) { (a, b) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          DedupFunctions.setOverlap($"a", $"b").as("n"),
          ComposedForms.setOverlap($"a", $"b").as("c"))
        .collect().head
      val (n, c) = (row.getStruct(0), row.getStruct(1))
      n.getInt(0) == c.getInt(0) && n.getInt(1) == c.getInt(1) &&
        n.getInt(2) == c.getInt(2)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, s"overlap equivalence: $res")
  }

  test("null elements and null arrays follow SQL set semantics") {
    val r = spark.sql(
      """SELECT graft_overlap(array(1L, NULL, 1L), array(NULL, 2L)) AS both_null,
        |       graft_overlap(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS empty_a,
        |       graft_overlap(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS null_arr
        |""".stripMargin).collect().head
    // {1, null} vs {null, 2}: inter = {null} (1), na = {1, null} (2), nb = {null, 2} (2)
    val bn = r.getStruct(0)
    assert((bn.getInt(0), bn.getInt(1), bn.getInt(2)) === ((1, 2, 2)))
    val ea = r.getStruct(1)
    assert((ea.getInt(0), ea.getInt(1), ea.getInt(2)) === ((0, 0, 1)))
    assert(r.isNullAt(2))
  }
}
