package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The native one-pass `graft_minhash` (expr.MinhashSignatures) must equal
  * the composed `array_min(transform(pairs, p => pmod(p.h1 + i·p.h2, P)))`
  * reference (ComposedForms.minhashSignature) sample for sample — including
  * the null shapes `array_min` defines: a null element or a null field drops
  * that term, and a sample with no term left is null.
  */
class MinhashSignaturesSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(StructField("hp", ArrayType(StructType(Seq(
    StructField("h1", LongType), StructField("h2", LongType))), containsNull = true))))

  private def frame(arrays: Seq[Seq[Row]]): DataFrame = {
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    arrays.foreach(a => rows.add(Row(a)))
    spark.createDataFrame(rows, schema)
  }

  /** (native, composed) signatures per row, as Scala options. */
  private def both(df: DataFrame, h: Int): Seq[(Seq[Option[Long]], Seq[Option[Long]])] = {
    def sig(r: Row, i: Int) = r.getSeq[Any](i).map(v => Option(v).map(_.asInstanceOf[Long]))
    df.select(DedupFunctions.minhashSignatureFromPairs($"hp", h).as("n"),
        ComposedForms.minhashSignature($"hp", h).as("c"))
      .collect().toSeq.map(r => (sig(r, 0), sig(r, 1)))
  }

  // both signs, so the floor mod is checked against pmod, not just `%`
  private val field: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null), 8 -> Gen.chooseNum(-(1L << 32), 1L << 32))
  private val element: Gen[Row] = Gen.frequency(
    1 -> Gen.const(null: Row), 8 -> Gen.zip(field, field).map { case (a, b) => Row(a, b) })
  private val pairArray: Gen[Seq[Row]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, element))

  test("native minhash == composed array_min(transform(pmod)) incl. null elements and fields (property)") {
    val prop = Prop.forAll(pairArray, Gen.chooseNum(1, 8)) { (arr, h) =>
      val Seq((n, c)) = both(frame(Seq(arr)), h)
      n == c
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, s"minhash equivalence: $res")
  }

  test("empty array and all-null terms give an array of nulls; a null array gives null") {
    val r = spark.sql(
      """SELECT graft_minhash(CAST(array() AS ARRAY<STRUCT<h1: BIGINT, h2: BIGINT>>), 3) AS empty,
        |       graft_minhash(array(named_struct('h1', NULL, 'h2', 5L),
        |                           named_struct('h1', 7L, 'h2', 3L)), 3) AS null_field,
        |       graft_minhash(array(CAST(NULL AS STRUCT<h1: BIGINT, h2: BIGINT>),
        |                           named_struct('h1', 7L, 'h2', 3L)), 3) AS null_elem,
        |       graft_minhash(array(named_struct('h1', 1L, 'h2', CAST(NULL AS BIGINT))), 2) AS all_null,
        |       graft_minhash(CAST(NULL AS ARRAY<STRUCT<h1: BIGINT, h2: BIGINT>>), 2) AS null_arr
        |""".stripMargin).collect().head
    assert(r.getSeq[Any](0) === Seq(null, null, null))
    assert(r.getSeq[Long](1) === Seq(7L, 10L, 13L))
    assert(r.getSeq[Long](2) === Seq(7L, 10L, 13L))
    assert(r.getSeq[Any](3) === Seq(null, null))
    assert(r.isNullAt(4))
    val Seq((n, c)) = both(frame(Seq(Seq.empty)), 4)
    assert(n === c && n === Seq(None, None, None, None))
  }

  test("native minhash COMPILES inside whole-stage codegen (fallback disabled) and matches on nulls") {
    // a file scan, so the plan has a real codegen stage (a local frame folds
    // to a LocalTableScan and runs the interpreted path the property covers)
    val rnd = new scala.util.Random(7)
    val arrays = Seq.fill(300)(pairArray.pureApply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(rnd.nextLong())))
    val dir = java.nio.file.Files.createTempDirectory("graft_minhash_").toString
    frame(arrays).write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.read.parquet(dir)
      val rows = both(df, 5)
      assert(rows.size === 300)
      rows.foreach { case (n, c) => assert(n === c) }
      val plan = df.select(DedupFunctions.minhashSignatureFromPairs($"hp", 5))
        .queryExecution.executedPlan.toString
      assert(plan.contains("graft_minhash"), s"missing from plan:\n$plan")
      assert(plan.contains("*(1)"), s"not inside a codegen stage:\n$plan")
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prev)
      graft.pipeline.TempFiles.deleteTree(dir)
    }
  }
}
