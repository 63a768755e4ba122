package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.functions.expr.TokensKernel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The native tokenizer (expr.Tokens, behind TextFunctions.tokens) must equal
  * the composed `filter(split(lower(text), "[^a-z0-9]+"), _ != "")`
  * (ComposedForms.tokens) token for token, on the interpreted and the
  * generated path, for text whose lowercasing is not plain ASCII: ICU maps
  * KELVIN SIGN to `k` and U+0130 to `i` + U+0307, and invalid UTF-8 (cast
  * from binary) is lowercased through Spark's valid-string repair.
  */
class TokensSpec extends SparkSpec {

  private val pieces: Gen[Array[Byte]] = {
    def str(s: String) = Gen.const(s.getBytes(UTF_8))
    Gen.frequency(
      6 -> Gen.alphaLowerChar.map(c => Array(c.toByte)),
      4 -> Gen.alphaUpperChar.map(c => Array(c.toByte)),
      3 -> Gen.numChar.map(c => Array(c.toByte)),
      4 -> Gen.oneOf(" ,.;:!?-_'\"()[]\t\n/@#".toSeq).map(c => Array(c.toByte)),
      1 -> str("\u212A"), // KELVIN SIGN -> k
      1 -> str("\u0130"), // I WITH DOT ABOVE -> i + U+0307
      1 -> str("\u00DF"),
      1 -> str("\u039F\u0394\u039F\u03A3 "), // final sigma
      1 -> str("\u0307"), // combining dot above
      1 -> str("\uD83D\uDE00"), // astral emoji
      1 -> str("\u03A9\u00E9"),
      // invalid UTF-8: a lone continuation byte, a truncated lead, an
      // encoded lone surrogate, a byte that never occurs, a cut astral lead
      1 -> Gen.oneOf(
        Array(0x80.toByte), Array(0xC3.toByte), Array(0xED, 0xA0, 0x80).map(_.toByte),
        Array(0xFF.toByte), Array(0xF0, 0x9F).map(_.toByte)))
  }
  private val text: Gen[Array[Byte]] =
    Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, pieces)).map(_.toArray.flatten)
  private val batch: Gen[List[Array[Byte]]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, text))

  /** One partition of binary rows, not a local relation: the optimizer
    * cannot fold the projection, so it runs in a whole-stage codegen stage
    * (or interpreted, under `interpreted`).
    */
  private def frame(rows: Seq[Array[Byte]]): DataFrame = {
    val rdd = spark.sparkContext.parallelize(rows.map(Row(_)), 1)
    spark.createDataFrame(rdd, StructType(Seq(StructField("b", BinaryType))))
  }

  /** (native, composed, row-side kernel over the collected text) per row. */
  private def both(df: DataFrame): Seq[(Seq[String], Seq[String], Seq[String])] = {
    val t = col("b").cast("string")
    df.select(TextFunctions.tokens(t), ComposedForms.tokens(t), t).collect().toSeq.map(r =>
      (Option(r.getSeq[String](0)).orNull, Option(r.getSeq[String](1)).orNull,
        Option(r.getString(2)).map(s => TokensKernel.tokens(s).toSeq).orNull))
  }

  private def agree(rows: Seq[Array[Byte]]): Boolean =
    both(frame(rows)).forall { case (n, c, k) => n == c && (c == null || k == c) }

  test("native tokens == composed split(lower) on mixed ASCII, ICU and invalid UTF-8 (property)") {
    val prop = Prop.forAll(batch) { rows =>
      val generated = withConf("spark.sql.codegen.fallback" -> "false")(agree(rows))
      generated && interpreted(agree(rows))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"tokens equivalence: $res")
  }

  test("the generated path compiles: graft_tokens sits in a codegen stage") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = frame(Seq("Kelvin \u212A".getBytes(UTF_8)))
        .select(TextFunctions.tokens(col("b").cast("string")))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_tokens") && plan.contains("*(1)"), plan)
      assert(df.collect().head.getSeq[String](0) === Seq("kelvin", "k"))
    }
  }

  test("fixed cases: null, empty, all separators, separators at both ends, ICU into ASCII") {
    val rows = Seq(null, "", " ,;--\t \u00E9 \u00DF\n", "  ..Hello, World 42!! ",
      "\u0130STANBUL \u212Aelvin").map(s => Option(s).map(_.getBytes(UTF_8)).orNull)
    val got = both(frame(rows))
    got.foreach { case (n, c, _) => assert(n === c) }
    assert(got.map(_._1) === Seq(null, Seq(), Seq(), Seq("hello", "world", "42"),
      Seq("i", "stanbul", "kelvin")))
    assert(TokensKernel.tokens(null: String).isEmpty)
  }

  test("tokens are copies: none aliases the input buffer") {
    val bytes = "alpha Beta gamma".getBytes(UTF_8)
    val in = UTF8String.fromBytes(bytes)
    val ts = TokensKernel.tokens(in)
    (0 until ts.numElements()).foreach(i => assert(ts.getUTF8String(i).getBaseObject ne bytes))
    java.util.Arrays.fill(bytes, 'z'.toByte)
    assert((0 until ts.numElements()).map(ts.getUTF8String(_).toString) ===
      Seq("alpha", "beta", "gamma"))
  }

  test("tokens survive reuse of the scan's row buffer: explode then groupBy over a multi-row file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tokens_").toString
    try {
      val rnd = new scala.util.Random(11)
      val texts = Seq.fill(500)(text.pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(rnd.nextLong())))
      frame(texts).coalesce(1).write.mode("overwrite").parquet(dir)
      def counts(tok: Column => Column) = spark.read.parquet(dir)
        .select(explode(tok(col("b").cast("string"))).as("t"))
        .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val native = withConf("spark.sql.codegen.fallback" -> "false")(counts(TextFunctions.tokens))
      assert(native.nonEmpty)
      assert(native === counts(ComposedForms.tokens))
      assert(interpreted(counts(TextFunctions.tokens)) === native)
    } finally graft.pipeline.TempFiles.deleteTree(dir)
  }
}
