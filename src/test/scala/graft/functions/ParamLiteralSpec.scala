package graft.functions

import graft.SparkSpec
import graft.functions.expr.ParamLiteral
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** A Filter and a Project whose literals [[graft.sql.LiftLiterals]] turned
  * into [[ParamLiteral]]s give, through whole-stage codegen, exactly the
  * interpreted result — for every lifted type, edge values included.
  */
class ParamLiteralSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dayMin = -719162        // 0001-01-01
  private val dayMax = 2932896        // 9999-12-31
  private val microMin = -62135596800000000L
  private val microMax = 253402300799999999L

  /** A lifted type: the fixture column, its edge values and a value generator. */
  private case class Kind(name: String, t: DataType, column: Column, edges: Seq[Any], gen: Gen[Any])

  private val kinds = Seq(
    Kind("bo", BooleanType, col("bo"), Seq(true, false), Gen.oneOf(true, false)),
    Kind("by", ByteType, col("by"), Seq(Byte.MinValue, -1.toByte, 0.toByte, Byte.MaxValue),
      Gen.chooseNum(Byte.MinValue, Byte.MaxValue)),
    Kind("sh", ShortType, col("sh"), Seq(Short.MinValue, 0.toShort, Short.MaxValue),
      Gen.chooseNum(Short.MinValue, Short.MaxValue)),
    Kind("i", IntegerType, col("i"), Seq(Int.MinValue, -1, 0, 1, Int.MaxValue),
      Gen.chooseNum(-1000, 1000)),
    Kind("l", LongType, col("l"), Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue),
      Gen.chooseNum(-1000L, 1000L)),
    Kind("f", FloatType, col("f"), Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinPositiveValue, Float.MaxValue), Gen.chooseNum(-10f, 10f)),
    Kind("d", DoubleType, col("d"), Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -Double.MaxValue), Gen.chooseNum(-10.0, 10.0)),
    Kind("dt", DateType, col("dt"), Seq(dayMin, -1, 0, dayMax), Gen.chooseNum(-30000, 30000)),
    Kind("ts", TimestampType, col("ts"), Seq(microMin, -1L, 0L, microMax),
      Gen.chooseNum(-4000000000000000L, 4000000000000000L)),
    Kind("tn", TimestampNTZType, col("ts").cast(TimestampNTZType), Seq(microMin, -1L, 0L, microMax),
      Gen.chooseNum(-4000000000000000L, 4000000000000000L)))

  /** One parquet file, a column per kind: every edge value, a few drawn
    * ones and a null, so a file scan feeds a real codegen stage.
    */
  private lazy val table: DataFrame = {
    val rows = 24
    val rnd = new scala.util.Random(11)
    def values(k: Kind): IndexedSeq[Any] = {
      val drawn = Iterator.continually(k.gen.pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(rnd.nextLong()))).take(rows).toSeq
      (null +: (k.edges ++ drawn)).take(rows).toIndexedSeq
    }
    val cols = kinds.filter(_.name != "tn").map(k => k -> values(k))
    val base = spark.range(rows).toDF("row")
    val df = base.select(col("row") +: cols.map { case (k, vs) =>
      val c = vs.zipWithIndex.foldLeft(lit(null).cast(k.t)) { case (acc, (v, i)) =>
        if (v == null) acc
        else when(col("row") === i, literal(k, v)).otherwise(acc)
      }
      c.as(k.name)
    }: _*)
    val dir = java.nio.file.Files.createTempDirectory("graft_paramlit_").toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def literal(k: Kind, v: Any): Column = Bridge.column(Literal(v, k.t))

  /** Rows as strings, order-free: `-0.0` and NaN print distinctly. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Whether `df` gives the same rows compiled (no fallback) as
    * interpreted, and the compiled run's physical plan.
    */
  private def codegenEqualsInterpreted(df: => DataFrame): (Boolean, SparkPlan) = {
    val compiled = df
    val same = withConf("spark.sql.codegen.fallback" -> "false")(rows(compiled)) ==
      interpreted(rows(df))
    (same, compiled.queryExecution.executedPlan)
  }

  private val ops: Seq[(String, (Column, Seq[Column]) => Column)] = Seq(
    "=" -> ((c, l) => c === l.head), "<=>" -> ((c, l) => c <=> l.head),
    "<" -> ((c, l) => c < l.head), "<=" -> ((c, l) => c <= l.head),
    ">" -> ((c, l) => c > l.head), ">=" -> ((c, l) => c >= l.head),
    "in" -> ((c, l) => c.isin(l: _*)))

  test("every edge value, projected and in an IN list, through codegen == interpreted") {
    kinds.foreach { k =>
      def q = table.where(k.column.isin(k.edges.map(literal(k, _)): _*))
        .select(k.column +: k.edges.zipWithIndex.map { case (v, i) => literal(k, v).as(s"p$i") }: _*)
      val (same, plan) = codegenEqualsInterpreted(q)
      assert(same, s"${k.name}: ${k.edges}")
      val lifted = collect(plan) {
        case f: FilterExec => f.condition.exists(_.isInstanceOf[ParamLiteral])
        case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[ParamLiteral]))
      }
      assert(lifted.size == 2 && lifted.forall(identity), s"${k.name} not lifted:\n$plan")
    }
  }

  test("a comparison filter plus a projected literal, codegen == interpreted (property)") {
    val cases = for {
      k <- Gen.oneOf(kinds)
      op <- Gen.oneOf(ops)
      vs <- Gen.listOfN(3, Gen.frequency(1 -> Gen.oneOf(k.edges), 1 -> k.gen))
    } yield (k, op, vs)
    val prop = Prop.forAll(cases) { case (k, (name, op), vs) =>
      val ls = (if (name == "in") vs else vs.take(1)).map(literal(k, _))
      Prop(codegenEqualsInterpreted(
        table.where(op(k.column, ls)).select(k.column, ls.head.as("p")))._1) :|
        s"${k.name} $name $vs"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"ParamLiteral codegen vs interpreted: $res")
  }
}
