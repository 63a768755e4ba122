package graft.sql

import graft.SparkSpec
import graft.functions.expr.ParamLiteral
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types.DoubleType

/** [[LiftLiterals]]: statements that differ only by a comparison literal
  * reuse one generated class, and nothing that reads literals off the plan —
  * Parquet pushdown, exchange reuse, `explain` — sees a difference.
  */
class LiteralReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def orders = s"$sf/orders.parquet"

  private def byStatus(custkey: Long): DataFrame = spark.sql(
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total " +
      s"FROM parquet.`$orders` WHERE o_custkey = $custkey GROUP BY o_orderstatus")

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def keys: Seq[Long] = spark.read.parquet(orders)
    .groupBy("o_custkey").count().orderBy(org.apache.spark.sql.functions.desc("count"))
    .limit(2).collect().map(_.getLong(0)).toSeq

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  test("one parquet SELECT with two different literals compiles nothing the second time") {
    val Seq(a, b) = keys
    val first = byStatus(a)
    val firstRows = first.collect()
    val before = compiles
    val second = byStatus(b)
    val secondRows = second.collect()
    assert(compiles - before === 0, "the second literal compiled new classes")
    assert(firstRows.nonEmpty && secondRows.nonEmpty)
    assert(sorted(firstRows) === sorted(interpreted(byStatus(a).collect())))
    assert(sorted(secondRows) === sorted(interpreted(byStatus(b).collect())))
    assert(sorted(firstRows) !== sorted(secondRows))
    val conditions = collect(finalPlan(second)) { case f: FilterExec => f.condition }
    assert(conditions.exists(_.exists(_.isInstanceOf[ParamLiteral])),
      s"no lifted literal in:\n${finalPlan(second)}")
  }

  test("the scan keeps Literal in its pushed and data filters") {
    val df = byStatus(37)
    df.collect()
    val Seq(scan) = collect(finalPlan(df)) { case s: FileSourceScanExec => s }
    assert(scan.metadata("PushedFilters").contains("EqualTo(o_custkey,37)"),
      scan.metadata("PushedFilters"))
    assert(scan.dataFilters.exists(_.exists(_ == Literal(37L))), scan.dataFilters)
    assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])), scan.dataFilters)
  }

  test("aggregates that differ only by a filter literal are never merged by exchange reuse") {
    val Seq(a, b) = keys
    def both = byStatus(a).unionAll(byStatus(b))
    val expected = sorted(byStatus(a).collect() ++ byStatus(b).collect())
    Seq("true", "false").foreach { aqe =>
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val df = both
        assert(sorted(df.collect()) === expected, s"adaptive=$aqe")
        val plan = finalPlan(df)
        assert(collect(plan) { case r: ReusedExchangeExec => r }.isEmpty,
          s"adaptive=$aqe reused an exchange:\n$plan")
      }
    }
    // bitwise value equality: -0.0 and 0.0 project differently, NaN is NaN
    assert(ParamLiteral(-0.0, DoubleType) != ParamLiteral(0.0, DoubleType))
    assert(ParamLiteral(Double.NaN, DoubleType) == ParamLiteral(Double.NaN, DoubleType))
  }

  test("a point SELECT on an IMap mapping re-run with a new key compiles nothing") {
    val sql = new GraftSql(spark)
    graft.pipeline.KeyedStore.drop("lr_kv")
    sql.execute("SINK INTO lr_kv(__key) SELECT * FROM VALUES " +
      "(1L, 10L), (2L, 20L), (3L, 30L) AS t(__key, v)")
    sql.execute("CREATE OR REPLACE MAPPING lr_kv TYPE IMap " +
      "OPTIONS ('keyFormat'='bigint', 'valueFormat'='json-flat')")
    def point(key: Long): Seq[Row] =
      sql.execute(s"SELECT __key, v FROM lr_kv WHERE __key = $key").collect().toSeq
    assert(point(1) === Seq(Row(1L, 10L)))
    val before = compiles
    assert(point(3) === Seq(Row(3L, 30L)))
    assert(compiles - before === 0, "the second key compiled new classes")
    graft.pipeline.KeyedStore.drop("lr_kv")
  }

  test("explain shows the literal text, never ParamLiteral") {
    val df = byStatus(37)
    df.collect()
    val text = df.queryExecution.explainString(FormattedMode)
    assert(text.contains("(o_custkey#") && text.contains(" = 37)"), text)
    assert(!text.toLowerCase.contains("paramliteral"), text)
  }
}
