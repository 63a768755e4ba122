package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `SimilarityFunctions.dot` (the native DotProduct expression) must be
  * bit-identical to the fold reference (ComposedForms.dot, and therefore to
  * the DuckDB oracle) on both the interpreted and codegen paths.
  */
class DotProductSpec extends SparkSpec {

  import spark.implicits._

  test("dotNative == fold dot, bit-identical, on random vectors") {
    val rnd = new scala.util.Random(42)
    val data = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1), Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = data.toDF("id", "a", "b")
    val out = df.select(
      SimilarityFunctions.dot($"a", $"b").as("native"),
      ComposedForms.dot($"a", $"b").as("fold")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("dotNative participates in codegen (plan shows graft_dot inside a codegen stage)") {
    // literal inputs constant-fold to a LocalTableScan, so use a file scan
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(SimilarityFunctions.toDouble(col("embedding")).as("v"))
    val df = emb.select(SimilarityFunctions.dot(col("v"), col("v")).as("d"))
    val n = df.count()
    assert(n > 0 && df.collect().forall(_.getDouble(0) >= 0.0)) // v·v ≥ 0
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot"), s"expression missing from plan:\n$plan")
    assert(plan.contains("*(1)"), s"not inside a codegen stage:\n$plan")
  }

  test("null array propagates null") {
    val df = Seq((Some(Array(1.0)), Option.empty[Array[Double]])).toDF("a", "b")
      .select(SimilarityFunctions.dot(col("a"), col("b")).as("d"))
    assert(df.collect().head.isNullAt(0))
  }

  test("null ELEMENT returns null, matching the fold (no silent zero)") {
    val df = Seq((Seq(Some(1.0), None, Some(2.0)), Seq(Some(1.0), Some(1.0), Some(1.0))))
      .toDF("a", "b")
    val native = df.select(SimilarityFunctions.dot(col("a"), col("b")).as("d"))
      .collect().head
    val fold = df.select(ComposedForms.dot(col("a"), col("b")).as("d"))
      .collect().head
    assert(native.isNullAt(0) && fold.isNullAt(0))
  }
}
