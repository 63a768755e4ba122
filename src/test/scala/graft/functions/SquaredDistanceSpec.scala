package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `SimilarityFunctions.sqDist` (the native SquaredDistance expression) must
  * be bit-identical to the fold reference (ComposedForms.sqDist, and
  * therefore to the DuckDB oracle replays) on both the interpreted and
  * codegen paths — the same contract DotProductSpec pins for its sibling.
  */
class SquaredDistanceSpec extends SparkSpec {

  import spark.implicits._

  test("sqDistNative == fold sqDist, bit-identical, on random vectors") {
    val rnd = new scala.util.Random(42)
    val data = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = data.toDF("id", "a", "b")
    val out = df.select(
      SimilarityFunctions.sqDist($"a", $"b").as("native"),
      ComposedForms.sqDist($"a", $"b").as("fold")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("sqDistNative participates in codegen (file-scan input, plan shows graft_sqdist)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(SimilarityFunctions.toDouble(col("embedding")).as("v"))
    val df = emb.select(SimilarityFunctions.sqDist(col("v"), col("v")).as("d"))
    assert(df.collect().forall(_.getDouble(0) == 0.0)) // d(v, v) = 0
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sqdist"), s"expression missing from plan:\n$plan")
    assert(plan.contains("*(1)"), s"not inside a codegen stage:\n$plan")
  }

  test("ARRAY<FLOAT> inputs keep working (the cast restores the fold's coercion)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet") // embedding: array<float>
    val df = emb.select(
      SimilarityFunctions.sqDist(col("embedding"), col("embedding")).as("d"))
    assert(df.collect().forall(_.getDouble(0) == 0.0))
  }

  test("null array and length mismatch propagate null; null ELEMENT matches the fold") {
    val df0 = Seq((Some(Array(1.0)), Option.empty[Array[Double]])).toDF("a", "b")
      .select(SimilarityFunctions.sqDist(col("a"), col("b")).as("d"))
    assert(df0.collect().head.isNullAt(0))
    val dfLen = Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
      .select(SimilarityFunctions.sqDist(col("a"), col("b")).as("d"))
    assert(dfLen.collect().head.isNullAt(0))
    val dfNullEl = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(1.0)))).toDF("a", "b")
    val native = dfNullEl
      .select(SimilarityFunctions.sqDist(col("a"), col("b")).as("d"))
      .collect().head
    val fold = dfNullEl
      .select(ComposedForms.sqDist(col("a"), col("b")).as("d"))
      .collect().head
    assert(native.isNullAt(0) && fold.isNullAt(0))
  }
}
