package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge

/** expr.ArgminSqDist (KMeansLite's r20 native assignment) must be
  * bit-identical to the literal struct-argmin tree it replaces — that tree is
  * what every k-means oracle (q65/q81/q109/q112/q178's unrolled SQL layers)
  * replays. Pins: fixture equality on real embeddings, the lowest-cid tie
  * rule, the null contract, and codegen compilation with fallback disabled
  * (the Md5HalfSpec lesson: a planned codegen stage can silently run
  * interpreted).
  */
class ArgminSqDistSpec extends SparkSpec {

  import spark.implicits._

  private def literalArgmin(vecCol: Column, cents: Array[Array[Double]]): Column = {
    val scored = cents.indices.map { c =>
      val cv = array(cents(c).map(lit): _*)
      val d = graft.functions.SimilarityFunctions.sqDist(vecCol, cv)
      struct(d.as("d"), lit(c).as("cid"))
    }
    array_min(array(scored: _*)).getField("cid")
  }

  private def nativeArgmin(vecCol: Column, cents: Array[Array[Double]]): Column =
    Bridge.column(graft.functions.expr.ArgminSqDist(
      Bridge.expression(vecCol.cast("array<double>")), cents))

  test("ArgminSqDist == literal struct-argmin on fixture embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // centroids = the id-ordered init KMeansLite uses
    val cents = emb.select($"vec_id", $"embedding").orderBy($"vec_id").limit(8)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val rows = emb.select(
      nativeArgmin($"embedding", cents).as("n"),
      literalArgmin($"embedding", cents).as("l")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("ties keep the LOWEST cid (the (d, cid)-ascending struct-argmin rule)") {
    val cents = Array(Array(1.0, 0.0), Array(-1.0, 0.0), Array(1.0, 0.0))
    // (0,0) is equidistant to all three -> cid 0; (0.9,0) nearest to 0 and 2
    // (identical centroids) -> cid 0; (-0.9,0) -> cid 1
    val df = Seq(Seq(0.0, 0.0), Seq(0.9, 0.0), Seq(-0.9, 0.0)).toDF("v")
    val got = df.select(nativeArgmin($"v", cents).as("n"),
      literalArgmin($"v", cents).as("l")).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(0, 0, 1))
    got.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("null array -> null; compiles under codegen with fallback disabled") {
    // null contract (a local frame constant-folds to LocalTableScan — fine
    // here, the interpreted eval IS the path a driver-side fold would take)
    val cents2 = Array(Array(0.0), Array(1.0))
    val nullRows = Seq(Some(Seq(0.6)), None).toDF("v")
      .select(nativeArgmin($"v", cents2).as("n")).collect()
    assert(nullRows(0).getInt(0) === 1)
    assert(nullRows(1).isNullAt(0))
    // codegen compilation pin needs a REAL scan (Md5HalfSpec lesson): a
    // planned codegen stage can silently run interpreted unless fallback is
    // disabled — and a LocalTableScan plan has no codegen stage to pin
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val cents = emb.select($"vec_id", $"embedding").orderBy($"vec_id").limit(4)
        .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
      val df = emb.select(nativeArgmin($"embedding", cents).as("n"))
      val rows = df.collect()
      assert(rows.nonEmpty)
      val lit0 = emb.select(literalArgmin($"embedding", cents).as("l")).collect()
      assert(rows.map(_.getInt(0)).toSeq === lit0.map(_.getInt(0)).toSeq)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_argmin_sqdist"), s"missing from plan:\n$plan")
      assert(plan.contains("*(1)"), s"not inside a codegen stage:\n$plan")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("KMeansLite.fit native path == literal struct-argmin trajectory (same fixture)") {
    // fit's NATIVE assignment must reproduce the literal argmin column
    // applied to the SAME final centroids — the per-iteration means then
    // agree because they are a deterministic function of assignments (8-dp
    // rounded avgs)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val (assigned, cents) = KMeansLite.fit(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    val lit0 = emb.select($"vec_id",
      literalArgmin($"embedding", cents).as("cluster_lit"))
    val joined = assigned.join(lit0, "vec_id").collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getInt(1) === r.getInt(2),
      s"vec ${r.get(0)}: native ${r.getInt(1)} vs literal ${r.getInt(2)}"))
  }
}
