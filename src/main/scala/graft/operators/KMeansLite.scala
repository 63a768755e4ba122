package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge

/** Distributed k-means over fixed-width double vectors — the learned coarse
  * quantizer for the IVF search path (q44 uses label cells; this trains real
  * cells). Deliberately "lite" and fully deterministic so it can be
  * differentially tested against another engine:
  *
  *  - init: the k vectors with the smallest ids (no RNG);
  *  - fixed iteration count (no convergence-threshold float compares);
  *  - centroids rounded to 8 decimals after every recompute, absorbing the
  *    1-ulp cross-row avg order differences that would otherwise drift the
  *    next assignment. Caveat (known, accepted): rounding is a mitigation,
  *    not a proof — a mean landing within 1 ulp of a rounding boundary, or
  *    coordinates ≥ ~1e8 (where 1 ulp > 1e-8), could still flip a digit
  *    between engines. Unit-scale embedding inputs sit far from both edges;
  *    a guaranteed-deterministic mean would need order-independent summation
  *    (scaled-integer or sorted sums) at real cost per iteration.
  *
  * Execution shape: centroids live on the driver (k·dims doubles — same
  * approach as Spark MLlib KMeans) and enter the plan as the referenced
  * object of ONE native argmin expression (expr.ArgminSqDist), so each
  * iteration is ONE distributed pass: a codegen'd argmin projection + one
  * hash-agg shuffle for the per-dim means. Dataset size never hits the driver.
  * The generated source is identical across iterations, so the codegen cache
  * compiles the assignment once per fit instead of once per iteration, as a
  * k·dims literal tree would (−11% to −41% warm across the k-means family,
  * OPTIMIZATION_r20.md C2); ArgminSqDistSpec pins bit-equality to that
  * literal struct-argmin form.
  */
object KMeansLite {

  /** Index of the nearest centroid by squared L2, lowest index on ties. */
  private def argmin(vec: Column, cents: Array[Array[Double]]): Column =
    Bridge.column(graft.functions.expr.ArgminSqDist(Bridge.expression(vec), cents))

  /** @return (assignments DataFrame (idCol, cluster), final centroids) */
  def fit(df: DataFrame, idCol: String, vecCol: String,
          k: Int, iters: Int): (DataFrame, Array[Array[Double]]) = {
    val vecs = df.select(col(idCol), col(vecCol))
    var centroids: Array[Array[Double]] = vecs.orderBy(col(idCol)).limit(k)
      .collect().map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)

    def assignExpr = argmin(col(vecCol).cast("array<double>"), centroids)

    for (_ <- 1 to iters) {
      val assigned = vecs.withColumn("__c", assignExpr)
      val means = assigned
        .select(col("__c"), posexplode(transform(col(vecCol), x => x.cast("double")))
          .as(Seq("__i", "__x")))
        .groupBy(col("__c"), col("__i")).agg(round(avg(col("__x")), 8).as("__m"))
        .groupBy(col("__c"))
        .agg(transform(array_sort(collect_list(struct(col("__i"), col("__m")))),
          e => e("__m")).as("__cv"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices.map(c => means.getOrElse(c, centroids(c))).toArray
    }
    (vecs.withColumn("cluster", assignExpr).select(col(idCol), col("cluster")), centroids)
  }

  /** Assignment against FROZEN centroids as a primitive per-partition kernel
    * (r18, the two-level SemDeDup escape's full-corpus pass). BIT-IDENTICAL
    * to [[fit]]'s Catalyst assignment: [[graft.functions.expr.SquaredDistance]]
    * accumulates `s += (x-y)*(x-y)` over ascending dims — exactly this
    * loop — and the (d, cid)-ascending struct-argmin keeps the LOWEST cid on
    * ties, which a strict `<` over an ascending cid scan reproduces. The
    * expression path materializes k structs + an array per ROW for the
    * argmin, which profiled ~100× the arithmetic at 90 centroids × 2M rows
    * (the r18 1000×-rung diagnostic); this kernel is the flops. The Catalyst
    * path remains [[fit]]'s (its unrolled-SQL oracles replay it at gate k).
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             cents: Array[Array[Double]]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < cs.length) {
            val cv = cs(c)
            var d = 0.0
            var i = 0
            while (i < cv.length) { val x = v(i) - cv(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          (id, best)
        }
      }.toDF(idCol, "cluster")
  }

  /** Product-quantizer fit: M independent per-subspace k-means trained in ONE
    * corpus pass per iteration instead of M. Each subspace's trajectory is
    * BIT-IDENTICAL to running [[fit]] on its slice (same id-ordered init over
    * the sliced rows, same raw-distance (d, cid) struct-argmin, same
    * 8-decimal per-recompute rounding, same empty-cluster carry-over), so a
    * differential oracle written against M independent trainings still
    * verifies this fused path. The fusion is the 100 TB argument: per
    * iteration the corpus is scanned once with all M argmins evaluated
    * row-locally, and the single means aggregation is keyed on
    * (subspace, code, dim) — M·k·dims output rows, driver-tiny.
    *
    * @return (codes frame (idCol, m, code) — one row per (vector, subspace),
    *          codebooks indexed [m][code][dim])
    */
  def fitProduct(df: DataFrame, idCol: String, vecCol: String,
                 m: Int, sub: Int, k: Int, iters: Int)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    val vecs = df.select(col(idCol), col(vecCol))
    val initRows: Array[Array[Double]] = vecs.orderBy(col(idCol)).limit(k)
      .collect().map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mm => initRows.map(_.slice(mm * sub, (mm + 1) * sub)))

    // same native argmin as fit's assignExpr: one compiled stage per
    // iteration loop instead of m·k·sub fresh literals per iteration
    def codeExpr(mm: Int) = argmin(
      transform(slice(col(vecCol), mm * sub + 1, sub), x => x.cast("double")), books(mm))
    def codesLong = vecs.select(col(idCol), col(vecCol),
      posexplode(array((0 until m).map(mm => codeExpr(mm)): _*)).as(Seq("m", "code")))

    for (_ <- 1 to iters) {
      val means = codesLong
        .withColumn("__sv", transform(
          slice(col(vecCol), col("m") * lit(sub) + lit(1), lit(sub)), x => x.cast("double")))
        .select(col("m"), col("code"), posexplode(col("__sv")).as(Seq("__i", "__x")))
        .groupBy(col("m"), col("code"), col("__i"))
        .agg(round(avg(col("__x")), 8).as("__m"))
        .groupBy(col("m"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("__i"), col("__m")))),
          e => e("__m")).as("__cv"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      books = Array.tabulate(m)(mm =>
        books(mm).indices.map(c => means.getOrElse((mm, c), books(mm)(c))).toArray)
    }
    (codesLong.select(col(idCol), col("m"), col("code")), books)
  }
}
