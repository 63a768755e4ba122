package graft.sql

import graft.functions.expr.{DotProduct, MinhashSignatures, NfcNormalize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** `SparkSessionExtensions` installer exposing the engine's native codegen
  * expressions to the SQL surface (the SURVEY §4 extension ladder, rung (c):
  * register through extensions rather than UDFs — these stay codegen'd and
  * planner-visible, so they participate in whole-stage codegen, constant
  * folding, and null-intolerance reasoning exactly like built-ins).
  *
  *   spark.sql("SELECT graft_dot(a.emb, b.emb) FROM ...")
  *   spark.sql("SELECT graft_minhash(token_hashes, 12) FROM ...")
  *
  * It also injects two physical rules: [[LiftLiterals]], which keeps
  * comparison and projected literals out of generated code, so repeated
  * statement shapes reuse their compiled classes; and [[FrameFirstWindows]],
  * which aggregates a sliding `window()` per frame before the window
  * expansion, so each event is hashed once instead of size/slide times.
  *
  * Activate with `.withExtensions(new GraftExtensions)` (GraftSession does) or
  * `spark.sql.extensions=graft.sql.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectColumnar(_ => LiftLiterals.columnar)
    ext.injectColumnar(_ => FrameFirstWindows.columnar)
    ext.injectQueryStagePrepRule(_ => FrameFirstWindows)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two double arrays (codegen)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_dot(a, b) takes exactly 2 arguments")
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sqdist"),
      info("graft_sqdist",
        "graft_sqdist(a, b) - squared L2 distance of two double arrays (codegen)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_sqdist(a, b) takes exactly 2 arguments")
        graft.functions.expr.SquaredDistance(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      info("graft_minhash",
        "graft_minhash(hash_pairs, k) - k min-hash signature over an " +
          "array<struct<h1:bigint,h2:bigint>> of per-token hash pairs, one pass"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_minhash(hashes, k) takes exactly 2 arguments")
        val k = exprs(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_minhash k must be an integer literal, got $other")
        }
        MinhashSignatures(exprs.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - Unicode NFC normalization (codegen)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_nfc(s) takes exactly 1 argument")
        NfcNormalize(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_jaccard"),
      info("graft_jaccard",
        "graft_jaccard(a, b) - one-pass distinct-set Jaccard over two " +
          "bigint arrays (codegen; = size(array_intersect)/size(array_union))"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_jaccard(a, b) takes exactly 2 arguments")
        graft.functions.expr.JaccardSimilarity(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_overlap"),
      info("graft_overlap",
        "graft_overlap(a, b) - one-pass distinct-set overlap counts " +
          "struct(inter, na, nb) over two bigint arrays (codegen; containment " +
          "= inter/na or inter/nb)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_overlap(a, b) takes exactly 2 arguments")
        graft.functions.expr.SetOverlap(exprs.head, exprs(1))
      }))
    // Catalyst's own runtime-filter bloom expressions as SQL surface — the
    // prefilter→exact-confirm decontamination pattern (BloomFunctions, q90)
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg",
        "graft_bloom_agg(x, expected_items) - aggregate x into a serialized " +
          "bloom filter (xxhash64'd; probe with graft_might_contain)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_bloom_agg(x, n) takes exactly 2 arguments")
        // built through BloomFunctions so the xxhash64 pairing with
        // graft_might_contain can never drift
        graft.functions.BloomFunctions.bloomAggExpr(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain",
        "graft_might_contain(bloom, x) - bloom membership probe (no false " +
          "negatives) against a graft_bloom_agg filter"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_might_contain(bloom, x) takes exactly 2 arguments")
        graft.functions.BloomFunctions.mightContainExpr(exprs.head, exprs(1))
      }))
  }
}
