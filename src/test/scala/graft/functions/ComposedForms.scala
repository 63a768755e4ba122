package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed-builtin forms the engine's native expressions replaced —
  * kept as the semantic references the native specs compare against.
  * Production code runs only the native forms (graft.functions.expr); each
  * form here is what the DuckDB oracles replay, so native == composed on
  * every input shape is what keeps the gate oracle-exact.
  */
object ComposedForms {

  /** Lowercase, regex split, drop empties (Tokens' reference; the oracles'
    * `list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')`).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Left-to-right fold of x·y (DotProduct's reference). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Left-to-right fold of (x − c)² (SquaredDistance's reference). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, v) => acc + v)

  /** Distinct-set Jaccard from two hash-set builds plus two materialized
    * arrays per pair, NULL arrays gated to NULL (JaccardSimilarity's
    * reference). Accepts any array element type.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** struct(inter, na, nb) distinct counts from three set builds, NULL
    * arrays gated to NULL (SetOverlap's reference).
    */
  def setOverlap(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(null))
      .otherwise(struct(
        size(array_intersect(a, b)).as("inter"),
        size(array_distinct(a)).as("na"),
        size(array_distinct(b)).as("nb")))

  /** `h` MinHash samples, one `array_min(transform(...))` pass each:
    * sample i = min over pairs of pmod(h1 + i·h2, P) (MinhashSignatures'
    * reference).
    */
  def minhashSignature(pairs: Column, h: Int): Column =
    array((0 until h).map { i =>
      array_min(transform(pairs, pr =>
        pmod(pr.getField("h1") + lit(i.toLong) * pr.getField("h2"), lit(4294967311L))))
    }: _*)
}
