package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Jet aggregate-operation vocabulary (reference: aggregate/
  * AggregateOperations.java, 1897 LoC) re-expressed as named Spark aggregate
  * columns. A Jet `AggregateOperation` is createFn/accumulateFn/combineFn/
  * exportFn — Spark's partial/final hash aggregation implements exactly that
  * contract for every built-in below (SURVEY.md §2.6), with codegen and spill
  * that the reference lacks.
  *
  * An `AggOp` is a bag of named aggregate columns; `allOf` composition is just
  * concatenation — they all evaluate in one pass over the group, like Jet's
  * `allOf` composite accumulator.
  */
final case class AggOp(columns: Seq[Column]) {
  /** Jet `allOf` (AggregateOperations.java:1337): fuse with another op — both
    * evaluate in the same aggregation pass.
    */
  def and(other: AggOp): AggOp = AggOp(columns ++ other.columns)
}

object AggregateOperations {

  private def one(c: Column): AggOp = AggOp(Seq(c))

  /** Rewrite every aggregate function inside `op` to accumulate only rows
    * matching `cond` (SQL `FILTER (WHERE cond)` on the AggregateExpression).
    * This is what lets two co-aggregated inputs share one windowed hash
    * aggregation in `StreamStageWithKey.aggregate2`: each op sees only its
    * side's rows, exactly like Jet's per-input accumulate functions on a
    * two-input vertex (AggregateOperation2, accumulateFn0/accumulateFn1).
    * Composed expressions (e.g. `round(sum(x), 4)`) are handled by
    * transforming the tree — every AggregateExpression node gets the filter;
    * an existing filter is AND-combined.
    */
  def sideFiltered(op: AggOp, cond: Column): Seq[Column] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
    import org.apache.spark.sql.graftops.Bridge

    // a pre-analysis function call is aggregate iff a registry resolves its
    // name to an AggregateFunction class (covers the whole AggOp vocabulary;
    // scalar wrappers like round(sum(x), 4) are correctly left untouched).
    // The SESSION registry (and, for metastore-persistent functions, the
    // session catalog) is consulted after the builtins so that
    // session-registered aggregates (spark.udf.register of a udaf) get the
    // side filter too. A name the session knows NOTHING about fails LOUDLY —
    // silently leaving it unfiltered would make a coAggregate over it
    // accumulate BOTH inputs' rows, a wrong result with no error (and an
    // unknown name can never analyze successfully downstream anyway). With
    // no active session to ask, the builtin-only round-4 behavior applies
    // (non-builtins left untouched) rather than failing work on other
    // threads.
    def classIsAgg(info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo): Boolean =
      try classOf[AggregateFunction].isAssignableFrom(Class.forName(info.getClassName))
      catch { case _: Throwable => false }
    def isAggCall(f: UnresolvedFunction): Boolean = f.nameParts.lastOption.exists { n =>
      val id = FunctionIdentifier(n.toLowerCase)
      val builtin = FunctionRegistry.builtin.lookupFunction(id).map(classIsAgg)
      val session = org.apache.spark.sql.SparkSession.getActiveSession
      builtin
        .orElse(session.flatMap(s => Bridge.sessionFunctionIsAggregate(s, id, f.arguments)))
        .getOrElse {
          if (session.isEmpty) false // no session to ask — leave non-builtins untouched
          else throw new IllegalArgumentException(
            s"sideFiltered: function '$n' is in neither the builtin registry, " +
              "the session registry, nor the session catalog — cannot prove it " +
              "scalar vs aggregate, and an unfiltered aggregate in a " +
              "co-aggregation would silently mix both inputs' rows. Register " +
              "the function on the session first.")
        }
    }
    val condExpr = Bridge.catalystExpression(cond)
    def and(existing: Option[Expression]): Option[Expression] =
      Some(existing.fold(condExpr)(f => CAnd(f, condExpr)))
    op.columns.map { c =>
      val rewritten = Bridge.catalystExpression(c).transform {
        // typed udaf path (Aggregator columns are already AggregateExpressions)
        case ae: AggregateExpression => ae.copy(filter = and(ae.filter))
        // functions._ path: still unresolved by name at this point
        case f: UnresolvedFunction if isAggCall(f) =>
          f.copy(filter = and(f.filter))
      }
      Bridge.column(rewritten)
    }
  }

  /** counting (AggregateOperations.java:94) */
  def counting(as: String = "count"): AggOp = one(count(lit(1)).as(as))

  /** summingLong / summingDouble (:126/:158) */
  def summingLong(c: Column, as: String = "sum"): AggOp =
    one(sum(c.cast("long")).as(as))
  def summingDouble(c: Column, as: String = "sum"): AggOp =
    one(sum(c.cast("double")).as(as))

  /** averagingLong (:364) */
  def averaging(c: Column, as: String = "avg"): AggOp = one(avg(c).as(as))
  def averagingLong(c: Column, as: String = "avg"): AggOp =
    one(avg(c.cast("long")).as(as))

  /** Jet `mapping` (:882): transform each item before the downstream op.
    * Catalyst does this natively — ANY expression can be an aggregate's
    * input — so this is pure name parity: `mapping(c, f)(summingLong(_))`
    * ≡ `summingLong(f(c))`, and both stay in the same codegen'd pass.
    */
  def mapping(c: Column, f: Column => Column)(op: Column => AggOp): AggOp =
    op(f(c))

  /** Jet `flatMapping` (:919): each item expands to MANY downstream items.
    * `expand` must yield an ARRAY column per row; `fold` reduces the
    * group's flattened elements (e.g. `size(_)` for counting,
    * `aggregate(_, lit(0L), (a, x) => a + x)` for summing). The group's
    * expansions collect into one array before the fold — group-bound
    * memory, the same bound as Jet's accumulator and as [[groupingByToList]];
    * for unbounded groups explode upstream instead (the planner-visible
    * form, one shuffle, no per-group array).
    */
  def flatMapping(c: Column, expand: Column => Column,
                  fold: Column => Column, as: String = "flat_mapped"): AggOp =
    one(fold(flatten(collect_list(expand(c)))).as(as))

  /** minBy / maxBy (:200/:237): argmin/argmax of `value` ordered by `by`.
    * Pass a `struct(...)` as `by` for deterministic tie-breaks.
    */
  def minBy(value: Column, by: Column, as: String = "min_by"): AggOp =
    one(min_by(value, by).as(as))
  def maxBy(value: Column, by: Column, as: String = "max_by"): AggOp =
    one(max_by(value, by).as(as))

  /** topN / bottomN (:279/:333): greatest/least `n` values of `c`.
    *
    * Implementation is `slice(sort_array(collect_list(..)))` — correct for
    * modest group sizes (the Jet accumulator is also heap-bound). For large or
    * skewed groups prefer the shuffle-bounded window form
    * (`BatchStage.topNPerKey`), which never materializes the whole group.
    */
  def topN(n: Int, c: Column, as: String = "top_n"): AggOp =
    one(slice(reverse(sort_array(collect_list(c))), 1, n).as(as))
  def bottomN(n: Int, c: Column, as: String = "bottom_n"): AggOp =
    one(slice(sort_array(collect_list(c)), 1, n).as(as))

  /** linearTrend (:471): least-squares slope. Computed as
    * covar_pop(x,y)/var_pop(x) — Spark's central-moment aggregates use the
    * numerically stable incremental (Welford/Chan) form, unlike the raw
    * moment-sum formula `(n·Σxy − Σx·Σy)/(n·Σxx − (Σx)²)`, which cancels
    * catastrophically when x's magnitude dwarfs its spread (e.g. raw unix
    * timestamps spanning an hour lose ALL significant digits in the
    * denominator). Same single pass, same two-phase plan.
    */
  def linearTrend(x: Column, y: Column, as: String = "trend"): AggOp =
    one((covar_pop(x.cast("double"), y.cast("double")) /
      var_pop(x.cast("double"))).as(as))

  /** concatenating (:500) */
  def concatenating(c: Column, sep: String = "", as: String = "concat"): AggOp =
    one(array_join(collect_list(c.cast("string")), sep).as(as))

  /** mapping/flatMapping input adapters (:605/:707) are pre-transforms in
    * Spark: `mapping(fn, op)` IS `op(fn(c))` (ops take columns), and
    * flatMapping is an `explode` on the stage before aggregating — both
    * compose in-plan with no combinator needed. `filtering` and `groupingBy`
    * are NOT trivial compositions; they are first-class below.
    */

  /** filtering (:653): the downstream op accumulates only rows matching
    * `cond`, in the SAME aggregation pass (SQL `FILTER (WHERE ...)` on every
    * aggregate in the op — the coAggregate side-filter machinery). Unlike a
    * stage-level `.filter`, other ops fused via `allOf` still see every row.
    */
  def filtering(cond: Column, op: AggOp): AggOp = AggOp(sideFiltered(op, cond))

  /** groupingBy (:1026/:1067): map from key to a per-key aggregate of the group, in
    * ONE aggregation pass (one collect + in-expression fold) — Jet's default
    * `toList` downstream and the common `counting` downstream. NULL keys are
    * dropped (Spark map keys cannot be null; same documented divergence as
    * [[toMap]]). The final-expression cost is O(distinct-keys × items) per
    * group — the Jet accumulator is likewise group-bound; for huge groups
    * prefer a real two-level `groupBy` with a second key column.
    */
  /** Jet `groupingBy(keyFn)` (:1026) — the default `toList` downstream;
    * name-parity alias of [[groupingByToList]].
    */
  def groupingBy(k: Column, v: Column, as: String = "grouped"): AggOp =
    groupingByToList(k, v, as)

  def groupingByToList(k: Column, v: Column, as: String = "grouped"): AggOp = {
    val entries = collect_list(when(k.isNotNull, struct(k.as("k"), v.as("v"))))
    one(map_from_entries(
      transform(array_distinct(transform(entries, _.getField("k"))),
        key => struct(key,
          transform(filter(entries, e => e.getField("k") === key),
            e => e.getField("v"))))).as(as))
  }

  def groupingByCounting(k: Column, as: String = "grouped_counts"): AggOp = {
    val ks = collect_list(when(k.isNotNull, k))
    one(map_from_entries(transform(array_distinct(ks),
      key => struct(key, size(filter(ks, x => x === key)).cast("long")))).as(as))
  }

  /** toList / toSet (:784/:804) */
  def toList(c: Column, as: String = "list"): AggOp = one(collect_list(c).as(as))
  def toSet(c: Column, as: String = "set"): AggOp =
    one(array_sort(collect_set(c)).as(as))

  /** sorting (:1286): ascending list of the group's values. */
  def sorting(c: Column, as: String = "sorted"): AggOp =
    one(sort_array(collect_list(c)).as(as))

  /** toMap (:844): key/value pairs to a map column; duplicate keys keep the
    * greatest value deterministically (Jet's merge-fn variant with `max`):
    * entries are sorted, then only the last entry of each key run survives.
    * NULL keys are dropped (Spark map keys cannot be null — a raw
    * map_from_entries would fail the whole job; Jet's HashMap accepts one
    * null key, a documented divergence).
    */
  def toMap(k: Column, v: Column, as: String = "map"): AggOp = {
    val entries = array_sort(collect_list(when(k.isNotNull, struct(k.as("k"), v.as("v")))))
    val deduped = filter(entries, (e, i) =>
      coalesce(try_element_at(entries, i + lit(2)).getField("k") =!= e.getField("k"), lit(true)))
    one(map_from_entries(deduped).as(as))
  }

  /** pickAny (:1259) */
  def pickAny(c: Column, as: String = "any"): AggOp = one(any_value(c).as(as))

  /** reducing (:1209): fold the group's values with an associative SQL
    * expression via Spark's `reduce` over the collected array. For true
    * constant-memory reduction use a typed `Aggregator` (see
    * `graft.pipeline.typed.TypedAggs`).
    */
  def reducing(c: Column, zero: Column, merge: (Column, Column) => Column,
               as: String = "reduced"): AggOp =
    one(reduce(collect_list(c), zero, merge).as(as))

  /** allOf (:1337, :1419): compose any number of ops into one pass. The
    * varargs form IS the `allOfBuilder` — Jet's builder exists to thread
    * Java tag types through; Scala varargs + named columns need none.
    */
  def allOf(ops: AggOp*): AggOp = AggOp(ops.flatMap(_.columns))

  /** Jet `allOfBuilder` (AllOfAggregationBuilder): fluent `allOf` for
    * arities past 3 — `add` any number of ops, `build()` fuses them into
    * one aggregation pass.
    */
  def allOfBuilder(): AllOfBuilder = new AllOfBuilder(Vector.empty)

  final class AllOfBuilder private[AggregateOperations] (ops: Vector[AggOp]) {
    def add(op: AggOp): AllOfBuilder = new AllOfBuilder(ops :+ op)
    def build(): AggOp = AggOp(ops.flatMap(_.columns))
  }
}
