package graft.sql

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, CaseWhen, CreateNamedStruct, Expression, KnownNullable, LessThan, Literal, PreciseTimestampConversion, Remainder, Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Partial, PartialMerge}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, ExpandExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types.LongType

/** Physical rule: aggregate a sliding `window(ts, size, slide)` per frame
  * before the window expansion, the way Jet does (`accumulateByFrameP` +
  * `combineToSlidingWindowP`, SlidingWindowP.java). Spark's `TimeWindowing`
  * copies every event into size/slide windows with an `Expand` and only then
  * runs the map-side partial aggregate, so each event is hashed size/slide
  * times. This rule rewrites that map side
  *
  * {{{
  *   HashAggregate(Partial, keys = [window, k…])
  *   +- [Project]
  *      +- Expand(window_0 … window_{n-1})
  * }}}
  *
  * into
  *
  * {{{
  *   HashAggregate(PartialMerge, keys = [window, k…])   same output as before
  *   +- Expand(window_i(frame), k…, buffers…)           over frame partials
  *      +- HashAggregate(Partial, keys = [frame, k…])   one hash per event
  *         +- Project(frame, …)
  * }}}
  *
  * following the two-step shape of Spark's `AggUtils`. Its output is the
  * original partial's output, so the exchange, the state operators and the
  * streaming state schema above it do not change.
  *
  * The frame is projection 0's `window.start` in microseconds. Spark computes
  * window i as `ts − pmod(ts − start, slide) − i·slide`, and that value is its
  * own frame, so substituting the frame for ts is exact for any start offset.
  *
  * The rule fires only when all of these hold, and leaves the plan untouched
  * otherwise:
  *  - the `Expand` projections are exactly Spark's sliding-window structs
  *    with size = n·slide, so no frame straddles a window and no `Filter`
  *    over ts sits above the `Expand` (Spark adds one when size % slide ≠ 0);
  *  - no aggregate of the query is DISTINCT, and no aggregate input, FILTER
  *    clause or grouping expression other than the window reads the window
  *    column; a FILTER stays in the inner Partial step;
  *  - every moved expression is deterministic.
  *
  * [[GraftExtensions]] injects it twice: as the pre-transition hook of
  * [[FrameFirstWindows.columnar]], so it runs in every non-adaptive physical
  * path including each streaming `IncrementalExecution`, and as an adaptive
  * query-stage preparation rule, so a batch plan shows the frame step before
  * execution (`explain`, `Plans.fingerprint`). It is idempotent.
  */
object FrameFirstWindows extends Rule[SparkPlan] {

  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = FrameFirstWindows
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case agg: HashAggregateExec => rewrite(agg).getOrElse(agg)
  }

  /** `ts − pmod(ts − start, slide)` as `TimeWindowing` writes it; yields the slide. */
  private object LastStart {
    def unapply(e: Expression): Option[Long] = e match {
      case Subtract(PreciseTimestampConversion(ts, _, LongType),
          CaseWhen(Seq((LessThan(r, Literal(zero: Number, _)), Add(r2, Literal(slide: Long, _), _))),
            Some(r3)), _) if zero.longValue == 0 && r == r2 && r == r3 => r match {
        case Remainder(Subtract(PreciseTimestampConversion(ts2, _, LongType), Literal(_: Long, _), _),
            Literal(s: Long, _), _) if s == slide && slide > 0 && ts2 == ts => Some(slide)
        case _ => None
      }
      case _ => None
    }
  }

  /** One sliding-window struct of an `Expand` projection:
    * `named_struct(start, ls − off, end, ls − off + size)`, as
    * (ls, slide, off, size).
    */
  private object WindowStruct {
    def unapply(e: Expression): Option[(Expression, Long, Long, Long)] = e match {
      case c @ CreateNamedStruct(Seq(_,
          KnownNullable(PreciseTimestampConversion(
            Subtract(ls @ LastStart(slide), Literal(off: Long, _), _), LongType, _)),
          _,
          KnownNullable(PreciseTimestampConversion(
            Add(Subtract(ls2, Literal(off2: Long, _), _), Literal(size: Long, _), _), LongType, _))))
          if c.names.map(_.toString) == Seq("start", "end") && ls == ls2 && off == off2 =>
        Some((ls, slide, off, size))
      case _ => None
    }
  }

  /** The sliding windows of an `Expand`: (output index of the window column,
    * last-start expression, the window expressions). None unless every other
    * column passes a child attribute through unchanged and the windows are
    * exactly n aligned slides covering size = n·slide.
    */
  private def slidingWindows(e: ExpandExec): Option[(Int, Expression, Seq[Expression])] = {
    val varying = e.output.indices.filter(j => e.projections.map(_(j)).distinct.size > 1)
    val passThrough = e.output.indices.filterNot(varying.contains).forall { j =>
      e.projections.head(j) match {
        case a: Attribute => a.exprId == e.output(j).exprId
        case _ => false
      }
    }
    varying match {
      case Seq(w) if passThrough && e.projections.size >= 2 =>
        val windows = e.projections.map(_(w))
        val parsed = windows.flatMap(WindowStruct.unapply)
        parsed.headOption.collect {
          case (ls, slide, _, size) if parsed.size == windows.size &&
              parsed.forall(p => p._1.semanticEquals(ls) && p._2 == slide && p._4 == size) &&
              parsed.map(_._3) == parsed.indices.map(_ * slide) &&
              size == parsed.size * slide => (w, ls, windows)
        }
      case _ => None
    }
  }

  /** Whether the logical aggregate this node was planned from has a DISTINCT
    * aggregate (its map-side partial no longer says so); true when unknown.
    */
  private def mayBeDistinct(p: SparkPlan): Boolean =
    p.logicalLink.forall(_.expressions.exists(_.exists {
      case ae: AggregateExpression => ae.isDistinct
      case _ => false
    }))

  private def rewrite(agg: HashAggregateExec): Option[SparkPlan] = {
    val (project, expand) = agg.child match {
      case p @ ProjectExec(_, e: ExpandExec) => (Some(p), e)
      case e: ExpandExec => (None, e)
      case _ => return None
    }
    val mapSidePartial = agg.requiredChildDistributionExpressions.isEmpty &&
      agg.aggregateExpressions.forall(_.mode == Partial)
    if (!mapSidePartial || mayBeDistinct(agg)) return None
    val (w, lastStart, windows) = slidingWindows(expand).getOrElse(return None)
    val windowAttr = expand.output(w)
    def isWindow(e: Expression) = e match {
      case a: Attribute => a.exprId == windowAttr.exprId
      case _ => false
    }
    // what the frame step computes below the Expand: the projected columns,
    // the other grouping keys and the aggregates with their FILTER clauses
    val below = project.map(_.projectList).getOrElse(expand.output).filterNot(isWindow)
    val keys = agg.groupingExpressions.filterNot(isWindow)
    val moved = below ++ keys ++ agg.aggregateExpressions
    if (agg.groupingExpressions.count(isWindow) != 1 ||
      !moved.forall(e => e.deterministic && !e.references.contains(windowAttr)) ||
      !below.forall(_.references.subsetOf(expand.child.outputSet))) return None

    val frame = Alias(lastStart, "frame")()
    val buffers = agg.aggregateExpressions.flatMap(_.aggregateFunction.inputAggBufferAttributes)
    val framePartial = agg.copy(
      groupingExpressions = frame.toAttribute +: keys,
      resultExpressions = (frame.toAttribute +: keys.map(_.toAttribute)) ++ buffers,
      child = ProjectExec(frame +: below, expand.child))
    val grouping = agg.groupingExpressions.map(_.toAttribute)
    val windowExpand = ExpandExec(
      windows.map { win =>
        val ofFrame = win.transformDown { case e if e.semanticEquals(lastStart) => frame.toAttribute }
        grouping.map(g => if (isWindow(g)) ofFrame else g) ++ buffers
      },
      grouping ++ buffers,
      framePartial)
    val merges = agg.aggregateExpressions.map(_.copy(mode = PartialMerge, filter = None))
    val merged = HashAggregateExec(
      requiredChildDistributionExpressions = None,
      isStreaming = agg.isStreaming,
      numShufflePartitions = agg.numShufflePartitions,
      groupingExpressions = grouping,
      aggregateExpressions = merges,
      aggregateAttributes = merges.map(_.resultAttribute),
      initialInputBufferOffset = grouping.length,
      resultExpressions = agg.resultExpressions,
      child = windowExpand)
    agg.logicalLink.foreach(merged.setLogicalLink)
    Some(merged)
  }
}
