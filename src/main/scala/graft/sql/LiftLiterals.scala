package graft.sql

import graft.functions.expr.ParamLiteral
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryComparison, Expression, In, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}

/** Physical rule: replace the literal operands of comparisons in a
  * `FilterExec`, and a literal that is the whole value of a `ProjectExec`
  * output column, with a [[ParamLiteral]], so statements that differ only by
  * such a value generate the same Java source and reuse one compiled class
  * (Jet compiles a SQL filter once and evaluates it with the statement's
  * values, `ExpressionUtil.filterFn`).
  *
  * Scope, kept as narrow as the measured need:
  *  - comparisons are `=`, `<=>`, `<`, `<=`, `>`, `>=` (`BETWEEN` is
  *    already these) and the list of an `IN`;
  *  - no scan node is touched: Parquet pushdown, partition pruning and
  *    cache-batch stats pruning match on `Literal` in the scans' own filters;
  *  - no other parent: `Divide`, `Remainder` and the like produce code or
  *    JIT output that depends on a constant operand.
  *
  * Runs before `CollapseCodegenStages` in every physical path — non-AQE
  * preparation, each AQE query stage and streaming `IncrementalExecution` —
  * as the pre-transition hook of [[LiftLiterals.columnar]], injected by
  * [[GraftExtensions]].
  */
object LiftLiterals extends Rule[SparkPlan] {

  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = LiftLiterals
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = f.condition.transformUp {
        case b: BinaryComparison => b.mapChildren(param)
        case in: In => in.copy(list = in.list.map(param))
      }
      if (c == f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val out = p.projectList.map {
        case a @ Alias(l: Literal, _) => a.withNewChildren(Seq(param(l))).asInstanceOf[Alias]
        case e => e
      }
      if (out == p.projectList) p else p.copy(projectList = out)
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && ParamLiteral.liftable(t) => ParamLiteral(v, t)
    case other => other
  }
}
