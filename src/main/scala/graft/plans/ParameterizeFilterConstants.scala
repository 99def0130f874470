package graft.plans

import graft.expressions.CodegenParam
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}

/** Physical rule: turn the constants a `FilterExec` compares against into
  * [[graft.expressions.CodegenParam]]s, so the generated class of a
  * filtered stage depends on the request's SHAPE, not on its constants.
  *
  * Scope, each limit on purpose:
  *  - only `FilterExec` conditions — scan nodes keep their literals, so
  *    parquet `PushedFilters`, partition filters and row-group pruning see
  *    the values;
  *  - only non-null primitive, date and timestamp literals that are DIRECT
  *    operands of a `BinaryComparison` (`=`, `<=>`, `<`, `<=`, `>`, `>=`)
  *    — every other literal position (a `round` scale, a regex pattern, a
  *    format string, an `IN` list) stays a literal, because Spark's code
  *    generators specialise on foldable arguments there.
  *
  * Runs as a pre-columnar-transition rule (injected by [[GraftExtensions]]),
  * which is before `CollapseCodegenStages` both in the non-AQE
  * preparations and on AQE's per-stage path. Idempotent: a rewritten
  * condition holds no matching `Literal`.
  */
object ParameterizeFilterConstants extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transformUp {
        case c: BinaryComparison => c.mapChildren {
          case l: Literal if l.value != null &&
              CodegenParam.supports(l.dataType) => CodegenParam(l)
          case e => e
        }
      }
      // transformUp keeps whatever the rule returns, so an unchanged
      // filter must come back as the same node, not an equal copy
      if (cond eq f.condition) f else f.copy(condition = cond)
  }
}
