package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.PlanCachedScans

/** Catalyst optimizer rule: rewrite the depth-overlap positivity filter
  *
  *   greatest(0, least(hzdepb, BOT) - greatest(hzdept, TOP)) > 0
  *
  * into the equivalent conjunction of simple range predicates
  *
  *   hzdepb > TOP AND hzdept < BOT
  *
  * (for literal TOP/BOT). The overlap expression itself is opaque to
  * parquet filter pushdown (a function of two columns), while the
  * rewritten per-column comparisons are pushable, so horizon scans skip
  * row groups entirely outside the requested depth slice — the Spark
  * equivalent of the reference pushing its IN-list depth predicate into
  * the FGDB cursor (F4, gSSURGO_CreateSoilMap.py:10013-10022).
  *
  * Equivalence: overlap > 0 ⇔ min(b,BOT) > max(t,TOP) ⇔
  * (b > TOP ∧ t < BOT) given t < b or, when t ≥ b (malformed horizon),
  * both sides are false ⇔ b > t ∧ b > TOP ∧ t < BOT — we conservatively
  * emit the two pushable conjuncts AND keep b > t.
  */
object DepthOverlapRule extends Rule[LogicalPlan] {

  private object OverlapGtZero {
    def unapply(e: Expression): Option[(Expression, Expression, Expression, Expression)] =
      e match {
        case GreaterThan(
          Greatest(Seq(z1, Subtract(Least(Seq(b, bot: Literal)), Greatest(Seq(t, top: Literal)), _))),
          z2) if isZero(z1) && isZero(z2) => Some((t, b, top, bot))
        case GreaterThan(
          Greatest(Seq(Subtract(Least(Seq(b, bot: Literal)), Greatest(Seq(t, top: Literal)), _), z1)),
          z2) if isZero(z1) && isZero(z2) => Some((t, b, top, bot))
        case _ => None
      }
    private def isZero(e: Expression): Boolean = e match {
      case Literal(v, _) =>
        v != null && (try v.toString.toDouble == 0.0 catch { case _: NumberFormatException => false })
      case Cast(c, _, _, _) => isZero(c)
      case _ => false
    }
  }

  private def litDouble(l: Literal): Option[Double] =
    try Option(l.value).map(_.toString.toDouble)
    catch { case _: NumberFormatException => None }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = cond.transform {
        case e @ OverlapGtZero(t, b, top: Literal, bot: Literal) =>
          // only when the slice is well-formed (BOT > TOP); otherwise the
          // original is constant-false and we leave it alone
          (litDouble(top), litDouble(bot)) match {
            case (Some(tp), Some(bt)) if bt > tp =>
              And(And(GreaterThan(b, top), LessThan(t, bot)), GreaterThan(b, t))
            case _ => e
          }
      }
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }
}

/** SparkSessionExtensions entry point:
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Installs
  * [[DepthOverlapRule]] (optimizer) and `PlanCachedScans` (AQE stage
  * preparation: scans of a filled table cache become `CachedScanExec`,
  * so exchanges above them can be reused). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DepthOverlapRule)
    e.injectQueryStagePrepRule(_ => PlanCachedScans)
  }
}
