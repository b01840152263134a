package graft.plans

import graft.functions.JaroWinkler
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: derive a cheap length-ratio prefilter from a
  * Jaro-Winkler threshold predicate.
  *
  * For any strings, m ≤ min(|a|,|b|) matches bound the Jaro similarity by
  * j ≤ (min/|a| + min/|b| + 1)/3, and the Winkler bonus by
  * jw ≤ 0.6·j + 0.4 (prefix cap 4 · p 0.1). So `jw(a,b) >= t` IMPLIES
  * `min(|a|,|b|) >= (5t − 4) · max(|a|,|b|)` — for t = 0.9 the shorter
  * string must be at least half the longer. The implied conjunct costs
  * two length() calls where the full JW is an O(|a|·window) scan with
  * scratch arrays, and unlike the JW expression it can push into the scan
  * or run before a join explodes candidate pairs.
  *
  * Semantics-exact by construction: the added predicate is IMPLIED by the
  * original (which stays in place), so no qualifying row can be lost —
  * only non-qualifying rows are rejected earlier. A no-op for t < 0.8
  * (the bound degenerates to ≥ 0). Idempotent: the rewrite tags the
  * original comparison's literal by exact reference equality per pass and
  * skips filters that already carry the implied conjunct.
  */
object PruneJaroWinkler extends Rule[LogicalPlan] {

  /** jw(a,b) >= t conjuncts, either literal order. */
  private def thresholdOf(e: Expression): Option[(Expression, Expression, Double)] =
    e match {
      case GreaterThanOrEqual(JaroWinkler(a, b), Literal(t: Double, DoubleType)) =>
        Some((a, b, t))
      case LessThanOrEqual(Literal(t: Double, DoubleType), JaroWinkler(a, b)) =>
        Some((a, b, t))
      case GreaterThan(JaroWinkler(a, b), Literal(t: Double, DoubleType)) =>
        Some((a, b, t))
      case _ => None
    }

  private def lengthGuard(a: Expression, b: Expression, t: Double): Expression = {
    val la = Cast(Length(a), DoubleType)
    val lb = Cast(Length(b), DoubleType)
    GreaterThanOrEqual(Least(Seq(la, lb)),
      Multiply(Literal(5.0 * t - 4.0, DoubleType), Greatest(Seq(la, lb))))
  }

  private def alreadyGuarded(cond: Expression): Boolean =
    cond.exists {
      case GreaterThanOrEqual(Least(_), Multiply(_, Greatest(_), _)) => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond, child)
        if !alreadyGuarded(cond) &&
          splitConjuncts(cond).exists(c => thresholdOf(c).exists(_._3 >= 0.8)) =>
      val guards = splitConjuncts(cond).flatMap(thresholdOf).collect {
        case (a, b, t) if t >= 0.8 => lengthGuard(a, b, t)
      }
      Filter(guards.foldLeft(cond)(And), child)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }
}
