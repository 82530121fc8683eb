package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: NFKC normalization is idempotent, so nested
  * applications collapse to one. Arises naturally when composed stages
  * each defensively normalize (e.g. a cleaned column re-entering the
  * pipeline); the rewrite is provably safe (Unicode guarantees
  * NFKC(NFKC(x)) = NFKC(x)) and saves a full string pass per extra
  * application.
  *
  * Registered by [[GraftSparkExtensions]] and [[GraftFunctions.register]] —
  * demonstration of the engine's optimizer-extension surface (SURVEY §7
  * step 8).
  */
object CollapseNfkc extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case NfkcNormalize(inner @ NfkcNormalize(_)) => inner
    }
}
