package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType
import graft.functions.CosineSimilarity

/** Catalyst optimizer rule: cosine similarity of a vector with itself is
  * definitionally 1.0 — rewrite `cosine_sim(x, x)` to
  * `IF(x IS NULL, NULL, 1.0)` when the child is deterministic, removing
  * a full O(dim) loop per row from self-join diagonals and normalization
  * sanity columns. NULL inputs stay NULL (matching the expression's
  * null-safe eval). Deliberate semantic choice: an all-zero vector's
  * self-similarity folds to 1.0 where the unfolded loop yields NaN
  * (0/sqrt(0)) — self-similarity is defined as 1 here. */
object CosineSelfSimplify extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(l, r) if l.deterministic && l.semanticEquals(r) =>
        if (l.nullable) If(IsNull(l), Literal(null, DoubleType), Literal(1.0))
        else Literal(1.0)
    }
}

/** Session extensions wiring: registers the native `cosine_sim` function
  * permanently (so plain SQL text can call it), injects the
  * self-similarity fold and the Hamming-join rewrite into the optimizer,
  * and the CosineTopK strategy into the planner.
  *
  * Usage: `graft.GraftSession.local(app)` installs these at session
  * creation, so every session it builds (and every `newSession()` of
  * it) plans with the same rules whatever ran before; a hand-built
  * session gets them with `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => CosineSelfSimplify)
    ext.injectOptimizerRule(_ => HammingJoinRewrite)
    ext.injectPlannerStrategy(_ => CosineTopKStrategy)
  }
}
