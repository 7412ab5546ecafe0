package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule completing the custom-operator path (SURVEY §7.3
  * (c)): the ubiquitous grouped-top-k idiom
  *
  * {{{ row_number().over(partitionBy(keys).orderBy(ord)) as rn
  *     WHERE rn <= k   (rn then projected away) }}}
  *
  * is rewritten to [[TopKPerKeyNode]], so ANY query written in the
  * standard window style — SQL or DataFrame — gets the bounded-heap
  * physical operator (O(n log k), O(k) memory per key, no per-group
  * sort) instead of `WindowExec`'s full per-key sort, without the
  * author knowing the custom operator exists. This is the
  * `injectOptimizerRule` face of the engine; the planner
  * `Strategy` ([[TopKPerKeyStrategy]]) then places
  * [[TopKPerKeyExec]]'s partial/final pair.
  *
  * Guardrails (no rewrite when):
  *   - the window computes anything besides the single `row_number`,
  *   - the rank column survives the enclosing projection (callers
  *     reading `rn` need the numbered rows),
  *   - partition keys are not plain attributes,
  *   - the predicate is not a simple `rn ≤ k` / `rn < k` / `rn = 1`
  *     bound with k ≥ 1.
  *
  * Tie semantics: `row_number` over a non-total order already assigns
  * ties arbitrarily (engine-chosen); the heap operator makes a
  * different-but-equally-valid choice. Queries wanting deterministic
  * results must order by a total key — the same contract the window
  * form has always had.
  *
  * A [[WindowGroupLimit]] the built-in `InferWindowGroupLimit` has
  * already inserted under the window is stripped: the exact top-k
  * operator supersedes that pre-filter.
  */
object TopKWindowRewrite extends Rule[LogicalPlan] {

  private object RankLimit {
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) => Some((a, k))
      // k > MinValue: the strict forms decrement, and Int.MinValue − 1
      // would wrap to MaxValue — turning an always-false filter into
      // keep-everything
      case LessThan(a: Attribute, Literal(k: Int, _)) if k > Int.MinValue =>
        Some((a, k - 1))
      case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) => Some((a, k))
      case GreaterThan(Literal(k: Int, _), a: Attribute) if k > Int.MinValue =>
        Some((a, k - 1))
      case EqualTo(a: Attribute, Literal(1, _)) => Some((a, 1))
      case EqualTo(Literal(1, _), a: Attribute) => Some((a, 1))
      case _ => None
    }
  }

  private object RowNumberWindow {
    /** The single-`row_number` window: returns (rank attr, keys, order, child). */
    def unapply(w: Window): Option[(Attribute, Seq[Attribute], Seq[SortOrder], LogicalPlan)] =
      w match {
        case Window(Seq(al @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame,
              UnboundedPreceding, CurrentRow))), _)), ps, os, child, _)
            if ps.nonEmpty && ps.forall(_.isInstanceOf[Attribute]) && os.nonEmpty =>
          Some((al.toAttribute, ps.map(_.asInstanceOf[Attribute]), os, child))
        case _ => None
      }
  }

  /** Opt-in gate: the rule is injected into every
    * [[graft.GraftExtensions]] session (injected rules cannot be
    * removed at runtime), so it stays INERT unless this session conf
    * enables it — a silent always-on rewrite could flip `row_number`
    * tie selections of third-party queries between extension and
    * non-extension sessions. [[scoped]] flips the flag. */
  final val EnabledKey = "spark.graft.topkRewrite.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(EnabledKey, "false") != "true") plan
    else plan.transformUp {
      case p @ Project(projectList,
          Filter(RankLimit(rn, k), w @ RowNumberWindow(rankAttr, keys, order, wchild)))
          if k >= 1 && rn.semanticEquals(rankAttr) &&
            projectList.forall(_.references.subsetOf(wchild.outputSet)) =>
        val inner = wchild match {
          // the built-in rank-limit pre-filter is subsumed by the exact operator
          case wgl: WindowGroupLimit => wgl.child
          case other => other
        }
        Project(projectList, TopKPerKeyNode(keys, order, k, inner))
    }

  /** Enable the rule via [[EnabledKey]] → run `body` (which must FORCE
    * optimization/execution — laziness deferred past the scope sees no
    * rewrite) → disable it again. The q144 lane runs SCOPED around a
    * forced materialization: a rule left enabled would rewrite OTHER
    * queries' window plans as a side effect of having run q144 first —
    * correctness-neutral, but plan snapshots must not depend on query
    * execution order. The session must carry [[graft.GraftExtensions]]
    * (every session from `GraftExtensions.builder` does); elsewhere the
    * flag has no rule to enable.
    *
    * Concurrency contract: [[EnabledKey]] is SESSION-global, so two
    * threads calling `scoped` on the SAME SparkSession can disable the
    * rewrite under each other mid-query — correctness-neutral (the
    * row_number tie contract), but plan-shape assertions must not race
    * it. Callers needing isolation under concurrency run the scoped
    * body on `spark.newSession()` (own conf, shared catalog/state),
    * where the flag flip is invisible to every other session. */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    spark.conf.set(EnabledKey, "true")
    try body finally spark.conf.set(EnabledKey, "false")
  }
}
