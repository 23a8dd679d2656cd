package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: `row_number() OVER (PARTITION BY k ORDER BY s) <= K`
  * filters rewrite to the native [[TopKPerKeyNode]].
  *
  * Spark's own `InferWindowGroupLimit` only inserts a pre-filter below the
  * window — every surviving row still pays the per-partition sort and the
  * full window execution. This rewrite REPLACES the window: bounded heaps
  * per input partition, ≤ K rows per key cross the exchange, no sort of
  * anything but the K winners. Ties behave like `row_number` (arbitrary
  * among equals), which is exactly what the window form promises.
  *
  * Deliberately conservative match: a single row_number window expression,
  * non-empty PARTITION BY (a global top-k is Spark's
  * `TakeOrderedAndProject` territory), and a rank predicate of the form
  * `rnk <= K` / `rnk < K` / `rnk = 1` (plus mirrored literal-first forms),
  * possibly conjoined with other predicates that don't touch the rank —
  * those stay behind as a residual Filter.
  *
  * This is the only place a `TopKPerKeyNode` is built: the window is the
  * API. Spark's `spark.sql.optimizer.excludedRules=graft.plans.TopKWindowRewrite`
  * turns the rule off and leaves Spark's own `Window` plan (the reference
  * the specs check the operator against).
  */
object TopKWindowRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private def limitOf(cond: Expression, rnk: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rnk) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rnk) => Some(k - 1)
    case EqualTo(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rnk) && k == 1 => Some(1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute) if a.semanticEquals(rnk) => Some(k)
    case GreaterThan(Literal(k: Int, IntegerType), a: Attribute) if a.semanticEquals(rnk) => Some(k - 1)
    case EqualTo(Literal(k: Int, IntegerType), a: Attribute) if a.semanticEquals(rnk) && k == 1 => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(RowNumber(), spec), _)),
               part, order, child, _))
        if part.nonEmpty && order.nonEmpty && spec.partitionSpec == part &&
           spec.orderSpec == order =>
      val rnk = alias.toAttribute.asInstanceOf[AttributeReference]
      val conjuncts = splitConjunctivePredicates(cond)
      val (rankPreds, rest) = conjuncts.partition(c => limitOf(c, rnk).isDefined)
      val ks = rankPreds.flatMap(limitOf(_, rnk))
      if (ks.isEmpty || ks.exists(_ <= 0) || rest.exists(_.references.contains(rnk))) f
      else {
        // Spark's InferWindowGroupLimit may already have fired inside this
        // fixed-point batch — its pre-filter is subsumed by the heap.
        val base = child match {
          case WindowGroupLimit(p, o, _, _, grandchild)
              if p == part && o == order => grandchild
          case other => other
        }
        val node = TopKPerKeyNode(part, order, ks.min, rnk, base)
        if (rest.isEmpty) node else Filter(rest.reduce(And), node)
      }
  }
}
