package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-view AUTOMATIC query rewrite (the Calcite / warehouse
  * classic) as a Catalyst optimizer rule: an aggregate over a registered
  * base table whose grouping and aggregate functions are all answerable
  * from a registered MV is rewritten to a Project over the MV scan — the
  * base table is never read. At 100 TB this is the difference between a
  * dashboard query scanning the fact table and it reading a
  * |groups|-row summary: the rewrite is transparent to the query author,
  * which is the entire point (q114 shows MANUAL maintenance; this shows
  * the serving half).
  *
  * Deliberately conservative match (the anti-wrong-results stance every
  * MV rewriter needs): single grouping column, aggregates only from
  * {count(1)/count(*), sum(<the registered column>)} — non-distinct,
  * unfiltered — and the aggregate's child must be the base relation
  * itself or a pure column-pruning Project over it (ANY Filter blocks the
  * rewrite: the MV pre-aggregated unfiltered rows). Staleness is the
  * registrant's contract: `MvCatalog.register` is called right after the
  * MV is (re)written, and the registry is keyed by the base path.
  *
  * Disable with `spark.graft.mv.rewrite=false`.
  */
object MvCatalog {
  final case class MvDef(groupCol: String, sumCol: String,
                         cntName: String, sumName: String,
                         plan: LogicalPlan)

  private val mvs = new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  /** Register `mvPath` (schema: groupCol, cntName, sumName) as answering
    * count(1)/sum(sumCol) aggregates grouped by groupCol over the base
    * parquet at `basePath`. Re-registering replaces (refresh semantics).
    */
  def register(spark: SparkSession, basePath: String, mvPath: String,
               groupCol: String, sumCol: String,
               cntName: String = "cnt", sumName: String = "sm"): Unit =
    mvs.put(normalize(basePath),
      MvDef(groupCol, sumCol, cntName, sumName,
        GraftSqlBridge.analyzed(graft.tables.Tables.parquet(spark).load(mvPath))))

  def clear(): Unit = mvs.clear()

  private def normalize(p: String): String = p.stripPrefix("file:")

  private[plans] def lookup(rel: LogicalRelation): Option[MvDef] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        import scala.jdk.CollectionConverters._
        val roots = fs.location.rootPaths.map(r => normalize(r.toString)).toSet
        mvs.asScala.collectFirst { case (k, v) if roots(k) => v }
      case _ => None
    }
}

object MvRewrite extends Rule[LogicalPlan] {

  /** Strip pure column-pruning Projects (attribute-only) off the child. */
  private def stripPruning(p: LogicalPlan): LogicalPlan = p match {
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      stripPruning(child)
    case other => other
  }

  /** count(1)/count(*) only — a NULL literal (count(NULL) ≡ 0 in SQL) must
    * NOT match, or the rewrite would return the MV's total row count.
    */
  private def isCountStar(e: Expression): Boolean = e match {
    case AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _) if v != null => true
    case AggregateExpression(Count(Nil), _, false, None, _) => true
    case _ => false
  }

  private def sumOf(e: Expression): Option[String] = e match {
    case AggregateExpression(Sum(s: AttributeReference, _), _, false, None, _) => Some(s.name)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.mv.rewrite", "true") != "true") return plan
    plan.transformUp {
      case agg @ Aggregate(Seq(g: AttributeReference), outs, child, _) =>
        stripPruning(child) match {
          case rel: LogicalRelation =>
            MvCatalog.lookup(rel) match {
              case Some(mv) if g.name == mv.groupCol =>
                // Fresh exprIds per rewrite: a query with TWO rewritable
                // aggregates over the base table (self-join / union of
                // rollups) must not end up with the same MV attribute ids
                // twice — DeduplicateRelations no longer runs at optimizer
                // time, so duplicate ids would mis-bind.
                val freshPlan = mv.plan.transform {
                  case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
                }
                val mvOut = freshPlan.output.map(a => a.name -> a).toMap
                val mapped: Seq[Option[NamedExpression]] = outs.map {
                  case a: AttributeReference if a.exprId == g.exprId =>
                    Some(Alias(mvOut(mv.groupCol), a.name)(exprId = a.exprId))
                  case al @ Alias(e, _) if isCountStar(e) =>
                    Some(Alias(mvOut(mv.cntName), al.name)(exprId = al.exprId))
                  case al @ Alias(e, _) if sumOf(e).contains(mv.sumCol) =>
                    Some(Alias(mvOut(mv.sumName), al.name)(exprId = al.exprId))
                  case _ => None
                }
                if (mapped.forall(_.isDefined)) Project(mapped.flatten, freshPlan)
                else agg
              case _ => agg
            }
          case _ => agg
        }
    }
  }
}
