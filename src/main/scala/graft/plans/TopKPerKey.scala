package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension (SURVEY §2 custom-operator ladder,
  * rung (c)): top-k rows per key, ranked — the workhorse of similarity
  * search (`ORDER BY cs DESC LIMIT k` per probe) and "best n per group"
  * reporting.
  *
  * Spark's built-in spelling is `row_number() OVER (PARTITION BY key ORDER
  * BY s) <= k`: a full shuffle of EVERY scored row followed by a per-key
  * sort — the k-winners and the millions of losers all cross the wire. This
  * operator keeps a bounded heap of k rows per key on each input partition
  * (classic partial aggregation; in reference terms, the sort+shuffle+
  * grouped-reduce pipeline — sort `MapReduceFramework.cpp:198-208`, reduce
  * `MapReduceFramework.cpp:245-266` — specialized to a bounded reducer that
  * also runs map-side), so only
  * ≤ k·keys rows per partition reach the exchange. At 100 TB with k=5 that
  * is the difference between shuffling the corpus and shuffling the answer.
  *
  * The API is the window itself: `row_number() OVER (PARTITION BY … ORDER
  * BY …) <= k`, in SQL or the DataFrame API. [[TopKWindowRewrite]] plans
  * that filter on this operator; Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.TopKWindowRewrite` turns
  * the rewrite off and leaves Spark's own window plan.
  *
  * Pieces: `TopKPerKeyNode` (logical, built only by the rewrite),
  * `TopKPerKeyPartialExec` / `TopKPerKeyFinalExec` (physical pair
  * bracketing the exchange, like partial/final HashAggregate),
  * `TopKPerKeyStrategy` (planner rule), and `GraftExtensions`
  * (`spark.sql.extensions` registration of graft's rules and strategies).
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"TopKPerKeyNode: k must be positive, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rankAttr is born here, not consumed from below — without this the
  // plan's missingInput check counts it as a missing input.
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

private[plans] object TopKHeaps {
  /** Consume a partition, retaining per key the k best rows under `ord`
    * (max-heap keyed on the WORST retained row, so each losing row costs
    * one compare and each displacement O(log k)). Bounded state:
    * O(#distinct keys in partition × k) rows.
    */
  def retain(
      iter: Iterator[InternalRow],
      keys: Seq[Expression],
      inputAttrs: Seq[Attribute],
      order: Seq[SortOrder],
      k: Int): java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]] = {
    val keyProj = UnsafeProjection.create(keys, inputAttrs)
    val boundOrd = RowOrdering.create(order, inputAttrs)
    val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
    while (iter.hasNext) {
      val row = iter.next()
      val key = keyProj(row) // reused buffer — copy before storing
      var pq = heaps.get(key)
      if (pq == null) {
        pq = new java.util.PriorityQueue[InternalRow](k + 1, boundOrd.reverse)
        heaps.put(key.copy(), pq)
      }
      if (pq.size < k) pq.add(row.copy())
      else if (boundOrd.compare(row, pq.peek()) < 0) { pq.poll(); pq.add(row.copy()) }
    }
    heaps
  }
}

/** Map-side half: emits each partition's per-key survivors, unranked and
  * unordered (order is imposed once, after the exchange).
  */
case class TopKPerKeyPartialExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, attrs, kk) = (keys, order, child.output, k)
    child.execute().mapPartitions({ iter =>
      import scala.jdk.CollectionConverters._
      TopKHeaps.retain(iter, ks, attrs, os, kk)
        .values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)
}

/** Reduce-side half: requires clustering on the keys (EnsureRequirements
  * inserts the hash exchange), re-retains — correct regardless of how many
  * partial passes preceded — then sorts each ≤k-row group and appends the
  * 1-based rank.
  */
case class TopKPerKeyFinalExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, attrs, kk, rank) = (keys, order, child.output, k, rankAttr)
    child.execute().mapPartitions({ iter =>
      import scala.jdk.CollectionConverters._
      val boundOrd = RowOrdering.create(os, attrs)
      val outProj = UnsafeProjection.create(attrs :+ rank, attrs :+ rank)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      TopKHeaps.retain(iter, ks, attrs, os, kk).values().iterator().asScala.flatMap { pq =>
        val arr = pq.toArray(new Array[InternalRow](pq.size))
        java.util.Arrays.sort(arr, boundOrd)
        arr.iterator.zipWithIndex.map { case (row, i) =>
          rankRow.setInt(0, i + 1)
          outProj(joined(row, rankRow))
        }
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, rankAttr, child) =>
      TopKPerKeyFinalExec(keys, order, k, rankAttr,
        TopKPerKeyPartialExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`): the one registration
  * path for graft's planner strategies and optimizer rules.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => RangeJoinStrategy)
    ext.injectPlannerStrategy(_ => BeamSearchStrategy)
    ext.injectOptimizerRule(_ => TopKWindowRewrite)
    ext.injectOptimizerRule(_ => MvRewrite)
  }
}

/** DataFrame surface for the operators no SQL spelling reaches (beam
  * search, the interval join); top-k per key is the `row_number` window.
  */
object GraftOps {
  /** Layered beam search of `probes` against the broadcast compact graph
    * `index` via the native `BeamSearchExec` (SQ8 integer scoring; the
    * index ships through a size-guarded BroadcastExchange). Probe side
    * needs (id, code, entry-id) columns; index side (id, code,
    * adjacency-per-layer) columns, resolved by name on their own side.
    * Emits `(probe_id, cand_id)` — the final beam, for the caller's exact
    * re-rank.
    */
  def beamSearch(
      probes: DataFrame,
      index: DataFrame,
      probeCols: (String, String, String),
      indexCols: (String, String, String),
      schedule: Seq[(Int, Int, Int)]): DataFrame = {
    val l = GraftSqlBridge.analyzed(probes)
    val r = GraftSqlBridge.analyzed(index)
    def res(plan: LogicalPlan, n: String, side: String): Attribute =
      plan.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"beamSearch: column '$n' not in $side (${plan.output.map(_.name).mkString(", ")})"))
    GraftSqlBridge.ofRows(probes.sparkSession,
      BeamSearchNode(
        res(l, probeCols._1, "probes"), res(l, probeCols._2, "probes"),
        res(l, probeCols._3, "probes"),
        res(r, indexCols._1, "index"), res(r, indexCols._2, "index"),
        res(r, indexCols._3, "index"),
        schedule,
        AttributeReference("probe_id", org.apache.spark.sql.types.LongType, nullable = false)(),
        AttributeReference("cand_id", org.apache.spark.sql.types.LongType, nullable = false)(),
        l, r))
  }

  /** Inner interval join `probe(tsCol) ∈ [build(loCol), build(hiCol))`
    * through the native `BroadcastRangeJoinExec` (sorted broadcast index +
    * binary search — never a nested loop). Columns are resolved by name on
    * their own side, so duplicate names across sides are unambiguous.
    */
  def broadcastRangeJoin(
      probe: DataFrame,
      build: DataFrame,
      tsCol: String,
      loCol: String,
      hiCol: String): DataFrame = {
    val l = GraftSqlBridge.analyzed(probe)
    val r = GraftSqlBridge.analyzed(build)
    def res(plan: LogicalPlan, n: String, side: String): Attribute =
      plan.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"broadcastRangeJoin: column '$n' not in $side (${plan.output.map(_.name).mkString(", ")})"))
    GraftSqlBridge.ofRows(probe.sparkSession,
      RangeJoinNode(res(l, tsCol, "probe"), res(r, loCol, "build"),
        res(r, hiCol, "build"), l, r))
  }
}
