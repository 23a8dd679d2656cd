package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The row_number→TopKPerKey optimizer rewrite: fires on the canonical
  * shape, preserves results and residual predicates, and leaves
  * non-rewritable windows (rank(), no partition) alone.
  */
class TopKWindowRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("a", 9.0, 1L), ("a", 8.0, 2L), ("a", 5.0, 3L), ("a", 7.0, 4L),
    ("b", 2.0, 6L), ("b", 3.0, 7L), ("c", 4.0, 8L)
  ).toDF("k", "s", "id").repartition(3)

  private def w = Window.partitionBy("k").orderBy(col("s").desc, col("id").asc)

  test("row_number <= K window rewrites to the native operator, same result") {
    val q = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 2)
    q.collect()
    val plan = GraftSqlBridge.executedPlan(q).toString
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(!plan.contains("Window"), plan)
    val rows = q.select("k", "id", "rnk").as[(String, Long, Int)].collect().toSet
    assert(rows === Set(("a", 1L, 1), ("a", 2L, 2), ("b", 7L, 1), ("b", 6L, 2), ("c", 8L, 1)))
  }

  test("extra conjuncts survive as a residual filter") {
    val q = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2 && col("id") =!= 7L)
    q.collect()
    val plan = GraftSqlBridge.executedPlan(q).toString
    assert(plan.contains("TopKPerKeyFinal"), plan)
    val ids = q.select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 6L, 8L))
  }

  test("rank() windows are left alone") {
    val q = df.withColumn("rnk", rank().over(w)).filter(col("rnk") <= 2)
    q.collect()
    val plan = GraftSqlBridge.executedPlan(q).toString
    assert(!plan.contains("TopKPerKey"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("spark.sql.optimizer.excludedRules turns the rewrite off: Spark's window plan, same rows") {
    def q = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 2)
      .select("k", "id", "rnk")
    val native = q
    assert(native.collect().toSet === windowReference(q).toSet)
    assert(planNodes(native).contains("TopKPerKeyFinalExec"))
  }
}
