package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The native TopKPerKey operator, reached through its one spelling (a
  * `row_number` window filter that TopKWindowRewrite plans on it): result
  * parity with Spark's own window plan, plan shape (partial heap below the
  * exchange, final above), and edge semantics (short groups, ties broken by
  * the declared tiebreaker).
  */
class TopKPerKeySpec extends SparkSpec {

  private def sample = {
    import spark.implicits._
    // 3 keys × varied sizes, duplicate scores to exercise the tiebreaker,
    // spread over 4 partitions so partial heaps actually merge.
    Seq(
      ("a", 9.0, 1L), ("a", 9.0, 2L), ("a", 5.0, 3L), ("a", 7.0, 4L), ("a", 1.0, 5L),
      ("b", 2.0, 6L), ("b", 3.0, 7L),
      ("c", 4.0, 8L)
    ).toDF("k", "s", "id").repartition(4)
  }

  /** The first `k` rows per `k` column value under `order`, as `rnk`. */
  private def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rnk", row_number().over(Window.partitionBy("k").orderBy(order: _*)))
      .filter(col("rnk") <= k)

  test("matches the row_number window spelling, ties included") {
    def q = topK(sample, 3, col("s").desc, col("id").asc).select("k", "s", "id", "rnk")
    val native = q
    val got = native.collect().toSet
    assert(planNodes(native).contains("TopKPerKeyFinalExec"))
    assert(got === windowReference(q).toSet)
    assert(got.size === 6)
  }

  test("groups smaller than k come back whole, ranked from 1") {
    val out = topK(sample, 10, col("s").asc)
    assert(out.count() === sample.count())
    val cRanks = out.filter(col("k") === "c").select("rnk")
      .collect().map(_.getInt(0)).toSeq
    assert(cRanks === Seq(1))
  }

  test("physical plan is partial heap → exchange → final heap") {
    val native = topK(sample, 2, col("s").desc)
    native.collect() // force AQE to finalize the plan
    val plan = GraftSqlBridge.executedPlan(native).toString
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(plan.contains("TopKPerKeyPartial"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges >= 1, s"expected the key exchange in:\n$plan")
  }

  test("property: equals sort-take per key for arbitrary data and partitioning") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val genRows = Gen.listOf(for {
      k <- Gen.choose(0, 5); s <- Gen.choose(-100, 100); id <- Gen.choose(0L, 50L)
    } yield (k, s, id))
    val prop = Prop.forAll(genRows, Gen.choose(1, 7), Gen.choose(1, 6)) {
      (rows, k, parts) =>
        val df = rows.toDF("k", "s", "id").repartition(parts)
        val got = topK(df, k, col("s").desc, col("id").asc, col("k").asc)
          .select("k", "s", "id", "rnk")
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
        // ties beyond (s desc, id asc, k asc) can't exist within a key-group
        // only if (s, id) repeats — dedupe the expectation the same way the
        // operator sees it: rank over a stable total order
        val expected = rows.groupBy(_._1).flatMap { case (key, grp) =>
          grp.sortBy(t => (-t._2, t._3, t._1)).take(k).zipWithIndex
            .map { case ((kk, s, id), i) => (kk, s, id, i + 1) }
        }.toSet
        got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
