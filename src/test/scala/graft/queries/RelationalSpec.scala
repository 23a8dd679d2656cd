package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Sanity invariants over the sf0.001 tables for every registered query —
  * the exact value check is the driver's DuckDB oracle (tools/check.py locally).
  */
class RelationalSpec extends SparkSpec {

  test("every registered query runs and (except anti/except shapes) returns rows") {
    // q07/q14 are anti-join/EXCEPT over generated data where every customer
    // has orders and all nationkeys overlap → legitimately 0 rows at tiny SF.
    val mayBeEmpty = Set("q07_join_anti", "q14_except")
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      // Global scale-hygiene pin: no registered query may plan an unbounded
      // cartesian. Bounded BroadcastNestedLoopJoin (broadcast build side) is
      // allowed — CartesianProduct (both sides unbounded) never is.
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — unbounded at scale")
      // Second standing gate: no unpartitioned window over unbounded input.
      // A Window with an empty PARTITION BY requires AllTuples — Spark
      // executes it as ONE task holding the whole input, the q150-class
      // serialization point. Gate on the optimized logical plan
      // (AQE-independent). Queries whose global window demonstrably runs
      // over a bounded (aggregate-sized) input would go in the allowlist —
      // currently none need to.
      val globalWindowAllowed = Set.empty[String]
      val globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty || globalWindowAllowed(name),
        s"$name plans an unpartitioned window — single-task at scale:\n" +
          globalWindows.mkString("\n"))
      // Third standing gate: no in-memory cache over complex-typed columns.
      // Spark's columnar cache row-decodes ARRAY/STRUCT/MAP columns on
      // every consumer read — measured DOUBLING the suite's executor CPU
      // while local[32] walls hid it (BASELINE.md §persist-vs-parquet).
      // Complex-typed substrates must go through
      // Substrates.parquet; persist is for
      // primitive-typed tables only.
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      val complexCached = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
            if r.output.exists(a => a.dataType match {
              case _: ArrayType | _: MapType | _: StructType => true
              case _ => false
            }) => r.output.filter(a => a.dataType match {
              case _: ArrayType | _: MapType | _: StructType => true
              case _ => false
            }).map(a => s"${a.name}: ${a.dataType.simpleString}")
      }
      assert(complexCached.isEmpty,
        s"$name caches complex-typed columns in memory (row-decoded on " +
          s"every read — use Substrates.parquet): ${complexCached.flatten}")
    }
  }

  test("every oracle key has a matching query key") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("rollup grand-total row equals full row count") {
    val rows = Relational.rollupAgg(spark, sfDir).collect()
    val total = rows.find(r => r.isNullAt(0) && r.isNullAt(1)).get
    assert(total.getAs[Long]("n") == 6000L) // lineitem rows at sf0.001
  }

  test("char count totals equal total characters in documents") {
    val cc = Relational.charCount(spark, sfDir).collect()
    val totalChars = cc.map(_.getAs[Long]("cnt")).sum
    val expected = graft.tables.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text"))))
      .collect()(0).getLong(0)
    assert(totalChars == expected)
  }

  test("semi ∪ anti partitions customer exactly") {
    val semi = Relational.joinSemi(spark, sfDir).count()
    val anti = Relational.joinAnti(spark, sfDir).count()
    val withOrder = graft.tables.Tables.orders(spark, sfDir)
      .select("o_custkey").distinct().count()
    val all = graft.tables.Tables.customer(spark, sfDir).count()
    assert(anti == all - withOrder)
    assert(semi <= withOrder)
  }
}
