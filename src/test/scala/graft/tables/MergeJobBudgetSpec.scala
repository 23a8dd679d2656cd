package graft.tables

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, year}

/** Round budgets for [[Versioned.merge]] at sf0.001: each case counts the
  * Spark jobs one merge starts and must stay within the budget written
  * here, the count measured on the two-entry-point store this merge
  * replaced. A merge that grows a round fails, naming every job's call
  * site; a change that removes rounds lowers its budget in the same
  * change. Counts only, never walls.
  */
class MergeJobBudgetSpec extends SparkSpec {

  /** orders as (o_orderkey, o_custkey, o_price_c, o_year), the q210 shape. */
  private def orders: DataFrame =
    Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice") * 100).cast("long").as("o_price_c"),
      year(col("o_orderdate")).as("o_year"))

  private def table(fileGranular: Boolean): String = {
    val tbl = Files.createTempDirectory("vbudget").toString + "/table"
    if (fileGranular)
      Versioned.publish(spark, tbl, orders.repartitionByRange(8, col("o_year"), col("o_orderkey")),
        partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
    else Versioned.publish(spark, tbl, orders, partCol = Some("o_year"))
    tbl
  }

  /** q210's clauses over 1995: update, a move to 1996, delete, an insert
    * into 1999, and (`withInserts`) a matched-I noise row.
    */
  private def batch(tbl: String, withInserts: Boolean): DataFrame = {
    val y95 = Versioned.readAt(spark, tbl, 1).filter(col("o_year") === 1995)
    val k = col("o_orderkey") % 100
    val ud = y95.filter(k === 1).withColumn("o_price_c", col("o_price_c") + 1)
      .withColumn("_op", lit("U"))
      .unionByName(y95.filter(k === 7).withColumn("o_year", lit(1996)).withColumn("_op", lit("U")))
      .unionByName(y95.filter(k === 2).withColumn("_op", lit("D")))
    if (!withInserts) ud
    else ud.unionByName(y95.filter(k === 3).withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_year", lit(1999)).withColumn("_op", lit("I")))
      .unionByName(y95.filter(k === 4).withColumn("_op", lit("I")))
  }

  private def within(what: String, budget: Int, fileGranular: Boolean,
                     withInserts: Boolean): Unit = {
    val tbl = table(fileGranular)
    val src = batch(tbl, withInserts)
    val jobs = jobsDuring(Versioned.merge(spark, tbl, src, "o_orderkey", "o_year"))
    // each job's innermost store frames: which operator stage started it
    def site(job: String): String = job.linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.tables.") && !l.contains("Spec")).take(3).mkString(" < ")
    assert(jobs.size <= budget,
      s"$what: ${jobs.size} jobs over a budget of $budget; call sites:\n" +
        jobs.map(site).mkString("\n"))
  }

  // Budgets, each the count the store ran for the same case when its
  // partition-scoped and file-scoped merges were two entry points: the
  // batch collect (1 job), the discovery scan (1:
  // every partition-granular merge, and matched-I keys on a stats base),
  // the rewrite's write (2) and, on a file-granular base, the fresh
  // files' stats scan (2). A U/D-only batch on a stats base discovers
  // nothing, so its budget has no discovery job.
  test("merge job budget: a U/D/I batch on a partition-granular base (q210's shape)") {
    within("partition-granular U/D/I", 4, fileGranular = false, withInserts = true)
  }

  test("merge job budget: a U/D-only batch on a file-granular base runs no discovery job") {
    within("file-granular U/D", 5, fileGranular = true, withInserts = false)
  }

  test("merge job budget: a U/D/I batch on a file-granular base") {
    within("file-granular U/D/I", 6, fileGranular = true, withInserts = true)
  }
}
