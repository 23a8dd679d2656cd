package graft.tables

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, year}

/** Round budgets for the store's entry points at sf0.001: each case counts
  * the driver's filesystem calls ([[CountingFileSystem]]) and the Spark
  * jobs one operation makes, and must stay within its row of [[budget]],
  * the counts this store makes. A change that adds a call or a job fails,
  * naming the operation and every call site; a change that removes some
  * lowers the row in the same change. Counts only, never walls.
  */
class StoreCallBudgetSpec extends SparkSpec {
  import spark.implicits._

  // (driver FS calls, Spark jobs) per operation, each the count this store
  // makes. Every version walk is one listing of `_manifests/` and reads no
  // manifest the memo already holds; an SQL statement takes one snapshot
  // when the catalog loads the table and one per scan or write it plans;
  // a commit lists once more for its compare-and-swap. Spark's own calls
  // (the write's commit protocol, the read's file index) and the
  // staged-write promotes make up the rest.
  private val budget: Map[String, (Int, Int)] = Map(
    "latestVersion, 20 versions" -> ((1, 0)),
    "merge, partition-granular base" -> ((46, 4)),
    "merge, file-granular base" -> ((75, 5)),
    "deleteWhere" -> ((52, 3)),
    "updateWhere" -> ((93, 3)),
    "compactFiles" -> ((32, 3)),
    "SQL INSERT" -> ((28, 1)),
    "CTAS" -> ((24, 1)),
    "SQL SELECT" -> ((7, 2)),
    "SQL DELETE" -> ((51, 3)),
    "SQL UPDATE" -> ((21, 3)),
    "SQL MERGE INTO" -> ((31, 6)),
    "VersionedSource path read" -> ((7, 2)),
    "VersionedSink stream, one epoch" -> ((21, 1)))

  private def within(op: String)(body: => Any): Unit = {
    val fs = new Path(sfDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[CountingFileSystem], s"SparkSpec's file:// FileSystem is ${fs.getClass}")
    var calls = Seq.empty[CountingFileSystem.Call]
    val jobs = jobsDuring { calls = CountingFileSystem.during(body) }
    val (maxCalls, maxJobs) = budget(op)
    val callSites = calls.groupBy(c => s"${c.op}  ${c.site}").toSeq
      .map { case (s, cs) => (cs.size, s) }.sorted.reverse.map { case (n, s) => f"$n%4d  $s" }
    val jobSites = jobs.map(_.linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.") && !l.contains("Spec")).take(3).mkString(" < "))
    assert(calls.size <= maxCalls && jobs.size <= maxJobs,
      s"$op: ${calls.size} driver FS calls (budget $maxCalls; " +
        s"${calls.count(_.path.contains("/_manifests"))} under _manifests/), ${jobs.size} jobs " +
        s"(budget $maxJobs)\nFS call sites:\n${callSites.mkString("\n")}\n" +
        s"job call sites:\n${jobSites.mkString("\n")}")
  }

  /** orders as (o_orderkey, o_custkey, o_price_c, o_year), the q210 shape. */
  private def orders: DataFrame =
    Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice") * 100).cast("long").as("o_price_c"),
      year(col("o_orderdate")).as("o_year"))

  private def table(fileGranular: Boolean): String = {
    val tbl = Files.createTempDirectory("vcalls").toString + "/table"
    if (fileGranular)
      Versioned.publish(spark, tbl, orders.repartitionByRange(8, col("o_year"), col("o_orderkey")),
        partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
    else Versioned.publish(spark, tbl, orders, partCol = Some("o_year"))
    tbl
  }

  /** q210's clauses over 1995: an update, a delete and an insert. */
  private def batch(tbl: String): DataFrame = {
    val y95 = Versioned.readAt(spark, tbl, 1).filter(col("o_year") === 1995)
    val k = col("o_orderkey") % 100
    y95.filter(k === 1).withColumn("o_price_c", col("o_price_c") + 1).withColumn("_op", lit("U"))
      .unionByName(y95.filter(k === 2).withColumn("_op", lit("D")))
      .unionByName(y95.filter(k === 3).withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("_op", lit("I")))
  }

  /** Registers catalog `name` over a fresh warehouse and returns the warehouse. */
  private def catalog(name: String): String = {
    val warehouse = Files.createTempDirectory(name).toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
    warehouse
  }

  test("store call budget: latestVersion on a 20-version table lists _manifests/ once") {
    val tbl = Files.createTempDirectory("vcalls").toString + "/table"
    Versioned.publish(spark, tbl, Seq((1L, "a")).toDF("k", "p"), partCol = Some("p"))
    (2 to 20).foreach(v => Versioned.replaceEntries(spark, Versioned.snapshot(spark, tbl, v - 1),
      Set.empty, None, "NOOP"))
    assert(Versioned.latestVersion(spark, tbl) == 20)
    within("latestVersion, 20 versions")(assert(Versioned.latestVersion(spark, tbl) == 20))
  }

  test("store call budget: merge on a partition-granular and on a file-granular base") {
    Seq(false -> "merge, partition-granular base", true -> "merge, file-granular base")
      .foreach { case (fileGranular, op) =>
        val tbl = table(fileGranular)
        val src = batch(tbl)
        within(op)(Versioned.merge(spark, tbl, src, "o_orderkey", "o_year"))
      }
  }

  test("store call budget: deleteWhere, updateWhere and compactFiles") {
    val tbl = table(fileGranular = false)
    val k = col("o_orderkey") % 100
    within("deleteWhere")(Versioned.deleteWhere(spark, tbl, k === 2, "o_year"))
    within("updateWhere")(Versioned.updateWhere(spark, tbl, k === 1,
      Map("o_price_c" -> (col("o_price_c") + 1)), "o_year"))
    val stats = table(fileGranular = true)
    within("compactFiles")(Versioned.compactFiles(spark, stats, "o_year=1995", "o_orderkey", "o_year"))
  }

  test("store call budget: SQL INSERT and CTAS") {
    catalog("gcalls")
    spark.sql("CREATE TABLE gcalls.ns.t (k BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gcalls.ns.t SELECT id, id * 10, id % 2 FROM range(0, 20)")
    within("SQL INSERT")(spark.sql("INSERT INTO gcalls.ns.t SELECT id, id * 10, id % 2 FROM range(20, 40)"))
    within("CTAS")(spark.sql("CREATE TABLE gcalls.ns.c PARTITIONED BY (p) AS " +
      "SELECT id AS k, id * 2 AS v, id % 3 AS p FROM range(0, 30)"))
  }

  test("store call budget: SQL SELECT, DELETE, UPDATE, MERGE INTO and a VersionedSource read") {
    val warehouse = catalog("gdml")
    spark.sql("CREATE TABLE gdml.ns.t (k BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gdml.ns.t SELECT id, id * 10, id % 2 FROM range(0, 20)")
    within("SQL SELECT")(assert(
      spark.sql("SELECT count(*) FROM gdml.ns.t WHERE k > 3").head().getLong(0) == 16))
    within("SQL DELETE")(spark.sql("DELETE FROM gdml.ns.t WHERE v = 70"))
    within("SQL UPDATE")(spark.sql("UPDATE gdml.ns.t SET v = v + 1 WHERE k = 5"))
    spark.range(15, 25).selectExpr("id AS k", "id * 100 AS v", "id % 2 AS p")
      .createOrReplaceTempView("gdml_src")
    within("SQL MERGE INTO")(spark.sql("MERGE INTO gdml.ns.t t USING gdml_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"))
    within("VersionedSource path read")(assert(spark.read.format("graft.sources.VersionedSource")
      .load(s"$warehouse/ns/t").filter(col("k") > 3).count() == 20))
    assert(spark.sql("SELECT count(*), sum(v) FROM gdml.ns.t").head().toSeq ==
      Seq(24L, (0L until 15L).filter(_ != 7).map(k => if (k == 5) 51L else k * 10).sum +
        (15L until 25L).map(_ * 100).sum))
  }

  test("store call budget: a VersionedSink stream that runs one epoch") {
    val tmp = Files.createTempDirectory("vcalls").toString
    val tbl = s"$tmp/table"
    Versioned.publish(spark, tbl, Seq((1L, 10L, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String)]
    ms.addData((2L, 20L, "a"), (3L, 30L, "b"))
    within("VersionedSink stream, one epoch") {
      val q = ms.toDF().toDF("k", "v", "p").writeStream.format("graft.sources.VersionedSink")
        .option("checkpointLocation", s"$tmp/ckpt").option("partCol", "p").start(tbl)
      try q.processAllAvailable() finally q.stop()
    }
    assert(Versioned.latestVersion(spark, tbl) == 2)
  }
}
