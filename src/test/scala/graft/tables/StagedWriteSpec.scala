package graft.tables

import graft.SparkSpec
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The one staged write behind SQL INSERT, CTAS, the SQL row-level
  * statements and the streaming sink: its orphan rule, the one set of
  * partition types every writer accepts, and the recorded feed's
  * vacuumed-version check.
  */
class StagedWriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("gstaged").toString
    spark.conf.set("spark.sql.catalog.gsw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsw.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsw.ns")
    wh
  }

  /** The exception or one of its causes, as a `T`. */
  private def causeOf[T <: Throwable](e: Throwable)(implicit m: reflect.ClassTag[T]): Option[T] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst { case t: T => t }

  test("a refused staged commit leaves no d_* orphan: violating INSERT, UPDATE and MERGE INTO") {
    val path = s"$warehouse/ns/chk"
    spark.sql("CREATE TABLE gsw.ns.chk (k BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('statskey' = 'k')")
    spark.sql("INSERT INTO gsw.ns.chk SELECT id, id * 10, id % 2 FROM range(0, 20)")
    Versioned.addConstraint(spark, path, "v_nonneg", "v >= 0")
    Seq((3L, -7L, 1L), (500L, 5L, 0L)).toDF("k", "v", "p").createOrReplaceTempView("gsw_src")
    def names(dir: File, keep: String => Boolean): Set[String] =
      Option(dir.listFiles()).toSeq.flatten.map(_.getName).filter(keep).toSet
    def state = (names(new File(path), _.startsWith("d_")),
      names(new File(path, "_sink_stage"), _ => true), Versioned.latestVersion(spark, path))
    val before = state
    assert(before._3 == 3 && before._1.size == 1, before)
    Seq(
      "INSERT INTO gsw.ns.chk VALUES (100, -1, 0), (101, 1, 1)",
      "UPDATE gsw.ns.chk SET v = -5 WHERE k = 4",
      """MERGE INTO gsw.ns.chk t USING gsw_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin
    ).foreach { stmt =>
      val err = intercept[Exception](spark.sql(stmt))
      assert(causeOf[ConstraintViolationException](err).nonEmpty, s"$stmt: $err")
      assert(state == before, stmt)
    }
    assert(spark.sql("SELECT count(*), min(v) FROM gsw.ns.chk").head().toSeq == Seq(20L, 0L))
  }

  test("one set of partition types: SMALLINT through CREATE + INSERT, TINYINT through CTAS") {
    spark.sql("CREATE TABLE gsw.ns.short (k BIGINT, v BIGINT, p SMALLINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gsw.ns.short VALUES (1, 10, 1), (2, 20, 2)")
    val expected = Seq((1L, 10L, 1.toShort), (2L, 20L, 2.toShort))
    assert(spark.sql("SELECT k, v, p FROM gsw.ns.short ORDER BY k")
      .as[(Long, Long, Short)].collect().toSeq == expected)
    assert(Versioned.read(spark, s"$warehouse/ns/short").select("k", "v", "p").orderBy("k")
      .as[(Long, Long, Short)].collect().toSeq == expected)
    assert(new File(s"$warehouse/ns/short").listFiles().exists(d =>
      d.getName.startsWith("d_") && new File(d, "p=2").isDirectory))

    spark.sql("CREATE TABLE gsw.ns.tiny PARTITIONED BY (p) AS " +
      "SELECT id AS k, CAST(id % 2 AS TINYINT) AS p FROM range(0, 4)")
    val tiny = s"$warehouse/ns/tiny"
    assert(Versioned.opOf(spark, tiny, 1) == "CTAS")
    assert(spark.sql("SELECT p, count(*) FROM gsw.ns.tiny GROUP BY p ORDER BY p")
      .as[(Byte, Long)].collect().toSeq == Seq((0.toByte, 2L), (1.toByte, 2L)))
    assert(Versioned.read(spark, tiny).filter($"p" === 1).count() == 2)
  }

  test("a DOUBLE partition column is refused before any job: CREATE, CTAS and a VersionedSink stream") {
    def refused(body: => Unit): Unit = {
      var err: Throwable = null
      val jobs = jobsDuring { err = intercept[Exception](body) }
      assert(jobs.isEmpty, jobs.mkString("\n"))
      assert(causeOf[IllegalArgumentException](err)
        .exists(_.getMessage.contains("partition column p: type DoubleType")), err)
    }
    refused(spark.sql("CREATE TABLE gsw.ns.dbl (k BIGINT, p DOUBLE) PARTITIONED BY (p)"))
    assert(!new File(s"$warehouse/ns/dbl/_manifests").exists())
    refused(spark.sql("CREATE TABLE gsw.ns.dbl2 PARTITIONED BY (p) AS " +
      "SELECT id AS k, CAST(id AS DOUBLE) AS p FROM range(0, 4)"))
    assert(!new File(s"$warehouse/ns/dbl2").exists())

    val tmp = Files.createTempDirectory("gdblsink").toString
    val tbl = s"$tmp/t"
    Versioned.publish(spark, tbl, Seq((1L, 1.5)).toDF("k", "p"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    ms.addData((2L, 2.5))
    refused {
      val q = ms.toDF().toDF("k", "p").writeStream.format("graft.sources.VersionedSink")
        .option("checkpointLocation", s"$tmp/ckpt").option("partCol", "p").start(tbl)
      try q.processAllAvailable() finally q.stop()
    }
    assert(Versioned.latestVersion(spark, tbl) == 1)
  }

  test("recordedChanges fails on a vacuumed version whether strict or not; a range past it still reads") {
    val tbl = Files.createTempDirectory("grecvac").toString + "/t"
    Versioned.publish(spark, tbl,
      (1L to 3L).map(k => (k, k * 10, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    (1 to 3).foreach { i =>
      Versioned.merge(spark, tbl,
        Seq((i.toLong, i * 100L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
        recordChanges = true) // v2, v3, v4
    }
    Versioned.vacuum(spark, tbl, keep = Set(4), retentionMs = 0)
    Seq(true, false).foreach { strict =>
      val err = intercept[IllegalArgumentException](
        Versioned.recordedChanges(spark, tbl, 0, 4, strict))
      assert(err.getMessage.contains("does not exist (or was vacuumed)"), err.getMessage)
    }
    val v4 = Versioned.recordedChanges(spark, tbl, 3, 4)
      .select("k", "v", "_change", "_version").as[(Long, Long, String, Int)].collect().toSet
    assert(v4 == Set((3L, 30L, "delete", 4), (3L, 300L, "insert", 4)), v4)
  }
}
