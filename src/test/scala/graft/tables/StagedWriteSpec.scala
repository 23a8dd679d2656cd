package graft.tables

import graft.SparkSpec
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
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
    assert(Versioned.snapshot(spark, tiny, 1).meta.op == "CTAS")
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

  test("SQL UPDATE and DELETE keep every row they do not change") {
    // four files per partition (one per write task): the row-level UPDATE
    // and DELETE replace partition p=1 whole, so they must rewrite all ten
    // of its rows, not only the row groups whose footer stats match; and a
    // DELETE condition with no exact filter form must not shrink to the
    // part that has one
    spark.sql("CREATE TABLE gsw.ns.groups (k BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gsw.ns.groups SELECT /*+ REPARTITION(4) */ id, id * 10, id % 2 " +
      "FROM range(0, 20)")
    spark.sql("UPDATE gsw.ns.groups SET v = v + 1 WHERE k = 5")
    spark.sql("DELETE FROM gsw.ns.groups WHERE k * 2 = 14 OR v = 90") // not pushable: row-level
    assert(spark.sql("SELECT k, v FROM gsw.ns.groups ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      (0L until 20L).filterNot(Set(7L, 9L)).map(k => (k, if (k == 5) 51L else k * 10)))
  }

  test("a SQL UPDATE that loses its CAS to a concurrent merge fails and leaves no orphan") {
    val path = s"$warehouse/ns/cas"
    spark.sql("CREATE TABLE gsw.ns.cas (k BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gsw.ns.cas SELECT id, id * 10, id % 2 FROM range(0, 20)")
    // the competitor lands between the UPDATE's scan and its replace
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None // one-shot: not for the competitor
      Versioned.merge(spark, path,
        Seq((100L, 1000L, 0L, "I")).toDF("k", "v", "p", "_op"), "k", "p")
    })
    val err = try intercept[Exception](spark.sql("UPDATE gsw.ns.cas SET v = -1 WHERE k = 5"))
      finally Versioned.preCommitHookForTests = None
    assert(causeOf[ConcurrentWriteException](err).nonEmpty, err)
    val latest = Versioned.latestVersion(spark, path)
    assert(latest == 3 && Versioned.snapshot(spark, path).meta.op == "MERGE")
    assert(spark.sql("SELECT count(*), sum(v), max(k) FROM gsw.ns.cas").head().toSeq ==
      Seq(21L, (0L until 20L).map(_ * 10).sum + 1000L, 100L),
      "the competitor's row survives and the UPDATE left no trace")
    val dataDirs = new File(path).list().filter(_.startsWith("d_")).toSet
    assert(dataDirs == Versioned.dataDirsOf(spark, path, latest).toSet,
      s"the lost UPDATE must delete its promoted dir: $dataDirs")
    assert(Option(new File(path, "_sink_stage").list()).forall(_.isEmpty))
  }

  test("a snapshot is per operation: kept DataFrames read new commits, pinned reads stay") {
    val path = s"$warehouse/ns/keep"
    spark.sql("CREATE TABLE gsw.ns.keep PARTITIONED BY (p) AS " +
      "SELECT id AS k, id * 10 AS v, id % 2 AS p FROM range(0, 10)")
    def versioned = spark.read.format("graft.sources.VersionedSource")
    val kept = Seq(spark.table("gsw.ns.keep"), versioned.load(path))
    val pinned = Seq(spark.sql("SELECT * FROM gsw.ns.keep VERSION AS OF 1"),
      versioned.option("versionAsOf", "1").load(path))
    def counts(dfs: Seq[DataFrame]) =
      dfs.flatMap(df => Seq(df.count(), df.filter($"k" >= 0).count()))
    assert(counts(kept) == Seq.fill(4)(10L) && counts(pinned) == Seq.fill(4)(10L))
    spark.sql("INSERT INTO gsw.ns.keep SELECT id, id * 10, id % 2 FROM range(10, 15)")
    assert(counts(kept) == Seq.fill(4)(15L), "a kept DataFrame reads the new version")
    assert(counts(pinned) == Seq.fill(4)(10L), "a pinned read stays at version 1")
  }
}
