package graft.tables

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The engine's parquet reader (`Tables.parquet`, schema read from the
  * footers on the driver) against `spark.read.parquet`: same schema and
  * rows on every fixture table and store layout, the same error on a dir
  * without data files, and no Spark job while a read is being built.
  */
class ParquetReadSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private def assertSame(options: Map[String, String], paths: String*): Unit = {
    val ours = Tables.parquet(spark).options(options).load(paths: _*)
    val plain = spark.read.options(options).parquet(paths: _*)
    assert(ours.schema == plain.schema, paths.mkString(", "))
    assert(rows(ours) == rows(plain), paths.mkString(", "))
  }
  private def assertSame(paths: String*): Unit = assertSame(Map.empty[String, String], paths: _*)

  private def withDir(name: String)(body: String => Unit): Unit = {
    val root = Files.createTempDirectory(s"graft_pread_$name").toString
    try body(root) finally FileUtils.deleteDirectory(new File(root))
  }

  private def parquetFiles(dir: String): Seq[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.filterNot(_.getName.startsWith("_")).flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new File(dir)).map(_.getPath).sorted
  }

  private def orders4: DataFrame = Tables.orders(spark, sfDir)
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  test("every fixture table reads as spark.read.parquet reads it, nanosecond events included") {
    val tables = new File(sfDir).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.length == 10 && tables.contains("documents.parquet") &&
      tables.contains("embeddings.parquet"))
    tables.foreach(t => assertSame(s"$sfDir/$t"))

    // The older fixture generation wrote events.ts as INT64 TIMESTAMP(NANOS):
    // under nanosAsLong both readers must see a long, which Tables.events
    // turns into a timestamp.
    withDir("nanos") { corpus =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.MessageTypeParser
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); required binary event_type (STRING); }")
      val file = s"$corpus/events.parquet"
      val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
        .withConf(spark.sparkContext.hadoopConfiguration).build()
      val groups = new SimpleGroupFactory(schema)
      (1L to 5L).foreach(i => w.write(groups.newGroup().append("event_id", i)
        .append("ts", 1700000000123456789L + i * 1000L).append("event_type", s"t$i")))
      w.close()
      assertSame(file)
      assert(Tables.parquet(spark).load(file).schema("ts").dataType == LongType)
      val ev = Tables.events(spark, corpus)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.filter(col("event_id") === 1).select(unix_micros(col("ts"))).head().getLong(0) ==
        1700000000123457L)
    }
  }

  test("partitioned dirs, per-file reads under a basePath and the store's layouts read alike") {
    withDir("layouts") { root =>
      val o = orders4
      // Spark's own partitioned layouts: one and two levels; the
      // "4-NOT SPECIFIED" value needs URI escaping in every file path
      val (p1, p2) = (s"$root/p1", s"$root/p2")
      o.write.partitionBy("o_orderpriority").parquet(p1)
      o.write.partitionBy("o_orderstatus", "o_orderpriority").parquet(p2)
      assert(new File(p1, "o_orderpriority=4-NOT SPECIFIED").isDirectory)
      assertSame(p1)
      assertSame(p2)
      // per-file reads under a basePath, as the versioned read makes them
      val escaped = parquetFiles(p1).filter(_.contains("4-NOT SPECIFIED"))
      assert(escaped.nonEmpty)
      assertSame(Map("basePath" -> p1), escaped: _*)
      assertSame(Map("basePath" -> p2), parquetFiles(p2).take(3): _*)

      // the versioned store: every data dir of a partitioned, a
      // two-column-partitioned and an unpartitioned (`-` entry) table, and
      // a deletion-vectored version read through the store
      val expected = rows(o)
      val (t1, t2, t3) = (s"$root/t1", s"$root/t2", s"$root/t3")
      Versioned.publish(spark, t1, o, partCol = Some("o_orderpriority"),
        fileStatsKey = Some("o_orderkey"))
      Versioned.publish(spark, t2, o, partCol = Some("o_orderstatus,o_orderpriority"))
      Versioned.publish(spark, t3, o)
      Seq(t1, t2, t3).foreach { t =>
        assert(rows(Versioned.readAt(spark, t, 1).select(o.columns.map(col): _*)) == expected, t)
        Versioned.dataDirsOf(spark, t, 1).foreach(d => assertSame(new Path(t, d).toString))
      }
      import spark.implicits._
      val gone = o.filter(col("o_orderpriority") === "4-NOT SPECIFIED")
        .select("o_orderkey").as[Long].collect().take(3).toSeq
      val v2 = Versioned.deleteKeys(spark, t1, gone)
      assert(Versioned.dataDirsOf(spark, t1, v2) == Versioned.dataDirsOf(spark, t1, 1),
        "a key delete on a file-granular table must write deletion vectors, not data")
      assert(rows(Versioned.readAt(spark, t1, v2).select(o.columns.map(col): _*)) ==
        rows(o.filter(!col("o_orderkey").isin(gone: _*))))
    }
  }

  test("a file-stream sink's output and a two-schema dir under mergeSchema read alike") {
    withDir("sink") { root =>
      val o = orders4
      val (src, out) = (s"$root/src", s"$root/out")
      o.write.parquet(src)
      val q = spark.readStream.schema(o.schema).parquet(src)
        .writeStream.format("parquet").option("checkpointLocation", s"$root/ck").start(out)
      try q.processAllAvailable() finally q.stop()
      assert(new File(out, "_spark_metadata").isDirectory)
      // a file the sink never committed: the `_spark_metadata` log hides it
      Files.copy(new File(parquetFiles(src).head).toPath, new File(out, "stray.parquet").toPath)
      assertSame(out)
      assert(Tables.parquet(spark).load(out).count() == o.count())

      val evo = s"$root/evo"
      o.select("o_orderkey", "o_custkey").write.parquet(s"$evo/b=1")
      o.select("o_orderkey", "o_orderpriority").write.parquet(s"$evo/b=2")
      assertSame(Map("mergeSchema" -> "true"), evo)
      assert(Tables.parquet(spark).option("mergeSchema", "true").load(evo).columns.toSet ==
        Set("o_orderkey", "o_custkey", "o_orderpriority", "b"))
      assertSame(evo) // without mergeSchema the first data file decides
    }
  }

  test("a dir without data files fails as spark.read.parquet does: UNABLE_TO_INFER_SCHEMA") {
    withDir("empty") { dir =>
      Files.createFile(new File(dir, "_SUCCESS").toPath)
      val ours = intercept[AnalysisException](Tables.parquet(spark).load(dir))
      val theirs = intercept[AnalysisException](spark.read.parquet(dir))
      assert(ours.getCondition == "UNABLE_TO_INFER_SCHEMA")
      assert(ours.getMessage == theirs.getMessage)
    }
  }

  test("building a read runs no Spark job: fixture tables, a two-data-dir version, an append's validation") {
    assert(jobsDuring(Tables.orders(spark, sfDir)).isEmpty)
    withDir("jobs") { root =>
      val o = orders4
      val (plain, statted) = (s"$root/plain", s"$root/statted")
      Versioned.publish(spark, plain, o, partCol = Some("o_orderpriority"))
      Versioned.publish(spark, statted, o, partCol = Some("o_orderpriority"),
        fileStatsKey = Some("o_orderkey"))
      val more = o.withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      Seq(plain, statted).foreach(t =>
        more.write.partitionBy("o_orderpriority").parquet(s"$t/d_append"))
      // an append of a table without file stats only lists and commits
      assert(jobsDuring(Versioned.adoptStaged(spark, plain, "d_append")).isEmpty)
      assert(Versioned.dataDirsOf(spark, plain, 2).size == 2)
      assert(jobsDuring(Versioned.readAt(spark, plain, 2)).isEmpty)
      // with file stats it runs the stats scan, but no job starts inside a
      // DataFrameReader call (where Spark's schema job ran)
      val appended = jobsDuring(Versioned.adoptStaged(spark, statted, "d_append",
        fileStatsKey = Some("o_orderkey")))
      assert(appended.nonEmpty)
      assert(!appended.exists(_.contains("DataFrameReader")))
      assert(Versioned.readAt(spark, statted, 2).count() == 2 * o.count())
    }
  }
}
