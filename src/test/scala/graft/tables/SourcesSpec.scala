package graft.tables

import graft.SparkSpec
import java.nio.file.Files

/** CSV / JSON / ORC source coverage: round-trip the nation and orders tables
  * through each format and require exact row equality with the parquet
  * original (schema-pinned reads — no inference).
  */
class SourcesSpec extends SparkSpec {

  private def roundTrip(name: String)(
      write: (org.apache.spark.sql.DataFrame, String) => Unit,
      read: String => org.apache.spark.sql.DataFrame): Unit = {
    val src = Tables.table(spark, sfDir, name)
    val dir = Files.createTempDirectory(s"graft_src_$name").toString + "/data"
    write(src, dir)
    val back = read(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
           src.schema.map(f => (f.name, f.dataType)), s"$name schema drift")
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, s"$name rows drift: only-src=${(a -- b).take(2)} only-back=${(b -- a).take(2)}")
  }

  test("CSV round-trip preserves nation exactly") {
    roundTrip("nation")(
      (df, p) => df.write.option("header", "true").csv(p),
      p => Tables.csv(spark, p, Tables.table(spark, sfDir, "nation").schema))
  }

  test("CSV round-trip preserves orders (timestamps included) exactly") {
    roundTrip("orders")(
      (df, p) => df.write.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]").csv(p),
      p => Tables.csv(spark, p, Tables.table(spark, sfDir, "orders").schema))
  }

  test("JSON round-trip preserves orders exactly") {
    roundTrip("orders")(
      (df, p) => df.write.json(p),
      p => Tables.json(spark, p, Tables.table(spark, sfDir, "orders").schema))
  }

  test("ORC round-trip preserves lineitem exactly") {
    roundTrip("lineitem")(
      (df, p) => df.write.orc(p),
      p => Tables.orc(spark, p))
  }

  // ---- graft.sources.LinesSource: the from-scratch DataSourceV2 connector

  private def stageShards(lines: Seq[Seq[String]]): String = {
    val dir = Files.createTempDirectory("graft_lines_src")
    lines.zipWithIndex.foreach { case (ls, i) =>
      Files.write(dir.resolve(f"shard-$i%03d.txt"),
        ls.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // hidden/system files must be ignored by the connector
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    dir.toString
  }

  private def readLinesSrc(path: String) =
    spark.read.format("graft.sources.LinesSource").load(path)

  test("LinesSource reads shards with deterministic (file, line) ids") {
    val p = stageShards(Seq(Seq("a0", "a1"), Seq("b0")))
    val rows = readLinesSrc(p).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      (0L, "shard-000.txt", "a0"), (1L, "shard-000.txt", "a1"),
      ((1L << 32), "shard-001.txt", "b0")))
  }

  test("LinesSource plans one partition per shard and prunes files from pushed doc_id bounds") {
    val p = stageShards(Seq(Seq("a"), Seq("b"), Seq("c")))
    val all = readLinesSrc(p)
    assert(all.rdd.getNumPartitions == 3)
    // doc_id >= 2^32 can only live in shards 1+ — shard 0 must not be planned
    val pruned = readLinesSrc(p).filter(org.apache.spark.sql.functions.col("doc_id") >= (1L << 32))
    assert(pruned.rdd.getNumPartitions == 2, "file-level pruning did not drop shard 0")
    assert(pruned.collect().map(_.getString(2)).toSet == Set("b", "c"))
  }

  test("LinesSource bounds saturate at the Long domain edges (no overflow wrap)") {
    val p = stageShards(Seq(Seq("a0", "a1"), Seq("b0")))
    import org.apache.spark.sql.functions.col
    // doc_id <= Long.MaxValue used to wrap hi to MinValue and return 0 rows
    assert(readLinesSrc(p).filter(col("doc_id") <= Long.MaxValue).count() == 3)
    assert(readLinesSrc(p).filter(col("doc_id") >= Long.MinValue).count() == 3)
    // unsatisfiable edge predicates yield empty, not everything
    assert(readLinesSrc(p).filter(col("doc_id") > Long.MaxValue).count() == 0)
    assert(readLinesSrc(p).filter(col("doc_id") < Long.MinValue).count() == 0)
    // equality at an edge is still exact
    assert(readLinesSrc(p).filter(col("doc_id") === (1L << 32)).count() == 1)
  }

  test("LinesSource surfaces a clear error for a missing directory") {
    val e = intercept[Exception] {
      readLinesSrc("/nonexistent/graft_lines_dir").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("graft_lines"),
      s"unhelpful error: $e")
  }

  test("LinesSource streams an append-only landing directory incrementally") {
    // MICRO_BATCH_READ: offset = shard count; each micro-batch reads only
    // the newly-listed shards, ids identical to the batch read's.
    val dir = Files.createTempDirectory("graft_lines_stream")
    def addShard(name: String, lines: Seq[String]): Unit =
      Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    addShard("shard-000.txt", Seq("a0", "a1"))
    val q = spark.readStream.format("graft.sources.LinesSource")
      .load(dir.toString)
      .writeStream.format("memory").queryName("t_lines_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("t_lines_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(batch1 == Set((0L, "shard-000.txt", "a0"), (1L, "shard-000.txt", "a1")))
      addShard("shard-001.txt", Seq("b0"))
      q.processAllAvailable()
      val batch2 = spark.table("t_lines_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      // exactly-once: shard-000's rows appear ONCE; the new shard's ids
      // are the same the batch reader would assign
      assert(batch2 == batch1 + (((1L << 32), "shard-001.txt", "b0")))
    } finally q.stop()
  }

  test("LinesSource writes append monotone shards, overwrite truncates, empty partitions publish nothing") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_lines_write").toString
    def df(texts: Seq[String], parts: Int) = {
      import spark.implicits._
      texts.toDF("text").repartition(parts)
        .select(lit(0L).as("doc_id"), lit("w").as("fname"), col("text"))
    }
    // append batch 1: 2 rows over 4 partitions — empty partitions publish
    // no file, so the shard count tracks non-empty partitions, not tasks
    df(Seq("a", "b"), 4).write.format("graft.sources.LinesSource")
      .mode("append").save(dir)
    val shards1 = graft.sources.LinesSource.listShards(dir).map(_.getName)
    assert(shards1.nonEmpty && shards1.size < 4,
      s"empty partitions published files: $shards1")
    assert(shards1.forall(_.startsWith("part-000000-")))
    // append batch 2: names must sort AFTER batch 1 (the streaming contract)
    df(Seq("c"), 1).write.format("graft.sources.LinesSource")
      .mode("append").save(dir)
    val shards2 = graft.sources.LinesSource.listShards(dir).map(_.getName)
    assert(shards2.size == shards1.size + 1 && shards2 == shards2.sorted)
    assert(shards2.last.startsWith(f"part-${shards1.size}%06d-"),
      s"non-monotone: $shards2")
    val all = spark.read.format("graft.sources.LinesSource").load(dir)
      .select("text").collect().map(_.getString(0)).toSet
    assert(all == Set("a", "b", "c"))
    // no temp litter
    assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith(".")))
    // overwrite: TRUNCATE capability drops every previous shard first
    df(Seq("z"), 1).write.format("graft.sources.LinesSource")
      .mode("overwrite").save(dir)
    val after = spark.read.format("graft.sources.LinesSource").load(dir)
      .select("text").collect().map(_.getString(0)).toSet
    assert(after == Set("z"))
    assert(graft.sources.LinesSource.listShards(dir).size == 1)
  }

  test("LinesSource append into foreign-named shard dirs stays monotone; sweeps are write-scoped") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_lines_foreign").toString
    def df(texts: Seq[String]) = {
      import spark.implicits._
      texts.toDF("text")
        .select(lit(0L).as("doc_id"), lit("w").as("fname"), col("text")).coalesce(1)
    }
    // Existing shards that sort AFTER "part-": the exact case that used to
    // silently reassign positional doc_ids of already-ingested shards.
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "shard-000.txt"),
      "a\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "shard-001.txt"),
      "b\n".getBytes("UTF-8"))
    // A concurrent write's in-flight temp: this write's sweep must NOT
    // delete it (per-write-id scoping).
    val foreignTmp = java.nio.file.Paths.get(dir, ".graft-lines-tmp-otherjob-0-0")
    java.nio.file.Files.write(foreignTmp, "inflight\n".getBytes("UTF-8"))
    val before = graft.sources.LinesSource.listShards(dir).map(_.getName)
    df(Seq("c")).write.format("graft.sources.LinesSource").mode("append").save(dir)
    val after = graft.sources.LinesSource.listShards(dir).map(_.getName)
    assert(after.take(before.size) == before,
      s"append reordered existing shards: $after")
    assert(after.size == before.size + 1 && after == after.sorted)
    assert(after.last > before.last,
      s"new shard ${after.last} does not sort after ${before.last}")
    assert(java.nio.file.Files.exists(foreignTmp),
      "commit swept a concurrent write's in-flight temp")
    // Positional ids of the pre-existing shards are unchanged; the new row
    // lands at the next shard index.
    val rows = spark.read.format("graft.sources.LinesSource").load(dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0) >> 32, r.getString(1))).toSet
    assert(rows == Set((0L, "a"), (1L, "b"), (2L, "c")), s"ids reshuffled: $rows")
    // A second append reuses the same '~' prefix depth (no prefix growth).
    df(Seq("d")).write.format("graft.sources.LinesSource").mode("append").save(dir)
    val names = graft.sources.LinesSource.listShards(dir).map(_.getName)
    assert(names == names.sorted && names.last.takeWhile(_ == '~').length ==
      after.last.takeWhile(_ == '~').length, s"prefix grew: $names")
  }

  test("monotone prefix beats ANY last shard name (property, incl. unicode)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    // The shard-naming invariant in its pure form: for arbitrary existing
    // last names (ASCII, '~'-runs, unicode above 0x7E) and batch counters,
    // the generated full shard name sorts strictly after `last` — the
    // property positional doc_id stability rests on. The '~' search alone
    // cannot beat unicode names; the fallback (extend `last`) must.
    val gen = for {
      last <- Gen.oneOf(
        Gen.asciiPrintableStr,
        Gen.listOf(Gen.oneOf('~', '~', 'z', 'é', '世', '\uD83D')).map(_.mkString),
        Gen.const(""))
      batch <- Gen.chooseNum(0, 1000000)
    } yield (last, batch)
    val prop = forAll(gen) { case (last: String, batch: Int) =>
      val name = f"${graft.sources.LinesSource.monotonePrefix(last, batch)}part-$batch%06d-00000.txt"
      name > last
    }
    org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(500), prop).passed match {
      case true => ()
      case false => fail("monotonePrefix violated the sort-after invariant")
    }
  }

  test("LinesSource pushes doc_id filters and prunes columns in the scan") {
    val p = stageShards(Seq(Seq("x", "y", "z")))
    val q = readLinesSrc(p)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 2L)
      .select("text")
    assert(q.collect().map(_.getString(0)).toSet == Set("x", "y"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters=[") && scan.contains("LessThan(doc_id,2)"),
      s"doc_id filter not pushed: $scan")
    // the filter is FULLY pushed, so Spark prunes doc_id away entirely:
    // the reader materializes exactly one column.
    assert(scan.contains("ReadSchema=text,") || scan.matches("(?s).*ReadSchema=text[ ,].*"),
      s"column pruning failed: $scan")
  }

  test("AvroIO roundtrip preserves the Spark schema exactly (names, types, nullability) and values incl. nulls") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = true),
      StructField("x", DoubleType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("ok", BooleanType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("b", BinaryType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("day", DateType, nullable = true)))
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:20:30.123456")
    val rows = Seq(
      Row(1L, 7, 2.5, 1.25f, true, "héllo", Array[Byte](0, 1, -1), ts,
        java.sql.Date.valueOf("2024-02-29")),
      Row(2L, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = java.nio.file.Files.createTempDirectory("avroio").toString
    graft.sources.AvroIO.write(df, out)
    val back = graft.sources.AvroIO.read(spark, out)
    assert(back.schema == schema,
      s"schema drift:\n  wrote ${schema.treeString}\n  read ${back.schema.treeString}")
    val got = back.collect().map(r => (r.getLong(0),
      Option(r.get(6)).map(_.asInstanceOf[Array[Byte]].toSeq), r.get(7), r.get(8),
      r.get(1), r.get(2), r.get(3), r.get(4), r.get(5))).sortBy(_._1)
    assert(got(0) == ((1L, Some(Seq[Byte](0, 1, -1)), ts,
      java.sql.Date.valueOf("2024-02-29"), 7, 2.5, 1.25f, true, "héllo")), s"${got(0)}")
    assert(got(1) == ((2L, None, null, null, null, null, null, null, null)))
  }

  test("AvroIO rejects foreign payloads loudly: non-avro bytes and unsupported Spark types") {
    val dir = java.nio.file.Files.createTempDirectory("avrobad")
    java.nio.file.Files.write(dir.resolve("junk.avro"),
      "not an avro container".getBytes)
    intercept[Exception] {
      graft.sources.AvroIO.read(spark, dir.toString).collect()
    }
    import org.apache.spark.sql.functions._
    val arr = graft.tables.Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("toks"))
    intercept[IllegalArgumentException] {
      graft.sources.AvroIO.write(arr, dir.toString + "_arr")
    }
  }

  test("VersionedSource: SQL-surface reads with time travel, partition pruning, and manifest-stats file skipping") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("vsrc").toString
    val tbl = s"$tmp/table"
    // file-granular: keys 1..16 in one partition a (4 range files) + 101..104 in b
    Versioned.publish(spark, tbl,
      ((1L to 16L).map(k => (k, k * 10, "a")) ++
       (101L to 104L).map(k => (k, k * 10, "b"))).toDF("k", "v", "p")
        .repartitionByRange(5, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    Versioned.merge(spark, tbl,
      Seq((2L, 21L, "a", Some("n2"), "U")).toDF("k", "v", "p", "note", "_op"),
      "k", "p") // v2 evolves the schema
    def src(opts: (String, String)*) = {
      val r = spark.read.format("graft.sources.VersionedSource")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load(tbl)
    }
    // latest == the store's own read, NULL backfill included
    val latest = src().as[(Long, Long, String, Option[String])].collect().toSet
    val direct = Versioned.read(spark, tbl)
      .as[(Long, Long, String, Option[String])].collect().toSet
    assert(latest == direct && latest.contains((2L, 21L, "a", Some("n2"))))
    // time travel: v1 has no note column at all
    val v1 = src("versionAsOf" -> "1")
    assert(v1.columns.toSeq == Seq("k", "v", "p"))
    assert(v1.as[(Long, Long, String)].collect().toSet ==
      ((1L to 16L).map(k => (k, k * 10, "a")) ++
       (101L to 104L).map(k => (k, k * 10, "b"))).toSet)
    // timestampAsOf resolves by manifest mtime
    val m1 = new java.io.File(tbl, "_manifests/1.txt")
    val m2 = new java.io.File(tbl, "_manifests/2.txt")
    val t0 = 1700000000000L
    assert(m1.setLastModified(t0) && m2.setLastModified(t0 + 1000))
    assert(src("timestampAsOf" -> t0.toString).columns.toSeq == Seq("k", "v", "p"))
    // SQL surface: temp view + spark.sql
    src("versionAsOf" -> "1").createOrReplaceTempView("vsrc_t")
    assert(spark.sql("SELECT sum(v) FROM vsrc_t WHERE p = 'a'")
      .head().getLong(0) == (1L to 16L).map(_ * 10).sum)
    // partition pruning: p = 'b' scans only b's file(s)
    val allParts = src("versionAsOf" -> "1").rdd.getNumPartitions
    val bParts = src("versionAsOf" -> "1").filter(col("p") === "b").rdd.getNumPartitions
    assert(allParts >= 5, s"expected >=5 input files, got $allParts")
    assert(bParts < allParts && bParts >= 1,
      s"partition pruning failed: $bParts of $allParts")
    // manifest-stats file skipping: a narrow key range hits one file
    val kParts = src("versionAsOf" -> "1")
      .filter(col("k") >= 5L && col("k") <= 6L).rdd.getNumPartitions
    assert(kParts < allParts,
      s"stats skipping failed: $kParts of $allParts")
    assert(src("versionAsOf" -> "1").filter(col("k") >= 5L && col("k") <= 6L)
      .as[(Long, Long, String)].collect().toSet ==
      Set((5L, 50L, "a"), (6L, 60L, "a")),
      "row-level filtering must stay exact (filters are residual)")
    // pruning is conservative, never wrong: an out-of-range key returns empty
    assert(src("versionAsOf" -> "1").filter(col("k") === 999L).count() == 0)
  }

  test("2-D file skipping on (date, string) stats: box predicates prune on both dimensions; point probes stay exact") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    import spark.implicits._
    val tmp = Files.createTempDirectory("vsrc2d").toString
    val tbl = s"$tmp/table"
    // 4 priorities × 60 dates, clustered priority-major then by date:
    // each file is a tight (priority, date-range) cell
    val rows = for {
      p <- Seq("A", "B", "C", "D"); m <- 1 to 12; d <- Seq(3, 9, 15, 21, 27)
    } yield (java.sql.Date.valueOf(f"1995-$m%02d-$d%02d"), p, m * 100L + d, 0L)
    val df = rows.toDF("dt", "prio", "v", "part")
    Versioned.publish(spark, tbl,
      df.repartitionByRange(16, col("prio"), col("dt")),
      partCol = Some("part"), fileStatsKey = Some("dt"),
      fileStatsKey2 = Some("prio"))
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val all = src.rdd.getNumPartitions
    assert(all >= 8, s"want many files, got $all")
    // date range alone prunes (epoch-day surrogate bounds)
    val dRange = src.filter(col("dt") >= to_date(lit("1995-03-01")) &&
      col("dt") <= to_date(lit("1995-04-30")))
    val dParts = dRange.rdd.getNumPartitions
    assert(dParts < all, s"date skipping failed: $dParts of $all")
    // 2-D box: the STRING second dimension prunes FURTHER (prefix
    // surrogate bounds on #statskey2 — no z-order rewrite involved)
    val box = dRange.filter(col("prio") === "B")
    val boxParts = box.rdd.getNumPartitions
    assert(boxParts < dParts, s"string dim-2 skipping failed: $boxParts vs $dParts")
    // exactness: skipping is planning-only, filters stay residual
    assert(box.as[(java.sql.Date, String, Long, Long)].collect()
      .map(_._3).sorted.toSeq ==
      rows.filter(r => r._2 == "B" &&
        !r._1.before(java.sql.Date.valueOf("1995-03-01")) &&
        !r._1.after(java.sql.Date.valueOf("1995-04-30")))
        .map(_._3).sorted)
    // a date POINT equality prunes and serves exactly one row per priority
    val pt = src.filter(col("dt") === to_date(lit("1995-06-09")))
    assert(pt.rdd.getNumPartitions < all)
    assert(pt.count() == 4)
    // conservative, never wrong: absent values return empty
    assert(src.filter(col("dt") === to_date(lit("1996-01-01"))).count() == 0)
    assert(src.filter(col("prio") > lit("D")).count() == 0)
    // string range on dim 2 alone prunes the low-priority cells
    assert(src.filter(col("prio") >= lit("C")).rdd.getNumPartitions < all)
  }

  test("multi-column partitioning: nested a=1/b=x layout, pruning on any dim, leaf-scoped merge splice, escaped values") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("vmp").toString
    val tbl = s"$tmp/table"
    // 3 years × 2 sources — one source value carries a SPACE (the
    // input_file_name %20-encoding regression: the manifest must record
    // the literal on-disk name)
    // keys UNIQUE across leaves (the store's unique-key contract): a
    // shared key would legitimately pull both sources' cells into a merge
    val rows = for { (src, si) <- Seq("web", "NOT SPECIFIED").zipWithIndex;
                     y <- 1995 to 1997; i <- 1 to 4 }
      yield (y.toLong * 1000 + si * 100 + i, y * 10L + i, y, src)
    Versioned.publish(spark, tbl, rows.toDF("k", "v", "y", "src"),
      partCol = Some("y,src"), fileStatsKey = Some("k"))
    assert(Versioned.snapshot(spark, tbl, 1).partCol.contains("y,src"))
    // nested layout on disk + leaf-granular manifest entries
    assert(Versioned.fileEntriesOf(spark, tbl, 1)
      .forall(e => e._1.matches("y=\\d+/src=.*")), "entries must be leaf dirs")
    assert(Versioned.read(spark, tbl).count() == rows.length)
    def src0 = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val all = src0.rdd.getNumPartitions
    // pruning on EITHER dimension (and both)
    val y1 = src0.filter(col("y") === 1996).rdd.getNumPartitions
    val s1 = src0.filter(col("src") === "web").rdd.getNumPartitions
    val both = src0.filter(col("y") === 1996 && col("src") === "web")
    assert(y1 < all && s1 < all, s"partition pruning failed: $y1/$s1 of $all")
    assert(both.rdd.getNumPartitions <= math.min(y1, s1))
    assert(both.as[(Long, Long, Int, String)].collect().map(_._1).sorted.toSeq ==
      rows.filter(r => r._3 == 1996 && r._4 == "web").map(_._1).sorted)
    // the escaped value reads back exactly
    assert(src0.filter(col("src") === "NOT SPECIFIED").count() == 12)
    // a merge touches only its LEAF cell; every other leaf splices
    val before = Versioned.fileEntriesOf(spark, tbl, 1).map(e => (e._1, e._3)).toSet
    val v2 = Versioned.merge(spark, tbl,
      Seq((1996001L, 999L, 1996, "web", "U")).toDF("k", "v", "y", "src", "_op"),
      "k", "y,src")
    val after = Versioned.fileEntriesOf(spark, tbl, v2).map(e => (e._1, e._3)).toSet
    val replaced = before -- after
    assert(replaced.nonEmpty && replaced.forall(_._1 == "y=1996/src=web"),
      s"merge must replace only the touched leaf, replaced: $replaced")
    assert((after -- before).forall(_._1 == "y=1996/src=web"))
    assert(Versioned.read(spark, tbl).filter(col("k") === 1996001L)
      .select("v").head().getLong(0) == 999L)
    // SQL DELETE of one leaf cell through the catalog path works the same
    Versioned.deleteWhere(spark, tbl,
      col("y") === 1995 && col("src") === "NOT SPECIFIED", "y,src")
    assert(Versioned.read(spark, tbl).count() == rows.length - 4)
  }

  test("VersionedSource reports post-pruning statistics: a pruned slice broadcasts, the full table does not") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val tmp = Files.createTempDirectory("vstats").toString
    val tbl = s"$tmp/table"
    // partition a: ~20k rows (well past a 64KB broadcast threshold on
    // disk); partition b: 10 rows
    Versioned.publish(spark, tbl,
      ((1L to 20000L).map(k => (k, k * 3, "a")) ++
       (30001L to 30010L).map(k => (k, k * 3, "b"))).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    def src() = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val fact = spark.range(1, 50000).select(col("id").as("fk"), lit(1L).as("m"))
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    try {
      // the partition-pruned slice reports ~10 rows / a few KB → broadcast
      val pruned = src().filter(col("p") === "b")
        .join(fact, col("k") === col("fk"))
      pruned.collect()
      val prunedPlan = org.apache.spark.sql.GraftSqlBridge.executedPlan(pruned).toString
      assert(prunedPlan.contains("BroadcastHashJoin"),
        s"pruned slice should broadcast on reported stats:\n${prunedPlan.take(1200)}")
      // the unpruned table reports its full size → no broadcast of the scan
      val full = src().join(fact, col("k") === col("fk"))
      full.collect()
      val fullPlan = org.apache.spark.sql.GraftSqlBridge.executedPlan(full).toString
      assert(!fullPlan.contains("BroadcastHashJoin"),
        s"full table must not broadcast under a 64KB threshold:\n${fullPlan.take(1200)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("writeStream.toTable streams into a catalog table by NAME: headers supply the layout, restart resumes exactly-once") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tmp = Files.createTempDirectory("vstt").toString
    val (stage, ckpt) = (s"$tmp/shards", s"$tmp/ckpt")
    spark.conf.set("spark.sql.catalog.gstt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstt.warehouse", s"$tmp/wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstt.ns")
    spark.sql("CREATE TABLE gstt.ns.t (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k')")
    val path = s"$tmp/wh/ns/t"
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("p", StringType)))
    def shard(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("k", "v", "p").coalesce(1).write.mode("append").parquet(stage)
    def run(): Unit = {
      // by NAME: no partCol/fileStatsKey options — the table's recorded
      // headers supply both
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream.option("checkpointLocation", ckpt)
        .toTable("gstt.ns.t")
      try q.processAllAvailable() finally q.stop()
    }
    shard(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    shard(Seq((3L, 30L, "a")))
    run()
    // one tagged APPEND version per epoch (after the CREATE v1)
    assert(Versioned.latestVersion(spark, path) == 3)
    // restart on the same checkpoint: only the new shard commits
    shard(Seq((4L, 40L, "b")))
    run()
    assert(Versioned.latestVersion(spark, path) == 4)
    assert(spark.sql("SELECT sum(v) FROM gstt.ns.t").head().getLong(0) == 100L)
    // header-derived stats: sink-written versions keep file granularity
    assert(Versioned.fileEntriesOf(spark, path, 4).nonEmpty)
    // a table WITHOUT a partition column refuses the stream loudly
    spark.sql("CREATE TABLE gstt.ns.flat (k BIGINT, v BIGINT)")
    val err = intercept[Exception] {
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream.option("checkpointLocation", s"$tmp/ckpt2")
        .toTable("gstt.ns.flat")
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage != null)
  }

  test("VersionedSink: one tagged APPEND version per epoch; checkpointed restart resumes exactly-once; adoption replays are no-ops") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tmp = Files.createTempDirectory("vsink").toString
    val (tbl, stage, ckpt) = (s"$tmp/table", s"$tmp/shards", s"$tmp/ckpt")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p")
        .repartitionByRange(2, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("p", StringType)))
    def shard(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("k", "v", "p").coalesce(1).write.mode("append").parquet(stage)
    def run(): Unit = {
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream.format("graft.sources.VersionedSink")
        .option("checkpointLocation", ckpt)
        .option("partCol", "p").option("fileStatsKey", "k")
        .start(tbl)
      try q.processAllAvailable() finally q.stop()
    }
    shard(Seq((3L, 30L, "a"), (4L, 40L, "b")))
    shard(Seq((5L, 50L, "a")))
    run()
    // one APPEND version per epoch, each carrying its idempotence tag
    assert(Versioned.latestVersion(spark, tbl) == 3)
    val hist = Versioned.history(spark, tbl).collect()
    assert(hist.count(_.getString(1) == "APPEND") == 2, hist.mkString(";"))
    // restart on the SAME checkpoint with two NEW shards: only the new
    // epochs commit — nothing from before replays
    shard(Seq((6L, 60L, "b")))
    shard(Seq((7L, 70L, "a")))
    run()
    assert(Versioned.latestVersion(spark, tbl) == 5)
    assert(Versioned.read(spark, tbl).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a"), (4L, 40L, "b"),
          (5L, 50L, "a"), (6L, 60L, "b"), (7L, 70L, "a")))
    // sink-written versions keep file granularity: per-file key stats +
    // blooms recorded, so the store's file-scoped DML keeps working
    assert(Versioned.fileEntriesOf(spark, tbl, 5).nonEmpty)
    assert(Versioned.bloomCoverage(spark, tbl, 5) == 1.0)
    val v6 = Versioned.merge(spark, tbl,
      Seq((7L, 77L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(Versioned.readAt(spark, tbl, v6).as[(Long, Long, String)]
      .collect().toSet.contains((7L, 77L, "a")))
    // the adoption primitive is replay-idempotent: a second adoptStaged
    // under a committed tag is a no-op that cleans its stage
    val dd = s"d_replay${System.nanoTime()}"
    Seq((99L, 990L, "a")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(s"$tbl/$dd")
    val vA = Versioned.adoptStaged(spark, tbl, dd, tag = Some("replay_t1"),
      fileStatsKey = Some("k"))
    val dd2 = s"d_replay2${System.nanoTime()}"
    Seq((99L, 991L, "a")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(s"$tbl/$dd2")
    val vB = Versioned.adoptStaged(spark, tbl, dd2, tag = Some("replay_t1"),
      fileStatsKey = Some("k"))
    assert(vA == vB && Versioned.latestVersion(spark, tbl) == vA,
      "a replayed tag must return the committed version, not append again")
    assert(!new java.io.File(s"$tbl/$dd2").exists(),
      "the replayed stage must be cleaned up")
    // unsupported column types are refused at PLAN time (the write
    // builder derives the parquet schema up front), not mid-stream
    val bad = intercept[IllegalArgumentException] {
      graft.sources.VersionedSinkWriter.messageTypeOf(StructType(Seq(
        StructField("k", LongType), StructField("arr", ArrayType(LongType)),
        StructField("p", StringType))), "p")
    }
    assert(bad.getMessage.contains("supported"), bad.getMessage)
  }

  test("GraftCatalog: SQL DDL/DML lifecycle, time travel, rename, loud refusals, Scala-API interleaving") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val wh = Files.createTempDirectory("graftcat").toString
    spark.conf.set("spark.sql.catalog.gcat_t", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat_t.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat_t.ns1")
    spark.sql(
      """CREATE TABLE gcat_t.ns1.t (k BIGINT, v BIGINT, p STRING)
        |PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k')""".stripMargin)
    // CREATE = empty v1 with the declared schema
    assert(spark.sql("SELECT * FROM gcat_t.ns1.t").count() == 0)
    assert(Versioned.latestVersion(spark, s"$wh/ns1/t") == 1)
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"))
      .toDF("k", "v", "p").createOrReplaceTempView("gcat_src")
    spark.sql("INSERT INTO gcat_t.ns1.t SELECT * FROM gcat_src")
    assert(spark.sql("SELECT sum(v) FROM gcat_t.ns1.t").head().getLong(0) == 60)
    // the INSERT kept file granularity on the declared stats column
    assert(Versioned.snapshot(spark, s"$wh/ns1/t", 2).meta.statsKey.contains("k"))
    assert(Versioned.fileEntriesOf(spark, s"$wh/ns1/t", 2).nonEmpty)
    // DELETE via pushed filters; VERSION AS OF still serves v2
    spark.sql("DELETE FROM gcat_t.ns1.t WHERE p = 'a' AND k > 1")
    assert(spark.sql("SELECT * FROM gcat_t.ns1.t").as[(Long, Long, String)]
      .collect().toSet == Set((1L, 10L, "a"), (3L, 30L, "b")))
    assert(spark.sql("SELECT * FROM gcat_t.ns1.t VERSION AS OF 2").count() == 3)
    // an UNCONVERTIBLE DELETE predicate routes through the row-level
    // REWRITE (SupportsRowLevelOperations) instead of failing: k=3 is
    // the only odd key left
    spark.sql("DELETE FROM gcat_t.ns1.t WHERE k % 2 = 1 AND k > 2")
    assert(spark.sql("SELECT * FROM gcat_t.ns1.t").as[(Long, Long, String)]
      .collect().toSet == Set((1L, 10L, "a")))
    // SQL UPDATE and MERGE INTO: group-based copy-on-write rewrites
    spark.sql("UPDATE gcat_t.ns1.t SET v = v * 7 WHERE k = 1")
    assert(spark.sql("SELECT v FROM gcat_t.ns1.t WHERE k = 1")
      .head().getLong(0) == 70)
    Seq((1L, 1000L, "a"), (5L, 50L, "c")).toDF("k", "v", "p")
      .createOrReplaceTempView("gcat_merge_src")
    spark.sql(
      """MERGE INTO gcat_t.ns1.t t USING gcat_merge_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT * FROM gcat_t.ns1.t").as[(Long, Long, String)]
      .collect().toSet == Set((1L, 1000L, "a"), (5L, 50L, "c")))
    // every SQL statement is one committed version with its op recorded
    assert(Versioned.history(spark, s"$wh/ns1/t").collect()
      .map(_.getString(1)).toSeq.takeRight(3) == Seq("DELETE", "UPDATE", "MERGE"))
    // the SAME table keeps working through the Scala API (one manifest
    // lineage): a file-scoped merge lands as the next version
    val v = Versioned.merge(spark, s"$wh/ns1/t",
      Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(spark.sql("SELECT * FROM gcat_t.ns1.t").as[(Long, Long, String)]
      .collect().toSet == Set((1L, 11L, "a"), (5L, 50L, "c")))
    assert(Versioned.latestVersion(spark, s"$wh/ns1/t") == v)
    // catalog inventory + rename + drop
    assert(spark.sql("SHOW TABLES IN gcat_t.ns1").collect()
      .exists(_.getString(1) == "t"))
    spark.sql("ALTER TABLE gcat_t.ns1.t RENAME TO ns1.t2")
    assert(spark.sql("SELECT count(*) FROM gcat_t.ns1.t2").head().getLong(0) == 2)
    intercept[Exception] { spark.sql("SELECT * FROM gcat_t.ns1.t").collect() }
    spark.sql("DROP TABLE gcat_t.ns1.t2")
    assert(spark.sql("SHOW TABLES IN gcat_t.ns1").isEmpty)
  }

  test("SQL MERGE INTO is file-scoped: the runtime group filter keeps unmatched files spliced") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graftrgf").toString
    spark.conf.set("spark.sql.catalog.gcat_r", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat_r.warehouse", wh)
    spark.sql("CREATE NAMESPACE gcat_r.ns")
    spark.sql(
      """CREATE TABLE gcat_r.ns.m (k BIGINT, v BIGINT, p STRING)
        |PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k')""".stripMargin)
    (1L to 64L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
      .repartition(8).createOrReplaceTempView("rgf_src")
    spark.sql("INSERT INTO gcat_r.ns.m SELECT * FROM rgf_src")
    val before = Versioned.fileEntriesOf(spark, s"$wh/ns/m", 2).toSet
    assert(before.size >= 4, s"need several files to prove scoping: $before")
    // source touches ONE key: the runtime group filter must confine the
    // copy-on-write rewrite to the file(s) that can contain it
    Seq((7L, 777L, "a")).toDF("k", "v", "p").createOrReplaceTempView("rgf_batch")
    spark.sql(
      """MERGE INTO gcat_r.ns.m t USING rgf_batch s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = Versioned.fileEntriesOf(spark, s"$wh/ns/m", 3).toSet
    val spliced = before intersect after
    val replaced = before -- after
    assert(replaced.nonEmpty && spliced.nonEmpty &&
      replaced.size <= math.max(2, before.size / 2),
      s"merge of one key must not rewrite the table: replaced ${replaced.size} " +
        s"of ${before.size} files")
    // and the content is exact
    assert(spark.sql("SELECT sum(v) FROM gcat_r.ns.m").head().getLong(0) ==
      (1L to 64L).map(_ * 10).sum - 70 + 777)
    // TRUNCATE rides the delete path (AlwaysTrue); the emptied version
    // still serves the schema, and the table accepts fresh INSERTs
    spark.sql("TRUNCATE TABLE gcat_r.ns.m")
    assert(spark.sql("SELECT * FROM gcat_r.ns.m").count() == 0)
    assert(spark.sql("SELECT * FROM gcat_r.ns.m").columns.toSeq == Seq("k", "v", "p"))
    spark.sql("INSERT INTO gcat_r.ns.m VALUES (100L, 1L, 'z')")
    assert(spark.sql("SELECT * FROM gcat_r.ns.m").count() == 1)
  }

  test("SQL MERGE WHEN NOT MATCHED BY SOURCE: Spark's native clause drives the group-based rewrite exactly") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graftnmbs").toString
    spark.conf.set("spark.sql.catalog.gcat_n", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat_n.warehouse", wh)
    spark.sql("CREATE NAMESPACE gcat_n.ns")
    spark.sql(
      """CREATE TABLE gcat_n.ns.m (k BIGINT, v BIGINT, p STRING)
        |PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k')""".stripMargin)
    (1L to 40L).map(k => (k, k * 10, if (k <= 20) "a" else "b"))
      .toDF("k", "v", "p").repartition(4).createOrReplaceTempView("nmbs_seed")
    spark.sql("INSERT INTO gcat_n.ns.m SELECT * FROM nmbs_seed")
    // mirror: keep keys 1..25 (bump 7), insert 100, delete 26..40
    (1L to 25L).map(k => (k, if (k == 7) 777L else k * 10,
      if (k <= 20) "a" else "b")).toDF("k", "v", "p")
      .union(Seq((100L, 1000L, "c")).toDF("k", "v", "p"))
      .createOrReplaceTempView("nmbs_src")
    spark.sql(
      """MERGE INTO gcat_n.ns.m t USING nmbs_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gcat_n.ns.m ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    val want = (1L to 25L).map(k => (k, if (k == 7) 777L else k * 10)) :+
      ((100L, 1000L))
    assert(got == want, s"mirror mismatch: $got")
    // the UPDATE variant of the clause
    spark.sql(
      """MERGE INTO gcat_n.ns.m t USING (SELECT * FROM nmbs_src WHERE k <= 10) s
        |ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gcat_n.ns.m WHERE v = -1")
      .head().getLong(0) == 16) // keys 11..25 + 100
  }

  test("merge NOT MATCHED BY SOURCE: mirror delete / flag update, and an all-keys-present source rewrites nothing extra") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val tmp = Files.createTempDirectory("vnms").toString
    val tbl = s"$tmp/table"
    val rows = for { y <- 1995 to 1998; i <- 1 to 8 }
      yield (y.toLong * 100 + i, y * 10L + i, y)
    Versioned.publish(spark, tbl, rows.toDF("k", "v", "y"),
      partCol = Some("y"), fileStatsKey = Some("k"))
    def entriesOf(v: Int) =
      Versioned.fileEntriesOf(spark, tbl, v).map(e => (e._1, e._2, e._3)).toSet
    val before = entriesOf(1)
    // 1) THE SCOPING PIN: a full-sync source covering EVERY key ('K'
    //    membership rows, one real 'U' in 1996) with the DELETE clause —
    //    only 1996's files rewrite; every other partition SPLICES
    val full = rows.map { case (k, v, y) =>
      (k, if (k == 199601L) 999L else v, y, if (k == 199601L) "U" else "K") }
      .toDF("k", "v", "y", "_op")
    val v2 = Versioned.merge(spark, tbl, full, "k", "y",
      notMatchedBySource = Some(Versioned.NotMatchedBySource.Delete))
    val replaced = before -- entriesOf(v2)
    assert(replaced.nonEmpty && replaced.forall(_._1 == "y=1996"),
      s"all-keys-present full sync must rewrite ONLY the updated " +
        s"partition, replaced: $replaced")
    assert(Versioned.read(spark, tbl).count() == rows.length,
      "all-keys-present source must delete nothing")
    assert(Versioned.read(spark, tbl).filter(col("k") === 199601L)
      .head().getLong(1) == 999L)
    // 2) mirror sync: the source names only 1995's odd keys — everything
    //    else is NOT MATCHED BY SOURCE and vanishes
    val keepHalf = rows.filter { case (k, _, y) => y == 1995 && k % 2 == 1 }
      .map { case (k, v, y) => (k, v, y, "K") }.toDF("k", "v", "y", "_op")
    Versioned.merge(spark, tbl, keepHalf, "k", "y",
      notMatchedBySource = Some(Versioned.NotMatchedBySource.Delete))
    assert(Versioned.read(spark, tbl).as[(Long, Long, Int)].collect()
      .map(_._1).sorted.toSeq ==
      rows.filter { case (k, _, y) => y == 1995 && k % 2 == 1 }.map(_._1).sorted,
      "mirror sync must leave exactly the source's key set")
    // 3) the UPDATE variant: flag rows absent from the source; only the
    //    partitions HOLDING unmatched rows rewrite
    val t2 = s"$tmp/table2"
    Versioned.publish(spark, t2, rows.toDF("k", "v", "y"),
      partCol = Some("y"), fileStatsKey = Some("k"))
    val srcAll = rows.filter(_._3 != 1997)
      .map { case (k, v, y) => (k, v, y, "K") }.toDF("k", "v", "y", "_op")
    val t2before = Versioned.fileEntriesOf(spark, t2, 1)
      .map(e => (e._1, e._2, e._3)).toSet
    val v2b = Versioned.merge(spark, t2, srcAll, "k", "y",
      notMatchedBySource = Some(Versioned.NotMatchedBySource.Update(
        Map("v" -> lit(-1L)))))
    val t2replaced = t2before -- Versioned.fileEntriesOf(spark, t2, v2b)
      .map(e => (e._1, e._2, e._3)).toSet
    assert(t2replaced.nonEmpty && t2replaced.forall(_._1 == "y=1997"),
      s"flag update must rewrite only the unmatched partition: $t2replaced")
    val flagged = Versioned.read(spark, t2).filter(col("v") === -1L)
      .as[(Long, Long, Int)].collect()
    assert(flagged.map(_._1).sorted.toSeq ==
      rows.filter(_._3 == 1997).map(_._1).sorted,
      "exactly the source-less rows must be flagged")
    assert(Versioned.read(spark, t2).count() == rows.length)
    // 4) the UPDATE variant ASSIGNING THE PARTITION COLUMN: unmatched
    //    rows MOVE — the partitions they leave are in the rewrite scope,
    //    and they land as new entries in the assigned partition
    val t3 = s"$tmp/table3"
    Versioned.publish(spark, t3, rows.toDF("k", "v", "y"),
      partCol = Some("y"), fileStatsKey = Some("k"))
    val v3b = Versioned.merge(spark, t3, srcAll, "k", "y",
      notMatchedBySource = Some(Versioned.NotMatchedBySource.Update(
        Map("v" -> lit(-1L), "y" -> lit(2001)))))
    val moved = Versioned.read(spark, t3).filter(col("y") === 2001)
      .as[(Long, Long, Int)].collect()
    assert(moved.forall(_._2 == -1L) && moved.map(_._1).sorted.toSeq ==
      rows.filter(_._3 == 1997).map(_._1).sorted,
      "source-less rows must move to the assigned partition with the flag")
    assert(Versioned.read(spark, t3).filter(col("y") === 1997).count() == 0)
    assert(Versioned.read(spark, t3).count() == rows.length)
    // type-changing assignments and unknown ops are refused loudly
    val err = intercept[IllegalArgumentException](Versioned.merge(spark, t2,
      srcAll, "k", "y",
      notMatchedBySource = Some(Versioned.NotMatchedBySource.Update(
        Map("v" -> lit("oops"))))))
    assert(err.getMessage.contains("preserve column types"), err.getMessage)
    val err2 = intercept[IllegalArgumentException](Versioned.merge(
      spark, tbl, keepHalf.withColumn("_op", lit("X")), "k", "y"))
    assert(err2.getMessage.contains("allowed"), err2.getMessage)
  }

  test("merge NOT MATCHED BY SOURCE: a partition-moving Update also moves NULL-keyed target rows") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // partition-granular (no file stats), so the target can hold a NULL key
    val tbl = Files.createTempDirectory("vnmsnull").toString + "/table"
    Versioned.publish(spark, tbl,
      Seq((Option(1L), 10L, 1995), (Option(2L), 20L, 1995), (Option.empty[Long], 30L, 1996))
        .toDF("k", "v", "y"), partCol = Some("y"))
    // every non-NULL key is in the source: the NULL-keyed row is the only
    // source-less row, and the only one landing in y=2001
    val v = Versioned.merge(spark, tbl,
      Seq((1L, 10L, 1995, "K"), (2L, 20L, 1995, "K")).toDF("k", "v", "y", "_op"), "k", "y",
      notMatchedBySource = Some(Versioned.NotMatchedBySource.Update(Map("y" -> lit(2001)))))
    assert(Versioned.readAt(spark, tbl, v).as[(Option[Long], Long, Int)].collect().toSet ==
      Set((Option(1L), 10L, 1995), (Option(2L), 20L, 1995), (Option.empty[Long], 30L, 2001)))
  }

  test("merge refuses a source key of another type than the target's, in both scopes; integral widths still match") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    val tmp = Files.createTempDirectory("vkeytype").toString
    // partition scope: decimal(10,2) target keys never equal decimal(12,0)
    // source keys on the driver (BigDecimal.equals compares the scale), so
    // the U on an existing key would be silently lost
    val dec = s"$tmp/dec"
    Versioned.publish(spark, dec, Seq((1L, 10L, "a"), (2L, 20L, "a")).toDF("k", "v", "p")
      .withColumn("k", col("k").cast(DecimalType(10, 2))), partCol = Some("p"))
    val e1 = intercept[IllegalArgumentException](Versioned.merge(spark, dec,
      Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op")
        .withColumn("k", col("k").cast(DecimalType(12, 0))), "k", "p"))
    assert(e1.getMessage.contains("decimal(12,0)") && e1.getMessage.contains("decimal(10,2)"),
      e1.getMessage)
    // file scope: an int source key against a string-keyed table
    val str = s"$tmp/str"
    Versioned.publish(spark, str, Seq(("1", 10L, "a"), ("2", 20L, "a")).toDF("k", "v", "p"),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val e2 = intercept[IllegalArgumentException](Versioned.merge(spark, str,
      Seq((1, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p"))
    assert(e2.getMessage.contains("int") && e2.getMessage.contains("string"), e2.getMessage)
    // integral widths compare by value: an int source key updates a long key
    val lng = s"$tmp/long"
    Versioned.publish(spark, lng, Seq((1L, 10L, "a")).toDF("k", "v", "p"),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val intSrc = Seq((1, 11L, "a", "U")).toDF("k", "v", "p", "_op")
    Versioned.merge(spark, lng, intSrc, "k", "p")
    Versioned.merge(spark, lng, intSrc.withColumn("v", col("v") + 1), "k", "p")
    assert(Versioned.read(spark, lng).as[(Long, Long, String)].collect().toSeq ==
      Seq((1L, 12L, "a")))
  }

  test("null-count file skipping: IS NULL skips null-free files, IS NOT NULL and ranges skip all-null files") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("vnull").toString
    val tbl = s"$tmp/table"
    // one partition, two planted task files: keys 1..50 with dt VALUES,
    // keys 51..100 with dt NULL — repartitionByRange on k splits them
    val rows = (1L to 100L).map(k =>
      (k, if (k <= 50) java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1)
        .plusDays(k).toString) else null, 0L))
    Versioned.publish(spark, tbl,
      rows.toDF("k", "dt", "p").repartitionByRange(2, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"),
      fileStatsCols = Seq("dt"))
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val all = src.rdd.getNumPartitions
    assert(all == 2, s"want exactly the two planted files, got $all")
    // IS NULL: the null-free file (nullCount = 0) skips
    val isNull = src.filter(col("dt").isNull)
    assert(isNull.rdd.getNumPartitions == 1,
      s"IS NULL must skip the null-free file: ${isNull.rdd.getNumPartitions}")
    assert(isNull.count() == 50)
    // IS NOT NULL: the all-null file (nullCount = rows) skips
    val notNull = src.filter(col("dt").isNotNull)
    assert(notNull.rdd.getNumPartitions == 1,
      s"IS NOT NULL must skip the all-null file: ${notNull.rdd.getNumPartitions}")
    assert(notNull.count() == 50)
    // a RANGE on the dimension skips the provably all-null file too
    val band = src.filter(col("dt") >= java.sql.Date.valueOf("1995-01-10"))
    assert(band.rdd.getNumPartitions == 1,
      s"range must skip the all-null file: ${band.rdd.getNumPartitions}")
    assert(band.count() == 42) // k in 9..50 (1995-01-01 + k >= 1995-01-10)
    // `key IS NULL` matches nothing on a file-granular table (keys are
    // non-null by contract): every file skips
    assert(src.filter(col("k").isNull).rdd.getNumPartitions == 0)
  }

  test("row-group skipping: pushed bounds skip row groups inside a surviving file from footer stats alone") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("vrg").toString
    val tbl = s"$tmp/table"
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 4096) // force MANY row groups per file
    try {
      val rows = (0L until 20000L).map(k =>
        (k, if (k < 10000) null else "Z" + (k % 7), 0L))
      Versioned.publish(spark, tbl,
        rows.toDF("k", "s", "p")
          .repartitionByRange(1, col("k")).sortWithinPartitions("k"),
        partCol = Some("p"), fileStatsKey = Some("k"),
        fileStatsCols = Seq("s"))
      def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
      assert(src.rdd.getNumPartitions == 1, "want exactly one planned file")
      // (rows, row groups decoded, row groups skipped) of one counting
      // run, the counts read from that run's executed scan metrics
      val aqe = new AdaptiveSparkPlanHelper {}
      def countScan(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
        val counted = df.groupBy().count()
        val n = counted.collect().head.getLong(0)
        val scan = aqe.collect(org.apache.spark.sql.GraftSqlBridge.executedPlan(counted)) {
          case b: BatchScanExec => b
        }.head
        (n, scan.metrics("decodedRowGroups").value, scan.metrics("skippedRowGroups").value)
      }
      // k >= 0 keeps this a DATA read (an unfiltered count would be
      // answered from the manifest and decode nothing)
      val (all, totalGroups, skippedNone) = countScan(src.filter(col("k") >= 0))
      assert(all == 20000)
      assert(totalGroups >= 4, s"need several row groups, got $totalGroups")
      assert(skippedNone == 0)
      // a key band covering ~1.5% of the file decodes a fraction of its
      // groups — the footer-stats tier below manifest file pruning
      val (band, bandDecoded, bandSkipped) =
        countScan(src.filter(col("k") >= 100 && col("k") <= 400))
      assert(band == 301)
      assert(bandDecoded < totalGroups / 2,
        s"row groups not skipped: $bandDecoded of $totalGroups")
      assert(bandSkipped > 0)
      // string lower bound: only the non-null tail's groups decode
      val (tail, tailDecoded, _) = countScan(src.filter(col("s") >= "Z"))
      assert(tail == 10000)
      assert(tailDecoded < totalGroups,
        "string bound must skip the null-prefix groups")
      // IS NOT NULL: the all-null half's groups skip on numNulls alone
      val (valued, valuedDecoded, _) = countScan(src.filter(col("s").isNotNull))
      assert(valued == 10000)
      assert(valuedDecoded < totalGroups)
      // IS NULL: the all-valued half's groups skip
      val (nulls, nullsDecoded, _) = countScan(src.filter(col("s").isNull))
      assert(nulls == 10000)
      assert(nullsDecoded < totalGroups)
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
  }

  test("versioned read: a column outside the decoder's types is refused at planning, naming it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = Files.createTempDirectory("vdec").toString + "/table"
    Versioned.publish(spark, tbl,
      Seq((1L, "1.50"), (2L, "2.25"), (3L, null)).toDF("k", "d")
        .select(col("k"), col("d").cast("decimal(10,2)").as("d")))
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    var err: IllegalArgumentException = null
    val jobs = jobsDuring {
      err = intercept[IllegalArgumentException](src.select("k", "d").collect())
    }
    assert(jobs.isEmpty, s"the refusal must come before any job: ${jobs.mkString("; ")}")
    assert(err.getMessage.contains("column d is decimal(10,2)") &&
      err.getMessage.contains("supported:"), err.getMessage)
    // a projection without the column reads every row
    assert(src.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("partition evolution: header-only spec change, mixed-layout reads, row-level DML while mixed, value-DML refusal, repartition normalizes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val wh = Files.createTempDirectory("gevo").toString
    spark.conf.set("spark.sql.catalog.gevo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gevo.warehouse", wh)
    spark.sql("CREATE NAMESPACE gevo.ns")
    spark.sql(
      """CREATE TABLE gevo.ns.t (k BIGINT, v BIGINT, r STRING, y BIGINT)
        |PARTITIONED BY (y) TBLPROPERTIES ('statskey' = 'k')""".stripMargin)
    val path = s"$wh/ns/t"
    // 40 rows: y in 1995/1996 × r in a/b, r is a DATA column under (y)
    (for { y <- Seq(1995L, 1996L); r <- Seq("a", "b"); i <- 1 to 10 }
      yield ((y - 1990) * 100 + (if (r == "a") 0 else 50) + i, i.toLong, r, y))
      .toDF("k", "v", "r", "y").createOrReplaceTempView("gevo_seed")
    spark.sql("INSERT INTO gevo.ns.t SELECT * FROM gevo_seed")
    // EVOLVE the spec header-only: files untouched
    val vE = spark.sql("CALL gevo.sys.evolve_partitioning('ns.t', 'y,r')")
      .head().getInt(0)
    assert(Versioned.snapshot(spark, path, vE).partCol.contains("y,r"))
    assert(!Versioned.snapshot(spark, path, vE).uniformLayout)
    // value-scoped DML refuses LOUDLY while layouts are mixed
    val err = intercept[IllegalStateException](Versioned.deleteWhere(
      spark, path, col("y") === 1995L, "y,r"))
    assert(err.getMessage.contains("mid-partition-evolution"), err.getMessage)
    // a NEW insert lands in the nested layout immediately
    spark.sql("INSERT INTO gevo.ns.t SELECT 200 + id AS k, id AS v, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS r, CAST(1997 AS BIGINT) AS y " +
      "FROM range(0, 20)")
    val latest1 = Versioned.latestVersion(spark, path)
    val dirs = Versioned.fileEntriesOf(spark, path, latest1).map(_._1).toSet
    assert(dirs.exists(_.matches("y=1997/r=[ab]")), s"new layout missing: $dirs")
    assert(dirs.exists(_.matches("y=199[56]")), s"old layout missing: $dirs")
    // mixed reads: exact on either dimension; r prunes NEW entries only
    // (old entries decode r from file bytes and stay planned — residual
    // filters keep them exact)
    def src = spark.read.format("graft.sources.VersionedSource").load(path)
    assert(src.filter(col("r") === "a").count() == 30) // 20 old + 10 new
    val all = src.rdd.getNumPartitions
    assert(src.filter(col("y") === 1997L && col("r") === "b")
      .rdd.getNumPartitions < all)
    assert(src.filter(col("y") === 1997L && col("r") === "b").count() == 10)
    // SQL row-level DML is evolution-safe (entry-identity splice):
    // UPDATE while mixed
    spark.sql("UPDATE gevo.ns.t SET v = 999 WHERE k = 501")
    assert(spark.sql("SELECT v FROM gevo.ns.t WHERE k = 501")
      .head().getLong(0) == 999L)
    // SQL DELETE while mixed: canDeleteWhere declines (mixed) and Spark
    // routes to the row-level rewrite — exact
    spark.sql("DELETE FROM gevo.ns.t WHERE y = 1995 AND r = 'b'")
    assert(spark.sql("SELECT count(*) FROM gevo.ns.t").head().getLong(0) == 50)
    // REPARTITION normalizes every file into the current spec — and
    // SPLICES files already conforming (post-evolution ingests/rewrites
    // keep their identity: same partDir/dataDir/file in the new version,
    // no byte-identical re-shuffle)
    val vPre = Versioned.latestVersion(spark, path)
    val conformingPre = Versioned.fileEntriesOf(spark, path, vPre)
      .filter(_._1.matches("y=\\d+/r=[ab]")).toSet
    assert(conformingPre.nonEmpty, "test shape: some entries already conform")
    spark.sql("CALL gevo.sys.repartition('ns.t')")
    val vR = Versioned.latestVersion(spark, path)
    assert(Versioned.snapshot(spark, path, vR).uniformLayout)
    val entriesPost = Versioned.fileEntriesOf(spark, path, vR).toSet
    assert(conformingPre.subsetOf(entriesPost),
      s"conforming entries must splice unchanged; lost: ${conformingPre -- entriesPost}")
    assert(Versioned.fileEntriesOf(spark, path, vR)
      .forall(_._1.matches("y=\\d+/r=[ab]")))
    assert(spark.sql("SELECT count(*) FROM gevo.ns.t").head().getLong(0) == 50)
    assert(spark.sql("SELECT sum(v) FROM gevo.ns.t WHERE k = 501")
      .head().getLong(0) == 999L)
    // value-scoped DML works again after normalization
    Versioned.deleteWhere(spark, path, col("y") === 1996L && col("r") === "a", "y,r")
    assert(spark.sql("SELECT count(*) FROM gevo.ns.t").head().getLong(0) == 40)
    // time travel BEFORE the evolution serves the old spec
    assert(Versioned.snapshot(spark, path, 2).partCol.contains("y"))
  }

  test("metadata-only COUNT(*): unfiltered counts come from the manifest (DV-exact), filters and groupings fall back to data") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("vcnt").toString
    val tbl = s"$tmp/table"
    val rows = (1L to 500L).map(k => (k, k * 2, (k % 4).toString))
    Versioned.publish(spark, tbl,
      rows.toDF("k", "v", "p").repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    Versioned.deleteKeys(spark, tbl, Seq(7L, 8L, 9L))
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    // the unfiltered global count plans the manifest scan — no data file
    val cnt = src.count()
    assert(cnt == 497L)
    val plan = src.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("GraftManifestAgg"),
      s"count must be served from the manifest:\n$plan")
    // SQL surface through a temp view, time travel included
    src.createOrReplaceTempView("vcnt_t")
    assert(spark.sql("SELECT count(*) FROM vcnt_t").head().getLong(0) == 497L)
    assert(spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", "1").load(tbl).count() == 500L)
    // MIN/MAX of the stats key: metadata-exact ONLY while no DV exists
    // (a DV could have deleted the extremum) — v1 serves them from
    // bounds, the DV'd latest falls back to data and stays exact
    val v1 = spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", "1").load(tbl)
    val mmPlan = v1.groupBy().agg(
        org.apache.spark.sql.functions.min("k"),
        org.apache.spark.sql.functions.max("k"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .queryExecution.executedPlan.toString
    assert(mmPlan.contains("GraftManifestAgg"),
      s"min/max/count must be served from the manifest on v1:\n$mmPlan")
    assert(v1.agg(org.apache.spark.sql.functions.min("k"),
      org.apache.spark.sql.functions.max("k")).head().toSeq == Seq(1L, 500L))
    assert(!src.groupBy().agg(org.apache.spark.sql.functions.min("k"))
      .queryExecution.executedPlan.toString.contains("GraftManifestAgg"),
      "a DV'd version must not serve extrema from bounds")
    assert(src.agg(org.apache.spark.sql.functions.min("k")).head().getLong(0) == 1L)
    // a FILTERED count must NOT ride the shortcut (filters stay residual
    // here, so a metadata answer would be wrong) — and stays exact
    val filtered = src.filter(col("k") <= 100)
    assert(!filtered.groupBy().count().queryExecution.executedPlan.toString
      .contains("GraftManifestAgg"))
    assert(filtered.count() == 97L) // 100 minus deleted 7,8,9
    // grouped counts fall back too
    assert(!src.groupBy("p").count().queryExecution.executedPlan.toString
      .contains("GraftManifestAgg"))
    // min/max of a NON-key column falls back (no recorded bounds)
    assert(!src.groupBy().agg(org.apache.spark.sql.functions.max("v"))
      .queryExecution.executedPlan.toString.contains("GraftManifestAgg"))
    assert(src.agg(org.apache.spark.sql.functions.max("v")).head().getLong(0) == 1000L)
    // a DIR-granular table has no per-file row counts: data path
    val t2 = s"$tmp/table2"
    Versioned.publish(spark, t2, rows.toDF("k", "v", "p"), partCol = Some("p"))
    val src2 = spark.read.format("graft.sources.VersionedSource").load(t2)
    assert(!src2.groupBy().count().queryExecution.executedPlan.toString
      .contains("GraftManifestAgg"))
    assert(src2.count() == 500L)
  }

  test("string-range partition pruning: directory values compare raw, null leaves obey bounds and null-ness") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("vsrp").toString
    val tbl = s"$tmp/table"
    val rows = for { pr <- Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW");
                     i <- 1 to 4 }
      yield (pr.head.toLong * 100 + i, i.toLong, pr)
    val withNull = rows.toDF("k", "v", "prio")
      .unionByName(Seq((900L, 9L, null.asInstanceOf[String]))
        .toDF("k", "v", "prio"))
    Versioned.publish(spark, tbl, withNull, partCol = Some("prio"))
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val all = src.rdd.getNumPartitions
    // upper/lower bounds prune leaves by RAW string comparison
    val hi = src.filter(col("prio") >= "4")
    assert(hi.rdd.getNumPartitions < all,
      s"string lower bound must prune: ${hi.rdd.getNumPartitions} of $all")
    assert(hi.count() == 8) // 4-NOT SPECIFIED + 5-LOW
    val lo = src.filter(col("prio") <= "2-HIGH")
    assert(lo.rdd.getNumPartitions < all)
    assert(lo.count() == 8) // 1-URGENT + 2-HIGH
    val mid = src.filter(col("prio") > "1-URGENT" && col("prio") < "4")
    assert(mid.count() == 8) // 2-HIGH + 3-MEDIUM (closed-bound slack keeps boundary leaves planned, rows stay exact)
    // the NULL leaf: excluded by any bound, kept only by IS NULL
    assert(src.filter(col("prio").isNull).count() == 1)
    assert(src.filter(col("prio").isNull).rdd.getNumPartitions == 1,
      "IS NULL must plan only the default-partition leaf")
    assert(src.filter(col("prio").isNotNull).rdd.getNumPartitions == all - 1,
      "IS NOT NULL must drop the default-partition leaf")
  }
}
