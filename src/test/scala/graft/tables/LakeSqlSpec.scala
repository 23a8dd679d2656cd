package graft.tables

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** Round-15/16 surfaces: manifest delta commits + (parquet) checkpoints,
  * the SQL-callable maintenance procedures (CALL), atomic CTAS, SQL
  * ALTER TABLE ADD/RENAME/DROP COLUMN (column mapping), and the
  * append-mode table-tail streaming source.
  */
class LakeSqlSpec extends SparkSpec {
  import spark.implicits._

  test("delta commits: commit bytes ∝ changed entries, checkpoint bounds the chain, snapshots read across the boundary, vacuum keeps live chains") {
    val tbl = Files.createTempDirectory("mlog").toString + "/t"
    val base = (1L to 200L).map(k => (k, k * 10, (k % 4).toString))
    Versioned.publish(spark, tbl, base.toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    // 20 single-key DV deletes: each commit's entry delta is a couple of
    // entries out of ~16, so every commit but the forced checkpoint
    // should write a DELTA manifest.
    (1 to 20).foreach(i => Versioned.deleteKeys(spark, tbl, Seq(i * 7L)))
    assert(Versioned.latestVersion(spark, tbl) == 21)
    def mlen(v: Int) = new java.io.File(tbl, s"_manifests/$v.txt").length()
    // v2 is a delta on v1; bytes well under the full form
    assert(Versioned.snapshot(spark, tbl, 2).meta.base.contains((1, 1)))
    assert(mlen(2) < mlen(1) / 3,
      s"delta manifest ${mlen(2)}B should be far under the full ${mlen(1)}B")
    // depth grows 1..MaxChainDepth, then the next commit checkpoints
    assert(Versioned.snapshot(spark, tbl, 17).meta.base.contains((16, Versioned.MaxChainDepth)))
    assert(Versioned.snapshot(spark, tbl, 18).meta.base.isEmpty, "v18 must be a full checkpoint")
    assert(Versioned.snapshot(spark, tbl, 19).meta.base.contains((18, 1)))
    // snapshot correctness across the checkpoint boundary, and time travel
    val gone = (1 to 20).map(_ * 7L).toSet
    def state(v: Int) = Versioned.readAt(spark, tbl, v)
      .as[(Long, Long, String)].collect()
      .map { case (k, v2, p) => k -> (v2, p) }.toMap
    assert(state(21).keySet == base.map(_._1).toSet -- gone)
    assert(state(18).keySet == base.map(_._1).toSet -- (1 to 17).map(_ * 7L))
    assert(state(1).keySet == base.map(_._1).toSet)
    // vacuum to the latest only: its resolution chain (21→20→19→18) keeps
    // its manifests; everything older is swept; content is unaffected
    Versioned.vacuum(spark, tbl, keep = Set(21), retentionMs = 0)
    assert(state(21).keySet == base.map(_._1).toSet -- gone)
    Seq(18, 19, 20).foreach(v => assert(
      new java.io.File(tbl, s"_manifests/$v.txt").exists(), s"chain link v$v swept"))
    Seq(1, 2, 17).foreach(v => assert(
      !new java.io.File(tbl, s"_manifests/$v.txt").exists(), s"v$v should be vacuumed"))
    val err = intercept[IllegalArgumentException](Versioned.readAt(spark, tbl, 17))
    assert(err.getMessage.contains("vacuumed"), err.getMessage)
  }

  test("CALL procedures: history, optimize, zorder, restore, vacuum, table_changes over a catalog table") {
    val wh = Files.createTempDirectory("gwh").toString
    spark.conf.set("spark.sql.catalog.gproc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gproc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gproc.ns")
    spark.sql("CREATE TABLE gproc.ns.t (k BIGINT, v BIGINT, p BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k')")
    // Two small inserts → small files for optimize to pack
    spark.sql("INSERT INTO gproc.ns.t SELECT id AS k, id * 10 AS v, id % 2 AS p FROM range(0, 40)")
    spark.sql("INSERT INTO gproc.ns.t SELECT id AS k, id * 10 AS v, id % 2 AS p FROM range(40, 80)")
    val path = s"$wh/ns/t"
    assert(Versioned.latestVersion(spark, path) == 3)
    // history: one row per committed version, driver metadata only
    val hist = spark.sql("CALL gproc.sys.history('ns.t')").collect()
    assert(hist.length == 3 && hist.map(_.getString(1)).count(_ == "APPEND") == 2)
    // optimize: packs the two appends' files; content identical
    val vOpt = spark.sql("CALL gproc.sys.optimize(tbl => 'ns.t', target_rows => 1000)")
      .head().getInt(0)
    assert(vOpt == 4)
    assert(spark.sql("SELECT sum(v) FROM gproc.ns.t").head().getLong(0) ==
      (0L until 80L).map(_ * 10).sum)
    assert(Versioned.fileEntriesOf(spark, path, vOpt).size <
      Versioned.fileEntriesOf(spark, path, 3).size)
    // zorder: clustered rewrite recording bounds for BOTH columns
    val vZ = spark.sql("CALL gproc.sys.zorder('ns.t', 'v', 2)").head().getInt(0)
    assert(vZ == 5 && Versioned.snapshot(spark, path, vZ).meta.statsKey2.contains("v"))
    // restore: roll back to the pre-optimize state as a NEW version
    val vR = spark.sql("CALL gproc.sys.restore('ns.t', 3)").head().getInt(0)
    assert(vR == 6)
    assert(spark.sql("SELECT count(*) FROM gproc.ns.t").head().getLong(0) == 80L)
    // table_changes: recorded CDC images via a Scala-side recording merge
    // (SQL and Scala users share the same manifests)
    val vM = Versioned.merge(spark, path,
      Seq((0L, 999L, 0L, "U"), (1000L, 1L, 1L, "I")).toDF("k", "v", "p", "_op"),
      "k", "p", recordChanges = true)
    val feed = spark.sql(s"CALL gproc.sys.table_changes('ns.t', ${vM - 1}, $vM)").collect()
    assert(feed.map(r => (r.getLong(0), r.getString(3))).toSet ==
      Set((0L, "delete"), (0L, "insert"), (1000L, "insert")))
    // the procedure registry is introspectable from SQL
    val shown = spark.sql("SHOW PROCEDURES IN gproc.sys").collect()
      .flatMap(_.toSeq.map(String.valueOf)).toSet
    assert(Set("optimize", "zorder", "vacuum", "restore", "history",
      "table_changes").subsetOf(shown), shown.mkString(","))
    assert(spark.sql("DESCRIBE PROCEDURE gproc.sys.optimize").collect()
      .map(_.getString(0)).mkString(" ").contains("optimize"))
    // vacuum: retire everything but the newest two versions, eagerly
    spark.sql("CALL gproc.sys.vacuum('ns.t', 2, 0)").collect()
    assert(spark.sql("SELECT count(*) FROM gproc.ns.t").head().getLong(0) == 81L)
    val gone = intercept[Exception](Versioned.readAt(spark, path, 2).count())
    assert(gone.getMessage != null)
  }

  test("CTAS is atomic: success is ONE CTAS commit with declared headers; a failing SELECT leaves no table") {
    val wh = Files.createTempDirectory("gwh2").toString
    spark.conf.set("spark.sql.catalog.gctas", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gctas.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gctas.ns")
    spark.sql("CREATE TABLE gctas.ns.c PARTITIONED BY (p) " +
      "TBLPROPERTIES ('statskey' = 'k') AS " +
      "SELECT id AS k, id * 2 AS v, id % 3 AS p FROM range(0, 30)")
    val path = s"$wh/ns/c"
    assert(spark.sql("SELECT sum(v) FROM gctas.ns.c").head().getLong(0) ==
      (0L until 30L).map(_ * 2).sum)
    assert(Versioned.snapshot(spark, path).partCol.contains("p"))
    assert(Versioned.snapshot(spark, path).meta.statsKey.contains("k"))
    // ONE commit: a crash can never expose a committed-but-empty table
    // under the CTAS name (the pre-r16 CREATE-then-APPEND window).
    val ops = Versioned.history(spark, path).collect().map(_.getString(1)).toSeq
    assert(ops == Seq("CTAS"), ops.mkString(","))
    // failing SELECT: no table, no directory, next CTAS under the name works
    intercept[Exception] {
      spark.sql("CREATE TABLE gctas.ns.bad PARTITIONED BY (p) AS " +
        "SELECT id AS k, raise_error('boom') AS v, id % 3 AS p FROM range(0, 10)")
    }
    assert(!spark.catalog.tableExists("gctas.ns.bad"))
    assert(!new java.io.File(s"$wh/ns/bad/_manifests").exists(),
      "aborted CTAS must leave no committed table")
  }

  test("SQL ALTER TABLE ADD COLUMN: NULL backfill, per-version time-travel schemas, loud refusals") {
    val wh = Files.createTempDirectory("gwh3").toString
    spark.conf.set("spark.sql.catalog.galter", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.galter.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS galter.ns")
    spark.sql("CREATE TABLE galter.ns.t (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO galter.ns.t SELECT id AS k, id % 2 AS p FROM range(0, 6)")
    spark.sql("ALTER TABLE galter.ns.t ADD COLUMN note STRING")
    val path = s"$wh/ns/t"
    val vAfter = Versioned.latestVersion(spark, path)
    assert(Versioned.snapshot(spark, path, vAfter).meta.op.startsWith("ADD_COLUMN"))
    // pre-ALTER rows serve NULL; new inserts carry values
    spark.sql("INSERT INTO galter.ns.t SELECT 100 AS k, 0 AS p, 'n1' AS note")
    val rows = spark.sql("SELECT k, note FROM galter.ns.t").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows.contains((100L, Some("n1"))) && rows.contains((0L, None)))
    // time travel BEFORE the alter: the old schema, no note column
    assert(spark.sql(s"SELECT * FROM galter.ns.t VERSION AS OF 2")
      .columns.toSeq == Seq("k", "p"))
    // refusals: non-nullable add, duplicate name, unsupported change kind
    // (RENAME/DROP are supported since r16 — LakeSqlSpec pins them below)
    intercept[Exception](Versioned.addColumns(spark, path, Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType, nullable = false))))
    intercept[Exception](spark.sql("ALTER TABLE galter.ns.t ADD COLUMN note STRING"))
    intercept[Exception](spark.sql("ALTER TABLE galter.ns.t ALTER COLUMN k TYPE INT"))
  }

  test("string-key file-scoped MERGE: only range+bloom-covering files are replaced, the rest splice; encoding is order-monotone") {
    // Monotone surrogate: s1 <= s2 in UTF-8 byte order implies
    // enc(s1) <= enc(s2) — the property that makes range pruning sound.
    val rnd = new scala.util.Random(20260816L)
    def bytesLe(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length <= y.length
    }
    (1 to 500).foreach { _ =>
      val s1 = rnd.alphanumeric.take(rnd.nextInt(12)).mkString + (if (rnd.nextBoolean()) "é" else "")
      val s2 = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val (lo, hi) = if (bytesLe(s1, s2)) (s1, s2) else (s2, s1)
      assert(KeyEnc.encodeString(lo) <= KeyEnc.encodeString(hi), s"'$lo' vs '$hi'")
    }

    val tbl = Files.createTempDirectory("strkey").toString + "/t"
    // 40 keys k000..k039 across 2 partitions, range-laid so each file
    // holds a contiguous key band
    val base = (0 until 40).map(i => (f"k$i%03d", i.toLong, (i % 2).toString))
    Versioned.publish(spark, tbl, base.toDF("sk", "v", "p")
        .repartitionByRange(8, col("p"), col("sk")),
      partCol = Some("p"), fileStatsKey = Some("sk"))
    val before = Versioned.fileEntriesOf(spark, tbl, 1)
    assert(before.size >= 6, s"want several files, got ${before.size}")
    // one-key update + one out-of-range insert ('z...' sorts above all)
    val v2 = Versioned.merge(spark, tbl,
      Seq(("k010", 999L, "0", "U"), ("zzz", 1000L, "1", "I"))
        .toDF("sk", "v", "p", "_op"), "sk", "p")
    val after = Versioned.fileEntriesOf(spark, tbl, v2)
    val beforeSet = before.map(e => (e._1, e._2, e._3)).toSet
    val afterSet = after.map(e => (e._1, e._2, e._3)).toSet
    val replaced = beforeSet -- afterSet
    val enc10 = KeyEnc.encodeString("k010")
    val covering = before.filter(e => e._4 <= enc10 && enc10 <= e._5)
      .map(e => (e._1, e._2, e._3)).toSet
    assert(replaced.nonEmpty && replaced.subsetOf(covering),
      s"replaced $replaced must be covering files only ($covering)")
    assert((beforeSet -- covering).subsetOf(afterSet),
      "every non-covering file must splice unchanged")
    // content: update applied, insert landed, everything else intact
    val got = Versioned.readAt(spark, tbl, v2).as[(String, Long, String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got("k010") == ((999L, "0")) && got("zzz") == ((1000L, "1")) &&
      got.size == 41 && got("k011") == ((11L, "1")))

    // DATE keys: epoch-day surrogate, exact
    val dtbl = Files.createTempDirectory("datekey").toString + "/t"
    val days = (0 until 20).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
       i.toLong, (i % 2).toString))
    Versioned.publish(spark, dtbl, days.toDF("d", "v", "p")
        .repartitionByRange(4, col("p"), col("d")),
      partCol = Some("p"), fileStatsKey = Some("d"))
    val dv2 = Versioned.merge(spark, dtbl,
      Seq((java.sql.Date.valueOf("2024-01-05"), 555L, "0", "U"))
        .toDF("d", "v", "p", "_op"), "d", "p")
    val dgot = Versioned.readAt(spark, dtbl, dv2)
      .filter(col("d") === "2024-01-05").head()
    assert(dgot.getLong(1) == 555L)
    // deleteKeys refuses non-integral stats keys loudly
    val dkErr = intercept[Exception](Versioned.deleteKeys(spark, tbl, Seq(1L)))
    assert(dkErr.getMessage.contains("integral") ||
      dkErr.getMessage.contains("Long keys"), dkErr.getMessage)
  }

  test("publish with a second stats column: 2-D file skipping without a z-order rewrite") {
    val tbl = Files.createTempDirectory("stats2").toString + "/t"
    // clustered on BOTH columns at write time (c rides k), so per-file
    // bounds are tight in both dimensions straight from publish
    val df = (0L until 400L).map(k => (k, 1000L - k, (k % 2).toString))
      .toDF("k", "c", "p")
    Versioned.publish(spark, tbl, df.repartitionByRange(8, col("p"), col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"), fileStatsKey2 = Some("c"))
    assert(Versioned.snapshot(spark, tbl, 1).meta.statsKey2.contains("c"))
    def parts(d: org.apache.spark.sql.DataFrame) = d.rdd.getNumPartitions
    val src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val all = parts(src)
    assert(all >= 6, s"want several files, got $all")
    // predicate on the SECOND column alone prunes files by its bounds
    val prunedC = parts(src.filter(col("c") >= 990L))
    assert(prunedC < all && prunedC >= 1, s"c-bounds pruning failed: $prunedC of $all")
    // correctness: pruned read returns exactly the matching rows
    assert(src.filter(col("c") >= 990L).count() == 11L) // c = 1000 - k ≥ 990 ⇔ k ≤ 10
  }

  test("maintenance OCC rebase: optimize splices onto a disjoint concurrent append; a victim-touching competitor conflicts loudly") {
    val tbl = Files.createTempDirectory("maintreb").toString + "/t"
    val base = (0L until 40L).map(k => (k, k * 10, (k % 2).toString))
    Versioned.publish(spark, tbl, base.toDF("k", "v", "p")
        .repartitionByRange(8, col("p"), col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    def appendRows(rows: Seq[(Long, Long, String)]): Unit = {
      val dd = s"d_reb${System.nanoTime()}"
      rows.toDF("k", "v", "p").write.partitionBy("p").parquet(s"$tbl/$dd")
      Versioned.adoptStaged(spark, tbl, dd, fileStatsKey = Some("k"))
    }
    // DISJOINT race: an append lands between optimize's planning and its
    // commit — with rebaseRetries the already-written compaction splices
    // onto the competitor's manifest, no re-execution, nobody loses.
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None // one-shot: not for the competitor
      appendRows(Seq((100L, 1000L, "0")))
    })
    try {
      val v = Versioned.optimizeTable(spark, tbl, "k", "p",
        targetRows = 1000, rebaseRetries = 2)
      val got = Versioned.readAt(spark, tbl, v).as[(Long, Long, String)]
        .collect().map(t => t._1 -> t._2).toMap
      assert(got.size == 41 && got(100L) == 1000L && got(7L) == 70L,
        "rebased optimize must carry BOTH the compaction and the append")
      assert(Versioned.fileEntriesOf(spark, tbl, v).size < 8 + 1 + 8,
        "the compaction must actually have packed files")
    } finally Versioned.preCommitHookForTests = None
    // CLASHING race: the competitor rewrites a file the compaction read —
    // the rebase cannot prove disjointness and must fail loudly, and the
    // competitor's update must survive (no lost update).
    // key 8 lives in partition 0's multi-file bin — a VICTIM of this
    // optimize (partition 1 collapsed to a single file above and splices)
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None
      Versioned.merge(spark, tbl,
        Seq((8L, 888L, "0", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    })
    try {
      intercept[ConcurrentWriteException] {
        Versioned.optimizeTable(spark, tbl, "k", "p",
          targetRows = 1000, rebaseRetries = 2)
      }
    } finally Versioned.preCommitHookForTests = None
    val after = Versioned.read(spark, tbl).as[(Long, Long, String)]
      .collect().map(t => t._1 -> t._2).toMap
    assert(after(8L) == 888L, "the competing merge must survive the failed optimize")
  }

  test("maintenance OCC rebase: compactFiles splices onto a disjoint concurrent merge; a victim-touching competitor conflicts loudly and leaves no orphan") {
    val tbl = Files.createTempDirectory("compreb").toString + "/t"
    val base = (0L until 40L).map(k => (k, k * 10, (k % 2).toString))
    Versioned.publish(spark, tbl, base.toDF("k", "v", "p")
        .repartitionByRange(8, col("p"), col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    def update(k: Long, v: Long, p: String): Unit = Versioned.merge(spark, tbl,
      Seq((k, v, p, "U")).toDF("k", "v", "p", "_op"), "k", "p")
    def state(v: Int) = Versioned.readAt(spark, tbl, v).as[(Long, Long, String)]
      .collect().map(t => t._1 -> t._2).toMap
    // DISJOINT race: a merge into partition 1 lands between the compaction
    // of partition 0 and its commit — the compaction rebases onto it.
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None // one-shot: not for the competitor
      update(1L, 111L, "1")
    })
    try {
      val v = Versioned.compactFiles(spark, tbl, "p=0", "k", "p", rebaseRetries = 1)
      assert(v == 3, "the rebased compaction must land on top of the competitor")
      val got = state(v)
      assert(got.size == 40 && got(1L) == 111L && got(8L) == 80L,
        "the rebased compaction must carry BOTH the compaction and the merge")
      assert(Versioned.fileEntriesOf(spark, tbl, v).count(_._1 == "p=0") == 1,
        "partition 0 must be compacted to one file")
    } finally Versioned.preCommitHookForTests = None
    // CLASHING race: the competitor rewrites partition 0's file — a victim
    // of the compaction — so the rebase cannot prove disjointness.
    def dataDirs = new java.io.File(tbl).list().filter(_.startsWith("d_")).toSet
    val dirsBefore = dataDirs
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None
      update(8L, 888L, "0")
    })
    try {
      intercept[ConcurrentWriteException] {
        Versioned.compactFiles(spark, tbl, "p=0", "k", "p", rebaseRetries = 2)
      }
    } finally Versioned.preCommitHookForTests = None
    val latest = Versioned.latestVersion(spark, tbl)
    assert(latest == 4 && state(latest)(8L) == 888L,
      "the competing merge must survive the failed compaction")
    assert((dataDirs -- dirsBefore).subsetOf(Versioned.dataDirsOf(spark, tbl, latest).toSet),
      s"the failed compaction must delete its data dir: ${dataDirs -- dirsBefore}")
  }

  test("columnar DSv2 read: multi-batch files, NULLs, evolution backfill, and DV'd scans stay vectorized via the fill-time mask") {
    val tbl = Files.createTempDirectory("colread").toString + "/t"
    // 10k rows in ONE file → three 4096-row batches; s NULL every 7th row
    val df = spark.range(0, 10000).selectExpr("id AS k",
      "CASE WHEN id % 7 = 0 THEN CAST(NULL AS STRING) ELSE concat('s', id) END AS s",
      "CAST(0 AS LONG) AS p")
    Versioned.publish(spark, tbl, df.coalesce(1),
      partCol = Some("p"), fileStatsKey = Some("k"))
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    // the scan runs columnar (no DVs, primitive types)
    val plan = src.queryExecution.executedPlan
    assert(plan.toString.contains("ColumnarToRow"),
      s"expected a columnar scan, got:\n$plan")
    val got = src.as[(Long, Option[String], Long)].collect()
    assert(got.length == 10000)
    assert(got.count(_._2.isEmpty) == (0 until 10000).count(_ % 7 == 0))
    assert(got.find(_._1 == 8191L).flatMap(_._2).contains("s8191"))
    // schema evolution: the added column NULL-backfills through the
    // columnar reader (constant-null vector for pre-evolution files)
    val v2 = Versioned.merge(spark, tbl,
      Seq((20000L, "x", 0L, "note1", "I")).toDF("k", "s", "p", "note", "_op"),
      "k", "p")
    val evolved = spark.read.format("graft.sources.VersionedSource").load(tbl)
    assert(evolved.filter(col("k") === 1L).select("note").head().isNullAt(0))
    assert(evolved.filter(col("k") === 20000L).select("note").head().getString(0) == "note1")
    // a DV no longer de-vectorizes the scan (r17): the columnar reader
    // subtracts the deleted keys DURING its fill — plan stays columnar,
    // results identical to the row path's
    Versioned.deleteKeys(spark, tbl, Seq(3L, 7000L))
    val dvScan = spark.read.format("graft.sources.VersionedSource").load(tbl)
    assert(dvScan.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "DV'd integral-keyed scan must stay vectorized")
    // collect() forces DATA reads (an unfiltered count() is answered
    // from the manifest); the mask must subtract both deleted keys
    assert(dvScan.collect().length == 9999) // 10001 rows minus 2 deleted
    assert(dvScan.filter(col("k").isin(3L, 7000L)).count() == 0,
      "deleted keys must not be served")
    // the key itself projected OUT: the mask still applies (the key
    // decodes from its own dedicated reader)
    assert(dvScan.select("s").collect().length == 9999)
    // and the metadata count agrees with the mask's arithmetic
    assert(dvScan.count() == 9999L)
    // and with the key projected IN alongside strings + the evolved
    // column, every surviving row is exact
    val sample = dvScan.filter(col("k") >= 6998L && col("k") <= 7002L)
      .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sample == Set((6998L, "s6998"), (6999L, "s6999"),
      (7001L, "s7001"), (7002L, "s7002")), s"got $sample")
  }

  test("TableTailSource: batch parity, appended-files-only micro-batches, exactly-once restart, non-append commits fail the stream") {
    val tmp = Files.createTempDirectory("ttail").toString
    val (tbl, ckpt) = (s"$tmp/t", s"$tmp/ckpt")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p"),
      partCol = Some("p"), fileStatsKey = Some("k"))
    def append(rows: Seq[(Long, Long, String)]): Int = {
      val dd = s"d_app${System.nanoTime()}"
      rows.toDF("k", "v", "p").write.partitionBy("p").parquet(s"$tbl/$dd")
      Versioned.adoptStaged(spark, tbl, dd, fileStatsKey = Some("k"))
    }
    append(Seq((3L, 30L, "a")))
    // batch read = v1 snapshot + appends
    val batch = spark.read.format("graft.sources.TableTailSource")
      .option("startingVersion", "0").load(tbl)
      .as[(Long, Long, String)].collect().toSet
    assert(batch == Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a")))
    val out = s"$tmp/out"
    def run(): Seq[(Long, Long, String)] = {
      val q = spark.readStream.format("graft.sources.TableTailSource")
        .option("startingVersion", "0").load(tbl)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).as[(Long, Long, String)].collect().toSeq
    }
    val first = run()
    assert(first.toSet == batch && first.size == batch.size,
      s"first run must deliver snapshot + appends exactly once: $first")
    // restart on the same checkpoint: ONLY the new append lands — every
    // row appears exactly once in the output across both runs
    append(Seq((4L, 40L, "b")))
    val second = run()
    assert(second.toSet == batch + ((4L, 40L, "b")) && second.size == batch.size + 1,
      s"restart must not replay delivered versions: $second")
    // startingVersion=latest: only appends AFTER the stream starts flow
    val lateOut = s"$tmp/late_out"
    val lateCkpt = s"$tmp/late_ckpt"
    val q2 = spark.readStream.format("graft.sources.TableTailSource")
      .option("startingVersion", "latest").load(tbl)
      .writeStream.format("parquet").option("path", lateOut)
      .option("checkpointLocation", lateCkpt).start()
    try {
      q2.processAllAvailable()
      append(Seq((5L, 50L, "a")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(lateOut).as[(Long, Long, String)].collect().toSet ==
      Set((5L, 50L, "a")), "latest-start must skip the existing snapshot")
    // a non-append commit fails the stream loudly
    Versioned.deleteWhere(spark, tbl, col("k") === 1L, "p")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft.sources.TableTailSource")
        .option("startingVersion", "0").load(tbl)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("table tail"), err.getMessage)
  }

  test("SQL ALTER RENAME/DROP COLUMN: header-only column mapping, mixed files resolve, time travel, tombstone refusals") {
    val wh = Files.createTempDirectory("gwh5").toString
    spark.conf.set("spark.sql.catalog.gmap", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmap.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmap.ns")
    spark.sql("CREATE TABLE gmap.ns.t (k BIGINT, v BIGINT, note STRING, p BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k')")
    spark.sql("INSERT INTO gmap.ns.t SELECT id, id * 10, concat('n', id), id % 2 FROM range(0, 6)")
    val path = s"$wh/ns/t"
    // RENAME is header-only: no new data dir, same entries
    val dirsBefore = Versioned.dataDirsOf(spark, path,
      Versioned.latestVersion(spark, path)).toSet
    spark.sql("ALTER TABLE gmap.ns.t RENAME COLUMN v TO val")
    val vRen = Versioned.latestVersion(spark, path)
    assert(Versioned.snapshot(spark, path, vRen).meta.op == "RENAME_COLUMN(v->val)")
    assert(Versioned.dataDirsOf(spark, path, vRen).toSet == dirsBefore,
      "rename must not rewrite data")
    assert(Versioned.snapshot(spark, path, vRen).meta.colMap == Map("val" -> Seq("v")))
    assert(spark.sql("SELECT sum(val) FROM gmap.ns.t").head().getLong(0) ==
      (0 to 5).map(_ * 10).sum)
    // the aliased read stays COLUMNAR (the reader resolves the former
    // name per file from the alias metadata)
    val scan = spark.sql("SELECT k, val FROM gmap.ns.t WHERE val = 20")
    assert(scan.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "aliased scan must stay columnar")
    assert(scan.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 20L)))
    // post-rename writes carry the NEW name; mixed files resolve in one plan
    spark.sql("INSERT INTO gmap.ns.t SELECT 100, 1000, 'x', 0")
    assert(spark.sql("SELECT sum(val) FROM gmap.ns.t").head().getLong(0) ==
      (0 to 5).map(_ * 10).sum + 1000)
    assert(Versioned.read(spark, path).filter(col("k") === 100L)
      .select("val").head().getLong(0) == 1000L)
    // time travel serves the OLD schema and resolves with the OLD map
    val pre = spark.sql(s"SELECT * FROM gmap.ns.t VERSION AS OF ${vRen - 1}")
    assert(pre.columns.contains("v") && !pre.columns.contains("val"))
    assert(pre.selectExpr("sum(v)").head().getLong(0) == (0 to 5).map(_ * 10).sum)
    // DROP removes the column from the schema, files untouched
    val dirsBeforeDrop = Versioned.dataDirsOf(spark, path,
      Versioned.latestVersion(spark, path)).toSet
    spark.sql("ALTER TABLE gmap.ns.t DROP COLUMN note")
    val vDrop = Versioned.latestVersion(spark, path)
    assert(Versioned.snapshot(spark, path, vDrop).meta.op == "DROP_COLUMN(note)")
    assert(Versioned.dataDirsOf(spark, path, vDrop).toSet == dirsBeforeDrop)
    assert(!spark.table("gmap.ns.t").columns.contains("note"))
    // ... but still serves under time travel
    assert(spark.sql(s"SELECT count(note) FROM gmap.ns.t VERSION AS OF $vRen")
      .head().getLong(0) == 6L)
    // tombstones: renamed-away and dropped names can never come back
    intercept[Exception](spark.sql("ALTER TABLE gmap.ns.t ADD COLUMN v BIGINT"))
    intercept[Exception](spark.sql("ALTER TABLE gmap.ns.t ADD COLUMN note STRING"))
    // load-bearing columns are protected
    intercept[Exception](spark.sql("ALTER TABLE gmap.ns.t RENAME COLUMN k TO kk"))
    intercept[Exception](spark.sql("ALTER TABLE gmap.ns.t DROP COLUMN p"))
    // a MERGE after the rename rewrites its partition with NEW names and
    // the spliced old files still resolve
    Versioned.merge(spark, path,
      Seq((2L, 999L, 0L, "U")).toDF("k", "val", "p", "_op"), "k", "p")
    assert(spark.sql("SELECT val FROM gmap.ns.t WHERE k = 2").head().getLong(0) == 999L)
    assert(spark.sql("SELECT sum(val) FROM gmap.ns.t").head().getLong(0) ==
      0 + 10 + 999 + 30 + 40 + 50 + 1000)
    // a BRANCH merge from the pre-rename base records the OLD schema; the
    // inherited rename map must NOT apply to it (only entries whose
    // logical name is in the version's own schema do) — otherwise the
    // old-name column the schema projects would coalesce away and
    // NULL-backfill
    val vB = Versioned.merge(spark, path,
      Seq((3L, 333L, 1L, "n3b", "U")).toDF("k", "v", "p", "note", "_op"),
      "k", "p", fromVersion = Some(vRen - 1))
    val branched = Versioned.readAt(spark, path, vB)
    assert(branched.columns.contains("v") && !branched.columns.contains("val"))
    assert(branched.filter(col("k") === 3L).select("v").head().getLong(0) == 333L)
    assert(branched.filter(col("k") === 2L).select("v").head().getLong(0) == 20L)
    // restore to the pre-rename version rolls schema AND map back
    val vR = Versioned.restore(spark, path, vRen - 1)
    assert(spark.table("gmap.ns.t").columns.toSeq == Seq("k", "v", "note", "p"))
    assert(spark.sql("SELECT sum(v) FROM gmap.ns.t").head().getLong(0) ==
      (0 to 5).map(_ * 10).sum)
    // ...and the tombstones survive the restore (old bytes stay unsafe)
    assert(Versioned.snapshot(spark, path, vR).meta.droppedCols.contains("v") ||
      Versioned.snapshot(spark, path, vR).meta.droppedCols.contains("note"))
  }

  test("parquet checkpoint manifests: big full entry lists stream to a compressed sidecar; deltas, reads, vacuum ride it") {
    val tbl = Files.createTempDirectory("pckpt").toString + "/t"
    val saved = Versioned.ParquetCheckpointMinEntries
    Versioned.ParquetCheckpointMinEntries = 4
    try {
      val base = (1L to 64L).map(k => (k, k * 10, (k % 4).toString))
      Versioned.publish(spark, tbl, base.toDF("k", "v", "p")
          .repartitionByRange(4, col("k")),
        partCol = Some("p"), fileStatsKey = Some("k"))
      val md = new java.io.File(tbl, "_manifests")
      def sidecars = md.listFiles().filter(_.getName.endsWith(".entries.parquet"))
      // v1 is a full checkpoint above the (lowered) threshold → sidecar,
      // text manifest holds HEADERS ONLY
      assert(sidecars.length == 1, sidecars.mkString(","))
      val m1 = scala.io.Source.fromFile(s"$tbl/_manifests/1.txt").mkString
      assert(m1.contains("#entriesfile\t"))
      assert(m1.split("\n").forall(l => l.isEmpty || l.startsWith("#")),
        "checkpoint text must hold headers only")
      // reads resolve through the sidecar; a small DV delete is a DELTA
      assert(Versioned.read(spark, tbl).count() == 64)
      Versioned.deleteKeys(spark, tbl, Seq(7L))
      assert(Versioned.snapshot(spark, tbl, 2).meta.base.contains((1, 1)))
      assert(Versioned.read(spark, tbl).count() == 63)
      // the depth cap forces the NEXT checkpoint — another sidecar
      (20L until 36L).foreach(k => Versioned.deleteKeys(spark, tbl, Seq(k)))
      val latest = Versioned.latestVersion(spark, tbl)
      assert(Versioned.snapshot(spark, tbl, latest).meta.base.isEmpty,
        "depth cap must have forced a full checkpoint")
      assert(sidecars.length == 2, sidecars.mkString(","))
      assert(Versioned.read(spark, tbl).count() == 64 - 17)
      // the serialized-line round trip is exact: snapshot equals relational
      import org.apache.spark.sql.functions.col
      assert(Versioned.read(spark, tbl).agg(org.apache.spark.sql.functions.sum("v"))
        .head().getLong(0) ==
        base.filterNot(r => r._1 == 7L || (r._1 >= 20L && r._1 < 36L)).map(_._2).sum)
      // vacuum: a planted ORPHAN sidecar (crashed claim) is reclaimed; a
      // live checkpoint's sidecar survives
      val orphan = new java.io.File(md, "99-dead.entries.parquet")
      assert(orphan.createNewFile())
      Versioned.vacuum(spark, tbl, keep = Set(latest), retentionMs = 0)
      assert(!orphan.exists(), "orphan sidecar must be reclaimed")
      assert(Versioned.read(spark, tbl).count() == 64 - 17)
    } finally Versioned.ParquetCheckpointMinEntries = saved
  }

  test("N-dim file stats ('statscols'): xstats prune boxes on non-key dims; appends and rewrites recompute") {
    val wh = Files.createTempDirectory("gwh6").toString
    spark.conf.set("spark.sql.catalog.gnd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gnd.ns")
    spark.sql("CREATE TABLE gnd.ns.t (k BIGINT, dt DATE, s STRING, p BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k', 'statscols' = 'dt,s')")
    val path = s"$wh/ns/t"
    // clustered ingest (s-major, then date): every task file is a tight
    // (s, date-range) cell in the xstats domain
    spark.sql(
      """INSERT INTO gnd.ns.t
        |SELECT /*+ REPARTITION_BY_RANGE(8, s, dt) */
        |       id AS k,
        |       date_add(DATE '1995-01-01', CAST(id % 360 AS INT)) AS dt,
        |       CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS s,
        |       CAST(0 AS BIGINT) AS p
        |FROM range(0, 4000)""".stripMargin)
    assert(Versioned.snapshot(spark, path, 2).meta.statsCols == Seq("dt", "s"))
    def src = spark.read.format("graft.sources.VersionedSource").load(path)
    val all = src.rdd.getNumPartitions
    assert(all >= 4, s"want several files, got $all")
    // a box on (dt, s) — NEITHER is the stats key — prunes from xstats
    import org.apache.spark.sql.functions.{col, lit, to_date}
    def box = src.filter(col("dt") >= to_date(lit("1995-03-01")) &&
      col("dt") <= to_date(lit("1995-04-30")) && col("s") === "A")
    assert(box.rdd.getNumPartitions < all,
      s"xstats skipping failed: ${box.rdd.getNumPartitions} of $all")
    // exactness: residual filters keep correctness independent of stats
    val expect = (0L until 4000L).count { id =>
      val d = java.time.LocalDate.of(1995, 1, 1).plusDays(id % 360)
      id % 2 == 0 &&
        !d.isBefore(java.time.LocalDate.of(1995, 3, 1)) &&
        !d.isAfter(java.time.LocalDate.of(1995, 4, 30))
    }
    assert(box.count() == expect)
    // an APPEND recomputes xstats for its own files (adoptStaged rides
    // the base header): the new range prunes too
    spark.sql(
      """INSERT INTO gnd.ns.t
        |SELECT id AS k, date_add(DATE '2001-06-01', CAST(id % 5 AS INT)) AS dt,
        |       'Z' AS s, CAST(0 AS BIGINT) AS p
        |FROM range(10000, 10040)""".stripMargin)
    val all2 = src.rdd.getNumPartitions
    val zOnly = src.filter(col("s") === "Z").rdd.getNumPartitions
    assert(zOnly < all2, s"appended xstats did not prune: $zOnly of $all2")
    assert(src.filter(col("s") === "Z").count() == 40)
    // a REWRITE (merge) KEEPS the header and RECOMPUTES xstats for the
    // files it writes (r17) — skipping survives DML, results stay exact
    val vM = Versioned.merge(spark, path,
      Seq((0L, java.sql.Date.valueOf("1995-01-01"), "A", 0L, "U"))
        .toDF("k", "dt", "s", "p", "_op"), "k", "p")
    assert(Versioned.snapshot(spark, path, vM).meta.statsCols == Seq("dt", "s"))
    assert(Versioned.snapshot(spark, path, vM).entries.forall(_.xstats.isDefined),
      "every post-merge file entry must carry recomputed xstats")
    assert(src.filter(col("s") === "Z").count() == 40)
    assert(src.count() == 4040)
  }

  test("rewrites recompute stats dimensions: optimize keeps the xstats prune, DML keeps header + bounds") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val wh = Files.createTempDirectory("gwh7").toString
    spark.conf.set("spark.sql.catalog.gn7", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gn7.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gn7.ns")
    spark.sql("CREATE TABLE gn7.ns.t (k BIGINT, dt DATE, s STRING, p BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k', 'statscols' = 'dt,s')")
    val path = s"$wh/ns/t"
    // KEY-correlated box dims: s and dt are monotone in k, so optimize's
    // key-ordered bin packing preserves each output file's (s, dt)
    // tightness — the layout a production table keeps by range ingest.
    spark.sql(
      """INSERT INTO gn7.ns.t
        |SELECT /*+ REPARTITION_BY_RANGE(16, id) */
        |       id AS k,
        |       date_add(DATE '1995-01-01', CAST(id / 10 AS INT) % 2000) AS dt,
        |       CASE WHEN id < 2000 THEN 'A' ELSE 'B' END AS s,
        |       CAST(0 AS BIGINT) AS p
        |FROM range(0, 4000)""".stripMargin)
    def src = spark.read.format("graft.sources.VersionedSource").load(path)
    def boxParts = src.filter(col("s") === "A" &&
      col("dt") >= to_date(lit("1995-02-01")) &&
      col("dt") <= to_date(lit("1995-03-31"))).rdd.getNumPartitions
    val all = src.rdd.getNumPartitions
    assert(all >= 8, s"want many small files, got $all")
    assert(boxParts < all, s"pre-optimize prune failed: $boxParts of $all")
    // OPTIMIZE bin-packs small files; the rewrite recomputes ALL stats
    // dimensions in its stats scan — the box still prunes afterwards
    val vOpt = Versioned.optimizeTable(spark, path, "k", "p", targetRows = 600)
    assert(Versioned.snapshot(spark, path, vOpt).meta.statsCols == Seq("dt", "s"))
    assert(Versioned.snapshot(spark, path, vOpt).entries.forall(_.xstats.isDefined),
      "post-optimize entries must carry recomputed xstats")
    val allOpt = src.rdd.getNumPartitions
    assert(allOpt < all, "optimize must have packed files")
    assert(boxParts < allOpt,
      s"post-optimize xstats prune failed: $boxParts of $allOpt")
    val expect = (0L until 4000L).count { id =>
      val d = java.time.LocalDate.of(1995, 1, 1).plusDays((id / 10) % 2000)
      id < 2000 &&
        !d.isBefore(java.time.LocalDate.of(1995, 2, 1)) &&
        !d.isAfter(java.time.LocalDate.of(1995, 3, 31))
    }
    assert(src.filter(col("s") === "A" &&
      col("dt") >= to_date(lit("1995-02-01")) &&
      col("dt") <= to_date(lit("1995-03-31"))).count() == expect)
    // predicate DML (deleteWhere / updateWhere) carries and recomputes too
    val vDel = Versioned.deleteWhere(spark, path, col("k") === 17L, "p")
    assert(Versioned.snapshot(spark, path, vDel).meta.statsCols == Seq("dt", "s"))
    assert(Versioned.snapshot(spark, path, vDel).entries.forall(_.xstats.isDefined))
    val vUpd = Versioned.updateWhere(spark, path, col("k") === 18L,
      Map("s" -> lit("A")), "p")
    assert(Versioned.snapshot(spark, path, vUpd).meta.statsCols == Seq("dt", "s"))
    assert(Versioned.snapshot(spark, path, vUpd).entries.forall(_.xstats.isDefined))
    assert(src.count() == 3999)
  }

  test("RENAME of an extra stats column follows the header; DROP removes its dimension and realigns xstats") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val wh = Files.createTempDirectory("gwh8").toString
    spark.conf.set("spark.sql.catalog.gn8", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gn8.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gn8.ns")
    spark.sql("CREATE TABLE gn8.ns.t (k BIGINT, dt DATE, s STRING, p BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k', 'statscols' = 'dt,s')")
    val path = s"$wh/ns/t"
    spark.sql(
      """INSERT INTO gn8.ns.t
        |SELECT /*+ REPARTITION_BY_RANGE(8, s, dt) */
        |       id AS k,
        |       date_add(DATE '1995-01-01', CAST(id % 360 AS INT)) AS dt,
        |       CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS s,
        |       CAST(0 AS BIGINT) AS p
        |FROM range(0, 2000)""".stripMargin)
    // RENAME a stats dimension: same position in the header, so every
    // entry's positional bounds stay valid — and ingest stays WORKING
    // (the r16 gap: the stale header name broke every later append)
    spark.sql("ALTER TABLE gn8.ns.t RENAME COLUMN dt TO event_dt")
    val v3 = Versioned.latestVersion(spark, path)
    assert(Versioned.snapshot(spark, path, v3).meta.statsCols == Seq("event_dt", "s"))
    def src = spark.read.format("graft.sources.VersionedSource").load(path)
    val all = src.rdd.getNumPartitions
    // bounds survive the rename: a box on the NEW name prunes
    val boxed = src.filter(col("event_dt") >= to_date(lit("1995-02-01")) &&
      col("event_dt") <= to_date(lit("1995-03-31")) && col("s") === "A")
    assert(boxed.rdd.getNumPartitions < all,
      s"rename lost the xstats prune: ${boxed.rdd.getNumPartitions} of $all")
    // ingest still works — the append recomputes stats under the new name
    spark.sql(
      """INSERT INTO gn8.ns.t
        |SELECT id AS k, DATE '2002-01-01' AS event_dt, 'Z' AS s,
        |       CAST(0 AS BIGINT) AS p
        |FROM range(9000, 9020)""".stripMargin)
    assert(src.count() == 2020)
    // DROP a stats dimension: header loses it AND every entry's xstats
    // slot realigns — pruning on the surviving dimension must stay SOUND
    spark.sql("ALTER TABLE gn8.ns.t DROP COLUMN event_dt")
    val v5 = Versioned.latestVersion(spark, path)
    assert(Versioned.snapshot(spark, path, v5).meta.statsCols == Seq("s"))
    val zCnt = src.filter(col("s") === "Z").count()
    assert(zCnt == 20, s"misaligned xstats after drop: got $zCnt of 20")
    val aCnt = src.filter(col("s") === "A").count()
    assert(aCnt == 1000, s"misaligned xstats after drop: got $aCnt of 1000")
    assert(src.filter(col("s") === "Z").rdd.getNumPartitions <
      src.rdd.getNumPartitions, "surviving dimension must still prune")
    // and ingest still works without the dropped dimension
    spark.sql(
      """INSERT INTO gn8.ns.t
        |SELECT id AS k, 'Q' AS s, CAST(0 AS BIGINT) AS p
        |FROM range(9500, 9510)""".stripMargin)
    assert(src.count() == 2030)
    // time travel BEFORE the drop still serves the renamed column
    assert(spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", v3.toString).load(path)
      .columns.contains("event_dt"))
  }

  test("z-order on a STRING second dimension: surrogate Morton layout, the string box prunes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("vzstr").toString
    val tbl = s"$tmp/table"
    // s is key-UNCORRELATED (id * 37 mod 8): linear key layout spreads
    // every s value across every file — only a 2-D clustering can tighten
    // the per-file s spread
    val rows = (0L until 4096L).map(id =>
      (id, ('A' + (id * 37 % 8).toInt).toChar.toString, 0L))
    Versioned.publish(spark, tbl,
      rows.toDF("k", "s", "p").repartitionByRange(16, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val linear = src.filter(col("s") === "C").rdd.getNumPartitions
    assert(linear == src.rdd.getNumPartitions,
      "linear layout has no s stats — nothing to prune")
    val v2 = Versioned.optimizeZOrder(spark, tbl, "k", "p", "s", filesPerPart = 16)
    assert(Versioned.snapshot(spark, tbl, v2).meta.statsKey2.contains("s"))
    val all = src.rdd.getNumPartitions
    val cOnly = src.filter(col("s") === "C").rdd.getNumPartitions
    assert(cOnly < all / 2,
      s"string z-order must prune the equality box: $cOnly of $all")
    assert(src.filter(col("s") === "C").count() == 512)
    // content identical across the rewrite
    assert(src.as[(Long, String, Long)].collect().toSet == rows.toSet)
    // a 2-D (key band × string) box prunes harder than either alone
    val box = src.filter(col("k") >= 1024 && col("k") < 2048 && col("s") === "C")
    assert(box.rdd.getNumPartitions <= cOnly)
    assert(box.count() == 128)
  }

  test("ALTER COLUMN TYPE widening: old narrow files read back wide, time travel serves the old type, narrowing refused") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("gwh9").toString
    spark.conf.set("spark.sql.catalog.gn9", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gn9.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gn9.ns")
    spark.sql("CREATE TABLE gn9.ns.t (k BIGINT, v INT, f FLOAT, w INT, p BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('statskey' = 'k')")
    val path = s"$wh/ns/t"
    spark.sql("INSERT INTO gn9.ns.t SELECT id AS k, CAST(id * 3 AS INT) AS v, " +
      "CAST(id AS FLOAT) / 2 AS f, CAST(id AS INT) AS w, id % 2 AS p " +
      "FROM range(0, 100)")
    val preWiden = Versioned.latestVersion(spark, path)
    // header-only commits: int -> bigint, float -> double, int -> double;
    // no file rewritten
    spark.sql("ALTER TABLE gn9.ns.t ALTER COLUMN v TYPE BIGINT")
    spark.sql("ALTER TABLE gn9.ns.t ALTER COLUMN f TYPE DOUBLE")
    spark.sql("ALTER TABLE gn9.ns.t ALTER COLUMN w TYPE DOUBLE")
    val tSchema = spark.table("gn9.ns.t").schema
    assert(tSchema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(tSchema("f").dataType == org.apache.spark.sql.types.DoubleType)
    assert(tSchema("w").dataType == org.apache.spark.sql.types.DoubleType)
    assert(spark.sql("SELECT sum(w) FROM gn9.ns.t").head().getDouble(0) ==
      (0 until 100).sum.toDouble)
    // old files' NARROW bytes decode through both DSv2 paths (this read is
    // columnar-eligible: no DV, primitive types)
    assert(spark.sql("SELECT sum(v) FROM gn9.ns.t").head().getLong(0) ==
      (0L until 100L).map(_ * 3).sum)
    // values only a wide column can hold append next to the narrow files
    val big = 9000000000000000L // > Int.MaxValue: needs the widened type
    spark.sql(s"INSERT INTO gn9.ns.t VALUES (1000, $big, 1.5E300, 0.5D, 0)")
    assert(spark.sql("SELECT max(v) FROM gn9.ns.t").head().getLong(0) == big)
    assert(spark.sql("SELECT max(f) FROM gn9.ns.t").head().getDouble(0) == 1.5e300)
    // mixed narrow+wide files in ONE aggregate — the Scala read path too
    assert(Versioned.read(spark, path).agg(
      org.apache.spark.sql.functions.sum(col("v"))).head().getLong(0) ==
      (0L until 100L).map(_ * 3).sum + big)
    // time travel BEFORE the widen serves the ORIGINAL narrow type
    val old = spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", preWiden.toString).load(path)
    assert(old.schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    assert(old.agg(org.apache.spark.sql.functions.sum(col("v")))
      .head().getLong(0) == (0L until 100L).map(_ * 3).sum)
    // NARROWING is refused loudly (bigint -> int could truncate): Spark's
    // analyzer refuses the un-upcastable SQL change before the catalog,
    // and the store's own guard refuses a direct programmatic call too
    val err = intercept[Exception](
      spark.sql("ALTER TABLE gn9.ns.t ALTER COLUMN v TYPE INT"))
    assert(err.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      err.getMessage.contains("widening"), err.getMessage)
    val err2 = intercept[IllegalArgumentException](Versioned.widenColumnType(
      spark, path, "v", org.apache.spark.sql.types.IntegerType))
    assert(err2.getMessage.contains("widening"), err2.getMessage)
    // multi-field ADD COLUMNS is still ONE atomic commit
    val before = Versioned.latestVersion(spark, path)
    spark.sql("ALTER TABLE gn9.ns.t ADD COLUMNS (a INT, b STRING)")
    assert(Versioned.latestVersion(spark, path) == before + 1,
      "multi-column ADD must commit exactly one version")
    assert(spark.table("gn9.ns.t").columns.toSeq ==
      Seq("k", "v", "f", "w", "p", "a", "b"))
  }
}
