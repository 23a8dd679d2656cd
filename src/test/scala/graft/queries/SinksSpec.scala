package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.GraftSqlBridge

/** Sink roundtrips: row preservation (the oracle proves values; here we
  * check shapes fast) and the scale property that justifies bucketing —
  * the bucketed join plans with NO shuffle exchange on either side.
  */
class SinksSpec extends SparkSpec {

  test("partitioned parquet sink prunes to one partition on read-back") {
    val out = Sinks.sinkPartitioned(spark, sfDir)
    assert(out.count() > 0)
  }

  test("bucketed join runs without a shuffle exchange") {
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Sinks.bucketedJoin(spark, sfDir)
      joined.collect()
      val plan = GraftSqlBridge.executedPlan(joined).toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      // exchanges after the join (groupBy segment) are fine; the JOIN KEYS
      // must never be hash-exchanged — that's what bucketing buys
      assert(!plan.contains("Exchange hashpartitioning(c_custkey") &&
             !plan.contains("Exchange hashpartitioning(o_custkey"),
        s"bucketed join still shuffles its inputs:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("xml roundtrip preserves counts and escaped string content exactly") {
    import org.apache.spark.sql.functions._
    val back = Sinks.xmlRoundtrip(spark, sfDir).collect()
    val direct = graft.tables.Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("sum_user"),
           min("ts").as("min_ts"), md5(min(col("props"))).as("min_props_md5"))
      .orderBy("event_type").collect()
    // value-identical incl. the md5 over JSON-with-quotes props: XML
    // element-content escaping round-tripped every byte.
    assert(back.toSeq == direct.toSeq)
  }

  test("compaction collapses 64 staged files into a handful and loses nothing") {
    import org.apache.spark.sql.functions._
    val out = Sinks.compaction(spark, sfDir)
    val direct = graft.tables.Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
    assert(out.collect().toSeq == direct.collect().toSeq)
    def parts(d: String) = new java.io.File(d)
      .listFiles().count(f => f.getName.startsWith("part-"))
    val sfx = Sinks.dirTag(sfDir)
    val tmp = sys.props("java.io.tmpdir")
    val staged = parts(s"$tmp/graft_smallfiles_$sfx")
    val compacted = parts(s"$tmp/graft_compacted_$sfx")
    assert(staged == 64, s"staging should fan out to 64 files, got $staged")
    assert(compacted <= 4, s"rebalance left $compacted files (want <= 4)")
  }

  test("MV auto-rewrite: plan reads the MV, not orders; kill-switch restores the base scan") {
    import org.apache.spark.sql.functions._
    val q = Sinks.mvAutoRewrite(spark, sfDir) // materializes + registers
    val plan = GraftSqlBridge.executedPlan(q).toString
    assert(plan.contains("graft_mv_orders_"), s"MV not scanned:\n${plan.take(1500)}")
    assert(!plan.contains("orders.parquet"), s"base table still scanned:\n${plan.take(1500)}")
    // values identical to the base aggregate (the oracle proves vs DuckDB;
    // this pins Spark-vs-Spark with the rewrite disabled)
    spark.conf.set("spark.graft.mv.rewrite", "false")
    try {
      val base = graft.tables.Tables.orders(spark, sfDir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("o_custkey").as("sum_cust"))
        .orderBy("o_orderpriority")
      val basePlan = GraftSqlBridge.executedPlan(base).toString
      assert(basePlan.contains("orders.parquet"), "kill-switch ignored")
      assert(q.collect().toSeq == base.collect().toSeq)
    } finally spark.conf.set("spark.graft.mv.rewrite", "true")
    // a FILTERED aggregate must NOT match (the MV pre-aggregated all rows)
    val filtered = graft.tables.Tables.orders(spark, sfDir)
      .filter(col("o_custkey") > 100)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"))
    val fPlan = GraftSqlBridge.executedPlan(filtered).toString
    assert(fPlan.contains("orders.parquet") && !fPlan.contains("graft_mv_orders_"),
      s"filtered aggregate wrongly rewritten:\n${fPlan.take(1500)}")
  }

  test("gzip text staging really writes .gz shards and the read parallelizes") {
    Sinks.gzipTextRoundtrip(spark, sfDir).collect()
    val sfx = Sinks.dirTag(sfDir)
    val files = new java.io.File(sys.props("java.io.tmpdir"), s"graft_gztext_$sfx")
      .listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length == 8, s"expected 8 shards, got ${files.length}")
    assert(files.forall(_.getName.endsWith(".gz")),
      files.map(_.getName).mkString(","))
  }

  test("corrupt-record ingest quarantines exactly the malformed lines") {
    val r = Sinks.corruptRecordIngest(spark, sfDir).collect()(0)
    val docs = graft.tables.Tables.documents(spark, sfDir).count()
    assert(r.getLong(0) + r.getLong(1) == docs, "good + corrupt must partition the corpus")
    assert(r.getLong(1) > 0, "the corruption rule plants corrupt lines at every SF")
  }

  test("orc and csv roundtrips preserve row counts") {
    import org.apache.spark.sql.functions._
    val orcAgg = Sinks.orcRoundtrip(spark, sfDir)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    val srcDocs = graft.tables.Tables.documents(spark, sfDir).count()
    assert(orcAgg === srcDocs)
    val csvAgg = Sinks.csvRoundtrip(spark, sfDir)
      .agg(sum("n_nations")).collect()(0).getLong(0)
    assert(csvAgg === graft.tables.Tables.nation(spark, sfDir).count())
  }

  private def fileState(dir: java.io.File): Map[String, (Long, String)] = {
    def md5Of(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(f.toPath))
      d.map(b => f"$b%02x").mkString
    }
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(dir).map(f => f.getPath -> (f.length(), md5Of(f))).toMap
  }

  import graft.tables.{ConcurrentWriteException, Versioned}

  private def freshTable(name: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_spec_${name}_${System.nanoTime()}")
    f.getPath
  }

  private def dataDirFiles(tbl: String, v: Int): Map[String, (Long, String)] =
    Versioned.dataDirsOf(spark, tbl, v)
      .map(dd => fileState(new java.io.File(tbl, dd)))
      .foldLeft(Map.empty[String, (Long, String)])(_ ++ _)

  test("q210 MERGE publishes a new version touching only affected partitions; base files immutable; emptied partitions vanish") {
    import spark.implicits._
    val tbl = freshTable("merge")
    // parts: a={1,2}, b={3,4}, c={5,6}, d={7} — d will be fully deleted
    val v1 = Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"), (4L, 40L, "b"),
          (5L, 50L, "c"), (6L, 60L, "c"), (7L, 70L, "d")).toDF("k", "v", "p"),
      partCol = Some("p"))
    assert(v1 == 1)
    val baseFiles = dataDirFiles(tbl, 1)
    // A reader plan bound to v1 BEFORE the merge: must serve v1's content
    // unchanged after the merge commits (reader isolation).
    val preMergeReader = Versioned.readAt(spark, tbl, 1)
    val src = Seq(
      (3L, 31L, "b", "U"),   // in-place update in b
      (5L, 51L, "b", "U"),   // MOVE c -> b
      (7L, 70L, "d", "D"),   // delete the only row of d => d empties
      (8L, 80L, "e", "I"),   // insert into brand-new partition e
      (99L, 99L, "b", "U"),  // unmatched update: ignored
      (1L, 11L, "a", "I"))   // matched insert: ignored (a stays untouched)
      .toDF("k", "v", "p", "_op")
    val v2 = Versioned.merge(spark, tbl, src, "k", "p")
    assert(v2 == 2)
    // v1's files: byte-identical — the merge never rewrites or deletes
    assert(dataDirFiles(tbl, 1) == baseFiles,
      "merge must never touch the base version's files")
    assert(preMergeReader.as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"), (4L, 40L, "b"),
          (5L, 50L, "c"), (6L, 60L, "c"), (7L, 70L, "d")),
      "a reader bound to v1 before the merge must still see v1")
    // v2 serves untouched partition a from v1's data dir (manifest splice)
    val v1Dirs = Versioned.dataDirsOf(spark, tbl, 1).toSet
    val v2Dirs = Versioned.dataDirsOf(spark, tbl, 2).toSet
    assert(v1Dirs.subsetOf(v2Dirs) && v2Dirs.size == 2,
      s"v2 must splice v1's dir plus one fresh dir, got v1=$v1Dirs v2=$v2Dirs")
    // the fresh dir holds ONLY the touched partitions (b, c, d-empty, e)
    val freshDir = new java.io.File(tbl, (v2Dirs -- v1Dirs).head)
    val writtenParts = freshDir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(writtenParts == Set("p=b", "p=c", "p=e"),
      s"b (update+move-in), c (move-out, 6 survives) and e (insert) are " +
        s"rewritten; a (untouched) and d (emptied) must not be, got $writtenParts")
    // semantic result: update applied, move applied, delete applied,
    // insert applied, both noise rows ignored, d gone entirely
    val got = Versioned.readAt(spark, tbl, 2).as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 10L, "a"), (2L, 20L, "a"), (3L, 31L, "b"),
      (4L, 40L, "b"), (5L, 51L, "b"), (6L, 60L, "c"), (8L, 80L, "e")), got.toString)
  }

  test("MERGE duplicate-key semantics: D > U > I precedence; same (key,op) twice rejected") {
    import spark.implicits._
    val tbl = freshTable("mergedup")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")).toDF("k", "v", "p"),
      partCol = Some("p"))
    // key 1 carries U and D → D wins (row deleted, update discarded);
    // key 2 carries U only → updated; key 9 carries I and D → D wins, so
    // nothing is inserted (the delete INTENT outranks the insert).
    val v2 = Versioned.merge(spark, tbl, Seq(
      (1L, 11L, "a", "U"), (1L, 10L, "a", "D"),
      (2L, 21L, "a", "U"),
      (9L, 90L, "b", "I"), (9L, 90L, "b", "D")).toDF("k", "v", "p", "_op"),
      "k", "p")
    val got = Versioned.readAt(spark, tbl, v2).as[(Long, Long, String)].collect().toSet
    assert(got == Set((2L, 21L, "a"), (3L, 30L, "b")), got.toString)
    // two rows with the SAME op for one key: rejected, not silently picked
    val bad = Seq((2L, 22L, "a", "U"), (2L, 23L, "a", "U")).toDF("k", "v", "p", "_op")
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(spark, tbl, bad, "k", "p")
    }
    assert(e.getMessage.contains("at most one"), e.getMessage)
  }

  test("two-writer conflict: a writer publishing against a stale expected version fails; winner's commit stands") {
    import spark.implicits._
    val tbl = freshTable("cas")
    Versioned.publish(spark, tbl, Seq((1L, "x")).toDF("k", "s"))
    // writer A and writer B both observed v1; A commits first
    Versioned.publish(spark, tbl, Seq((1L, "A")).toDF("k", "s"),
      expectedLatest = Some(1))
    val e = intercept[ConcurrentWriteException] {
      Versioned.publish(spark, tbl, Seq((1L, "B")).toDF("k", "s"),
        expectedLatest = Some(1))
    }
    assert(e.getMessage.contains("expected"), e.getMessage)
    // the loser's orphan data dir was cleaned up: only v1+v2 dirs remain
    val dirs = new java.io.File(tbl).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d_"))
    assert(dirs.length == 2, s"orphan dir not cleaned: ${dirs.mkString(",")}")
    assert(Versioned.read(spark, tbl).as[(Long, String)].collect().toSet ==
      Set((1L, "A")), "the winning writer's version must stand")
  }

  test("two TRULY CONCURRENT writers against the same expected version: exactly one commits") {
    import spark.implicits._
    val tbl = freshTable("race")
    Versioned.publish(spark, tbl, Seq((1L, "x")).toDF("k", "s"))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq("A", "B").map { tag =>
      new Thread(() => {
        gate.await()
        try results.add(Right(Versioned.publish(spark, tbl,
          Seq((1L, tag)).toDF("k", "s"), expectedLatest = Some(1))))
        catch { case e: Throwable => results.add(Left(e)) }
      }, s"graft-writer-$tag")
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(120000))
    val (losses, wins) = results.toArray(Array.empty[Either[Throwable, Int]])
      .partition(_.isLeft)
    assert(wins.length == 1 && losses.length == 1,
      s"expected exactly one winner: wins=${wins.toSeq} losses=${losses.toSeq}")
    assert(losses.head.swap.toOption.get.isInstanceOf[ConcurrentWriteException],
      losses.head.toString)
    assert(Versioned.latestVersion(spark, tbl) == 2)
    val got = Versioned.read(spark, tbl).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "A")) || got == Set((1L, "B")), got.toString)
  }

  test("a crashed writer's stale uncommitted claim is reclaimed; a fresh claim blocks") {
    import spark.implicits._
    val tbl = freshTable("stale")
    Versioned.publish(spark, tbl, Seq((1L, "x")).toDF("k", "s"))
    // a claim for v2 with no #commit terminator = a writer that died mid-publish
    val claim = new java.io.File(tbl, "_manifests/2.txt")
    java.nio.file.Files.write(claim.toPath, "-\td_dead\n".getBytes("UTF-8"))
    // fresh claim (mtime = now): the next writer must NOT steal it
    intercept[ConcurrentWriteException] {
      Versioned.publish(spark, tbl, Seq((1L, "y")).toDF("k", "s"))
    }
    // stale claim (mtime pushed past the reclaim threshold): stolen cleanly
    assert(claim.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    assert(Versioned.publish(spark, tbl, Seq((1L, "y")).toDF("k", "s")) == 2)
    assert(Versioned.read(spark, tbl).as[(Long, String)].collect().toSet ==
      Set((1L, "y")))
  }

  test("vacuum retires dropped versions but keeps every data dir a retained manifest references") {
    import spark.implicits._
    val tbl = freshTable("vac")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p"), partCol = Some("p"))
    Versioned.merge(spark, tbl,
      Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p") // v2
    Versioned.merge(spark, tbl,
      Seq((1L, 12L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
      fromVersion = Some(1)) // v3, branched from v1
    // retentionMs = 0: eager single-writer maintenance (the retention
    // window itself is pinned by the dedicated vacuum-retention tests)
    Versioned.vacuum(spark, tbl, keep = Set(1, 3), retentionMs = 0)
    // v2 unreadable: its MANIFEST survives only as v3's tail-diff
    // predecessor (the r16 retention rule — appendedEntriesOf(v3) diffs
    // against it), but its private data dir is reclaimed, so the read
    // fails at DATA time — like Delta time travel past data retention.
    // v1 and v3 stay intact — including v3's partition b served from
    // v1's shared data dir, which vacuum must NOT have deleted.
    intercept[Exception] { Versioned.readAt(spark, tbl, 2).collect() }
    assert(Versioned.readAt(spark, tbl, 1).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "b")))
    assert(Versioned.readAt(spark, tbl, 3).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 12L, "a"), (2L, 20L, "b")))
    // v2's private data dir is physically gone
    val live = (Versioned.dataDirsOf(spark, tbl, 1) ++
      Versioned.dataDirsOf(spark, tbl, 3)).toSet
    val onDisk = new java.io.File(tbl).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d_")).map(_.getName).toSet
    assert(onDisk == live, s"disk=$onDisk live=$live")
  }

  test("q212 file-scoped MERGE rewrites only files whose key range covers a U/D key; check-set files are spliced") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("filemerge")
    // keys 1..8 in one partition, range-laid-out into 4 key-contiguous
    // files ([1,2] [3,4] [5,6] [7,8])
    val v1 = Versioned.publish(spark, tbl,
      (1L to 8L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    assert(v1 == 1)
    val f1 = Versioned.fileEntriesOf(spark, tbl, 1)
    assert(f1.size == 4, s"range layout should give 4 files, got $f1")
    // U key 3 → only the [3,4] file must be rewritten; I key 100 is beyond
    // every range (insert with zero file reads); matched-I key 7 → the
    // [7,8] file is READ for the membership check but must be SPLICED.
    val v2 = Versioned.mergeByFiles(spark, tbl, Seq(
      (3L, 31L, "a", "U"), (100L, 1000L, "b", "I"), (7L, 70L, "a", "I"))
      .toDF("k", "v", "p", "_op"), "k", "p")
    val f2 = Versioned.fileEntriesOf(spark, tbl, 2)
    val rewritten = f1.filter(e => e._4 <= 3 && 3 <= e._5)
    assert(rewritten.size == 1, s"exactly one v1 file covers key 3: $f1")
    val spliced = f1.toSet - rewritten.head
    assert(spliced.subsetOf(f2.toSet),
      s"untouched files must carry over verbatim: v1=$f1 v2=$f2")
    assert(!f2.contains(rewritten.head), "the covering file must be replaced")
    // fresh entries: the rewritten [3,4] rows and the inserted key 100
    val fresh = f2.toSet -- spliced
    assert(fresh.forall(_._2 != rewritten.head._2),
      s"fresh files live in a new data dir: $fresh")
    val got = Versioned.readAt(spark, tbl, v2).as[(Long, Long, String)].collect().toSet
    assert(got == ((1L to 8L).map(k => (k, if (k == 3) 31L else k * 10, "a")).toSet
      + ((100L, 1000L, "b"))), got.toString)
  }

  test("q213 streaming CDC merge is replay-idempotent: a second delivery adds no versions, changes no rows") {
    val first = Sinks.streamCdcMerge(spark, sfDir).collect().toSeq
    val tbl = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_cdc_vt_${Sinks.dirTag(sfDir)}").getPath
    val vAfterFirst = Versioned.latestVersion(spark, tbl)
    assert(vAfterFirst >= 2, "the stream should have published merged versions")
    // full redelivery: the same three batches stream again; every tag is
    // already committed, so the table must not move
    val second = Sinks.streamCdcMerge(spark, sfDir).collect().toSeq
    assert(Versioned.latestVersion(spark, tbl) == vAfterFirst,
      "replayed batches must be no-ops, not new versions")
    assert(second == first, "replay changed the table contents")
    // direct duplicate delivery of one tagged batch: same version back
    val tags = (1 to vAfterFirst).flatMap(v =>
      Versioned.fileEntriesOf(spark, tbl, v).headOption.map(_ => v))
    assert(tags.nonEmpty)
  }

  test("q214 change feed: update = delete+insert image pair; untouched rows absent; multiset semantics") {
    import spark.implicits._
    val tbl = freshTable("cf")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")).toDF("k", "v", "p"),
      partCol = Some("p"))
    Versioned.merge(spark, tbl, Seq(
      (2L, 21L, "a", "U"),  // update: delete (2,20) + insert (2,21)
      (3L, 30L, "b", "D"),  // delete image only
      (9L, 90L, "b", "I"))  // insert image only
      .toDF("k", "v", "p", "_op"), "k", "p")
    val feed = Versioned.changes(spark, tbl, 1, 2)
      .as[(Long, Long, String, String)].collect().toSet
    assert(feed == Set(
      (2L, 21L, "a", "insert"), (2L, 20L, "a", "delete"),
      (3L, 30L, "b", "delete"), (9L, 90L, "b", "insert")), feed.toString)
    // key 1 untouched: absent even though its PARTITION was rewritten —
    // the feed is digest-based, not file-based
    assert(!feed.exists(_._1 == 1L))
    // the manifest-pruned feed must equal the naive full-table digest
    // anti-join (common entries contribute nothing to either side)
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit, md5}
    def withDigest(v: Int) = {
      val df = Versioned.readAt(spark, tbl, v)
      df.withColumn("_d", md5(concat_ws("",
        df.columns.sorted.map(c =>
          coalesce(col(c).cast("string"), lit(" "))): _*)))
    }
    val (a, b) = (withDigest(2), withDigest(1))
    val naive = a.join(b.select("_d"), Seq("_d"), "left_anti").drop("_d")
      .withColumn("_change", lit("insert"))
      .unionByName(b.join(a.select("_d"), Seq("_d"), "left_anti").drop("_d")
        .withColumn("_change", lit("delete")))
      .as[(Long, Long, String, String)].collect().toSet
    assert(naive == feed, s"pruned feed diverged from naive: $naive vs $feed")
  }

  test("restore publishes an old version's entries as the new latest: zero data copy, history intact") {
    import spark.implicits._
    val tbl = freshTable("restore")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p"), partCol = Some("p"))
    Versioned.merge(spark, tbl,
      Seq((1L, 99L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p") // bad merge
    val v3 = Versioned.restore(spark, tbl, 1)
    assert(v3 == 3)
    // rollback content == v1; the bad v2 is still time-travelable
    assert(Versioned.read(spark, tbl).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "b")))
    assert(Versioned.readAt(spark, tbl, 2).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 99L, "a"), (2L, 20L, "b")))
    // zero data copy: v3 serves exactly v1's data dirs
    assert(Versioned.dataDirsOf(spark, tbl, 3) == Versioned.dataDirsOf(spark, tbl, 1))
  }

  test("compactFiles collapses one partition's files, splices the rest, keeps every version readable") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("compact")
    Versioned.publish(spark, tbl,
      (1L to 8L).map(k => (k, k * 10, if (k <= 6) "a" else "b")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val before = Versioned.fileEntriesOf(spark, tbl, 1)
    val aFilesBefore = before.count(_._1 == "p=a")
    assert(aFilesBefore >= 2, s"need a multi-file partition to compact: $before")
    val v2 = Versioned.compactFiles(spark, tbl, "p=a", "k", "p")
    val after = Versioned.fileEntriesOf(spark, tbl, v2)
    assert(after.count(_._1 == "p=a") == 1, s"p=a should collapse to one file: $after")
    // partition b spliced verbatim; content identical; v1 still readable
    assert(before.filter(_._1 == "p=b").toSet.subsetOf(after.toSet))
    assert(Versioned.readAt(spark, tbl, v2).as[(Long, Long, String)].collect().toSet ==
      Versioned.readAt(spark, tbl, 1).as[(Long, Long, String)].collect().toSet)
    // compacted file's key stats cover the partition
    val cf = after.find(_._1 == "p=a").get
    assert(cf._4 == 1L && cf._5 == 6L, cf.toString)
  }

  test("q211 versions are immutable: v1 files byte-identical across the v2 publish, latest resolves, diff counts") {
    import spark.implicits._
    val tbl = freshTable("ttv")
    val v1 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "s")
    assert(Versioned.write(spark, tbl, v1) == 1)
    val v1Files = dataDirFiles(tbl, 1)
    val v2 = Seq((1L, "x"), (2L, "Y2"), (4L, "w")).toDF("k", "s")
    assert(Versioned.write(spark, tbl, v2) == 2)
    assert(Versioned.latestVersion(spark, tbl) == 2)
    assert(dataDirFiles(tbl, 1) == v1Files,
      "published version files must never change")
    val back = Versioned.readAt(spark, tbl, 1).as[(Long, String)].collect().toSet
    assert(back == Set((1L, "x"), (2L, "y"), (3L, "z")))
    assert(Versioned.read(spark, tbl)
      .as[(Long, String)].collect().toSet == Set((1L, "x"), (2L, "Y2"), (4L, "w")))
    assert(Versioned.diff(spark, tbl, 1, 2) == (2L, 2L),
      "v1->v2: +{(2,Y2),(4,w)} -{(2,y),(3,z)}")
  }

  test("q217 optimizeTable bin-packs every partition's small files; big files and packed bins splice; versions stay readable") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("optall")
    // two partitions: a = keys 1..24 fragmented into ~12 tiny files,
    // b = keys 101..124 in ONE big file (already at/above target)
    val frag = (1L to 24L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
      .repartitionByRange(12, col("k"))
    val big = (101L to 124L).map(k => (k, k * 10, "b")).toDF("k", "v", "p")
      .coalesce(1)
    Versioned.publish(spark, tbl, frag.unionByName(big),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val f1 = Versioned.fileEntriesOf(spark, tbl, 1)
    val aBefore = f1.count(_._1 == "p=a")
    val bBefore = f1.filter(_._1 == "p=b")
    assert(aBefore >= 8, s"fragmentation setup failed: $f1")
    assert(bBefore.size == 1)
    val v2 = Versioned.optimizeTable(spark, tbl, "k", "p", targetRows = 8)
    assert(v2 == 2)
    val f2 = Versioned.fileEntriesOf(spark, tbl, 2)
    // a: 24 rows at target 8 → ≤ ceil(24/8)=3 bins (collisions may merge)
    val aAfter = f2.count(_._1 == "p=a")
    assert(aAfter <= 3 && aAfter >= 1, s"p=a should collapse to ≤3 files: $f2")
    // b: its single file is a 1-file bin → spliced VERBATIM (same entry)
    assert(f2.filter(_._1 == "p=b") == bBefore,
      "a partition with nothing to gain must not be rewritten")
    // content identical; v1 still readable post-optimize
    val want = ((1L to 24L).map(k => (k, k * 10, "a")) ++
      (101L to 124L).map(k => (k, k * 10, "b"))).toSet
    assert(Versioned.readAt(spark, tbl, 2).as[(Long, Long, String)].collect().toSet == want)
    assert(Versioned.readAt(spark, tbl, 1).as[(Long, Long, String)].collect().toSet == want)
    // idempotence: a second pass finds nothing to gain and returns base
    assert(Versioned.optimizeTable(spark, tbl, "k", "p", targetRows = 8) == 2,
      "optimize over an already-optimized table must be a no-op")
  }

  test("q218 schema evolution: merge adds a column; survivors and spliced files NULL-backfill; time travel serves the old schema") {
    import spark.implicits._
    val tbl = freshTable("sevol")
    // partition a holds k=1 (survivor in a rewritten partition) and k=2
    // (updated); partition b holds k=3 (entirely spliced, pre-evolution file)
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")).toDF("k", "v", "p"),
      partCol = Some("p"))
    val batch = Seq(
      (2L, 21L, "a", Some("u2"), "U"),
      (9L, 90L, "b", Some("n9"), "I"))
      .toDF("k", "v", "p", "note", "_op")
    val v2 = Versioned.merge(spark, tbl, batch, "k", "p")
    assert(v2 == 2)
    // new schema served at v2, with NULL backfill in BOTH paths: k=1 rode
    // the rewrite (survivor), k=3 rode the manifest splice (old file)
    val got = Versioned.readAt(spark, tbl, 2)
      .as[(Long, Long, String, Option[String])].collect().toSet
    assert(got == Set(
      (1L, 10L, "a", None), (2L, 21L, "a", Some("u2")),
      (3L, 30L, "b", None), (9L, 90L, "b", Some("n9"))), got.toString)
    // time travel: v1 still serves the OLD schema
    assert(Versioned.readAt(spark, tbl, 1).columns.toSeq == Seq("k", "v", "p"),
      "v1 must not grow the column added in v2")
    // change feed across the evolution, presented in v2's schema: the
    // spliced k=3 is absent; the update is a delete+insert pair with the
    // pre-image NULL-backfilled
    val feed = Versioned.changes(spark, tbl, 1, 2)
      .as[(Long, Long, String, Option[String], String)].collect().toSet
    assert(feed == Set(
      (2L, 20L, "a", None, "delete"), (2L, 21L, "a", Some("u2"), "insert"),
      (9L, 90L, "b", Some("n9"), "insert")), feed.toString)
    assert(Versioned.diff(spark, tbl, 1, 2) == (2L, 1L))
    // a column can never be DROPPED by a narrower source
    val narrow = Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op")
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(spark, tbl, narrow, "k", "p")
    }
    assert(e.getMessage.contains("never dropped"), e.getMessage)
    // restore to v1 rolls the schema back with the data
    val v3 = Versioned.restore(spark, tbl, 1)
    assert(Versioned.readAt(spark, tbl, v3).columns.toSeq == Seq("k", "v", "p"))
  }

  test("mergeByFiles schema evolution: rewrite and check subsets read through the evolved schema") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("sevolf")
    Versioned.publish(spark, tbl,
      (1L to 8L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    // evolving file-scoped merge: only the file covering k=3 is rewritten
    val v2 = Versioned.mergeByFiles(spark, tbl,
      Seq((3L, 31L, "a", Some("u3"), "U")).toDF("k", "v", "p", "note", "_op"),
      "k", "p")
    val got = Versioned.readAt(spark, tbl, v2)
      .as[(Long, Long, String, Option[String])].collect().toSet
    assert(got == (1L to 8L).map(k =>
      (k, if (k == 3) 31L else k * 10, "a",
        if (k == 3) Some("u3") else None)).toSet, got.toString)
    // a SECOND merge whose rewrite subset lands entirely on pre-evolution
    // files (k=7's file was never rewritten) must still see the evolved
    // schema — the aligned-subset read, not the raw file union
    val v3 = Versioned.mergeByFiles(spark, tbl,
      Seq((7L, 71L, "a", Some("u7"), "U")).toDF("k", "v", "p", "note", "_op"),
      "k", "p")
    val got3 = Versioned.readAt(spark, tbl, v3)
      .as[(Long, Long, String, Option[String])].collect().toSet
    assert(got3 == (1L to 8L).map(k =>
      (k, if (k == 3) 31L else if (k == 7) 71L else k * 10, "a",
        if (k == 3) Some("u3") else if (k == 7) Some("u7") else None)).toSet,
      got3.toString)
  }

  test("vacuum retention: a fresh claim and a young unreferenced data dir survive; aged ones are reclaimed") {
    import spark.implicits._
    val tbl = freshTable("vacret")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    // Simulate an in-flight writer: a fresh uncommitted claim for v2 plus
    // a freshly written, not-yet-referenced data dir (its merge has not
    // committed yet).
    val claim = new java.io.File(tbl, "_manifests/2.txt")
    java.nio.file.Files.write(claim.toPath, "-\td_inflight\n".getBytes("UTF-8"))
    val inflightDir = new java.io.File(tbl, "d_inflight")
    assert(inflightDir.mkdirs())
    java.nio.file.Files.write(new java.io.File(inflightDir, "x.parquet").toPath,
      Array[Byte](1, 2, 3))
    Versioned.vacuum(spark, tbl, keep = Set(1))
    assert(claim.exists(), "a fresh in-flight claim must survive vacuum")
    assert(inflightDir.exists(),
      "a young unreferenced data dir (an in-flight merge's output) must survive vacuum")
    // Age both past the retention window: the writer is dead — reclaim.
    val old = System.currentTimeMillis() - 10 * 60 * 1000
    assert(claim.setLastModified(old) && inflightDir.setLastModified(old))
    Versioned.vacuum(spark, tbl, keep = Set(1))
    assert(!claim.exists(), "an aged crashed claim must be reclaimed")
    assert(!inflightDir.exists(), "an aged orphan data dir must be reclaimed")
    assert(Versioned.read(spark, tbl).count() == 1)
  }

  test("vacuum protects a committed version newer than the keep set inside the retention window") {
    import spark.implicits._
    val tbl = freshTable("vacnew")
    Versioned.publish(spark, tbl, Seq((1L, 10L, "a")).toDF("k", "v", "p"),
      partCol = Some("p"))
    // A writer commits v2 between the caller computing keep={1} and the
    // sweep: v2 is committed, newer than max(keep), and young — protected.
    Versioned.merge(spark, tbl,
      Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    Versioned.vacuum(spark, tbl, keep = Set(1))
    assert(Versioned.latestVersion(spark, tbl) == 2,
      "a just-committed version newer than keep must survive the sweep")
    assert(Versioned.readAt(spark, tbl, 2).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 11L, "a")))
  }

  test("vacuum racing a live merge: the merge publishes intact (retention shields its in-flight dir)") {
    import spark.implicits._
    val tbl = freshTable("vacrace")
    Versioned.publish(spark, tbl,
      (1L to 40L).map(k => (k, k * 10, if (k % 2 == 0) "a" else "b"))
        .toDF("k", "v", "p"), partCol = Some("p"))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // Maintenance loop: sweep unreferenced dirs with a keep superset (no
    // manifest is ever dropped) while the merge below is mid-flight. The
    // dangerous moment is between the merge's data-dir write and its
    // commit — without the retention grace this loop deletes that dir.
    val sweeper = new Thread(() => {
      try while (!done.get()) Versioned.vacuum(spark, tbl, keep = (1 to 100).toSet)
      catch { case t: Throwable => failure.set(t) }
    }, "graft-vacuum-sweeper")
    sweeper.start()
    try {
      val v2 = Versioned.merge(spark, tbl,
        Seq((2L, 21L, "a", "U"), (41L, 410L, "b", "I")).toDF("k", "v", "p", "_op"),
        "k", "p")
      assert(v2 == 2)
    } finally { done.set(true); sweeper.join(60000) }
    assert(failure.get() == null, s"sweeper crashed: ${failure.get()}")
    val got = Versioned.read(spark, tbl).as[(Long, Long, String)].collect().toSet
    val want = (1L to 40L).map(k =>
      (k, if (k == 2) 21L else k * 10, if (k % 2 == 0) "a" else "b")).toSet +
      ((41L, 410L, "b"))
    assert(got == want, "merge output corrupted by the concurrent vacuum")
  }

  test("commit read-back: a claim reclaimed mid-commit raises instead of reporting a lost commit") {
    import spark.implicits._
    val tbl = freshTable("readback")
    Versioned.publish(spark, tbl, Seq((1L, "x")).toDF("k", "s"))
    // Between this writer's exclusive claim and its close, another writer
    // deems the claim stale, deletes it, and commits its own v2 — this
    // writer's body lands on an unlinked inode. Pre-read-back the commit
    // "succeeded" silently; now it must detect the loss and raise.
    Versioned.postClaimHookForTests = Some(() => {
      Versioned.postClaimHookForTests = None // fire once, no recursion
      val claim = new java.io.File(tbl, "_manifests/2.txt")
      assert(claim.delete(), "test setup: claim must exist to steal")
      java.nio.file.Files.write(claim.toPath,
        "-\td_thief\n#commit\n".getBytes("UTF-8"))
    })
    try {
      val e = intercept[ConcurrentWriteException] {
        Versioned.publish(spark, tbl, Seq((1L, "mine")).toDF("k", "s"))
      }
      assert(e.getMessage.contains("reclaimed"), e.getMessage)
    } finally Versioned.postClaimHookForTests = None
    // the thief's manifest is what the table serves at v2
    val mf = new java.io.File(tbl, "_manifests/2.txt")
    assert(new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
      .contains("d_thief"))
  }

  test("merge against latest pins its base: a competing commit mid-merge fails this merge loudly") {
    import spark.implicits._
    val tbl = freshTable("basepin")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    // This merge reads base v1 (fromVersion = None → expectedLatest
    // defaults to 1). At its commit entry a competing writer publishes
    // v2 — pre-r14 the merge would commit v3 spliced from v1, silently
    // discarding v2; now the base pin rejects it.
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None // fire once, no recursion
      Versioned.publish(spark, tbl,
        Seq((9L, 90L, "z")).toDF("k", "v", "p"), partCol = Some("p"))
    })
    try {
      val e = intercept[ConcurrentWriteException] {
        Versioned.merge(spark, tbl,
          Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
      }
      assert(e.getMessage.contains("expected"), e.getMessage)
    } finally Versioned.preCommitHookForTests = None
    // the competing v2 stands; the lost-update merge left no version
    assert(Versioned.latestVersion(spark, tbl) == 2)
    assert(Versioned.read(spark, tbl).as[(Long, Long, String)].collect().toSet ==
      Set((9L, 90L, "z")))
    // explicit branching (fromVersion) still works against the new latest
    val v3 = Versioned.merge(spark, tbl,
      Seq((9L, 91L, "z", "U")).toDF("k", "v", "p", "_op"), "k", "p",
      fromVersion = Some(2))
    assert(v3 == 3)
  }

  test("NULL merge keys are rejected with a diagnosable message, not an executor NPE") {
    import spark.implicits._
    val tbl = freshTable("nullkey")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    val bad = Seq((Some(2L), 20L, "a", "I"), (None: Option[Long], 30L, "a", "I"))
      .toDF("k", "v", "p", "_op")
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(spark, tbl, bad, "k", "p")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // table side: a file-granular publish over a null-keyed row must fail
    // loudly too (min/max stats would silently skip the row otherwise)
    val tbl2 = freshTable("nullkey2")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.publish(spark, tbl2,
        Seq((Some(1L), 10L, "a"), (None: Option[Long], 20L, "a")).toDF("k", "v", "p"),
        partCol = Some("p"), fileStatsKey = Some("k"))
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
  }

  test("coversAny range probe agrees with the linear scan on adversarial bounds") {
    val keys = Array(-9L, -3L, 0L, 5L, 5L, 17L, Long.MaxValue)
    def naive(lo: Long, hi: Long) = keys.exists(k => lo <= k && k <= hi)
    val probes = Seq(
      (Long.MinValue, Long.MaxValue), (Long.MinValue, -10L), (-9L, -9L),
      (-8L, -4L), (-3L, 0L), (1L, 4L), (5L, 5L), (6L, 16L), (17L, 17L),
      (18L, Long.MaxValue - 1), (Long.MaxValue, Long.MaxValue), (7L, 3L))
    probes.foreach { case (lo, hi) =>
      assert(Versioned.coversAny(lo, hi, keys) == naive(lo, hi), s"[$lo,$hi]")
    }
    assert(!Versioned.coversAny(0L, 10L, Array.empty[Long]))
  }

  test("q221/q222 predicate DML: NULL predicate keeps/leaves rows; only touched partitions rewrite; moves and feeds work") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import spark.implicits._
    val tbl = freshTable("dml")
    // v is nullable: the predicate v < 15 is NULL for k=3 — SQL semantics
    // say a NULL predicate neither deletes nor updates that row
    Versioned.publish(spark, tbl,
      Seq((1L, Some(10L), "a"), (2L, Some(20L), "a"),
          (3L, None: Option[Long], "a"), (4L, Some(40L), "b"))
        .toDF("k", "v", "p"),
      partCol = Some("p"))
    val v1Entries = Versioned.dataDirsOf(spark, tbl, 1)
    // DELETE WHERE v < 15: removes k=1 only; k=3 (NULL) stays; partition b
    // holds no match and must be SPLICED (same data dir as v1)
    val v2 = Versioned.deleteWhere(spark, tbl, col("v") < 15, "p",
      recordChanges = true)
    assert(v2 == 2)
    assert(Versioned.readAt(spark, tbl, 2).as[(Long, Option[Long], String)]
      .collect().toSet ==
      Set((2L, Some(20L), "a"), (3L, None, "a"), (4L, Some(40L), "b")))
    assert(Versioned.dataDirsOf(spark, tbl, 2).contains(v1Entries.head),
      "untouched partition b must ride v1's data dir")
    val feed2 = Versioned.recordedChanges(spark, tbl, 1, 2)
      .as[(Long, Option[Long], String, String, Int)].collect().toSet
    assert(feed2 == Set((1L, Some(10L), "a", "delete", 2)), feed2.toString)
    // UPDATE WHERE v >= 20 SET v = v + 1, p = 'c' for k=4: moves the row
    // across partitions; k=2 updates in place; k=3 (NULL) unchanged
    val v3 = Versioned.updateWhere(spark, tbl, col("v") >= 40,
      Map("v" -> (col("v") + 1), "p" -> lit("c")), "p",
      recordChanges = true)
    assert(Versioned.readAt(spark, tbl, v3).as[(Long, Option[Long], String)]
      .collect().toSet ==
      Set((2L, Some(20L), "a"), (3L, None, "a"), (4L, Some(41L), "c")),
      "k=4 must move a→c with v+1; NULL-predicate k=3 untouched")
    val feed3 = Versioned.recordedChanges(spark, tbl, 2, 3)
      .as[(Long, Option[Long], String, String, Int)].collect().toSet
    assert(feed3 == Set(
      (4L, Some(40L), "b", "delete", 3), (4L, Some(41L), "c", "insert", 3)),
      feed3.toString)
    // a no-match predicate is a no-op returning the base version
    assert(Versioned.deleteWhere(spark, tbl, col("v") > 1000, "p") == v3)
    // unknown assignment column rejected loudly
    val e = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, tbl, col("v") > 0,
        Map("nope" -> lit(1)), "p")
    }
    assert(e.getMessage.contains("unknown columns"), e.getMessage)
    // base pin: DML against latest fails if the table advanced mid-op
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None
      Versioned.publish(spark, tbl, Seq((9L, Some(90L), "z"))
        .toDF("k", "v", "p"), partCol = Some("p"))
    })
    try intercept[ConcurrentWriteException] {
      Versioned.deleteWhere(spark, tbl, col("v") === 20, "p")
    } finally Versioned.preCommitHookForTests = None
  }

  test("q225 CDC replication: the replica converges to the primary row-for-row under per-version idempotence tags") {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit, md5}
    Sinks.cdcReplication(spark, sfDir).collect()
    val sfx = Sinks.dirTag(sfDir)
    val tmp = sys.props("java.io.tmpdir")
    val srcTbl = s"$tmp/graft_rcf_vt_$sfx"
    val dstTbl = s"$tmp/graft_repl_vt_$sfx"
    def digest(tbl: String) = {
      val df = graft.tables.Versioned.read(spark, tbl)
      df.select(md5(concat_ws("", df.columns.sorted.map(c =>
        coalesce(col(c).cast("string"), lit(" "))): _*)).as("d"))
        .groupBy("d").count()
    }
    // full multiset equality, not just aggregates: replica == primary
    assert(digest(dstTbl).exceptAll(digest(srcTbl)).isEmpty &&
           digest(srcTbl).exceptAll(digest(dstTbl)).isEmpty,
      "replica diverged from primary")
    // each source commit with a NON-EMPTY feed landed exactly once under
    // its replication tag (an empty band at tiny SFs yields an empty feed
    // version, which the replicator correctly skips)
    val applied = (2 to 4).filter { v =>
      graft.tables.Versioned
        .recordedChanges(spark, srcTbl, v - 1, v).limit(1).count() > 0
    }
    assert(applied.nonEmpty, "at least one source band must be non-empty")
    applied.foreach { v =>
      assert(graft.tables.Versioned
        .taggedVersion(spark, dstTbl, s"repl_$v").isDefined,
        s"source v$v not replicated under its idempotence tag")
    }
  }

  test("q224 CHECK constraints: refuse violating writes pre-file, NULL passes, drop re-admits, ops carry them") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    import graft.tables.ConstraintViolationException
    val tbl = freshTable("check")
    Versioned.publish(spark, tbl,
      Seq((1L, Some(10L), "a"), (2L, None: Option[Long], "b")).toDF("k", "v", "p"),
      partCol = Some("p"))
    // adding a constraint the CURRENT table violates is refused
    intercept[ConstraintViolationException] {
      Versioned.addConstraint(spark, tbl, "v_big", "v >= 100")
    }
    // NULL passes (SQL CHECK): k=2's NULL v does not violate v >= 0
    val v2 = Versioned.addConstraint(spark, tbl, "v_nonneg", "v >= 0")
    assert(v2 == 2 && Versioned.constraintsOf(spark, tbl, 2) ==
      Seq(("v_nonneg", "v >= 0")))
    // a violating merge is refused BEFORE any file lands: version
    // unchanged and no orphan data dir appears
    val dirsBefore = new java.io.File(tbl).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d_")).map(_.getName).toSet
    intercept[ConstraintViolationException] {
      Versioned.merge(spark, tbl,
        Seq((3L, Some(-5L), "a", "I")).toDF("k", "v", "p", "_op"), "k", "p")
    }
    assert(Versioned.latestVersion(spark, tbl) == 2)
    assert(new java.io.File(tbl).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d_")).map(_.getName).toSet
      == dirsBefore, "a refused merge must leave no orphan files")
    // a violating UPDATE WHERE is refused too
    intercept[ConstraintViolationException] {
      Versioned.updateWhere(spark, tbl, col("k") === 1L,
        Map("v" -> lit(-1L)), "p")
    }
    // legal writes pass and carry the constraint forward
    val v3 = Versioned.merge(spark, tbl,
      Seq((3L, Some(30L), "a", "I")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(Versioned.constraintsOf(spark, tbl, v3) == Seq(("v_nonneg", "v >= 0")))
    // DELETE can never violate; RESTORE carries the restored version's set
    val v4 = Versioned.deleteWhere(spark, tbl, col("k") === 3L, "p")
    assert(Versioned.constraintsOf(spark, tbl, v4).nonEmpty)
    // drop re-admits the write that was refused
    val v5 = Versioned.dropConstraint(spark, tbl, "v_nonneg")
    assert(Versioned.constraintsOf(spark, tbl, v5).isEmpty)
    val v6 = Versioned.merge(spark, tbl,
      Seq((4L, Some(-5L), "a", "I")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(Versioned.readAt(spark, tbl, v6).filter(col("v") < 0).count() == 1)
  }

  test("ADD/DROP CONSTRAINT carry every table header: stats dimensions, partition spec and its evolution") {
    import spark.implicits._
    val tbl = freshTable("check_headers")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, 100L, "a"), (2L, 20L, 200L, "b")).toDF("k", "v", "w", "p"),
      partCol = Some("p"), fileStatsKey = Some("k"), fileStatsKey2 = Some("v"),
      fileStatsCols = Seq("w"))
    def headerBlock(v: Int): Seq[String] = {
      val src = scala.io.Source.fromFile(s"$tbl/_manifests/$v.txt", "UTF-8")
      try src.getLines().takeWhile(_.startsWith("#")).toList finally src.close()
    }
    def assertHeaders(v: Int, partCol: String): Unit = {
      assert(Versioned.statsKeyOf(spark, tbl, v).contains("k"), s"v$v #statskey")
      assert(Versioned.statsKey2Of(spark, tbl, v).contains("v"), s"v$v #statskey2")
      assert(Versioned.statsColsOf(spark, tbl, v) == Seq("w"), s"v$v #statscols")
      assert(Versioned.partColOf(spark, tbl, v).contains(partCol), s"v$v #partcol")
      val block = headerBlock(v)
      Seq("#statskey\tk", "#statskey2\tv", "#statscols\tw", s"#partcol\t$partCol")
        .foreach(h => assert(block.contains(h), s"v$v header block lacks $h: $block"))
    }
    val vAdd = Versioned.addConstraint(spark, tbl, "k_pos", "k > 0")
    assertHeaders(vAdd, "p")
    val vDrop = Versioned.dropConstraint(spark, tbl, "k_pos")
    assertHeaders(vDrop, "p")
    // a constraint change must not undo a partition evolution
    Versioned.evolvePartitioning(spark, tbl, "w")
    val vAfter = Versioned.addConstraint(spark, tbl, "v_pos", "v > 0")
    assert(Versioned.partColOf(spark, tbl, vAfter).contains("w"))
    assert(!Versioned.hasUniformLayout(spark, tbl, vAfter),
      "pre-evolution files are still laid out by p")
  }

  test("TIMESTAMP AS OF and DESCRIBE HISTORY: mtime-resolved version travel; metadata-only history") {
    import spark.implicits._
    val tbl = freshTable("asof")
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    Versioned.merge(spark, tbl,
      Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
      recordChanges = true, tag = Some("t2"))
    // pin commit times deterministically (mtime is the commit clock)
    val m1 = new java.io.File(tbl, "_manifests/1.txt")
    val m2 = new java.io.File(tbl, "_manifests/2.txt")
    val t0 = 1700000000000L
    assert(m1.setLastModified(t0) && m2.setLastModified(t0 + 60000))
    assert(Versioned.versionAsOf(spark, tbl, t0) == 1)
    assert(Versioned.versionAsOf(spark, tbl, t0 + 59999) == 1)
    assert(Versioned.versionAsOf(spark, tbl, t0 + 60000) == 2)
    assert(Versioned.readAsOf(spark, tbl, t0).as[(Long, Long, String)]
      .collect().toSet == Set((1L, 10L, "a")))
    intercept[IllegalArgumentException] {
      Versioned.versionAsOf(spark, tbl, t0 - 1)
    }
    val h = Versioned.history(spark, tbl)
      .as[(Int, String, Long, Long, Option[Long], Option[Int], Option[String], Boolean)]
      .collect().sortBy(_._1)
    assert(h.map(_._1).toSeq == Seq(1, 2))
    assert(h.map(_._2).toSeq == Seq("PUBLISH", "MERGE"),
      s"history must name each commit's operation: ${h.map(_._2).toSeq}")
    assert(h(0)._3 == t0 && h(1)._3 == t0 + 60000)
    assert(h(1)._7.contains("t2") && h(1)._8, "v2 carries its tag and a change feed")
    assert(h(0)._7.isEmpty && !h(0)._8)
    assert(h.forall(_._6.contains(3)), "both versions record a 3-column schema")
  }

  test("diff digest is collision-safe: adjacent-column concatenation and NULL position both distinguish rows") {
    import spark.implicits._
    val tbl = freshTable("diffadv")
    // (1,"23") vs (12,"3"): same unseparated concatenation "123"
    // (null,"a") vs ("a"-as-int? no) — use two string cols for NULL swap
    Versioned.write(spark, tbl,
      Seq((Some(1L), Some("23")), (None: Option[Long], Some("a"))).toDF("x", "y"))
    Versioned.write(spark, tbl,
      Seq((Some(12L), Some("3")), (Some(97L), None: Option[String])).toDF("x", "y"))
    // every row changed: 2 added, 2 removed — an empty-separator or
    // NULL-skipping digest would under-count
    assert(Versioned.diff(spark, tbl, 1, 2) == (2L, 2L))
  }

  test("q226 OCC rebase: a CAS-losing writer re-validates the winner's delta and splices on top; overlaps stay loud") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("occ")
    // 4 key-contiguous files [1,2] [3,4] [5,6] [7,8] in one partition
    Versioned.publish(spark, tbl,
      (1L to 8L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    // A lands first (rewrites [1,2]); B computed from the same base v1
    // with the same expected version rewrites [7,8] — CAS loses, the
    // re-validation proves A's delta disjoint, B splices onto A's manifest.
    val vA = Versioned.mergeByFiles(spark, tbl,
      Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(vA == 2)
    val vB = Versioned.mergeByFiles(spark, tbl,
      Seq((7L, 71L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
      fromVersion = Some(1), expectedLatest = Some(1), rebaseRetries = 1)
    assert(vB == 3, "the rebase must land on top of the winner")
    assert(Versioned.readAt(spark, tbl, 3).as[(Long, Long, String)].collect().toSet ==
      (1L to 8L).map(k =>
        (k, if (k == 1) 11L else if (k == 7) 71L else k * 10, "a")).toSet,
      "both writers' updates must survive — a lost update is the bug OCC exists to prevent")
    // READ-SET overlap: C (from v1) rewrites the file A already replaced —
    // no retry count may force that through.
    val e1 = intercept[ConcurrentWriteException] {
      Versioned.mergeByFiles(spark, tbl,
        Seq((2L, 22L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
        fromVersion = Some(1), expectedLatest = Some(1), rebaseRetries = 5)
    }
    assert(e1.getMessage.contains("rewrote") || e1.getMessage.contains("key space"),
      e1.getMessage)
    // KEY-SPACE overlap: D inserts key 1 computed against v1 (where its
    // file still held v=10); the winner's delta CONTAINS key 1, so the
    // matched-insert classification cannot be trusted — loud conflict.
    val e2 = intercept[ConcurrentWriteException] {
      Versioned.mergeByFiles(spark, tbl,
        Seq((1L, 999L, "a", "I")).toDF("k", "v", "p", "_op"), "k", "p",
        fromVersion = Some(1), expectedLatest = Some(1), rebaseRetries = 5)
    }
    assert(e2.getMessage.contains("key space") || e2.getMessage.contains("rewrote"),
      e2.getMessage)
    // The failed attempts must not leak orphan data dirs past their abort.
    assert(Versioned.latestVersion(spark, tbl) == 3)
  }

  test("q226 OCC rebase under TRULY CONCURRENT writers: disjoint-key merges all land, none lost") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("occpar")
    // 8 key-contiguous files over 1..32: four writers each rewrite one
    // well-separated band — every CAS loser must rebase, never give up,
    // never lose another writer's update
    Versioned.publish(spark, tbl,
      (1L to 32L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(8, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val bands = Seq(2L, 10L, 18L, 26L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val done = scala.concurrent.Future.traverse(bands) { b =>
      scala.concurrent.Future {
        Versioned.mergeByFiles(spark, tbl,
          Seq((b, b * 1000, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
          fromVersion = Some(1), expectedLatest = Some(1), rebaseRetries = 8)
      }
    }
    val versions = try scala.concurrent.Await.result(
      done, scala.concurrent.duration.Duration(120, "s"))
    finally pool.shutdown()
    assert(versions.toSet == Set(2, 3, 4, 5),
      s"four writers must land four consecutive versions, got $versions")
    assert(Versioned.read(spark, tbl).as[(Long, Long, String)].collect().toSet ==
      (1L to 32L).map(k =>
        (k, if (bands.contains(k)) k * 1000 else k * 10, "a")).toSet,
      "every concurrent writer's update must survive the rebase storm")
  }

  test("q226 OCC rebase honors a concurrently committed idempotence tag: the race resolves to the other writer's version") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("occtag")
    Versioned.publish(spark, tbl,
      (1L to 8L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val batch = Seq((3L, 33L, "a", "U")).toDF("k", "v", "p", "_op")
    // At this writer's commit entry, a competing delivery of the SAME
    // tagged batch commits first (crash-replay race): the rebase loop must
    // return the competitor's version, not conflict and not double-apply.
    Versioned.preCommitHookForTests = Some(() => {
      Versioned.preCommitHookForTests = None // fire once, no recursion
      Versioned.mergeByFiles(spark, tbl, batch, "k", "p", tag = Some("b1"))
    })
    val v = try Versioned.mergeByFiles(spark, tbl, batch, "k", "p",
      tag = Some("b1"), rebaseRetries = 1)
    finally Versioned.preCommitHookForTests = None
    assert(v == 2 && Versioned.latestVersion(spark, tbl) == 2,
      s"redelivered tagged batch must resolve to the committed version, got v$v")
    assert(Versioned.readAt(spark, tbl, 2).as[(Long, Long, String)]
      .collect().toSet ==
      (1L to 8L).map(k => (k, if (k == 3) 33L else k * 10, "a")).toSet)
  }

  test("q227 shallow clone copies zero data, carries schema/constraints/stats, diverges locally, source untouched") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val src = freshTable("clonesrc")
    val dst = freshTable("clonedst")
    Versioned.publish(spark, src,
      (1L to 8L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    Versioned.addConstraint(spark, src, "v_pos", "v > 0")
    val srcFiles = dataDirFiles(src, 1)
    val v1 = Versioned.cloneTable(spark, src, dst)
    assert(v1 == 1)
    // zero copy: the clone dir holds ONLY manifests
    assert(new java.io.File(dst).listFiles().map(_.getName).toSet == Set("_manifests"),
      "a shallow clone must not copy a single data file")
    assert(Versioned.readAt(spark, dst, 1).as[(Long, Long, String)].collect().toSet ==
      (1L to 8L).map(k => (k, k * 10, "a")).toSet)
    // metadata carried over: constraints enforce, stats column enables mergeByFiles
    intercept[graft.tables.ConstraintViolationException] {
      Versioned.mergeByFiles(spark, dst,
        Seq((3L, -5L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    }
    val v2 = Versioned.mergeByFiles(spark, dst,
      Seq((3L, 31L, "a", "U"), (100L, 1000L, "b", "I"))
        .toDF("k", "v", "p", "_op"), "k", "p")
    assert(v2 == 2)
    // the clone serves src-v1 ⊕ batch; the SOURCE is byte-identical
    assert(Versioned.readAt(spark, dst, 2).as[(Long, Long, String)].collect().toSet ==
      ((1L to 8L).map(k => (k, if (k == 3) 31L else k * 10, "a")).toSet + ((100L, 1000L, "b"))))
    assert(dataDirFiles(src, 1) == srcFiles, "cloning + merging must never touch the source")
    assert(Versioned.readAt(spark, src, 1).as[(Long, Long, String)].collect().toSet ==
      (1L to 8L).map(k => (k, k * 10, "a")).toSet)
    // v2 mixes shared (absolute, under src) and local (fresh d_*) dirs
    val dirs2 = Versioned.dataDirsOf(spark, dst, 2)
    val srcAbs = new org.apache.hadoop.fs.Path(src).toUri.getPath
    assert(dirs2.exists(_.contains(srcAbs)) && dirs2.exists(_.startsWith("d_")),
      s"expected shared + local dirs, got $dirs2")
    // the clone's vacuum retires ITS versions but can never delete source files
    Versioned.vacuum(spark, dst, keep = Set(2), retentionMs = -1)
    assert(dataDirFiles(src, 1) == srcFiles, "clone vacuum must not reach into the source")
    assert(Versioned.readAt(spark, dst, 2).count() == 9)
    // clone targets must be virgin tables
    intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, src, dst)
    }
  }

  test("q228 per-file key blooms: in-range absent keys skip files, no false negatives, saturated filters degrade to range") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("bloom")
    // even keys 2..16 in 4 files [2,4] [6,8] [10,12] [14,16]: every odd
    // key is inside some file's RANGE but in no file
    Versioned.publish(spark, tbl,
      (1L to 8L).map(k => (2 * k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    assert(Versioned.bloomCoverage(spark, tbl, 1) == 1.0)
    // absent odd key: range selects its covering file, the bloom skips it
    val rangeOnly = Versioned.lookupFiles(spark, tbl, Seq(7L), useBloom = false)
    val withBloom = Versioned.lookupFiles(spark, tbl, Seq(7L), useBloom = true)
    assert(rangeOnly.size == 1, s"range must cover key 7: $rangeOnly")
    assert(withBloom.isEmpty, s"bloom must prove key 7 absent: $withBloom")
    // no false negatives: every present key's file survives the bloom probe
    val present = Seq(2L, 8L, 14L)
    assert(Versioned.lookupFiles(spark, tbl, present, useBloom = true) ==
      Versioned.lookupFiles(spark, tbl, present, useBloom = false))
    // lookupKeys: exact rows for mixed present/absent probes
    assert(Versioned.lookupKeys(spark, tbl, Seq(7L, 8L))
      .as[(Long, Long, String)].collect().toSet == Set((8L, 40L, "a")))
    // mergeByFiles pruning: an unmatched-U on an in-range absent key
    // rewrites NOTHING (without the bloom it would rewrite the covering
    // file with identical content)
    val v2 = Versioned.mergeByFiles(spark, tbl,
      Seq((7L, 77L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(Versioned.fileEntriesOf(spark, tbl, v2).toSet ==
      Versioned.fileEntriesOf(spark, tbl, 1).toSet,
      "bloom-negative unmatched update must splice everything")
    // the bitset itself: no false negatives over a wide key sample
    val buf = new Array[Byte](graft.tables.KeyBloom.NumBytes)
    val keys = (0 until 500).map(i => i * 2654435761L + 17)
    keys.foreach(graft.tables.KeyBloom.add(buf, _))
    assert(keys.forall(graft.tables.KeyBloom.mightContain(buf, _)),
      "a bloom false negative is a correctness bug, not a perf miss")
    // the DSv2 connector plans the same skip for a point equality: an
    // in-range absent key reads ZERO files, a present key exactly one
    def srcEq(key: Long) = spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", "1").load(tbl)
      .filter(col("k") === key)
    assert(srcEq(7L).rdd.getNumPartitions == 0,
      "SQL point lookup on an absent key must plan zero file splits")
    assert(srcEq(8L).rdd.getNumPartitions == 1 && srcEq(8L).count() == 1)
    // saturation: one file with thousands of keys serializes as '-' and
    // the probe degrades to range-only (never a wrong skip)
    val sat = freshTable("bloomsat")
    Versioned.publish(spark, sat,
      (1L to 3000L).map(k => (2 * k, k, "a")).toDF("k", "v", "p")
        .repartitionByRange(1, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    assert(Versioned.bloomCoverage(spark, sat, 1) == 0.0,
      "a >half-full filter must serialize as saturated")
    assert(Versioned.lookupFiles(spark, sat, Seq(7L), useBloom = true).size == 1,
      "saturated blooms must fall back to the range probe")
  }

  test("q229 deletion vectors: data files untouched, reads subtract, DVs merge, rewrites materialize, re-insert lands") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("dv")
    Versioned.publish(spark, tbl,
      (1L to 8L).map(k => (k, k * 10, "a")).toDF("k", "v", "p")
        .repartitionByRange(4, col("k")),
      partCol = Some("p"), fileStatsKey = Some("k"))
    val files1 = dataDirFiles(tbl, 1)
    // delete keys 3 and 7 (two different files) + 999 (beyond every range)
    val v2 = Versioned.deleteKeys(spark, tbl, Seq(3L, 7L, 999L),
      recordChanges = true)
    assert(v2 == 2)
    // THE deletion-vector property: not one parquet byte changed
    assert(dataDirFiles(tbl, 2) == files1,
      "a DV delete must not rewrite or add any data file")
    assert(Versioned.readAt(spark, tbl, 2).as[(Long, Long, String)].collect().toSet ==
      (1L to 8L).filterNot(k => k == 3 || k == 7).map(k => (k, k * 10, "a")).toSet)
    // time travel still serves the deleted rows
    assert(Versioned.readAt(spark, tbl, 1).count() == 8)
    // recorded feed carries exactly the deleted pre-images
    assert(Versioned.recordedChanges(spark, tbl, 1, 2)
      .select("k", "_change").as[(Long, String)].collect().toSet ==
      Set((3L, "delete"), (7L, "delete")))
    // lookupKeys and the DSv2 reader both subtract — the latter even with
    // the key column projected away
    assert(Versioned.lookupKeys(spark, tbl, Seq(3L, 4L))
      .as[(Long, Long, String)].collect().toSet == Set((4L, 40L, "a")))
    val viaSql = spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", "2").load(tbl).select("v")
      .as[Long].collect().toSet
    assert(viaSql == (1L to 8L).filterNot(k => k == 3 || k == 7).map(_ * 10).toSet,
      s"DSv2 scan served a deleted row: $viaSql")
    // a second delete on an already-DV'd file merges the sidecars
    val v3 = Versioned.deleteKeys(spark, tbl, Seq(4L))
    assert(Versioned.readAt(spark, tbl, v3).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "a"), (5L, 50L, "a"), (6L, 60L, "a"),
          (8L, 80L, "a")))
    // a rewrite MATERIALIZES the DV: update key 8 rewrites [7,8]; 7 stays
    // gone and the fresh entry carries no sidecar
    val v4 = Versioned.mergeByFiles(spark, tbl,
      Seq((8L, 88L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(Versioned.readAt(spark, tbl, v4).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "a"), (5L, 50L, "a"), (6L, 60L, "a"),
          (8L, 88L, "a")))
    // a DV-deleted key is really gone: re-INSERT must land (the membership
    // check reads through the sidecar)
    val v5 = Versioned.mergeByFiles(spark, tbl,
      Seq((3L, 333L, "a", "I")).toDF("k", "v", "p", "_op"), "k", "p")
    assert(Versioned.readAt(spark, tbl, v5).as[(Long, Long, String)].collect().toSet
      .contains((3L, 333L, "a")))
    // compaction drains every sidecar: all entries fresh, rows preserved
    val v6 = Versioned.compactFiles(spark, tbl, "p=a", "k", "p")
    assert(Versioned.readAt(spark, tbl, v6).as[(Long, Long, String)].collect().toSet ==
      Versioned.readAt(spark, tbl, v5).as[(Long, Long, String)].collect().toSet)
    // vacuum retires sidecar dirs with their manifests; the compacted
    // version (no DV refs left) survives intact
    Versioned.vacuum(spark, tbl, keep = Set(v6), retentionMs = -1)
    assert(Versioned.readAt(spark, tbl, v6).count() == 6)
    intercept[Exception] { Versioned.readAt(spark, tbl, 2).count() }
  }

  test("q231 z-order: 2-D box prunes to a few cells, second-dimension predicates prune where linear layout cannot, rewrites keep the stats") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tbl = freshTable("zorder")
    // 64x64 grid, one partition; v1 = linear x layout in 64 files
    val grid = for { x <- 0L until 64L; y <- 0L until 64L } yield (x, y, x * 64 + y, "a")
    Versioned.publish(spark, tbl,
      grid.toDF("x", "y", "v", "p").repartitionByRange(64, col("x")),
      partCol = Some("p"), fileStatsKey = Some("x"))
    val v2 = Versioned.optimizeZOrder(spark, tbl, "x", "p", "y", filesPerPart = 64)
    assert(v2 == 2 && Versioned.statsKey2Of(spark, tbl, 2).contains("y"))
    // layout changed, content identical
    assert(Versioned.readAt(spark, tbl, 2).as[(Long, Long, Long, String)]
      .collect().toSet == grid.toSet)
    def src(v: Int) = spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", v.toString).load(tbl)
    def planned(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    val box = (v: Int) => src(v).filter(
      col("x") >= 16 && col("x") <= 31 && col("y") >= 16 && col("y") <= 31)
    // both layouts hold ~64 files of ~64 rows, so planned-split counts
    // compare like-for-like: the box is 2x2 z-cells (~4 files) vs ~16
    // x-slices on the linear layout
    assert(planned(box(1)) >= 12, s"linear layout: ${planned(box(1))}")
    assert(planned(box(2)) <= 8,
      s"z-order should collapse the box to a few cells: ${planned(box(2))}")
    assert(box(2).count() == 256 && box(1).count() == 256)
    // a second-dimension-ONLY predicate: prunes on v2, cannot on v1
    val yOnly = (v: Int) => src(v).filter(col("y") <= 7)
    assert(planned(yOnly(1)) == planned(src(1)),
      "linear layout has no y stats — nothing to prune")
    assert(planned(yOnly(2)) < planned(src(2)) / 2,
      s"z-order y-stats must prune: ${planned(yOnly(2))} of ${planned(src(2))}")
    assert(yOnly(2).count() == 512)
    // a rewrite after z-order KEEPS the second-dimension stats (r17: the
    // DML recomputes k2 bounds for the files it writes) — rewritten files
    // carry loose-but-true fresh bounds, spliced files keep their tight
    // ones, and second-dimension skipping stays ON
    val v3 = Versioned.deleteWhere(spark, tbl, col("y") === 63, "p")
    assert(Versioned.statsKey2Of(spark, tbl, v3).contains("y"))
    assert(planned(src(v3).filter(col("y") <= 7)) < planned(src(v3)),
      "second-dimension skipping must survive the rewrite")
    assert(src(v3).filter(col("y") <= 7).count() == 512)
    assert(Versioned.read(spark, tbl).count() == 64L * 63L)
  }
}
