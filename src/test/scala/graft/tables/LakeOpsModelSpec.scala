package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

/** Model-based randomized test of the versioned store: a fixed-seed
  * sequence of publish/merge/deleteWhere/updateWhere/restore/compactFiles/
  * optimizeTable/vacuum/renameColumn ops and a NOT MATCHED BY SOURCE
  * merge runs against BOTH the store and an in-memory model
  * (`Map[key -> (value, partition)]` plus a per-version snapshot history
  * and value-column name), asserting full-content equality after EVERY
  * op — the composed-operation coverage no single-op spec gives: merges
  * over restored states, optimize over merge debris, rewrites over
  * renamed columns, time travel across the whole history, DML after
  * layout rewrites. The walk runs once on a file-granular table (merge
  * scopes by stats) and once on a partition-granular one (merge scopes
  * by discovery; compactFiles and optimizeTable need stats and skip).
  *
  * The seeds are fixed, so a failure replays deterministically; ops that
  * cannot apply in a state (restore with one version, optimize with
  * nothing to gain) degrade to no-ops exactly like the store's. Every
  * manifest the walk writes must also re-serialize byte for byte from its
  * parsed header block.
  *
  * A second, table-driven test pins header inheritance: each header-only
  * commit's [[Versioned.TableMeta]] equals its base's except for exactly
  * the fields the operation states.
  */
class LakeOpsModelSpec extends SparkSpec {

  private type Model = Map[Long, (Long, String)]

  /** Every committed manifest under `tbl` re-serializes from its parsed
    * header block byte for byte (the `#rm` entry removals and a sidecar
    * manifest's terminator are not metadata, so they drop out).
    */
  private def assertHeadersRoundTrip(tbl: String): Unit =
    new java.io.File(tbl, "_manifests").listFiles()
      .filter(_.getName.endsWith(".txt")).foreach { f =>
        val lines = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split("\n").toSeq
        assert(lines.lastOption.contains("#commit"), s"$f is not committed")
        val block = lines.takeWhile(_.startsWith("#"))
        val meta = block.filterNot(l => l.startsWith("#rm\t") || l == "#commit")
        assert(Versioned.TableMeta.parse(block).header == meta.map(_ + "\n").mkString,
          s"header block of $f does not round-trip")
      }

  /** The 30-op walk from `seed` on a table whose merge key carries file
    * stats (`fileGranular`) or that is partitioned with no stats.
    */
  private def walk(seed: Long, fileGranular: Boolean): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val parts = Vector("a", "b", "c")
    val tbl = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_model_${System.nanoTime()}").getPath

    var model: Model =
      (1L to 30L).map(k => k -> (k * 10, parts(rnd.nextInt(3)))).toMap
    // the value column's name; renameColumn changes it
    var vc = "v"
    var renames = 0
    def toDf(m: Model) = m.toSeq.map { case (k, (v, p)) => (k, v, p) }.toDF("k", vc, "p")
    var ver = Versioned.publish(spark, tbl, toDf(model), partCol = Some("p"),
      fileStatsKey = if (fileGranular) Some("k") else None)
    var history = Map(ver -> (model, vc))

    def storeState(v: Int, name: String): Model =
      Versioned.readAt(spark, tbl, v).select(col("k"), col(name), col("p"))
        .as[(Long, Long, String)].collect().map { case (k, x, p) => k -> (x, p) }.toMap

    def commitOp(v: Int): Unit = { ver = v; history += ver -> ((model, vc)) }

    def checkAll(opName: String): Unit = {
      assert(storeState(ver, vc) == model, s"after $opName at v$ver")
      // every retained version still serves its snapshot
      history.foreach { case (v, (m, name)) =>
        assert(storeState(v, name) == m, s"$opName broke time travel to v$v")
      }
    }

    // CDC soundness: a recording commit's change images must transform its
    // predecessor snapshot into its own — deletes remove exact pre-images,
    // inserts add exact post-images, nothing else.
    def checkFeed(opName: String, prev: Model): Unit = {
      val feed = Versioned.recordedChanges(spark, tbl, ver - 1, ver)
        .select(col("k"), col(vc), col("p"), col("_change"))
        .as[(Long, Long, String, String)].collect()
      val replayed = feed.foldLeft(prev) {
        case (m, (k, fv, fp, "delete")) =>
          assert(m.get(k).contains((fv, fp)),
            s"$opName delete image ($k,$fv,$fp) is not the pre-image in v${ver - 1}")
          m - k
        case (m, _) => m
      }
      val rebuilt = feed.foldLeft(replayed) {
        case (m, (k, fv, fp, "insert")) => m + (k -> (fv, fp))
        case (m, _) => m
      }
      assert(rebuilt == model,
        s"$opName feed replay diverged: images do not transform v${ver - 1} into v$ver")
    }

    var nextKey = 100L
    (1 to 30).foreach { step =>
      rnd.nextInt(10) match {
        case 0 | 1 => // key-based merge
          val existing = model.keys.toVector.sorted
          val us = rnd.shuffle(existing).take(rnd.nextInt(4))
            .map(k => (k, model(k)._1 + 1, parts(rnd.nextInt(3)), "U"))
          val ds = rnd.shuffle(existing.filterNot(us.map(_._1).contains))
            .take(rnd.nextInt(3)).map(k => (k, 0L, "a", "D"))
          val is = (0 until rnd.nextInt(3)).map { _ =>
            nextKey += 1; (nextKey, nextKey * 10, parts(rnd.nextInt(3)), "I")
          }
          val batch = (us ++ ds ++ is).toVector
          if (batch.nonEmpty) {
            val prev = model
            val v2 = Versioned.merge(spark, tbl, batch.toDF("k", vc, "p", "_op"), "k", "p",
              recordChanges = true)
            us.foreach { case (k, v, p, _) => model += k -> (v, p) }
            ds.foreach { case (k, _, _, _) => model -= k }
            is.foreach { case (k, v, p, _) => model += k -> (v, p) }
            commitOp(v2)
            checkAll(s"merge(batch=${batch.size})")
            checkFeed("merge", prev)
          }
        case 2 => // predicate delete
          val r = rnd.nextInt(7)
          val prev = model
          val v2 = Versioned.deleteWhere(spark, tbl, col(vc) % 7 === r, "p",
            recordChanges = true)
          model = model.filterNot { case (_, (v, _)) => v % 7 == r }
          val changed = v2 != ver
          if (changed) commitOp(v2)
          checkAll(s"deleteWhere(%7==$r)")
          if (changed) checkFeed(s"deleteWhere(%7==$r)", prev)
        case 3 => // predicate update (may move partitions)
          val r = rnd.nextInt(5)
          val dst = parts(rnd.nextInt(3))
          val prev = model
          val v2 = Versioned.updateWhere(spark, tbl, col(vc) % 5 === r,
            Map(vc -> (col(vc) + 100L), "p" -> lit(dst)), "p",
            recordChanges = true)
          model = model.map { case (k, (v, p)) =>
            if (v % 5 == r) k -> (v + 100, dst) else k -> (v, p)
          }
          val changed = v2 != ver
          if (changed) commitOp(v2)
          checkAll(s"updateWhere(%5==$r -> $dst)")
          if (changed) checkFeed(s"updateWhere(%5==$r)", prev)
        case 4 => // restore to a random retained version
          val target = history.keys.toVector.sorted.apply(
            rnd.nextInt(history.size))
          val restored = Versioned.restore(spark, tbl, target)
          model = history(target)._1
          vc = history(target)._2
          commitOp(restored)
          checkAll(s"restore($target)")
        case 5 if fileGranular => // whole-table optimize: content no-op, new version if gain
          val v2 = Versioned.optimizeTable(spark, tbl, "k", "p",
            targetRows = 1 + rnd.nextInt(20))
          if (v2 != ver) commitOp(v2)
          checkAll("optimizeTable")
        case 6 if fileGranular => // compact one existing partition: content no-op
          val present = model.values.map(_._2).toSet
          if (present.nonEmpty) {
            val p = present.toVector.sorted.apply(rnd.nextInt(present.size))
            commitOp(Versioned.compactFiles(spark, tbl, s"p=$p", "k", "p"))
            checkAll(s"compactFiles(p=$p)")
          }
        case 5 | 6 => // partition-granular: maintenance needs file stats
        case 7 => // retention: keep the newest 4 retained versions
          val keep = history.keys.toVector.sorted.takeRight(4).toSet + ver
          Versioned.vacuum(spark, tbl, keep, retentionMs = 0)
          history = history.view.filterKeys(keep).toMap
          checkAll(s"vacuum(keep=${keep.toVector.sorted.mkString(",")})")
        case 8 => // rename the value column to a fresh name (header only)
          renames += 1
          val fresh = s"v_r$renames"
          val v2 = Versioned.renameColumn(spark, tbl, vc, fresh)
          vc = fresh
          commitOp(v2)
          checkAll(s"renameColumn(-> $fresh)")
        case 9 => // full-sync merge: keys absent from the source are deleted or flagged
          val existing = model.keys.toVector.sorted
          val kept = rnd.shuffle(existing).take(existing.size * 3 / 4)
          val bump = kept.take(1).toSet
          val batch = kept.map(k => (k, model(k)._1 + (if (bump(k)) 7 else 0), model(k)._2,
            if (bump(k)) "U" else "K"))
          val delete = rnd.nextBoolean()
          val prev = model
          val v2 = Versioned.merge(spark, tbl, batch.toDF("k", vc, "p", "_op"), "k", "p",
            recordChanges = true,
            notMatchedBySource = Some(
              if (delete) Versioned.NotMatchedBySource.Delete
              else Versioned.NotMatchedBySource.Update(Map(vc -> (col(vc) + 1000L)))))
          model = model.flatMap { case (k, (v, p)) =>
            if (bump(k)) Some(k -> (v + 7, p))
            else if (kept.contains(k)) Some(k -> (v, p))
            else if (delete) None
            else Some(k -> (v + 1000, p))
          }
          commitOp(v2)
          checkAll(s"merge(notMatchedBySource, delete=$delete)")
          checkFeed("merge(notMatchedBySource)", prev)
      }
      if (model.isEmpty) { // refill so later ops stay meaningful
        nextKey += 1
        val k = nextKey
        model += k -> (k * 10, "a")
        commitOp(Versioned.merge(spark, tbl,
          Seq((k, k * 10, "a", "I")).toDF("k", vc, "p", "_op"), "k", "p"))
      }
      assertHeadersRoundTrip(tbl)
    }
    assert(history.size >= 2, "the walk should retain a multi-version history")
    assert(renames > 0, "the walk should rename the value column at least once")
  }

  test("30 random composed ops keep the store equal to the model at every step, and all retained history time-travels") {
    walk(20260815L, fileGranular = true)
  }

  test("the 30-op model walk also holds on a partition-granular table, where merge scopes by discovery") {
    walk(20261019L, fileGranular = false)
  }

  test("header-only commits inherit their base's TableMeta except the fields they state") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import Versioned.TableMeta
    val tbl = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_meta_${System.nanoTime()}").getPath
    val rows = Seq((1L, 10L, 100L, 1, "a"), (2L, 20L, 200L, 2, "b"))
    Versioned.publish(spark, tbl, rows.toDF("k", "v", "w", "i", "p"), partCol = Some("p"),
      fileStatsKey = Some("k"), fileStatsKey2 = Some("v"), fileStatsCols = Seq("w"))
    Versioned.addConstraint(spark, tbl, "k_pos", "k > 0")
    def meta(t: String, v: Int) = Versioned.snapshot(spark, t, v).meta
    // TABLE fields only: the per-commit fields never inherit
    def tableOf(m: TableMeta) =
      m.copy(tag = None, changesDir = None, op = "", entriesFile = None, base = None)
    def schema(m: TableMeta) = m.schema.get
    val staged = s"d_stage${System.nanoTime()}"
    Seq((3L, 30L, 300L, 3, "a")).toDF("k", "v", "w", "i", "p")
      .write.partitionBy("p").parquet(s"$tbl/$staged")
    val clone = tbl + "_clone"
    // (operation, run it -> new version, expected meta from the base's)
    val ops: Seq[(String, () => Int, TableMeta => TableMeta)] = Seq(
      ("replaceEntries", () => Versioned.replaceEntries(spark, Versioned.snapshot(spark, tbl),
          Set.empty, Some(staged), "REPLACE"),
        m => m),
      ("addColumns", () => Versioned.addColumns(spark, tbl,
          Seq(StructField("n", LongType))),
        m => m.copy(schema = Some(StructType(schema(m).fields :+ StructField("n", LongType))))),
      ("widenColumnType", () => Versioned.widenColumnType(spark, tbl, "i", LongType),
        m => m.copy(schema = Some(StructType(schema(m).fields.map(f =>
          if (f.name == "i") f.copy(dataType = LongType) else f))))),
      ("renameColumn", () => Versioned.renameColumn(spark, tbl, "w", "w2"),
        m => m.copy(schema = Some(StructType(schema(m).fields.map(f =>
            if (f.name == "w") f.copy(name = "w2") else f))),
          statsCols = Seq("w2"), colMap = m.colMap + ("w2" -> Seq("w")),
          droppedCols = m.droppedCols + "w")),
      ("dropColumn", () => Versioned.dropColumn(spark, tbl, "n"),
        m => m.copy(schema = Some(StructType(schema(m).fields.filterNot(_.name == "n"))),
          droppedCols = m.droppedCols + "n")),
      ("addConstraint", () => Versioned.addConstraint(spark, tbl, "v_pos", "v > 0"),
        m => m.copy(constraints = m.constraints :+ (("v_pos", "v > 0")))),
      ("dropConstraint", () => Versioned.dropConstraint(spark, tbl, "k_pos"),
        m => m.copy(constraints = m.constraints.filterNot(_._1 == "k_pos"))),
      ("evolvePartitioning", () => Versioned.evolvePartitioning(spark, tbl, "i"),
        m => m.copy(partCol = Some("i"))),
      // restore to v2 (before every ALTER): v2's metadata, with the
      // tombstones unioned with the latest's
      ("restore", () => Versioned.restore(spark, tbl, 2),
        m => meta(tbl, 2).copy(droppedCols = meta(tbl, 2).droppedCols ++ m.droppedCols)),
      ("cloneTable", () => Versioned.cloneTable(spark, tbl, clone), m => m))
    ops.foreach { case (name, run, expected) =>
      val base = meta(tbl, Versioned.latestVersion(spark, tbl))
      val v = run()
      val got = if (name == "cloneTable") meta(clone, v) else meta(tbl, v)
      assert(tableOf(got) == tableOf(expected(base)), s"$name: inherited metadata differs")
    }
  }
}
