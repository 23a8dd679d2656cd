package graft.tables

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Every read of a subset of a version's entries serves that version's
  * columns: after `renameColumn(w -> w2)` the pre-rename files still
  * carry `w`, and a rewrite, lookup or feed that reads them must resolve
  * it through the version's column mapping, exactly as `readAt` does.
  * A reader that only aligned to the schema read `w2` as NULL and wrote
  * the NULL back: the rewritten rows lost their values for good.
  */
class RenamedColumnRewriteSpec extends SparkSpec {

  private type R = (Long, Long, Long, String)
  private val rows: Seq[R] = Seq((1L, 10L, 100L, "a"), (2L, 20L, 200L, "a"), (3L, 30L, 300L, "b"))

  /** (k, v, w, p) published so k=1 and k=2 share p=a's one file
    * (`onePerRow`: one file per row instead), then `w` renamed to `w2`.
    * Returns the table and the rename's version.
    */
  private def renamed(fileGranular: Boolean, onePerRow: Boolean = false): (String, Int) = {
    import spark.implicits._
    val tbl = Files.createTempDirectory("vrename").toString + "/table"
    val df =
      if (onePerRow) spark.createDataset(spark.sparkContext.parallelize(rows, rows.size)).toDF()
      else rows.toDF().coalesce(1)
    Versioned.publish(spark, tbl, df.toDF("k", "v", "w", "p"), partCol = Some("p"),
      fileStatsKey = if (fileGranular) Some("k") else None)
    (tbl, Versioned.renameColumn(spark, tbl, "w", "w2"))
  }

  private def rowsAt(tbl: String, v: Int): Set[R] = {
    import spark.implicits._
    Versioned.readAt(spark, tbl, v).select("k", "v", "w2", "p").as[R].collect().toSet
  }

  /** merge U k=1; its change feed holds k=1's pair and no image of k=2. */
  private def mergeKeepsW2(fileGranular: Boolean): Unit = {
    import spark.implicits._
    val (tbl, vr) = renamed(fileGranular)
    val vm = Versioned.merge(spark, tbl,
      Seq((1L, 11L, 100L, "a", "U")).toDF("k", "v", "w2", "p", "_op"), "k", "p")
    assert(rowsAt(tbl, vm) == Set((1L, 11L, 100L, "a"), (2L, 20L, 200L, "a"),
      (3L, 30L, 300L, "b")))
    val feed = Versioned.changes(spark, tbl, vr, vm)
      .select("k", "v", "w2", "p", "_change").as[(Long, Long, Long, String, String)]
      .collect().toSet
    assert(feed == Set((1L, 10L, 100L, "a", "delete"), (1L, 11L, 100L, "a", "insert")), feed)
  }

  test("merge and changes keep a renamed column on a partition-granular table") {
    mergeKeepsW2(fileGranular = false)
  }

  test("merge, compaction, optimize, lookups and feeds keep a renamed column on a file-granular table") {
    import spark.implicits._
    mergeKeepsW2(fileGranular = true)
    val all = rows.toSet

    val (compacted, _) = renamed(fileGranular = true)
    assert(rowsAt(compacted, Versioned.compactFiles(spark, compacted, "p=a", "k", "p")) == all)

    val (packed, vp) = renamed(fileGranular = true, onePerRow = true)
    assert(Versioned.fileEntriesOf(spark, packed, vp).count(_._1 == "p=a") == 2)
    val vo = Versioned.optimizeTable(spark, packed, "k", "p", targetRows = 10)
    assert(vo > vp, "two small files in p=a must pack into one")
    assert(rowsAt(packed, vo) == all)

    val (looked, _) = renamed(fileGranular = true)
    assert(Versioned.lookupKeys(spark, looked, Seq(2L)).select("k", "v", "w2", "p")
      .as[R].collect().toSeq == Seq((2L, 20L, 200L, "a")))

    val (deleted, vd) = renamed(fileGranular = true)
    val vk = Versioned.deleteKeys(spark, deleted, Seq(2L), recordChanges = true)
    assert(Versioned.recordedChanges(spark, deleted, vd, vk)
      .select("k", "v", "w2", "p", "_change").as[(Long, Long, Long, String, String)]
      .collect().toSeq == Seq((2L, 20L, 200L, "a", "delete")))
    // a header-only rename changes no row
    assert(Versioned.diff(spark, deleted, vd - 1, vd) == ((0L, 0L)))
  }

  test("recorded change images written before a rename read the renamed column") {
    import spark.implicits._
    val tbl = Files.createTempDirectory("vrename").toString + "/table"
    Versioned.publish(spark, tbl, rows.toDF("k", "v", "w", "p"), partCol = Some("p"))
    val vm = Versioned.merge(spark, tbl,
      Seq((1L, 11L, 101L, "a", "U")).toDF("k", "v", "w", "p", "_op"), "k", "p",
      recordChanges = true)
    val vr = Versioned.renameColumn(spark, tbl, "w", "w2")
    val images = Set((1L, 11L, 101L, "a", "insert", vm), (1L, 10L, 100L, "a", "delete", vm))
    val recorded = Versioned.recordedChanges(spark, tbl, vm - 1, vr, strict = false)
      .select("k", "v", "w2", "p", "_change", "_version")
      .as[(Long, Long, Long, String, String, Int)].collect().toSet
    assert(recorded == images, recorded)
    val fed = spark.read.format("graft.sources.ChangeFeedSource").load(tbl)
      .select("k", "v", "w2", "p", "_change", "_version")
      .as[(Long, Long, Long, String, String, Int)].collect().toSet
    assert(fed == images, fed)
  }
}
