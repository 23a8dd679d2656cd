package graft.sources

import graft.tables.Versioned
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Append-mode streaming SOURCE over a [[Versioned]] table ITSELF — the
  * default Delta streaming source re-derived: `readStream` of a table
  * without any change-feed recording, where each micro-batch serves the
  * files APPEND commits added. This is the common "tail the table"
  * consumer ([[ChangeFeedSource]] covers the CDC case that needs
  * update/delete images and `recordChanges = true` merges; this source
  * needs nothing from the writer).
  *
  * Offsets are committed VERSION numbers (checkpointed by the engine);
  * micro-batch (s, e] plans one input partition per file that version
  * ADDED relative to its predecessor — exact manifest set-difference,
  * driver metadata only. Versions that could change or remove
  * already-delivered rows (MERGE, DELETE, UPDATE, RESTORE, OPTIMIZE,
  * ZORDER, a second PUBLISH, schema changes) FAIL THE STREAM LOUDLY —
  * the Delta default for a non-append commit under a streaming reader;
  * a CDC consumer should read the change feed instead. v1 (PUBLISH or
  * CREATE) serves as the initial snapshot when `startingVersion` = 0.
  *
  * Rows decode through the same per-file reader as the DSv2 batch
  * connector (column pruning pushed down, partition value from the
  * directory name). Exactly-once across restarts: offsets re-plan
  * deterministically from the manifests (vacuuming a version a lagging
  * stream still needs fails that stream loudly, the Delta contract).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.TableTailSource")
  *     .option("startingVersion", "0")   // 0 = initial snapshot + tail
  *     .load(tablePath)                  // "latest" = new appends only
  * }}}
  */
class TableTailSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableTailSource.tableSchema(SparkSession.active, options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new VersionRangeTable(properties.get("path"), schema, TableTailSource)
}

object TableTailSource extends VersionRange {
  def tableSchema(spark: SparkSession, tablePath: String): StructType =
    Versioned.committedSnapshot(spark, tablePath).schema

  private[sources] val label = "graft_tabletail"

  private[sources] def describe(path: String, startingVersion: Int, required: StructType): String =
    s"GraftTableTail path=$path from v$startingVersion, " +
      s"ReadSchema=${required.fieldNames.mkString(",")}"

  /** Input partitions for the appended files of committed versions in
    * (start, end], gating each version's `#op`: appends stream; v1
    * snapshots stream when started from 0; anything that could mutate
    * or reorder already-delivered rows fails loudly.
    */
  private[sources] def partitions(spark: SparkSession, tablePath: String,
                                  start: Int, end: Int): Seq[VersionedPartition] = {
    // Each version's snapshot is the next one's predecessor, so every
    // version in the range is stat'ed once.
    var prev = Option.empty[Versioned.Snapshot]
    ((start + 1) to end).flatMap { v =>
      val s = Versioned.snapshot(spark, tablePath, v)
      val op = s.meta.op
      val opBase = op.takeWhile(_ != '(')
      require(opBase == "APPEND" ||
          (v == 1 && (opBase == "PUBLISH" || opBase == "CREATE" || opBase == "CLONE")),
        s"graft_tabletail: v$v of $tablePath is a $op commit — a table tail " +
          "serves appends only; use ChangeFeedSource for CDC consumers")
      val pred = if (v <= 1) None
        else prev.orElse(Some(Versioned.snapshot(spark, tablePath, v - 1)))
      prev = Some(s)
      Versioned.appendedEntries(pred, s).flatMap { e =>
        require(e.dv.isEmpty,
          s"graft_tabletail: appended entry ${e.partDir}/${e.file.getOrElse("")} " +
            "carries a deletion vector — not an append")
        VersionedPartition.of(spark, new Path(tablePath), e)
      }
    }
  }
}
