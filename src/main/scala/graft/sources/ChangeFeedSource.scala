package graft.sources

import graft.tables.Versioned
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming SOURCE over a [[Versioned]] table's RECORDED change feed —
  * the Delta streaming-source analog that closes the CDC loop: q213-style
  * writers stream INTO the store, this streams OUT of it.
  *
  * Offsets are COMMITTED VERSION NUMBERS: `latestOffset` is
  * `Versioned.latestVersion`, and micro-batch (s, e] plans one input
  * partition per parquet file of each version's `#changes\t<c_dir>`
  * manifest line (written by `merge(..., recordChanges = true)`). Because
  * rows come only from the manifests of COMMITTED versions, a merge whose
  * commit lost its CAS race can never leak rows into the stream — the
  * property a naive file-glob over `c_*` dirs would not have. Offsets are
  * checkpointed by the engine and re-planned deterministically from the
  * manifests, so each committed version's changes are delivered exactly
  * once across restarts.
  *
  * Versions WITHOUT a recorded feed (plain publishes, non-recording
  * merges, restores, compactions) contribute no rows — the lenient
  * `recordedChanges(strict = false)` contract, documented there; row
  * images carry `_change` ('insert'/'delete') and `_version`. A version
  * in the range whose manifest or recorded feed was vacuumed fails the
  * read loudly, naming the version (the Delta CDF contract): skipping it
  * would silently lose its changes.
  *
  * The per-file reader is the store's one vectorized decoder
  * ([[VersionedColumnarReader]] — ColumnarBatches straight from parquet
  * pages, `_version` served as a constant vector like a partition
  * value). Column pruning is pushed down: the reader materializes exactly
  * the requested fields. Feed files a schema evolution predates simply
  * lack the new field — the reader emits NULL, matching the store's
  * backfill contract.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.ChangeFeedSource")
  *     .option("startingVersion", "0")   // default: 0 = full history
  *     .load(tablePath)
  * }}}
  * Batch reads (`spark.read.format(...)`) serve the full recorded history
  * the same way.
  */
class ChangeFeedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeFeedSource.feedSchema(SparkSession.active, options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new VersionRangeTable(properties.get("path"), schema, ChangeFeedSource)
}

object ChangeFeedSource extends VersionRange {
  /** Feed schema = the table's LATEST committed schema + the feed tags.
    * Fixed at stream start (streaming requires a static schema); feed
    * files of older versions NULL-backfill the later-added columns.
    */
  def feedSchema(spark: SparkSession, tablePath: String): StructType =
    Versioned.committedSnapshot(spark, tablePath).schema
      .add("_change", StringType, nullable = false)
      .add("_version", IntegerType, nullable = false)

  private[sources] val label = "graft_changefeed"

  private[sources] def describe(path: String, startingVersion: Int, required: StructType): String =
    s"GraftChangeFeed path=$path, ReadSchema=${required.fieldNames.mkString(",")}"

  /** Feed files predating a RENAME carry the column's former name:
    * stamp the read schema with the latest version's alias map so the
    * reader resolves it (same mechanism as the table scan).
    */
  private[sources] override def readerSchema(tablePath: String,
                                             required: StructType): StructType =
    ColumnarRead.withAliases(required,
      Versioned.snapshot(SparkSession.active, tablePath).meta.colMap)

  /** The feed files of committed versions in (start, end]: one partition
    * per parquet file, with the version that produced it as `_version`.
    * Driver metadata.
    */
  private[sources] def partitions(spark: SparkSession, tablePath: String,
                                  start: Int, end: Int): Seq[VersionedPartition] =
    ((start + 1) to end).flatMap { v =>
      Versioned.recordedFeedOf(spark, tablePath, v).toSeq.flatMap { dir =>
        val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fsys.listStatus(dir).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString).sorted
          .map(f => VersionedPartition(f, Array("_version"), Array(v.toString)))
      }
    }
}

/** What tells one version-range source ([[ChangeFeedSource]],
  * [[TableTailSource]]) from another: its table name, its scan
  * description, the schema its reader decodes and the function that turns
  * the committed versions (start, end] into input partitions.
  */
private[sources] trait VersionRange {
  private[sources] def label: String
  private[sources] def describe(path: String, startingVersion: Int, required: StructType): String
  private[sources] def partitions(spark: SparkSession, tablePath: String,
                                  start: Int, end: Int): Seq[VersionedPartition]
  private[sources] def readerSchema(tablePath: String, required: StructType): StructType =
    required
}

/** A table whose batch reads and micro-batches serve committed version
  * ranges of a [[Versioned]] table, as `source` plans them. Options:
  * `startingVersion` (a number, default 0, or "latest" = only versions
  * committed after the stream starts — the Delta contract) and
  * `maxVersionsPerTrigger`.
  */
final class VersionRangeTable(path: String, schema0: StructType, source: VersionRange)
    extends Table with SupportsRead {
  override def name(): String = s"${source.label}($path)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val starting = Option(options.get("startingVersion")) match {
      case Some("latest") => Versioned.latestVersion(SparkSession.active, path)
      case Some(v) => v.toInt
      case None => 0
    }
    val maxVersions = Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = schema0
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new VersionRangeScan(path, required, starting, maxVersions, source)
    }
  }
}

/** Offset = highest committed version already delivered. */
final case class VersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

/** The batch scan (versions after `startingVersion` up to the latest)
  * and, as its own micro-batch stream, the streaming reader:
  * `latestOffset` tracks the table's committed head, and
  * `maxVersionsPerTrigger` caps each micro-batch at N versions — backlog
  * catch-up after downtime proceeds in bounded batches instead of one
  * giant one (the Delta maxFilesPerTrigger analog at version
  * granularity). Offsets re-plan deterministically from the manifests,
  * so delivery is exactly-once across restarts.
  */
final class VersionRangeScan(path: String, required: StructType, startingVersion: Int,
                             maxVersions: Option[Int], source: VersionRange)
    extends Scan with Batch with MicroBatchStream with SupportsAdmissionControl {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = source.describe(path, startingVersion, required)
  override def supportedCustomMetrics(): Array[CustomMetric] = ColumnarRead.metrics

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    source.partitions(spark, path, startingVersion, Versioned.latestVersion(spark, path))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedReaderFactory(source.readerSchema(path, required))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = this

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    source.partitions(SparkSession.active, path,
      start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v).toArray

  override def initialOffset(): Offset = VersionOffset(startingVersion)
  override def latestOffset(): Offset =
    VersionOffset(math.max(startingVersion,
      Versioned.latestVersion(SparkSession.active, path)))
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    val latest = latestOffset().asInstanceOf[VersionOffset].v
    VersionOffset(maxVersions.fold(latest)(m => math.min(latest, s + math.max(1, m))))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
