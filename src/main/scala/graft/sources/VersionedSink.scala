package graft.sources

import graft.tables.{ConcurrentWriteException, Versioned}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 STREAMING SINK into a [[Versioned]] table — the standard
  * `writeStream.format(...)` surface for continuous ingestion:
  *
  * {{{
  *   df.writeStream.format("graft.sources.VersionedSink")
  *     .option("checkpointLocation", ckpt)
  *     .option("partCol", "o_year")          // required: layout column
  *     .option("fileStatsKey", "o_orderkey") // optional: keep file stats
  *     .start(tablePath)                     // table must exist (v1 published)
  * }}}
  *
  * Each micro-batch epoch is one [[StagedWrite]] commit: ONE new APPEND
  * version holding exactly the epoch's files, tagged
  * `sink_<queryId>_<epochId>`. That makes it EXACTLY-ONCE across failures
  * and restarts: a failed task attempt's files are never adopted, and a
  * replayed epoch finds its tag committed and is a no-op. Executors write
  * the `col=value` layout of Spark's own partitioned writer, so every
  * store read path, stats scan and merge works on sink-written versions
  * unchanged; the driver handles only file names and the manifest CAS.
  * The write is embarrassingly parallel (no shuffle): pre-partition the
  * stream by `partCol` upstream if small files per epoch matter, and
  * OPTIMIZE compacts what accumulates.
  */
class VersionedSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Versioned.committedSnapshot(SparkSession.active, options.get("path")).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new VersionedSinkTable(properties.get("path"), schema)
}

final class VersionedSinkTable(path: String, schema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = s"graft-versioned-sink($path)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val partCol = info.options().get("partCol")
    require(partCol != null, "VersionedSink needs a partCol option")
    new WriteBuilder {
      override def build(): Write = StagedWrite.append(path, info.schema(), partCol,
        Option(info.options().get("fileStatsKey")), info.queryId())
    }
  }
}

/** The one DSv2 write into a [[Versioned]] table. SQL INSERT and the
  * streaming sink (`adoptStaged`), CTAS (`createAsSelect`) and the
  * replacement half of a SQL row-level statement (`replaceEntries`)
  * differ only in `commitFn`, the store call that turns the promoted
  * files into a version. Each epoch (a batch write is epoch 0) runs
  * staging → promote → commit:
  *  - staging: tasks write `col=value`-laid-out parquet under
  *    `<table>/_sink_stage/<stageId>/<epoch>/` and name their files in
  *    their commit messages;
  *  - promote: the driver renames exactly the named files into one fresh
  *    data dir ([[Versioned.newDataDir]]), so a failed attempt's leftovers
  *    are never adopted; an epoch without files promotes no dir (`None`);
  *  - commit: `commitFn(spark, promoted, epoch)`. Readers never see the
  *    files before its manifest lands.
  *
  * Orphan rule: when the promote or `commitFn` throws, the promoted dir
  * is deleted unless the latest manifest references it; on a lost CAS the
  * store has deleted it already. The stage dir goes on commit and abort
  * alike. Column and partition types are refused at planning, naming the
  * column, before any job starts.
  */
final class StagedWrite(path: String, schema: StructType, partCol: String,
                        stageId: String,
                        commitFn: (SparkSession, Option[String], Long) => Unit)
    extends Write with BatchWrite with StreamingWrite {
  Versioned.requirePartitionable(schema, partCol)
  VersionedSinkWriter.messageTypeOf(schema, partCol)

  private val stagingRoot =
    new Path(path, s"_sink_stage/${stageId.replaceAll("[^0-9a-zA-Z-]", "_")}")

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  // BatchWrite and StreamingWrite both declare this default (true), so
  // the class must pick one
  override def useCommitCoordinator(): Boolean = true

  // The session's Hadoop conf rides to the executors (object-store
  // credentials, fs implementations): a fresh Configuration() on the task
  // side would silently drop them.
  private def writerFactory = new VersionedSinkWriterFactory(stagingRoot.toString, schema,
    partCol, new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration))
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    writerFactory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    writerFactory

  override def commit(messages: Array[WriterCommitMessage]): Unit = commit(0L, messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = abort(0L, messages)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fsys = stagingRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = messages.flatMap(_.asInstanceOf[VersionedSinkFiles].files)
    val promoted =
      if (files.isEmpty) None else Some(Versioned.newDataDir(fsys, new Path(path)))
    try {
      promoted.foreach { dd =>
        files.map(_._1).distinct.foreach(partDir => fsys.mkdirs(new Path(dd, partDir)))
        files.foreach { case (partDir, name) =>
          require(fsys.rename(new Path(stagingRoot, s"$epochId/$partDir/$name"),
            new Path(dd, s"$partDir/$name")),
            s"failed to promote staged file $partDir/$name of epoch $epochId")
        }
      }
      commitFn(spark, promoted.map(_.getName), epochId)
    } catch {
      case e: Throwable =>
        // a lost CAS has deleted the promoted dir already
        if (!e.isInstanceOf[ConcurrentWriteException])
          promoted.filterNot(dd => referenced(spark, dd.getName)).foreach(fsys.delete(_, true))
        throw e
    } finally fsys.delete(stagingRoot, true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    stagingRoot.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stagingRoot, true)
  }

  /** Whether the latest version serves from data dir `name` (an unreadable
    * manifest counts as yes: a dir is only deleted when provably unused).
    */
  private def referenced(spark: SparkSession, name: String): Boolean =
    scala.util.Try(Versioned.snapshot(spark, path).entries.exists(_.dataDir == name))
      .getOrElse(true)
}

object StagedWrite {
  /** An APPEND of each epoch's promoted dir (`Versioned.adoptStaged`):
    * SQL INSERT as a batch, a stream's epochs tagged
    * `sink_<queryId>_<epoch>`. The stage dir is named by the query id, so
    * a restarted stream's first commit also clears a crashed run's files.
    */
  def append(path: String, schema: StructType, partCol: String,
             statsKey: Option[String], queryId: String): Write = new Write {
    private def adopting(tag: Long => Option[String]) =
      new StagedWrite(path, schema, partCol, queryId, (spark, dd, epoch) =>
        dd.foreach(Versioned.adoptStaged(spark, path, _, tag = tag(epoch),
          fileStatsKey = statsKey)))
    override def toBatch: BatchWrite = adopting(_ => None)
    override def toStreaming: StreamingWrite = adopting(e => Some(s"sink_${queryId}_$e"))
  }
}

final case class VersionedSinkFiles(files: Seq[(String, String)])
    extends WriterCommitMessage

/** Java-serializable Hadoop `Configuration` envelope (the Configuration
  * class itself is Writable, not Serializable) — ships the DRIVER's
  * session conf into write tasks.
  */
final class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** Task-side writers of a [[StagedWrite]], batch (epoch 0) and streaming. */
final class VersionedSinkWriterFactory(stagingRoot: String, schema: StructType,
                                       partCol: String,
                                       conf: SerializableHadoopConf)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, 0L)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new VersionedSinkWriter(stagingRoot, schema, partCol,
      partitionId, taskId, epochId, conf.value)
}

object VersionedSinkWriter {
  import org.apache.parquet.schema.{MessageType, Types, LogicalTypeAnnotation}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** Data-file schema: every column EXCEPT the partition column (it is
    * directory-encoded, exactly like Spark's partitioned writer).
    */
  private[graft] def messageTypeOf(schema: StructType, partCol: String): MessageType = {
    val pcs = graft.tables.Versioned.partColsOf(partCol).toSet
    val b = Types.buildMessage()
    schema.fields.filterNot(f => pcs.contains(f.name)).foreach { f =>
      f.dataType match {
        case LongType => b.addField(Types.optional(INT64).named(f.name))
        case IntegerType => b.addField(Types.optional(INT32).named(f.name))
        case DoubleType => b.addField(Types.optional(DOUBLE).named(f.name))
        case FloatType => b.addField(Types.optional(FLOAT).named(f.name))
        case ShortType => b.addField(Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(16, true)).named(f.name))
        case ByteType => b.addField(Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(8, true)).named(f.name))
        case BooleanType => b.addField(Types.optional(BOOLEAN).named(f.name))
        case StringType => b.addField(Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        // parquet DATE = int32 epoch days (Spark's internal form)
        case DateType => b.addField(Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name))
        case other => throw new IllegalArgumentException(
          s"VersionedSink does not write ${f.name}: $other — " +
            "supported: long, int, short, byte, double, float, boolean, string, date")
      }
    }
    b.named("graft_sink")
  }
}

final class VersionedSinkWriter(stagingRoot: String, schema: StructType,
                                partCol: String, partitionId: Int,
                                taskId: Long, epochId: Long,
                                conf: org.apache.hadoop.conf.Configuration)
    extends DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.api.Binary

  private val msgType = VersionedSinkWriter.messageTypeOf(schema, partCol)
  private val factory = new SimpleGroupFactory(msgType)
  private val partCols = graft.tables.Versioned.partColsOf(partCol)
  private val partIdxs = partCols.map(schema.fieldIndex)
  private val dataFields = schema.fields.zipWithIndex
    .filterNot { case (f, _) => partCols.contains(f.name) }

  // One open file per partition VALUE seen by this task.
  private val open = scala.collection.mutable.LinkedHashMap
    .empty[String, ParquetWriter[org.apache.parquet.example.data.Group]]
  private val written = scala.collection.mutable.ListBuffer.empty[(String, String)]

  private def fileName = s"part-$epochId-$partitionId-$taskId.parquet"

  // A group-based row-level rewrite (SQL MERGE/UPDATE/DELETE) hands the
  // writer rows PREFIXED with Spark's `__row_operation` marker column
  // (RowDeltaUtils; 5/6 = whole-row writes); plain appends hand exactly
  // the declared schema. Resolve the ordinal shift from the first row,
  // loudly — anything other than 0 or 1 extra leading fields, or a
  // delta-style marker (1/2/3 = per-row delete/update/insert), is a plan
  // shape this group-replacing writer must NOT silently misread.
  private var shift = -1
  private def resolveShift(row: InternalRow): Unit = {
    shift = row.numFields - schema.size
    require(shift == 0 || shift == 1,
      s"row carries ${row.numFields} fields for a ${schema.size}-column schema")
  }

  // Nested multi-column layouts render one `col=value` level per column.
  private def partDirOf(row: InternalRow): String =
    partCols.zip(partIdxs).map { case (c, i0) =>
      val i = i0 + shift
      val raw =
        if (row.isNullAt(i)) null
        else schema.fields(i0).dataType match {
          case StringType => row.getUTF8String(i).toString
          case LongType => String.valueOf(row.getLong(i))
          case IntegerType => String.valueOf(row.getInt(i))
          case BooleanType => String.valueOf(row.getBoolean(i))
          case ShortType => String.valueOf(row.getShort(i))
          case ByteType => String.valueOf(row.getByte(i))
          case other => throw new IllegalArgumentException(
            s"partition column $c: unsupported type $other")
        }
      ExternalCatalogUtils.getPartitionPathString(c, raw)
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    if (shift < 0) resolveShift(row)
    if (shift == 1) {
      val op = row.getInt(0)
      require(op == 5 || op == 6,
        s"unexpected __row_operation marker $op — delta-based row-level " +
          "writes are not supported by this group-replacing sink")
    }
    val partDir = partDirOf(row)
    val w = open.getOrElseUpdate(partDir, {
      val p = new Path(stagingRoot, s"$epochId/$partDir/$fileName")
      written += ((partDir, fileName))
      ExampleParquetWriter.builder(p).withConf(conf).withType(msgType)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    })
    val g = factory.newGroup()
    dataFields.foreach { case (f, i0) =>
      val i = i0 + shift
      if (!row.isNullAt(i)) f.dataType match {
        case LongType => g.append(f.name, row.getLong(i))
        case IntegerType => g.append(f.name, row.getInt(i))
        case DoubleType => g.append(f.name, row.getDouble(i))
        case FloatType => g.append(f.name, row.getFloat(i))
        case ShortType => g.append(f.name, row.getShort(i).toInt)
        case ByteType => g.append(f.name, row.getByte(i).toInt)
        case BooleanType => g.append(f.name, row.getBoolean(i))
        case StringType =>
          g.append(f.name, Binary.fromString(row.getUTF8String(i).toString))
        case DateType => g.append(f.name, row.getInt(i))
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
    }
    w.write(g)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.close())
    VersionedSinkFiles(written.toList)
  }

  override def abort(): Unit = {
    open.values.foreach(w => try w.close() catch { case _: Throwable => () })
    val fsys = new Path(stagingRoot).getFileSystem(conf)
    written.foreach { case (partDir, name) =>
      try fsys.delete(new Path(stagingRoot, s"$epochId/$partDir/$name"), false)
      catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = ()
}
