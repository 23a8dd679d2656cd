package graft.sources

import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** VECTORIZED decode for the versioned store's DSv2 readers: fills Spark
  * `ColumnarBatch`es straight from parquet column pages (parquet-column's
  * public `ColumnReadStoreImpl`/`ColumnReader` — dictionary decoding
  * included) instead of materializing one `Group` object per row. The
  * row-at-a-time example reader costs ~µs per FIELD (the dominant CPU of
  * every catalog SQL read at sf0.1: q234 spent 4.7 s of task CPU in
  * Group decode); the columnar path hands Spark 4096-row batches that
  * whole-stage codegen consumes directly.
  *
  * It is the store's only data decoder: [[VersionedScan]], the change
  * feed and the table tail all read through [[VersionedReaderFactory]].
  * Scope: flat schemas (the store writes flat tables — max repetition
  * level 0), the store's primitive types, by-name projection with NULL
  * backfill for pre-evolution files, partition columns served as
  * constant vectors from the directory names, and deletion vectors
  * applied as a mask during the fill.
  */
object ColumnarRead {
  val BatchRows = 4096

  /** Types the decoder fills — the store's primitive set. */
  def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType | BooleanType |
         DoubleType | FloatType | ShortType | ByteType | DateType => true
    case _ => false
  }

  /** Refuse a read of a column the decoder cannot fill — called when a
    * scan builds its reader factory, so the read fails at planning,
    * before any job starts.
    */
  private[sources] def requireSupported(st: StructType): Unit =
    st.fields.find(f => !supportedType(f.dataType)).foreach { f =>
      throw new IllegalArgumentException(
        s"graft versioned read: column ${f.name} is ${f.dataType.simpleString} — " +
          "supported: long, int, short, byte, double, float, boolean, string, date")
    }

  /** Metadata key carrying a renamed column's FORMER on-file names
    * (comma-joined, newest first) — set by the scan from the manifest's
    * `#colmap` header, consulted per file by the reader.
    */
  val AliasesKey = "graft_aliases"

  /** Stamp each mapped field of `st` with its alias metadata — the scan
    * does this once at planning time from the manifest's `#colmap`.
    */
  def withAliases(st: StructType, m: Map[String, Seq[String]]): StructType =
    if (m.isEmpty) st
    else StructType(st.fields.map { f =>
      m.get(f.name).filter(_.nonEmpty) match {
        case Some(as) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString(AliasesKey, as.mkString(",")).build())
        case None => f
      }
    })

  /** `f`'s name as this file carries it: the logical name, or the first
    * alias present (a rename's former name), or None (pre-evolution or
    * post-drop file — NULL backfill).
    */
  def onFileName(hasField: String => Boolean, f: StructField): Option[String] =
    if (hasField(f.name)) Some(f.name)
    else if (!f.metadata.contains(AliasesKey)) None
    else f.metadata.getString(AliasesKey).split(",").find(a => a.nonEmpty && hasField(a))

  /** A constant vector of `f` holding a partition-directory STRING value
    * (already unescaped; null = the Hive default partition, or a column
    * the file predates).
    */
  private[sources] def constantVector(raw: String, f: StructField): ColumnVector = {
    val v = new ConstantColumnVector(BatchRows, f.dataType)
    if (raw == null) v.setNull()
    else f.dataType match {
      case LongType => v.setLong(raw.toLong)
      case IntegerType => v.setInt(raw.toInt)
      case StringType => v.setUtf8String(UTF8String.fromString(raw))
      case BooleanType => v.setBoolean(raw.toBoolean)
      case ShortType => v.setShort(raw.toShort)
      case ByteType => v.setByte(raw.toByte)
      case other => throw new UnsupportedOperationException(
        s"graft group reader: unsupported partition-value type $other for ${f.name}")
    }
    v
  }

  /** The scan metrics the reader reports, summed over a scan's tasks and
    * shown in its executed plan: row groups decoded, and row groups
    * skipped on their footer statistics ([[RowGroupBounds]]).
    */
  private[sources] def metrics: Array[CustomMetric] =
    Array(new DecodedRowGroups, new SkippedRowGroups)

  private[sources] def taskMetric(n: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

final class DecodedRowGroups extends CustomSumMetric {
  override def name(): String = "decodedRowGroups"
  override def description(): String = "row groups decoded"
}

final class SkippedRowGroups extends CustomSumMetric {
  override def name(): String = "skippedRowGroups"
  override def description(): String = "row groups skipped by footer stats"
}

/** The scan's pushed planning bounds, re-checked against EACH ROW
  * GROUP's parquet footer statistics before its pages are decoded — the
  * second skipping tier below manifest file pruning: a 1 GB file whose
  * manifest range covers the predicate still skips the ~90% of its row
  * groups whose chunk stats miss it. All domains are the RAW column
  * domain (parquet stats are raw values): epoch days for dates, UTF-8
  * byte order for strings (code-point order — exactly Spark's own
  * string comparison), widened columns compare via Number. Fail-open
  * everywhere: missing stats, unknown columns, or a pre-rename file
  * (the bound resolves through the alias metadata) just decode.
  */
final case class RowGroupBounds(
    longBounds: Map[String, (Long, Long)] = Map.empty,
    strLo: Map[String, String] = Map.empty,
    strHi: Map[String, String] = Map.empty,
    isNull: Set[String] = Set.empty,
    isNotNull: Set[String] = Set.empty,
    aliases: Map[String, Seq[String]] = Map.empty) {
  def isEmpty: Boolean =
    longBounds.isEmpty && strLo.isEmpty && strHi.isEmpty &&
      isNull.isEmpty && isNotNull.isEmpty

  /** May this row group contain a matching row? Conservative per column:
    * every bound must be contradicted by a present, non-empty statistic
    * to skip.
    */
  def survives(block: org.apache.parquet.hadoop.metadata.BlockMetaData): Boolean = {
    if (isEmpty) return true
    val byName = new scala.collection.mutable.HashMap[String,
      org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]()
    val it = block.getColumns.iterator()
    while (it.hasNext) { val c = it.next(); byName(c.getPath.toDotString) = c }
    def chunkOf(logical: String) =
      (logical +: aliases.getOrElse(logical, Seq.empty)).iterator
        .flatMap(byName.get).nextOption()
    def statsOf(logical: String) = chunkOf(logical).flatMap(c =>
      Option(c.getStatistics)).filter(!_.isEmpty)
    val rows = block.getRowCount
    val longOk = longBounds.forall { case (c, (lo, hi)) =>
      statsOf(c).forall { st =>
        if (!st.hasNonNullValue) true // all-null chunk: range can't match, but prove it via numNulls below
        else (st.genericGetMin, st.genericGetMax) match {
          case (mn: Number, mx: Number) =>
            mn.longValue() <= hi && mx.longValue() >= lo
          case _ => true
        }
      } && statsOf(c).forall(st =>
        !(st.isNumNullsSet && st.getNumNulls == rows)) // provably all-null: no value in range
    }
    def strCmp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    def strOk(c: String, bound: String, lower: Boolean): Boolean =
      statsOf(c).forall { st =>
        if (!st.hasNonNullValue) !(st.isNumNullsSet && st.getNumNulls == rows)
        else (st.genericGetMin, st.genericGetMax) match {
          case (mn: org.apache.parquet.io.api.Binary,
                mx: org.apache.parquet.io.api.Binary) =>
            val b = bound.getBytes("UTF-8")
            if (lower) strCmp(mx.getBytes, b) >= 0 else strCmp(mn.getBytes, b) <= 0
          case _ => true
        }
      }
    val sOk = strLo.forall { case (c, v) => strOk(c, v, lower = true) } &&
      strHi.forall { case (c, v) => strOk(c, v, lower = false) }
    val nullOk = isNull.forall(c => statsOf(c).forall(st =>
      !st.isNumNullsSet || st.getNumNulls > 0))
    val notNullOk = isNotNull.forall(c => statsOf(c).forall(st =>
      !(st.isNumNullsSet && st.getNumNulls == rows)))
    longOk && sOk && nullOk && notNullOk
  }
}

final class VersionedColumnarReader(p: VersionedPartition, required: StructType,
                                    conf: org.apache.hadoop.conf.Configuration,
                                    rgBounds: RowGroupBounds)
    extends PartitionReader[ColumnarBatch] {

  private val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
    new org.apache.hadoop.fs.Path(p.file), conf))
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  private val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
  private def columnIndex(name: String): Option[Int] =
    (0 until fileSchema.getColumns.size).find(i =>
      fileSchema.getColumns.get(i).getPath()(0) == name)

  // DELETION-VECTOR mask (r17): a DV'd file no longer de-vectorizes the
  // whole scan — the deleted keys subtract DURING the columnar fill.
  // The key column decodes once per batch into a scratch array (its own
  // dedicated ColumnReader — a required-field key fills its vector FROM
  // the scratch, never from a second reader over the same pages), the
  // mask compacts every other column's writes, and masked values decode
  // into a slot the next kept row overwrites — no reliance on decoder
  // skip semantics. DV keys are integral by the store's contract.
  private val dvSet: java.util.HashSet[java.lang.Long] =
    if (p.dvKeys.isEmpty) null
    else {
      val s = new java.util.HashSet[java.lang.Long](p.dvKeys.length * 2)
      p.dvKeys.foreach(k => s.add(k))
      s
    }
  private val dvKeyIdx: Int =
    if (dvSet == null) -1
    else columnIndex(p.dvKeyCol).getOrElse(throw new IllegalStateException(
      s"DV key column ${p.dvKeyCol} absent from ${p.file}"))
  private val dvKeyInt32: Boolean = dvSet != null && {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    fileSchema.getColumns.get(dvKeyIdx).getPrimitiveType
      .getPrimitiveTypeName == PrimitiveTypeName.INT32
  }

  // Per required field: Some(descriptor index into fileSchema's columns)
  // when the file carries it; None = constant or NULL backfill.
  private val fieldPlans: Array[Either[ColumnVector, Int]] =
    required.fields.map { f =>
      val ci = p.constCols.indexOf(f.name)
      if (ci >= 0) Left(ColumnarRead.constantVector(p.constVals(ci), f))
      else ColumnarRead.onFileName(fileSchema.containsField, f) match {
        // pre-evolution (or post-drop) file: the column reads as NULL
        case None => Left(ColumnarRead.constantVector(null, f))
        case Some(name) => // logical name or a rename's former name
          Right(columnIndex(name).getOrElse(
            throw new IllegalStateException(s"column $name not flat in ${p.file}")))
      }
    }

  // Writable vectors only for fields actually decoded from pages;
  // constant/backfill fields serve their ConstantColumnVector directly.
  private val writable: Array[OnHeapColumnVector] =
    fieldPlans.zip(required.fields).map {
      case (Right(_), f) => new OnHeapColumnVector(ColumnarRead.BatchRows, f.dataType)
      case (Left(_), _) => null
    }
  private val vectors: Array[ColumnVector] =
    fieldPlans.zip(writable).map {
      case (Left(const), _) => const
      case (Right(_), w) => w
    }
  private val batch = new ColumnarBatch(vectors)

  // Per-field decode strategy resolved ONCE per file — no per-value
  // DataType match in the hot loop. Resolved against the file's PHYSICAL
  // primitive type where they can differ: a type-widened column (ALTER
  // COLUMN TYPE) reads pre-widen files' narrow bytes and widens per value.
  private val fillers: Array[(ColumnReader, OnHeapColumnVector, Int) => Unit] =
    fieldPlans.zip(required.fields).map {
      case (Left(_), _) => null // constant / NULL backfill: no page decode
      case (Right(idx), f) =>
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val phys = fileSchema.getColumns.get(idx).getPrimitiveType.getPrimitiveTypeName
      f.dataType match {
        case LongType if phys == PrimitiveTypeName.INT32 =>
          (cr, vec, i) => vec.putLong(i, cr.getInteger.toLong)
        case LongType => (cr, vec, i) => vec.putLong(i, cr.getLong)
        case DoubleType if phys == PrimitiveTypeName.FLOAT =>
          (cr, vec, i) => vec.putDouble(i, cr.getFloat.toDouble)
        case DoubleType if phys == PrimitiveTypeName.INT32 =>
          (cr, vec, i) => vec.putDouble(i, cr.getInteger.toDouble)
        case IntegerType => (cr, vec, i) => vec.putInt(i, cr.getInteger)
        case StringType => (cr, vec, i) => {
          val b = cr.getBinary.getBytes
          vec.putByteArray(i, b, 0, b.length)
          ()
        }
        case DoubleType => (cr, vec, i) => vec.putDouble(i, cr.getDouble)
        case BooleanType => (cr, vec, i) => vec.putBoolean(i, cr.getBoolean)
        case FloatType => (cr, vec, i) => vec.putFloat(i, cr.getFloat)
        case ShortType => (cr, vec, i) => vec.putShort(i, cr.getInteger.toShort)
        case ByteType => (cr, vec, i) => vec.putByte(i, cr.getInteger.toByte)
        // parquet DATE = int32 epoch days, Spark's internal date form
        case DateType => (cr, vec, i) => vec.putInt(i, cr.getInteger)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
    }

  private var pages: PageReadStore = _
  private var readers: Array[ColumnReader] = _
  private var maxDefs: Array[Int] = _
  private var rowsLeftInGroup = 0L

  // ROW-GROUP SKIPPING: before decoding a group's pages, its footer
  // chunk statistics are checked against the scan's pushed bounds — the
  // skipping tier below manifest file pruning. A skipped group's pages
  // are never read from disk (skipNextRowGroup advances the reader's
  // cursor without I/O beyond the already-loaded footer).
  private val blocks = reader.getRowGroups
  private var blockIdx = -1
  private var decodedGroups = 0L
  private var skippedGroups = 0L

  private def nextRowGroup(): Boolean = {
    while (blockIdx + 1 < blocks.size()) {
      blockIdx += 1
      if (rgBounds.survives(blocks.get(blockIdx))) {
        pages = reader.readNextRowGroup()
        if (pages == null) return false
        decodedGroups += 1
        val store = new ColumnReadStoreImpl(pages,
          new GroupRecordConverter(fileSchema).getRootConverter, fileSchema, createdBy)
        // the DV key gets ONE dedicated reader; a required key field
        // fills from its scratch values instead of a second reader over
        // the same page store
        keyReader =
          if (dvSet == null) null
          else store.getColumnReader(fileSchema.getColumns.get(dvKeyIdx))
        keyMaxDef =
          if (dvSet == null) 0
          else fileSchema.getColumns.get(dvKeyIdx).getMaxDefinitionLevel
        readers = fieldPlans.map {
          case Right(idx) if dvSet != null && idx == dvKeyIdx => null
          case Right(idx) => store.getColumnReader(fileSchema.getColumns.get(idx))
          case Left(_) => null
        }
        maxDefs = fieldPlans.map {
          case Right(idx) => fileSchema.getColumns.get(idx).getMaxDefinitionLevel
          case Left(_) => 0
        }
        rowsLeftInGroup = pages.getRowCount
        return true
      } else {
        skippedGroups += 1
        reader.skipNextRowGroup()
      }
    }
    false
  }

  // Fill strategy for a REQUIRED key field served from the scratch
  // decode (DV'd files): integral logical types only, by the DV contract.
  private val keyFillers: Array[(OnHeapColumnVector, Int, Long) => Unit] =
    fieldPlans.zip(required.fields).map {
      case (Right(idx), f) if dvSet != null && idx == dvKeyIdx =>
        f.dataType match {
          case LongType => (vec, o, v) => vec.putLong(o, v)
          case IntegerType => (vec, o, v) => vec.putInt(o, v.toInt)
          case ShortType => (vec, o, v) => vec.putShort(o, v.toShort)
          case ByteType => (vec, o, v) => vec.putByte(o, v.toByte)
          case other => throw new IllegalStateException(
            s"DV key field ${f.name} has non-integral type $other")
        }
      case _ => null
    }

  private var keyReader: ColumnReader = _
  private var keyMaxDef = 0
  // per-batch scratch (allocated once): decoded key values + keep mask
  private val keyVals = new Array[Long](ColumnarRead.BatchRows)
  private val keyNulls = new Array[Boolean](ColumnarRead.BatchRows)
  private val keepMask = new Array[Boolean](ColumnarRead.BatchRows)

  override def next(): Boolean = {
    while (rowsLeftInGroup == 0L) if (!nextRowGroup()) return false
    val n = math.min(ColumnarRead.BatchRows.toLong, rowsLeftInGroup).toInt
    var kept = n
    if (dvSet != null) {
      kept = 0
      var i = 0
      while (i < n) {
        if (keyReader.getCurrentDefinitionLevel < keyMaxDef) {
          keyNulls(i) = true; keepMask(i) = true // null key: never in a DV
        } else {
          val v = if (dvKeyInt32) keyReader.getInteger.toLong else keyReader.getLong
          keyVals(i) = v; keyNulls(i) = false
          keepMask(i) = !dvSet.contains(v)
        }
        if (keepMask(i)) kept += 1
        keyReader.consume()
        i += 1
      }
    }
    var fi = 0
    while (fi < fieldPlans.length) {
      fieldPlans(fi) match {
        case Left(_) => ()
        case Right(idx) if dvSet != null && idx == dvKeyIdx =>
          // the key field serves from the scratch decode
          val vec = writable(fi)
          val fill = keyFillers(fi)
          vec.reset()
          var i = 0
          var o = 0
          while (i < n) {
            if (keepMask(i)) {
              if (keyNulls(i)) vec.putNull(o) else fill(vec, o, keyVals(i))
              o += 1
            }
            i += 1
          }
        case Right(_) =>
          val cr = readers(fi)
          val maxDef = maxDefs(fi)
          val vec = writable(fi)
          val fill = fillers(fi)
          vec.reset()
          var i = 0
          var o = 0
          while (i < n) {
            // masked rows still DECODE (into the slot the next kept row
            // overwrites) — the page cursor advances uniformly without
            // relying on unread-value skip semantics
            if (dvSet == null || keepMask(i)) {
              if (cr.getCurrentDefinitionLevel < maxDef) vec.putNull(o)
              else fill(cr, vec, o)
              o += 1
            } else if (cr.getCurrentDefinitionLevel >= maxDef) {
              fill(cr, vec, o) // overwritten by the next kept row
            }
            cr.consume()
            i += 1
          }
      }
      fi += 1
    }
    batch.setNumRows(kept)
    rowsLeftInGroup -= n
    true
  }

  override def get(): ColumnarBatch = batch
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    ColumnarRead.taskMetric("decodedRowGroups", decodedGroups),
    ColumnarRead.taskMetric("skippedRowGroups", skippedGroups))
  override def close(): Unit = {
    batch.close()
    reader.close()
  }
}
