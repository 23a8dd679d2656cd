package graft.sources

import graft.tables.Versioned
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 READ connector over a [[Versioned]] table — the surface
  * that lets a pure-SQL user query the store (temp view + `spark.sql`)
  * with time travel and manifest-driven skipping, no Scala API needed:
  *
  * {{{
  *   spark.read.format("graft.sources.VersionedSource")
  *     .option("versionAsOf", "3")        // or timestampAsOf=<epoch ms>;
  *     .load(tablePath)                   //   default = latest
  * }}}
  *
  * Planning is manifest METADATA only, and two prunings happen before a
  * single byte of data is opened:
  *
  *  - PARTITION pruning: predicates on ANY of the partition columns
  *    (equality for any partitionable type; ranges for integral ones)
  *    eliminate whole entries by their directory-encoded values — every
  *    level of a nested `a=1/b=x` multi-column layout prunes;
  *  - FILE skipping: on file-granular versions, predicates on the
  *    manifest's recorded stats columns (`#statskey` + optional
  *    `#statskey2`) eliminate files whose [kmin, kmax] cannot contain a
  *    match — parquet-footer-style skipping served from the manifest
  *    without touching the files. Bounds live in the KeyEnc surrogate
  *    domain: raw longs (integral), epoch days (date), the monotone
  *    8-byte prefix (string ranges); string/date POINT equality
  *    additionally probes the per-file bloom.
  *
  * Both prunings are planning-time only: every filter is RETURNED to
  * Spark as residual, so row-level correctness never depends on the
  * stats (`pushedFilters` stays empty by design — prune aggressively,
  * claim nothing). Column pruning is pushed down to the per-file
  * readers (vectorized [[VersionedColumnarReader]] when no deletion
  * vector survives and every type is in the primitive set; the
  * [[GroupRows]] row path otherwise); partition columns materialize as
  * constant vectors from the directory names (never stored in the
  * files, same as Spark's own layout). A schema-evolved version's
  * pre-evolution files NULL-backfill by name, and renamed columns
  * resolve through the `#colmap` alias metadata per file.
  */
class VersionedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VersionedSource.schemaFor(SparkSession.active, options.get("path"),
      VersionedSource.resolveVersion(SparkSession.active, options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new VersionedTable(properties.get("path"), schema,
      new CaseInsensitiveStringMap(properties))
}

object VersionedSource {
  def resolveVersion(spark: SparkSession, options: CaseInsensitiveStringMap): Int = {
    val path = options.get("path")
    require(path != null, "graft_versioned: path option is required")
    (Option(options.get("versionAsOf")), Option(options.get("timestampAsOf"))) match {
      case (Some(v), None) => v.toInt
      case (None, Some(ts)) => Versioned.versionAsOf(spark, path, ts.toLong)
      case (None, None) => Versioned.latestVersion(spark, path)
      case _ => throw new IllegalArgumentException(
        "graft_versioned: versionAsOf and timestampAsOf are mutually exclusive")
    }
  }

  def schemaFor(spark: SparkSession, path: String, v: Int): StructType =
    Versioned.schemaOf(spark, path, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft_versioned: $path v$v has no recorded schema (published " +
          "pre-r14?) — republish or merge once to record one"))
}

final class VersionedTable(path: String, schema0: StructType,
                           options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft_versioned($path)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val version = VersionedSource.resolveVersion(spark, options)
    new VersionedScanBuilder(path, version, schema0,
      Versioned.statsKeyOf(spark, path, version),
      Versioned.statsKey2Of(spark, path, version),
      Versioned.statsColsOf(spark, path, version))
  }
}

final class VersionedScanBuilder(path: String, version: Int, full: StructType,
                                 statsKey: Option[String],
                                 statsKey2: Option[String],
                                 statsCols: Seq[String] = Seq.empty,
                                 planListener: Option[Seq[Versioned.Entry] => Unit] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  // Conservative planning bounds per column: inclusive [lo, hi] for
  // integral (and date — epoch-day surrogate, the KeyEnc domain the
  // manifest records) comparisons, plus equality literals and inclusive
  // lexicographic ranges for strings.
  private var longBounds = Map.empty[String, (Long, Long)]
  private var stringEq = Map.empty[String, String]
  private var stringLo = Map.empty[String, String]
  private var stringHi = Map.empty[String, String]
  // Null-ness predicates: `c IS NULL` prunes files whose recorded null
  // count for c is 0, `c IS NOT NULL` prunes files entirely null in c.
  private var nullCols = Set.empty[String]
  private var notNullCols = Set.empty[String]

  private def tighten(c: String, lo: Long, hi: Long): Unit = {
    val (l0, h0) = longBounds.getOrElse(c, (Long.MinValue, Long.MaxValue))
    longBounds += c -> (math.max(l0, lo), math.min(h0, hi))
  }
  // String ranges stay CLOSED even for strict comparisons: the manifest's
  // 8-byte-prefix surrogate is monotone but not strict, so the sound
  // tightening for `c > v` is still lo = v (prefix ties may straddle v).
  private def sLo(c: String, v: String): Unit =
    stringLo += c -> stringLo.get(c).filter(_ >= v).getOrElse(v)
  private def sHi(c: String, v: String): Unit =
    stringHi += c -> stringHi.get(c).filter(_ <= v).getOrElse(v)
  private def daysOf(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case EqualTo(c, v: Long) => tighten(c, v, v)
      case EqualTo(c, v: Int) => tighten(c, v.toLong, v.toLong)
      case EqualTo(c, v: String) => stringEq += c -> v
      case EqualTo(c, v) => daysOf(v).foreach(d => tighten(c, d, d))
      case GreaterThan(c, v: Long) => if (v < Long.MaxValue) tighten(c, v + 1, Long.MaxValue)
      case GreaterThan(c, v: Int) => tighten(c, v.toLong + 1, Long.MaxValue)
      case GreaterThan(c, v: String) => sLo(c, v)
      case GreaterThan(c, v) => daysOf(v).foreach(d => tighten(c, d + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v: Long) => tighten(c, v, Long.MaxValue)
      case GreaterThanOrEqual(c, v: Int) => tighten(c, v.toLong, Long.MaxValue)
      case GreaterThanOrEqual(c, v: String) => sLo(c, v)
      case GreaterThanOrEqual(c, v) => daysOf(v).foreach(d => tighten(c, d, Long.MaxValue))
      case LessThan(c, v: Long) => if (v > Long.MinValue) tighten(c, Long.MinValue, v - 1)
      case LessThan(c, v: Int) => tighten(c, Long.MinValue, v.toLong - 1)
      case LessThan(c, v: String) => sHi(c, v)
      case LessThan(c, v) => daysOf(v).foreach(d => tighten(c, Long.MinValue, d - 1))
      case LessThanOrEqual(c, v: Long) => tighten(c, Long.MinValue, v)
      case LessThanOrEqual(c, v: Int) => tighten(c, Long.MinValue, v.toLong)
      case LessThanOrEqual(c, v: String) => sHi(c, v)
      case LessThanOrEqual(c, v) => daysOf(v).foreach(d => tighten(c, Long.MinValue, d))
      case IsNull(c) => nullCols += c
      case IsNotNull(c) => notNullCols += c
      case _ => ()
    }
    sawFilters ||= filters.nonEmpty
    filters // ALL residual: pruning is planning-only, Spark re-applies rows
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // METADATA-ONLY aggregates (the Delta/Iceberg metadata shortcut): an
  // unfiltered global COUNT(*) is the manifest's per-file row counts
  // minus each file's deletion-vector key count, and MIN/MAX of the
  // STATS KEY is the extremum of the recorded per-file bounds — zero
  // data files opened, on a 100 TB table the difference between a full
  // scan and a driver-side fold. Pushed only when PROVABLY exact:
  //  - no filter of ANY kind reached the scan (every filter stays
  //    residual here, so a filtered aggregate can never be served from
  //    metadata; Spark additionally only attempts aggregate pushdown
  //    with zero remaining data filters), no grouping;
  //  - COUNT needs file-granular entries with recorded row counts;
  //  - MIN/MAX need an INTEGRAL or DATE key (the identity/epoch-day
  //    surrogate — a string key's 8-byte prefix is lossy), bounds on
  //    every entry, and NO deletion vectors anywhere (a DV could have
  //    deleted the extremum row; the count stays exact under DVs, the
  //    extrema do not).
  // The metadata scan implements no runtime filtering, so the answer
  // cannot be silently narrowed after planning.
  private var sawFilters = false
  private var pushedMeta: Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = None

  private lazy val metaEntries = Versioned.entriesOf(SparkSession.active, path, version)

  private def manifestCount: Option[Long] = {
    if (sawFilters) return None
    val es = metaEntries
    if (es.isEmpty) Some(0L)
    else if (es.forall(_.file.isDefined))
      Versioned.fileRowCounts(SparkSession.active, path, version,
        es.map(e => (e.partDir, e.file.get)).toSet)
    else None
  }

  /** (internal min value, internal max value, output type) of the stats
    * key from manifest bounds — None unless provably exact.
    */
  private def manifestKeyExtrema: Option[(Any, Any, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    if (sawFilters) return None
    val k = statsKey.getOrElse(return None)
    if (!full.fieldNames.contains(k)) return None
    val dt = full(k).dataType
    val es = metaEntries
    if (es.isEmpty) return None // empty table: MIN/MAX are NULL — let the data path answer
    if (!es.forall(e => e.file.isDefined && e.kmin.isDefined && e.kmax.isDefined &&
        e.dv.isEmpty)) return None
    val lo = es.map(_.kmin.get).min
    val hi = es.map(_.kmax.get).max
    dt match {
      case LongType => Some((lo, hi, dt))
      case IntegerType => Some((lo.toInt, hi.toInt, dt))
      case ShortType => Some((lo.toShort, hi.toShort, dt))
      case ByteType => Some((lo.toByte, hi.toByte, dt))
      case DateType => Some((lo.toInt, hi.toInt, dt)) // epoch days = Spark's internal date
      case _ => None // string surrogate is lossy; never answer from it
    }
  }

  private def metaAnswers(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty)
      return None
    def keyRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case nr: NamedReference =>
          statsKey.contains(nr.fieldNames().mkString("."))
        case _ => false
      }
    val answers = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        manifestCount.map(n => (n: Any, org.apache.spark.sql.types.LongType
          : org.apache.spark.sql.types.DataType))
      case m: Min if keyRef(m.column) =>
        manifestKeyExtrema.map { case (lo, _, dt) => (lo, dt) }
      case m: Max if keyRef(m.column) =>
        manifestKeyExtrema.map { case (_, hi, dt) => (hi, dt) }
      case _ => None
    }
    if (answers.forall(_.isDefined)) Some(answers.map(_.get)) else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metaAnswers(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedMeta = metaAnswers(agg)
    pushedMeta.isDefined
  }

  override def build(): Scan = pushedMeta match {
    case Some(answers) => new ManifestAggScan(path, version, answers)
    case None =>
      new VersionedScan(path, version, full, required, statsKey, statsKey2,
        statsCols, longBounds, stringEq, stringLo, stringHi,
        nullCols, notNullCols, planListener)
  }
}

/** Aggregate answers served from manifest metadata alone: one
  * partition, one row, no data file opened.
  */
final class ManifestAggScan(path: String, version: Int,
                            answers: Seq[(Any, org.apache.spark.sql.types.DataType)])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    answers.zipWithIndex.map { case ((_, dt), i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", dt, nullable = false) })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftManifestAgg path=$path v$version " +
      s"values=${answers.map(_._1).mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggPartition(answers.map(_._1).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestAggReaderFactory
}

final case class ManifestAggPartition(values: Array[Any]) extends InputPartition

final class ManifestAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ManifestAggPartition]
    new PartitionReader[InternalRow] {
      private var served = false
      override def next(): Boolean = { val r = !served; served = true; r }
      override def get(): InternalRow = new GenericInternalRow(p.values)
      override def close(): Unit = ()
    }
  }
}

/** One parquet file plus the partition-column constants its directory
  * path encodes (parallel name/raw-value arrays, one slot per nesting
  * level; a null value = Hive default partition) and, when the manifest
  * carries a deletion vector for the file, the deleted keys to subtract
  * (metadata-sized; `dvKeyCol` names the column).
  */
final case class VersionedPartition(file: String,
                                    constCols: Array[String],
                                    constVals: Array[String],
                                    dvKeyCol: String = null,
                                    dvKeys: Array[Long] = Array.empty)
    extends InputPartition

final class VersionedScan(path: String, version: Int, full: StructType,
                          required: StructType, statsKey: Option[String],
                          statsKey2: Option[String],
                          statsCols: Seq[String] = Seq.empty,
                          longBounds: Map[String, (Long, Long)] = Map.empty,
                          stringEq: Map[String, String] = Map.empty,
                          stringLo: Map[String, String] = Map.empty,
                          stringHi: Map[String, String] = Map.empty,
                          nullCols: Set[String] = Set.empty,
                          notNullCols: Set[String] = Set.empty,
                          planListener: Option[Seq[Versioned.Entry] => Unit] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val sb = stringEq.map { case (c, v) => s"$c = '$v'" } ++
      stringLo.map { case (c, v) => s"$c >= '$v'" } ++
      stringHi.map { case (c, v) => s"$c <= '$v'" } ++
      nullCols.map(c => s"$c IS NULL") ++
      notNullCols.map(c => s"$c IS NOT NULL")
    s"GraftVersioned path=$path v$version, " +
      s"ReadSchema=${required.fieldNames.mkString(",")}, " +
      s"PruneBounds=${(longBounds.map { case (c, (l, h)) => s"$c in [$l,$h]" } ++ sb).mkString(";")}"
  }

  // Every `col=value` level the (possibly nested) partition dir encodes.
  private def partValues(partDir: String): Seq[(String, String)] =
    partDir.split('/').toSeq.map { seg =>
      val cut = seg.indexOf('=')
      val colName = seg.substring(0, cut)
      val raw = ExternalCatalogUtils.unescapePathName(seg.substring(cut + 1))
      (colName, if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else raw)
    }
  // Partition-value pruning against the directory-encoded constants:
  // every level must pass its own bounds (multi-column layouts prune on
  // any combination of partition predicates). Directory values are EXACT
  // strings, so string ranges compare raw (no surrogate slack) and
  // null-ness predicates decide a whole leaf: a default-partition leaf
  // cannot satisfy any bound or IS NOT NULL, a valued leaf cannot
  // satisfy IS NULL.
  private def partSurvives(partDir: String): Boolean = {
    if (partDir == "-") return true
    partValues(partDir).forall { case (c, raw) =>
      if (raw == null)
        !(longBounds.contains(c) || stringEq.contains(c) ||
          stringLo.contains(c) || stringHi.contains(c) || notNullCols(c))
      else !nullCols(c) &&
        stringEq.get(c).forall(_ == raw) &&
        stringLo.get(c).forall(raw >= _) &&
        stringHi.get(c).forall(raw <= _) &&
        (longBounds.get(c) match {
          case Some((lo, hi)) => raw.toLongOption.exists(v => lo <= v && v <= hi)
          case None => true
        })
    }
  }
  // Manifest-stats file skipping on the recorded stats column(s): the
  // [kmin, kmax] range first, then — for a POINT equality — the per-file
  // key Bloom filter, which skips files whose range covers the key but
  // provably don't contain it (sound: no false negatives). Bounds live
  // in the manifest's SURROGATE domain ([[graft.tables.KeyEnc]]): raw
  // longs for integral columns, epoch days for dates, the monotone
  // 8-byte prefix for strings (bloom = full-string FNV hash — only a
  // true equality literal may probe it; a range that happens to collapse
  // to one surrogate must not). A version carrying bounds on a SECOND
  // column (`#statskey2`, z-order or publish-time) prunes there on the
  // same terms; entries lacking the bounds (post-z-order merge rewrites)
  // survive.
  private def dimBounds(cOpt: Option[String])
      : (Option[(Long, Long)], Option[Long]) = cOpt match {
    case None => (None, None)
    case Some(c) =>
      val dt = if (full.fieldNames.contains(c)) Some(full(c).dataType) else None
      dt match {
        case Some(StringType) =>
          import graft.tables.KeyEnc
          stringEq.get(c) match {
            case Some(s) =>
              val enc = KeyEnc.encodeString(s)
              (Some((enc, enc)), Some(KeyEnc.hashString(s)))
            case None =>
              val lo = stringLo.get(c).map(KeyEnc.encodeString)
              val hi = stringHi.get(c).map(KeyEnc.encodeString)
              if (lo.isEmpty && hi.isEmpty) (None, None)
              else (Some((lo.getOrElse(Long.MinValue),
                          hi.getOrElse(Long.MaxValue))), None)
          }
        case _ =>
          // integral and date bounds are already in the surrogate domain
          // (dates tightened as epoch days at push time)
          val b = longBounds.get(c)
          (b, b.collect { case (lo, hi) if lo == hi => lo })
      }
  }
  private val (keyBounds, keyProbe) = dimBounds(statsKey)
  private val (key2Bounds, _) = dimBounds(statsKey2)
  // N EXTRA dimensions (`#statscols` → per-entry `xstats` slot): one
  // conservative bound per recorded column, same surrogate domain.
  private val extraBounds: Seq[Option[(Long, Long)]] =
    statsCols.map(c => dimBounds(Some(c))._1)
  private val anyExtraPredicate = extraBounds.exists(_.isDefined) ||
    statsCols.exists(c => nullCols(c) || notNullCols(c))
  private def fileSurvives(e: Versioned.Entry): Boolean = {
    val dim1 = (keyBounds, e.kmin, e.kmax) match {
      case (Some((lo, hi)), Some(mn), Some(mx)) =>
        mn <= hi && mx >= lo &&
          keyProbe.forall(p => e.bloom.forall(Versioned.bloomMightContain(_, p)))
      case _ => true
    }
    // the stats key is non-null by the store's contract (fileStatsOf
    // rejects null keys loudly), so `key IS NULL` matches no row of any
    // file-granular entry
    val keyNull = !statsKey.exists(nullCols) || e.kmin.isEmpty
    val dim2 = (key2Bounds, e.k2min, e.k2max) match {
      case (Some((lo, hi)), Some(mn), Some(mx)) => mn <= hi && mx >= lo
      case _ => true
    }
    val dimX = !anyExtraPredicate || {
      e.xstats match {
        case None => true // entry predates the stats (or a rewrite dropped them)
        case Some(x) =>
          val bs = Versioned.parseXStats(x)
          statsCols.zipWithIndex.forall { case (c, i) =>
            bs.lift(i) match {
              case None => true // degraded slot: fail open
              case Some((mn, mx, nn)) =>
                // all-null-in-this-file is provable two ways: recorded
                // bounds absent with a known null count == rows, or the
                // null count alone
                val allNull =
                  nn.isDefined && e.nrows.isDefined && nn == e.nrows
                val rangeOk = extraBounds(i) match {
                  case Some((lo, hi)) => (mn, mx) match {
                    case (Some(a), Some(b)) => a <= hi && b >= lo
                    case _ => !allNull // no bounds recorded: only a provably all-null file can skip a range
                  }
                  case None => true
                }
                // `c IS NULL`: a file with zero nulls has no matching row;
                // `c IS NOT NULL`: an all-null file has none. Unknown null
                // counts (pre-r17 entries) fail open.
                val isNullOk = !nullCols(c) || nn.forall(_ > 0)
                val notNullOk = !notNullCols(c) || !allNull
                rangeOk && isNullOk && notNullOk
            }
          }
      }
    }
    dim1 && keyNull && dim2 && dimX
  }

  // Entries left after the STATIC prunings; runtime filters (dynamic
  // partition pruning, row-level-operation group filtering) subtract
  // further below, before any file opens.
  private lazy val survivors = Versioned
    .entriesOf(SparkSession.active, path, version)
    .filter(e => partSurvives(e.partDir) && fileSurvives(e))

  /** Runtime (dynamic) filtering — what turns a SQL MERGE INTO from a
    * whole-table rewrite into a file-scoped one: Spark's row-level-
    * operation group filtering (and regular DPP) collects the matching
    * keys / partition values at RUNTIME and hands them to the scan as IN
    * predicates; files whose range+bloom stats cannot contain any
    * runtime key, and partitions outside the runtime value set, drop
    * from the planned (and therefore REPLACED) group set. Unrecognized
    * predicates are ignored — runtime filtering may only shrink the set
    * it is given, so ignoring is always safe.
    */
  // FIRST partition column only: runtime filtering keys on one
  // attribute (see filterAttributes), and on a multi-column layout the
  // leading column is the coarsest, highest-value cut.
  private lazy val partColName: Option[String] =
    Versioned.partColOf(SparkSession.active, path, version)
      .flatMap(spec => Versioned.partColsOf(spec).headOption)
  @volatile private var runtimeKeys: Option[Array[Long]] = None
  // String-keyed tables: runtime IN values as (range-surrogate, bloom
  // hash) probes in the manifest's KeyEnc domain.
  @volatile private var runtimeProbes: Option[Array[(Long, Long)]] = None
  @volatile private var runtimeParts: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    // ONE attribute only: Spark keys the runtime group filter on a
    // struct of ALL filter attributes, and a struct-typed IN cannot
    // translate to a pushable V2 predicate (it then degrades to a no-op
    // hint). The stats key gives file-level pruning — the sharpest cut;
    // partition-only tables fall back to the partition column.
    statsKey.orElse(partColName).map(Expressions.column).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        (p.children()(0), p.children().drop(1).toSeq) match {
          case (f: NamedReference, lits) if lits.forall(_.isInstanceOf[Literal[_]]) =>
            val colName = f.fieldNames().mkString(".")
            val values = lits.map(_.asInstanceOf[Literal[_]].value())
            if (statsKey.contains(colName) &&
                values.forall(v => v.isInstanceOf[java.lang.Long] ||
                  v.isInstanceOf[java.lang.Integer])) {
              runtimeKeys = Some(values.map {
                case l: java.lang.Long => l.longValue()
                case i: java.lang.Integer => i.longValue()
              }.distinct.sorted.toArray)
            } else if (statsKey.contains(colName) && values.nonEmpty &&
                values.forall(v =>
                  v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String] ||
                  v.isInstanceOf[String])) {
              // string-keyed group filtering: each runtime key becomes a
              // (prefix-surrogate, FNV-hash) probe against range + bloom
              runtimeProbes = Some(values.map(v =>
                graft.tables.KeyEnc.probeOf(String.valueOf(v)))
                .distinct.sortBy(_._1).toArray)
            } else if (partColName.contains(colName)) {
              runtimeParts = Some(values.map(v =>
                ExternalCatalogUtils.getPartitionPathString(colName,
                  if (v == null) null else String.valueOf(v))).toSet)
            }
          case _ => ()
        }
      }
    }
  }

  private def runtimeSurvivors: Seq[Versioned.Entry] =
    survivors
      .filter(e => runtimeKeys.forall(ks => Versioned.viewMayContainKeys(e, ks)))
      .filter(e => runtimeProbes.forall(ps => Versioned.viewMayContainProbes(e, ps)))
      .filter(e => runtimeParts.forall(ps =>
        e.partDir == "-" || ps.contains(e.partDir.split('/').head)))

  /** Post-pruning size/row statistics from manifest metadata alone (the
    * Delta/Iceberg pattern): row counts come from the per-file manifest
    * entries minus their deletion vectors' key counts, bytes from one
    * FileStatus per surviving file. Catalyst's join planning sees a
    * PRUNED versioned table as exactly as small as it is — a dimension
    * slice joins broadcast instead of shuffling both sides (pinned in
    * SourcesSpec), which at 100 TB is the difference between a map-side
    * join and a full shuffle of the fact table.
    */
  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val fsPath = new org.apache.hadoop.fs.Path(path)
    // Byte sizes come from the manifest (recorded at write time); only
    // legacy entries that predate the size field (and dir-granular
    // entries) fall back to filesystem RPCs — planning on a current
    // 10^5-file manifest issues zero per-file round-trips.
    lazy val fsys = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes = 0L
    var fileGranular = true
    survivors.foreach { e =>
      (e.file, e.fsize) match {
        case (Some(_), Some(sz)) => bytes += sz
        case (Some(f), None) =>
          bytes += fsys.getFileStatus(
            new org.apache.hadoop.fs.Path(fsPath, s"${e.dataDir}/${e.partDir}/$f")).getLen
        case (None, _) =>
          fileGranular = false // dir-level entry: no per-file row counts
          bytes += fsys.getContentSummary(new org.apache.hadoop.fs.Path(fsPath,
            if (e.partDir == "-") e.dataDir else s"${e.dataDir}/${e.partDir}")).getLength
      }
    }
    val rows =
      if (!fileGranular) None
      else Versioned.fileRowCounts(spark, path, version,
        survivors.map(e => (e.partDir, e.file.get)).toSet)
    val b = bytes
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fsys = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val planned = runtimeSurvivors
    // Row-level rewrites need to know EXACTLY which entries this scan
    // planned: the replacement commit displaces precisely that set.
    planListener.foreach(_(planned))
    planned
      .flatMap { e =>
        val (constCols, constVals) =
          if (e.partDir == "-") (Array.empty[String], Array.empty[String])
          else {
            val kvs = partValues(e.partDir)
            (kvs.map(_._1).toArray, kvs.map(_._2).toArray)
          }
        // Deletion vector: resolve the deleted keys at planning time
        // (metadata-sized) so the reader can subtract them row-by-row —
        // the scan must never serve a deleted row.
        val (dvCol, dvKeys) = e.dv match {
          case Some(d) =>
            (statsKey.getOrElse(throw new IllegalStateException(
              s"entry carries a deletion vector but v$version has no #statskey")),
             Versioned.dvKeysOf(spark, path, d))
          case None => (null: String, Array.empty[Long])
        }
        e.file match {
          case Some(f) =>
            Seq(VersionedPartition(
              new org.apache.hadoop.fs.Path(fsPath,
                s"${e.dataDir}/${e.partDir}/$f").toString,
              constCols, constVals, dvCol, dvKeys))
          case None =>
            val dir = new org.apache.hadoop.fs.Path(fsPath,
              if (e.partDir == "-") e.dataDir else s"${e.dataDir}/${e.partDir}")
            fsys.listStatus(dir).toSeq
              .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
              .sortBy(_.getPath.getName)
              .map(s => VersionedPartition(s.getPath.toString, constCols, constVals))
        }
      }
      .map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Rename mapping: stamp each mapped field with the former names its
    // bytes carry in pre-rename files (metadata — both readers consult it
    // per file; no signature rides along).
    val aliases = Versioned.columnAliasesOf(SparkSession.active, path, version)
    // The SAME pushed planning bounds recheck against EACH row group's
    // parquet footer stats inside the vectorized reader — the skipping
    // tier below manifest file pruning. Scan-level maps are already in
    // the raw column domain (epoch days for dates, raw strings), which
    // is the domain parquet statistics live in. Point equality folds
    // into a closed [v, v] range.
    val rgBounds = RowGroupBounds(
      longBounds = longBounds,
      strLo = stringEq ++ stringLo.map { case (c, v) =>
        c -> stringEq.get(c).map(e => if (e > v) e else v).getOrElse(v) },
      strHi = stringEq ++ stringHi.map { case (c, v) =>
        c -> stringEq.get(c).map(e => if (e < v) e else v).getOrElse(v) },
      isNull = nullCols, isNotNull = notNullCols,
      aliases = aliases)
    // DV'd files stay vectorized (r17): the columnar reader applies the
    // deletion-vector mask during its fill, so a single small DV no
    // longer de-vectorizes the whole scan. Requires an integral stats
    // key (the DV key contract); non-integral-keyed DV scans keep the
    // row path. Runtime filters can only SHRINK the survivor set, so a
    // static verdict stays valid at execution.
    val dvColumnarOk = {
      import org.apache.spark.sql.types._
      statsKey.exists(k => full.fieldNames.contains(k) &&
        Set[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(full(k).dataType))
    }
    new VersionedReaderFactory(GroupRows.withAliases(required, aliases),
      GroupRows.withAliases(full, aliases),
      columnarOk = !survivors.exists(_.dv.isDefined) || dvColumnarOk,
      rgBounds = rgBounds)
  }
}

final class VersionedReaderFactory(required: StructType, full: StructType,
                                   columnarOk: Boolean = false,
                                   rgBounds: RowGroupBounds = RowGroupBounds())
    extends PartitionReaderFactory {
  // The DRIVER's session Hadoop conf rides to the read tasks (the same
  // contract as the sink's writer factory): object-store credentials and
  // fs implementations apply where the file is actually opened.
  private val conf = new SerializableHadoopConf(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[VersionedPartition]
    new VersionedPartitionReader(p.file, p.constCols, p.constVals, required,
      full, p.dvKeyCol, p.dvKeys, conf.value)
  }

  /** Vectorized path when the WHOLE SCAN qualifies (Spark requires a
    * uniform answer across a scan's partitions): no planned file carries
    * a deletion vector (the subtraction is a per-row filter) and every
    * required type is in the store's primitive set — the common case of
    * every catalog SQL read. 4096-row ColumnarBatches fill straight from
    * parquet pages instead of per-row Group decode.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnarOk && required.fields.forall(f =>
      ColumnarRead.supportedType(f.dataType))

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[VersionedPartition]
    new VersionedColumnarReader(p.file, p.constCols, p.constVals, required,
      conf.value, rgBounds, p.dvKeyCol, p.dvKeys)
  }
}

final class VersionedPartitionReader(file: String, constCols: Array[String],
                                     constVals: Array[String], required: StructType,
                                     full: StructType, dvKeyCol: String,
                                     dvKeys: Array[Long],
                                     conf: org.apache.hadoop.conf.Configuration =
                                       new org.apache.hadoop.conf.Configuration())
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(file))
      .withConf(conf)
      .build()
  private var current: Group = _
  // Resolve per-field decode strategy ONCE per reader, not per row.
  private val getters: Array[Group => Any] = required.fields.map { f =>
    val ci = constCols.indexOf(f.name)
    if (ci >= 0) {
      val v = GroupRows.constant(constVals(ci), f)
      (_: Group) => v
    } else (g: Group) => GroupRows.value(g, f)
  }
  // Deletion-vector subtraction: the key is decoded from the FULL schema
  // (it may be projected out of `required`), so a pruned scan still never
  // serves a deleted row.
  private val dvSet: java.util.HashSet[java.lang.Long] =
    if (dvKeys.isEmpty) null
    else {
      val s = new java.util.HashSet[java.lang.Long](dvKeys.length * 2)
      dvKeys.foreach(k => s.add(k))
      s
    }
  private val dvGetter: Group => Long =
    if (dvSet == null) null
    else {
      val f = full.fields(full.fieldIndex(dvKeyCol))
      (g: Group) => GroupRows.value(g, f) match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case s: java.lang.Short => s.longValue()
        case b: java.lang.Byte => b.longValue()
        case other => throw new IllegalStateException(
          s"deletion-vector key $dvKeyCol decoded as non-integral $other")
      }
    }

  override def next(): Boolean = {
    current = reader.read()
    while (current != null && dvSet != null && dvSet.contains(dvGetter(current)))
      current = reader.read()
    current != null
  }
  override def get(): InternalRow =
    new GenericInternalRow(getters.map(_(current)))
  override def close(): Unit = reader.close()
}
