package graft.sources

import graft.tables.Versioned
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable MAINTENANCE surface over the versioned store — the DSv2
  * stored-procedure API (Spark 4's `CALL` statement, the public
  * Iceberg-procedures pattern): a warehouse operator lives in SQL, and
  * until now OPTIMIZE / Z-ORDER / VACUUM / RESTORE / DESCRIBE HISTORY /
  * `table_changes` existed only as Scala API.
  *
  * {{{
  *   CALL lake.sys.optimize(tbl => 'ns.orders', target_rows => 50000)
  *   CALL lake.sys.zorder('ns.orders', 'o_custkey', 8)
  *   CALL lake.sys.vacuum('ns.orders', 3, 0)
  *   CALL lake.sys.restore('ns.orders', 2)
  *   CALL lake.sys.history('ns.orders')
  *   CALL lake.sys.table_changes('ns.orders', 1, 5)
  * }}}
  *
  * Every procedure is driver metadata plus the underlying store op; the
  * ones that return rows hand Spark a [[LocalScan]] (history and
  * table_changes rows are metadata-/batch-sized by the store's
  * contracts). Table names resolve through the owning catalog's
  * identifier→path mapping, so SQL and Scala users address the same
  * tables.
  */
private[sources] object GraftProcedures {
  val names: Seq[String] =
    Seq("optimize", "zorder", "vacuum", "restore", "history", "table_changes",
      "evolve_partitioning", "repartition")

  def load(resolve: String => String, name: String): UnboundProcedure =
    name.toLowerCase match {
      case "optimize" => new OptimizeProc(resolve)
      case "zorder" => new ZOrderProc(resolve)
      case "vacuum" => new VacuumProc(resolve)
      case "restore" => new RestoreProc(resolve)
      case "history" => new HistoryProc(resolve)
      case "table_changes" => new TableChangesProc(resolve)
      case "evolve_partitioning" => new EvolvePartitioningProc(resolve)
      case "repartition" => new RepartitionProc(resolve)
      case other => throw new IllegalArgumentException(
        s"unknown procedure $other — available: ${names.mkString(", ")}")
    }

  private[sources] def str(s: String): UTF8String = UTF8String.fromString(s)

  /** In-memory result relation for a procedure's returned rows. */
  final case class RowsScan(schema: StructType, rs: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = rs
    override def readSchema(): StructType = schema
    override def description(): String = s"GraftProcedureResult(${schema.simpleString})"
  }

  private[sources] def one(schema: StructType, values: Any*): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(
      RowsScan(schema, Array(new GenericInternalRow(values.toArray))): Scan).iterator()

  private[sources] def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  /** (stats key, partition column) a file-stats rewrite `what` needs of `s`. */
  private[sources] def layoutOf(s: Versioned.Snapshot, what: String): (String, String) =
    (s.meta.statsKey.getOrElse(throw new IllegalArgumentException(
      s"${s.path} records no #statskey — $what needs file stats")),
     s.partCol.getOrElse(throw new IllegalArgumentException(
      s"${s.path} records no partition column")))
}

/** Base: a single class is both the unbound and bound form (binding has
  * nothing to specialize — parameters are fixed), the common pattern for
  * engine-side procedures.
  */
private[sources] abstract class GraftProc(resolve: String => String)
    extends UnboundProcedure with BoundProcedure {
  protected def spark: SparkSession = SparkSession.active
  protected def pathOf(table: String): String = resolve(table)
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
}

/** `CALL sys.optimize(tbl, target_rows)` — whole-table bin-packing
  * compaction ([[Versioned.optimizeTable]]); key and partition columns
  * come from the table's recorded headers. Returns the resulting version
  * (unchanged when nothing gains).
  */
final class OptimizeProc(resolve: String => String) extends GraftProc(resolve) {
  override def name(): String = "optimize"
  override def description(): String = "bin-pack small files toward target_rows per file"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType),
    GraftProcedures.in("target_rows", LongType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val path = pathOf(input.getUTF8String(0).toString)
    val (key, part) = GraftProcedures.layoutOf(Versioned.snapshot(spark, path), "optimize")
    val v = Versioned.optimizeTable(spark, path, key, part, input.getLong(1))
    GraftProcedures.one(StructType(Seq(StructField("version", IntegerType))), v)
  }
}

/** `CALL sys.zorder(tbl, by, files_per_part)` — Morton-curve rewrite on
  * (statskey, by) with per-file bounds for both ([[Versioned.optimizeZOrder]]).
  */
final class ZOrderProc(resolve: String => String) extends GraftProc(resolve) {
  override def name(): String = "zorder"
  override def description(): String = "rewrite clustered on the Morton interleave of (statskey, by)"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType),
    GraftProcedures.in("by", StringType),
    GraftProcedures.in("files_per_part", IntegerType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val path = pathOf(input.getUTF8String(0).toString)
    val (key, part) = GraftProcedures.layoutOf(Versioned.snapshot(spark, path), "zorder")
    val v = Versioned.optimizeZOrder(spark, path, key, part,
      input.getUTF8String(1).toString, input.getInt(2))
    GraftProcedures.one(StructType(Seq(StructField("version", IntegerType))), v)
  }
}

/** `CALL sys.vacuum(tbl, keep_last, retention_ms)` — retire all but the
  * newest `keep_last` versions ([[Versioned.vacuumKeepLast]]); the
  * retention window protects in-flight writers, 0 = eager single-writer
  * maintenance.
  */
final class VacuumProc(resolve: String => String) extends GraftProc(resolve) {
  override def name(): String = "vacuum"
  override def description(): String = "retire versions beyond the newest keep_last"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType),
    GraftProcedures.in("keep_last", IntegerType),
    GraftProcedures.in("retention_ms", LongType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val path = pathOf(input.getUTF8String(0).toString)
    Versioned.vacuumKeepLast(spark, path, input.getInt(1),
      retentionMs = input.getLong(2))
    GraftProcedures.one(StructType(Seq(StructField("latest", IntegerType))),
      Versioned.latestVersion(spark, path))
  }
}

/** `CALL sys.restore(tbl, version)` — roll the table forward to an old
  * snapshot as a NEW version ([[Versioned.restore]]); history is never
  * rewritten.
  */
final class RestoreProc(resolve: String => String) extends GraftProc(resolve) {
  override def name(): String = "restore"
  override def description(): String = "re-commit an old snapshot as the next version"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType),
    GraftProcedures.in("version", IntegerType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val path = pathOf(input.getUTF8String(0).toString)
    val v = Versioned.restore(spark, path, input.getInt(1))
    GraftProcedures.one(StructType(Seq(StructField("version", IntegerType))), v)
  }
}

/** `CALL sys.history(tbl)` — DESCRIBE HISTORY: one row per committed
  * version from manifest metadata alone ([[Versioned.history]]).
  */
final class HistoryProc(resolve: String => String) extends GraftProc(resolve) {
  override def name(): String = "history"
  override def description(): String = "one row per committed version (manifest metadata only)"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val df = Versioned.history(spark, pathOf(input.getUTF8String(0).toString))
    java.util.Collections.singletonList(GraftProcedures.RowsScan(df.schema,
      df.queryExecution.executedPlan.executeCollect()): Scan).iterator()
  }
}

/** `CALL sys.evolve_partitioning(tbl, partition_by)` — header-only
  * partition-spec change ([[Versioned.evolvePartitioning]]): new writes
  * lay out by the new spec immediately, old entries keep serving
  * through their own recorded structure; value-scoped DML refuses while
  * mixed, `CALL sys.repartition` normalizes.
  */
final class EvolvePartitioningProc(resolve: String => String)
    extends GraftProc(resolve) {
  override def name(): String = "evolve_partitioning"
  override def description(): String =
    "change the partition spec header-only; new writes use it immediately"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType),
    GraftProcedures.in("partition_by", StringType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val path = pathOf(input.getUTF8String(0).toString)
    val v = Versioned.evolvePartitioning(spark, path,
      input.getUTF8String(1).toString)
    GraftProcedures.one(StructType(Seq(StructField("version", IntegerType))), v)
  }
}

/** `CALL sys.repartition(tbl)` — rewrite the whole table into the
  * CURRENT partition spec ([[Versioned.repartitionTable]]): ends a
  * partition evolution's mixed state; content identical.
  */
final class RepartitionProc(resolve: String => String)
    extends GraftProc(resolve) {
  override def name(): String = "repartition"
  override def description(): String =
    "rewrite every file into the current partition spec"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val path = pathOf(input.getUTF8String(0).toString)
    val v = Versioned.repartitionTable(spark, path)
    GraftProcedures.one(StructType(Seq(StructField("version", IntegerType))), v)
  }
}

/** `CALL sys.table_changes(tbl, from_version, to_version)` — the Delta
  * `table_changes` TVF as a procedure: recorded change images of
  * (from, to] ([[Versioned.recordedChanges]]); batch-sized by the CDF
  * contract.
  */
final class TableChangesProc(resolve: String => String) extends GraftProc(resolve) {
  override def name(): String = "table_changes"
  override def description(): String = "recorded change images of versions (from, to]"
  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.in("tbl", StringType),
    GraftProcedures.in("from_version", IntegerType),
    GraftProcedures.in("to_version", IntegerType))
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val df = Versioned.recordedChanges(spark,
      pathOf(input.getUTF8String(0).toString), input.getInt(1), input.getInt(2))
    java.util.Collections.singletonList(GraftProcedures.RowsScan(df.schema,
      df.queryExecution.executedPlan.executeCollect()): Scan).iterator()
  }
}
