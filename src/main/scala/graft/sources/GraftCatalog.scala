package graft.sources

import graft.tables.Versioned
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL catalog over [[Versioned]] tables — the surface that makes the
  * store a first-class SQL citizen, no Scala API in sight:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.lake.warehouse", "/data/warehouse")
  *
  *   CREATE TABLE lake.ns.orders (o_orderkey BIGINT, ..., o_year INT)
  *     PARTITIONED BY (o_year) TBLPROPERTIES ('statskey' = 'o_orderkey')
  *   INSERT INTO lake.ns.orders SELECT ...
  *   DELETE FROM lake.ns.orders WHERE o_year = 1993
  *   SELECT * FROM lake.ns.orders VERSION AS OF 2
  *   SELECT * FROM lake.ns.orders TIMESTAMP AS OF '...'
  * }}}
  *
  * Identifier → path mapping is `warehouse/<namespace…>/<table>`; a
  * table EXISTS iff it has a committed version. CREATE commits an empty
  * v1 recording schema, partition column and stats columns; INSERT, CTAS
  * and the SQL row-level statements write through [[StagedWrite]], the
  * streaming sink's write (executors write parquet, the driver commits
  * ONE version);
  * DELETE maps Spark's pushed filters onto [[Versioned.deleteWhere]]
  * (partition-scoped rewrite, NULL-safe SQL semantics); time travel
  * resolves VERSION AS OF to a pinned manifest and TIMESTAMP AS OF via
  * manifest mtimes. Everything lands in the SAME manifests the Scala
  * API writes, so SQL and programmatic users interleave safely under
  * the store's CAS commit.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {
  private var catName: String = _
  private var warehouse: String = _

  override def name(): String = catName
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"GraftCatalog needs spark.sql.catalog.$name.warehouse"))
  }

  private def spark = SparkSession.active
  private def fsys = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sane(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("..") &&
      !part.startsWith("."), s"illegal identifier part: $part")
    part
  }
  private def pathOf(ident: Identifier): String =
    (warehouse +: (ident.namespace().toSeq :+ ident.name()).map(sane)).mkString("/")
  private def pathOf(ns: Seq[String]): String =
    (warehouse +: ns.map(sane)).mkString("/")

  /** The latest snapshot of `ident`'s table, if it has a committed version. */
  private def committed(ident: Identifier): Option[Versioned.Snapshot] =
    try Some(Versioned.snapshot(spark, pathOf(ident))).filter(_.version >= 1)
    catch { case _: Exception => None }

  override def tableExists(ident: Identifier): Boolean = committed(ident).isDefined

  override def loadTable(ident: Identifier): Table = new VersionedCatalogTable(
    committed(ident).getOrElse(throw new NoSuchTableException(ident)), pinned = false)
  override def loadTable(ident: Identifier, version: String): Table =
    loadPinned(ident)(_ => version.toInt)
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadPinned(ident)(Versioned.versionAsOf(spark, _, timestampMicros / 1000L))

  /** `ident`'s table at the version `at` names for its path: one stat of
    * that version's manifest; a failure on a missing table is NoSuchTable.
    */
  private def loadPinned(ident: Identifier)(at: String => Int): Table = {
    val p = pathOf(ident)
    try new VersionedCatalogTable(Versioned.snapshot(spark, p, at(p)), pinned = true)
    catch {
      case _: IllegalArgumentException if !tableExists(ident) =>
        throw new NoSuchTableException(ident)
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path(pathOf(namespace.toSeq))
    if (!fsys.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fsys.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => fsys.exists(new Path(dir, s"$n/_manifests")))
      .map(Identifier.of(namespace, _)).toArray
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val l = layoutOf(partitions, properties)
    Versioned.createEmpty(spark, pathOf(ident), schema, l.partCol, l.statsKey,
      l.statsKey2, l.statsCols)
    loadTable(ident)
  }

  /** The layout a CREATE declares: the identity partition columns as the
    * `#partcol` comma list (directories nest a=1/b=x, exactly Spark's own
    * layout) and the 'statskey', 'statskey2' and 'statscols' properties
    * ('statscols': a comma list of extra stat dimensions recorded per file
    * on every append, the Delta leading-columns convention).
    */
  private def layoutOf(partitions: Array[Transform],
                       properties: java.util.Map[String, String]): TableLayout = {
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog partitions by identity columns only, got $other")
    }
    TableLayout(if (partCols.isEmpty) None else Some(partCols.mkString(",")),
      Option(properties.get("statskey")), Option(properties.get("statskey2")),
      Option(properties.get("statscols"))
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty))
  }

  /** SQL `ALTER TABLE ADD / RENAME / DROP COLUMN`: pure-metadata commits
    * evolving the recorded schema — ADD appends nullable columns
    * ([[Versioned.addColumns]], NULL backfill on read), RENAME records
    * the former name in the column map so old files keep serving
    * ([[Versioned.renameColumn]]), DROP removes the column from the
    * schema leaving files untouched ([[Versioned.dropColumn]]). All give
    * per-version time-travel schemas; name reuse after a rename/drop is
    * refused (the tombstone contract). Anything else fails loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val path = pathOf(ident)
    def single(names: Array[String], what: String): String = {
      require(names.length == 1,
        s"nested $what ${names.mkString(".")} is not supported")
      names(0)
    }
    // ONE statement = ONE commit: a multi-change statement must not leave
    // earlier changes committed when a later one is refused. ADD COLUMNS
    // with several fields is Spark's one multi-change statement — batch it
    // into the single addColumns commit; any other combination is one
    // change per statement by the SQL grammar, refused here if not.
    changes.toSeq match {
      case adds if adds.nonEmpty && adds.forall(_.isInstanceOf[TableChange.AddColumn]) =>
        val fields = adds.map(_.asInstanceOf[TableChange.AddColumn]).map { a =>
          require(a.position() == null,
            "ADD COLUMN appends at the end; FIRST/AFTER are not supported")
          val f = org.apache.spark.sql.types.StructField(
            single(a.fieldNames(), "ADD COLUMN"), a.dataType(), a.isNullable())
          Option(a.comment()).map(f.withComment).getOrElse(f)
        }
        Versioned.addColumns(spark, path, fields)
      case Seq(r: TableChange.RenameColumn) =>
        Versioned.renameColumn(spark, path,
          single(r.fieldNames(), "RENAME COLUMN"), r.newName())
      case Seq(d: TableChange.DeleteColumn) =>
        Versioned.dropColumn(spark, path,
          single(d.fieldNames(), "DROP COLUMN"))
      case Seq(u: TableChange.UpdateColumnType) =>
        Versioned.widenColumnType(spark, path,
          single(u.fieldNames(), "ALTER COLUMN TYPE"), u.newDataType())
      case Seq(other) => throw new IllegalArgumentException(
        s"GraftCatalog ALTER TABLE supports ADD/RENAME/DROP COLUMN and " +
          s"ALTER COLUMN TYPE (widening) only, got $other")
      case mixed => throw new IllegalArgumentException(
        "GraftCatalog applies each ALTER TABLE statement as one atomic " +
          s"commit — ${mixed.length} heterogeneous changes in one statement " +
          "are not supported; issue separate statements")
    }
    loadTable(ident)
  }

  // ---- stored procedures (`CALL <cat>.<ns>.<proc>(...)`) ----
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(n => pathOf(Identifier.of(
      n.split('.').dropRight(1), n.split('.').last)), ident.name())
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(Identifier.of(namespace, _)).toArray

  // ---- atomic CTAS (`CREATE TABLE ... AS SELECT`) ----
  /** Nothing becomes visible until the SELECT's write commits: the staged
    * table's write creates the table (empty v1 with the declared layout
    * headers) and adopts the staged files as v2 in its own commit; an
    * aborted CTAS deletes the table directory it owned, leaving no trace.
    */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new StagedVersionedTable(pathOf(ident), schema, layoutOf(partitions, properties))
  }
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable =
    throw new UnsupportedOperationException(
      "REPLACE TABLE is not supported — versioned tables evolve by commit, not replacement")
  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable = {
    // OR REPLACE on an existing table would be a replacement — give the
    // store's actual position, not a misleading "already exists".
    if (tableExists(ident)) throw new UnsupportedOperationException(
      "REPLACE TABLE is not supported — versioned tables evolve by commit, not replacement")
    stageCreate(ident, schema, partitions, properties)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    if (!tableExists(ident)) false
    else fsys.delete(p, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    require(fsys.rename(new Path(pathOf(from)), new Path(pathOf(to))),
      s"rename $from -> $to failed")
  }

  // Namespaces are warehouse directories — enough for multi-part
  // identifiers; no properties are stored.
  override def listNamespaces(): Array[Array[String]] =
    if (!fsys.exists(new Path(warehouse))) Array.empty
    else fsys.listStatus(new Path(warehouse)).toSeq.filter(_.isDirectory)
      .filterNot(s => fsys.exists(new Path(s.getPath, "_manifests")))
      .map(s => Array(s.getPath.getName)).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fsys.exists(new Path(pathOf(namespace.toSeq)))
  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit =
    fsys.mkdirs(new Path(pathOf(namespace.toSeq)))
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties are not stored")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path(pathOf(namespace.toSeq))
    if (!fsys.exists(p)) false
    else {
      require(cascade || fsys.listStatus(p).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      fsys.delete(p, true)
    }
  }
}

/** Pushed-filter → Column translation for the catalog's DELETE path.
  * Only translations with EXACT SQL semantics are attempted — anything
  * else makes `canDeleteWhere` false and the DELETE fails loudly rather
  * than deleting the wrong rows.
  */
private[sources] object FilterColumns {
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toSeq.map(lit(_)): _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(g) => toColumn(g).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case StringStartsWith(c, v) => Some(col(c).startsWith(lit(v)))
    case StringEndsWith(c, v) => Some(col(c).endsWith(lit(v)))
    case StringContains(c, v) => Some(col(c).contains(lit(v)))
    case _ => None
  }
}

/** The declared layout of a catalog CREATE (see `GraftCatalog.layoutOf`). */
private[sources] final case class TableLayout(partCol: Option[String],
                                              statsKey: Option[String],
                                              statsKey2: Option[String],
                                              statsCols: Seq[String])

/** A catalog-resolved versioned table: reads plan through the same
  * pruned [[VersionedScanBuilder]] as the path-based connector. Every
  * write is a [[StagedWrite]] (staging → promote → commit, orphan rule
  * there): INSERT and `writeStream.toTable` adopt one APPEND version per
  * batch or epoch, and SQL MERGE INTO / UPDATE / rewriting DELETE
  * replace their scanned entries ([[VersionedRowLevelOperation]]). A
  * DELETE that pushes down maps its filters onto the store's
  * partition-scoped rewrite instead. A time-travelled instance
  * (`VERSION AS OF`) is read-only by construction — Spark resolves
  * writes against the un-pinned table.
  *
  * `loaded` is the snapshot the catalog loaded the table at; it answers
  * the schema. Every scan, write and delete builder takes its own
  * snapshot of the latest version, so a kept DataFrame executed again
  * after a commit reads the new version; a pinned table's builders plan
  * on `loaded` itself.
  */
final class VersionedCatalogTable(loaded: Versioned.Snapshot, pinned: Boolean)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations {
  private def spark = SparkSession.active
  private def path = loaded.path
  private def snapshot(): Versioned.Snapshot =
    if (pinned) loaded else Versioned.snapshot(spark, path)

  override def name(): String =
    s"graft_versioned($path${if (pinned) "@v" + loaded.version else ""})"
  override def schema(): StructType = loaded.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val s = snapshot()
    new VersionedScanBuilder(s, s.schema)
  }

  /** Batch INSERT and streaming `writeStream.toTable` share one builder:
    * partition column and stats key come from the table's OWN recorded
    * headers, so a SQL-first user streams into `cat.ns.tbl` without
    * knowing the path or the layout options the path-based sink needs.
    * Each micro-batch epoch commits as one tagged APPEND version — the
    * same exactly-once contract as [[VersionedSink]].
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned, "cannot write to a time-travelled table")
    val s = snapshot()
    val partCol = s.partCol.getOrElse(
      throw new IllegalArgumentException(
        s"$path records no partition column — writes need one (CREATE with PARTITIONED BY)"))
    new WriteBuilder {
      override def build(): Write =
        StagedWrite.append(path, info.schema(), partCol, s.meta.statsKey, info.queryId())
    }
  }

  /** SQL MERGE INTO / UPDATE / rewriting DELETE: the group-based
    * copy-on-write protocol — the operation's scan records exactly which
    * manifest entries it planned (after partition/stats/bloom pruning of
    * the pushed condition), Spark streams the affected groups' REPLACED
    * rows through the operation's write, and the commit swaps precisely
    * the scanned entries for the staged replacement under a CAS pinned
    * to the scanned version. Untouched files splice; a concurrent commit
    * between scan and replace fails loudly.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!pinned, "cannot modify a time-travelled table")
    () => new VersionedRowLevelOperation(path, info.command())
  }

  // Spark's bridge from a metadata-only DELETE's V2 predicates to filters
  // drops what it cannot translate (`k * 2 = 14 OR v = 90` arrives as
  // `v = 90`): accept only predicates of columns, literals and filter
  // operators, and leave the rest to the row-level rewrite DELETE.
  private def filterShaped(p: Predicate): Boolean = {
    val (refs, rest) = p.children().toSeq.partition(_.isInstanceOf[NamedReference])
    p.name() match {
      case "AND" | "OR" | "NOT" =>
        p.children().forall { case c: Predicate => filterShaped(c); case _ => false }
      case "ALWAYS_TRUE" | "ALWAYS_FALSE" => true
      case "=" | "<=>" | "<" | "<=" | ">" | ">=" | "IN" | "IS_NULL" | "IS_NOT_NULL" |
           "STARTS_WITH" | "ENDS_WITH" | "CONTAINS" =>
        refs.size == 1 && rest.forall(_.isInstanceOf[Literal[_]])
      case _ => false
    }
  }
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall(filterShaped) && super.canDeleteWhere(predicates)
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && filters.forall(FilterColumns.toColumn(_).isDefined) && {
      val s = snapshot()
      // mid-partition-evolution: the value-scoped delete would splice
      // wrongly — declining routes Spark to the row-level rewrite
      // DELETE, which splices by entry identity and is evolution-safe
      s.partCol.isDefined && s.uniformLayout
    }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!pinned, "cannot delete from a time-travelled table")
    val predicate = filters.flatMap(FilterColumns.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val partCol = snapshot().partCol.getOrElse(
      throw new IllegalArgumentException(s"$path records no partition column"))
    Versioned.deleteWhere(spark, path, predicate, partCol)
  }
}

/** The table a CTAS stages into: nothing on disk is a committed table
  * until the SELECT's [[StagedWrite]] commits ONE CTAS manifest, the
  * declared headers plus the promoted files (`Versioned.createAsSelect`;
  * a createEmpty-then-adoptStaged pair would leave a committed, visible,
  * EMPTY table if the JVM died between the two commits).
  * `commitStagedChanges` has nothing left to do, and an abort deletes the
  * owned directory, leaving no trace.
  */
final class StagedVersionedTable(path: String, schema0: StructType, layout: TableLayout)
    extends StagedTable with SupportsWrite {
  private val partCol = layout.partCol.getOrElse(throw new IllegalArgumentException(
    "GraftCatalog CTAS needs PARTITIONED BY column(s) (the store's layout unit)"))
  override def name(): String = s"graft_staged($path)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)
  // EVERY declared stats property lands in the CTAS commit — silently
  // dropping one would create the table without its stat dimensions.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new StagedWrite(path, info.schema(), partCol, info.queryId(), (spark, dd, _) =>
          Versioned.createAsSelect(spark, path, info.schema(), dd, layout.partCol,
            layout.statsKey, layout.statsKey2, layout.statsCols))
    }
  override def commitStagedChanges(): Unit = ()
  override def abortStagedChanges(): Unit = {
    val spark = SparkSession.active
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** One SQL row-level statement (MERGE INTO / UPDATE / rewriting DELETE):
  * the scan half takes the statement's snapshot and records the entry set
  * it planned; the write half, a [[StagedWrite]], commits that snapshot
  * minus the scanned entries plus the promoted dir
  * (`Versioned.replaceEntries`), CAS-pinned to the scanned version.
  */
final class VersionedRowLevelOperation(
    path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  @volatile private var base: Option[Versioned.Snapshot] = None
  @volatile private var scanned: Set[(String, String, Option[String])] = Set.empty

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val s = Versioned.snapshot(SparkSession.active, path)
    base = Some(s)
    new VersionedScanBuilder(s, s.schema, planListener = Some(es =>
      scanned = es.map(e => (e.partDir, e.dataDir, e.file)).toSet))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = base.filter(_.version >= 1).getOrElse(throw new IllegalStateException(
      "row-level write planned before its scan — unsupported plan shape"))
    val partCol = s.partCol.getOrElse(
      throw new IllegalArgumentException(
        s"$path records no partition column — row-level SQL needs one"))
    new WriteBuilder {
      override def build(): Write =
        new StagedWrite(path, info.schema(), partCol, info.queryId(), (spark, dd, _) =>
          Versioned.replaceEntries(spark, s, scanned, dd, cmd.toString))
    }
  }
}
