package graft.tables

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Raised when a concurrent writer claimed the version this writer was
  * about to publish (or the table advanced past `expectedLatest`).
  */
class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** Raised when a write would violate a table CHECK constraint. */
class ConstraintViolationException(msg: String) extends RuntimeException(msg)

/** Per-file key Bloom filter carried in the manifest next to the min/max
  * range — the point-lookup complement to range stats (the public idea
  * behind Delta's Bloom-filter index / Iceberg's puffin sidecars): a
  * file whose [kmin, kmax] RANGE covers a probed key may still not
  * contain it (sparse key spaces, overlapping ranges after merges), and
  * the Bloom's no-false-negative guarantee makes skipping on a negative
  * probe SOUND — a miss can only cost an extra read, never a lost row.
  *
  * Fixed 4096 bits / 3 probes per key (double hashing off a splitmix64
  * finalizer — Steele et al., "Fast Splittable Pseudorandom Number
  * Generators", the public mixing constants): ~2% false positives at
  * 1k keys/file. A filter past half-full carries little signal and only
  * bloats the manifest, so it serializes as [[Saturated]] and readers
  * fall back to range-only pruning. At 100 TB (10^5+ files, larger
  * manifests) the production move is Delta's: the same bitsets in a
  * sidecar keyed by file, manifest carrying only the pointer.
  */
private[graft] object KeyBloom {
  val NumBits = 4096
  val NumBytes: Int = NumBits / 8
  val NumProbes = 3
  /** Serialized form of "filter too dense to help" — readers treat it
    * (and any absent bloom) as possibly-contains. */
  val Saturated = "-"

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def add(buf: Array[Byte], key: Long): Unit = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5DEECE66DL) | 1L
    var i = 0
    while (i < NumProbes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, NumBits).toInt
      buf(bit >>> 3) = (buf(bit >>> 3) | (1 << (bit & 7))).toByte
      i += 1
    }
  }

  def mightContain(buf: Array[Byte], key: Long): Boolean = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5DEECE66DL) | 1L
    var i = 0
    while (i < NumProbes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, NumBits).toInt
      if ((buf(bit >>> 3) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  def toHex(buf: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(buf.length * 2)
    buf.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  def fromHex(hex: String): Array[Byte] = {
    require(hex.length == NumBytes * 2, s"bloom hex of length ${hex.length}")
    Array.tabulate(NumBytes)(i =>
      Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte)
  }

  /** Hex form, or [[Saturated]] when more than half the bits are set. */
  def serialize(buf: Array[Byte]): String = {
    var pop = 0
    buf.foreach(b => pop += Integer.bitCount(b & 0xff))
    if (pop > NumBits / 2) Saturated else toHex(buf)
  }
}

/** Builds one [[KeyBloom]] bitset per group — used per output FILE in
  * `fileStatsOf`'s single stats scan. Merge is a bitwise OR, so the
  * aggregation is map-side combinable like any other.
  */
private[graft] class KeyBloomAgg
    extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Byte], String] {
  import org.apache.spark.sql.{Encoder, Encoders}
  def zero: Array[Byte] = new Array[Byte](KeyBloom.NumBytes)
  def reduce(b: Array[Byte], key: Long): Array[Byte] = { KeyBloom.add(b, key); b }
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }
  def finish(b: Array[Byte]): String = KeyBloom.serialize(b)
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[String] = Encoders.STRING
}

/** Ordered-Long SURROGATE encoding of file-stats keys — what lets the
  * manifest's per-file [kmin, kmax] Longs carry stats for STRING and
  * DATE keys, not just integral ones (the Delta/Iceberg truncated
  * string-stats convention re-derived):
  *
  *  - integral: the value itself (back-compatible with every existing
  *    manifest);
  *  - date: days since epoch — exact and order-isomorphic;
  *  - string: the first 8 UTF-8 bytes, big-endian, zero-padded, mapped
  *    from unsigned to signed Long order (top bit flip). The encoding is
  *    MONOTONE wrt Spark's binary UTF8String order (s1 ≤ s2 ⇒ enc(s1) ≤
  *    enc(s2)), so `k ∈ [min, max] ⇒ enc(k) ∈ [enc(min), enc(max)]` — a
  *    range probe on encodings over-selects on shared 8-byte prefixes
  *    but never skips a file that holds the key. The per-file Bloom
  *    filter hashes the FULL string (FNV-1a 64, public constants), so
  *    point probes stay sharp where the truncated range is blunt.
  *
  * Membership itself is always decided by real key equality in the merge
  * joins — encodings only PRUNE, so truncation can cost a read, never a
  * row.
  */
private[graft] object KeyEnc {
  import org.apache.spark.sql.types._

  val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
  def supported(dt: DataType): Boolean =
    Integral.contains(dt) || dt == StringType || dt == DateType

  def encodeString(s: String): Long = {
    val b = s.getBytes("UTF-8")
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L); i += 1 }
    v ^ Long.MinValue
  }

  /** Full-string hash for the Bloom filter (FNV-1a 64). */
  def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes("UTF-8")
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** (range-encoding, bloom-key) of one collected key value. */
  def probeOf(v: Any): (Long, Long) = v match {
    case l: java.lang.Long => (l.longValue(), l.longValue())
    case i: java.lang.Integer => (i.longValue(), i.longValue())
    case s: java.lang.Short => (s.longValue(), s.longValue())
    case b: java.lang.Byte => (b.longValue(), b.longValue())
    case s: String => (encodeString(s), hashString(s))
    case d: java.sql.Date => val e = d.toLocalDate.toEpochDay; (e, e)
    case d: java.time.LocalDate => val e = d.toEpochDay; (e, e)
    case other => throw new IllegalArgumentException(
      s"unsupported file-stats key value $other (${other.getClass.getName})")
  }
}

/** Versioned lakehouse store over plain parquet — snapshots, scoped
  * MERGE, time travel, and vacuum, built only on the public Spark
  * surface plus the Hadoop FileSystem API (no table-format dependency).
  *
  * Layout (everything under `tablePath`):
  * {{{
  *   d_<uuid>/                immutable data dirs; partitioned tables hold
  *                            Spark-written `<col>=<escaped>` subdirs,
  *                            nested one level per partition column
  *   _manifests/<N>.txt       one manifest per version; the EXCLUSIVE
  *                            CREATE of this file is the commit point
  * }}}
  *
  * A manifest line is `<partDir>\t<dataDir>` (partDir `-` for an
  * unpartitioned snapshot) and the last line is a `#commit` terminator:
  * a manifest without the terminator is an uncommitted claim (a crashed
  * or in-flight writer) and is never served. `latestVersion` is the max
  * committed manifest — there is no separate pointer file to keep in
  * sync, so a crash between any two steps leaves the table readable at
  * the previous version.
  *
  * TABLE METADATA: a manifest opens with `#`-prefixed header lines,
  * parsed once per version into a [[Versioned.TableMeta]]. TABLE headers
  * carry into every later version unless the committing operation
  * changes them: `#schema`, `#statskey`, `#statskey2`, `#statscols`,
  * `#partcol` and `#constraint` from the operation's base version,
  * `#colmap` and `#coldropped` (column mapping) from the latest one.
  * COMMIT headers describe their own commit only: `#tag`, `#changes`,
  * `#op`, and the entry-encoding lines `#entriesfile`, `#base` and `#rm`.
  *
  * DELTA COMMITS + CHECKPOINTS (the public Delta-log design: JSON delta
  * actions per commit, a periodic full checkpoint, `_last_checkpoint`
  * resolution — re-derived on the manifest store): a commit whose entry
  * delta against the PREVIOUS version is smaller than the full list
  * writes only `#base\t<prev>\t<depth>` + `#rm\t<entry>` removal lines +
  * the added entries; readers resolve base-then-apply, recursively, so
  * commit bytes and commit parse cost are ∝ CHANGED entries, not ∝
  * table. Every [[MaxChainDepth]]-th commit (and any commit whose delta
  * would not be smaller) writes the FULL entry list — the checkpoint
  * that bounds resolution to ≤ MaxChainDepth small reads however long
  * the table's history grows. At 10^6 files this is the difference
  * between ~100 MB of driver manifest I/O per merge and a few KB.
  * Vacuum keeps every manifest in a retained version's resolution chain
  * (the Delta log-retention analog: a chain-retained manifest may
  * outlive its own data dirs — reading such a version fails at data
  * time, exactly like Delta time travel past the data retention).
  *
  * Why this shape (the Delta/Iceberg argument, minimally):
  *  - data files are IMMUTABLE — no in-place partition rewrite, no
  *    directory deletion on merge, so a reader holding version N keeps a
  *    consistent listing while N+1 publishes;
  *  - the commit is ONE exclusive file create (atomic namespace create on
  *    HDFS-like stores; NIO CREATE_NEW / O_EXCL on local filesystems —
  *    see `exclusiveCreate`), so two writers racing to claim the same
  *    version NUMBER conflict deterministically: exactly one wins, the
  *    loser gets [[ConcurrentWriteException]] and its orphan data dir is
  *    removed. The number CAS alone does not protect the BASE a writer's
  *    entries were derived from — two writers that both read v1 could
  *    commit v2 and v3 with v3 silently discarding v2's changes — so
  *    [[merge]]/[[compactFiles]] additionally pin
  *    `expectedLatest` to the base version they actually read whenever
  *    the caller did not explicitly branch (`fromVersion`): the second
  *    writer's commit then fails loudly instead of losing the first's
  *    update. Callers that DO pass `fromVersion` opt into branching and
  *    own the reconciliation (the q210 pattern: every invocation branches
  *    from the pinned v1). After the manifest is written the commit
  *    re-reads it and verifies its own bytes — a live writer whose claim
  *    was reclaimed by another (a >StaleClaimMs stall between claim and
  *    close leaves its body on an unlinked inode) detects the loss and
  *    raises instead of reporting a commit that the table never serves.
  *    An optional `#tag` manifest line gives streaming writers replay
  *    idempotence (the Delta txn-id pattern);
  *  - a MERGE rewrites only the rows of the entries it replaces, plus its
  *    moved and inserted rows, into a NEW data dir and splices every other
  *    entry from the base manifest — an emptied partition simply has no
  *    entry in the new manifest, which kills the escaped-directory-deletion
  *    class of bugs entirely;
  *  - `vacuum` deletes manifests outside the retained set and any data
  *    dir no retained manifest references — never a dir a kept version
  *    still shares, and never a claim or an unreferenced dir younger
  *    than the retention window (the Delta VACUUM-retention convention):
  *    an in-flight writer's freshly written, not-yet-committed data dir
  *    is unreferenced by every manifest, so an age grace is what makes
  *    vacuum safe to run concurrently with writers.
  *
  * Reference analog: the reduce-side "latest value wins" merge is the
  * classic MapReduce pattern (reference MapReduceClient.h:64); the
  * version/manifest mechanics are the public Delta/Iceberg design
  * re-derived at partition granularity.
  */
object Versioned {

  /** Partition-column types whose `String.valueOf` rendering matches the
    * directory name Spark's partitioned writer produces. Dates, floats and
    * decimals render format-dependently — callers partition by those at
    * their own peril, so we refuse them loudly.
    */
  private val partitionableTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(ByteType, ShortType, IntegerType, LongType, StringType, BooleanType)
  }

  /** Refuse a partition spec with a column `schema` lacks or whose type is
    * outside [[partitionableTypes]], naming the column: the one check
    * every partitioned writer runs before any job starts.
    */
  private[graft] def requirePartitionable(schema: org.apache.spark.sql.types.StructType,
                                          partCol: String): Unit =
    partColsOf(partCol).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partition column $c not in ${schema.fieldNames.mkString(",")}")
      require(partitionableTypes.contains(schema(c).dataType),
        s"partition column $c: type ${schema(c).dataType} renders format-dependent " +
          "directory names; use byte/short/int/long/string/boolean")
    }

  private def fs(spark: SparkSession, tablePath: String): (FileSystem, Path) = {
    val p = new Path(tablePath)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Plan-receipt hook: with GRAFT_PLAN_DUMP=<dir> set, the DML operators
    * write the formatted physical plan of each internal DataFrame they
    * execute (discovery scan, rewrite, …) to numbered files there — the
    * audit artifact for optimization rounds (a DML operator's cost lives
    * in these imperative-path plans, which the query-level `.explain` of
    * the declared query never shows). Zero cost when unset.
    */
  private val planDumpDir: Option[String] = sys.env.get("GRAFT_PLAN_DUMP")
  private val planDumpSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def dumpPlan(tag: String, df: DataFrame): Unit =
    planDumpDir.foreach { d =>
      val n = planDumpSeq.incrementAndGet()
      val p = java.nio.file.Paths.get(d, f"$n%03d_$tag.txt")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  private def manifestDir(table: Path) = new Path(table, "_manifests")
  private def manifestPath(table: Path, v: Int) = new Path(manifestDir(table), s"$v.txt")

  private val Terminator = "#commit"
  /** Longest `#base` resolution chain a delta commit may extend: the
    * commit that would make the chain longer writes a full entry list (a
    * checkpoint) instead, so resolving any version reads at most this
    * many manifest files regardless of history length.
    */
  private[graft] val MaxChainDepth = 16
  /** An uncommitted manifest older than this is a crashed writer's claim
    * and may be reclaimed by the next writer.
    */
  private val StaleClaimMs = 60000L
  /** Default [[vacuum]] retention: claims and unreferenced data dirs
    * younger than this survive a vacuum — they may belong to an in-flight
    * writer that has not yet committed.
    */
  val DefaultRetentionMs: Long = StaleClaimMs

  /** Test seam: runs between the commit's exclusive claim and its body
    * write — specs inject a concurrent reclaim here to prove the
    * read-back verification detects a stolen claim. Never set outside
    * tests.
    */
  @volatile private[graft] var postClaimHookForTests: Option[() => Unit] = None

  /** Test seam: runs at commit entry, BEFORE the latest-version check —
    * specs inject a competing commit here to prove the base-version pin
    * (`expectedLatest` defaulting) rejects a lost update. Never set
    * outside tests.
    */
  @volatile private[graft] var preCommitHookForTests: Option[() => Unit] = None

  /** One manifest entry. Partition-granular entries name a partition dir;
    * file-granular entries (from `publish(fileStatsKey = …)` and every
    * rewrite of such a base) additionally name one parquet file inside it
    * plus the file's min/max of the merge key — the footer-stats surrogate a
    * file-skipping MERGE prunes with — and (since r14) the file's row
    * count, which drives [[optimizeTable]]'s bin packing, plus (r15) the
    * file's byte size, which serves `estimateStatistics` from metadata
    * instead of one FileStatus RPC per file per planning pass. Entries
    * parsed from pre-r14 manifests lack the count (5-field form); every
    * optional field from nrows on serializes positionally with "-"
    * padding, so a legacy entry that GAINS a tail field (a deletion
    * vector on a pre-nrows file) keeps it addressable instead of
    * silently dropping it. The DSv2 connector and the table-tail source
    * plan over these entries directly.
    */
  private[graft] case class Entry(partDir: String, dataDir: String,
                           file: Option[String] = None,
                           kmin: Option[Long] = None,
                           kmax: Option[Long] = None,
                           nrows: Option[Long] = None,
                           bloom: Option[String] = None,
                           dv: Option[String] = None,
                           k2min: Option[Long] = None,
                           k2max: Option[Long] = None,
                           fsize: Option[Long] = None,
                           xstats: Option[String] = None) {
    // Optional tail fields serialize positionally with "-" padding,
    // trimmed after the last defined one so existing manifests stay
    // byte-stable. Note bloom's absent form IS KeyBloom.Saturated ("-"):
    // absent and saturated read identically (possibly-contains).
    // `xstats` (r16) holds N EXTRA stat dimensions as `lo:hi` surrogate
    // pairs, comma-joined, ordered by the `#statscols` header — the
    // Delta collect-stats-on-leading-columns convention beyond the two
    // first-class key columns.
    def serialized: String = file match {
      case Some(f) =>
        val slots = Seq(
          nrows.map(_.toString).getOrElse("-"),
          bloom.getOrElse(KeyBloom.Saturated),
          dv.getOrElse("-"),
          k2min.map(_.toString).getOrElse("-"),
          k2max.map(_.toString).getOrElse("-"),
          fsize.map(_.toString).getOrElse("-"),
          xstats.getOrElse("-"))
        val keep = slots.lastIndexWhere(_ != "-") + 1
        s"$partDir\t$dataDir\t$f\t${kmin.get}\t${kmax.get}" +
          slots.take(keep).map("\t" + _).mkString
      case _ => s"$partDir\t$dataDir"
    }
  }

  private def parseEntry(l: String): Entry = {
    val f = l.split("\t", -1)
    def longAt(i: Int): Option[Long] =
      if (f.length > i && f(i) != "-") Some(f(i).toLong) else None
    if (f.length >= 5) Entry(f(0), f(1), Some(f(2)), Some(f(3).toLong),
      Some(f(4).toLong), longAt(5),
      if (f.length > 6) Some(f(6)).filter(_ != KeyBloom.Saturated) else None,
      if (f.length > 7) Some(f(7)).filter(_ != "-") else None,
      longAt(8), longAt(9), longAt(10),
      if (f.length > 11) Some(f(11)).filter(_ != "-") else None)
    else Entry(f(0), f(1))
  }

  /** Table metadata of one committed version: its manifest's leading `#`
    * header block, parsed once per manifest observation (the manifest
    * memo, see [[observe]]). The `TABLE` fields — schema, stats dimensions, partition
    * spec, constraints, column mapping — describe the table and carry into
    * later versions: a commit starts from its base version's meta and
    * states only what it changes. The `COMMIT` fields — `tag`, `changesDir`,
    * `op` and the entry-encoding pointers `entriesFile` / `base` — describe
    * one commit only; [[commit]] sets them on every write.
    *
    * [[header]] is the one writer of these header lines. Serialization is
    * byte-stable: `TableMeta.parse(block).header` reproduces every line of
    * the block except the `#rm` entry removals (which commit writes right
    * after `#base`) and a sidecar manifest's `#commit` terminator.
    * `#entriesfile` and `#base` never coexist: a sidecar only ever holds a
    * full checkpoint. Pre-header manifests parse with the defaults (no
    * schema, op "WRITE").
    */
  private[graft] case class TableMeta(
      // TABLE
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      statsKey: Option[String] = None,
      statsKey2: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      partCol: Option[String] = None,
      constraints: Seq[(String, String)] = Seq.empty,
      colMap: Map[String, Seq[String]] = Map.empty,
      droppedCols: Set[String] = Set.empty,
      // COMMIT
      tag: Option[String] = None,
      changesDir: Option[String] = None,
      op: String = "WRITE",
      entriesFile: Option[String] = None,
      base: Option[(Int, Int)] = None) { // delta commit: (base version, chain depth)

    def header: String =
      tag.map(t => s"#tag\t$t\n").getOrElse("") +
        schema.map(s => s"#schema\t${s.json}\n").getOrElse("") +
        changesDir.map(d => s"#changes\t$d\n").getOrElse("") +
        statsKey.map(k => s"#statskey\t$k\n").getOrElse("") +
        statsKey2.map(k => s"#statskey2\t$k\n").getOrElse("") +
        (if (statsCols.isEmpty) "" else s"#statscols\t${statsCols.mkString(",")}\n") +
        partCol.map(c => s"#partcol\t$c\n").getOrElse("") +
        colMap.toSeq.sortBy(_._1)
          .map { case (l, as) => s"#colmap\t$l\t${as.mkString(",")}\n" }.mkString +
        droppedCols.toSeq.sorted.map(n => s"#coldropped\t$n\n").mkString +
        constraints.map { case (n, e) => s"#constraint\t$n\t$e\n" }.mkString +
        s"#op\t$op\n" +
        entriesFile.map(n => s"#entriesfile\t$n\n").getOrElse("") +
        base.map { case (b, d) => s"#base\t$b\t$d\n" }.getOrElse("")
  }

  private[graft] object TableMeta {
    def parse(block: Seq[String]): TableMeta = {
      def values(prefix: String): Seq[String] =
        block.collect { case l if l.startsWith(prefix) => l.substring(prefix.length) }
      def value(prefix: String): Option[String] = values(prefix).headOption
      TableMeta(
        schema = value("#schema\t").map(j => org.apache.spark.sql.types.DataType
          .fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType]),
        statsKey = value("#statskey\t"),
        statsKey2 = value("#statskey2\t"),
        statsCols = value("#statscols\t").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        partCol = value("#partcol\t"),
        constraints = values("#constraint\t").map { l =>
          val c = l.split("\t", 2)
          (c(0), c(1))
        },
        colMap = values("#colmap\t").map { l =>
          val p = l.split("\t", 2)
          p(0) -> p(1).split(",").toSeq.filter(_.nonEmpty)
        }.toMap,
        droppedCols = values("#coldropped\t").toSet,
        tag = value("#tag\t"),
        changesDir = value("#changes\t"),
        op = value("#op\t").getOrElse("WRITE"),
        entriesFile = value("#entriesfile\t"),
        base = value("#base\t").map { l =>
          val f = l.split("\t")
          (f(0).toInt, f(1).toInt)
        })
    }
  }

  /** Parse an `xstats` slot into per-dimension surrogate bounds plus the
    * dimension's NULL count: `lo:hi[:n]` triples comma-joined. An empty
    * bound side = that file holds only NULLs in the dimension (no bound —
    * never range-prune on it); a missing third component (pre-r17
    * entries) = null count unknown (never null-prune on it). The null
    * count drives `IS NULL` skipping (n = 0 → no row matches) and
    * `IS NOT NULL` skipping (n = rows → no row matches).
    */
  private[graft] def parseXStats(x: String)
      : Array[(Option[Long], Option[Long], Option[Long])] =
    x.split(",", -1).map { p =>
      val c = p.split(":", -1)
      (c.lift(0).filter(_.nonEmpty).map(_.toLong),
       c.lift(1).filter(_.nonEmpty).map(_.toLong),
       c.lift(2).filter(_.nonEmpty).map(_.toLong))
    }

  /** A full checkpoint with at least this many entries writes a parquet
    * SIDECAR instead of text lines (the Delta checkpoint-file design).
    * `var` as a test seam — specs lower it to force tiny checkpoints.
    */
  private[graft] var ParquetCheckpointMinEntries = 512

  private lazy val EntriesFileType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
    Types.buildMessage().addField(
      Types.required(BINARY).as(LogicalTypeAnnotation.stringType()).named("l"))
      .named("graft_manifest_entries")
  }

  /** Stream a checkpoint's entries into a compressed parquet sidecar —
    * one SERIALIZED LINE per row, so parse↔serialize byte-stability (the
    * identity the `#rm` delta lines rely on) is untouched, and the
    * heavily repeated partDir/dataDir prefixes dictionary-compress. The
    * driver never holds an O(table) string.
    */
  private def writeEntriesFile(fsys: FileSystem, p: Path, es: Seq[Entry]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    val factory = new SimpleGroupFactory(EntriesFileType)
    val w = ExampleParquetWriter.builder(p).withConf(fsys.getConf)
      .withType(EntriesFileType)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try es.foreach { e =>
      val g = factory.newGroup()
      g.append("l", Binary.fromString(e.serialized))
      w.write(g)
    } finally w.close()
  }

  private def readEntriesFile(fsys: FileSystem, p: Path): Seq[Entry] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    require(fsys.exists(p), s"checkpoint sidecar $p does not exist (or was vacuumed)")
    val r = ParquetReader.builder(new GroupReadSupport(), p)
      .withConf(fsys.getConf).build()
    val buf = scala.collection.mutable.ListBuffer.empty[Entry]
    try {
      var g = r.read()
      while (g != null) { buf += parseEntry(g.getString("l", 0)); g = r.read() }
    } finally r.close()
    buf.toList
  }

  /** Entries of committed version `v` ([[manifestAt]], one stat). */
  private def readManifest(fsys: FileSystem, table: Path, v: Int): Seq[Entry] =
    entriesOf(fsys, table, manifestAt(fsys, table, v))

  /** Entries of `m`, resolved once per observation and kept on it:
    * `#base` delta chains resolve base-minus-removed-plus-added — a delta
    * manifest holds its base version, `#rm` removal lines (the removed
    * entry's exact serialized form; parse↔serialize is byte-stable, so
    * identity by string is exact) and its added entries — recursively,
    * ≤ [[MaxChainDepth]] reads by the checkpoint rule.
    */
  private def entriesOf(fsys: FileSystem, table: Path, m: Manifest): Seq[Entry] = {
    if (m.resolved == null) {
      val kept = m.body
      val body = if (kept != null) kept else manifestBody(fsys, table, m.v)
      val textOwn = body.filterNot(_.startsWith("#")).map(parseEntry)
      // Parquet-checkpoint manifests hold their entries in a sidecar
      // (`#entriesfile` header) — the text body is headers only.
      val own = m.meta.entriesFile match {
        case Some(n) => readEntriesFile(fsys, new Path(manifestDir(table), n)) ++ textOwn
        case None => textOwn
      }
      m.resolved = m.meta.base match {
        case None => own
        case Some((bv, _)) =>
          val removed = body.filter(_.startsWith("#rm\t"))
            .map(_.substring("#rm\t".length)).toSet
          readManifest(fsys, table, bv).filterNot(e => removed(e.serialized)) ++ own
      }
      m.body = null
      weigh(m.resolved.size)
    }
    m.resolved
  }

  private def bodyLines(text: String): Seq[String] =
    text.split("\n", -1).toSeq.map(_.stripSuffix("\r")).filter(_.nonEmpty)

  /** Raw committed manifest lines of `v` minus the terminator. */
  private def manifestBody(fsys: FileSystem, table: Path, v: Int): Seq[String] = {
    val in = try Some(fsys.open(manifestPath(table, v)))
      catch { case _: java.io.FileNotFoundException => None }
    require(in.isDefined, s"version $v does not exist (or was vacuumed) at $table")
    val text = try new String(in.get.readAllBytes(), "UTF-8") finally in.get.close()
    val lines = bodyLines(text)
    require(lines.lastOption.contains(Terminator),
      s"version $v at $table is not committed (writer crashed mid-publish?)")
    lines.dropRight(1)
  }

  /** Present `df` in `schema`'s shape: columns the files predate become
    * NULL (the add-column-with-NULL-backfill contract), order follows the
    * schema, and types are pinned (partition-directory inference could
    * otherwise drift a path-encoded column's type).
    */
  private def alignTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    val withAll = schema.fields.filterNot(f => have.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    withAll.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Rows read from a version's files, presented as that version (`meta`)
    * serves them. Column mapping: a renamed column's bytes live under its
    * FORMER name in pre-rename files — each mapped logical column resolves
    * to the first populated alias (per row exactly one alias can be
    * populated: name reuse is refused, so no file carries two). Only
    * mappings whose LOGICAL name is in the version's schema apply: a
    * branch-merge (`fromVersion`) from a pre-rename base records the OLD
    * schema while the inherited map still carries the rename — applying
    * it would drop the old-name column the schema projects. Then schema
    * alignment: entries spliced from pre-evolution versions lack
    * later-added columns — they read as NULL (and time travel to an old
    * version serves the OLD schema, however evolved the files around it
    * are); dropped columns fall away, the projection is exactly the
    * schema's fields.
    */
  private def asOf(raw: DataFrame, meta: TableMeta): DataFrame = {
    val mapped = applyColMap(raw, meta.colMap
      .filter { case (l, _) => meta.schema.forall(_.fieldNames.contains(l)) })
    meta.schema.map(alignTo(mapped, _)).getOrElse(mapped)
  }

  // THE MANIFEST MEMO. A manifest is never rewritten in place (the
  // exclusive create is the commit; vacuum only unlinks), so what one
  // OBSERVATION of it says — its exact (path, length, mtime) — can be kept
  // process-wide: the committed verdict (the `#commit` tail), the parsed
  // header block and, once asked for, the resolved entry list. A
  // deleted-and-recreated path presents a new observation and misses.
  // Observations come from the one listing of `_manifests/` (every version
  // walk) or from one stat of a bare version (a pinned snapshot), so a
  // memo hit costs no further filesystem call. Only committed observations
  // are kept: an in-flight claim is committed moments later, so it is
  // re-read until then. A read of a committed manifest whose entries are
  // asked for next (`keep`: a walk's newest, a pinned version) also keeps
  // its lines until its entries are resolved from them, then drops them;
  // a walk further down reads headers only and keeps none.
  // One bound, on weight — one per manifest plus its kept lines and its
  // resolved entries, since a delta chain keeps every base version's full
  // list — clears the memo wholesale once crossed; weight counted for an
  // observation an invalidation already dropped only clears it earlier.
  private final class Manifest(val v: Int, val mtime: Long, val meta: TableMeta,
                               val committed: Boolean) {
    @volatile var body: Seq[String] = _
    @volatile var resolved: Seq[Entry] = _
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Manifest]()
  private val MemoMaxWeight = 2000000L
  private val memoWeight = new java.util.concurrent.atomic.AtomicLong(0)

  private def weigh(n: Long): Unit =
    if (memoWeight.addAndGet(n) > MemoMaxWeight) { memo.clear(); memoWeight.set(0) }

  /** Version `v`'s manifest as `st` observed it: the memo's, else one read
    * of the file for its header block and its `#commit` tail, keeping its
    * lines iff `keep`.
    */
  private def observe(fsys: FileSystem, v: Int, st: FileStatus, keep: Boolean): Manifest = {
    val key = s"${st.getPath}#${st.getLen}#${st.getModificationTime}"
    val hit = memo.get(key)
    if (hit != null) return hit
    val m = if (st.getLen == 0) new Manifest(v, st.getModificationTime, TableMeta(), false)
    else {
      val in = fsys.open(st.getPath)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val m = new Manifest(v, st.getModificationTime,
        TableMeta.parse(text.linesIterator.takeWhile(_.startsWith("#")).toList),
        text.endsWith(Terminator + "\n"))
      if (m.committed && keep) m.body = bodyLines(text).dropRight(1)
      m
    }
    if (m.committed) {
      val weight = 1 + (if (m.body == null) 0 else m.body.size)
      if (memo.putIfAbsent(key, m) == null) weigh(weight)
    }
    m
  }

  /** The one listing of `_manifests/`: each numbered manifest's status in
    * version order, and the other files there (checkpoint sidecars). A
    * missing dir is an empty table.
    */
  private final case class Listing(versions: IndexedSeq[(Int, FileStatus)],
                                   others: Seq[FileStatus])

  private def listing(fsys: FileSystem, table: Path): Listing = {
    val all = try fsys.listStatus(manifestDir(table)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val (numbered, others) = all.map(st =>
      (st.getPath.getName.stripSuffix(".txt").toIntOption, st)).partition(_._1.isDefined)
    Listing(numbered.map { case (v, st) => (v.get, st) }.sortBy(_._1).toIndexedSeq,
      others.map(_._2))
  }

  /** The committed manifests of `ls`, newest first, observed lazily: a
    * walk that stops early reads no older manifest. Only the newest keeps
    * its lines: an operation resolves its entries next.
    */
  private def committedDown(fsys: FileSystem, ls: Listing): Iterator[Manifest] = {
    var newest = true
    ls.versions.reverseIterator.map { case (v, st) =>
      val m = observe(fsys, v, st, keep = newest)
      newest &&= !m.committed
      m
    }.filter(_.committed)
  }

  /** The latest committed manifest, or version 0's: an empty header and no
    * entries to read.
    */
  private def head(fsys: FileSystem, ls: Listing): Manifest =
    committedDown(fsys, ls).nextOption().getOrElse(new Manifest(0, 0L, TableMeta(), false))

  private def latestOf(fsys: FileSystem, table: Path): Manifest = head(fsys, listing(fsys, table))

  /** Version `v`'s manifest status; a missing manifest fails, saying so. */
  private def statusOf(fsys: FileSystem, table: Path, v: Int): FileStatus = {
    val st = try Some(fsys.getFileStatus(manifestPath(table, v)))
      catch { case _: java.io.FileNotFoundException => None }
    require(st.isDefined, s"version $v does not exist (or was vacuumed) at $table")
    st.get
  }

  /** Committed version `v`'s manifest, from one stat. */
  private def manifestAt(fsys: FileSystem, table: Path, v: Int): Manifest = {
    val m = observe(fsys, v, statusOf(fsys, table, v), keep = true)
    require(m.committed, s"version $v at $table is not committed (writer crashed mid-publish?)")
    m
  }

  /** One read of a table: the version an operation plans, reads and
    * commits against, its [[TableMeta]] and its resolved entries (read
    * from the memo when first asked for), plus the answers derived from
    * them. A snapshot is PER OPERATION: each entry point — a DSv2 scan,
    * write or delete builder, a stream's schema, a CALL procedure, a
    * Sinks probe — takes exactly one and passes it down, and none is kept
    * across entry points. So a kept DataFrame executed again after a
    * commit plans on a new snapshot and reads the new version, while a
    * pinned read (`VERSION AS OF`, `versionAsOf`) stays at its version.
    * One statement spans entry points: a metadata-only SQL DELETE, which
    * Spark first asks (`canDeleteWhere`) and then runs (`deleteWhere`);
    * each takes its own snapshot, and the delete resolves its base again,
    * as every operation of this object does.
    */
  final class Snapshot private[Versioned] (val path: String,
                                           private[graft] val fsys: FileSystem,
                                           private[graft] val table: Path,
                                           m: Manifest) {
    def version: Int = m.v
    private[graft] def meta: TableMeta = m.meta
    private[graft] lazy val entries: Seq[Entry] =
      if (m.v == 0) Seq.empty else entriesOf(fsys, table, m)

    /** The schema the version records; a version without one (written
      * before schemas were recorded) cannot be planned or evolved.
      */
    def schema: org.apache.spark.sql.types.StructType = meta.schema.getOrElse(
      throw new IllegalArgumentException(
        s"v$version of $path records no schema — republish or merge once to record one"))

    /** The partition column spec: the `#partcol` header (recorded by
      * CREATE) or, absent one, the first partitioned entry's directory
      * levels. None for unpartitioned snapshots.
      */
    def partCol: Option[String] = meta.partCol.orElse(entries
      .collectFirst { case e if e.partDir != "-" => entryLayout(e.partDir).mkString(",") })

    /** True iff every entry is laid out by the CURRENT partition spec —
      * the table is NOT mid-partition-evolution. Partition-VALUE-scoped
      * DML demands this (its touched-set splice keys on the header's dir
      * names); entry-identity-scoped SQL row-level DML does not and stays
      * available while mixed.
      */
    def uniformLayout: Boolean = {
      val layout = currentLayout(meta, entries)
      entries.forall(e => e.partDir == "-" || entryLayout(e.partDir) == layout)
    }
  }

  /** The latest committed version of `tablePath` (one listing, then the
    * memo); an empty or missing table is version 0 with an empty meta.
    */
  def snapshot(spark: SparkSession, tablePath: String): Snapshot = {
    val (fsys, table) = fs(spark, tablePath)
    new Snapshot(tablePath, fsys, table, latestOf(fsys, table))
  }

  /** The latest snapshot of `tablePath`, which must have a committed
    * version.
    */
  def committedSnapshot(spark: SparkSession, tablePath: String): Snapshot = {
    require(tablePath != null, "a table path is required")
    val s = snapshot(spark, tablePath)
    require(s.version >= 1, s"$tablePath has no committed version")
    s
  }

  /** Committed version `v` of `tablePath` (one stat, then the memo); a
    * missing, vacuumed or uncommitted `v` fails, naming it.
    */
  def snapshot(spark: SparkSession, tablePath: String, v: Int): Snapshot = {
    val (fsys, table) = fs(spark, tablePath)
    new Snapshot(tablePath, fsys, table, manifestAt(fsys, table, v))
  }

  /** The committed version carrying idempotence tag `tag`, if any — the
    * Delta txn-id lookup: a replayed writer asks before re-applying. The
    * highest such version answers, and a replayed batch's tag is almost
    * always among the newest commits, so the walk down is short.
    */
  def taggedVersion(spark: SparkSession, tablePath: String, tag: String): Option[Int] = {
    val (fsys, table) = fs(spark, tablePath)
    committedDown(fsys, listing(fsys, table)).find(_.meta.tag.contains(tag)).map(_.v)
  }

  /** Drop the memo's observations of manifests under `tablePath`. Every
    * deleteTree-and-rebuild path calls this before recreating the table: on
    * a filesystem with coarse mtimes a recreated manifest can present the
    * previous incarnation's (path, length, mtime) and be served its header
    * and entries.
    */
  private[graft] def invalidateManifestMemo(tablePath: String): Unit =
    // contains, not startsWith: memoized paths carry the FileSystem
    // scheme ("file:/tmp/...") while callers pass the raw local path.
    memo.keySet.removeIf(_.contains(tablePath))

  /** Highest committed version, 0 if the table is empty/nonexistent. */
  def latestVersion(spark: SparkSession, tablePath: String): Int =
    snapshot(spark, tablePath).version

  /** The entries snapshot `s` ADDED relative to its predecessor `prev`
    * (none for v1): the set difference of their serialized forms — exact,
    * since parse↔serialize is byte-stable. For an APPEND commit these are
    * precisely the appended files (the table tail's planning metadata).
    */
  private[graft] def appendedEntries(prev: Option[Snapshot], s: Snapshot): Seq[Entry] = {
    val before = prev.fold(Set.empty[String])(_.entries.map(_.serialized).toSet)
    s.entries.filterNot(e => before(e.serialized))
  }

  /** The data dirs version `v` serves from (spec/vacuum introspection). */
  def dataDirsOf(spark: SparkSession, tablePath: String, v: Int): Seq[String] =
    snapshot(spark, tablePath, v).entries.map(_.dataDir).distinct

  /** Commit `entries` as the next version, with table metadata `meta`
    * (the base version's, plus what the operation changes) and the
    * per-commit `op`, `tag` and `changesDir`. The exclusive manifest
    * create is the CAS: if another writer claimed the number first, clean
    * up `orphanDirs` and raise [[ConcurrentWriteException]].
    *
    * Column mapping (`colMap`, `droppedCols`) is taken from the LATEST
    * version, not from `meta`, unless `ownsColumnMapping`: a rename/drop
    * must survive every later commit — including branch merges and
    * rebased commits whose meta came from an older base — or old files'
    * bytes silently vanish from reads. Only ALTER RENAME/DROP COLUMN,
    * RESTORE and CLONE set their own.
    */
  private def commit(fsys: FileSystem, table: Path, spark: SparkSession,
                     entries: Seq[Entry], expectedLatest: Option[Int],
                     orphanDirs: Seq[Path], meta: TableMeta, op: String,
                     tag: Option[String] = None,
                     changesDir: Option[String] = None,
                     ownsColumnMapping: Boolean = false): Int = {
    preCommitHookForTests.foreach(_.apply())
    tag.foreach(t => require(!t.contains('\n') && !t.contains('\t'),
      s"idempotence tag must be single-line, tab-free: $t"))
    val ls = listing(fsys, table)
    val top = head(fsys, ls)
    val (latest, latestMeta) = (top.v, top.meta)
    val withMapping =
      if (ownsColumnMapping) meta
      else meta.copy(colMap = latestMeta.colMap, droppedCols = latestMeta.droppedCols)
    def abort(why: String): Nothing = {
      orphanDirs.foreach(d => try fsys.delete(d, true) catch { case _: Throwable => () })
      throw new ConcurrentWriteException(why)
    }
    expectedLatest.foreach { e =>
      if (latest != e) abort(s"table $table is at v$latest, writer expected v$e")
    }
    val next = latest + 1
    val mf = manifestPath(table, next)
    // Reclaim a crashed writer's stale claim: a listed `next` is above the
    // latest committed version, so it is an uncommitted claim; old = stale.
    ls.versions.find(_._1 == next).foreach { case (_, st) =>
      if (System.currentTimeMillis() - st.getModificationTime > StaleClaimMs)
        fsys.delete(mf, false)
    }
    val out = try exclusiveCreate(fsys, mf) catch {
      case _: java.io.IOException =>
        abort(s"version $next at $table already claimed by a concurrent writer")
    }
    postClaimHookForTests.foreach(_.apply())
    // Delta-vs-previous commit (headers always write in full — they are a
    // few lines — only the ENTRY list deltas): smaller of the two forms
    // wins; the depth cap forces a periodic full checkpoint so resolution
    // stays bounded. A racing vacuum of the previous manifest degrades to
    // a full write — never a broken chain.
    val (chainBase, removed, ownEntries) = {
      val full: (Option[(Int, Int)], Seq[String], Seq[Entry]) = (None, Seq.empty, entries)
      if (latest < 1) full
      else {
        val prevDepth = latestMeta.base.map(_._2).getOrElse(0)
        if (prevDepth + 1 > MaxChainDepth) full
        else {
          try {
            val prev = entriesOf(fsys, table, top)
            val prevSer = prev.map(_.serialized)
            val newSet = entries.map(_.serialized).toSet
            val prevSet = prevSer.toSet
            val removed = prevSer.filterNot(newSet)
            val added = entries.filterNot(e => prevSet(e.serialized))
            if (removed.size + added.size < entries.size)
              (Some((latest, prevDepth + 1)), removed, added)
            else full
          } catch { case _: Exception => full }
        }
      }
    }
    // PARQUET CHECKPOINTS (the Delta checkpoint-file design): a FULL
    // entry list at or above the threshold streams into a compressed
    // parquet SIDECAR (one serialized line per row — dictionary-coded
    // partDir/dataDir repeats compress ~10×) and the text manifest
    // carries only headers + `#entriesfile`. The driver never builds an
    // O(table) string: the writer streams one entry at a time. Delta
    // commits still read the previous version through the same API, so
    // the every-16th-commit checkpoint stops being O(table) text I/O.
    // The sidecar is written AFTER the exclusive claim (the version
    // number is ours) and under a unique name; an abort deletes it.
    val useEntriesFile =
      chainBase.isEmpty && ownEntries.size >= ParquetCheckpointMinEntries
    val entriesFile: Option[String] =
      if (!useEntriesFile) None
      else {
        val name = s"$next-${java.util.UUID.randomUUID().toString.replace("-", "")}.entries.parquet"
        try {
          writeEntriesFile(fsys, new Path(manifestDir(table), name), ownEntries)
          Some(name)
        } catch {
          case e: Throwable =>
            // IO failure, NOT a lost race: clean the claim + orphans and
            // surface as such — a ConcurrentWriteException here would
            // send rebase-retry loops chasing a non-conflict.
            try out.close() catch { case _: Throwable => () }
            try fsys.delete(new Path(manifestDir(table), name), false)
            catch { case _: Throwable => () }
            try fsys.delete(mf, false) catch { case _: Throwable => () }
            orphanDirs.foreach(d =>
              try fsys.delete(d, true) catch { case _: Throwable => () })
            throw new IllegalStateException(
              s"failed to write checkpoint sidecar for v$next", e)
        }
      }
    val body = (withMapping.copy(tag = tag, changesDir = changesDir, op = op,
        entriesFile = entriesFile, base = chainBase).header +
      removed.map(r => s"#rm\t$r\n").mkString +
      (if (entriesFile.isDefined) s"$Terminator\n"
       else ownEntries.map(_.serialized).mkString("", "\n", s"\n$Terminator\n")))
      .getBytes("UTF-8")
    try out.write(body) finally out.close()
    // Read-back verification: if a stalled writer's claim was reclaimed
    // (deleted + recreated) between our exclusiveCreate and close, our body
    // landed on an unlinked inode — the close "succeeded" but the table
    // serves the other writer's bytes at this version. Verify the on-disk
    // manifest is OURS before reporting the commit; detecting the loss here
    // turns a silent lost commit into a loud ConcurrentWriteException.
    val onDisk = try {
      val in = fsys.open(mf)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: java.io.IOException => None }
    if (!onDisk.exists(java.util.Arrays.equals(_, body))) {
      // The claim now belongs to the OTHER writer (do not touch it), but
      // the checkpoint sidecar is OURS (uniquely named) — delete it here
      // rather than leaving it to age out of a later vacuum.
      entriesFile.foreach(n =>
        try fsys.delete(new Path(manifestDir(table), n), false)
        catch { case _: Throwable => () })
      abort(s"version $next at $table was reclaimed by a concurrent writer " +
        "while this commit was in flight (stalled past the claim lease)")
    }
    next
  }

  /** Exclusive create of the manifest — the commit's atomicity primitive.
    * On HDFS-like stores `create(…, overwrite = false)` is an atomic
    * namespace operation; Hadoop's LOCAL filesystem implements it as
    * check-then-create, which two racing threads can both pass — so on the
    * `file` scheme we go through NIO's CREATE_NEW (O_CREAT|O_EXCL, atomic
    * at the kernel). Throws FileAlreadyExists/IOException when the version
    * is already claimed.
    */
  private def exclusiveCreate(fsys: FileSystem, mf: Path): java.io.OutputStream =
    if (fsys.getScheme == "file") {
      val p = java.nio.file.Paths.get(mf.toUri.getPath)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.newOutputStream(p,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    } else fsys.create(mf, /* overwrite = */ false)

  /** A fresh, not yet existing `d_<uuid>` data dir of `table` — the one
    * minter of data-dir names (vacuum's sweep matches them).
    */
  private[graft] def newDataDir(fsys: FileSystem, table: Path): Path = {
    fsys.mkdirs(table)
    new Path(table, s"d_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** Publish `df` as the next version — a full snapshot. With `partCol`
    * the data dir is laid out by Spark's partitioned writer (so merges can
    * later splice at partition granularity); without, it's a flat table.
    * With `fileStatsKey` (requires `partCol`) the manifest carries one
    * entry per FILE with that column's ordered min/max surrogate
    * ([[KeyEnc]]: integral, string, or date) — the base layout
    * a stats-scoped [[merge]] prunes against. `fileStatsKey2` records a SECOND
    * column's per-file bounds in the same stats scan — integral, string,
    * or date, encoded by the same [[KeyEnc]] surrogate (the
    * Delta/Iceberg leading-columns convention): the DSv2 reader then
    * box-prunes on both dimensions without a z-order rewrite — useful
    * when the write is already clustered on both (e.g. range-partitioned
    * on (key, key2)). Returns the committed version.
    */
  def publish(spark: SparkSession, tablePath: String, df: DataFrame,
              partCol: Option[String] = None,
              expectedLatest: Option[Int] = None,
              fileStatsKey: Option[String] = None,
              fileStatsKey2: Option[String] = None,
              fileStatsCols: Seq[String] = Seq.empty): Int = {
    val (fsys, table) = fs(spark, tablePath)
    require(fileStatsKey2.isEmpty || fileStatsKey.isDefined,
      "fileStatsKey2 requires fileStatsKey")
    require(fileStatsCols.isEmpty || fileStatsKey.isDefined,
      "fileStatsCols requires fileStatsKey")
    // Constraints (and the column mapping — see commit) carry over from
    // the latest version; a publish restates every other table header.
    // Recording the partition column (CREATE already does) keeps partCol
    // off the directory-name fallback and lets adoptStaged exempt it from
    // the staged-type check (its type is directory-inferred there).
    val meta = latestOf(fsys, table).meta.copy(
      schema = Some(df.schema), statsKey = fileStatsKey, statsKey2 = fileStatsKey2,
      statsCols = fileStatsCols, partCol = partCol)
    validateConstraints(df, meta.constraints)
    val dd = newDataDir(fsys, table)
    val entries = partCol match {
      case Some(pc) =>
        requirePartitionable(df.schema, pc)
        df.write.mode(SaveMode.ErrorIfExists).partitionBy(partColsOf(pc): _*).parquet(dd.toString)
        freshEntries(spark, table, dd, meta)
      case None =>
        require(fileStatsKey.isEmpty, "fileStatsKey requires partCol")
        df.write.mode(SaveMode.ErrorIfExists).parquet(dd.toString)
        Seq(Entry("-", dd.getName))
    }
    commit(fsys, table, spark, entries, expectedLatest, Seq(dd), meta, "PUBLISH")
  }

  /** Back-compat alias: unpartitioned snapshot publish. */
  def write(spark: SparkSession, tablePath: String, df: DataFrame): Int =
    publish(spark, tablePath, df)

  /** CREATE TABLE: commit an EMPTY v1 that records schema, partition
    * column and (optionally) the stats columns — the DDL half of the SQL
    * catalog's CREATE-then-INSERT flow. Reads of the empty version serve
    * zero rows in the recorded schema; the first append establishes the
    * file layout under the declared headers.
    */
  def createEmpty(spark: SparkSession, tablePath: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partCol: Option[String] = None,
                  statsKey: Option[String] = None,
                  statsKey2: Option[String] = None,
                  statsCols: Seq[String] = Seq.empty): Int =
    createFirst(spark, tablePath, schema, None, partCol, statsKey, statsKey2, statsCols,
      "CREATE")

  /** CTAS: CREATE + first data as ONE manifest commit (`op = CTAS`) —
    * the staged dir's adopted files and the declared schema/partition/
    * stats headers land atomically in v1. The alternative (createEmpty
    * then adoptStaged, the pre-r16 shape) has a crash window between the
    * two commits in which a committed, visible, EMPTY table exists under
    * the CTAS name — weaker than the documented "an aborted CTAS leaves
    * no trace". `dataDirName = None` commits a schema-only v1 (a CTAS
    * whose SELECT produced zero rows still creates the table).
    */
  def createAsSelect(spark: SparkSession, tablePath: String,
                     schema: org.apache.spark.sql.types.StructType,
                     dataDirName: Option[String],
                     partCol: Option[String] = None,
                     statsKey: Option[String] = None,
                     statsKey2: Option[String] = None,
                     statsCols: Seq[String] = Seq.empty): Int =
    createFirst(spark, tablePath, schema, dataDirName, partCol, statsKey, statsKey2,
      statsCols, "CTAS")

  /** The v1 of a new table: the declared headers, checked here once for
    * CREATE and CTAS alike, plus the entries of `dataDirName` if given.
    */
  private def createFirst(spark: SparkSession, tablePath: String,
                          schema: org.apache.spark.sql.types.StructType,
                          dataDirName: Option[String], partCol: Option[String],
                          statsKey: Option[String], statsKey2: Option[String],
                          statsCols: Seq[String], op: String): Int = {
    val (fsys, table) = fs(spark, tablePath)
    require(latestVersion(spark, tablePath) == 0,
      s"$tablePath already has versions")
    partCol.foreach(requirePartitionable(schema, _))
    statsKey.foreach(c => require(schema.fieldNames.contains(c),
      s"stats column $c not in ${schema.fieldNames.mkString(",")}"))
    require(statsKey.isEmpty || partCol.nonEmpty, "statsKey requires partCol")
    require(statsKey2.isEmpty || statsKey.isDefined, "statsKey2 requires statsKey")
    require(statsCols.isEmpty || statsKey.isDefined, "statsCols requires statsKey")
    (statsKey2.toSeq ++ statsCols).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"stats column $c not in ${schema.fieldNames.mkString(",")}")
      require(KeyEnc.supported(schema(c).dataType),
        s"stats column $c must be integral, string, or date")
    }
    val meta = TableMeta(schema = Some(schema), statsKey = statsKey,
      statsKey2 = statsKey2, statsCols = statsCols, partCol = partCol)
    val dd = dataDirName.map(new Path(table, _))
    val entries = dd.toSeq.flatMap { d =>
      require(fsys.exists(d), s"staged dir $d does not exist")
      if (partCol.isEmpty) Seq(Entry("-", d.getName)) else freshEntries(spark, table, d, meta)
    }
    commit(fsys, table, spark, entries, Some(0), dd.toSeq, meta, op)
  }

  /** REPLACE a scanned entry set with freshly staged files — the commit
    * half of a SQL row-level rewrite (MERGE INTO / UPDATE / rewriting
    * DELETE): Spark re-wrote the affected groups' rows through the
    * operation's write, and the new version is base-minus-scanned plus
    * the replacement dir. The CAS pins the version the rewrite SCANNED —
    * a concurrent commit between scan and replace conflicts loudly
    * instead of silently resurrecting rows the winner changed.
    */
  private[graft] def replaceEntries(spark: SparkSession, base: Snapshot,
                                    drop: Set[(String, String, Option[String])],
                                    dataDirName: Option[String], op: String): Int = {
    val dd = dataDirName.map(new Path(base.table, _))
    val meta = base.meta
    val fresh = dd.toSeq.flatMap { d =>
      if (meta.constraints.nonEmpty)
        validateConstraints(Tables.parquet(spark).load(d.toString), meta.constraints)
      freshEntries(spark, base.table, d, meta)
    }
    val entries = base.entries
      .filterNot(e => drop.contains((e.partDir, e.dataDir, e.file))) ++ fresh
    commit(base.fsys, base.table, spark, entries, Some(base.version), dd.toSeq, meta, op)
  }

  /** Directory levels of `meta`'s partition spec (1 when none is recorded). */
  private def partDepth(meta: TableMeta): Int =
    meta.partCol.map(partColsOf(_).length).getOrElse(1)

  /** Adopt an externally STAGED data dir (already laid out
    * `<partCol>=<value>/file.parquet` under `<tablePath>/<dataDirName>`)
    * as an APPEND version — the commit half of a distributed writer such
    * as the [[graft.sources.VersionedSink]] streaming sink: executors
    * write the files, the driver turns exactly those files into a
    * version. Appends rebase trivially (their fresh entries just
    * re-splice onto whatever the new latest is), so a lost CAS retries
    * internally up to `retries` times; schema must match the existing
    * table's columns (appends never evolve); CHECK constraints validate
    * the staged rows only; an already-committed `tag` deletes the stage
    * and returns the committed version — the exactly-once anchor for
    * epoch replays. On a fresh table the staged dir BECOMES v1.
    */
  def adoptStaged(spark: SparkSession, tablePath: String, dataDirName: String,
                  tag: Option[String] = None,
                  fileStatsKey: Option[String] = None,
                  retries: Int = 3): Int = {
    val (fsys, table) = fs(spark, tablePath)
    val dd = new Path(table, dataDirName)
    tag.flatMap(taggedVersion(spark, tablePath, _)) match {
      case Some(applied) => fsys.delete(dd, true); return applied
      case None =>
    }
    require(fsys.exists(dd), s"staged dir $dd does not exist")
    val df = Tables.parquet(spark).load(dd.toString) // partition col inferred from layout
    var attempts = 0
    while (true) {
      val top = latestOf(fsys, table)
      val base = top.v
      val bm = top.meta
      bm.schema.foreach { s =>
        require(df.columns.toSet == s.fieldNames.toSet,
          s"staged columns ${df.columns.mkString(",")} do not match the " +
            s"table's ${s.fieldNames.mkString(",")} — appends never evolve schema")
        // Name match is not enough: adopting a wrong-typed stage would
        // commit files later reads can only mis-cast. Partition columns
        // are exempt — their type is directory-inferred on the staged
        // side (int where the table says long) and readEntries re-derives
        // it from the recorded schema anyway.
        val partC = bm.partCol.toSeq.flatMap(partColsOf)
        s.fields.filterNot(f => partC.contains(f.name)).foreach { f =>
          val got = df.schema(f.name).dataType
          require(got == f.dataType,
            s"staged column ${f.name} is $got, table records ${f.dataType} — " +
              "appends never change types")
        }
      }
      // Keep the table's file granularity: stats must stay on the base's
      // recorded column (or establish one on a fresh table).
      val effKey = (bm.statsKey, fileStatsKey) match {
        case (Some(b), Some(k)) =>
          require(b == k, s"table stats are on $b, staged stats on $k"); Some(b)
        case (Some(b), None) => Some(b)
        case (None, k) => k
      }
      // Appends keep the table's FULL stats granularity: the second key
      // and the extra `#statscols` dimensions are recomputed for the
      // staged files in the same scan, so 2-D/N-dim skipping never
      // degrades on ingest.
      val meta = bm.copy(schema = bm.schema.orElse(Some(df.schema)), statsKey = effKey)
      val fresh = freshEntries(spark, table, dd, meta)
      val baseEntries = if (base == 0) Seq.empty else entriesOf(fsys, table, top)
      validateConstraints(df, bm.constraints)
      try {
        return commit(fsys, table, spark, baseEntries ++ fresh, Some(base),
          if (attempts >= retries) Seq(dd) else Seq.empty, meta, "APPEND", tag)
      } catch {
        case e: ConcurrentWriteException =>
          if (attempts >= retries) throw e
          attempts += 1
          tag.flatMap(taggedVersion(spark, tablePath, _)) match {
            case Some(applied) => fsys.delete(dd, true); return applied
            case None =>
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Split a partition-column spec: `"a"` or the multi-column comma list
    * `"a,b"` (the `#partcol` header form). Directory encoding nests
    * level by level — `a=1/b=x` — exactly Spark's own layout.
    */
  private[graft] def partColsOf(spec: String): Seq[String] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The column list a partition dir ENCODES (`y=1995/src=web` → y,src) —
    * each entry carries its own layout, which is what makes partition
    * evolution readable: post-evolution entries and pre-evolution ones
    * coexist, each decoded by its own directory structure.
    */
  private def entryLayout(partDir: String): Seq[String] =
    if (partDir == "-") Seq.empty
    else partDir.split('/').toSeq.map(_.takeWhile(_ != '='))

  /** The partition layout new writes use: the `#partcol` spec, or — on
    * pre-header tables — the first partitioned entry's (exactly
    * [[Snapshot.partCol]]'s fallback; only a real evolution, which always writes the
    * header, can mix layouts).
    */
  private def currentLayout(meta: TableMeta, entries: Seq[Entry]): Seq[String] =
    meta.partCol.map(partColsOf)
      .orElse(entries.collectFirst { case e if e.partDir != "-" => entryLayout(e.partDir) })
      .getOrElse(Seq.empty)

  /** Refuse a partition-VALUE-scoped operation on a mixed-layout table:
    * its touched-set splice matches entries by the CURRENT header's dir
    * names, so a pre-evolution entry could be spliced while its rows were
    * also rewritten (duplication) or dropped while only partially read
    * (loss). SQL row-level DML (entry-identity splice) and the full
    * rewrites (zorder / repartitionTable) stay available while mixed.
    */
  private def requireUniformLayout(table: Path, bm: TableMeta,
                                   baseEntries: Seq[Entry], what: String): Unit = {
    val header = currentLayout(bm, baseEntries)
    baseEntries.find(e => e.partDir != "-" && entryLayout(e.partDir) != header)
      .foreach(e => throw new IllegalStateException(
        s"$what on $table: entry ${e.partDir} is laid out by " +
          s"(${entryLayout(e.partDir).mkString(",")}) but the table is now " +
          s"partitioned by (${header.mkString(",")}) — mid-partition-evolution; " +
          "rewrite to the current layout first (Versioned.repartitionTable / " +
          "CALL sys.repartition) or use SQL row-level DML, which splices by " +
          "entry identity and is evolution-safe"))
  }

  /** PARTITION EVOLUTION (the Iceberg evolve-spec idea re-derived on the
    * manifest store): a header-only commit changes `#partcol` — files
    * are never rewritten. NEW writes lay out by the new spec immediately
    * (appends, INSERTs, streaming epochs all derive their layout from
    * the header); pre-evolution entries keep serving through their own
    * recorded directory structure — every read path decodes partition
    * constants PER ENTRY, partition pruning applies per entry's own
    * levels, and columns that moved between dir-encoding and file bytes
    * resolve by name either way. Honest limits: partition-VALUE-scoped
    * DML (merge/deleteWhere/updateWhere and the maintenance rewrites)
    * refuses LOUDLY while layouts are mixed — its splice keys on dir
    * names — until [[repartitionTable]] normalizes; SQL row-level
    * MERGE/UPDATE/DELETE (entry-identity splice) keeps working
    * throughout. Time travel before the evolution serves the old spec.
    */
  def evolvePartitioning(spark: SparkSession, tablePath: String,
                         newPartCol: String,
                         expectedLatest: Option[Int] = None): Int = {
    val top = committedSnapshot(spark, tablePath)
    val (bm, baseSchema) = (top.meta, top.schema)
    val newCols = partColsOf(newPartCol)
    require(newCols.nonEmpty, "evolvePartitioning: empty partition spec")
    requirePartitionable(baseSchema, newPartCol)
    val oldCols = bm.partCol.toSeq.flatMap(partColsOf)
    require(newCols != oldCols,
      s"table is already partitioned by (${newCols.mkString(",")})")
    commit(top.fsys, top.table, spark, top.entries,
      expectedLatest.orElse(Some(top.version)), Seq.empty, bm.copy(partCol = Some(newPartCol)),
      s"EVOLVE_PARTITIONING(${oldCols.mkString(",")}->${newCols.mkString(",")})")
  }

  /** Rewrite the WHOLE table into the current `#partcol` layout — the
    * normalization that ends a partition evolution's mixed state (and
    * re-establishes full stats granularity on every file). Content is
    * identical by construction; the commit pins the base.
    */
  def repartitionTable(spark: SparkSession, tablePath: String,
                       expectedLatest: Option[Int] = None): Int = {
    val (fsys, table) = fs(spark, tablePath)
    val top = latestOf(fsys, table)
    val base = top.v
    require(base >= 1, s"$tablePath has no committed version")
    val bm = top.meta
    val cols = partColsOf(bm.partCol.getOrElse(
      throw new IllegalArgumentException(
        s"$tablePath records no partition column — nothing to repartition to")))
    val baseEntries = entriesOf(fsys, table, top)
    // Files ALREADY in the current spec at full recorded stats
    // granularity splice unchanged (§6: a normalization owes work only
    // to pre-evolution files — post-evolution ingests already conform;
    // rewriting them re-shuffles identical bytes). A DV'd file is
    // rewritten so the normalization keeps its materialize-DVs-away
    // property; "-" (unpartitioned snapshot) entries never conform.
    def conforms(e: Entry): Boolean =
      entryLayout(e.partDir) == cols && e.dv.isEmpty &&
        (bm.statsKey.isEmpty || (e.file.isDefined && e.kmin.isDefined &&
          e.kmax.isDefined && e.nrows.isDefined &&
          (bm.statsKey2.isEmpty || (e.k2min.isDefined && e.k2max.isDefined)) &&
          (bm.statsCols.isEmpty || e.xstats.isDefined)))
    val (keep, rewriteEs) = baseEntries.partition(conforms)
    val (dirs, fresh) =
      if (rewriteEs.isEmpty) (Seq.empty[Path], Seq.empty[Entry])
      else {
        val df = readAs(spark, table, bm, rewriteEs)
        // cluster inside each cell by the stats key so the fresh per-file
        // bounds come out range-tight, the layout every skipping tier rides
        val shaped = bm.statsKey match {
          case Some(k) => df.repartitionByRange(
            (cols :+ k).map(col): _*).sortWithinPartitions((cols :+ k).map(col): _*)
          case None => df
        }
        val dd = newDataDir(fsys, table)
        dumpPlan("repartition_rewrite", shaped)
        shaped.write.mode(SaveMode.ErrorIfExists)
          .partitionBy(cols: _*).parquet(dd.toString)
        (Seq(dd), freshEntries(spark, table, dd, bm))
      }
    commit(fsys, table, spark, keep ++ fresh, expectedLatest.orElse(Some(base)), dirs,
      bm, "REPARTITION")
  }

  /** Leaf partition dirs of a freshly written data dir, as RELATIVE
    * paths `a=1/b=x`, one level per partition column.
    */
  private def listPartDirs(fsys: FileSystem, dataDir: Path,
                           depth: Int = 1): Seq[String] = {
    def walk(p: Path, d: Int): Seq[String] =
      fsys.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath).flatMap { c =>
        if (d <= 1) Seq(c.getName)
        else walk(c, d - 1).map(rest => s"${c.getName}/$rest")
      }
    walk(dataDir, depth).sorted
  }

  /** (range-surrogate, bloom-key) Columns for a stats column of any
    * [[KeyEnc]]-supported type: integral = identity, date = epoch days,
    * string = monotone 8-byte big-endian prefix for the range plus the
    * full-string FNV hash for the bloom. Shared by both stats dimensions.
    */
  private def keyEncCols(dt: org.apache.spark.sql.types.DataType,
                         c: String): (Column, Column) = dt match {
    case t if KeyEnc.Integral.contains(t) =>
      (col(c).cast("long"), col(c).cast("long"))
    case org.apache.spark.sql.types.DateType =>
      val days = unix_date(col(c)).cast("long")
      (days, days)
    case org.apache.spark.sql.types.StringType =>
      // codegen'd kernels (graft.functions.StringKeyEnc — byte-parity
      // with KeyEnc pinned by StringKeyEncSpec): the stats scan runs
      // over every written file's rows on each string-keyed rewrite,
      // and the former per-row UDFs boxed a String + Long per value
      (graft.functions.StringKeyEnc.prefixCol(col(c)),
       graft.functions.StringKeyEnc.fnvCol(col(c)))
    case other => throw new IllegalArgumentException(
      s"file-stats column $c: unsupported type $other — " +
        "use an integral, string, or date column")
  }

  /** Per-file manifest entries for a freshly written data dir: one scan of
    * the key column grouped by `input_file_name()` — the parquet-footer
    * min/max surrogate, computed with public API only. File count is
    * bounded by the write's task count, so the collect is metadata-sized.
    * The entries carry EVERY stats dimension `stats` records (`statsKey`,
    * which must be set, plus `statsKey2` and `statsCols`): each rewrite —
    * DML, merge, compaction, optimize — recomputes them for the files it
    * writes (it scans every row it writes anyway), so multi-dimension
    * skipping survives routine maintenance instead of degrading to off
    * until the next re-optimize.
    */
  private def fileStatsOf(spark: SparkSession, table: Path, dd: Path,
                          stats: TableMeta): Seq[Entry] = {
    val keyCol = stats.statsKey.get
    val stats2Col = stats.statsKey2
    val extraCols = stats.statsCols
    val marker = "/" + dd.getName + "/"
    // Byte sizes recorded at WRITE time (one walk of the fresh data dir,
    // ∝ files just written) so every later planning pass serves
    // sizeInBytes from the manifest instead of per-file FileStatus RPCs.
    // The walk follows nested multi-column layouts (a=1/b=x/file).
    val fsys = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizeOf: Map[(String, String), Long] = {
      def walk(p: Path, rel: String): Seq[((String, String), Long)] =
        fsys.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory)
            walk(st.getPath,
              if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}")
          else if (rel.nonEmpty) Seq((rel, st.getPath.getName) -> st.getLen)
          else Seq.empty
        }
      walk(dd, "").toMap
    }
    val bloomAgg = udaf(new KeyBloomAgg)
    // Second-dimension bounds (the z-order skipping column) ride the same
    // single stats scan when requested; NULLs in that column simply widen
    // nothing (min/max skip them) — it is a skipping hint, not a key.
    // Bounds are KeyEnc SURROGATES (like the key's), so string/date
    // second dimensions skip too.
    val stats2 = stats2Col.toSeq.flatMap(_ => Seq(
      min(col("_k2")).as("lo2"), max(col("_k2")).as("hi2")))
    // N EXTRA stat dimensions (`#statscols`) ride the same single scan:
    // one surrogate min/max pair per column plus its NULL count (IS NULL /
    // IS NOT NULL skipping), all KeyEnc-encoded.
    val xAggs = extraCols.zipWithIndex.flatMap { case (_, i) => Seq(
      min(col(s"_x$i")).as(s"xlo$i"), max(col(s"_x$i")).as(s"xhi$i"),
      sum(when(col(s"_x$i").isNull, 1L).otherwise(0L)).as(s"xn$i")) }
    val aggs = Seq(min("_k").as("lo"), max("_k").as("hi"),
      count(lit(1)).as("nrows"),
      sum(when(col("_k").isNull, 1L).otherwise(0L)).as("nnull"),
      // NULL keys are rejected below anyway; coalescing them into the
      // bloom as 0 can only ADD a false-positive bit, never lose one.
      bloomAgg(coalesce(col("_bk"), lit(0L))).as("bloom")) ++ stats2 ++ xAggs
    val raw = Tables.parquet(spark).load(dd.toString)
    (stats2Col.toSeq ++ extraCols).foreach(c =>
      require(KeyEnc.supported(raw.schema(c).dataType),
        s"stats column $c must be integral, string, or date — " +
          s"is ${raw.schema(c).dataType}"))
    // Key columns encode to an ordered-Long surrogate ([[KeyEnc]]):
    // integral = identity, date = epoch days, string = truncated
    // big-endian prefix for the RANGE plus a full-string hash for the
    // BLOOM. Encoding is monotone, so min/max of encodings equal the
    // encodings of min/max. Both stats dimensions share the encoder —
    // since r16 the SECOND dimension may be string/date too (the Delta
    // leading-columns convention has no integral restriction).
    val (encK, bloomK) = keyEncCols(raw.schema(keyCol).dataType, keyCol)
    val enc2 = stats2Col.map(c => keyEncCols(raw.schema(c).dataType, c)._1.as("_k2"))
    val encX = extraCols.zipWithIndex.map { case (c, i) =>
      keyEncCols(raw.schema(c).dataType, c)._1.as(s"_x$i") }
    raw
      .select((Seq(input_file_name().as("_f"), encK.as("_k"), bloomK.as("_bk")) ++
        enc2 ++ encX): _*)
      .groupBy("_f").agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .map { r =>
        // input_file_name() returns the URI-ENCODED form ("%20" for a
        // space in a partition value like "4-NOT SPECIFIED") — decode to
        // the literal on-disk name or the manifest records a path that
        // exists nowhere. URI.getPath decodes every escape correctly
        // (a literal '%' on disk arrives as %25 and round-trips).
        val full = try new java.net.URI(r.getString(0)).getPath
          catch { case _: java.net.URISyntaxException => r.getString(0) }
        val rel = full.substring(full.indexOf(marker) + marker.length)
        // partDir = everything up to the file name — one OR MORE nested
        // `col=value` levels (multi-column layouts)
        val cut = rel.lastIndexOf('/')
        require(cut > 0, s"unpartitioned file $rel in partitioned data dir $dd")
        // min/max silently IGNORE nulls: a null-keyed row would escape the
        // stats and dodge every range-scoped rewrite — reject it loudly.
        require(r.getLong(4) == 0L,
          s"file-stats key $keyCol contains ${r.getLong(4)} NULL(s) in $rel — " +
            "merge keys must be non-null")
        val xBase = if (stats2Col.isDefined) 8 else 6
        val xs =
          if (extraCols.isEmpty) None
          else Some(extraCols.indices.map { i =>
            val (lo, hi, nn) = (xBase + 3 * i, xBase + 3 * i + 1, xBase + 3 * i + 2)
            (if (r.isNullAt(lo)) "" else r.getLong(lo).toString) + ":" +
              (if (r.isNullAt(hi)) "" else r.getLong(hi).toString) + ":" +
              r.getLong(nn).toString
          }.mkString(","))
        Entry(rel.substring(0, cut), dd.getName, Some(rel.substring(cut + 1)),
          Some(r.getLong(1)), Some(r.getLong(2)), Some(r.getLong(3)),
          Some(r.getString(5)).filter(_ != KeyBloom.Saturated),
          k2min = if (stats2Col.isDefined && !r.isNullAt(6)) Some(r.getLong(6)) else None,
          k2max = if (stats2Col.isDefined && !r.isNullAt(7)) Some(r.getLong(7)) else None,
          fsize = sizeOf.get((rel.substring(0, cut), rel.substring(cut + 1))),
          xstats = xs)
      }.sortBy(e => (e.partDir, e.file))
  }

  /** A DataFrame over a subset of manifest entries (dir- or file-level),
    * partition column recovered via per-data-dir basePath reads.
    */
  /** Serialized deletion vector: `#key <col>` then one deleted key per
    * line. Metadata-sized by contract (a DV exists precisely because the
    * delete was small relative to the file).
    */
  private def writeDvFile(fsys: FileSystem, path: Path,
                          keyCol: String, keys: Seq[Long]): Unit = {
    fsys.mkdirs(path.getParent)
    val out = fsys.create(path, false)
    try out.write((s"#key\t$keyCol\n" + keys.sorted.mkString("", "\n", "\n"))
      .getBytes("UTF-8"))
    finally out.close()
  }

  private[graft] def readDvFile(fsys: FileSystem, path: Path): (String, Array[Long]) = {
    val in = fsys.open(path)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    require(lines.headOption.exists(_.startsWith("#key\t")),
      s"malformed deletion vector at $path")
    (lines.head.stripPrefix("#key\t"), lines.tail.map(_.toLong).toArray)
  }

  private def readEntries(spark: SparkSession, table: Path, entries: Seq[Entry]): DataFrame = {
    def pathOf(e: Entry): Path = {
      val base = new Path(table, e.dataDir)
      // partDir "-" = an unpartitioned snapshot entry: the data dir root
      val rel = (e.partDir, e.file) match {
        case ("-", Some(f)) => f
        case ("-", None) => ""
        case (p, Some(f)) => s"$p/$f"
        case (p, None) => p
      }
      if (rel.isEmpty) base else new Path(base, rel)
    }
    def scan(dd: String, es: Seq[Entry]): DataFrame =
      Tables.parquet(spark).option("basePath", new Path(table, dd).toString)
        .load(es.map(pathOf(_).toString): _*)
    // Deletion vectors are scoped to their OWN WRITE: the subtraction
    // must never be a global anti-filter — after a DV delete of key k, a
    // later merge may legitimately re-insert k into a new file, which
    // always lands in a NEW data dir (every write job gets a fresh
    // d_uuid), and the reincarnation must be served (q229 pins it). So
    // DV'd entries anti-join their sidecars' keys PER DATA DIR: within
    // one data dir — one write job — the store's unique-key contract
    // means a DV'd key has exactly one row there, so the per-dir join is
    // equivalent to per-file subtraction at ONE plan per data dir instead
    // of one plan per sidecar (a 20-sidecar version used to cost 20
    // driver-side plan/footer rounds). DV-free entries keep the plain
    // bulk path.
    val (dvd, clean) = entries.partition(_.dv.isDefined)
    val bulk = clean.groupBy(_.dataDir).toSeq.sortBy(_._1).map { case (dd, es) => scan(dd, es) }
    val subtracted = if (dvd.isEmpty) Seq.empty else {
      val fsys = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
      import spark.implicits._
      dvd.groupBy(_.dataDir).toSeq.sortBy(_._1).map { case (dd, es0) =>
        val es = es0.sortBy(e => (e.partDir, e.file))
        val loaded = es.map(e => readDvFile(fsys, new Path(table, e.dv.get)))
        val keyCols = loaded.map(_._1).distinct
        require(keyCols.size == 1,
          s"deletion vectors of $dd key on multiple columns: ${keyCols.mkString(",")}")
        val keyCol = keyCols.head
        val keys = loaded.flatMap(_._2).distinct
        val df = scan(dd, es)
        val keyed = col(keyCol).cast("long")
        if (keys.isEmpty) df
        else if (keys.length <= 64)
          df.filter(!keyed.isin(keys.map(java.lang.Long.valueOf): _*))
        else df.join(broadcast(keys.toDF("_dv_k")),
          keyed === col("_dv_k"), "left_anti")
      }
    }
    (bulk ++ subtracted).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def readAt(spark: SparkSession, tablePath: String, version: Int): DataFrame = {
    val s = snapshot(spark, tablePath, version)
    readAs(spark, s.table, s.meta, s.entries)
  }

  /** Entries `es` read as the version whose metadata is `meta` serves
    * them ([[asOf]]: its column mapping, then its schema). [[readAt]]
    * reads a whole version this way, and every read of a SUBSET of a
    * version's entries — a rewrite's scope, a lookup's hits, a change
    * feed's side, a pre-image — reads it this way too: a subset may land
    * entirely on files written before a rename or an added column and
    * must still serve the version's columns. No entry: the recorded
    * schema with zero rows (a freshly CREATEd or fully emptied version —
    * the SQL catalog's CREATE-then-INSERT flow — or an empty subset).
    */
  private def readAs(spark: SparkSession, table: Path, meta: TableMeta,
                     es: Seq[Entry]): DataFrame =
    if (es.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], meta.schema.getOrElse(
        throw new IllegalArgumentException(
          s"$table: an empty version or entry subset serves its recorded schema, " +
            "and this version records none")))
    else asOf(
      if (es.forall(_.partDir == "-"))
        Tables.parquet(spark).load(es.map(e => new Path(table, e.dataDir).toString): _*)
      else readEntries(spark, table, es), meta)

  /** Resolve mapped logical columns against whatever names the scanned
    * files actually carried: `coalesce(logical?, former1?, former2?)`
    * over the PRESENT columns, then drop the former names.
    */
  private def applyColMap(df: DataFrame,
                          m: Map[String, Seq[String]]): DataFrame =
    m.foldLeft(df) { case (d, (logical, aliases)) =>
      val present = aliases.filter(d.columns.contains)
      if (present.isEmpty) d
      else {
        val srcs = (if (d.columns.contains(logical)) Seq(col(logical))
                    else Seq.empty) ++ present.map(col)
        d.withColumn(logical, coalesce(srcs: _*)).drop(present: _*)
      }
    }

  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val (fsys, table) = fs(spark, tablePath)
    val m = latestOf(fsys, table)
    readAs(spark, table, m.meta, entriesOf(fsys, table, m))
  }

  /** The version that was latest AS OF `timestampMs` — commit time is the
    * manifest file's mtime, the same clock Delta's TIMESTAMP AS OF uses
    * (modulo its in-commit override). Fails loudly when the time predates
    * every committed version (or the ones before it were vacuumed).
    */
  def versionAsOf(spark: SparkSession, tablePath: String, timestampMs: Long): Int = {
    val (fsys, table) = fs(spark, tablePath)
    val ls = listing(fsys, table)
    require(ls.versions.nonEmpty, s"$tablePath has no versions")
    val v = committedDown(fsys, ls).find(_.mtime <= timestampMs)
    require(v.nonEmpty,
      s"no committed version of $tablePath at or before $timestampMs " +
        "(earlier versions may have been vacuumed)")
    v.get.v
  }

  /** TIMESTAMP AS OF read: the snapshot that was current at `timestampMs`. */
  def readAsOf(spark: SparkSession, tablePath: String, timestampMs: Long): DataFrame =
    readAt(spark, tablePath, versionAsOf(spark, tablePath, timestampMs))

  /** DESCRIBE HISTORY: one row per committed version — (version, commit
    * mtime ms, entry count, total recorded rows [file-granular tables,
    * else null], column count [when recorded], idempotence tag, whether a
    * recorded change feed exists). Driver metadata only — manifests, no
    * data reads.
    */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val (fsys, table) = fs(spark, tablePath)
    val rows = committedDown(fsys, listing(fsys, table)).toSeq.reverse.map { m =>
      val entries = entriesOf(fsys, table, m)
      val nrows = if (entries.nonEmpty && entries.forall(_.nrows.isDefined))
        Some(entries.map(_.nrows.get).sum) else None
      (m.v, m.meta.op, m.mtime, entries.size.toLong, nrows,
        m.meta.schema.map(_.fields.length), m.meta.tag, m.meta.changesDir.isDefined)
    }
    rows.toDF("version", "op", "commit_ms", "n_entries", "n_rows", "n_cols",
      "tag", "has_change_feed")
  }

  /** ONE REWRITE PIPELINE serves every row-level rewrite of the store:
    * [[merge]], [[deleteWhere]], [[updateWhere]], [[compactFiles]] and
    * [[optimizeTable]]. A public entry point decides only its SCOPE;
    * every stage after it is shared.
    *
    *  1. Scope ([[Scope]]): the base entries the rewrite replaces, by
    *     identity — an entry is replaced iff it may hold a row the
    *     rewrite changes. "May hold" has two sources of evidence:
    *     - STATS: on a file-granular base whose `#statskey` is the merge
    *       key, an entry's key range and bloom ([[coversAnyKey]]) decide
    *       with no scan;
    *     - DISCOVERY: otherwise one scan of the target collects the
    *       partition values of the rows that change (key-probed for a
    *       merge, predicate-filtered for predicate DML), and every entry
    *       of those partitions is replaced ([[partitionEntries]]).
    *     Maintenance (compactFiles, optimizeTable) names its victims from
    *     manifest metadata alone ([[victimScope]]).
    *  2. Rewrite: one DataFrame holding the new content of the replaced
    *     entries, which it reads through [[readAs]] and nothing else —
    *     the merge batch front ([[MergeBatch]]), the predicate body
    *     ([[rewriteWhere]]) or a maintenance repack. Moved and inserted
    *     rows land wherever their partition values say; they never pull
    *     another entry into the scope.
    *  3. Splice ([[rewriteCommit]]): the rows land in a FRESH `d_*` dir;
    *     the new files' entries ([[freshEntries]]) replace the scope's
    *     base entries and every other base entry carries over unchanged.
    *     No committed file is ever touched, so readers of every version
    *     are unaffected, and work is ∝ the scope, never ∝ the table. A
    *     recorded change feed lands in a `c_*` dir.
    *  4. Commit/rebase ([[commitRebasing]]): one manifest CAS pinned to
    *     the base ([[Base]]); a stats scope may re-validate a lost CAS and
    *     splice its already-written output onto a winner that left the
    *     scope's `readSet` entries and its batch key `probes` alone.
    */
  private final case class Scope(replaced: Seq[Entry], readSet: Set[Entry],
                                 probes: Array[(Long, Long)] = Array.empty)

  /** The table and version a rewrite reads, and the latest version its
    * commit expects: `expectedLatest`, else the base itself unless the
    * caller branched from an explicit `fromVersion` (then it owns the
    * reconciliation).
    */
  private final case class Base(fsys: FileSystem, table: Path, v: Int,
                                entries: Seq[Entry], meta: TableMeta,
                                expect: Option[Int])

  private def baseOf(spark: SparkSession, tablePath: String, fromVersion: Option[Int],
                     expectedLatest: Option[Int], what: String): Base = {
    val (fsys, table) = fs(spark, tablePath)
    val m = fromVersion.fold(latestOf(fsys, table))(manifestAt(fsys, table, _))
    val entries = entriesOf(fsys, table, m)
    requireUniformLayout(table, m.meta, entries, what)
    Base(fsys, table, m.v, entries, m.meta,
      expectedLatest.orElse(if (fromVersion.isEmpty) Some(m.v) else None))
  }

  /** Entries `es` of `base` read as the base serves them ([[readAs]]);
    * `target`, the base's full read, when they are all of its entries.
    */
  private def readScope(spark: SparkSession, base: Base, target: DataFrame,
                        es: Seq[Entry]): DataFrame =
    if (es == base.entries) target else readAs(spark, base.table, base.meta, es)

  /** A scoped rewrite: the entry point `what` (for messages), the
    * manifest `op`, the `rows` holding the new content of the whole scope
    * (written partitioned by `partCols`), the header block the commit
    * records, the change feed's (pre, post) images when recorded, the
    * idempotence `tag`, and how often a lost CAS may rebase.
    */
  private final case class Rewrite(what: String, op: String, rows: DataFrame,
                                   partCols: Seq[String], meta: TableMeta, scope: Scope,
                                   feed: Option[(DataFrame, DataFrame)] = None,
                                   tag: Option[String] = None, retries: Int = 0)

  /** The base entries of the partitions discovery found: `vals`, the
    * discovered rows' partition value tuples, rendered to the `col=value`
    * dir names Spark's writer produces (`String.valueOf`, so int-vs-long
    * boxing collapses). Each tuple was read from some entry, so a
    * rendering that names no entry means it drifted from the writer's:
    * that fails loudly instead of splicing the row's entry unchanged.
    */
  private def partitionEntries(base: Base, partCols: Seq[String], vals: Iterable[Seq[Any]],
                               what: String): Seq[Entry] = {
    val dirs = vals.iterator.map(partDirName(partCols, _)).toSet
    val lost = dirs -- base.entries.map(_.partDir)
    if (lost.nonEmpty) throw new IllegalStateException(
      s"$what: discovered partitions ${lost.mkString(",")} name no entry of v${base.v} of " +
        s"${base.table} — partition-value rendering drifted from Spark's writer")
    base.entries.filter(e => dirs(e.partDir))
  }

  /** FILE scope of a content-preserving maintenance rewrite: `victims`,
    * replaced by identity; their rows stay in their own partitions.
    */
  private def victimScope(victims: Seq[Entry]): Scope = Scope(victims, victims.toSet)

  /** The partition columns of `partCols` as `_tp0`, `_tp1`, … */
  private def partValues(partCols: Seq[String]): Seq[Column] =
    partCols.zipWithIndex.map { case (c, i) => col(c).as(s"_tp$i") }

  /** Stages 4 and 5 of the pipeline: write, check, splice, commit. */
  private def rewriteCommit(spark: SparkSession, base: Base, rw: Rewrite): Int = {
    val dd = newDataDir(base.fsys, base.table)
    rw.rows.write.mode(SaveMode.ErrorIfExists).partitionBy(rw.partCols: _*).parquet(dd.toString)
    val fresh = freshEntries(spark, base.table, dd, rw.meta,
      Some(listPartDirs(base.fsys, dd, rw.partCols.length)))
    val feedDir = rw.feed.map { case (pre, post) =>
      writeChangeFeed(base.fsys, base.table, pre, post) }
    commitRebasing(spark, base, rw, fresh, Seq(dd) ++ feedDir, feedDir.map(_.getName))
  }

  /** Commit `fresh` in place of the base entries `rw.scope` replaces,
    * pinned to `base.expect` (a branch with no pin never rebases). With
    * `rw.retries` > 0 a lost CAS REBASES — the Delta conflict
    * re-validation re-derived on file stats: the winner's commit is
    * re-checked against everything this rewrite read or decided on. If the winner's entry delta touches no entry of the
    * scope's read set and no file that may hold a batch key (so a merge's
    * matched/insert classification still holds), and schema, constraints
    * and stats headers are unchanged, the already-written output splices
    * onto the winner's manifest and the commit retries — no re-execution.
    * Retries pin the version actually spliced onto. A winner that WAS
    * this tagged batch (a redelivery) is honored as its result. Anything
    * the re-validation cannot prove disjoint conflicts loudly, exactly
    * like the zero-retry path, and removes `orphans`.
    */
  private def commitRebasing(spark: SparkSession, base: Base, rw: Rewrite,
                             fresh: Seq[Entry], orphans: Seq[Path],
                             changesDir: Option[String]): Int = {
    val (fsys, table) = (base.fsys, base.table)
    val replaced = rw.scope.replaced.toSet
    def commitOnto(onto: Seq[Entry], expect: Option[Int], orphanDirs: Seq[Path]): Int =
      commit(fsys, table, spark, onto.filterNot(replaced) ++ fresh, expect,
        orphanDirs, rw.meta, rw.op, rw.tag, changesDir)
    if (rw.retries <= 0 || base.expect.isEmpty)
      return commitOnto(base.entries, base.expect, orphans)
    def dropOrphans(): Unit =
      orphans.foreach(d => try fsys.delete(d, true) catch { case _: Throwable => () })
    def giveUp(why: String): Nothing = {
      dropOrphans()
      throw new ConcurrentWriteException(why)
    }
    val probes = rw.scope.probes
    var attempts = 0
    var ontoV = base.expect.get
    var onto = base.entries
    while (true) {
      try return commitOnto(onto, Some(ontoV), Seq.empty)
      catch {
        case e: ConcurrentWriteException =>
          if (attempts >= rw.retries)
            giveUp(s"${e.getMessage} (after $attempts rebase attempt(s))")
          attempts += 1
          rw.tag.flatMap(taggedVersion(spark, table.toString, _)) match {
            case Some(applied) =>
              dropOrphans()
              return applied
            case None =>
          }
          val top = latestOf(fsys, table)
          val (newV, newEntries) = (top.v, entriesOf(fsys, table, top))
          rebaseConflict(base.meta, top.meta).foreach(why =>
            giveUp(s"$why at v$newV of $table — cannot rebase"))
          val delta = (newEntries.toSet -- onto) ++ (onto.toSet -- newEntries)
          delta.find(rw.scope.readSet).foreach(d => giveUp(
            s"concurrent writer rewrote ${d.partDir}/${d.file.getOrElse("")} " +
              s"this ${rw.what} read — cannot rebase"))
          // Same bloom-assisted probe as the pruning: a delta file whose
          // stats PROVE it holds none of the batch keys cannot change the
          // matched/insert classification, added or removed.
          if (probes.nonEmpty)
            delta.find(d => d.kmin.isEmpty || coversAnyKey(d, probes)).foreach(d => giveUp(
              s"concurrent writer touched this ${rw.what}'s key space " +
                s"(${d.partDir}/${d.file.getOrElse("")}) — cannot rebase"))
          ontoV = newV
          onto = newEntries
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Why a commit prepared against base meta `bm` cannot rebase onto a
    * competitor's version (meta `nm`), if it cannot: the rebased commit
    * re-asserts the base's schema, constraints and stats headers, so a
    * competitor that changed any of them would be silently reverted.
    * Shape = (name, type) pairs: nullability legitimately drifts between
    * publish and merge rewrites and does not affect the splice; an ADDED
    * column (schema evolution) does, loudly.
    */
  private def rebaseConflict(bm: TableMeta, nm: TableMeta): Option[String] = {
    def shape(m: TableMeta) = m.schema.map(_.fields.map(f => (f.name, f.dataType)).toSeq)
    if (shape(nm) != shape(bm)) Some("concurrent schema change")
    else if (nm.constraints != bm.constraints) Some("concurrent constraint change")
    else if ((nm.statsKey, nm.statsKey2, nm.statsCols) !=
        ((bm.statsKey, bm.statsKey2, bm.statsCols)))
      Some("concurrent stats-dimension change")
    else None
  }

  /** `bm` as a merge or predicate-DML rewrite of `baseEntries` records
    * it: a file-granular base keeps its granularity — rewritten rows get
    * fresh per-file stats on EVERY recorded dimension in the one stats
    * scan, so compaction, optimize and 2-D / N-D stats-pruned reads keep
    * working after the rewrite — while a base with partition-granular
    * entries (or none) drops the stats headers.
    */
  private def rewriteMeta(bm: TableMeta, baseEntries: Seq[Entry]): TableMeta =
    if (baseEntries.nonEmpty && baseEntries.forall(_.file.isDefined)) bm
    else bm.copy(statsKey = None, statsKey2 = None, statsCols = Seq.empty)

  /** Manifest entries for a freshly written data dir `dd`: one per file,
    * carrying every stats dimension `meta` records (one stats scan), when
    * `meta` records a stats key and `dd` holds data; else one per leaf
    * partition dir. `written` is `dd`'s leaf dirs when the caller has
    * listed them; otherwise they are listed at `meta`'s partition depth.
    */
  private def freshEntries(spark: SparkSession, table: Path, dd: Path, meta: TableMeta,
                           written: Option[Seq[String]] = None): Seq[Entry] = {
    val dirs = written.getOrElse(listPartDirs(
      dd.getFileSystem(spark.sparkContext.hadoopConfiguration), dd, partDepth(meta)))
    if (meta.statsKey.isDefined && dirs.nonEmpty) fileStatsOf(spark, table, dd, meta)
    else dirs.map(Entry(_, dd.getName))
  }

  /** Persist a rewrite's change images (delete pre-images + insert
    * post-images) to a fresh `c_*` dir — batch-sized, flat parquet.
    */
  private def writeChangeFeed(fsys: FileSystem, table: Path,
                              preImages: DataFrame, postImages: DataFrame): Path = {
    val cd = new Path(table,
      s"c_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    preImages.withColumn("_change", lit("delete"))
      .unionByName(postImages.withColumn("_change", lit("insert")))
      .write.mode(SaveMode.ErrorIfExists).parquet(cd.toString)
    cd
  }

  /** `df` with `assignments` (column → new-value expression, evaluated
    * against the row) applied.
    */
  private def assign(df: DataFrame, assignments: Map[String, Column]): DataFrame =
    df.select(df.columns.toSeq.map(c => assignments.get(c).map(_.as(c)).getOrElse(col(c))): _*)

  /** Refuse `assignments` that name a column `target` lacks or change a
    * column's type.
    */
  private def requireAssignable(target: DataFrame, assignments: Map[String, Column],
                                what: String): Unit = {
    val unknown = assignments.keySet -- target.columns.toSet
    require(unknown.isEmpty,
      s"$what: assignments to unknown columns ${unknown.mkString(",")} — " +
        "assignments update existing columns; add columns via a schema-evolving merge")
    val shaped = assign(target.limit(0), assignments)
    require(shaped.schema.map(f => (f.name, f.dataType)) ==
        target.schema.map(f => (f.name, f.dataType)),
      s"$what: assignments must preserve column types " +
        s"(got ${shaped.schema.simpleString} vs ${target.schema.simpleString})")
  }

  /** `WHEN NOT MATCHED BY SOURCE` clause of a full-sync MERGE: what
    * happens to TARGET rows whose key appears nowhere in the source —
    * delete them (mirror sync: target becomes exactly the source's key
    * set) or update them in place (e.g. flag stale rows). The SQL
    * standard's third merge clause, applied by [[Versioned.merge]].
    */
  sealed trait NotMatchedBySource
  object NotMatchedBySource {
    case object Delete extends NotMatchedBySource
    final case class Update(assignments: Map[String, Column])
        extends NotMatchedBySource
  }

  /** Stage 2 of [[merge]]: the CDC `source` batch against
    * `target`. Construction validates the batch — an `_op` column, no
    * dropped target column, the target's key type — and collects it ONCE
    * on the driver ([[collectBatch]]): every decision derivable from the
    * batch alone is made on that metadata. [[rewrite]] turns a discovered
    * scope into the one-pass rewrite.
    *
    * Schema evolution (the Delta mergeSchema contract): the source may
    * carry MORE columns than the target — the new version's schema gains
    * them, pre-merge entries NULL-backfill on read, and time travel to
    * older versions still serves the old schema. Dropping a column is
    * refused: a narrower source usually means a wiring bug, not intent.
    */
  private final class MergeBatch(spark: SparkSession, source: DataFrame, target: DataFrame,
                                 keyCol: String, nms: Option[NotMatchedBySource]) {
    require(source.columns.contains("_op"),
      s"merge: source must carry an _op column, got ${source.columns.mkString(",")}")
    private val dataCols = source.columns.toSeq.filter(_ != "_op")
    private val missing = target.columns.filterNot(dataCols.contains)
    require(missing.isEmpty,
      s"merge: source is missing target columns ${missing.mkString(",")} — " +
        "columns may be ADDED, never dropped")
    val keyDt: org.apache.spark.sql.types.DataType = target.schema(keyCol).dataType
    // Driver-side key sets compare collected values with Java equals after
    // [[normKey]] widens integral types: decimals of different scales, a
    // float and a double, a string and a number never compare equal, so a
    // matched U would be lost and a matched I would duplicate its key.
    private val sourceKeyDt = source.schema(keyCol).dataType
    require(sourceKeyDt == keyDt ||
        (KeyEnc.Integral.contains(sourceKeyDt) && KeyEnc.Integral.contains(keyDt)),
      s"merge: source key $keyCol is ${sourceKeyDt.simpleString} but the target's is " +
        s"${keyDt.simpleString} — cast the source key to the target's type")
    val nmsUpdate: Option[Map[String, Column]] =
      nms.collect { case NotMatchedBySource.Update(as) => as }
    nmsUpdate.foreach(requireAssignable(target, _, "merge notMatchedBySource"))
    /** The winning (key, _op) rows, and the source filtered to them. */
    val (batchRows, src) = collectBatch(spark, source, keyCol)
    private val keyed = src.select((col(keyCol).as("_sk") +: col("_op").as("_sop") +:
      dataCols.map(c => col(c).as(s"_s_$c"))): _*)

    /** Keys of the winning rows carrying `op`, in batch order. */
    def keysOf(op: String): Seq[Any] =
      batchRows.iterator.filter(_.getString(1) == op).map(_.get(0)).toSeq

    /** The rewrite of a discovered scope — `scoped`, the target rows it
      * replaces (None: no file to rewrite); `matched`, the normalized batch
      * keys found in the target (a matched I is noise, an unmatched one an
      * insert) — validated against `constraints`, with the change feed's
      * (pre, post) images when `recordChanges`. Survivors, updated images
      * and NOT MATCHED BY SOURCE rows come out of ONE per-column
      * when/otherwise select over the scoped join; inserts need no target
      * anti-join, their keys are driver metadata already.
      */
    def rewrite(scoped: Option[DataFrame], matched: Set[Any],
                constraints: Seq[(String, String)], recordChanges: Boolean)
        : (DataFrame, Option[(DataFrame, DataFrame)]) = {
      val sop = col("_sop")
      val isU = sop === "U"
      // Matched I and K (membership only) rows always survive; a
      // source-less row survives unless NOT MATCHED BY SOURCE deletes it
      // (an Update rewrites it in the select below).
      val noise = sop.isin("I", "K")
      val keep =
        if (nms.contains(NotMatchedBySource.Delete)) noise else sop.isNull || noise
      def prior(c: String): Column =
        if (target.columns.contains(c)) col(c) else lit(null).cast(source.schema(c).dataType)
      def survivor(c: String): Column =
        nmsUpdate.flatMap(_.get(c)).fold(prior(c))(a => when(sop.isNull, a).otherwise(col(c)))
      val images = dataCols.map(c => when(isU, col(s"_s_$c")).otherwise(survivor(c)).as(c))
      val joined = scoped.map(_.join(broadcast(keyed), col(keyCol) === col("_sk"), "left"))
      val iKeys = keysOf("I")
      val insertKeys = iKeys.filterNot(k => matched(normKey(k)))
      val iRows = keyed.filter(sop === "I")
      val inserts =
        (if (insertKeys.size == iKeys.size) iRows
         else filterByKeys(spark, iRows, col("_sk"), keyDt, insertKeys, keep = true))
          .select(dataCols.map(c => col(s"_s_$c").as(c)): _*)
      val rows = joined.fold(inserts)(_.filter(keep || isU).select(images: _*).unionByName(inserts))
      val changedRow = if (nmsUpdate.isDefined) isU || sop.isNull else isU
      lazy val changed =
        joined.fold(inserts)(_.filter(changedRow).select(images: _*).unionByName(inserts))
      if (constraints.nonEmpty) validateConstraints(changed, constraints)
      dumpPlan("merge_rewrite", rows)
      val feed =
        if (!recordChanges) None
        else {
          // pre-images (in the NEW schema: added columns NULL-backfill) of
          // every row the merge deletes or updates
          val removed = if (nms.isEmpty) sop.isin("U", "D") else sop.isin("U", "D") || sop.isNull
          Some((joined.fold(changed.limit(0))(
            _.filter(removed).select(dataCols.map(c => prior(c).as(c)): _*)), changed))
        }
      (rows, feed)
    }
  }

  /** MERGE `source` INTO the table, against base version `fromVersion`
    * (default: latest), publishing the result as a new version — the
    * store's one MERGE, on every layout.
    *
    * `source` carries the table's columns plus `_op` ('U' update / 'D'
    * delete / 'I' insert / 'K' keep), keyed by a column of the target's
    * key type (integral widths may differ). Per key, AT MOST ONE operation
    * applies: if the batch carries several rows for a key, precedence is
    * D > U > I > K (a batch that says both "update" and "delete"
    * deletes); two rows with the SAME op for one key are rejected loudly
    * — silently picking one image is how upserts corrupt tables. 'K'
    * rewrites nothing: it only asserts the key's MEMBERSHIP in the
    * source, so a full-sync merge (`notMatchedBySource`) can cover its
    * unchanged keys without rewriting their entries.
    *
    * Scope (the rewrite pipeline's stage 1): a base entry is replaced iff
    * it may hold a row the batch changes — a matched U/D key or, under
    * NOT MATCHED BY SOURCE, a source-less row; every other entry is
    * spliced from the base manifest unchanged. The evidence comes from
    * the base itself:
    *  - STATS — a file-granular base whose `#statskey` is `keyCol` (the
    *    q208 manifest idea applied to the merge scope, as Delta/Iceberg
    *    rewrite only AFFECTED FILES): the files whose key range and bloom
    *    can hold a U/D key, with no scan ([[coversAnyKey]]; [[KeyEnc]]
    *    makes integral, string and date keys probe alike). A hot
    *    partition's rewrite costs O(files holding the keys).
    *  - DISCOVERY — any other base: ONE scan of the target, key-probed by
    *    a PUSHED In filter for driver-sized batches (row-group skipping
    *    reaches the scan) or a broadcast join beyond [[IsinMaxKeys]],
    *    collects (key, partition values) of the matched rows; every entry
    *    of a partition holding a matched U/D key is replaced.
    * Matched I keys (noise, not inserts) come from the same discovery
    * scan, on a stats base run only over the files whose stats cannot
    * rule an I key out — a U/D-only batch there runs no scan at all.
    * Moved updates and inserts land as NEW entries in the fresh data dir;
    * an emptied partition just has no manifest entry. The only driver
    * collects are the batch and the discovery's matched keys.
    *
    * `notMatchedBySource` adds the SQL standard's third clause — WHEN NOT
    * MATCHED BY SOURCE THEN DELETE/UPDATE — applied to target rows whose
    * key appears nowhere in the source (full-sync/mirror merges). Stats
    * cannot prove a file free of source-less rows, so the clause always
    * discovers: one aggregate over the whole target (inherent: source
    * absence is undecidable without seeing every row) returns, per
    * partition, its matched keys and whether it holds a source-less row;
    * a source covering every key rewrites nothing extra.
    *
    * Concurrency: when `fromVersion` is None (merge against latest),
    * `expectedLatest` defaults to the base actually read, so a concurrent
    * writer that advanced the table mid-merge fails THIS commit loudly
    * instead of this commit silently discarding that writer's version.
    * Passing `fromVersion` opts into deliberate branching from an old
    * base (no default pin — the caller owns reconciliation). A `tag`
    * already committed is an idempotent replay: its version returns — the
    * exactly-once contract a streaming CDC writer needs when a
    * micro-batch is redelivered. On a stats scope `rebaseRetries` > 0 lets
    * a lost CAS rebase ([[commitRebasing]]) with the entries read as its
    * read set and the batch keys as its probes; a discovery scope read
    * every entry and its base's entries carry no key stats to prove a
    * concurrent delta disjoint, so any concurrent commit fails it.
    *
    * `recordChanges = true` additionally persists the merge's per-row
    * change images (Delta CDF's _change_data convention: an update is a
    * delete+insert image pair) to a `c_*` dir referenced by a `#changes`
    * manifest line — the exact feed [[recordedChanges]] and the streaming
    * change-feed source serve without ever diffing versions. Cost: one
    * extra batch-sized write job; a failed commit removes the dir with
    * the data-dir orphan.
    */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
            keyCol: String, partCol: String,
            fromVersion: Option[Int] = None,
            expectedLatest: Option[Int] = None,
            tag: Option[String] = None,
            recordChanges: Boolean = false,
            notMatchedBySource: Option[NotMatchedBySource] = None,
            rebaseRetries: Int = 0): Int = {
    val replayed = tag.flatMap(taggedVersion(spark, tablePath, _))
    if (replayed.isDefined) return replayed.get
    val base = baseOf(spark, tablePath, fromVersion, expectedLatest, "merge")
    val target = readAt(spark, tablePath, base.v)
    val partCols = partColsOf(partCol)
    requirePartitionable(target.schema, partCol)
    val b = new MergeBatch(spark, source, target, keyCol, notMatchedBySource)
    // Scope evidence: the base's own key stats when every entry records
    // them on keyCol; stats cannot prove a file free of source-less rows,
    // so NOT MATCHED BY SOURCE always discovers.
    val byStats = notMatchedBySource.isEmpty && base.entries.nonEmpty &&
      base.entries.forall(_.file.isDefined) && base.meta.statsKey.contains(keyCol)
    // Probes sorted by range surrogate: O(|files| log |keys|) per probe set.
    def probesOf(keys: Seq[Any]) = keys.map(KeyEnc.probeOf).toArray.sortBy(_._1)
    def mayHold(keys: Seq[Any]): Seq[Entry] = {
      val ps = probesOf(keys)
      base.entries.filter(coversAnyKey(_, ps))
    }
    val batchKeys = b.batchRows.map(_.get(0)).toSeq.distinct
    val udKeys = b.keysOf("U") ++ b.keysOf("D")
    val scanned = if (byStats) mayHold(b.keysOf("I")) else base.entries
    val nPart = partCols.length
    // Discovery: per partition value tuple, the matched keys it holds;
    // under NOT MATCHED BY SOURCE also the tuples holding source-less rows.
    val (matchedByPart, sourceLess): (Seq[(Seq[Any], Set[Any])], Seq[Seq[Any]]) =
      if (scanned.isEmpty) (Seq.empty, Seq.empty)
      else if (notMatchedBySource.isEmpty) {
        val probe = readScope(spark, base, target, scanned)
          .select((col(keyCol).as("_mk") +: partValues(partCols)): _*)
        val disc = filterByKeys(spark, probe, col("_mk"), b.keyDt,
          if (byStats) b.keysOf("I") else batchKeys, keep = true)
        dumpPlan("merge_discovery", disc)
        (disc.collect().groupBy(r => (1 to nPart).map(r.get): Seq[Any]).toSeq
          .map { case (pv, rs) => (pv, rs.map(r => normKey(r.get(0))).toSet) }, Seq.empty)
      } else {
        // The clause's inherent full pass doubles as the match probe: one
        // aggregate returns, per partition, the row count, the matched
        // count and the matched keys (bounded by the batch).
        val (df0, mk) = withMatchedKey(spark, target, col(keyCol), b.keyDt, batchKeys)
        val disc = df0.groupBy(partValues(partCols): _*)
          .agg(count(lit(1)).as("_n"), count(mk).as("_nm"), collect_set(mk).as("_mks"))
        dumpPlan("merge_discovery", disc)
        val rows = disc.collect().toSeq
        def vals(r: Row): Seq[Any] = (0 until nPart).map(r.get)
        (rows.map(r => (vals(r), r.getSeq[Any](nPart + 2).map(normKey).toSet)),
          rows.filter(r => r.getLong(nPart) > r.getLong(nPart + 1)).map(vals))
      }
    val replaced =
      if (byStats) mayHold(udKeys)
      else {
        val ud = udKeys.map(normKey).toSet
        partitionEntries(base, partCols,
          matchedByPart.collect { case (pv, ks) if ks.exists(ud) => pv } ++ sourceLess, "merge")
      }
    val (rows, feed) = b.rewrite(
      if (replaced.isEmpty) None else Some(readScope(spark, base, target, replaced)),
      matchedByPart.iterator.flatMap(_._2).toSet, base.meta.constraints, recordChanges)
    rewriteCommit(spark, base, Rewrite("merge", "MERGE", rows, partCols,
      rewriteMeta(base.meta, base.entries).copy(schema = Some(rows.schema)),
      Scope(replaced, (replaced ++ scanned).toSet,
        if (byStats) probesOf(batchKeys) else Array.empty),
      feed, tag, if (byStats) rebaseRetries else 0))
  }

  /** DELETE WHERE: remove every row where `predicate` IS TRUE (NULL keeps
    * the row — SQL DELETE semantics), publishing the result as a new
    * version; [[rewriteWhere]] with no surviving image. Same base pinning
    * as [[merge]]; `recordChanges` persists the deleted pre-images for the
    * change feed.
    */
  def deleteWhere(spark: SparkSession, tablePath: String, predicate: Column,
                  partCol: String,
                  fromVersion: Option[Int] = None,
                  expectedLatest: Option[Int] = None,
                  recordChanges: Boolean = false): Int =
    rewriteWhere(spark, tablePath, predicate, None, partCol, fromVersion,
      expectedLatest, recordChanges, "deleteWhere", "DELETE")

  /** UPDATE WHERE: apply `assignments` (column → new-value expression,
    * evaluated against the row) to every row where `predicate` IS TRUE
    * (NULL leaves the row unchanged — SQL UPDATE semantics); see
    * [[rewriteWhere]]. Same base pinning as [[merge]]; `recordChanges`
    * persists the update's delete+insert image pairs.
    */
  def updateWhere(spark: SparkSession, tablePath: String, predicate: Column,
                  assignments: Map[String, Column], partCol: String,
                  fromVersion: Option[Int] = None,
                  expectedLatest: Option[Int] = None,
                  recordChanges: Boolean = false): Int =
    rewriteWhere(spark, tablePath, predicate, Some(assignments), partCol, fromVersion,
      expectedLatest, recordChanges, "updateWhere", "UPDATE")

  /** Predicate DML, a discovery scope: rows where `predicate` IS TRUE
    * get `assignments` applied; a delete (None) keeps no image of them.
    * Discovery is one filtered scan whose predicate Catalyst pushes down
    * (a predicate on the partition column prunes the discovery itself),
    * collecting the partition VALUES of the matching rows:
    * metadata-sized. Those partitions' entries are rewritten, rows an
    * update moves land as new entries, everything else splices, an
    * emptied partition vanishes. Nothing matching (and no feed to record)
    * commits nothing and returns the base.
    */
  private def rewriteWhere(spark: SparkSession, tablePath: String, predicate: Column,
                           assignments: Option[Map[String, Column]], partCol: String,
                           fromVersion: Option[Int], expectedLatest: Option[Int],
                           recordChanges: Boolean, what: String, op: String): Int = {
    val base = baseOf(spark, tablePath, fromVersion, expectedLatest, what)
    val target = readAt(spark, tablePath, base.v)
    assignments.foreach(requireAssignable(target, _, what))
    def applied(df: DataFrame): Option[DataFrame] = assignments.map(assign(df, _))
    val isMatch = coalesce(predicate, lit(false)) // NULL predicate = keep
    val partCols = partColsOf(partCol)
    val touched = target.filter(isMatch).select(partValues(partCols): _*).distinct().collect()
    if (touched.isEmpty && !recordChanges) return base.v
    val replaced = partitionEntries(base, partCols,
      touched.toSeq.map(r => partCols.indices.map(r.get)), what)
    val scoped = readScope(spark, base, target, replaced)
    val updated = applied(scoped.filter(isMatch))
    val rows = updated.fold(scoped.filter(!isMatch))(scoped.filter(!isMatch).unionByName(_))
    dumpPlan(s"${what.toLowerCase}_rewrite", rows)
    // a delete adds no rows: constraints cannot be violated, only carried
    updated.foreach(validateConstraints(_, base.meta.constraints))
    rewriteCommit(spark, base, Rewrite(what, op, rows, partCols,
      rewriteMeta(base.meta, base.entries).copy(schema = Some(target.schema)),
      Scope(replaced, base.entries.toSet),
      if (recordChanges) Some((scoped.filter(isMatch), updated.getOrElse(rows.limit(0))))
      else None))
  }

  /** DELETE by key via DELETION VECTORS — the public Delta DV / Iceberg
    * delete-file idea re-derived key-based under the store's unique-key
    * contract: instead of rewriting a whole file to drop a few rows, the
    * new version's manifest points the affected entries at a sidecar
    * listing the deleted keys, and every read path subtracts them
    * (`readEntries` subtracts each sidecar from ITS OWN file only — a
    * global anti-filter would be unsound: a later merge may legitimately
    * re-insert a DV-deleted key into a NEW file, and the reincarnation
    * must be served; q229's spec pins this). The data files are NOT touched: a small
    * delete on a 100 TB table costs one metadata-sized sidecar per
    * affected file instead of a file rewrite — the write-amplification
    * fix that makes frequent GDPR-style point deletes affordable. DVs are
    * MATERIALIZED away by any rewrite of the file (merge, compact,
    * optimize all read through the DV), deletes on an already-DV'd file
    * merge into a fresh sidecar (versions stay immutable), time travel
    * before the delete still serves the rows, and vacuum retires sidecar
    * dirs with the manifests that reference them. The key list is
    * metadata-sized by contract — a large delete wants [[deleteWhere]] /
    * [[merge]], which rewrite.
    */
  def deleteKeys(spark: SparkSession, tablePath: String, keys: Seq[Long],
                 expectedLatest: Option[Int] = None,
                 recordChanges: Boolean = false): Int = {
    val (fsys, table) = fs(spark, tablePath)
    val top = latestOf(fsys, table)
    val base = top.v
    val baseEntries = entriesOf(fsys, table, top)
    require(baseEntries.forall(_.file.isDefined),
      "deleteKeys needs a file-granular table (publish with fileStatsKey)")
    val bm = top.meta
    val keyCol = bm.statsKey.getOrElse(
      throw new IllegalArgumentException(
        s"v$base of $tablePath carries no #statskey — deletion vectors key on it"))
    val sorted = keys.distinct.sorted.toArray
    require(sorted.nonEmpty, "deleteKeys: empty key list")
    // Long-keyed probes are only meaningful against integral-key stats:
    // a string/date-keyed table's [kmin, kmax] are ordered surrogates
    // ([[KeyEnc]]), and raw longs would probe the wrong domain.
    bm.schema.foreach { s =>
      require(KeyEnc.Integral.contains(s(keyCol).dataType),
        s"deleteKeys takes Long keys; $keyCol is ${s(keyCol).dataType} — " +
          "use deleteWhere/merge for non-integral keys")
    }
    // Only files that can HOLD a deleted key need a sidecar (range +
    // bloom probe); a key beyond every file is a no-op by construction.
    val victims = baseEntries.filter(coversAnyKey(_, sorted.map(k => (k, k))))
    if (victims.isEmpty) return base
    val victimSet = victims.toSet
    // Recorded pre-images must be captured BEFORE the new DVs exist:
    // readEntries applies the victims' OLD sidecars, so re-deleted keys
    // (already absent) contribute no image.
    val feedDir =
      if (!recordChanges) None
      else {
        val pre = readAs(spark, table, bm, victims).filter(
          col(keyCol).cast("long").isin(sorted.map(java.lang.Long.valueOf): _*))
        Some(writeChangeFeed(fsys, table, pre, pre.limit(0)))
      }
    val dvDir = newDataDir(fsys, table)
    val fresh = victims.map { e =>
      val mine = sorted.filter(k => e.kmin.get <= k && k <= e.kmax.get &&
        e.bloom.forall(b => KeyBloom.mightContain(KeyBloom.fromHex(b), k))).toSeq
      val merged = e.dv match {
        case Some(old) => (readDvFile(fsys, new Path(table, old))._2 ++ mine).distinct.toSeq
        case None => mine
      }
      val rel = s"${dvDir.getName}/${e.partDir}/${e.file.get}.dv"
      writeDvFile(fsys, new Path(table, rel), keyCol, merged)
      e.copy(dv = Some(rel))
    }
    // DV commits rewrite no file, so every recorded stats bound stays valid
    commit(fsys, table, spark, baseEntries.filterNot(victimSet) ++ fresh,
      expectedLatest.orElse(Some(base)), Seq(dvDir) ++ feedDir.toSeq, bm, "DELETE_DV",
      changesDir = feedDir.map(_.getName))
  }

  /** A maintenance rewrite splices every entry it does not replace with
    * the stats it recorded, and packs on them: the base must be file-granular with
    * its stats on `keyCol` — range pruning on another column's stats could
    * skip a file that holds a key, and the new files' stats would mix two
    * columns under one `#statskey`.
    */
  private def requireFileStats(base: Base, keyCol: String, what: String): Unit = {
    require(base.entries.forall(_.file.isDefined),
      s"$what needs a file-granular base — publish with fileStatsKey")
    require(base.meta.statsKey.contains(keyCol),
      s"base v${base.v} carries file stats on ${base.meta.statsKey.getOrElse("<none>")}, " +
        s"not $keyCol — $what on mismatched stats would be unsound")
  }

  /** True iff some probe of `sorted` — (range encoding, bloom key) pairs
    * ascending by encoding ([[KeyEnc.probeOf]]; for integral keys both
    * are the value) — lands in the entry's [kmin, kmax] range AND passes
    * its Bloom filter (when one is carried): the range probe bounds the
    * candidate keys, the bloom then rules out in-range keys the file
    * provably does not contain — sparse key spaces and overlapping ranges
    * after merges are exactly where range stats alone over-select. A
    * bloom-negative skip is sound (no false negatives); a missing or
    * saturated bloom degrades to the pure range probe.
    */
  private def coversAnyKey(e: Entry, sorted: Array[(Long, Long)]): Boolean = {
    val bloom = e.bloom.map(KeyBloom.fromHex)
    val hi = e.kmax.get
    var l = firstAtLeast(e.kmin.get, sorted.length)(sorted(_)._1)
    while (l < sorted.length && sorted(l)._1 <= hi) {
      if (bloom.forall(KeyBloom.mightContain(_, sorted(l)._2))) return true
      l += 1
    }
    false
  }

  /** True iff `sorted` (ascending) contains a key in [lo, hi]: binary
    * search for the first key ≥ lo, then one bound check.
    */
  private[graft] def coversAny(lo: Long, hi: Long, sorted: Array[Long]): Boolean = {
    val l = firstAtLeast(lo, sorted.length)(sorted(_))
    l < sorted.length && sorted(l) <= hi
  }

  /** Index of the first of `n` ascending keys (`keyAt(i)`) that is ≥ `lo`,
    * `n` when there is none — the binary search behind both range probes.
    */
  private def firstAtLeast(lo: Long, n: Int)(keyAt: Int => Long): Int = {
    var l = 0
    var r = n
    while (l < r) {
      val m = (l + r) >>> 1
      if (keyAt(m) < lo) l = m + 1 else r = m
    }
    l
  }

  // COLUMN MAPPING (`#colmap\t<logical>\t<former1>,<former2>` headers,
  // `TableMeta.colMap`), for the DSv2 readers: logical column → the FORMER
  // names its bytes may carry in files written before a rename, newest
  // first. The store's rename/drop are header-only (Delta's name-mapping
  // re-derived without physical UUIDs): files are never rewritten,
  // writers always write CURRENT logical names, and reads resolve each
  // logical column to the first of (logical, aliases...) present in a
  // file. Soundness rests on a NAME-REUSE REFUSAL: a name that ever left
  // the schema (renamed away or dropped) is tombstoned (`#coldropped`)
  // and can never be re-added — otherwise old files' bytes under that
  // name would resurrect into the new column instead of NULL-backfilling.

  // A column is load-bearing when a header or constraint names it — the
  // partition layout, the stats domain, and constraint expressions all
  // break under a rename/drop, so those are refused loudly.
  private def requireNotLoadBearing(bm: TableMeta, name: String, what: String): Unit = {
    bm.partCol.foreach(pc =>
      require(!partColsOf(pc).contains(name),
        s"cannot $what $name: it is the partition column"))
    bm.statsKey.foreach(k =>
      require(k != name, s"cannot $what $name: it is the file-stats key"))
    bm.statsKey2.foreach(k =>
      require(k != name, s"cannot $what $name: it is the second stats column"))
    bm.constraints.foreach { case (cn, expr) =>
      require(!s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
          .findFirstIn(expr).isDefined,
        s"cannot $what $name: CHECK constraint $cn references it ($expr)")
    }
  }

  /** ALTER TABLE RENAME COLUMN — header-only commit: the schema renames
    * the field in place, the column map gains the old name as an alias
    * (old files keep serving through it), and the old name is tombstoned
    * against re-introduction. Time travel before the rename serves the
    * OLD schema and resolves with the OLD map.
    */
  def renameColumn(spark: SparkSession, tablePath: String,
                   oldName: String, newName: String,
                   expectedLatest: Option[Int] = None): Int = {
    Seq(oldName, newName).foreach(n => require(
      !n.exists(c => c == '\t' || c == '\n' || c == ','),
      s"column name must be tab/newline/comma-free: $n"))
    val top = committedSnapshot(spark, tablePath)
    val (bm, baseSchema) = (top.meta, top.schema)
    require(baseSchema.fieldNames.contains(oldName),
      s"no such column $oldName in ${baseSchema.fieldNames.mkString(",")}")
    require(!baseSchema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column $newName already exists")
    requireNotLoadBearing(bm, oldName, "rename")
    val map = bm.colMap
    val taken = bm.droppedCols ++ map.values.flatten
    require(!taken.contains(newName),
      s"column name $newName was previously used (files may still carry " +
        "its bytes) — pick a fresh name")
    val evolved = org.apache.spark.sql.types.StructType(baseSchema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // An EXTRA stats dimension renames WITH the column (same position, so
    // every entry's positional xstats bounds stay valid — they are bounds
    // over values, not names); unlike the first-class stats keys this is
    // not load-bearing for merges, so refusing would be needless friction.
    commit(top.fsys, top.table, spark, top.entries,
      expectedLatest.orElse(Some(top.version)), Seq.empty,
      bm.copy(schema = Some(evolved),
        statsCols = bm.statsCols.map(c => if (c == oldName) newName else c),
        colMap = (map - oldName) +
          (newName -> (oldName +: map.getOrElse(oldName, Seq.empty))),
        droppedCols = bm.droppedCols + oldName),
      s"RENAME_COLUMN($oldName->$newName)", ownsColumnMapping = true)
  }

  /** ALTER TABLE DROP COLUMN — header-only commit: the schema loses the
    * field, files are untouched (the bytes stay, unprojected), the name
    * and every alias it carried are tombstoned against re-introduction.
    * Time travel before the drop still serves the column.
    */
  def dropColumn(spark: SparkSession, tablePath: String, name: String,
                 expectedLatest: Option[Int] = None): Int = {
    val top = committedSnapshot(spark, tablePath)
    val (bm, baseSchema) = (top.meta, top.schema)
    require(baseSchema.fieldNames.contains(name),
      s"no such column $name in ${baseSchema.fieldNames.mkString(",")}")
    require(baseSchema.fields.length > 1, "cannot drop the last column")
    requireNotLoadBearing(bm, name, "drop")
    val evolved = org.apache.spark.sql.types.StructType(
      baseSchema.fields.filterNot(_.name == name))
    // Dropping an EXTRA stats dimension drops it from the header AND
    // strips its positional slot from every entry's xstats — leaving the
    // stale name would permanently break ingest (every later append's
    // stats scan would look the dropped column up), and leaving the slot
    // would misalign the surviving dimensions' positional bounds.
    val dimIdx = bm.statsCols.indexOf(name)
    val entries = top.entries.map { e =>
      if (dimIdx < 0) e
      else e.copy(xstats = e.xstats.flatMap { x =>
        val slots = x.split(",", -1).toSeq
        val kept = slots.take(dimIdx) ++ slots.drop(dimIdx + 1)
        if (kept.forall(s => s == ":" || s.isEmpty)) None
        else Some(kept.mkString(","))
      })
    }
    commit(top.fsys, top.table, spark, entries,
      expectedLatest.orElse(Some(top.version)), Seq.empty,
      bm.copy(schema = Some(evolved), statsCols = bm.statsCols.filterNot(_ == name),
        colMap = bm.colMap - name,
        droppedCols = bm.droppedCols ++ bm.colMap.getOrElse(name, Seq.empty) + name),
      s"DROP_COLUMN($name)", ownsColumnMapping = true)
  }

  /** ALTER TABLE ADD COLUMN: commit a new version with the SAME entries
    * and an evolved `#schema` — pure metadata, no file is touched.
    * Existing rows NULL-backfill on read (the same alignment contract a
    * schema-evolving merge establishes) and time travel before the ALTER
    * serves the old schema. New fields must be nullable (every existing
    * row lacks a value) and must not collide with existing columns.
    */
  def addColumns(spark: SparkSession, tablePath: String,
                 fields: Seq[org.apache.spark.sql.types.StructField],
                 expectedLatest: Option[Int] = None): Int = {
    require(fields.nonEmpty, "addColumns: no fields given")
    val top = committedSnapshot(spark, tablePath)
    val (bm, baseSchema) = (top.meta, top.schema)
    val unusable = bm.droppedCols ++ bm.colMap.values.flatten
    fields.foreach { f =>
      require(!baseSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"column ${f.name} already exists in ${baseSchema.fieldNames.mkString(",")}")
      require(f.nullable,
        s"added column ${f.name} must be nullable — existing rows have no value")
      // name-reuse refusal: old files may still carry bytes under this
      // name — re-adding it would resurrect them instead of NULLs
      require(!unusable.contains(f.name),
        s"column name ${f.name} was previously renamed away or dropped — " +
          "pick a fresh name")
    }
    val evolved = org.apache.spark.sql.types.StructType(baseSchema.fields ++ fields)
    commit(top.fsys, top.table, spark, top.entries,
      expectedLatest.orElse(Some(top.version)), Seq.empty, bm.copy(schema = Some(evolved)),
      s"ADD_COLUMN(${fields.map(_.name).mkString(",")})")
  }

  /** ALTER TABLE ALTER COLUMN TYPE — WIDENING only (int family upward,
    * float→double; the public Delta type-widening table): a header-only
    * commit whose evolved `#schema` records the wider type, files are
    * never rewritten. Old files keep their narrow bytes; every read path
    * widens per file — the DSv2 readers consult each file's PHYSICAL
    * parquet type ([[graft.sources.VersionedColumnarReader]]), and the Scala read path
    * reads per data dir (one write job each, so types are uniform within
    * a dir) and lets union coercion + the schema alignment cast widen.
    * Narrowing is refused (it could truncate committed values); time
    * travel before the ALTER serves the old type. Widening the stats
    * key / stats columns is sound: the manifest's KeyEnc surrogates are
    * the identity on every integral width.
    */
  def widenColumnType(spark: SparkSession, tablePath: String, name: String,
                      newType: org.apache.spark.sql.types.DataType,
                      expectedLatest: Option[Int] = None): Int = {
    import org.apache.spark.sql.types._
    val top = committedSnapshot(spark, tablePath)
    val (bm, baseSchema) = (top.meta, top.schema)
    require(baseSchema.fieldNames.contains(name),
      s"no such column $name in ${baseSchema.fieldNames.mkString(",")}")
    val oldType = baseSchema(name).dataType
    // Exact widenings only (every old value representable in the new
    // type): the integral family upward, float -> double, and the small
    // integrals -> double (int32 is exact in an IEEE double). long ->
    // double is EXCLUDED — it silently loses precision above 2^53.
    val widenings: Map[DataType, Set[DataType]] = Map(
      ByteType -> Set(ShortType, IntegerType, LongType, DoubleType),
      ShortType -> Set(IntegerType, LongType, DoubleType),
      IntegerType -> Set(LongType, DoubleType),
      FloatType -> Set(DoubleType))
    require(widenings.get(oldType).exists(_.contains(newType)),
      s"cannot alter $name: $oldType -> $newType is not a supported widening " +
        "(byte/short/int upward within the integral family or to double, " +
        "float -> double)")
    // Partition values are directory strings typed by the recorded schema;
    // widening one buys nothing and complicates the layout contract.
    bm.partCol.foreach(pc =>
      require(!partColsOf(pc).contains(name),
        s"cannot alter $name: it is a partition column"))
    val evolved = StructType(baseSchema.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    commit(top.fsys, top.table, spark, top.entries,
      expectedLatest.orElse(Some(top.version)), Seq.empty, bm.copy(schema = Some(evolved)),
      s"WIDEN_COLUMN($name:${oldType.simpleString}->${newType.simpleString})")
  }

  /** Version `v`'s recorded change-feed dir, if its commit recorded one.
    * A vacuumed manifest or feed dir fails loudly, naming `v`: read as
    * "no recorded feed", it would silently lose `v`'s changes.
    */
  private[graft] def recordedFeedOf(spark: SparkSession, tablePath: String,
                                    v: Int): Option[Path] = {
    val s = snapshot(spark, tablePath, v)
    s.meta.changesDir.map { d =>
      val dir = new Path(s.table, d)
      require(s.fsys.exists(dir), s"the recorded change feed of version $v " +
        s"does not exist (or was vacuumed) at ${s.table}")
      dir
    }
  }

  /** ADD a CHECK constraint (SQL-expression CHECK, NULL = pass — the SQL
    * standard and Delta's contract): validates the ENTIRE current table
    * now (one scan — the ALTER TABLE ADD CONSTRAINT price), then commits
    * a new version whose header carries it. Every subsequent
    * publish/merge/updateWhere validates its NEW rows against the carried
    * constraints and refuses the commit on a violation — spliced rows
    * were validated when they were written, so enforcement cost is
    * ∝ changed rows, never ∝ table.
    */
  def addConstraint(spark: SparkSession, tablePath: String,
                    name: String, sqlExpr: String,
                    expectedLatest: Option[Int] = None): Int = {
    require(!name.contains('\t') && !name.contains('\n') && !sqlExpr.contains('\n'),
      "constraint name must be tab/newline-free and the expression single-line")
    val top = snapshot(spark, tablePath)
    val bm = top.meta
    require(!bm.constraints.exists(_._1 == name), s"constraint $name already exists")
    validateConstraints(readAt(spark, tablePath, top.version), Seq((name, sqlExpr)))
    commit(top.fsys, top.table, spark, top.entries,
      expectedLatest.orElse(Some(top.version)), Seq.empty,
      bm.copy(constraints = bm.constraints :+ ((name, sqlExpr))), "ADD_CONSTRAINT")
  }

  /** DROP a CHECK constraint by name (a new version without it). */
  def dropConstraint(spark: SparkSession, tablePath: String, name: String,
                     expectedLatest: Option[Int] = None): Int = {
    val top = snapshot(spark, tablePath)
    val bm = top.meta
    require(bm.constraints.exists(_._1 == name), s"no constraint named $name")
    commit(top.fsys, top.table, spark, top.entries,
      expectedLatest.orElse(Some(top.version)), Seq.empty,
      bm.copy(constraints = bm.constraints.filterNot(_._1 == name)), "DROP_CONSTRAINT")
  }

  /** Fail loudly if any row of `df` violates a constraint (NULL passes —
    * SQL CHECK semantics). One filter + limit(1) job per constraint,
    * evaluated before the commit so a refusal leaves no orphans: the
    * store's own writers check before they write a file, and a staged
    * write ([[graft.sources.StagedWrite]]) deletes its promoted dir.
    */
  private def validateConstraints(df: DataFrame, cs: Seq[(String, String)]): Unit =
    cs.foreach { case (n, e) =>
      val bad = df.filter(!coalesce(expr(e), lit(true))).limit(1).collect()
      if (bad.nonEmpty)
        throw new ConstraintViolationException(
          s"CHECK constraint $n ($e) violated, e.g. by row ${bad.head}")
    }

  /** Range + bloom probe of an entry against a sorted key set — the
    * runtime-filter variant of a stats-scoped [[merge]]'s pruning. Entries
    * without stats conservatively survive.
    */
  private[graft] def viewMayContainKeys(e: Entry, sorted: Array[Long]): Boolean =
    viewMayContainProbes(e, sorted.map(k => (k, k)))

  /** Range + bloom check of an entry against (range-surrogate, bloom-key)
    * probes ([[KeyEnc.probeOf]]) — the string-keyed runtime-filter analog
    * of [[viewMayContainKeys]], sorted by the range surrogate.
    */
  private[graft] def viewMayContainProbes(e: Entry,
                                          sorted: Array[(Long, Long)]): Boolean =
    e.kmin.isEmpty || e.kmax.isEmpty || coversAnyKey(e, sorted)

  /** Deleted keys of a serialized deletion-vector path of `s` — planning-time
    * helper for the DSv2 connector (metadata-sized by the DV contract).
    */
  private[graft] def dvKeysOf(s: Snapshot, dvPath: String): Array[Long] =
    readDvFile(s.fsys, new Path(s.table, dvPath))._2

  /** Live row count of `s`'s file entries `es` from manifest metadata
    * alone: recorded physical rows minus their deletion vectors' key
    * counts. None when any entry lacks a recorded count (pre-nrows
    * manifests) — the caller reports row stats as unknown, never wrong.
    */
  private[graft] def liveRows(s: Snapshot, es: Seq[Entry]): Option[Long] =
    if (es.exists(_.nrows.isEmpty)) None
    else Some(es.flatMap(_.nrows).sum - es.flatMap(_.dv).map(dvKeysOf(s, _).length.toLong).sum)

  /** Bloom probe over a serialized filter — planning-time helper for the
    * DSv2 connector's point-equality file skipping.
    */
  private[graft] def bloomMightContain(hex: String, key: Long): Boolean =
    KeyBloom.mightContain(KeyBloom.fromHex(hex), key)

  /** (partDir, dataDir, fileName, kmin, kmax) of a file-granular version —
    * spec/vacuum introspection of exactly which files a version serves.
    */
  def fileEntriesOf(spark: SparkSession, tablePath: String, v: Int)
      : Seq[(String, String, String, Long, Long)] =
    snapshot(spark, tablePath, v).entries.collect {
      case Entry(p, d, Some(f), Some(lo), Some(hi), _, _, _, _, _, _, _) => (p, d, f, lo, hi)
    }

  /** Fraction of a version's file entries carrying a usable key Bloom
    * filter (saturated filters serialize as absent) — validation and
    * spec introspection for the bloom-assisted pruning paths.
    */
  def bloomCoverage(spark: SparkSession, tablePath: String, v: Int): Double = {
    val files = snapshot(spark, tablePath, v).entries.filter(_.file.isDefined)
    if (files.isEmpty) 0.0
    else files.count(_.bloom.isDefined).toDouble / files.size
  }

  /** Spark-writer-compatible `col=value` directory name for a partition
    * value (null → the Hive default-partition sentinel).
    */
  private def partDirName(partCol: String, value: Any): String =
    ExternalCatalogUtils.getPartitionPathString(
      partCol, if (value == null) null else String.valueOf(value))

  /** Nested multi-column form: `a=1/b=x`, one level per column — the
    * exact relative path Spark's partitioned writer produces.
    */
  private def partDirName(cols: Seq[String], values: Seq[Any]): String =
    cols.zip(values).map { case (c, v) => partDirName(c, v) }.mkString("/")

  /** Integral driver-side values normalize to Long so key sets collected
    * from differently-typed source/target columns compare by VALUE — the
    * same coercion Column `===` applies inside a plan.
    */
  private def normKey(v: Any): Any = v match {
    case b: java.lang.Byte => java.lang.Long.valueOf(b.longValue)
    case s: java.lang.Short => java.lang.Long.valueOf(s.longValue)
    case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
    case other => other
  }

  /** Largest key set rendered as an In expression: below it the predicate
    * PUSHES to the parquet scan (row-group skipping does the pruning);
    * above it a broadcast (semi/anti) join keeps literal trees out of the
    * plan. The batch is driver metadata either way by the merge contract.
    */
  private val IsinMaxKeys = 4096

  private def keysDf(spark: SparkSession, dt: org.apache.spark.sql.types.DataType,
                     keys: Seq[Any]): DataFrame = {
    val boxed = dt match {
      case t if KeyEnc.Integral.contains(t) => keys.map {
        case n: java.lang.Number => java.lang.Long.valueOf(n.longValue)
        case other => other
      }
      case _ => keys
    }
    val boxedDt = dt match {
      case t if KeyEnc.Integral.contains(t) => org.apache.spark.sql.types.LongType
      case other => other
    }
    spark.createDataFrame(
      java.util.Arrays.asList(boxed.map(Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_gqk", boxedDt))))
  }

  /** Rows of `df` whose `keyExpr` is (keep) / is not (!keep) one of
    * `keys`: an In filter below [[IsinMaxKeys]] (pushed to the scan), a
    * broadcast semi/anti join above it. `keys` must be non-null (batch
    * keys are, by validation); a NULL `keyExpr` is one of no key, so
    * !keep keeps its row in both forms.
    */
  private def filterByKeys(spark: SparkSession, df: DataFrame, keyExpr: Column,
                           dt: org.apache.spark.sql.types.DataType,
                           keys: Seq[Any], keep: Boolean): DataFrame =
    if (keys.isEmpty) { if (keep) df.filter(lit(false)) else df }
    else if (keys.size <= IsinMaxKeys)
      df.filter(if (keep) keyExpr.isin(keys: _*) else keyExpr.isNull || !keyExpr.isin(keys: _*))
    else df.join(broadcast(keysDf(spark, dt, keys)), keyExpr === col("_gqk"),
      if (keep) "left_semi" else "left_anti")

  /** (df′, matchedKey): `matchedKey` evaluates to `keyExpr` when it is one
    * of `keys`, NULL otherwise — an In expression below [[IsinMaxKeys]], a
    * broadcast left-outer join column above it (keys are distinct, so the
    * join preserves row multiplicity).
    */
  private def withMatchedKey(spark: SparkSession, df: DataFrame, keyExpr: Column,
                             dt: org.apache.spark.sql.types.DataType,
                             keys: Seq[Any]): (DataFrame, Column) =
    if (keys.isEmpty) (df, lit(null).cast(dt))
    else if (keys.size <= IsinMaxKeys)
      (df, when(keyExpr.isin(keys: _*), keyExpr))
    else (df.join(broadcast(keysDf(spark, dt, keys)), keyExpr === col("_gqk"),
      "left_outer"), col("_gqk"))

  /** ONE driver pass over the bounded CDC batch: collect (key, _op),
    * validate — allowed ops, NULL keys, duplicate (key, op) rows (no
    * silent image-picking) — and resolve per-key op precedence D > U > I > K. The batch is driver metadata by the merge
    * contract — every caller already broadcasts it whole into the rewrite
    * join — so every decision derivable from the batch alone is made here,
    * once, with no job or per-key window (an Exchange re-planned under
    * every downstream evaluation of the source). Returns (winning rows'
    * collected metadata, source filtered to winners — the source itself
    * when no key carries two ops, the common case).
    */
  private def collectBatch(spark: SparkSession, source: DataFrame, keyCol: String)
      : (Array[Row], DataFrame) = {
    val allowedOps = Seq("U", "D", "I", "K")
    val all = source.select(col(keyCol), col("_op")).collect()
    // Single pass: validate, detect duplicate (key, op), and track per-key
    // op bitmasks (D=1,U=2,I=4,K=8 — precedence = lowest set bit wins in
    // D>U>I>K order). Table-sized mirror batches make per-row allocation
    // visible in driver stacks, so no intermediate groupBy maps.
    val opsSeen = new java.util.HashMap[Any, Integer](all.length * 2)
    var multiOp = false
    all.foreach { r =>
      require(!r.isNullAt(0),
        s"merge: source batch carries a NULL $keyCol — merge keys must be non-null")
      val op = if (r.isNullAt(1)) null else r.getString(1)
      require(op != null && allowedOps.contains(op),
        s"merge: source batch carries _op=${r.get(1)} — " +
          s"allowed: ${allowedOps.mkString(",")}")
      val bit = op match { case "D" => 1 case "U" => 2 case "I" => 4 case _ => 8 }
      val k = normKey(r.get(0))
      val prev: Int = opsSeen.getOrDefault(k, 0)
      require((prev & bit) == 0,
        s"merge: source batch carries 2 rows for " +
          s"($keyCol=$k, _op=$op) — at most one row per (key, op) is allowed")
      if (prev != 0) multiOp = true
      opsSeen.put(k, prev | bit)
    }
    def winnerOf(bits: Int): String =
      if ((bits & 1) != 0) "D" else if ((bits & 2) != 0) "U"
      else if ((bits & 4) != 0) "I" else "K"
    val winnerRows =
      if (!multiOp) all
      else all.filter(r =>
        winnerOf(opsSeen.get(normKey(r.get(0)))) == r.getString(1))
    val src =
      if (!multiOp) source
      else {
        // Rare multi-op batch: keep each key's winning row via a broadcast
        // of the driver-known winner set, not a window sort of the source.
        val wdf = spark.createDataFrame(
          java.util.Arrays.asList(winnerRows.map(r =>
            Row(r.get(0), r.getString(1))).toSeq: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_wk", source.schema(keyCol).dataType),
            org.apache.spark.sql.types.StructField("_wop", org.apache.spark.sql.types.StringType))))
        source.join(broadcast(wdf),
          col(keyCol) === col("_wk") && col("_op") === col("_wop"), "left_semi")
      }
    (winnerRows, src)
  }

  /** (added, removed) row counts from `fromV` to `toV`, by full-row
    * digest — q166's snapshot-diff unified onto the version store.
    * Digest = md5 over a \u0001-separated canonical concat with a \u0000
    * NULL sentinel per column: the separator keeps adjacent columns from
    * concatenating ambiguously ((1,23) vs (12,3)) and the sentinel keeps
    * NULLs positionally distinguishable (concat_ws would silently skip
    * them, colliding (NULL,'a') with ('a',NULL)). One digest-keyed
    * union-aggregate — shuffle ∝ total digests; each version scanned once.
    */
  def diff(spark: SparkSession, tablePath: String, fromV: Int, toV: Int): (Long, Long) = {
    // Both versions are read as toV serves them (the Delta CDF
    // convention): a row whose only difference is the NULL-backfilled
    // added column, or a column's name before a rename, is NOT a change.
    val to = snapshot(spark, tablePath, toV)
    def digests(s: Snapshot): DataFrame = {
      val df = readAs(spark, to.table, to.meta, s.entries)
      df.select(md5(concat_ws("\u0001",
        df.columns.sorted.map(c =>
          coalesce(col(c).cast("string"), lit("\u0000"))): _*)).as("d"))
    }
    // One union-aggregate instead of two anti-joins: each version is
    // scanned ONCE, and per-digest side counts reproduce the anti-join's
    // multiset semantics exactly (a digest present on both sides
    // contributes to neither total, however many copies each side holds).
    val r = digests(to).select(col("d"), lit(1L).as("na"), lit(0L).as("nb"))
      .unionAll(digests(snapshot(spark, tablePath, fromV))
        .select(col("d"), lit(0L).as("na"), lit(1L).as("nb")))
      .groupBy("d")
      .agg(sum("na").as("na"), sum("nb").as("nb"))
      .agg(
        sum(when(col("nb") === 0, col("na")).otherwise(0L)).as("added"),
        sum(when(col("na") === 0, col("nb")).otherwise(0L)).as("removed"))
      .head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
     if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** CHANGE FEED between two versions: the actual rows added and removed,
    * each tagged `_change` = 'insert' | 'delete' — the Delta CDF read
    * surface for a store without per-row tracking, derived from the same
    * collision-safe digest as [[diff]] (an update therefore appears as its
    * delete+insert pair, exactly like CDF on a rewrite-based writer).
    *
    * MANIFEST-PRUNED: entries the two versions share verbatim (the
    * spliced partitions/files a merge never touched) are dropped from
    * BOTH sides before any data is read — identical content on both
    * sides of an anti-join contributes nothing, so the result is
    * unchanged while the scan shrinks from 2× the table to the changed
    * scope only. (Exactness caveat: a full-row duplicate spanning a
    * changed and an unchanged entry would flip presence- to per-copy
    * counting; a merge table is key-unique by contract, where the two
    * coincide.) Cost ∝ changed entries + CDC size — the property that
    * makes polling the feed viable on a 100 TB table.
    */
  def changes(spark: SparkSession, tablePath: String, fromV: Int, toV: Int): DataFrame = {
    val to = snapshot(spark, tablePath, toV)
    val (eFrom, eTo) = (snapshot(spark, tablePath, fromV).entries, to.entries)
    val common = eFrom.toSet.intersect(eTo.toSet)
    // Both sides are read as toV serves them (the Delta CDF convention):
    // toV's column mapping resolves a renamed column on either side, and a
    // from-side row read through an added column NULL-backfills, so a
    // rewrite's unchanged-but-rewritten rows still cancel.
    def side(entries: Seq[Entry]): DataFrame = {
      val df = readAs(spark, to.table, to.meta, entries)
      df.withColumn("_d", md5(concat_ws("\u0001",
        df.columns.sorted.map(c =>
          coalesce(col(c).cast("string"), lit("\u0000"))): _*)))
    }
    val a = side(eTo.filterNot(common))
    val b = side(eFrom.filterNot(common))
    a.join(b.select("_d"), Seq("_d"), "left_anti").drop("_d")
      .withColumn("_change", lit("insert"))
      .unionByName(
        b.join(a.select("_d"), Seq("_d"), "left_anti").drop("_d")
          .withColumn("_change", lit("delete")))
  }

  /** The RECORDED change feed over (fromV, toV]: the union of the per-row
    * change images each merge in the range persisted with
    * `recordChanges = true`, each row tagged `_change` ('insert'/'delete')
    * and `_version` (the commit that produced it), presented in toV's
    * schema. Unlike [[changes]] (which DIFFS two versions), this reads
    * pre-computed batch-sized files — cost ∝ the changes themselves, zero
    * table scans, and it composes across many versions, which is what an
    * incremental downstream consumer polls.
    *
    * `strict` (default true) demands EVERY version in the range carry a
    * recorded feed — a non-recording commit in the middle means the feed
    * is incomplete, and silently skipping it would read as data loss.
    * Pass `strict = false` to consume only the recorded commits (the
    * streaming source's behavior, documented there). Either way a
    * vacuumed version in the range fails loudly ([[recordedFeedOf]]).
    */
  def recordedChanges(spark: SparkSession, tablePath: String,
                      fromV: Int, toV: Int,
                      strict: Boolean = true): DataFrame = {
    // toV's column map and schema, keeping each image's _change tag
    val toMeta = snapshot(spark, tablePath, toV).meta
    val tagged = toMeta.copy(schema = toMeta.schema.map(_.add("_change", "string")))
    val range = (fromV + 1) to toV
    val recorded = range.flatMap(v => recordedFeedOf(spark, tablePath, v).map((v, _)))
    if (strict) {
      val missing = range.toSet -- recorded.map(_._1).toSet
      require(missing.isEmpty,
        s"versions ${missing.toSeq.sorted.mkString(",")} of $tablePath carry no " +
          "recorded change feed (merge ran without recordChanges=true); " +
          "use changes() to diff across them, or strict=false to skip them")
    }
    val empty = readAt(spark, tablePath, toV).limit(0)
      .withColumn("_change", lit("")).withColumn("_version", lit(0))
    recorded.map { case (v, d) =>
      asOf(Tables.parquet(spark).load(d.toString), tagged).withColumn("_version", lit(v))
    }.reduceOption(_.unionByName(_)).getOrElse(empty)
  }

  /** RESTORE: publish version `v`'s exact entry set as the NEW latest
    * version — rollback as a forward commit, zero data copied or deleted
    * (the manifests just share the data dirs), history intact, and the
    * same CAS as every other commit. This is how a versioned store
    * un-does a bad merge without breaking readers or time travel.
    */
  def restore(spark: SparkSession, tablePath: String, v: Int,
              expectedLatest: Option[Int] = None): Int = {
    val s = snapshot(spark, tablePath, v)
    // The restored version serves v's table metadata — rolling back past a
    // schema-evolving merge rolls the added columns back with it, and the
    // restored schema resolves with the restored column MAP, not the
    // latest one (rolling back past a rename rolls the map back too).
    // Tombstones stay UNIONED with the latest — a name once used in files
    // is never safe to re-introduce, whatever version serves.
    commit(s.fsys, s.table, spark, s.entries, expectedLatest, Seq.empty,
      s.meta.copy(droppedCols = s.meta.droppedCols ++
        latestOf(s.fsys, s.table).meta.droppedCols),
      s"RESTORE($v)", ownsColumnMapping = true)
  }

  /** Shallow CLONE (the public Delta `CLONE ... SHALLOW` / Iceberg
    * snapshot-ref idea re-derived on the manifest store): `dstPath`
    * becomes a NEW versioned table whose v1 references `srcPath`'s
    * version-`version` data files IN PLACE — the cloned entries carry the
    * source's fully-qualified data-dir paths, which `readEntries`
    * resolves as-is (Hadoop path resolution keeps an absolute child). No
    * data is copied: until its first local write the clone directory
    * holds only `_manifests`, so cloning a 100 TB table is one metadata
    * commit. Schema, CHECK constraints and the `#statskey` column carry
    * over, so merge / time travel / optimize / change feeds work on the
    * clone immediately — and write their own LOCAL data dirs, splicing
    * the still-shared source files: the clone diverges, the source is
    * never touched. The clone's vacuum only ever deletes dirs under the
    * CLONE's root (absolute external refs are not deletion candidates
    * there), so it is safe by construction.
    *
    * Caveat, same as Delta's shallow clone: vacuum on the SOURCE knows
    * nothing about clones — retiring the cloned version's dirs there
    * breaks the clone. Clone a version the source retains (the pinned-v1
    * substrate pattern), or deep-copy before retiring.
    */
  def cloneTable(spark: SparkSession, srcPath: String, dstPath: String,
                 version: Option[Int] = None): Int = {
    val s = version.fold(snapshot(spark, srcPath))(snapshot(spark, srcPath, _))
    val srcQ = s.fsys.makeQualified(s.table)
    val entries = s.entries
    require(entries.nonEmpty, s"cannot clone empty version ${s.version} of $srcPath")
    val (dfs, dst) = fs(spark, dstPath)
    require(latestVersion(spark, dstPath) == 0,
      s"clone target $dstPath already has versions — clone creates tables, not branches")
    val abs = entries.map(e => e.copy(
      dataDir = new Path(srcQ, e.dataDir).toString,
      dv = e.dv.map(d => new Path(srcQ, d).toString)))
    // the clone references the source's files — its column map (and the
    // name-reuse tombstones protecting those files) carry over with the
    // rest of the table metadata
    commit(dfs, dst, spark, abs, Some(0), Seq.empty, s.meta, "CLONE",
      ownsColumnMapping = true)
  }

  /** Candidate files for a point-lookup batch, by pruning mode — the
    * planning half of [[lookupKeys]], exposed for tests to pin that the
    * bloom probe strictly tightens the range probe.
    */
  private[graft] def lookupFiles(spark: SparkSession, tablePath: String,
                                 keys: Seq[Long], version: Option[Int] = None,
                                 useBloom: Boolean = true): Seq[String] = {
    val (fsys, table) = fs(spark, tablePath)
    val entries = entriesOf(fsys, table,
      version.fold(latestOf(fsys, table))(manifestAt(fsys, table, _)))
    require(entries.forall(_.file.isDefined),
      "lookupKeys needs a file-granular table (publish with fileStatsKey)")
    val sorted = keys.distinct.sorted.toArray
    entries.filter(e =>
        if (useBloom) coversAnyKey(e, sorted.map(k => (k, k)))
        else coversAny(e.kmin.get, e.kmax.get, sorted))
      .map(e => s"${e.partDir}/${e.file.get}")
  }

  /** Point lookups by key with full manifest pruning: only files whose
    * [kmin, kmax] range covers a probed key AND whose per-file Bloom
    * filter might contain one are read — on a sparse key space the bloom
    * is what turns "range covers it, read the file" into a skip, the
    * reason Delta ships a Bloom-filter index next to its footer stats.
    * The key batch is metadata-sized by contract (a point-lookup list,
    * not a join side — use a join against the table for that); rows are
    * filtered exactly, so a bloom false positive costs a read, never a
    * wrong row.
    */
  def lookupKeys(spark: SparkSession, tablePath: String, keys: Seq[Long],
                 version: Option[Int] = None): DataFrame = {
    val (fsys, table) = fs(spark, tablePath)
    val m = version.fold(latestOf(fsys, table))(manifestAt(fsys, table, _))
    val (v, entries, meta) = (m.v, entriesOf(fsys, table, m), m.meta)
    require(entries.forall(_.file.isDefined),
      "lookupKeys needs a file-granular table (publish with fileStatsKey)")
    val keyCol = meta.statsKey.getOrElse(
      throw new IllegalArgumentException(s"v$v of $tablePath carries no #statskey"))
    meta.schema.foreach { s =>
      require(KeyEnc.Integral.contains(s(keyCol).dataType),
        s"lookupKeys takes Long keys; $keyCol is ${s(keyCol).dataType}")
    }
    val sorted = keys.distinct.sorted.toArray
    readAs(spark, table, meta, entries.filter(coversAnyKey(_, sorted.map(k => (k, k)))))
      .filter(col(keyCol).isin(sorted.map(java.lang.Long.valueOf): _*))
  }

  /** OPTIMIZE inside the store: rewrite ONE partition's files into a
    * single compacted file published as a new version — the maintenance
    * op a merge-heavy file-granular table needs as small files accumulate
    * — while every other partition's entries are spliced untouched and
    * every prior version stays readable (compaction never deletes; vacuum
    * retires old versions separately). Content is identical by
    * construction: the new version serves the same rows from fewer files.
    * Requires a file-granular table (stats recomputed for the compacted
    * file); `partDir` is the Spark-escaped `col=value` directory name.
    * (Scale note: coalesce(1) targets ONE output file because the op is
    * invoked per hot partition; a whole-table OPTIMIZE bins to a target
    * file size instead — the q200 AQE REBALANCE recipe — and would drive
    * this per partition from the manifest's per-file sizes.)
    */
  def compactFiles(spark: SparkSession, tablePath: String, partDir: String,
                   keyCol: String, partCol: String,
                   expectedLatest: Option[Int] = None,
                   rebaseRetries: Int = 0): Int = {
    val base = baseOf(spark, tablePath, None, expectedLatest, "compactFiles")
    requireFileStats(base, keyCol, "compactFiles")
    val victims = base.entries.filter(_.partDir == partDir)
    require(victims.nonEmpty, s"no files under $partDir in v${base.v} of $tablePath")
    // Compaction pins the base it rewrote: a concurrent commit either
    // rebases (disjoint, rebaseRetries > 0) or fails this rerunnable
    // maintenance loudly — never erases the competitor.
    rewriteCommit(spark, base, Rewrite("compactFiles", "COMPACT",
      readAs(spark, base.table, base.meta, victims).coalesce(1), partColsOf(partCol),
      base.meta, victimScope(victims), retries = rebaseRetries))
  }

  /** Whole-table OPTIMIZE: bin-pack EVERY partition's small files toward
    * `targetRows` rows per output file, in one new version — the
    * production maintenance op a merge-heavy table runs nightly (Delta
    * OPTIMIZE / Iceberg rewrite_data_files re-derived on the manifest
    * store). Planning is pure manifest METADATA: per partition, files are
    * greedily packed in key order (first-fit) into bins using the
    * manifest's per-file row counts — no data is read to decide. Bins
    * that already hold a single file are SPLICED unchanged (a file at or
    * above target is never rewritten — same rule as Delta), so the
    * rewrite reads exactly the small files being collapsed and nothing
    * else. All victim bins are rewritten in ONE Spark job: each bin's
    * files are read and tagged with the bin id, the union is shuffled by
    * bin, and the dynamic-partition writer emits at most one file per
    * (partition, bin) — per-partition output file count ≤ bin count,
    * with key-contiguous bins (packing follows kmin order) so the
    * range-pruning property of a stats-scoped [[merge]] survives compaction.
    * Content is identical by construction; every prior version stays
    * readable; the commit pins the base (concurrent merge wins, the
    * rerunnable maintenance loses) unless `rebaseRetries` > 0 lets it
    * rebase onto a competitor that left every victim alone
    * ([[commitRebasing]]). Returns the base version unchanged when no
    * partition has anything to gain.
    *
    * Scale note: the per-bin union grows the plan with victim-bin count;
    * victim bins are bounded by the small-file population (the thing
    * being repaired), and a deployment compacting 10^5+ files at once
    * would route rows through a broadcast file→bin map instead — the
    * planning stays metadata-only either way.
    */
  def optimizeTable(spark: SparkSession, tablePath: String,
                    keyCol: String, partCol: String, targetRows: Long,
                    expectedLatest: Option[Int] = None,
                    rebaseRetries: Int = 0): Int = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val base = baseOf(spark, tablePath, None, expectedLatest, "optimizeTable")
    requireFileStats(base, keyCol, "optimizeTable")
    require(base.entries.forall(_.nrows.isDefined),
      "optimizeTable needs per-file row counts " +
        "(publish with fileStatsKey on r14+, or compact/merge once to refresh stats)")
    // First-fit pack in key order: bins stay key-contiguous per partition.
    val bins: Seq[(String, Int, Seq[Entry])] =
      base.entries.groupBy(_.partDir).toSeq.sortBy(_._1).flatMap { case (p, es) =>
        val sorted = es.sortBy(e => (e.kmin.get, e.file.get))
        val packed = scala.collection.mutable.ListBuffer.empty[(Long, scala.collection.mutable.ListBuffer[Entry])]
        sorted.foreach { e =>
          val n = e.nrows.get
          packed.lastOption match {
            case Some((rows, b)) if rows + n <= targetRows || rows == 0L =>
              b += e
              packed(packed.length - 1) = (rows + n, b)
            case _ =>
              packed += ((n, scala.collection.mutable.ListBuffer(e)))
          }
        }
        packed.toSeq.zipWithIndex.map { case ((_, b), i) => (p, i, b.toSeq) }
      }
    val victims = bins.filter(_._3.size >= 2)
    if (victims.isEmpty) return base.v
    // One task per bin: ordinal bin ids (already (partition, key) ordered)
    // range-repartitioned with an EXPLICIT partition count — an implicit
    // `repartition(col)` lets AQE coalesce the tiny shuffle into one task,
    // which would fuse every bin into one file and erase the packing's
    // key-contiguity (and with it the post-optimize stats tightness). If
    // range sampling ever fuses two bins into a task they are ADJACENT in
    // key order, so the merged file's bounds stay contiguous.
    val rows = victims.zipWithIndex.map { case ((_, _, es), ord) =>
      readAs(spark, base.table, base.meta, es).withColumn("_bin", lit(ord))
    }.reduce(_.unionByName(_))
      .repartitionByRange(victims.size, col("_bin"))
      .drop("_bin")
    rewriteCommit(spark, base, Rewrite("optimizeTable", "OPTIMIZE", rows, partColsOf(partCol),
      base.meta, victimScope(victims.flatMap(_._3)), retries = rebaseRetries))
  }

  /** 32-bit Morton interleave of two 16-bit-quantized integral columns —
    * the z-order clustering value (public Delta `OPTIMIZE ZORDER BY` /
    * the classic Morton curve). Quantization is integer-only:
    * `(v - min) / scale` with `scale = ceil(range / 2^16)`, so identical
    * arithmetic replays exactly on any engine.
    */
  private def mortonCol(a: Column, aMin: Long, aMax: Long,
                        b: Column, bMin: Long, bMax: Long): Column = {
    // Power-of-two quantization: drop just enough LOW bits that the
    // range fits 16 bits — pure integer shifts, no float division.
    def shiftOf(lo: Long, hi: Long): Int =
      math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(hi - lo) - 16)
    def quant(c: Column, lo: Long, hi: Long): Column =
      shiftright(c.cast("long") - lit(lo), shiftOf(lo, hi))
    val qa = quant(a, aMin, aMax)
    val qb = quant(b, bMin, bMax)
    (0 until 16).map { i =>
      shiftleft(shiftright(qa, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(qb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** OPTIMIZE ZORDER inside the store: rewrite the whole table CLUSTERED
    * on the Morton interleave of (`keyCol`, `col2`) — rows close in BOTH
    * dimensions land in the same files, so each file's bounds tighten on
    * both columns at once — and record per-file bounds for BOTH
    * (`#statskey` + the new `#statskey2` header): a 2-D box predicate
    * through [[graft.sources.VersionedSource]] then skips every file
    * whose rectangle misses the box, which one-dimensional layout
    * cannot do for the second column (its per-file spread stays ~full
    * range). Content is identical by construction (the oracle proves
    * it); all prior versions stay readable; the commit pins the base.
    * Later rewrites (merge/DML/optimize) RECOMPUTE the second-dimension
    * bounds for the files they write (r17) — the bounds are only loose
    * on rewritten files until the next re-optimize re-clusters, never
    * absent and never lying.
    */
  def optimizeZOrder(spark: SparkSession, tablePath: String,
                     keyCol: String, partCol: String, col2: String,
                     filesPerPart: Int = 8,
                     expectedLatest: Option[Int] = None): Int = {
    require(filesPerPart > 0, s"filesPerPart must be positive: $filesPerPart")
    val (fsys, table) = fs(spark, tablePath)
    val top = latestOf(fsys, table)
    val base = top.v
    val bm = top.meta
    require(bm.statsKey.forall(_ == keyCol),
      s"base v$base carries file stats on ${bm.statsKey.getOrElse("<none>")}, not $keyCol")
    val df = {
      val raw = readAt(spark, tablePath, base)
      Seq(keyCol, col2).foreach(c => require(KeyEnc.supported(raw.schema(c).dataType),
        s"z-order column $c is ${raw.schema(c).dataType}; " +
          "integral, string, or date required"))
      raw
    }
    // The Morton interleave runs in the KeyEnc SURROGATE domain (identity
    // for integral, epoch days for date, the monotone 8-byte prefix for
    // string — r17) — the same ordered-long space the manifest bounds
    // live in, so the z-cells the layout forms are exactly the boxes the
    // scan later prunes. NULLs in col2 carry a NULL z-value and cluster
    // together at the range partitioner's edge.
    val zk = keyEncCols(df.schema(keyCol).dataType, keyCol)._1
    val z2 = keyEncCols(df.schema(col2).dataType, col2)._1
    val mm = df.agg(min(zk), max(zk), min(z2), max(z2)).head()
    require(!mm.isNullAt(0), s"cannot z-order an empty table")
    require(!mm.isNullAt(2), s"cannot z-order: $col2 is entirely NULL")
    val z = mortonCol(zk, mm.getLong(0), mm.getLong(1),
      z2, mm.getLong(2), mm.getLong(3))
    val pCols = partColsOf(partCol).map(col)
    val parts = df.select(pCols: _*).distinct().count().toInt
    val dd = newDataDir(fsys, table)
    df.withColumn("_z", z)
      .repartitionByRange(math.max(1, parts * filesPerPart), pCols :+ col("_z"): _*)
      .sortWithinPartitions(pCols :+ col("_z"): _*)
      .drop("_z")
      .write.mode(SaveMode.ErrorIfExists).partitionBy(partColsOf(partCol): _*).parquet(dd.toString)
    // z-order establishes/replaces the SECOND key; extra `#statscols`
    // dimensions carry through and recompute in the same stats scan.
    val meta = bm.copy(statsKey = Some(keyCol), statsKey2 = Some(col2))
    commit(fsys, table, spark, fileStatsOf(spark, table, dd, meta),
      expectedLatest.orElse(Some(base)), Seq(dd), meta, s"ZORDER($col2)")
  }

  /** Delete every manifest NOT in `keep` plus every data dir no retained
    * manifest references. A data dir shared with a kept version survives
    * (merge versions splice entries from older dirs — those stay live
    * until the last manifest referencing them is vacuumed).
    *
    * RETENTION (the Delta VACUUM convention, required for concurrent-
    * writer safety): an UNCOMMITTED manifest younger than `retentionMs`
    * is an in-flight writer's claim, and an unreferenced data dir younger
    * than `retentionMs` is a merge's freshly written, about-to-commit
    * output — deleting either would make the writer commit a manifest
    * pointing at deleted files (or report a commit the table never
    * serves). Both are skipped until they age past the window; a crashed
    * writer's leftovers are reclaimed by the NEXT vacuum after the window
    * lapses. `retentionMs = 0` restores eager deletion for
    * provably-single-writer maintenance.
    */
  def vacuum(spark: SparkSession, tablePath: String, keep: Set[Int],
             retentionMs: Long = DefaultRetentionMs): Unit = {
    val (fsys, table) = fs(spark, tablePath)
    val ls = listing(fsys, table)
    if (ls.versions.isEmpty) return
    val now = System.currentTimeMillis()
    val status = ls.versions.toMap
    // a kept version's entries are read next, for its live dirs
    def observed(v: Int): Manifest = observe(fsys, v, status(v), keep = keep(v))
    val (kept, dropped) = ls.versions.map(_._1).partition(keep)
    // Protected from deletion while inside the retention window:
    //  - an UNCOMMITTED claim (an in-flight writer: it will either
    //    finalize or be reclaimed once stale; its data dir is protected
    //    by the same window via the dir mtime below);
    //  - a COMMITTED version NEWER than everything in `keep` — a writer
    //    that committed between the caller computing `keep` and this
    //    sweep; versions the caller knowingly retired (≤ max(keep)) are
    //    deleted eagerly.
    val maxKeep = if (keep.isEmpty) Int.MinValue else keep.max
    val protectedV = dropped.filter(v =>
      now - status(v).getModificationTime <= retentionMs &&
        (!observed(v).committed || v > maxKeep))
    val liveVs = (kept ++ protectedV).map(observed).filter(_.committed)
    val liveDirs = liveVs
      .flatMap(m => entriesOf(fsys, table, m).flatMap(e =>
        // a deletion-vector sidecar dir is live while any kept manifest's
        // entry points into it
        e.dataDir +: e.dv.map(_.split('/').head).toSeq)).toSet ++
      liveVs.flatMap(_.meta.changesDir).toSet
    // A tail stream's appended-set for kept version v diffs against
    // v-1's manifest (appendedEntries), so each kept version's
    // PREDECESSOR manifest survives too — manifest text only, its
    // exclusive data dirs may still be reclaimed. Without this, a tail
    // whose next batch starts at the oldest kept version fails loudly
    // whenever that version's manifest happens to be a full checkpoint
    // (no #base chain would have retained v-1), even though every
    // version the stream still needs is inside the kept window.
    val predKeep: Set[Int] = liveVs.collect { case m if m.v > 1 => m.v - 1 }.toSet
      .filter(status.contains)
    // A kept version's DELTA manifest resolves through its #base chain:
    // every manifest on a live chain must survive the sweep (the Delta
    // log-retention analog) or the kept version becomes unreadable — the
    // same applies to retained predecessors, which must stay PARSEABLE.
    // A chain-retained manifest may outlive its data dirs — reading it
    // then fails at data time, like Delta time travel past data retention.
    val chainKeep: Set[Int] = (liveVs.map(_.v).toSet ++ predKeep).flatMap { v0 =>
      Iterator.iterate(Option(v0))(_.filter(status.contains)
        .flatMap(observed(_).meta.base.map(_._1)))
        .takeWhile(_.isDefined).take(MaxChainDepth + 2).flatten
    }
    val deleted = dropped.filterNot(protectedV.contains).filterNot(chainKeep).toSet
    deleted.foreach(v => fsys.delete(manifestPath(table, v), false))
    // Checkpoint sidecars die with their manifests; a crashed claim's
    // orphan sidecar ages out like any claim (retention window).
    ls.others.filter(_.isFile).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".entries.parquet")) {
        val ownerAlive = n.takeWhile(_ != '-').toIntOption.exists(x =>
          status.contains(x) && !deleted(x) && observed(x).meta.entriesFile.contains(n))
        if (!ownerAlive && now - st.getModificationTime > retentionMs)
          fsys.delete(st.getPath, false)
      }
    }
    // c_* recorded change feeds are retired with the versions that
    // reference them (a lagging feed consumer outlives retention at its
    // own risk — the Delta CDF/VACUUM contract).
    fsys.listStatus(table).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isDirectory && (n.startsWith("d_") || n.startsWith("c_")) &&
          !liveDirs.contains(n) && now - s.getModificationTime > retentionMs
      }
      .foreach(s => fsys.delete(s.getPath, true))
  }

  /** Retain the newest `k` committed versions (and everything in
    * `alsoKeep` — e.g. a pinned base snapshot merges branch from).
    */
  def vacuumKeepLast(spark: SparkSession, tablePath: String, k: Int,
                     alsoKeep: Set[Int] = Set.empty,
                     retentionMs: Long = DefaultRetentionMs): Unit = {
    val latest = latestVersion(spark, tablePath)
    vacuum(spark, tablePath, alsoKeep ++ (math.max(1, latest - k + 1) to latest),
      retentionMs)
  }
}
