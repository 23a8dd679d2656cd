package graft.queries

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Substrates.deleteTree
import graft.tables.Tables._
import graft.tables.Versioned

/** Sink surface (SURVEY §2.1 S2 beyond collect-to-driver): partitioned
  * parquet, bucketed tables, ORC, CSV — each as a write→read-back→aggregate
  * roundtrip whose oracle runs the same aggregate on the SOURCE table, so a
  * hash match proves the sink lost/changed nothing.
  *
  * Roundtrip aggregates stick to counts and integer sums: a float sum's
  * value depends on partition order, which a write→read cycle is free to
  * change. Output dirs live under java.io.tmpdir, keyed by the corpus dir
  * so sf0.001 warmup and sf0.1 timed runs never collide.
  */
object Sinks {

  /** Per-corpus-dir discriminator for catalog / view / table / path names.
    * 32-bit String.hashCode alone can collide across two dirs, and a
    * collision here silently rebinds BOTH corpora to the first dir's
    * warehouse (Spark's CatalogManager pins a catalog to its first-seen
    * warehouse — the exact caching bug the per-dir names exist to avoid).
    * hashCode + length must collide simultaneously, which no pair of
    * realistic corpus paths does.
    */
  private[queries] def dirTag(dir: String): String =
    s"${java.lang.Integer.toHexString(dir.hashCode)}_${dir.length}"

  private def tmpOut(dir: String, name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${name}_${dirTag(dir)}").getPath

  /** Partitioned parquet sink: orders partitioned by order year, read back
    * through one partition (pruning: only year=1995 files are touched —
    * the layout a 100 TB fact table ships with).
    */
  def sinkPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "part")
    orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    parquet(spark).load(out)
      .filter(col("o_year") === 1995)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("o_custkey").as("sum_cust"))
      .orderBy("o_orderpriority")
  }

  /** Bucketed-table sink + co-located join: customer and a per-customer
    * order rollup, both written bucketed (and sorted) on the customer key,
    * then joined. With both sides bucketed identically the sort-merge join
    * needs NO shuffle exchange — the layout that turns the biggest join of
    * a 100 TB pipeline into a map-side merge (asserted in SinksSpec).
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val sfx = dirTag(dir)
    val (tc, to) = (s"g_cust_b_$sfx", s"g_ord_b_$sfx")
    spark.sql(s"DROP TABLE IF EXISTS $tc")
    spark.sql(s"DROP TABLE IF EXISTS $to")
    customer(spark, dir).select("c_custkey", "c_mktsegment")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", tmpOut(dir, "bkt_cust")).mode("overwrite").saveAsTable(tc)
    orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_ord"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", tmpOut(dir, "bkt_ord")).mode("overwrite").saveAsTable(to)
    spark.table(tc)
      .join(spark.table(to), col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum("n_ord").as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** ORC sink roundtrip over documents. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "orc")
    documents(spark, dir).write.mode("overwrite").orc(out)
    orc(spark, out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** CSV sink roundtrip over nation (schema-explicit read back — inference
    * would cost a second full pass at scale).
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "csv")
    val src = nation(spark, dir)
    src.write.mode("overwrite").option("header", "true").csv(out)
    csv(spark, out, src.schema)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"), min("n_name").as("first_name"))
      .orderBy("n_regionkey")
  }

  /** JSON-lines sink roundtrip over events: timestamps survive via an
    * explicit ISO format and the schema-pinned read back (inference over
    * JSON is both a second pass and lossy on int-vs-double). Props is
    * itself a JSON string — the write escapes it, the read restores it —
    * so the md5-of-min check also proves nested-quote fidelity.
    */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "json")
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val src = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"),
              col("ts"), col("props"))
    // Explicit microsecond format on BOTH sides: Spark's JSON default
    // writes milliseconds, which would silently truncate event times.
    src.write.mode("overwrite").option("timestampFormat", fmt).json(out)
    json(spark, out, src.schema, fmt)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("sum_user"),
           min("ts").as("min_ts"),
           md5(min(col("props"))).as("min_props_md5"))
      .orderBy("event_type")
  }

  /** Avro sink roundtrip over events (AvroIO — avro-core container files,
    * schema in the header): timestamps survive as timestamp-micros
    * logical-type longs with NO format string on either side — the
    * contrast with q113's JSON, where fidelity needed an explicit
    * microsecond pattern. The md5-of-min over props also proves string
    * content fidelity through Utf8 encode/decode; min(value) pins double
    * bits. Oracle runs the same aggregate on the source table, so a hash
    * match proves the sink lost/changed nothing.
    */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "avro")
    val src = events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"), col("props"))
    graft.sources.AvroIO.write(src, out)
    graft.sources.AvroIO.read(spark, out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("sum_user"),
           min("ts").as("min_ts"), min("value").as("min_value"),
           md5(min(col("props"))).as("min_props_md5"))
      .orderBy("event_type")
  }

  /** XML sink roundtrip over events (Spark 4's built-in `xml` source —
    * rowTag-delimited elements): completes the format matrix next to
    * parquet/ORC/CSV/JSON/Avro/custom-V2. props is a JSON string with
    * embedded quotes, so the md5-of-min check proves XML element-content
    * escaping round-trips exactly; timestamps pin an explicit microsecond
    * format on BOTH sides (like q113's JSON — XML's default also truncates
    * to milliseconds), and the read back is schema-pinned (inference over
    * XML is a second full pass at 100 TB, and lossy on int-vs-double).
    */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "xml")
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val src = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"),
              col("ts"), col("props"))
    src.write.mode("overwrite").format("xml")
      .option("rowTag", "event").option("timestampFormat", fmt).save(out)
    spark.read.format("xml")
      .option("rowTag", "event").option("timestampFormat", fmt)
      .schema(src.schema).load(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("sum_user"),
           min("ts").as("min_ts"),
           md5(min(col("props"))).as("min_props_md5"))
      .orderBy("event_type")
  }

  /** q200 — small-files compaction (the `OPTIMIZE` table-maintenance op
    * every long-lived landing zone needs): a directory deliberately staged
    * as 64 tiny parquet files is rewritten through an AQE REBALANCE hint,
    * which sizes post-shuffle partitions to `advisoryPartitionSizeInBytes`
    * — so the compacted layout is a handful of target-sized files instead
    * of 64 footers/tasks per downstream scan. At 100 TB this is the
    * difference between a scan planning millions of splits (and a NameNode/
    * manifest melting) and one planning data-sized ones. The read-back
    * aggregate's oracle runs on the SOURCE table, proving compaction lost
    * nothing; SinksSpec pins the actual file-count collapse.
    */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val staged = tmpOut(dir, "smallfiles")
    val out = tmpOut(dir, "compacted")
    documents(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(staged)
    parquet(spark).load(staged)
      .hint("rebalance")
      .write.mode("overwrite").parquet(out)
    parquet(spark).load(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** q203 — PERMISSIVE corrupt-record ingest: the malformed-input reality of
    * any 100 TB crawl feed. Documents are staged as JSON lines with a
    * DETERMINISTIC corruption rule (doc_id % 7 = 3 loses its closing brace),
    * read back in PERMISSIVE mode with `columnNameOfCorruptRecord` — bad
    * lines land in the rescue column instead of killing the job (FAILFAST)
    * or silently vanishing (DROPMALFORMED). The aggregate counts both
    * populations plus a checksum over the GOOD rows; the oracle replays the
    * corruption rule arithmetically on the source table, so the hash match
    * proves the parser recovered every valid record and quarantined every
    * corrupt one — nothing dropped, nothing double-counted.
    */
  def corruptRecordIngest(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "corrupt")
    documents(spark, dir)
      .select(concat(
        lit("{\"doc_id\":"), col("doc_id"),
        lit(",\"lang\":\""), col("lang"),
        lit("\",\"n_chars\":"), col("n_chars"),
        when(col("doc_id") % 7 === 3, lit("")).otherwise(lit("}"))
      ).as("value"))
      .write.mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING")
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars_good"))
  }

  /** q204 — compressed text ingest (gzip): crawl dumps arrive compressed;
    * the codec must be transparent to the reader (Spark splits by FILE for
    * non-splittable codecs — the repartition(8) pins 8 shards so the read
    * still parallelizes 8-wide, the production workaround for gzip's
    * non-splittability). Write-side `compression=gzip`, read-side inferred
    * from the `.gz` extension; the per-lang aggregate's oracle runs on the
    * source table, so the hash match proves the codec round-trip lost
    * nothing. SinksSpec pins that the staged shards really are .gz files.
    */
  def gzipTextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "gztext")
    documents(spark, dir)
      .repartition(8)
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("text")).as("value"))
      .write.mode("overwrite").option("compression", "gzip").text(out)
    spark.read.text(out)
      .select(split(col("value"), "\t", 3).as("f"))
      .select(col("f").getItem(1).as("lang"),
              length(col("f").getItem(2)).as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Incremental aggregate refresh — the materialized-view maintenance
    * pattern: the historical partition's aggregate is computed once and
    * STORED (here: orders before 1999 → parquet); a refresh touches only
    * the delta (1999+) and merges the two with the aggregates' own combine
    * functions (count/sum are algebraic — partials merge exactly). The
    * oracle aggregates the full source table, so the hash match proves
    * merge(stored, delta) ≡ recompute(everything) — at 100 TB the
    * difference between a nightly full scan and reading one day's
    * partition plus a tiny summary table.
    */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "histagg")
    val o = orders(spark, dir)
    val cutoff = lit("1999-01-01").cast("timestamp")
    // NULL dates go to the history side: `< cutoff` alone is NULL for them
    // and the row would vanish from BOTH partitions — the classic
    // split-recombine bug on nullable partition keys.
    o.filter(col("o_orderdate") < cutoff || col("o_orderdate").isNull)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"))
      .write.mode("overwrite").parquet(out)
    val delta = o.filter(col("o_orderdate") >= cutoff)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"))
    parquet(spark).load(out).unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n_orders"), sum("s").as("sum_cust"))
      .orderBy("o_orderpriority")
  }

  /** q207 — materialized-view AUTOMATIC query rewrite (the serving half of
    * q114's manual maintenance): the per-priority rollup is materialized
    * and registered in `MvCatalog`; the query then aggregates the BASE
    * orders table exactly as a dashboard would — and graft's `MvRewrite`
    * optimizer rule swaps the plan to a Project over the |groups|-row MV,
    * never scanning orders. Transparent to the query author: at 100 TB the
    * fact scan disappears from every matching query for the cost of one
    * registration. The oracle aggregates the base table, so the hash match
    * proves the rewrite is value-invisible; SinksSpec pins the PLAN (MV
    * path scanned, base path absent, and the conf kill-switch restores the
    * base scan).
    */
  def mvAutoRewrite(spark: SparkSession, dir: String): DataFrame = {
    // Fresh dir per refresh: concurrent holders of the PREVIOUS registered
    // plan (test suites share the session; Profile reps overlap) keep
    // reading their intact old listing while the registry swap is atomic —
    // the same reason production MV refresh writes a new version directory
    // and flips a pointer instead of overwriting files in place.
    val mvPath = tmpOut(dir, s"mv_orders_v${System.nanoTime()}")
    orders(spark, dir).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("o_custkey").as("sm"))
      .write.mode("overwrite").parquet(mvPath)
    graft.plans.MvCatalog.register(spark, s"$dir/orders.parquet", mvPath,
      "o_orderpriority", "o_custkey")
    orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("o_custkey").as("sum_cust"))
      .orderBy("o_orderpriority")
  }

  /** Schema evolution across file batches (`mergeSchema`): batch 1 ships
    * (orderkey, custkey), batch 2 ships (orderkey, totalprice, priority) —
    * the shape every long-lived landing zone grows into as producers add
    * columns. The merged read unions the schemas; columns absent from a
    * batch surface as NULLs, which the aggregate proves (custkey sums come
    * only from batch 1, price/priority only from batch 2). The batch dirs
    * double as a partition column (`b`), so pruning still works on the
    * evolved table.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "evo")
    val o = orders(spark, dir)
    o.select("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$out/b=1")
    o.select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$out/b=2")
    parquet(spark).option("mergeSchema", "true").load(out)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
           round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  /** Custom DataSourceV2 roundtrip: documents staged as TAB-separated text
    * shards, read back through `graft.sources.LinesSource` (the from-scratch
    * v2 connector with column pruning + doc_id pushdown), parsed, and
    * aggregated per lang. The oracle runs the same aggregate on the source
    * table, so a hash match proves the connector delivered every line
    * byte-exactly. `repartition(4)` pins a multi-shard layout (the
    * connector plans one partition per shard).
    */
  /** The connector as a SINK: documents go out through LinesSource's own
    * BATCH_WRITE (v2 two-phase commit, no parquet/text-sink detour) and come
    * back through its BATCH_READ; the aggregate must equal the source table.
    * Overwrite mode exercises the TRUNCATE capability (and keeps the query
    * idempotent across Verify reruns). lang rides inside the line because a
    * line shard persists only text — ids/metadata are positional-on-read.
    */
  def linesWriteRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "lines_w")
    documents(spark, dir)
      .repartition(4)
      .select(col("doc_id"), lit("w").as("fname"),
        concat_ws("\t", col("lang"), col("text")).as("text"))
      .write.format("graft.sources.LinesSource").mode("overwrite").save(out)
    spark.read.format("graft.sources.LinesSource").load(out)
      .select(split(col("text"), "\t", 2).as("f"))
      .select(col("f").getItem(0).as("lang"),
              length(col("f").getItem(1)).as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  def linesSourceRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpOut(dir, "lines")
    documents(spark, dir)
      .repartition(4)
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("text")).as("value"))
      .write.mode("overwrite").text(out)
    spark.read.format("graft.sources.LinesSource").load(out)
      .select(split(col("text"), "\t", 3).as("f"))
      .select(col("f").getItem(1).as("lang"),
              length(col("f").getItem(2)).as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Substrates: the input tables the versioned-store queries stage from
    * the corpus (orders snapshots published as versions, the sources of
    * per-call clones, SQL catalog tables with a maintenance history). Each
    * lives under a fixed name — a `tmpOut` path or a `lakeCatalog` table —
    * so it is built once per corpus and reused by every later invocation,
    * session and JVM: a warehouse does not re-ingest its fact table per
    * query, and the store's operations never mutate the versions a
    * substrate serves. Reuse is checked, never assumed: `valid` probes the
    * on-disk state (version chain, recorded headers, row counts against the
    * source), any exception counts as invalid, and only a failed probe
    * clears `paths` and runs `build` — a stale, foreign or half-built
    * substrate restages rather than composing wrongly. Returns `build`'s
    * result when it ran. Substrates staged through [[perSession]] probe
    * once per session; the rest probe on every call.
    */
  private def restage[T](paths: String*)(valid: => Boolean)(build: => T): Option[T] = {
    val ok = try valid catch { case _: Exception => false }
    if (ok) None else { paths.foreach(deleteTree); Some(build) }
  }

  /** The substrate `name` of `dir`, staged by `stage` on its first use in a
    * session and reused for the rest of it. Eviction only forgets the path:
    * the staged table stays for later sessions to probe.
    */
  private def perSession(spark: SparkSession, dir: String, name: String)(
      stage: => String): String =
    Substrates.memo(spark, dir, s"sinks/$name")(stage)(_ => ())

  /** Order prices in integer cents: sums stay exact on both engines. */
  private def cents: Column = floor(col("o_totalprice") * 100 + 0.5)
  private def priceC: Column = cents.cast("long").as("o_price_c")

  /** Orders in the substrates' shape: key, customer, price in cents,
    * `extra`, order year.
    */
  private def ordersCents(spark: SparkSession, dir: String, extra: Column*): DataFrame =
    orders(spark, dir).select(Seq(col("o_orderkey"), col("o_custkey"), priceC) ++
      extra :+ year(col("o_orderdate")).as("o_year"): _*)

  /** A merge batch row's operation column (U/D/I). */
  private def op(o: String): Column = lit(o).as("_op")

  /** What the orders-substrate queries report per group: row count,
    * customer sum and cents sum.
    */
  private def sums(g: RelationalGroupedDataset): DataFrame =
    g.agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
          sum("o_price_c").as("sum_price_c"))

  /** [[sums]] per `by` columns and year, in that order. */
  private def perYear(df: DataFrame, by: String*): DataFrame = {
    val keys = by :+ "o_year"
    sums(df.groupBy(keys.head, keys.tail: _*)).orderBy(keys.head, keys.tail: _*)
  }

  /** [[sums]] per `grp` labelled with `phase`, for the multi-phase reads. */
  private def phaseSums(phase: String, g: RelationalGroupedDataset): DataFrame =
    sums(g).select(lit(phase).as("phase"), col("grp"), col("n"),
      col("sum_cust"), col("sum_price_c"))

  /** 1995's rows of `base` staged as three parquet shards under `stage`
    * and read back as a file stream at one shard per trigger — three
    * micro-batches, so a lost or doubled batch shifts a 1995 sum.
    */
  private def y95ShardStream(spark: SparkSession, base: DataFrame,
                             stage: String): DataFrame = {
    import org.apache.spark.sql.types._
    val y95 = base.filter(col("o_year") === 1995)
    (0 until 3).foreach(i => y95.filter(col("o_orderkey") % 3 === i)
      .coalesce(1).write.mode("append").parquet(stage))
    val sch = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_price_c", LongType), StructField("o_year", IntegerType)))
    spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(stage)
  }

  // The merge target, staged as v1 of a versioned table. The versioned
  // merge never mutates v1, so every invocation — and every session —
  // branches from the same immutable snapshot; stale merged versions from
  // prior sessions are retired by the query's own vacuum. The probe
  // compares v1 with the source on column set and (footer-only) row count.
  private def ordersVersioned(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "merge_vt") {
      val tbl = tmpOut(dir, "merge_vt")
      val base = ordersCents(spark, dir, col("o_orderpriority"))
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) >= 1 && {
          val v1 = Versioned.readAt(spark, tbl, 1)
          v1.columns.toSet == base.columns.toSet && v1.count() == base.count()
        }
      } { Versioned.publish(spark, tbl, base, partCol = Some("o_year")) }
      tbl
    }

  /** q210 — MERGE INTO / row-level upsert (`Versioned.merge`): the single
    * most common warehouse write op, as a scoped, ATOMICALLY PUBLISHED
    * table operation. The target is orders partitioned by year
    * (integer cents for exact sums), staged once as v1 of a versioned
    * table; each invocation merges one deterministic CDC batch AGAINST v1
    * and publishes the result as a new immutable version — no pre-merge
    * file is ever rewritten or deleted, so a concurrent reader of any
    * committed version is isolated from the merge (SinksSpec pins it).
    * The batch applies every MERGE clause at once: matched-UPDATE (price
    * bump), matched-UPDATE that MOVES its row across partitions
    * (1995→1996), matched-DELETE, not-matched-INSERT (lands in a new 1999
    * partition), plus the two ignore rules (unmatched U, matched I) proven
    * by noise rows. The base is partition-granular, so merge's discovery
    * scan finds the partitions holding a matched U/D key; only their
    * entries are rewritten, moved and inserted rows land as new entries
    * (1996 and 1999 are not copied), and every other entry is spliced
    * from v1's manifest — the property that makes MERGE affordable on a
    * 100 TB table. The trailing vacuum retires the
    * previous invocation's merged version while keeping the pinned v1
    * base. The oracle replays the clause rules relationally on the source
    * table, so the hash match proves the merge changed exactly the
    * mandated rows.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersioned(spark, dir)
    val base = Versioned.readAt(spark, tbl, 1)
    val y95 = base.filter(col("o_year") === 1995)
    val updates = y95.filter(col("o_orderkey") % 100 === 1)
      .withColumn("o_price_c", col("o_price_c") + 100000).select(col("*"), op("U"))
    val moves = y95.filter(col("o_orderkey") % 100 === 7)
      .withColumn("o_year", lit(1996)).select(col("*"), op("U"))
    val deletes = y95.filter(col("o_orderkey") % 100 === 2).select(col("*"), op("D"))
    val inserts = y95.filter(col("o_orderkey") % 100 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_orderpriority", lit("9-NEW"))
      .withColumn("o_year", lit(1999)).select(col("*"), op("I"))
    val noiseU = y95.filter(col("o_orderkey") % 100 === 5)
      .withColumn("o_orderkey", col("o_orderkey") + 20000000L).select(col("*"), op("U"))
    val noiseI = y95.filter(col("o_orderkey") % 100 === 4).select(col("*"), op("I"))
    val v = Versioned.merge(spark, tbl,
      updates.unionByName(moves).unionByName(deletes).unionByName(inserts)
        .unionByName(noiseU).unionByName(noiseI),
      "o_orderkey", "o_year", fromVersion = Some(1))
    // Retire the PREVIOUS invocation's merged version (same content,
    // superseded number); v1 and the fresh v keep their files, so the
    // lazy aggregate below reads only retained dirs.
    Versioned.vacuum(spark, tbl, keep = Set(1, v))
    perYear(Versioned.readAt(spark, tbl, v))
  }

  // q212's target: the same orders snapshot, but published FILE-GRANULAR —
  // range-repartitioned on (year, orderkey) so each year's keys split
  // across several key-contiguous files, manifest carrying per-file
  // orderkey min/max.
  private def ordersVersionedFiles(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "merge_ft") {
      val tbl = tmpOut(dir, "merge_ft")
      val base = ordersCents(spark, dir, col("o_orderpriority"))
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) >= 1 &&
          Versioned.fileEntriesOf(spark, tbl, 1).nonEmpty &&
          // q223 reads v1 through the DSv2 connector, which needs the
          // recorded schema — a pre-r14 on-disk table restages once
          Versioned.snapshot(spark, tbl, 1).meta.schema.isDefined && {
            val v1 = Versioned.readAt(spark, tbl, 1)
            v1.columns.toSet == base.columns.toSet && v1.count() == base.count()
          }
      } {
        Versioned.publish(spark, tbl,
          base.repartitionByRange(32, col("o_year"), col("o_orderkey")),
          partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
      }
      tbl
    }

  // (lo, hi) of the merge key within one partition of a FILE-GRANULAR
  // version, from manifest metadata alone: per-file [kmin, kmax] are
  // exact min/max, so their fold equals the data scan's agg(min, max) —
  // zero Spark jobs where the band queries used to burn one each.
  private def keyBoundsOf(spark: SparkSession, tbl: String, v: Int,
                          partDir: String): (Long, Long) = {
    val es = Versioned.fileEntriesOf(spark, tbl, v).filter(_._1 == partDir)
    require(es.nonEmpty, s"no $partDir files in v$v of $tbl")
    (es.map(_._4).min, es.map(_._5).max)
  }

  /** q212 — stats-scoped MERGE (`Versioned.merge` on a file-granular
    * base): the q208 manifest idea applied to the merge scope. The target
    * is published file-granular (range-layout on the key, per-file key
    * min/max in the manifest, so merge scopes by stats), and the CDC batch touches three NARROW key bands at the
    * bottom of 1995's key space — so only the files whose stats cover
    * those bands are rewritten; the rest of 1995, like every other year,
    * is spliced from v1's manifest unchanged (SinksSpec pins the exact
    * file set). This is the property that makes MERGE affordable on a hot
    * 100 TB partition: cost ∝ files containing the keys, not ∝ partition.
    * Clauses covered: in-band UPDATE (price bump), in-band DELETE,
    * out-of-range INSERT (new 1999 rows — no file covers their keys, so
    * zero files are read for them), unmatched-U noise (keys beyond every
    * range, ignored without any read) and matched-I noise (band-3 keys —
    * their files are READ for the membership check but spliced, not
    * rewritten). The oracle replays the bands relationally: lo/hi and the
    * band cuts are integer arithmetic both engines compute identically.
    */
  def mergeFileScoped(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersionedFiles(spark, dir)
    val base = Versioned.readAt(spark, tbl, 1)
    val y95 = base.filter(col("o_year") === 1995)
    // Bottom-8% of 1995's key space in four 2% bands. The bounds come
    // from the manifest's per-file stats (exact min/max — identical to
    // the data scan's agg the oracle replays); integer arithmetic mirrors
    // the oracle's `lo + (hi - lo + 1) * i // 50`.
    val (lo, hi) = keyBoundsOf(spark, tbl, 1, "o_year=1995")
    def cut(i: Long) = lo + (hi - lo + 1) * i / 50
    def band(df: DataFrame, i: Long) =
      df.filter(col("o_orderkey") >= cut(i) && col("o_orderkey") < cut(i + 1))
    val updates = band(y95, 0)
      .withColumn("o_price_c", col("o_price_c") + 100000).select(col("*"), op("U"))
    val deletes = band(y95, 1).select(col("*"), op("D"))
    val inserts = band(y95, 2)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      .withColumn("o_orderpriority", lit("9-NEW"))
      .withColumn("o_year", lit(1999)).select(col("*"), op("I"))
    val noiseU = band(y95, 3)
      .withColumn("o_orderkey", col("o_orderkey") + 200000000L).select(col("*"), op("U"))
    val noiseI = band(y95, 3).select(col("*"), op("I"))
    val v = Versioned.merge(spark, tbl,
      updates.unionByName(deletes).unionByName(inserts)
        .unionByName(noiseU).unionByName(noiseI),
      "o_orderkey", "o_year", fromVersion = Some(1))
    Versioned.vacuum(spark, tbl, keep = Set(1, v))
    perYear(Versioned.readAt(spark, tbl, v))
  }

  /** q226 — MERGE with OPTIMISTIC-CONCURRENCY REBASE (`rebaseRetries`):
    * two writers compute from the SAME pinned base and pin the same
    * expected version. Writer A (update band at ~30% of 1995's key space)
    * lands first; writer B (update+delete bands at ~86–90%) loses the
    * version CAS deterministically, and instead of failing, RE-VALIDATES
    * A's commit Delta-style against everything B read or decided on —
    * A's entry delta touches no file B rewrote/checked and covers none of
    * B's batch keys (per-file range + Bloom stats prove it) — then
    * splices its already-written output onto A's manifest and commits.
    * No re-execution, no lost update: the final version carries BOTH
    * writers' changes, which is exactly what the oracle's relational
    * replay of both batches demands. This is the concurrency story a
    * multi-writer 100 TB table needs: disjoint-key writers never queue
    * behind each other's retries.
    */
  def mergeOccRebase(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersionedFiles(spark, dir)
    val y95 = Versioned.readAt(spark, tbl, 1).filter(col("o_year") === 1995)
    val (lo, hi) = keyBoundsOf(spark, tbl, 1, "o_year=1995")
    def cut(i: Long) = lo + (hi - lo + 1) * i / 50
    def band(i: Long) =
      y95.filter(col("o_orderkey") >= cut(i) && col("o_orderkey") < cut(i + 1))
    val l0 = Versioned.latestVersion(spark, tbl)
    val batchA = band(15).withColumn("o_price_c", col("o_price_c") + 70000)
      .select(col("*"), op("U"))
    Versioned.merge(spark, tbl, batchA, "o_orderkey", "o_year",
      fromVersion = Some(1), expectedLatest = Some(l0))
    val batchB = band(43).withColumn("o_price_c", col("o_price_c") + 5000)
      .select(col("*"), op("U"))
      .unionByName(band(44).select(col("*"), op("D")))
    // Same base, same expected version as A: the CAS loss is guaranteed,
    // the rebase resolves it.
    val vB = Versioned.merge(spark, tbl, batchB, "o_orderkey", "o_year",
      fromVersion = Some(1), expectedLatest = Some(l0), rebaseRetries = 2)
    // No per-invocation vacuum: the demonstration is the rebase, and each
    // run adds two small dirs (bands of one partition) — q210/q212 cover
    // vacuum-after-merge; the racing-vacuum spec covers its safety.
    perYear(Versioned.readAt(spark, tbl, vB))
  }

  /** q227 — SHALLOW CLONE (`Versioned.cloneTable`): the clone's v1 is one
    * metadata commit whose entries reference the source's data files IN
    * PLACE — cloning a 100 TB table copies nothing (SinksSpec pins the
    * clone dir holds only `_manifests` before the merge). A stats-scoped
    * merge then evolves the CLONE: its two touched files are rewritten
    * into clone-LOCAL dirs while every untouched entry keeps pointing at
    * still-shared source files, and the source table is byte-identical
    * after (spec-pinned). The oracle replays the update+delete bands on
    * the source relationally: a hash match proves the clone serves
    * exactly source-v1 ⊕ batch — the dev/test-against-production-data
    * workflow (Delta shallow clone) at zero storage cost.
    */
  def shallowClone(spark: SparkSession, dir: String): DataFrame = {
    val src = ordersVersionedFiles(spark, dir)
    val dst = tmpOut(dir, "clone_vt")
    deleteTree(dst)
    Versioned.cloneTable(spark, src, dst, version = Some(1))
    val y95 = Versioned.readAt(spark, dst, 1).filter(col("o_year") === 1995)
    val (lo, hi) = keyBoundsOf(spark, dst, 1, "o_year=1995")
    def cut(i: Long) = lo + (hi - lo + 1) * i / 50
    def band(i: Long) =
      y95.filter(col("o_orderkey") >= cut(i) && col("o_orderkey") < cut(i + 1))
    val batch = band(20).withColumn("o_price_c", col("o_price_c") + 333)
      .select(col("*"), op("U"))
      .unionByName(band(21).select(col("*"), op("D")))
    val v = Versioned.merge(spark, dst, batch, "o_orderkey", "o_year")
    perYear(Versioned.readAt(spark, dst, v))
  }

  // q228's substrate: orders with an EVEN surrogate key (o_key = 2 ×
  // o_orderkey), range-laid-out and published file-granular — every odd
  // key is in-range but guaranteed absent, the sparse-key-space shape
  // where per-file Bloom filters beat min/max stats.
  private def evenKeyVersionedFiles(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "bloom_vt") {
      val tbl = tmpOut(dir, "bloom_vt")
      val base = orders(spark, dir).select(
        (col("o_orderkey") * 2).as("o_key"), col("o_custkey"), priceC,
        year(col("o_orderdate")).as("o_year"))
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) >= 1 &&
          Versioned.snapshot(spark, tbl, 1).meta.statsKey.contains("o_key") &&
          Versioned.bloomCoverage(spark, tbl, 1) == 1.0 &&
          Versioned.readAt(spark, tbl, 1).count() == base.count()
      } {
        Versioned.publish(spark, tbl,
          base.repartitionByRange(32, col("o_year"), col("o_key")),
          partCol = Some("o_year"), fileStatsKey = Some("o_key"))
      }
      tbl
    }

  /** q228 — BLOOM-PRUNED point lookups (`Versioned.lookupKeys`): the
    * manifest carries a per-file key Bloom filter next to the min/max
    * range (the public Delta bloom-index / Iceberg-puffin idea), and a
    * point-lookup batch reads only files that pass BOTH probes. The
    * probe set is half real keys, half odd keys that every file's RANGE
    * covers but no file contains — range stats alone would read a file
    * per absent key, the blooms skip them outright (SinksSpec pins the
    * strict file-count drop; no false negatives is pinned by the result
    * itself: every present key's row arrives, which is also what the
    * oracle checks). At 100 TB this is the difference between a point
    * lookup costing one file read and costing a partition scan.
    */
  def bloomPointLookup(spark: SparkSession, dir: String): DataFrame = {
    val tbl = evenKeyVersionedFiles(spark, dir)
    // Point batch (metadata-sized by the lookup contract): the 1995 keys
    // with o_orderkey ≡ 41 (mod 100), i.e. o_key ≡ 82 (mod 200), plus
    // their odd successors — in-range, provably absent.
    val present = Versioned.readAt(spark, tbl, 1)
      .filter(col("o_year") === 1995 && col("o_key") % 200 === 82)
      .select("o_key").collect().map(_.getLong(0))
    val probes = (present ++ present.map(_ + 1)).toSeq
    perYear(Versioned.lookupKeys(spark, tbl, probes, version = Some(1)))
  }

  /** q229 — DELETION VECTORS (`Versioned.deleteKeys`): a small point
    * delete (one 2% key band of 1995, GDPR-shaped) against a zero-copy
    * clone of the file-granular orders table writes NO data files — each
    * affected entry is repointed at a metadata-sized sidecar of deleted
    * keys and every read path subtracts them (SinksSpec pins data files
    * byte-identical, time travel to the pre-delete version, DV merging on
    * repeated deletes, materialization on rewrite, re-insert of a
    * DV-deleted key, and the DSv2 reader subtracting even when the key
    * column is projected out). This is the Delta DV / Iceberg delete-file
    * write-amplification fix: at 100 TB, deleting a user's rows costs
    * sidecars ∝ affected files, not file rewrites. The oracle replays the
    * band delete relationally — the hash proves the sidecar subtraction
    * equals a real delete.
    */
  def deletionVectors(spark: SparkSession, dir: String): DataFrame = {
    val src = ordersVersionedFiles(spark, dir)
    val dst = tmpOut(dir, "dv_vt")
    deleteTree(dst)
    Versioned.cloneTable(spark, src, dst, version = Some(1))
    val y95 = Versioned.readAt(spark, dst, 1).filter(col("o_year") === 1995)
    val (lo, hi) = keyBoundsOf(spark, dst, 1, "o_year=1995")
    def cut(i: Long) = lo + (hi - lo + 1) * i / 50
    // The band's keys, collected as the point-delete list (metadata-sized)
    val keys = y95.filter(col("o_orderkey") >= cut(30) && col("o_orderkey") < cut(31))
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    val v = if (keys.isEmpty) 1 else Versioned.deleteKeys(spark, dst, keys)
    perYear(Versioned.readAt(spark, dst, v))
  }

  /** q230 — DSv2 STREAMING SINK into the store
    * (`graft.sources.VersionedSink`): the engine-native
    * `writeStream.format(...)` surface replaces q213's hand-rolled
    * foreachBatch recipe — 1995's orders arrive as a 3-shard file stream
    * (`maxFilesPerTrigger = 1`) and each micro-batch epoch commits as ONE
    * tagged APPEND version: executors write the epoch's parquet files
    * straight into a staged layout (one file per partition value per
    * task, the same `col=value` shape Spark's writer produces, per-file
    * key stats + blooms recorded on adoption), and the driver promotes
    * exactly the files named in the epoch's commit messages before the
    * manifest CAS — a failed attempt's orphans die with the staging dir,
    * and a replayed epoch finds its `sink_<query>_<epoch>` tag and is a
    * no-op (SourcesSpec pins the mid-stream checkpointed restart and the
    * adoption idempotence). The oracle aggregates the source: batch base
    * + streamed year must equal the table exactly.
    */
  def streamSinkAppend(spark: SparkSession, dir: String): DataFrame = {
    val tbl = tmpOut(dir, "sink_vt")
    val stage = tmpOut(dir, "sink_shards")
    val ckpt = tmpOut(dir, "sink_ck")
    val base = ordersCents(spark, dir)
    val expected = base.count()
    restage(tbl, stage, ckpt) {
      Versioned.latestVersion(spark, tbl) >= 2 &&
        Versioned.read(spark, tbl).count() == expected
    } {
      Versioned.publish(spark, tbl, base.filter(col("o_year") =!= 1995),
        partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
      val q = y95ShardStream(spark, base, stage)
        .writeStream.format("graft.sources.VersionedSink")
        .option("checkpointLocation", ckpt)
        .option("partCol", "o_year")
        .option("fileStatsKey", "o_orderkey")
        .start(tbl)
      try q.processAllAvailable() finally q.stop()
    }
    perYear(Versioned.read(spark, tbl))
  }

  // q231's substrate: orders published file-granular (v1, range layout on
  // the key), then OPTIMIZE ZORDER BY (o_orderkey, o_custkey) as v2 —
  // per-file bounds recorded on BOTH columns.
  private def ordersZOrdered(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "zorder_vt") {
      val tbl = tmpOut(dir, "zorder_vt")
      val base = ordersCents(spark, dir)
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) >= 2 &&
          Versioned.snapshot(spark, tbl, 2).meta.statsKey2.contains("o_custkey") &&
          Versioned.readAt(spark, tbl, 2).count() == base.count()
      } {
        Versioned.publish(spark, tbl,
          base.repartitionByRange(32, col("o_year"), col("o_orderkey")),
          partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
        Versioned.optimizeZOrder(spark, tbl, "o_orderkey", "o_year",
          "o_custkey", filesPerPart = 6)
      }
      tbl
    }

  /** q231 — OPTIMIZE ZORDER + 2-D file skipping
    * (`Versioned.optimizeZOrder` + the DSv2 scan's `#statskey2` bounds):
    * the table is rewritten clustered on the Morton interleave of
    * (o_orderkey, o_custkey) — rows close in BOTH dimensions share files,
    * so per-file bounds tighten on both columns — and a 2-D box query
    * through the SQL connector skips every file whose rectangle misses
    * the box (SinksSpec pins that the box plans strictly fewer file
    * splits than the pre-z-order layout AND that a second-dimension-only
    * predicate prunes where the linear layout cannot; merges after
    * z-order drop the second-dimension stats SAFELY — off, never wrong).
    * This is the layout maintenance a 100 TB fact table runs to make
    * multi-dimension dashboards skip instead of scan. The oracle replays
    * the box relationally — z-order may change layout, never content.
    */
  def zorderBoxQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersZOrdered(spark, dir)
    val v1 = Versioned.readAt(spark, tbl, 1)
    val mm = v1.agg(min("o_orderkey"), max("o_orderkey"),
      min("o_custkey"), max("o_custkey")).head()
    val (klo, khi, clo, chi) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    def kcut(i: Long) = klo + (khi - klo + 1) * i / 50
    def ccut(i: Long) = clo + (chi - clo + 1) * i / 50
    perYear(spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", "2").load(tbl)
      .filter(col("o_orderkey") >= kcut(20) && col("o_orderkey") < kcut(30) &&
              col("o_custkey") >= ccut(20) && col("o_custkey") < ccut(30)))
  }

  /** q232 — SQL CATALOG over the store (`graft.sources.GraftCatalog`):
    * the whole lifecycle in PURE SQL, no Scala API — CREATE TABLE
    * (empty v1 recording schema/partition/stats columns), INSERT INTO
    * (executors stage parquet, one tagged-less APPEND version adopts
    * exactly the committed task files), DELETE FROM (pushed filters →
    * the store's partition-scoped rewrite), and a time-travelling
    * INSERT ... SELECT ... VERSION AS OF that restores the deleted
    * year's rows with a price bump — four versions, every one readable,
    * interleavable with the Scala API on the same manifests (SourcesSpec
    * pins DDL round-trips, rename, unconvertible-DELETE refusal, and
    * Scala-merge-after-SQL-write). The oracle replays the DML
    * relationally: base rows with 1996 re-inserted at +777.
    */
  /** The SQL catalog bound to `dir`'s warehouse, NAMED PER DIR: Spark's
    * CatalogManager caches a catalog instance with the warehouse it was
    * FIRST initialized with, so reusing one name across corpus dirs
    * (Bench warms at sf0.001, then times at sf0.1) would silently keep
    * every statement on the first warehouse — per-dir names make the
    * binding visible and correct.
    */
  private def lakeCatalog(spark: SparkSession, dir: String): String = {
    val cat = s"graft_lake_${dirTag(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpOut(dir, "warehouse"))
    cat
  }

  def sqlCatalogDml(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val view = s"graft_sql_src_${dirTag(dir)}"
    ordersCents(spark, dir).createOrReplaceTempView(view)
    val tbl = s"$cat.sqlns.orders_sql"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT, o_year INT)
         |PARTITIONED BY (o_year) TBLPROPERTIES ('statskey' = 'o_orderkey')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $tbl SELECT * FROM $view")
    spark.sql(s"DELETE FROM $tbl WHERE o_year = 1996")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_custkey, o_price_c + 777, o_year
         |FROM $tbl VERSION AS OF 2 WHERE o_year = 1996""".stripMargin)
    // Row-level SQL: UPDATE and MERGE INTO rewrite only the groups the
    // operation's scan planned (copy-on-write), one version each.
    spark.sql(s"UPDATE $tbl SET o_price_c = o_price_c + 3 WHERE o_orderkey % 10 = 5")
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT o_orderkey + 700000000 AS o_orderkey, o_custkey,
         |              o_price_c, 2005 AS o_year
         |       FROM $view WHERE o_year = 1995) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      s"""SELECT o_year, count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_price_c
         |FROM $tbl GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  /** q233 — MANIFEST DELTA LOG + CHECKPOINT (`#base`/`#rm` commits): 18
    * single-key deletion-vector commits against a zero-copy clone build a
    * delta chain that CROSSES the forced full checkpoint (depth cap 16 →
    * v18 re-serializes the full entry list), and the final read resolves
    * base-then-apply through the post-checkpoint tail. This is the Delta
    * log design (JSON delta actions + periodic checkpoint +
    * `_last_checkpoint` resolution) that turns commit bytes and manifest
    * parse cost from O(table files) into O(changed entries) — at 10^6
    * files the difference between ~100 MB of driver I/O per commit and a
    * few KB (LakeSqlSpec pins delta bytes < full/3 and the chain shape).
    * Victims are each bottom-2% key band's MIN key in 1995 — pure integer
    * arithmetic the oracle replays; the hash match proves a snapshot
    * assembled from the forced checkpoint (v18) plus its post-checkpoint
    * delta (v19) — itself standing on 16 pre-checkpoint deltas — equals
    * the relational delete of exactly those 18 keys.
    */
  def manifestLog(spark: SparkSession, dir: String): DataFrame = {
    val src = ordersVersionedFiles(spark, dir)
    val dst = tmpOut(dir, "mlog_vt")
    deleteTree(dst)
    Versioned.cloneTable(spark, src, dst, version = Some(1))
    val (lo, hi) = keyBoundsOf(spark, dst, 1, "o_year=1995")
    def cut(i: Long) = lo + (hi - lo + 1) * i / 50
    import spark.implicits._
    val bands = (0L until 18L).map(i => (i, cut(i), cut(i + 1)))
      .toDF("_i", "_clo", "_chi")
    // One job: the min existing key of each band (driver gets ≤18 longs).
    val victims = Versioned.readAt(spark, dst, 1)
      .filter(col("o_year") === 1995)
      .join(broadcast(bands),
        col("o_orderkey") >= col("_clo") && col("o_orderkey") < col("_chi"))
      .groupBy("_i").agg(min("o_orderkey").as("_k"))
      .collect().map(_.getLong(1)).sorted
    // 18 separate commits — the POINT is the chain, not the batch — all
    // driver metadata + one tiny sidecar each, no Spark job.
    victims.foreach(k => Versioned.deleteKeys(spark, dst, Seq(k)))
    perYear(Versioned.read(spark, dst))
  }

  /** q234 — SQL-ONLY MAINTENANCE LIFECYCLE (CTAS + CALL procedures): the
    * warehouse-operator surface. `CREATE TABLE ... AS SELECT` stages and
    * commits atomically (StagingTableCatalog — an aborted CTAS leaves no
    * table, LakeSqlSpec pins it), then `CALL sys.optimize` bin-packs,
    * `CALL sys.zorder` re-clusters recording 2-D bounds, SQL DELETE drops
    * 1996, `CALL sys.restore` rolls it back as a forward commit, and
    * `CALL sys.vacuum` retires the retired versions — every step a SQL
    * statement, no Scala API. The lifecycle is the query's substrate
    * (maintenance is not per-query work); each invocation re-reads the
    * latest AND the time-travelled deleted state, so the hash proves the
    * whole chain: optimize/zorder preserved content exactly, restore
    * undid the delete, and the pre-restore version still serves.
    */
  def sqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val wh = tmpOut(dir, "warehouse")
    val tbl = s"$cat.sqlns.orders_maint"
    val path = s"$wh/sqlns/orders_maint"
    // v1 = CTAS (one atomic commit since r16), then OPTIMIZE, ZORDER,
    // DELETE, RESTORE — five versions total.
    val expectOps = Seq("CTAS", "OPTIMIZE", "ZORDER(o_custkey)",
      "DELETE", "RESTORE(3)")
    // Validate only state GUARANTEED to survive the vacuum (keep-last-4 =
    // v2..v5): v2's OPTIMIZE rewrites every file, so it commits a FULL
    // checkpoint manifest with no #base chain — v1's manifest survives
    // only through the tail-source predecessor-retention rule, and v1's
    // DATA is reclaimed regardless. Probing retired versions here would
    // couple validity to retention details and, on a miss, permanently
    // fail the probe and re-run the whole DROP+CTAS+optimize+zorder+
    // delete+restore+vacuum lifecycle on EVERY invocation — defeating the
    // build-once substrate and racing concurrent sessions on the DROP. v4
    // readability (the phase-2 time-travel read) is probed via its schema
    // line.
    restage() {
      Versioned.latestVersion(spark, path) == 5 && {
        val vs = (2 to 5).map(Versioned.snapshot(spark, path, _))
        vs.map(_.meta.op) == expectOps.drop(1) && vs(2).meta.schema.nonEmpty
      } &&
        // the DELETE must have actually emptied 1996 at v4 (manifest
        // metadata only) — also invalidates pre-r16 substrates whose
        // delete targeted a year outside the fixture's 1995-2001 span
        !Versioned.fileEntriesOf(spark, path, 4).exists(_._1 == "o_year=1996") &&
        Versioned.fileEntriesOf(spark, path, 3).exists(_._1 == "o_year=1996")
    } {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val view = s"graft_maint_src_${dirTag(dir)}"
      ordersCents(spark, dir).createOrReplaceTempView(view)
      // CTAS repartitioned so every partition has files to bin-pack
      spark.sql(
        s"""CREATE TABLE $tbl PARTITIONED BY (o_year)
           |TBLPROPERTIES ('statskey' = 'o_orderkey')
           |AS SELECT /*+ REPARTITION(8) */ * FROM $view""".stripMargin)
      val vOpt = spark.sql(
        s"CALL $cat.sys.optimize(tbl => 'sqlns.orders_maint', " +
          "target_rows => 1000000)").head().getInt(0)
      require(vOpt == 2, s"optimize found nothing to pack (v$vOpt) — widen the CTAS layout")
      spark.sql(s"CALL $cat.sys.zorder('sqlns.orders_maint', 'o_custkey', 2)")
      spark.sql(s"DELETE FROM $tbl WHERE o_year = 1996")
      spark.sql(s"CALL $cat.sys.restore('sqlns.orders_maint', 3)")
      // Retire everything the lifecycle no longer serves (keep-last-4 =
      // v2..v5; v4's time-travel read below stays inside the window).
      // v2 is a FULL checkpoint (OPTIMIZE rewrote every file), so v1's
      // data is reclaimed — the validity probe above checks only v2..v5.
      spark.sql(s"CALL $cat.sys.vacuum('sqlns.orders_maint', 4, 0)")
    }
    // Phase 2 probes the pre-restore version around the deleted year only
    // — 1996 absent, neighbors intact — and the o_year predicate prunes
    // the scan to those partitions at planning time (phase 1 already
    // proves full-content equality with the source).
    spark.sql(
      s"""SELECT '1_latest' AS phase, o_year, count(*) AS n,
         |       sum(o_custkey) AS sum_cust, sum(o_price_c) AS sum_price_c
         |FROM $tbl GROUP BY o_year
         |UNION ALL
         |SELECT '2_deleted' AS phase, o_year, count(*) AS n,
         |       sum(o_custkey) AS sum_cust, sum(o_price_c) AS sum_price_c
         |FROM $tbl VERSION AS OF 4
         |WHERE o_year BETWEEN 1995 AND 1997 GROUP BY o_year
         |ORDER BY phase, o_year""".stripMargin)
  }

  /** q235 — SQL `ALTER TABLE ADD COLUMN` (pure-metadata schema
    * evolution): the column lands as one header-only commit (no file
    * touched — `Versioned.addColumns`), pre-ALTER rows NULL-backfill on
    * read, post-ALTER inserts carry values, and `VERSION AS OF` before
    * the ALTER still serves the OLD content (the per-version-schema
    * contract q218 established for merge-driven evolution, now reachable
    * from SQL). The oracle replays both phases relationally: the flag
    * count separates backfilled NULLs from inserted values, and the
    * pre-alter phase is the base content with the sentinel count.
    */
  def sqlAddColumn(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val wh = tmpOut(dir, "warehouse")
    val tbl = s"$cat.sqlns.orders_addcol"
    val path = s"$wh/sqlns/orders_addcol"
    restage() {
      Versioned.latestVersion(spark, path) == 4 &&
        Versioned.snapshot(spark, path, 3).meta.op.startsWith("ADD_COLUMN") &&
        Versioned.snapshot(spark, path, 4).meta.schema.exists(_.fieldNames.contains("o_flag"))
    } {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val view = s"graft_addcol_src_${dirTag(dir)}"
      ordersCents(spark, dir).createOrReplaceTempView(view)
      spark.sql(
        s"""CREATE TABLE $tbl (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT, o_year INT)
           |PARTITIONED BY (o_year) TBLPROPERTIES ('statskey' = 'o_orderkey')
           |""".stripMargin)
      spark.sql(s"INSERT INTO $tbl SELECT * FROM $view")
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN o_flag STRING")
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT o_orderkey + 900000000, o_custkey, o_price_c, o_year,
           |       'X' AS o_flag
           |FROM $view WHERE o_year = 1996""".stripMargin)
    }
    spark.sql(
      s"""SELECT '1_latest' AS phase, o_year, count(*) AS n,
         |       sum(o_custkey) AS sum_cust, count(o_flag) AS n_flag
         |FROM $tbl GROUP BY o_year
         |UNION ALL
         |SELECT '2_prealter' AS phase, o_year, count(*) AS n,
         |       sum(o_custkey) AS sum_cust, CAST(-1 AS BIGINT) AS n_flag
         |FROM $tbl VERSION AS OF 2 GROUP BY o_year
         |ORDER BY phase, o_year""".stripMargin)
  }

  /** q239 — SQL `ALTER TABLE RENAME/DROP COLUMN` (header-only COLUMN
    * MAPPING, the Delta name-mapping idea re-derived): RENAME records the
    * former name in the manifest's `#colmap` header — no file is
    * rewritten; reads resolve each logical column to the first name a
    * file actually carries (pre-rename files serve through the alias,
    * post-rename files through the new name, one plan) — and DROP
    * removes the column from the schema leaving every file untouched.
    * Re-using a renamed-away or dropped name is refused (the tombstone
    * contract: old bytes must never resurrect into a new column). Phase
    * 1 reads the post-drop latest over MIXED pre/post-rename files,
    * phase 2 time-travels to the pre-rename schema (old name, old
    * content), phase 3 proves the dropped column still serves under time
    * travel. LakeSqlSpec pins the header-only property (no new data
    * dirs), columnar reads through the alias, and the refusals.
    */
  def sqlColumnMapping(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val wh = tmpOut(dir, "warehouse")
    val tbl = s"$cat.sqlns.orders_colmap"
    val path = s"$wh/sqlns/orders_colmap"
    restage() {
      Versioned.latestVersion(spark, path) == 5 &&
        Versioned.snapshot(spark, path, 3).meta.op == "RENAME_COLUMN(o_price_c->o_cents)" && {
          val v5 = Versioned.snapshot(spark, path, 5).meta
          v5.op == "DROP_COLUMN(o_status)" && v5.schema.exists(s =>
            s.fieldNames.contains("o_cents") && !s.fieldNames.contains("o_status"))
        }
    } {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val view = s"graft_colmap_src_${dirTag(dir)}"
      ordersCents(spark, dir, col("o_orderstatus").as("o_status"))
        .createOrReplaceTempView(view)
      spark.sql(
        s"""CREATE TABLE $tbl (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT,
           |  o_status STRING, o_year INT)
           |PARTITIONED BY (o_year) TBLPROPERTIES ('statskey' = 'o_orderkey')
           |""".stripMargin)
      spark.sql(s"INSERT INTO $tbl SELECT * FROM $view")
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN o_price_c TO o_cents")
      // post-rename rows write the NEW name — the latest read mixes them
      // with pre-rename files and resolves both through the map
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT o_orderkey + 500000000, o_custkey, o_price_c + 111,
           |       'N' AS o_status, 2005 AS o_year
           |FROM $view WHERE o_year = 1996""".stripMargin)
      spark.sql(s"ALTER TABLE $tbl DROP COLUMN o_status")
    }
    spark.sql(
      s"""SELECT '1_latest' AS phase, CAST(o_year AS STRING) AS grp,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_cents) AS sum_cents
         |FROM $tbl GROUP BY o_year
         |UNION ALL
         |SELECT '2_pre' AS phase, CAST(o_year AS STRING) AS grp,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_cents
         |FROM $tbl VERSION AS OF 2 GROUP BY o_year
         |UNION ALL
         |SELECT '3_status' AS phase, o_status AS grp,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_cents) AS sum_cents
         |FROM $tbl VERSION AS OF 4 WHERE o_status = 'N' GROUP BY o_status
         |ORDER BY phase, grp""".stripMargin)
  }

  /** q240 — CATALOG-INTEGRATED STREAMING WRITE (`writeStream.toTable`):
    * a SQL-first user streams into `cat.ns.tbl` BY NAME — the partition
    * column and stats key come from the table's OWN recorded headers, no
    * path or layout options (the path-based q230 sink needs both). Three
    * staged shards of 1995 stream in at one file per trigger → three
    * tagged APPEND versions with per-file stats, exactly-once across
    * restarts on the same `sink_<queryId>_<epoch>` idempotence tags
    * (StreamingSpec pins the restart + the per-epoch versions). The
    * oracle is the whole orders table: a lost or doubled micro-batch
    * shifts a 1995 sum.
    */
  def streamToTable(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val wh = tmpOut(dir, "warehouse")
    val tbl = s"$cat.sqlns.orders_stream"
    val path = s"$wh/sqlns/orders_stream"
    val stage = tmpOut(dir, "stt_shards")
    val ckpt = tmpOut(dir, "stt_ck")
    val view = s"graft_stt_src_${dirTag(dir)}"
    val base = ordersCents(spark, dir)
    val expected = base.count()
    restage(stage, ckpt) {
      Versioned.latestVersion(spark, path) >= 5 &&
        Versioned.read(spark, path).count() == expected
    } {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      base.filter(col("o_year") =!= 1995).createOrReplaceTempView(view)
      spark.sql(
        s"""CREATE TABLE $tbl (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT, o_year INT)
           |PARTITIONED BY (o_year) TBLPROPERTIES ('statskey' = 'o_orderkey')
           |""".stripMargin)
      spark.sql(s"INSERT INTO $tbl SELECT * FROM $view")
      val q = y95ShardStream(spark, base, stage).writeStream
        .option("checkpointLocation", ckpt)
        .toTable(tbl)
      try q.processAllAvailable() finally q.stop()
    }
    spark.sql(
      s"""SELECT o_year, count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_price_c
         |FROM $tbl GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  /** q241 — MULTI-COLUMN PARTITIONING (`PARTITIONED BY (o_year, o_prio)`,
    * the `#partcol` comma list): directories nest `o_year=…/o_prio=…`
    * exactly like Spark's own layout, every DML stays scoped to the
    * touched LEAF partitions (a delete of one (year, priority) cell
    * rewrites only that cell — SourcesSpec pins the file counts), and a
    * predicate on ANY combination of partition columns prunes whole
    * entries at planning time. Built per invocation (DML is the point);
    * phase 1 is the post-DML content, phase 2 a both-dims pruned slice.
    * At 100 TB this is the (date, source) layout every real fact table
    * ships with — one partition dimension cannot express it.
    */
  def multiPartition(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val tbl = s"$cat.sqlns.orders_mpart"
    val view = s"graft_mpart_src_${dirTag(dir)}"
    ordersCents(spark, dir, col("o_orderpriority").as("o_prio"))
      .createOrReplaceTempView(view)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT,
         |  o_prio STRING, o_year INT)
         |PARTITIONED BY (o_year, o_prio)
         |TBLPROPERTIES ('statskey' = 'o_orderkey')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $tbl SELECT * FROM $view")
    // leaf-scoped DML: only the (1996, 3-MEDIUM) cell is rewritten away,
    // and the (1997, 1-URGENT) cell gets a price bump
    spark.sql(s"DELETE FROM $tbl WHERE o_year = 1996 AND o_prio = '3-MEDIUM'")
    spark.sql(
      s"""UPDATE $tbl SET o_price_c = o_price_c + 99
         |WHERE o_year = 1997 AND o_prio = '1-URGENT'""".stripMargin)
    spark.sql(
      s"""SELECT '1_latest' AS phase, CAST(o_year AS STRING) AS grp,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_price_c
         |FROM $tbl GROUP BY o_year
         |UNION ALL
         |SELECT '2_slice' AS phase, o_prio AS grp,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_price_c
         |FROM $tbl WHERE o_year = 1997 AND o_prio = '1-URGENT'
         |GROUP BY o_prio
         |ORDER BY phase, grp""".stripMargin)
  }

  // q242's substrate: a SQL-created table with `'statscols' =
  // 'o_odate,o_prio'` — N extra per-file stat dimensions beyond the key
  // — ingested clustered priority-major then by date, so every file is a
  // tight (priority, date-range) cell in the xstats domain.
  private def ordersNdimTable(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "orders_ndim") {
      val cat = lakeCatalog(spark, dir)
      val wh = tmpOut(dir, "warehouse")
      val tbl = s"$cat.sqlns.orders_ndim"
      val path = s"$wh/sqlns/orders_ndim"
      val base = ordersCents(spark, dir, to_date(col("o_orderdate")).as("o_odate"),
        col("o_orderpriority").as("o_prio"))
      restage() {
        Versioned.latestVersion(spark, path) == 2 &&
          Versioned.snapshot(spark, path, 2).meta.statsCols == Seq("o_odate", "o_prio") &&
          Versioned.readAt(spark, path, 2).count() == base.count()
      } {
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        val view = s"graft_ndim_src_${dirTag(dir)}"
        base.createOrReplaceTempView(view)
        spark.sql(
          s"""CREATE TABLE $tbl (
             |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT,
             |  o_odate DATE, o_prio STRING, o_year INT)
             |PARTITIONED BY (o_year)
             |TBLPROPERTIES ('statskey' = 'o_orderkey',
             |               'statscols' = 'o_odate,o_prio')
             |""".stripMargin)
        spark.sql(
          s"""INSERT INTO $tbl
             |SELECT /*+ REPARTITION_BY_RANGE(32, o_year, o_prio, o_odate) */ *
             |FROM $view""".stripMargin)
      }
      path
    }

  /** q242 — N-DIMENSION FILE STATS (`'statscols'`, the Delta
    * collect-stats-on-leading-columns convention): beyond the first-class
    * key (+ optional z-order second key), the manifest records per-file
    * `lo:hi` surrogate bounds for ANY list of typed columns — here a
    * DATE and a STRING — computed in the ingest's single stats scan and
    * recomputed on every append (`adoptStaged`), so skipping never
    * degrades on ingest; rewrites RECOMPUTE them for the files they
    * write (r17), and anything that still lacks them degrades SAFELY (stats
    * may disappear, never lie). Phase 1 proves full parity, phase 2 is a
    * (date × priority) box over dimensions NEITHER of which is the key —
    * pruned purely from the xstats slots (LakeSqlSpec pins the
    * file-count reduction and the degrade path). This closes the last
    * gap to "stats on the first 32 columns": a 100 TB table prunes on
    * whatever its queries actually filter by, not only its merge key.
    */
  def ndimStatsSkipping(spark: SparkSession, dir: String): DataFrame = {
    val path = ordersNdimTable(spark, dir)
    def src = spark.read.format("graft.sources.VersionedSource").load(path)
    val full = phaseSums("1_full", src.groupBy(col("o_year").cast("string").as("grp")))
    val box = phaseSums("2_box", src
      .filter(col("o_odate") >= to_date(lit("1996-02-01")) &&
              col("o_odate") <= to_date(lit("1996-07-31")) &&
              col("o_prio") === "5-LOW")
      .groupBy(col("o_prio").as("grp")))
    full.unionByName(box).orderBy("phase", "grp")
  }

  // q236's substrate: orders WITHOUT 1995, published file-granular — the
  // snapshot half of the tail (the 1995 appends stream per invocation).
  private def ordersTailBase(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "tail_vt") {
      val tbl = tmpOut(dir, "tail_vt")
      val base = ordersCents(spark, dir).filter(col("o_year") =!= 1995)
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) >= 1 && {
          val v1 = Versioned.readAt(spark, tbl, 1)
          v1.columns.toSet == base.columns.toSet && v1.count() == base.count()
        }
      } {
        Versioned.publish(spark, tbl, base,
          partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
      }
      tbl
    }

  /** q236 — APPEND-MODE STREAMING READ of the table itself
    * (`graft.sources.TableTailSource`): `readStream` of a versioned table
    * with NO change-feed recording — the default Delta streaming source,
    * the common "tail the table" consumer. Per invocation a zero-copy
    * clone of the 1995-less snapshot takes two APPEND commits (1995 split
    * by key parity), and the stream — capped at one version per trigger —
    * delivers the v1 snapshot plus each append's files exactly once into
    * a parquet sink; a non-append commit fails the stream loudly
    * (LakeSqlSpec pins restart exactly-once and the refusal). The oracle
    * is the whole orders table: a lost or doubled micro-batch shifts a
    * 1995 sum.
    */
  def streamTableTail(spark: SparkSession, dir: String): DataFrame = {
    val src = ordersTailBase(spark, dir)
    val dst = tmpOut(dir, "tail_run_vt")
    val out = tmpOut(dir, "tail_out")
    val ckpt = tmpOut(dir, "tail_ckpt")
    deleteTree(dst); deleteTree(out); deleteTree(ckpt)
    Versioned.cloneTable(spark, src, dst, version = Some(1))
    val y95 = ordersCents(spark, dir).filter(col("o_year") === 1995)
    Seq(0, 1).foreach { par =>
      val dd = s"d_tail$par"
      y95.filter(col("o_orderkey") % 2 === par)
        .write.partitionBy("o_year").parquet(s"$dst/$dd")
      Versioned.adoptStaged(spark, dst, dd, fileStatsKey = Some("o_orderkey"))
    }
    val q = spark.readStream.format("graft.sources.TableTailSource")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(dst)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    perYear(parquet(spark).load(out))
  }

  // q237's substrate: orders keyed by a STRING surrogate ('K' +
  // zero-padded orderkey — fixed width, so string order equals numeric
  // order and the oracle can replay bands numerically), published
  // file-granular with per-file stats ON THE STRING column.
  private def ordersVersionedString(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "merge_st") {
      val tbl = tmpOut(dir, "merge_st")
      val base = orders(spark, dir).select(
        concat(lit("K"), lpad(col("o_orderkey").cast("string"), 12, "0")).as("o_skey"),
        col("o_custkey"), priceC, year(col("o_orderdate")).as("o_year"))
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) >= 1 &&
          Versioned.snapshot(spark, tbl, 1).meta.statsKey.contains("o_skey") && {
            val v1 = Versioned.readAt(spark, tbl, 1)
            v1.columns.toSet == base.columns.toSet && v1.count() == base.count()
          }
      } {
        Versioned.publish(spark, tbl,
          base.repartitionByRange(32, col("o_year"), col("o_skey")),
          partCol = Some("o_year"), fileStatsKey = Some("o_skey"))
      }
      tbl
    }

  /** q237 — stats-scoped MERGE on a STRING key (`Versioned.merge` over
    * [[graft.tables.Versioned]]'s ordered-surrogate stats): the q212
    * property — rewrite only the files whose stats cover a batch key —
    * without the integral-key restriction. Per-file [kmin, kmax] carry
    * the string's truncated big-endian prefix encoding (the
    * Delta/Iceberg string-stats truncation convention: monotone, so a
    * range probe over-selects on shared prefixes but never misses) and
    * the Bloom filter hashes the FULL string, keeping point probes sharp.
    * The batch touches two narrow key bands of 1995 (update + delete) and
    * inserts 'Z'-prefixed keys that sort above every existing key — no
    * file's range covers them, so they cost zero reads (LakeSqlSpec pins
    * the exact spliced-vs-replaced file sets). The oracle replays the
    * bands numerically — the zero-padded key is order-isomorphic to the
    * number, so both engines compute identical band membership.
    */
  def mergeStringKey(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersionedString(spark, dir)
    val y95 = Versioned.readAt(spark, tbl, 1).filter(col("o_year") === 1995)
    // Numeric band cuts from the q212 substrate's manifest (same orders
    // keys), rendered into the fixed-width string domain.
    val (lo, hi) = keyBoundsOf(spark, ordersVersionedFiles(spark, dir), 1, "o_year=1995")
    def cut(i: Long) = lo + (hi - lo + 1) * i / 50
    def skey(k: Long) = "K" + ("%012d".format(k))
    def band(df: DataFrame, i: Long) =
      df.filter(col("o_skey") >= skey(cut(i)) && col("o_skey") < skey(cut(i + 1)))
    val updates = band(y95, 10)
      .withColumn("o_price_c", col("o_price_c") + 50000).select(col("*"), op("U"))
    val deletes = band(y95, 11).select(col("*"), op("D"))
    val inserts = band(y95, 12)
      .withColumn("o_skey", concat(lit("Z"), col("o_skey")))
      .withColumn("o_year", lit(1999)).select(col("*"), op("I"))
    val noiseI = band(y95, 13).select(col("*"), op("I"))
    val v = Versioned.merge(spark, tbl,
      updates.unionByName(deletes).unionByName(inserts).unionByName(noiseI),
      "o_skey", "o_year", fromVersion = Some(1))
    Versioned.vacuum(spark, tbl, keep = Set(1, v))
    perYear(Versioned.readAt(spark, tbl, v))
  }

  // q238's substrate: orders keyed by DATE with a STRING second stats
  // dimension, clustered priority-major then by date inside each year
  // partition, so every file is a tight (priority, date-range) cell —
  // the layout a 2-D box predicate skips on BOTH dimensions without a
  // z-order rewrite (z-order needs integral domains; leading-column
  // clustering is how a warehouse gets 2-D skipping on typed columns).
  private def ordersVersioned2D(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "box2d_vt") {
      val tbl = tmpOut(dir, "box2d_vt")
      val base = orders(spark, dir).select(
        col("o_orderkey"), col("o_custkey"),
        // the fixture stores order dates as timestamps; the stats key is
        // a true DATE column (epoch-day surrogates in the manifest)
        to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"), priceC, year(col("o_orderdate")).as("o_year"))
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) >= 1 && {
          val v1 = Versioned.snapshot(spark, tbl, 1).meta
          v1.statsKey.contains("o_orderdate") && v1.statsKey2.contains("o_orderpriority")
        } &&
          Versioned.readAt(spark, tbl, 1).count() == base.count()
      } {
        Versioned.publish(spark, tbl,
          base.repartitionByRange(32, col("o_year"), col("o_orderpriority"),
            col("o_orderdate")),
          partCol = Some("o_year"),
          fileStatsKey = Some("o_orderdate"),
          fileStatsKey2 = Some("o_orderpriority"))
      }
      tbl
    }

  /** q238 — 2-D FILE SKIPPING on (DATE, STRING) stats through the DSv2
    * reader: the manifest records per-file bounds for a DATE key
    * (epoch-day surrogate) and a STRING second dimension (truncated
    * big-endian prefix surrogate — the Delta/Iceberg string-truncation
    * convention), and a box predicate on BOTH columns prunes files whose
    * (date-range × priority-range) rectangle misses the box — at
    * planning time, from manifest metadata, before any file opens.
    * Phase 1 proves full-content parity; phase 2 is the boxed read
    * (pushed date range + string range; both survive only as planning
    * bounds — every filter stays residual, so correctness never depends
    * on the stats). SourcesSpec pins the actual file-count reduction and
    * that date/string point probes consult the bloom. At 100 TB this is
    * the difference between scanning a quarter×priority slice and
    * scanning the table.
    */
  def box2dSkipping(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersioned2D(spark, dir)
    def src = spark.read.format("graft.sources.VersionedSource").load(tbl)
    val full = phaseSums("1_full", src.groupBy(col("o_year").cast("string").as("grp")))
    val box = phaseSums("2_box", src
      .filter(col("o_orderdate") >= to_date(lit("1995-04-01")) &&
              col("o_orderdate") <= to_date(lit("1995-09-30")) &&
              col("o_orderpriority") >= "1-URGENT" &&
              col("o_orderpriority") <= "2-HIGH")
      .groupBy(col("o_orderpriority").as("grp")))
    full.unionByName(box).orderBy("phase", "grp")
  }

  // q214's substrate: orders staged as v1, one deterministic tagged MERGE
  // applied as v2.
  private def ordersChangeFeedTable(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "cf_vt") {
      val tbl = tmpOut(dir, "cf_vt")
      val base = ordersCents(spark, dir, col("o_orderpriority"))
      restage(tbl) {
        Versioned.taggedVersion(spark, tbl, "cf_batch_1995").contains(2) &&
          Versioned.readAt(spark, tbl, 1).count() == base.count()
      } {
        Versioned.publish(spark, tbl, base, partCol = Some("o_year"))
        // 1995-keyed batch: the merge touches {1995, 1999} only, so the
        // feed's manifest pruning has untouched partitions to skip
        val y95 = base.filter(col("o_year") === 1995)
        val batch = y95.filter(col("o_orderkey") % 100 === 9)
          .withColumn("o_price_c", col("o_price_c") + 777).select(col("*"), op("U"))
          .unionByName(y95.filter(col("o_orderkey") % 100 === 8).select(col("*"), op("D")))
          .unionByName(y95.filter(col("o_orderkey") % 100 === 6)
            .withColumn("o_orderkey", col("o_orderkey") + 400000000L)
            .withColumn("o_orderpriority", lit("7-CF"))
            .withColumn("o_year", lit(1999)).select(col("*"), op("I")))
        Versioned.merge(spark, tbl, batch, "o_orderkey", "o_year",
          fromVersion = Some(1), tag = Some("cf_batch_1995"))
      }
      tbl
    }

  /** q214 — table CHANGE FEED (`Versioned.changes`): the rows a MERGE
    * actually added and removed between two committed versions, each
    * tagged insert/delete — the Delta CDF read surface. An UPDATE appears
    * as its delete+insert image pair (no per-row tracking exists in a
    * rewrite-based store — same as CDF over a rewriting writer), a DELETE
    * as its delete image, an INSERT as its insert image; untouched rows
    * appear nowhere, however many partitions the merge rewrote, because
    * the feed is digest-based, not file-based. The oracle replays the
    * merge relationally and takes EXCEPT ALL both ways — multiset
    * semantics, the same contract as the digest anti-joins. At 100 TB the
    * feed is what incremental downstream consumers (index maintenance,
    * aggregate refresh — q114's delta input) read instead of the table.
    */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersChangeFeedTable(spark, dir)
    perYear(Versioned.changes(spark, tbl, 1, 2), "_change")
  }

  /** q215 — RESTORE / rollback (`Versioned.restore`): v1 publishes an
    * orders snapshot, a "bad" merge publishes v2 (price corruption +
    * deletes), restore republishes v1's entry set as v3 — a forward
    * commit with ZERO data copied (SinksSpec pins v3 shares v1's data
    * dirs), history intact. The output carries all three versions'
    * aggregates, so the hash proves v3 == v1 exactly while v2 — the
    * mistake — stays time-travelable; the oracle recomputes each
    * version's content from the source table alone.
    */
  def restoreRollback(spark: SparkSession, dir: String): DataFrame = {
    // The whole rollback is the substrate (nobody re-runs a rollback per
    // query): publish v1, bad-merge v2, restore v3; every invocation
    // re-reads all three versions.
    val tbl = tmpOut(dir, "restore_vt")
    val base = ordersCents(spark, dir)
    restage(tbl) {
      Versioned.latestVersion(spark, tbl) == 3 &&
        Versioned.dataDirsOf(spark, tbl, 3) == Versioned.dataDirsOf(spark, tbl, 1) &&
        Versioned.readAt(spark, tbl, 1).count() == base.count()
    } {
      Versioned.publish(spark, tbl, base, partCol = Some("o_year"))
      val bad = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_price_c", col("o_price_c") * 1000).select(col("*"), op("U"))
        .unionByName(base.filter(col("o_orderkey") % 10 === 4).select(col("*"), op("D")))
      Versioned.merge(spark, tbl, bad, "o_orderkey", "o_year", fromVersion = Some(1))
      Versioned.restore(spark, tbl, 1)
    }
    (1 to 3).map { v =>
      Versioned.readAt(spark, tbl, v)
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
             sum("o_price_c").as("sum_price_c"))
        .select(lit(v).as("ver"), col("n_rows"), col("sum_cust"), col("sum_price_c"))
    }.reduce(_.unionByName(_)).orderBy("ver")
  }

  /** q216 — OPTIMIZE inside the versioned store (`Versioned.compactFiles`):
    * a file-granular table accumulates small files from three successive
    * stats-scoped merges into one hot partition; compaction collapses that
    * partition to ONE file in a new version with every other entry
    * spliced and all prior versions readable. The output aggregates the
    * compacted version per year — the oracle replays the three merges
    * relationally, so the hash proves compaction changed ZERO rows (the
    * only thing OPTIMIZE is allowed to change is the file layout;
    * SinksSpec pins the file-count collapse itself).
    */
  def optimizeCompact(spark: SparkSession, dir: String): DataFrame = {
    // The substrate is v1 + three band merges + the compaction (v5, 1995
    // collapsed to one file): maintenance runs once, every invocation
    // reads the compacted version.
    val tbl = tmpOut(dir, "opt_vt")
    val base = ordersCents(spark, dir)
    restage(tbl) {
      Versioned.latestVersion(spark, tbl) == 5 &&
        Versioned.fileEntriesOf(spark, tbl, 5).count(_._1 == "o_year=1995") == 1 &&
        Versioned.readAt(spark, tbl, 1).count() == base.count()
    } {
      Versioned.publish(spark, tbl,
        base.repartitionByRange(16, col("o_year"), col("o_orderkey")),
        partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
      val y95 = base.filter(col("o_year") === 1995)
      val mm = y95.agg(min("o_orderkey"), max("o_orderkey")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      def cut(i: Long) = lo + (hi - lo + 1) * i / 25
      // three merges, each bumping one 4% band: 1995 accumulates files
      (0L to 2L).foreach { i =>
        val b = y95.filter(col("o_orderkey") >= cut(i) && col("o_orderkey") < cut(i + 1))
          .withColumn("o_price_c", col("o_price_c") + 1000 * (i + 1))
          .select(col("*"), op("U"))
        Versioned.merge(spark, tbl, b, "o_orderkey", "o_year")
      }
      Versioned.compactFiles(spark, tbl, "o_year=1995", "o_orderkey", "o_year")
    }
    perYear(Versioned.readAt(spark, tbl, 5))
  }

  /** q217 — whole-table OPTIMIZE (`Versioned.optimizeTable`): v1 publishes
    * orders file-granular with every year fragmented across small
    * range-laid-out files (the state a merge-heavy table degrades into);
    * one optimize pass bin-packs EVERY partition's files toward a target
    * row count using only the manifest's per-file row counts — planning
    * is metadata, the rewrite reads exactly the small files being
    * collapsed, and single-file bins splice. The output carries both
    * versions' aggregates, so the hash proves optimize changed ZERO rows
    * while v1 stays readable (time travel across a layout rewrite); the
    * layout collapse itself is pinned in SinksSpec. At 100 TB this is the
    * nightly maintenance op: work ∝ small-file population, never ∝ table.
    */
  def optimizeTableQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = tmpOut(dir, "optall_vt")
    val base = ordersCents(spark, dir)
    val total = base.count()
    val target = math.max(1L, total / 8)
    restage(tbl) {
      Versioned.latestVersion(spark, tbl) == 2 &&
        Versioned.fileEntriesOf(spark, tbl, 2).size <
          Versioned.fileEntriesOf(spark, tbl, 1).size &&
        Versioned.readAt(spark, tbl, 2).count() == total
    } {
      Versioned.publish(spark, tbl,
        base.repartitionByRange(48, col("o_year"), col("o_orderkey")),
        partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
      val v2 = Versioned.optimizeTable(spark, tbl, "o_orderkey", "o_year", target)
      require(v2 == 2, s"optimize should have found small files to collapse, got v$v2")
    }
    (1 to 2).map { v =>
      sums(Versioned.readAt(spark, tbl, v).groupBy("o_year"))
        .select(lit(v).as("ver"), col("o_year"), col("n"),
          col("sum_cust"), col("sum_price_c"))
    }.reduce(_.unionByName(_)).orderBy("ver", "o_year")
  }

  /** q218 — schema evolution INSIDE the versioned store (the Delta
    * mergeSchema contract, vs q126's plain-parquet read-time merge): v1
    * publishes orders without an `o_note` column; a MERGE whose source
    * carries the new column commits v2 — updated and inserted rows get
    * values, surviving rows and spliced pre-evolution files NULL-backfill
    * on read, and TIME TRAVEL to v1 still serves the OLD schema (the
    * manifest records a schema per version). The output unions both
    * versions' aggregates plus the per-year count of noted rows, so the
    * hash proves values, backfill, and the old-schema read at once; at
    * 100 TB this is the weekly "add a column without rewriting the
    * table" event.
    */
  def schemaEvolutionVersioned(spark: SparkSession, dir: String): DataFrame = {
    val tbl = tmpOut(dir, "se_vt")
    val base = ordersCents(spark, dir)
    restage(tbl) {
      Versioned.latestVersion(spark, tbl) == 2 &&
        Versioned.readAt(spark, tbl, 2).columns.contains("o_note") &&
        !Versioned.readAt(spark, tbl, 1).columns.contains("o_note") &&
        Versioned.readAt(spark, tbl, 1).count() == base.count()
    } {
      Versioned.publish(spark, tbl, base, partCol = Some("o_year"))
      val y95 = base.filter(col("o_year") === 1995)
      val batch = y95.filter(col("o_orderkey") % 100 === 1)
        .withColumn("o_price_c", col("o_price_c") + 5000)
        .withColumn("o_note", lit("BUMPED")).select(col("*"), op("U"))
        .unionByName(y95.filter(col("o_orderkey") % 100 === 2)
          .withColumn("o_note", lit(null).cast("string")).select(col("*"), op("D")))
        .unionByName(y95.filter(col("o_orderkey") % 100 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 500000000L)
          .withColumn("o_year", lit(1999))
          .withColumn("o_note", lit("FRESH")).select(col("*"), op("I")))
      Versioned.merge(spark, tbl, batch, "o_orderkey", "o_year")
    }
    val v2 = Versioned.readAt(spark, tbl, 2)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
           sum("o_price_c").as("sum_price_c"), count(col("o_note")).as("n_noted"))
      .select(lit(2).as("ver"), col("o_year"), col("n"), col("sum_cust"),
        col("sum_price_c"), col("n_noted"))
    // old schema: no o_note column
    val v1 = sums(Versioned.readAt(spark, tbl, 1).groupBy("o_year"))
      .select(lit(1).as("ver"), col("o_year"), col("n"), col("sum_cust"),
        col("sum_price_c"), lit(0L).as("n_noted"))
    v1.unionByName(v2).orderBy("ver", "o_year")
  }

  /** q221 — predicate DELETE (`Versioned.deleteWhere`, Delta's
    * DELETE FROM): every 1995 URGENT order is removed in one new version
    * branched from the pinned v1 snapshot — the discovery pass is ONE
    * filtered scan (the year predicate prunes partitions at the scan),
    * only the 1995 partition is rewritten, everything else splices, and
    * NULL-predicate rows are kept (SQL semantics, spec-pinned). At 100 TB
    * this is the GDPR/retention op: cost ∝ partitions holding matches.
    */
  def deleteWhereQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersioned(spark, dir)
    val v = Versioned.deleteWhere(spark, tbl,
      col("o_year") === 1995 && col("o_orderpriority") === "1-URGENT",
      "o_year", fromVersion = Some(1))
    Versioned.vacuum(spark, tbl, keep = Set(1, v))
    perYear(Versioned.readAt(spark, tbl, v))
  }

  /** q222 — predicate UPDATE (`Versioned.updateWhere`, Delta's UPDATE):
    * one new version branched from the pinned v1 applies a row-derived
    * assignment (price += custkey % 1000) to every 1996 order whose key
    * ends in 4 — only 1996 is rewritten (the assignment does not move
    * rows, so source = landing partitions), the rest splices, and a
    * NULL predicate leaves rows unchanged. The oracle replays the
    * assignment arithmetic relationally.
    */
  def updateWhereQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersioned(spark, dir)
    val v = Versioned.updateWhere(spark, tbl,
      col("o_year") === 1996 && col("o_orderkey") % 10 === 4,
      Map("o_price_c" -> (col("o_price_c") + col("o_custkey") % 1000)),
      "o_year", fromVersion = Some(1))
    Versioned.vacuum(spark, tbl, keep = Set(1, v))
    perYear(Versioned.readAt(spark, tbl, v))
  }

  /** q223 — SQL-surface read of the versioned store
    * (`graft.sources.VersionedSource`): the q212 file-granular table is
    * queried through a DSv2 connector + temp view + `spark.sql` — time
    * travel by option, column pruning pushed to the per-file readers, and
    * a key-band predicate pruned TWICE before any data opens: partition
    * entries by their directory-encoded value, files by the manifest's
    * recorded [kmin, kmax] stats (parquet-footer-style skipping served
    * from metadata; SourcesSpec pins the partition-count collapse). All
    * filters stay residual, so correctness never depends on the stats.
    * The oracle replays the band arithmetic relationally.
    */
  def versionedSqlRead(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersionedFiles(spark, dir)
    val base = Versioned.readAt(spark, tbl, 1)
    val mm = base.filter(col("o_year") === 1995)
      .agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    def cut(i: Long) = lo + (hi - lo + 1) * i / 50
    val view = s"graft_vorders_${dirTag(dir)}"
    spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", "1").load(tbl)
      .createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT o_year, count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_price_c
         |FROM $view
         |WHERE o_orderkey >= ${cut(10)} AND o_orderkey < ${cut(13)}
         |GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  /** q224 — CHECK constraints on the versioned store (`addConstraint`):
    * v1 publishes orders, v2 adds `o_price_c >= 0` (validating the whole
    * table once — the ALTER TABLE price), v3 merges a price bump that the
    * constraint ADMITS; every subsequent write validates only its NEW
    * rows (cost ∝ changed rows), and a violating write is refused before
    * any file lands (SinksSpec pins the refusal, NULL-pass semantics,
    * drop, and carry-through). The oracle replays the admitted merge —
    * the hash proves enforcement changed nothing that was legal.
    */
  def checkConstraintQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = tmpOut(dir, "cons_vt")
    val base = ordersCents(spark, dir)
    restage(tbl) {
      Versioned.latestVersion(spark, tbl) == 3 &&
        Versioned.snapshot(spark, tbl, 3).meta.constraints
          .exists(_._1 == "price_nonneg") &&
        Versioned.readAt(spark, tbl, 1).count() == base.count()
    } {
      Versioned.publish(spark, tbl, base, partCol = Some("o_year"))
      Versioned.addConstraint(spark, tbl, "price_nonneg", "o_price_c >= 0")
      val batch = base.filter(col("o_year") === 1995 && col("o_orderkey") % 100 === 21)
        .withColumn("o_price_c", col("o_price_c") + 999)
        .select(col("*"), op("U"))
      Versioned.merge(spark, tbl, batch, "o_orderkey", "o_year")
    }
    perYear(Versioned.readAt(spark, tbl, 3))
  }

  // q219/q220/q225's substrate: v1 publishes orders, then three RECORDING
  // merges (update band v2, delete band v3, insert band v4) persist their
  // per-row change images as c_* dirs. Its consumers only read it.
  private def ordersRecordedFeedTable(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "rcf_vt") {
      val tbl = tmpOut(dir, "rcf_vt")
      val base = ordersCents(spark, dir, col("o_orderpriority"))
      restage(tbl) {
        Versioned.latestVersion(spark, tbl) == 4 &&
          (2 to 4).forall(v => Versioned.snapshot(spark, tbl, v).meta.changesDir.isDefined) &&
          Versioned.readAt(spark, tbl, 1).count() == base.count()
      } {
        Versioned.publish(spark, tbl, base, partCol = Some("o_year"))
        val y95 = base.filter(col("o_year") === 1995)
        val batches = Seq(
          y95.filter(col("o_orderkey") % 100 === 11)
            .withColumn("o_price_c", col("o_price_c") + 111).select(col("*"), op("U")),
          y95.filter(col("o_orderkey") % 100 === 12).select(col("*"), op("D")),
          y95.filter(col("o_orderkey") % 100 === 13)
            .withColumn("o_orderkey", col("o_orderkey") + 600000000L)
            .withColumn("o_orderpriority", lit("6-RCF"))
            .withColumn("o_year", lit(1999)).select(col("*"), op("I")))
        batches.foreach(b =>
          Versioned.merge(spark, tbl, b, "o_orderkey", "o_year", recordChanges = true))
      }
      tbl
    }

  /** q219 — RECORDED change feed (`Versioned.recordedChanges`): each
    * recording merge persists its per-row change images (Delta CDF's
    * _change_data convention) as batch-sized c_* files referenced by the
    * commit's manifest, and the feed over (v1, v4] is just their union —
    * tagged `_change` + `_version`, ZERO table scans, cost ∝ the changes
    * themselves. This is what q214's digest feed becomes when the writer
    * cooperates, and what incremental consumers poll on a 100 TB table.
    * The oracle replays each band's images relationally (update =
    * delete+insert pair, delete = pre-image, insert = post-image) with
    * the version number each lands in.
    */
  def recordedChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersRecordedFeedTable(spark, dir)
    perYear(Versioned.recordedChanges(spark, tbl, 1, 4), "_version", "_change")
  }

  /** q220 — STREAMING change-feed source (`graft.sources.ChangeFeedSource`):
    * `readStream` FROM the versioned store, offset = committed version,
    * each micro-batch = the recorded change images of the newly committed
    * versions — the Delta streaming-source analog that closes the CDC
    * loop q213 (stream INTO the store) opened. Rows come only from
    * COMMITTED manifests (a merge that lost its commit race can never
    * leak into the stream) and are re-planned deterministically from
    * version offsets, so delivery is exactly-once across restarts
    * (StreamingSpec pins the restart). The aggregate matches q219's
    * oracle exactly: the stream serves the same feed the batch API does.
    */
  def streamChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersRecordedFeedTable(spark, dir)
    val qn = s"graft_cfeed_${dirTag(dir)}"
    val q = spark.readStream.format("graft.sources.ChangeFeedSource").load(tbl)
      .writeStream.format("memory").queryName(qn).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    perYear(spark.table(qn), "_version", "_change")
  }

  /** q225 — END-TO-END CDC REPLICATION: table B starts as a copy of A's
    * v1 snapshot, then a `ChangeFeedSource` STREAM of A's recorded change
    * feed (`maxVersionsPerTrigger = 1` — one source commit per
    * micro-batch) is applied to B through `foreachBatch`, each version's
    * images converted to a MERGE batch (insert image present in B → U,
    * absent → I; delete-only image → D) committed under a replay-
    * idempotent per-version tag. This closes the CDC loop the round
    * built: q213 streams INTO a store, q220 streams OUT of one, and here
    * the two compose into the standard cross-table replication recipe —
    * at 100 TB this is how a serving copy tracks the primary with work ∝
    * changes, never ∝ table. The oracle replays A's merges relationally:
    * a hash match proves the replica CONVERGED to the primary exactly.
    */
  def cdcReplication(spark: SparkSession, dir: String): DataFrame = {
    val srcTbl = ordersRecordedFeedTable(spark, dir) // A: v1 + 3 recorded merges
    val dst = tmpOut(dir, "repl_vt")
    val ckpt = tmpOut(dir, "repl_ck")
    val expected = Versioned.read(spark, srcTbl).count()
    restage(dst, ckpt) {
      Versioned.latestVersion(spark, dst) >= 1 &&
        Versioned.read(spark, dst).count() == expected
    } {
      Versioned.publish(spark, dst, Versioned.readAt(spark, srcTbl, 1),
        partCol = Some("o_year"))
      val q = spark.readStream.format("graft.sources.ChangeFeedSource")
        .option("maxVersionsPerTrigger", "1").load(srcTbl)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val srcV = b.agg(max(col("_version"))).head().getInt(0)
            val imgs = b.persist()
            val ins = imgs.filter(col("_change") === "insert").drop("_change", "_version")
            val del = imgs.filter(col("_change") === "delete").drop("_change", "_version")
            val dstKeys = Versioned.read(spark, dst).select(col("o_orderkey").as("_bk"))
            val updates = ins.join(dstKeys, col("o_orderkey") === col("_bk"), "left_semi")
              .withColumn("_op", lit("U"))
            val inserts = ins.join(dstKeys, col("o_orderkey") === col("_bk"), "left_anti")
              .withColumn("_op", lit("I"))
            val deletes = del.join(ins.select(col("o_orderkey").as("_ik")),
                col("o_orderkey") === col("_ik"), "left_anti")
              .withColumn("_op", lit("D"))
            Versioned.merge(spark, dst, updates.unionByName(inserts).unionByName(deletes),
              "o_orderkey", "o_year", tag = Some(s"repl_$srcV"))
            imgs.unpersist()
            ()
          }
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    perYear(Versioned.read(spark, dst))
  }

  /** q213 — STREAMING CDC ingestion into the versioned store with
    * exactly-once, replay-idempotent publishing: three CDC batches (an
    * update band, a delete band, an insert band over disjoint key ranges)
    * arrive as a real file STREAM (`maxFilesPerTrigger = 1`) and
    * `foreachBatch` applies each through `Versioned.merge` with a
    * CONTENT-ADDRESSED idempotence tag (the batch's min key) — the Delta
    * txn-id pattern: a redelivered batch (crash replay, warm/timed bench
    * passes, repeated Verify runs) finds its tag already committed and is
    * a NO-OP, so the table can never double-apply a price bump no matter
    * how many times the stream replays. The disjoint bands make the three
    * merges commutative, so the final state — and the oracle's relational
    * replay of it — is independent of micro-batch arrival order. Reuse
    * validation demands exactly v1+3 tagged versions or resets the table,
    * so a half-applied crash state restages rather than composing wrongly.
    */
  def streamCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tbl = tmpOut(dir, "cdc_vt")
    val stage = tmpOut(dir, "cdc_shards")
    val base = ordersCents(spark, dir, col("o_orderpriority"))
    val y95 = base.filter(col("o_year") === 1995)
    // base count + 1995 key bounds in ONE scan (the count feeds the
    // validity check below; it used to be its own job)
    val mm = base.agg(count(lit(1)),
      min(when(col("o_year") === 1995, col("o_orderkey"))),
      max(when(col("o_year") === 1995, col("o_orderkey")))).head()
    val baseCount = mm.getLong(0)
    val (lo, hi) = (mm.getLong(1), mm.getLong(2))
    // 4% bands (1/25 of the key space): wide enough that no band is empty
    // even at sf0.001's sparse orderkeys
    def cut(i: Long) = lo + (hi - lo + 1) * i / 25
    def band(i: Long) =
      y95.filter(col("o_orderkey") >= cut(i) && col("o_orderkey") < cut(i + 1))
    val batches = Seq(
      band(5).withColumn("o_price_c", col("o_price_c") + 50000).select(col("*"), op("U")),
      band(6).select(col("*"), op("D")),
      band(7).withColumn("o_orderkey", col("o_orderkey") + 300000000L)
        .withColumn("o_orderpriority", lit("8-CDC"))
        .withColumn("o_year", lit(1999)).select(col("*"), op("I")))
    // All three band-min tags in ONE scan of 1995 (formerly one job per
    // band); base.count() was folded into the bounds agg above.
    def bandCond(i: Long) =
      col("o_orderkey") >= cut(i) && col("o_orderkey") < cut(i + 1)
    restage(tbl, stage) {
      Versioned.latestVersion(spark, tbl) >= 1 &&
        Versioned.fileEntriesOf(spark, tbl, 1).nonEmpty &&
        Versioned.readAt(spark, tbl, 1).count() == baseCount && {
          val mins = y95.agg(
            min(when(bandCond(5), col("o_orderkey"))),
            min(when(bandCond(6), col("o_orderkey"))),
            // the insert batch ships its keys shifted +300M, so its tag is
            // the shifted min
            min(when(bandCond(7), col("o_orderkey") + 300000000L))).head()
          (0 to 2).forall { i =>
            mins.isNullAt(i) || // empty band: no batch, no tag to require
              Versioned.taggedVersion(spark, tbl,
                "band_" + mins.getLong(i)).isDefined
          }
        }
    } {
      Versioned.publish(spark, tbl,
        base.repartitionByRange(32, col("o_year"), col("o_orderkey")),
        partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
      batches.zipWithIndex.foreach { case (b, i) =>
        val tmp = tmpOut(dir, s"cdc_tmp_$i")
        deleteTree(tmp)
        b.coalesce(1).write.option("header", "true").csv(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".csv")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(stage, s"band_$i.csv"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        deleteTree(tmp)
      }
    }
    val sch = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_price_c", LongType), StructField("o_orderpriority", StringType),
      StructField("o_year", IntegerType), StructField("_op", StringType)))
    val q = spark.readStream.schema(sch)
      .option("header", "true").option("maxFilesPerTrigger", 1).csv(stage)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        // one agg answers both "empty?" and the tag (min is NULL on an
        // empty batch) — half the per-epoch driver jobs
        val m = b.agg(min("o_orderkey")).head()
        if (!m.isNullAt(0)) {
          Versioned.merge(spark, tbl, b, "o_orderkey", "o_year",
            tag = Some("band_" + m.getLong(0)))
          ()
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    perYear(Versioned.read(spark, tbl))
  }

  /** q211 — versioned-table time travel (`Versioned`): v1 publishes a
    * filtered orders snapshot; v2 publishes an evolved one (price bump,
    * deletions, new rows); then version 1 is read back AFTER v2 exists —
    * the read-at-version that proves published versions are immutable
    * (SinksSpec additionally pins v1's files byte-identical across the v2
    * publish). Each output row carries the version's aggregate plus the
    * digest-diff row counts against its predecessor (q166's snapshot diff
    * unified onto the version store). The oracle recomputes both version
    * CONTENTS and the diff from the source table alone, so the hash match
    * proves the store served exactly the published bytes for each version.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    // The two immutable snapshots are the substrate; the operator's WORK
    // (time-travel reads + the digest diff) runs per invocation.
    val tbl = tmpOut(dir, "ttv")
    val base = orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), priceC, col("o_orderpriority"))
    val v1df = base.filter(col("o_orderkey") % 10 < 5)
    val v2df = v1df.filter(col("o_orderkey") % 10 =!= 4)
      .withColumn("o_price_c",
        when(col("o_orderkey") % 10 === 1, col("o_price_c") + 100)
          .otherwise(col("o_price_c")))
      .unionByName(base.filter((col("o_orderkey") % 10).isin(5, 6)))
    // Both source-side expected counts in ONE scan (v2's rows are a
    // filter of v1's plus the 5/6 residues — pure count arithmetic), and
    // v1's row count reused as the diff baseline instead of a third
    // store-count job: the validation just proved store-v1 == c1, and a
    // restage publishes exactly v1df (count c1) — identical value, two
    // fewer jobs per invocation.
    val kmod = col("o_orderkey") % 10
    val cRow = base.agg(
      count(when(kmod < 5, lit(1))).as("c1"),
      (count(when(kmod < 5 && kmod =!= 4, lit(1))) +
        count(when(kmod.isin(5, 6), lit(1)))).as("c2")).head()
    val (c1, c2) = (cRow.getLong(0), cRow.getLong(1))
    val (ver1, ver2) = restage(tbl) {
      Versioned.latestVersion(spark, tbl) == 2 &&
        Versioned.readAt(spark, tbl, 1).count() == c1 &&
        Versioned.readAt(spark, tbl, 2).count() == c2
    } {
      (Versioned.write(spark, tbl, v1df), Versioned.write(spark, tbl, v2df))
    }.getOrElse((1, 2))
    val (a2, r2) = Versioned.diff(spark, tbl, ver1, ver2)
    def summarize(v: Int, added: Long, removed: Long): DataFrame =
      Versioned.readAt(spark, tbl, v) // v1 read AFTER v2 was published
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
             sum("o_price_c").as("sum_price_c"))
        .select(lit(v).as("ver"), col("n_rows"), col("sum_cust"),
          col("sum_price_c"), lit(added).as("n_added"), lit(removed).as("n_removed"))
    summarize(ver1, c1, 0L).unionByName(summarize(ver2, a2, r2)).orderBy("ver")
  }

  /** q243 — MERGE `WHEN NOT MATCHED BY SOURCE` (full-sync/mirror merge,
    * `Versioned.merge(notMatchedBySource = Delete)`): the SQL standard's
    * third merge clause — target rows whose key appears NOWHERE in the
    * source are deleted, making the table exactly mirror the source's key
    * set. One merge against the pinned v1 applies all three clauses at
    * once: matched-UPDATE (price bump on keys ending in 1, identity
    * update elsewhere), not-matched-INSERT (a 2003 batch), and
    * NOT-MATCHED-BY-SOURCE DELETE (keys ending in 3 or 7 are absent from
    * the source and vanish). The clause's discovery is one anti-join scan
    * (inherent — source absence needs every row looked at), but the
    * rewrite stays scoped to partitions actually holding matched or
    * unmatched rows: SourcesSpec pins that an all-keys-present source
    * rewrites nothing extra. The oracle replays the mirror relationally.
    */
  def mergeMirrorSync(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersioned(spark, dir)
    val base = Versioned.readAt(spark, tbl, 1)
    // the DESIRED state: every key to keep rides as an upsert image
    val keep = base.filter(col("o_orderkey") % 10 =!= 3 && col("o_orderkey") % 10 =!= 7)
      .withColumn("o_price_c",
        when(col("o_orderkey") % 10 === 1, col("o_price_c") + 55)
          .otherwise(col("o_price_c")))
      .select(col("*"), op("U"))
    val fresh = base.filter(col("o_year") === 1995 && col("o_orderkey") % 100 === 6)
      .withColumn("o_orderkey", col("o_orderkey") + 40000000L)
      .withColumn("o_year", lit(2003))
      .select(col("*"), op("I"))
    val v = Versioned.merge(spark, tbl, keep.unionByName(fresh),
      "o_orderkey", "o_year", fromVersion = Some(1),
      notMatchedBySource = Some(Versioned.NotMatchedBySource.Delete))
    Versioned.vacuum(spark, tbl, keep = Set(1, v))
    perYear(Versioned.readAt(spark, tbl, v))
  }

  // q244's substrate: a table whose extra stats column (`'statscols' =
  // 'o_ship'`) is NULLABLE by construction — urgent orders carry no ship
  // date — ingested priority-major so whole files are all-null or
  // null-free in the dimension, the shape null-count skipping prunes.
  private def ordersNullTable(spark: SparkSession, dir: String): String =
    perSession(spark, dir, "orders_nullx") {
      val cat = lakeCatalog(spark, dir)
      val wh = tmpOut(dir, "warehouse")
      val tbl = s"$cat.sqlns.orders_nullx"
      val path = s"$wh/sqlns/orders_nullx"
      val base = ordersCents(spark, dir,
        when(col("o_orderpriority") === "1-URGENT", lit(null))
          .otherwise(to_date(col("o_orderdate"))).as("o_ship"),
        col("o_orderpriority").as("o_prio"))
      restage() {
        Versioned.latestVersion(spark, path) == 2 &&
          Versioned.snapshot(spark, path, 2).meta.statsCols == Seq("o_ship") &&
          Versioned.readAt(spark, path, 2).count() == base.count()
      } {
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        val view = s"graft_nullx_src_${dirTag(dir)}"
        base.createOrReplaceTempView(view)
        spark.sql(
          s"""CREATE TABLE $tbl (
             |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT,
             |  o_ship DATE, o_prio STRING, o_year INT)
             |PARTITIONED BY (o_year)
             |TBLPROPERTIES ('statskey' = 'o_orderkey', 'statscols' = 'o_ship')
             |""".stripMargin)
        spark.sql(
          s"""INSERT INTO $tbl
             |SELECT /*+ REPARTITION_BY_RANGE(32, o_year, o_prio, o_ship) */ *
             |FROM $view""".stripMargin)
      }
      path
    }

  /** q244 — NULL-COUNT FILE SKIPPING (per-dimension null counts in the
    * manifest's `xstats` slots, the Delta/Iceberg nullCount convention):
    * each file records how many rows are NULL in every extra stats
    * dimension, so `IS NULL` skips null-free files (count = 0),
    * `IS NOT NULL` skips all-null files (count = rows), and a RANGE
    * predicate skips provably all-null files outright. The substrate's
    * ship-date column is null exactly for urgent orders and the ingest
    * clusters priority-major, so whole files sit on each side. Phase 1
    * aggregates the null side, phase 2 a date band of the non-null side —
    * both prune (SourcesSpec pins the file counts); correctness never
    * depends on it (all filters stay residual). The oracle replays the
    * null rule relationally.
    */
  def nullStatsSkipping(spark: SparkSession, dir: String): DataFrame = {
    val path = ordersNullTable(spark, dir)
    def src = spark.read.format("graft.sources.VersionedSource").load(path)
    val nullSide = phaseSums("1_null", src.filter(col("o_ship").isNull)
      .groupBy(col("o_year").cast("string").as("grp")))
    val band = phaseSums("2_band", src.filter(col("o_ship").isNotNull &&
        col("o_ship") >= to_date(lit("1996-03-01")) &&
        col("o_ship") <= to_date(lit("1996-08-31")))
      .groupBy(col("o_prio").as("grp")))
    nullSide.unionByName(band).orderBy("phase", "grp")
  }

  /** q245 — SQL `ALTER TABLE ALTER COLUMN TYPE` WIDENING (int→bigint via
    * `Versioned.widenColumnType`, the public Delta type-widening table):
    * a header-only commit records the wider type; files are never
    * rewritten — pre-widen files keep their narrow bytes and every read
    * path widens per file from parquet-footer truth (both DSv2 decode
    * paths consult the file's physical type; LakeSqlSpec pins the
    * round-trip, float→double, and the narrowing refusal). After the
    * ALTER, an append writes values only the wide type can hold; the
    * final aggregate spans narrow and wide files in one scan, and a
    * time-travel phase proves the pre-widen version still serves the
    * ORIGINAL int type. The oracle replays both phases relationally.
    */
  def sqlWidenColumn(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val tbl = s"$cat.sqlns.orders_widen"
    val view = s"graft_widen_src_${dirTag(dir)}"
    orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      cents.cast("int").as("o_price_i"), year(col("o_orderdate")).as("o_year"))
      .createOrReplaceTempView(view)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_price_i INT, o_year INT)
         |PARTITIONED BY (o_year) TBLPROPERTIES ('statskey' = 'o_orderkey')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $tbl SELECT * FROM $view")
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN o_price_i TYPE BIGINT")
    // values beyond Int range land ONLY because the column widened; keys
    // shift out of the existing space, years to a fresh partition
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey + 50000000, o_custkey,
         |       CAST(o_price_i AS BIGINT) * 1000000, 2004
         |FROM $view WHERE o_year = 1995 AND o_orderkey % 100 = 9""".stripMargin)
    spark.sql(
      s"""SELECT '1_wide' AS phase, o_year,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_i) AS sum_price
         |FROM $tbl GROUP BY o_year
         |UNION ALL
         |SELECT '2_prewiden' AS phase, o_year,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_i) AS sum_price
         |FROM $tbl VERSION AS OF 2 GROUP BY o_year
         |ORDER BY phase, o_year""".stripMargin)
  }

  /** q246 — METADATA-ONLY AGGREGATES (`SupportsPushDownAggregates` on
    * the DSv2 connector, the Delta/Iceberg metadata shortcut): an
    * unfiltered `SELECT count(*), min(key), max(key)` is answered from
    * the manifest alone — per-file row counts and the recorded key
    * bounds — with ZERO data files opened (phase 1 plans one
    * metadata row; SourcesSpec pins the plan marker and every fallback).
    * Phase 2 is the same aggregate FILTERED to one year — filters stay
    * residual in this source, so the shortcut provably cannot serve it
    * and the data path answers. The oracle replays both phases
    * relationally: the hash match proves the metadata answer equals the
    * scan's.
    */
  def metadataAggregates(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ordersVersionedFiles(spark, dir)
    val view = s"graft_magg_${dirTag(dir)}"
    spark.read.format("graft.sources.VersionedSource")
      .option("versionAsOf", "1").load(tbl)
      .createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT '1_meta' AS phase, count(*) AS n,
         |       min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
         |FROM $view
         |UNION ALL
         |SELECT '2_filtered' AS phase, count(*) AS n,
         |       min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
         |FROM $view WHERE o_year = 1996
         |ORDER BY phase""".stripMargin)
  }

  /** q247 — PARTITION EVOLUTION (`Versioned.evolvePartitioning` /
    * `CALL sys.evolve_partitioning`, the Iceberg evolve-spec idea on the
    * manifest store): the spec changes HEADER-ONLY — v1-era files keep
    * their `o_year=…` layout and keep serving through their own
    * directory structure, while the post-evolution INSERT lands nested
    * `o_year=…/o_prio=…` immediately. While layouts are mixed, SQL
    * row-level DML stays available (entry-identity splice — the DELETE
    * here runs as a copy-on-write rewrite because `canDeleteWhere`
    * declines mixed tables) and value-scoped DML refuses loudly
    * (SourcesSpec pins the refusal); `CALL sys.repartition` then
    * rewrites every file into the current spec and value-scoped DML
    * resumes. The final aggregate reads the normalized table plus a
    * pruned (year, prio) slice; the oracle replays the whole lifecycle
    * relationally.
    */
  def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val cat = lakeCatalog(spark, dir)
    val tbl = s"$cat.sqlns.orders_evo"
    val view = s"graft_evo_src_${dirTag(dir)}"
    ordersCents(spark, dir, col("o_orderpriority").as("o_prio"))
      .createOrReplaceTempView(view)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sqlns")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_price_c BIGINT,
         |  o_prio STRING, o_year INT)
         |PARTITIONED BY (o_year) TBLPROPERTIES ('statskey' = 'o_orderkey')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $tbl SELECT * FROM $view WHERE o_year <= 1998")
    spark.sql(s"CALL $cat.sys.evolve_partitioning('sqlns.orders_evo', 'o_year,o_prio')")
    // post-evolution ingest lands nested immediately; DML while MIXED
    // rides the evolution-safe row-level path
    spark.sql(s"INSERT INTO $tbl SELECT * FROM $view WHERE o_year >= 1999")
    spark.sql(s"DELETE FROM $tbl WHERE o_year = 1996 AND o_prio = '3-MEDIUM'")
    spark.sql(s"CALL $cat.sys.repartition('sqlns.orders_evo')")
    spark.sql(
      s"""SELECT '1_years' AS phase, CAST(o_year AS STRING) AS grp,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_price_c
         |FROM $tbl GROUP BY o_year
         |UNION ALL
         |SELECT '2_slice' AS phase, o_prio AS grp,
         |       count(*) AS n, sum(o_custkey) AS sum_cust,
         |       sum(o_price_c) AS sum_price_c
         |FROM $tbl WHERE o_year = 1997 AND o_prio = '1-URGENT'
         |GROUP BY o_prio
         |ORDER BY phase, grp""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q247_partition_evolution" -> partitionEvolution _,
    "q246_metadata_aggregates" -> metadataAggregates _,
    "q243_merge_not_matched_by_source" -> mergeMirrorSync _,
    "q244_null_count_skipping" -> nullStatsSkipping _,
    "q245_sql_widen_column" -> sqlWidenColumn _,
    "q210_merge_upsert" -> mergeUpsert _,
    "q211_time_travel"  -> timeTravel _,
    "q212_merge_file_scoped" -> mergeFileScoped _,
    "q213_stream_cdc_merge"  -> streamCdcMerge _,
    "q214_change_feed"       -> changeFeed _,
    "q215_restore_rollback"  -> restoreRollback _,
    "q216_optimize_compact"  -> optimizeCompact _,
    "q217_optimize_table"    -> optimizeTableQuery _,
    "q218_schema_evolution_versioned" -> schemaEvolutionVersioned _,
    "q219_recorded_change_feed" -> recordedChangeFeed _,
    "q220_stream_change_feed"   -> streamChangeFeed _,
    "q221_delete_where"         -> deleteWhereQuery _,
    "q222_update_where"         -> updateWhereQuery _,
    "q223_versioned_sql_read"   -> versionedSqlRead _,
    "q224_check_constraint"     -> checkConstraintQuery _,
    "q225_cdc_replication"      -> cdcReplication _,
    "q226_merge_occ_rebase"     -> mergeOccRebase _,
    "q227_shallow_clone"        -> shallowClone _,
    "q228_bloom_point_lookup"   -> bloomPointLookup _,
    "q229_deletion_vectors"     -> deletionVectors _,
    "q230_stream_sink_append"   -> streamSinkAppend _,
    "q231_zorder_box"           -> zorderBoxQuery _,
    "q232_sql_catalog_dml"      -> sqlCatalogDml _,
    "q233_manifest_log"         -> manifestLog _,
    "q234_sql_maintenance"      -> sqlMaintenance _,
    "q235_sql_add_column"       -> sqlAddColumn _,
    "q236_stream_table_tail"    -> streamTableTail _,
    "q237_merge_string_key"     -> mergeStringKey _,
    "q238_box_2d_skipping"      -> box2dSkipping _,
    "q239_sql_column_mapping"   -> sqlColumnMapping _,
    "q240_stream_to_table"      -> streamToTable _,
    "q241_multi_partition"      -> multiPartition _,
    "q242_ndim_stats_skipping"  -> ndimStatsSkipping _,
    "q144_lines_write_roundtrip" -> linesWriteRoundtrip _,
    "q133_lines_source_roundtrip" -> linesSourceRoundtrip _,
    "q126_schema_evolution" -> schemaEvolution _,
    "q114_incremental_agg" -> incrementalAgg _,
    "q113_json_roundtrip"  -> jsonRoundtrip _,
    "q191_avro_roundtrip"  -> avroRoundtrip _,
    "q197_xml_roundtrip"   -> xmlRoundtrip _,
    "q200_compaction"      -> compaction _,
    "q203_corrupt_records" -> corruptRecordIngest _,
    "q207_mv_auto_rewrite" -> mvAutoRewrite _,
    "q204_gzip_text"       -> gzipTextRoundtrip _,
    "q96_sink_partitioned" -> sinkPartitioned _,
    "q97_bucketed_join"    -> bucketedJoin _,
    "q98_orc_roundtrip"    -> orcRoundtrip _,
    "q99_csv_roundtrip"    -> csvRoundtrip _,
  )

  val oracles: Map[String, String] = Map(
    // The evolution lifecycle replayed relationally: both ingests land,
    // the mixed-state DELETE removes exactly its (year, prio) cell, and
    // the repartition rewrite changes nothing.
    "q247_partition_evolution" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         o_orderpriority AS o_prio,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |v AS (SELECT * FROM b
        |      WHERE NOT (o_year = 1996 AND o_prio = '3-MEDIUM'))
        |SELECT '1_years' AS phase, CAST(o_year AS VARCHAR) AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM v GROUP BY 1, 2
        |UNION ALL
        |SELECT '2_slice' AS phase, o_prio AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM v WHERE o_year = 1997 AND o_prio = '1-URGENT' GROUP BY 1, 2
        |ORDER BY phase, grp""".stripMargin,
    // The metadata answer must equal the relational aggregate exactly —
    // phase 1 is served from manifest counts/bounds, phase 2 from data.
    "q246_metadata_aggregates" ->
      """WITH tgt AS (SELECT o_orderkey,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT '1_meta' AS phase, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_k,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_k
        |FROM tgt
        |UNION ALL
        |SELECT '2_filtered' AS phase, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_k,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_k
        |FROM tgt WHERE o_year = 1996
        |ORDER BY phase""".stripMargin,
    // Mirror-sync replayed relationally: keep-set upserted (with the
    // %10=1 bump), keys absent from the source (%10 in 3,7) deleted by
    // the NOT-MATCHED-BY-SOURCE clause, the 2003 batch inserted.
    "q243_merge_not_matched_by_source" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |kept AS (
        |  SELECT o_orderkey, o_custkey,
        |         o_price_c + CASE WHEN o_orderkey % 10 = 1 THEN 55 ELSE 0 END
        |           AS o_price_c,
        |         o_year
        |  FROM tgt WHERE o_orderkey % 10 NOT IN (3, 7)),
        |ins AS (
        |  SELECT o_orderkey + 40000000 AS o_orderkey, o_custkey, o_price_c,
        |         2003 AS o_year
        |  FROM tgt WHERE o_year = 1995 AND o_orderkey % 100 = 6),
        |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // The null rule replayed relationally: ship date is NULL exactly for
    // urgent orders; both phases must agree with the pruned scans.
    "q244_null_count_skipping" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
        |              ELSE CAST(o_orderdate AS DATE) END AS o_ship,
        |         o_orderpriority AS o_prio,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT '1_null' AS phase, CAST(o_year AS VARCHAR) AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM b WHERE o_ship IS NULL GROUP BY 1, 2
        |UNION ALL
        |SELECT '2_band' AS phase, o_prio AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM b
        |WHERE o_ship IS NOT NULL
        |  AND o_ship >= DATE '1996-03-01' AND o_ship <= DATE '1996-08-31'
        |GROUP BY 1, 2
        |ORDER BY phase, grp""".stripMargin,
    // Widening replayed relationally: phase 1 is the table after the
    // wide append, phase 2 the pre-widen snapshot (int column) — both
    // from the same source rows.
    "q245_sql_widen_column" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS INT) AS o_price_i,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |wide AS (
        |  SELECT o_orderkey, o_custkey, CAST(o_price_i AS BIGINT) AS o_price,
        |         o_year FROM b
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey,
        |         CAST(o_price_i AS BIGINT) * 1000000, 2004
        |  FROM b WHERE o_year = 1995 AND o_orderkey % 100 = 9)
        |SELECT '1_wide' AS phase, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price) AS BIGINT) AS sum_price
        |FROM wide GROUP BY 1, 2
        |UNION ALL
        |SELECT '2_prewiden' AS phase, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_i) AS BIGINT) AS sum_price
        |FROM b GROUP BY 1, 2
        |ORDER BY phase, o_year""".stripMargin,
    // Both writers' batches replayed relationally: the hash match proves
    // the rebased commit kept A's update (no lost update) AND applied B's.
    "q226_merge_occ_rebase" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 15 // 50
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 16 // 50
        |              THEN o_price_c + 70000
        |              WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 43 // 50
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 44 // 50
        |              THEN o_price_c + 5000
        |              ELSE o_price_c END AS o_price_c,
        |         o_year
        |  FROM tgt, b
        |  WHERE NOT (o_year = 1995
        |             AND o_orderkey >= lo + (hi - lo + 1) * 44 // 50
        |             AND o_orderkey <  lo + (hi - lo + 1) * 45 // 50))
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // The clone must serve exactly source-v1 ⊕ batch (update band 20,
    // delete band 21) — replayed relationally on the source table.
    "q227_shallow_clone" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 20 // 50
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 21 // 50
        |              THEN o_price_c + 333 ELSE o_price_c END AS o_price_c,
        |         o_year
        |  FROM tgt, b
        |  WHERE NOT (o_year = 1995
        |             AND o_orderkey >= lo + (hi - lo + 1) * 21 // 50
        |             AND o_orderkey <  lo + (hi - lo + 1) * 22 // 50))
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // The SQL lifecycle replayed relationally: 1996 re-inserted at +777,
    // then keys ≡5 (mod 10) updated +3, then 1995's rows merged in as
    // fresh 1998 keys (+7e8) at their source prices.
    // 18 per-band-min keys deleted through the delta-log chain: the
    // snapshot resolved through checkpoint + deltas must equal the
    // relational delete of exactly those keys.
    "q233_manifest_log" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995),
        |victims AS (
        |  SELECT min(o_orderkey) AS k
        |  FROM tgt, b, range(18) r(i)
        |  WHERE o_year = 1995
        |    AND o_orderkey >= lo + (hi - lo + 1) * i // 50
        |    AND o_orderkey <  lo + (hi - lo + 1) * (i + 1) // 50
        |  GROUP BY i)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM tgt WHERE o_orderkey NOT IN (SELECT k FROM victims)
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // CTAS → optimize → zorder → DELETE 1996 → restore: latest must equal
    // the source exactly (maintenance preserved content, restore undid
    // the delete); the pre-restore version is the source minus 1996.
    "q234_sql_maintenance" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT '1_latest' AS phase, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM tgt GROUP BY o_year
        |UNION ALL
        |SELECT '2_deleted' AS phase, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM tgt WHERE o_year <> 1996 AND o_year BETWEEN 1995 AND 1997
        |GROUP BY o_year
        |ORDER BY phase, o_year""".stripMargin,
    // ADD COLUMN backfill: latest = base (flag NULL) plus the 1996 copies
    // carrying 'X'; the pre-alter version is the base with the sentinel.
    "q235_sql_add_column" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |latest AS (
        |  SELECT o_custkey, o_year, NULL AS o_flag FROM tgt
        |  UNION ALL
        |  SELECT o_custkey, o_year, 'X' AS o_flag FROM tgt WHERE o_year = 1996)
        |SELECT '1_latest' AS phase, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(count(o_flag) AS BIGINT) AS n_flag
        |FROM latest GROUP BY o_year
        |UNION ALL
        |SELECT '2_prealter' AS phase, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(-1 AS BIGINT) AS n_flag
        |FROM tgt GROUP BY o_year
        |ORDER BY phase, o_year""".stripMargin,
    // The string-keyed bands replayed numerically: the zero-padded key is
    // order-isomorphic to the number, so band membership is identical.
    "q237_merge_string_key" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995),
        |merged AS (
        |  SELECT o_custkey,
        |         CASE WHEN o_year = 1995
        |                AND o_orderkey >= lo + (hi - lo + 1) * 10 // 50
        |                AND o_orderkey <  lo + (hi - lo + 1) * 11 // 50
        |              THEN o_price_c + 50000 ELSE o_price_c END AS o_price_c,
        |         o_year
        |  FROM tgt, b
        |  WHERE NOT (o_year = 1995
        |             AND o_orderkey >= lo + (hi - lo + 1) * 11 // 50
        |             AND o_orderkey <  lo + (hi - lo + 1) * 12 // 50)
        |  UNION ALL
        |  SELECT o_custkey, o_price_c, 1999 AS o_year
        |  FROM tgt, b
        |  WHERE o_year = 1995
        |    AND o_orderkey >= lo + (hi - lo + 1) * 12 // 50
        |    AND o_orderkey <  lo + (hi - lo + 1) * 13 // 50)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // 2-D box parity: phase 1 full content, phase 2 the (date × priority)
    // box replayed relationally — file skipping must never change results.
    "q238_box_2d_skipping" ->
      """WITH b AS (SELECT o_custkey,
        |         CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT '1_full' AS phase, CAST(o_year AS VARCHAR) AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM b GROUP BY 1, 2
        |UNION ALL
        |SELECT '2_box' AS phase, o_orderpriority AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM b
        |WHERE o_orderdate BETWEEN DATE '1995-04-01' AND DATE '1995-09-30'
        |  AND o_orderpriority BETWEEN '1-URGENT' AND '2-HIGH'
        |GROUP BY 1, 2
        |ORDER BY phase, grp""".stripMargin,
    // Rename/drop are metadata-only: the oracle replays the whole
    // lifecycle relationally — if the alias resolution lost a pre-rename
    // file (or a post-rename file), a 1_latest sum shifts.
    "q239_sql_column_mapping" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents,
        |         o_orderstatus AS o_status,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |ins AS (SELECT o_orderkey + 500000000 AS o_orderkey, o_custkey,
        |               o_cents + 111 AS o_cents, 'N' AS o_status,
        |               2005 AS o_year
        |        FROM b WHERE o_year = 1996),
        |v4 AS (SELECT * FROM b UNION ALL SELECT * FROM ins)
        |SELECT '1_latest' AS phase, CAST(o_year AS VARCHAR) AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_cents) AS BIGINT) AS sum_cents
        |FROM v4 GROUP BY 1, 2
        |UNION ALL
        |SELECT '2_pre' AS phase, CAST(o_year AS VARCHAR) AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_cents) AS BIGINT) AS sum_cents
        |FROM b GROUP BY 1, 2
        |UNION ALL
        |SELECT '3_status' AS phase, o_status AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_cents) AS BIGINT) AS sum_cents
        |FROM v4 WHERE o_status = 'N' GROUP BY 1, 2
        |ORDER BY phase, grp""".stripMargin,
    // Snapshot + two appended versions tailed exactly once must
    // reassemble the source — a lost or doubled micro-batch shifts a sum.
    "q236_stream_table_tail" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_price_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q232_sql_catalog_dml" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |updated AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1996 THEN o_price_c + 777
        |              ELSE o_price_c END
        |           + CASE WHEN o_orderkey % 10 = 5 THEN 3 ELSE 0 END AS o_price_c,
        |         o_year
        |  FROM tgt
        |  UNION ALL
        |  SELECT o_orderkey + 700000000, o_custkey, o_price_c, 2005
        |  FROM tgt WHERE o_year = 1995)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM updated GROUP BY o_year ORDER BY o_year""".stripMargin,
    // The 2-D box replayed relationally — z-order changes layout only;
    // cuts are the same integer arithmetic both engines compute.
    "q231_zorder_box" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi,
        |             min(o_custkey) AS clo, max(o_custkey) AS chi FROM tgt)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM tgt, b
        |WHERE o_orderkey >= klo + (khi - klo + 1) * 20 // 50
        |  AND o_orderkey <  klo + (khi - klo + 1) * 30 // 50
        |  AND o_custkey >= clo + (chi - clo + 1) * 20 // 50
        |  AND o_custkey <  clo + (chi - clo + 1) * 30 // 50
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Batch base (≠1995) plus the streamed year must reassemble the
    // source exactly — any lost or doubled epoch shifts a 1995 sum.
    // N-dim stats parity: skipping from the xstats slots must never
    // change results — phase 2 replayed relationally.
    "q242_ndim_stats_skipping" ->
      """WITH b AS (SELECT o_custkey,
        |         CAST(o_orderdate AS DATE) AS o_odate,
        |         o_orderpriority AS o_prio,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT '1_full' AS phase, CAST(o_year AS VARCHAR) AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM b GROUP BY 1, 2
        |UNION ALL
        |SELECT '2_box' AS phase, o_prio AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM b
        |WHERE o_odate BETWEEN DATE '1996-02-01' AND DATE '1996-07-31'
        |  AND o_prio = '5-LOW'
        |GROUP BY 1, 2
        |ORDER BY phase, grp""".stripMargin,
    // Multi-column partitioning replayed relationally: the deleted cell
    // and the bumped cell shift exactly one year's sums each.
    "q241_multi_partition" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         o_orderpriority AS o_prio,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |v AS (SELECT o_orderkey, o_custkey,
        |             o_price_c + CASE WHEN o_year = 1997 AND o_prio = '1-URGENT'
        |                              THEN 99 ELSE 0 END AS o_price_c,
        |             o_prio, o_year
        |      FROM b WHERE NOT (o_year = 1996 AND o_prio = '3-MEDIUM'))
        |SELECT '1_latest' AS phase, CAST(o_year AS VARCHAR) AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM v GROUP BY 1, 2
        |UNION ALL
        |SELECT '2_slice' AS phase, o_prio AS grp,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM v WHERE o_year = 1997 AND o_prio = '1-URGENT' GROUP BY 1, 2
        |ORDER BY phase, grp""".stripMargin,
    // toTable streams by NAME into the same store: the whole orders
    // table must reassemble — a lost or doubled epoch shifts a 1995 sum.
    "q240_stream_to_table" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_price_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q230_stream_sink_append" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_price_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // The band delete replayed relationally: sidecar subtraction must
    // equal a real DELETE of exactly those keys.
    "q229_deletion_vectors" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM tgt, b
        |WHERE NOT (o_year = 1995
        |           AND o_orderkey >= lo + (hi - lo + 1) * 30 // 50
        |           AND o_orderkey <  lo + (hi - lo + 1) * 31 // 50)
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Only the PRESENT probes (o_orderkey ≡ 41 mod 100 in 1995) can
    // surface rows — the odd absent probes must contribute nothing, no
    // matter which files the blooms let through.
    "q228_bloom_point_lookup" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_price_c
        |FROM orders
        |WHERE EXTRACT(year FROM o_orderdate) = 1995 AND o_orderkey % 100 = 41
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Relational replay of the MERGE clause rules (update / move / delete /
    // insert; unmatched-U and matched-I fall out as no-ops by construction).
    "q210_merge_upsert" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         o_orderpriority,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995 AND o_orderkey % 100 = 1
        |              THEN o_price_c + 100000 ELSE o_price_c END AS o_price_c,
        |         o_orderpriority,
        |         CASE WHEN o_year = 1995 AND o_orderkey % 100 = 7
        |              THEN 1996 ELSE o_year END AS o_year
        |  FROM tgt WHERE NOT (o_year = 1995 AND o_orderkey % 100 = 2)
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_price_c, '9-NEW', 1999
        |  FROM tgt WHERE o_year = 1995 AND o_orderkey % 100 = 3)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Relational replay of the band-scoped clauses; lo/hi and band cuts in
    // integer arithmetic (DuckDB // = Scala Long /). Noise rows (unmatched
    // U beyond every key range; matched I in band 3) fall out as no-ops.
    "q212_merge_file_scoped" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         o_orderpriority,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 0 // 50
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 1 // 50
        |              THEN o_price_c + 100000 ELSE o_price_c END AS o_price_c,
        |         o_orderpriority, o_year
        |  FROM tgt, b
        |  WHERE NOT (o_year = 1995
        |             AND o_orderkey >= lo + (hi - lo + 1) * 1 // 50
        |             AND o_orderkey <  lo + (hi - lo + 1) * 2 // 50)
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_price_c, '9-NEW', 1999
        |  FROM tgt, b
        |  WHERE o_year = 1995
        |    AND o_orderkey >= lo + (hi - lo + 1) * 2 // 50
        |    AND o_orderkey <  lo + (hi - lo + 1) * 3 // 50)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Each version's content recomputed from the source table: v1 = the
    // plain projection, v2 = the bad merge replayed, v3 = v1 (restore).
    "q215_restore_rollback" ->
      """WITH v1 AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |v2 AS (SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 3 THEN o_price_c * 1000
        |              ELSE o_price_c END AS o_price_c, o_year
        |       FROM v1 WHERE o_orderkey % 10 <> 4)
        |SELECT 1 AS ver, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c FROM v1
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(o_custkey) AS BIGINT),
        |       CAST(sum(o_price_c) AS BIGINT) FROM v2
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(o_custkey) AS BIGINT),
        |       CAST(sum(o_price_c) AS BIGINT) FROM v1
        |ORDER BY ver""".stripMargin,
    // The three band merges replayed relationally; compaction must change
    // nothing but the file layout.
    "q216_optimize_compact" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 0 // 25
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 1 // 25
        |              THEN o_price_c + 1000
        |              WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 1 // 25
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 2 // 25
        |              THEN o_price_c + 2000
        |              WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 2 // 25
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 3 // 25
        |              THEN o_price_c + 3000
        |              ELSE o_price_c END AS o_price_c,
        |         o_year
        |  FROM tgt, b)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Both versions' contents recomputed from the source alone — a
    // whole-table OPTIMIZE may only change the file layout, never a row.
    "q217_optimize_table" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |agg AS (SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |         CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |       FROM tgt GROUP BY o_year)
        |SELECT 1 AS ver, o_year, n, sum_cust, sum_price_c FROM agg
        |UNION ALL
        |SELECT 2 AS ver, o_year, n, sum_cust, sum_price_c FROM agg
        |ORDER BY ver, o_year""".stripMargin,
    // v1 = the pre-evolution projection (no o_note -> n_noted 0 by
    // definition); v2 = the evolving merge replayed with o_note values on
    // updated/inserted rows and NULL elsewhere (the backfill contract).
    "q218_schema_evolution_versioned" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995 AND o_orderkey % 100 = 1
        |              THEN o_price_c + 5000 ELSE o_price_c END AS o_price_c,
        |         o_year,
        |         CASE WHEN o_year = 1995 AND o_orderkey % 100 = 1
        |              THEN 'BUMPED' END AS o_note
        |  FROM tgt WHERE NOT (o_year = 1995 AND o_orderkey % 100 = 2)
        |  UNION ALL
        |  SELECT o_orderkey + 500000000, o_custkey, o_price_c, 1999, 'FRESH'
        |  FROM tgt WHERE o_year = 1995 AND o_orderkey % 100 = 3)
        |SELECT 1 AS ver, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c,
        |       CAST(0 AS BIGINT) AS n_noted
        |FROM tgt GROUP BY o_year
        |UNION ALL
        |SELECT 2, o_year, CAST(count(*) AS BIGINT),
        |       CAST(sum(o_custkey) AS BIGINT), CAST(sum(o_price_c) AS BIGINT),
        |       CAST(count(o_note) AS BIGINT)
        |FROM v2 GROUP BY o_year
        |ORDER BY ver, o_year""".stripMargin,
    // The replica must CONVERGE to the primary: A's three recorded merges
    // (update band 11, delete band 12, insert band 13) replayed
    // relationally ARE B's mandated final state.
    "q225_cdc_replication" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995 AND o_orderkey % 100 = 11
        |              THEN o_price_c + 111 ELSE o_price_c END AS o_price_c,
        |         o_year
        |  FROM tgt WHERE NOT (o_year = 1995 AND o_orderkey % 100 = 12)
        |  UNION ALL
        |  SELECT o_orderkey + 600000000, o_custkey, o_price_c, 1999
        |  FROM tgt WHERE o_year = 1995 AND o_orderkey % 100 = 13)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // The admitted price-bump merge replayed relationally; the constraint
    // may only refuse, never alter, a legal write.
    "q224_check_constraint" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(CASE WHEN o_year = 1995 AND o_orderkey % 100 = 21
        |                     THEN o_price_c + 999 ELSE o_price_c END) AS BIGINT)
        |         AS sum_price_c
        |FROM tgt GROUP BY o_year ORDER BY o_year""".stripMargin,
    // The key band (computed from 1995's keyspace, applied to the whole
    // table) replayed relationally — integer arithmetic both engines
    // compute identically (DuckDB // = Scala Long /).
    "q223_versioned_sql_read" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM tgt, b
        |WHERE o_orderkey >= lo + (hi - lo + 1) * 10 // 50
        |  AND o_orderkey <  lo + (hi - lo + 1) * 13 // 50
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // SQL DELETE semantics replayed: rows where the predicate is TRUE go.
    "q221_delete_where" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         o_orderpriority,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM tgt WHERE NOT (o_year = 1995 AND o_orderpriority = '1-URGENT')
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // SQL UPDATE semantics replayed: the row-derived assignment applied
    // exactly where the predicate is TRUE.
    "q222_update_where" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(CASE WHEN o_year = 1996 AND o_orderkey % 10 = 4
        |                     THEN o_price_c + o_custkey % 1000
        |                     ELSE o_price_c END) AS BIGINT) AS sum_price_c
        |FROM tgt GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Per-row image replay of the three recording merges: update = its
    // delete+insert pair in v2, delete = pre-image in v3, insert =
    // post-image in v4. q220 streams the same feed, so one SQL serves both.
    "q219_recorded_change_feed" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995),
        |feed AS (
        |  SELECT 2 AS _version, 'delete' AS _change, o_year, o_custkey, o_price_c
        |  FROM tgt WHERE o_orderkey % 100 = 11
        |  UNION ALL
        |  SELECT 2, 'insert', o_year, o_custkey, o_price_c + 111
        |  FROM tgt WHERE o_orderkey % 100 = 11
        |  UNION ALL
        |  SELECT 3, 'delete', o_year, o_custkey, o_price_c
        |  FROM tgt WHERE o_orderkey % 100 = 12
        |  UNION ALL
        |  SELECT 4, 'insert', 1999, o_custkey, o_price_c
        |  FROM tgt WHERE o_orderkey % 100 = 13)
        |SELECT _version, _change, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM feed GROUP BY _version, _change, o_year
        |ORDER BY _version, _change, o_year""".stripMargin,
    "q220_stream_change_feed" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995),
        |feed AS (
        |  SELECT 2 AS _version, 'delete' AS _change, o_year, o_custkey, o_price_c
        |  FROM tgt WHERE o_orderkey % 100 = 11
        |  UNION ALL
        |  SELECT 2, 'insert', o_year, o_custkey, o_price_c + 111
        |  FROM tgt WHERE o_orderkey % 100 = 11
        |  UNION ALL
        |  SELECT 3, 'delete', o_year, o_custkey, o_price_c
        |  FROM tgt WHERE o_orderkey % 100 = 12
        |  UNION ALL
        |  SELECT 4, 'insert', 1999, o_custkey, o_price_c
        |  FROM tgt WHERE o_orderkey % 100 = 13)
        |SELECT _version, _change, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM feed GROUP BY _version, _change, o_year
        |ORDER BY _version, _change, o_year""".stripMargin,
    // Replay the merge relationally, then EXCEPT ALL both ways — the same
    // multiset semantics as the store's digest-based change feed; an
    // UPDATE surfaces as its delete+insert image pair.
    "q214_change_feed" ->
      """WITH v1 AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         o_orderpriority,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995 AND o_orderkey % 100 = 9
        |              THEN o_price_c + 777 ELSE o_price_c END AS o_price_c,
        |         o_orderpriority, o_year
        |  FROM v1 WHERE NOT (o_year = 1995 AND o_orderkey % 100 = 8)
        |  UNION ALL
        |  SELECT o_orderkey + 400000000, o_custkey, o_price_c, '7-CF', 1999
        |  FROM v1 WHERE o_year = 1995 AND o_orderkey % 100 = 6),
        |feed AS (
        |  SELECT 'insert' AS _change, * FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
        |  UNION ALL
        |  SELECT 'delete' AS _change, * FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2))
        |SELECT _change, o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM feed GROUP BY _change, o_year ORDER BY _change, o_year""".stripMargin,
    // Relational replay of the three commuting CDC bands (update band 5,
    // delete band 6, insert band 7); idempotent redelivery means the
    // composed state is the same however often the stream replays.
    "q213_stream_cdc_merge" ->
      """WITH tgt AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c,
        |         o_orderpriority,
        |         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        |       FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |      FROM tgt WHERE o_year = 1995),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_year = 1995
        |                   AND o_orderkey >= lo + (hi - lo + 1) * 5 // 25
        |                   AND o_orderkey <  lo + (hi - lo + 1) * 6 // 25
        |              THEN o_price_c + 50000 ELSE o_price_c END AS o_price_c,
        |         o_orderpriority, o_year
        |  FROM tgt, b
        |  WHERE NOT (o_year = 1995
        |             AND o_orderkey >= lo + (hi - lo + 1) * 6 // 25
        |             AND o_orderkey <  lo + (hi - lo + 1) * 7 // 25)
        |  UNION ALL
        |  SELECT o_orderkey + 300000000, o_custkey, o_price_c, '8-CDC', 1999
        |  FROM tgt, b
        |  WHERE o_year = 1995
        |    AND o_orderkey >= lo + (hi - lo + 1) * 7 // 25
        |    AND o_orderkey <  lo + (hi - lo + 1) * 8 // 25)
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(o_price_c) AS BIGINT) AS sum_price_c
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Both version CONTENTS and the added/removed diff recomputed from the
    // source table alone; v1's row must match what the store serves AFTER
    // v2 was published.
    "q211_time_travel" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
        |         o_orderpriority FROM orders),
        |v1 AS (SELECT * FROM base WHERE o_orderkey % 10 < 5),
        |v2 AS (SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 1 THEN pc + 100 ELSE pc END AS pc,
        |         o_orderpriority
        |       FROM v1 WHERE o_orderkey % 10 <> 4
        |       UNION ALL
        |       SELECT o_orderkey, o_custkey, pc, o_orderpriority FROM base
        |       WHERE o_orderkey % 10 IN (5, 6)),
        |ad AS (SELECT CAST(count(*) AS BIGINT) AS n_added FROM v2 b
        |       WHERE NOT EXISTS (SELECT 1 FROM v1 a
        |         WHERE a.o_orderkey = b.o_orderkey AND a.o_custkey = b.o_custkey
        |           AND a.pc = b.pc AND a.o_orderpriority = b.o_orderpriority)),
        |rm AS (SELECT CAST(count(*) AS BIGINT) AS n_removed FROM v1 a
        |       WHERE NOT EXISTS (SELECT 1 FROM v2 b
        |         WHERE a.o_orderkey = b.o_orderkey AND a.o_custkey = b.o_custkey
        |           AND a.pc = b.pc AND a.o_orderpriority = b.o_orderpriority))
        |SELECT 1 AS ver, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(sum(pc) AS BIGINT) AS sum_price_c,
        |       CAST(count(*) AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed
        |FROM v1
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |       CAST(sum(o_custkey) AS BIGINT), CAST(sum(pc) AS BIGINT),
        |       (SELECT n_added FROM ad), (SELECT n_removed FROM rm)
        |FROM v2
        |ORDER BY ver""".stripMargin,
    "q144_lines_write_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q133_lines_source_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q126_schema_evolution" ->
      """WITH m AS (
        |  SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
        |         CAST(NULL AS VARCHAR) AS o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice, o_orderpriority
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM m GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    "q114_incremental_agg" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // The rewrite must be value-invisible: the oracle IS the base-table
    // aggregate the user wrote.
    "q207_mv_auto_rewrite" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q113_json_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       min(CAST(ts AS TIMESTAMP)) AS min_ts,
        |       md5(min(props)) AS min_props_md5
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q191_avro_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       min(CAST(ts AS TIMESTAMP)) AS min_ts,
        |       min(value) AS min_value,
        |       md5(min(props)) AS min_props_md5
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q197_xml_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       min(CAST(ts AS TIMESTAMP)) AS min_ts,
        |       md5(min(props)) AS min_props_md5
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q96_sink_partitioned" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q97_bucketed_join" ->
      """WITH co AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |            FROM orders GROUP BY o_custkey)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(n_ord) AS BIGINT) AS n_orders
        |FROM customer JOIN co ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q98_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q200_compaction" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Replays the deterministic corruption rule arithmetically: the parser
    // must recover exactly the non-corrupted rows.
    "q203_corrupt_records" ->
      """SELECT CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |       CAST(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |       CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN n_chars END) AS BIGINT) AS sum_chars_good
        |FROM documents""".stripMargin,
    "q204_gzip_text" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q99_csv_roundtrip" ->
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |       min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
  )
}
