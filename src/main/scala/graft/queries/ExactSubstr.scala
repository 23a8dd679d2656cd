package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ExactSubstr deduplication (Lee et al., "Deduplicating Training Data Makes
  * Language Models Better", ACL 2022): find every MAXIMAL cross-document
  * duplicated token span of length ≥ L (= 8), with EXACT boundaries — the
  * operator the r10 verdict ranked highest, superseding q115's fixed
  * 16-token windows (a 15-token duplicate is invisible there and span
  * boundaries are quantized to the window; here a 15-token duplicate is
  * reported as exactly [start, 15]).
  *
  * Kernel: a DISTRIBUTED SUFFIX ARRAY over the tokenized corpus — the same
  * sort-then-group shape as the reference's shuffle kernel
  * (`MapReduceFramework.cpp:198-208` sorts intermediate pairs, then walks
  * equal-key groups). Construction is the bucket-sort formulation Lee et
  * al.'s own parallel implementation uses (split by fixed prefix, suffix-
  * sort each bucket independently):
  *
  *  - ONE corpus-wide range sort buckets positions at prefix length L by
  *    sorting the length-L gram strings directly (standard radix
  *    bootstrap; the gram string of a short tail is a strict prefix of any
  *    extension, so shorter-suffix-first order falls out of string order).
  *    The sorted walk assigns each equal-gram run its GROUP-START index
  *    (SQL `rank()` semantics, 0-based) — the property that lets a later
  *    split renumber inside a group WITHOUT touching any rank outside it —
  *    plus the run's size and distinct-doc count, so the duplicate census
  *    rides the same pass.
  *  - positions in singleton buckets already hold their final SA rank.
  *    Only members of shared buckets (≈ the duplicated mass) refine: order
  *    each bucket by the suffix TAIL beyond the L-token prefix — a
  *    GROUP-partitioned window, never a second corpus-wide sort. Per-
  *    bucket work is O(bucket df × tail length); under adversarial
  *    duplication depth (a giant bucket of long near-identical suffixes)
  *    the published escape is prefix-doubling rounds over the active set —
  *    O(log docLen) extra range sorts of the duplicated mass — which this
  *    corpus (and any df-capped pipeline stage upstream) never needs.
  *
  * Suffixes are DOC-LOCAL (spans cannot cross documents), so tails are
  * bounded by document length, and at 100 TB the operator is one range
  * sort of fixed-width grams plus duplicated-mass-proportional refinement.
  *
  * From the suffix sort, two exact artifacts:
  *  - the level-L buckets are EXACT length-L-prefix groups (no hashing, no
  *    collisions): a bucket spanning ≥ 2 distinct docs marks a duplicated
  *    window start. The union of those length-L windows IS the ExactSubstr
  *    drop set: every duplicated span of length ≥ L is a union of
  *    duplicated L-windows, and every duplicated L-window lies in a
  *    duplicated span — so merging overlapping/adjacent windows
  *    (gaps-and-islands, window partitioned per doc) yields the maximal
  *    duplicated spans with exact any-length boundaries.
  *  - the FULL suffix-array rank of each span's start suffix, exposed as
  *    `sa_rank` so the oracle independently validates the whole SA: DuckDB
  *    replays it as `rank() - 1` over the space-joined suffix strings —
  *    ' ' sorts below every token character (tokens are non-empty and
  *    space-free by construction), so joined-string order equals token-
  *    wise lexicographic order, and SQL rank() is exactly the group-start
  *    index.
  *
  * The DuckDB oracle replays the spans by a DIFFERENT algorithm (verbatim
  * 8-gram census + gaps-and-islands), so a pass proves the suffix-sort
  * pipeline end-to-end rather than mirroring it. ExactSubstrSpec
  * additionally checks the operator against a brute-force in-JVM suffix
  * scan and demonstrates the q115 gap (planted 15-token duplicate).
  */
object ExactSubstr {

  /** Minimum duplicated-span length in tokens. Lee et al. use 50 BPE
    * tokens at web scale; 8 fits the synthetic corpus' ~50-token docs and
    * deliberately sits below q115's 16-token floor.
    */
  private val L = 8

  /** Distributed GROUP-START rank by the key column `key` (order-
    * preserving, 0-based, equal keys share their first global row index —
    * SQL `rank()` semantics): range-partition + per-partition sort, then
    * one mapPartitions pass walking equal-key runs, stamping each member
    * with the run's start index, the run length (`gsz`) and the run's
    * distinct-doc count (`gnd` over the `d` column — the census rides the
    * same pass), shifted by per-partition ROW counts (P accumulator
    * entries — the only driver traffic). The range partitioner assigns
    * equal keys to one partition, so local index + offset is exact; a run
    * buffer is bounded by the hottest key's group, the same bound any
    * census agg carries. localCheckpoint pins the sampled range boundaries
    * and materializes the pass that fills the size accumulator (a resample
    * on recompute would shift ranks). Returns the ranked df and the
    * checkpointed df for lifecycle management.
    */
  private def groupStartRank(df: DataFrame, key: String, parts: Int)
      : (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(parts, col(key))
      .sortWithinPartitions(key)
      .withColumn("__pid", spark_partition_id())
    val outSchema = sorted.schema
      .add(StructField("__lr", LongType, nullable = false))
      .add(StructField("gsz", LongType, nullable = false))
      .add(StructField("gnd", LongType, nullable = false))
    val kIdx = sorted.schema.fieldIndex(key)
    val dIdx = sorted.schema.fieldIndex("d")
    // Partition row counts ride the checkpoint job as an accumulator
    // (collected when the final run flushes) instead of a second count
    // job; duplicate updates from a retried task are harmless — the
    // driver dedupes by pid and any two completions of a partition see
    // the same rows.
    val sizeAcc = spark.sparkContext.collectionAccumulator[(Int, Long)]("es_psizes")
    val withLr = sorted.mapPartitions { rows =>
      val buf = rows.buffered
      var idx = 0L
      val pid = org.apache.spark.TaskContext.getPartitionId()
      new Iterator[Row] {
        private var pending: Iterator[Row] = Iterator.empty
        private var flushed = false
        def hasNext: Boolean = {
          val h = pending.hasNext || buf.hasNext
          if (!h && !flushed) { sizeAcc.add(pid -> idx); flushed = true }
          h
        }
        def next(): Row = {
          if (!pending.hasNext) {
            val start = idx
            val k = buf.head.get(kIdx)
            val run = scala.collection.mutable.ArrayBuffer.empty[Row]
            val docs = scala.collection.mutable.HashSet.empty[Any]
            var go = true
            while (go && buf.hasNext) {
              if (buf.head.get(kIdx) == k) {
                val r = buf.next(); run += r; docs += r.get(dIdx); idx += 1
              } else go = false
            }
            val sz = run.length.toLong
            val nd = docs.size.toLong
            pending = run.iterator.map(r => Row.fromSeq(r.toSeq :+ start :+ sz :+ nd))
          }
          pending.next()
        }
      }
    }(Encoders.row(outSchema))
    val ck = withLr.localCheckpoint()
    val cnts = {
      import scala.jdk.CollectionConverters._
      sizeAcc.value.asScala.toMap  // dedupe by pid (retries write equal values)
    }
    val offsets = (0 until parts).scanLeft(0L)((a, pid) => a + cnts.getOrElse(pid, 0L))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until parts).map(p => Row(p, offsets(p))), 1),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__off", LongType, nullable = false))))
    val out = ck.join(broadcast(offDf), Seq("__pid"))
      .withColumn("rank", col("__lr") + col("__off"))
      .drop("__pid", "__lr", "__off")
    (out, ck)
  }

  /** q190 — maximal cross-doc duplicated spans (any length ≥ L, exact
    * boundaries) + the full-SA rank of each span's start suffix; a
    * primitive-typed substrate, so persisted.
    */
  def exactSubstrSpans(spark: SparkSession, dir: String): DataFrame =
    Substrates.memo(spark, dir, "exactsubstr/spans") {
      val (df, checkpoints) = build(spark, dir)
      val res = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      res.count()  // force now so the bootstrap checkpoint can be freed
      checkpoints.foreach(_.unpersist(blocking = false))
      res
    }(_.unpersist(blocking = false))

  private def build(spark: SparkSession, dir: String): (DataFrame, List[DataFrame]) = {
    val docs = TextAnalysis.tokenizedDocs(spark, dir)
      .select(col("doc_id").as("d"), col("toks"))
      .filter(size(col("toks")) > 0)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // Bootstrap at prefix length L: rank positions by their length-L gram
    // STRING (slice clamps at doc end; the gram of a shorter tail is a
    // strict prefix of any extension, so shorter-suffix-first ordering
    // falls out of string order). The ONE corpus-wide range sort; persisted
    // across its two reads (range-boundary sample + shuffle write) so the
    // explode computes once. Primitive-typed → persist is the right cache.
    val g8 = docs.select(col("d"), size(col("toks")).as("len"),
      posexplode(expr(
        s"transform(sequence(0, size(toks) - 1), " +
        s"i -> array_join(slice(toks, i + 1, $L), ' '))")).as(Seq("p", "g")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (rank8, ck0) = groupStartRank(g8, "g", parts)

    // Census came along for free on the bootstrap pass (`gnd` = distinct
    // docs per exact L-gram group): positions with a full L-token window
    // shared by ≥ 2 docs are duplicated window starts. A clamped short
    // gram can only tie with an identical short gram (token counts — and
    // so space counts — must match), and those rows are filtered here.
    val dupStarts = rank8
      .filter(col("p") + L <= col("len") && col("gnd") >= 2)
      .select("d", "p")

    // Gaps-and-islands per doc: window starts ≤ L apart belong to one
    // maximal span; a span extends L-1 past its last window start. Windows
    // partition by doc — never corpus-wide.
    val w = Window.partitionBy("d").orderBy("p")
    val spans = dupStarts
      .withColumn("gap", when(col("p") - lag("p", 1).over(w) > L, 1).otherwise(0))
      .withColumn("grp", sum("gap").over(w))
      .groupBy("d", "grp")
      .agg(min("p").as("span_start"),
        (max(col("p")) + lit(L) - min(col("p"))).as("span_len"))

    // Per-bucket suffix-sort finisher (the shape of Lee et al.'s own
    // parallel implementation: radix-bucket by a fixed prefix, then sort
    // each bucket's suffixes): positions whose level-L group is a
    // SINGLETON already hold their final rank — only members of shared
    // groups (≈ the duplicated mass) need refining, and group-start rank
    // arithmetic means refining a group never touches a rank outside it.
    // Refinement = order the group by the suffix TAIL beyond the L-token
    // prefix (join string: ' ' sorts below every token char, so string
    // order is token order with shorter-prefix-first, and within a group
    // either every member has ≥ L tokens left or all are identical short
    // suffixes with empty equal tails). One doc-side join for the tails +
    // one GROUP-partitioned window — never a corpus-wide sort. Per-group
    // work is O(group df × tail length); under adversarial duplication
    // depth (a giant bucket of near-identical long suffixes) the
    // published escape is prefix-doubling rounds over the active set —
    // O(log docLen) extra range sorts of the duplicated mass — which this
    // corpus (and any df-capped pipeline stage upstream) never needs.
    val active = rank8.filter(col("gsz") >= 2).select("d", "p", "rank")
      .join(docs, Seq("d"))
      .withColumn("tail", expr(s"array_join(slice(toks, p + 1 + $L, size(toks)), ' ')"))
      .select("d", "p", "rank", "tail")
    val wG = Window.partitionBy("rank").orderBy("tail")
    val refined = active
      .withColumn("sa_rank", col("rank") + rank().over(wG) - 1)
      .select("d", "p", "sa_rank")

    // Span starts sit in shared groups by construction, so their final
    // ranks all come from the refined set.
    val res = spans.join(refined.select(col("d"), col("p").as("span_start"),
        col("sa_rank")), Seq("d", "span_start"))
      .select(col("d").as("doc_id"), col("span_start"), col("span_len"),
        col("sa_rank"))
      .orderBy("doc_id", "span_start")
    // Only the bootstrap needed a determinism pin (range-boundary
    // sampling); everything downstream is deterministic joins +
    // partitioned windows, safe to recompute. The caller forces the
    // result and then releases the checkpoint and the g8 scratch cache.
    (res, List(ck0, g8))
  }

  /** q196 — the APPLICATION of q190's spans: remove every duplicated span
    * from every document (what Lee et al.'s pipeline actually ships) and
    * report the retention accounting plus a portable digest of the CLEANED
    * text, so the oracle proves the rewrite token-for-token, not just the
    * counts. Map-side: the span list joins back per doc (spans are a tiny
    * fraction of the corpus; AQE broadcasts here, co-partitioned by doc at
    * scale) and the removal is an index-filter HOF inside the row — no
    * extra shuffle beyond q190's own build and the presentation sort.
    */
  def exactSubstrClean(spark: SparkSession, dir: String): DataFrame = {
    val spans = exactSubstrSpans(spark, dir)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_len").as("l"))).as("spans"))
    TextAnalysis.tokenizedDocs(spark, dir)
      .select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) > 0)
      .join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        expr("CAST(array() AS array<struct<s:int,l:int>>)")))
      .withColumn("kept", expr(
        "transform(filter(sequence(0, size(toks) - 1), " +
        "i -> NOT exists(spans, sp -> i >= sp.s AND i < sp.s + sp.l)), " +
        "i -> toks[i])"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("bigint").as("n_removed"),
        size(col("kept")).cast("bigint").as("n_kept"),
        expr("cast(conv(substring(md5(array_join(kept, ' ')), 1, 15), 16, 10) as bigint)")
          .as("clean_h"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_exactsubstr_spans" -> (exactSubstrSpans _),
    "q196_exactsubstr_clean" -> (exactSubstrClean _)
  )

  /** Shared replay CTEs: tokenized docs → 8-gram census → gaps-and-islands
    * maximal spans (`sp`), used by both the q190 and q196 oracles.
    */
  private val spanCtes: String =
    s"""t AS (SELECT doc_id,
       |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |      FROM documents WHERE length(text) > 0),
       |pos AS (SELECT doc_id, unnest(range(0, len(toks))) AS p, toks FROM t),
       |g AS (SELECT doc_id, p,
       |             array_to_string(list_slice(toks, p + 1, p + $L), ' ') AS gram
       |      FROM pos WHERE p + $L <= len(toks)),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       |s AS (SELECT doc_id, p FROM g JOIN dup USING (gram)),
       |isl AS (SELECT doc_id, p,
       |               sum(CASE WHEN p - lp > $L THEN 1 ELSE 0 END)
       |                 OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |        FROM (SELECT doc_id, p,
       |                     lag(p, 1, p) OVER (PARTITION BY doc_id ORDER BY p) AS lp
       |              FROM s)),
       |sp AS (SELECT doc_id, min(p) AS span_start, max(p) + $L - min(p) AS span_len
       |       FROM isl GROUP BY doc_id, grp)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q190_exactsubstr_spans" ->
      s"""WITH $spanCtes,
         |sa AS (SELECT doc_id, p,
         |              rank() OVER (ORDER BY
         |                array_to_string(list_slice(toks, p + 1, len(toks)), ' ')) - 1
         |                AS sa_rank
         |       FROM pos)
         |SELECT sp.doc_id, CAST(span_start AS INT) AS span_start,
         |       CAST(span_len AS INT) AS span_len, sa.sa_rank
         |FROM sp JOIN sa ON sa.doc_id = sp.doc_id AND sa.p = sp.span_start
         |ORDER BY sp.doc_id, span_start""".stripMargin,
    "q196_exactsubstr_clean" ->
      s"""WITH $spanCtes,
         |spl AS (SELECT doc_id,
         |               list(struct_pack(s := span_start, l := span_len)) AS spans
         |        FROM sp GROUP BY doc_id),
         |kin AS (SELECT t.doc_id, toks, coalesce(spans, []) AS spans
         |        FROM t LEFT JOIN spl USING (doc_id) WHERE len(toks) > 0),
         |-- coalesce: DuckDB's array_to_string of an EMPTY list is NULL
         |-- where Spark's array_join is '' (a fully-duplicated doc).
         |k AS (SELECT doc_id, len(toks) AS nt,
         |             coalesce(array_to_string(list_transform(
         |               list_filter(range(0, len(toks)),
         |                 i -> NOT len(list_filter(spans,
         |                        z -> i >= z.s AND i < z.s + z.l)) > 0),
         |               i -> toks[i + 1]), ' '), '') AS ks
         |      FROM kin),
         |kk AS (SELECT doc_id, nt,
         |              CASE WHEN ks = '' THEN 0
         |                   ELSE len(string_split(ks, ' ')) END AS nk, ks
         |       FROM k)
         |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         |       CAST(nt - nk AS BIGINT) AS n_removed,
         |       CAST(nk AS BIGINT) AS n_kept,
         |       CAST(list_sum(list_transform(range(1, 16), i ->
         |         CAST(strpos('0123456789abcdef', substr(md5(ks), i, 1)) - 1 AS BIGINT)
         |         * (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS BIGINT) AS clean_h
         |FROM kk ORDER BY doc_id""".stripMargin
  )
}
