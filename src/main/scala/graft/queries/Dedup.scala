package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.tables.Tables._

/** Deduplication pillar over `documents` (and `embeddings` for the
  * vector-space variant): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. The reference engine has none of this; each is
  * built as a banded/bucketed Spark plan — candidate generation always goes
  * through a key-partitioned join (shingle, LSH band, or SimHash chunk),
  * never an all-pairs cross join, so the shapes survive 100 TB. Even the
  * brute-force cosine yardstick (q39) is bounded: its build side is the
  * broadcast ≤10-row probe set, so no query here contains an unbounded
  * cartesian.
  */
object Dedup {

  private val P = 2147483647L // 2^31 − 1 (Mersenne prime), modulus for minhash

  /** 64 hash fns h_j(x) = (a_j·x + b_j) mod P with fixed seeds: minhash
    * signatures must be identical across partitions, executors, and runs.
    */
  private val seeds: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(64)(((math.abs(rnd.nextLong()) % (P - 1)) + 1L,
                    math.abs(rnd.nextLong()) % P))
  }

  /** doc_id + its distinct word-trigram shingle set, as 64-bit hashes (the
    * dedup unit: this corpus draws from a tiny shared vocabulary, so unigram
    * sets saturate — trigram sequences are discriminative).
    *
    * Shingles are hashed at CONSTRUCTION: each token is xxhash64'd once,
    * then a trigram key is one xxhash64 over the three token hashes — no
    * trigram string is ever materialized, distinct/intersect run on 8-byte
    * longs, and every downstream shuffle carries longs. Set cardinalities
    * (hence Jaccard values) are unchanged: a collision anywhere in the
    * distinct-shingle population is ~2⁻⁴⁵ — far below the float-rounding
    * noise floor the oracles already accept.
    */
  // The shingle index is the shared substrate of every near-dup variant
  // (Jaccard, MinHash, SimHash, clustering), as a production dedup pass
  // would materialize it rather than re-shingle the corpus per algorithm;
  // its sh array rides ~8 consumers, hence parquet (see Substrates).
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    Substrates.parquet(spark, dir, "dedup/shingles") {
      documents(spark, dir)
        // The test corpus arrives as ONE parquet row group → one input
        // partition, which would serialize all the per-doc string work onto a
        // single core. Redistribute by doc_id first: the shuffle moves only
        // the raw text (cheap), and every downstream map-side stage then runs
        // at full parallelism. On a real multi-file corpus this is a no-op
        // cost-wise — the explode/groupBy shuffles dominate.
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          expr("transform(split(lower(text), ' '), t -> xxhash64(t))").as("th"))
        .filter(size(col("th")) >= 3)
        .select(col("doc_id"),
          expr("array_distinct(transform(sequence(0, size(th)-3), " +
               "i -> xxhash64(th[i], th[i+1], th[i+2])))").as("sh"))
    }

  /** Exact dedup: group on md5(text), keep min doc_id as representative.
    * Hashing first means the shuffle carries a 32-byte digest instead of the
    * full document — the plan that still works when documents are megabytes.
    */
  /** One row per distinct md5(text): representative (min doc_id) + copy
    * count. Shared with the clean-corpus pipeline's keep-set (Corpus q67).
    */
  private[queries] def exactDedupGroups(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    exactDedupGroups(spark, dir)
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Exact n-gram Jaccard near-dup via an inverted shingle index: self-join
    * on shingle (shuffle partitioned by shingle — the banded MapReduce
    * shape), count common shingles per pair, Jaccard from set sizes.
    * Ubiquitous shingles (df > 100) are dropped from the index — the
    * standard stop-shingle cap that bounds per-key join fan-out at scale;
    * Jaccard is over the rare-shingle sets, identically in the oracle.
    */
  // The verified near-dup pair table (J ≥ 0.6) is itself a shared pipeline
  // artifact: the reporting query (q36) and cluster formation (q62) both
  // consume it.

  /** (id_a, id_b, jac) with exact Jaccard ≥ 0.6, id_a < id_b, unrounded.
    * Pair generation is ONE groupBy(shingle) into sorted doc-id buckets,
    * with in-bucket pairs emitted by an array HOF — no self-join, so the
    * shingle pipeline isn't recomputed per join side, and the df cap
    * (bucket ≤ 100) bounds the per-key fan-out.
    * (Shingles arrive pre-hashed to longs from `shingled`.)
    */
  // The FULL (uncapped) inverted-index bucket table (s64 → sorted doc ids):
  // the one groupBy(shingle) the whole family derives from. Materialized
  // separately from the pair table because TWO consumers with different cap
  // policies read it — nearDupPairs (df ≤ 100 rare buckets) and q169's
  // salted variant (rare + salted hot) — and the collect_set aggregation is
  // the expensive step they'd otherwise each repeat.
  private[queries] def shingleBuckets(spark: SparkSession, dir: String): DataFrame =
    Substrates.parquet(spark, dir, "dedup/buckets") {
      shingled(spark, dir)
        .select(col("doc_id"), explode(col("sh")).as("s64"))
        .groupBy("s64").agg(sort_array(collect_set("doc_id")).as("ids"))
    }

  // Candidate-pair common-rare-shingle counts (id_a < id_b, c = |rare(a) ∩
  // rare(b)|): the single heaviest derived artifact (in-bucket pair
  // explosion + pair aggregation), materialized on its own because TWO
  // consumers with different thresholds read it — nearDupPairs (Jaccard ≥
  // 0.6 after joining set sizes) and the filter funnel's near-dup stage
  // (c ≥ 5 among survivors). This is the "candidate table" a production
  // near-dup pipeline persists between stages.
  private[queries] def rarePairCounts(spark: SparkSession, dir: String): DataFrame =
    Substrates.persisted(spark, dir, "dedup/rarepairs") {
      shingleBuckets(spark, dir)
        .filter(size(col("ids")).between(2, 100))
        .select(explode(pairGen).as("p"))
        .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .agg(count(lit(1)).as("c"))
    }

  private[queries] def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Substrates.persisted(spark, dir, "dedup/pairs") {
      val buckets = shingleBuckets(spark, dir)
        .filter(size(col("ids")) <= 100)
      val sizes = buckets.select(explode(col("ids")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      rarePairCounts(spark, dir)
        .join(sizes.toDF("id_a", "na"), "id_a")
        .join(sizes.toDF("id_b", "nb"), "id_b")
        .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
        .filter(col("jac") >= 0.6)
        .select(col("id_a"), col("id_b"), col("jac"))
    }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
      .orderBy("id_a", "id_b")

  /** In-bucket unordered-pair generation over a sorted `ids` array — the
    * HOF shared by the rare-bucket (q36) and salted-hot-bucket (q169)
    * paths.
    */
  private val pairGen = expr(
    "flatten(transform(sequence(0, size(ids)-2), " +
    "i -> transform(slice(ids, i+2, size(ids)-i-1), y -> struct(ids[i] AS id_a, y AS id_b))))")

  /** q169 — skew-aware near-dup: KEEPS hot shingles instead of dropping
    * them. q36's df ≤ 100 stop-shingle cap is the classic answer to
    * boilerplate skew, but it silently excludes hot shingles from the
    * similarity itself. This variant computes FULL-set Jaccard:
    *
    *  - candidates from rare buckets exactly as q36 (fan-out ≤ cap/key);
    *  - hot buckets (> cap) are SPLIT into hash-salted sub-buckets of
    *    expected size cap/2 (nsalts = ceil(2·df/cap)) and pairs generated
    *    within each sub-bucket — per-key work falls from O(df²) to
    *    O(df·cap), the SemDeDup population-cap move applied to the
    *    inverted index;
    *  - each candidate's common count is EXACT without any full-array
    *    join: |common rare| is the pair's rare-bucket emission count
    *    (q36's trick) and |common hot| is an intersection of the two
    *    docs' HOT-ONLY arrays (dozens of entries at most — boilerplate
    *    families), so the full shingle sets never ride a shuffle and the
    *    reported Jaccard is the true full-set one — work ∝ candidates,
    *    never n².
    *
    * Recall: any pair sharing ≥ 1 rare shingle is captured exactly as in
    * q36; a pair connected ONLY through hot shingles is caught when some
    * hot shingle salts both docs together (p ≈ 1/nsalts per shared hot
    * shingle). Such pairs are almost-pure boilerplate (J ≥ 0.6 with no
    * rare shingle in common ⇒ the union is nearly all stop-shingles) —
    * the documents a dedup pass wants flagged by ANY of their family, not
    * an enumeration of the clique. On a corpus with no hot shingles this
    * is exactly full-Jaccard dedup (oracle-checked); DedupSpec pins the
    * salted path's bounds and hot-only recall on a planted hot family.
    */
  def saltedShingleDedup(spark: SparkSession, dir: String): DataFrame = {
    val cap = 100
    val shArr = shingled(spark, dir)
    val buckets = shingleBuckets(spark, dir)
    // Rare path: a pair lands in one bucket PER COMMON RARE SHINGLE, so the
    // emission count IS |rare(a) ∩ rare(b)| — q36's counting trick; no
    // per-candidate array work at all. This is exactly the materialized
    // candidate table (rarePairCounts) — read it instead of re-exploding
    // the buckets (r9 review catch: the family's heaviest artifact was
    // built twice when q36/q145 and q169 ran in one session).
    val rarePairs = rarePairCounts(spark, dir).withColumnRenamed("c", "c_rare")
    // Hot path: re-key each (shingle, doc) by a deterministic salt, then
    // pair within (shingle, salt). Hash salting keeps the split map-only
    // (a rank-based split would put the whole hot bucket through one
    // window partition — the exact hot-task this query exists to avoid);
    // the ≤ cap sub-bucket bound is therefore in expectation (cap/2),
    // with Chernoff concentration at real df. Sub-bucket multiplicity is
    // NOT a common-count (it counts salt collisions), so hot candidates
    // are deduped and their common-hot count comes from the (tiny)
    // hot-only arrays below.
    val hotShingles = buckets.filter(size(col("ids")) > cap)
    val hotPairs = hotShingles
      .select(col("s64"),
        ceil(size(col("ids")) * 2.0 / cap).cast("int").as("nsalts"),
        explode(col("ids")).as("doc_id"))
      .select(col("s64"), col("doc_id"),
        pmod(xxhash64(col("s64"), col("doc_id")), col("nsalts")).as("salt"))
      .groupBy("s64", "salt").agg(sort_array(collect_set("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(pairGen).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    // Per-doc HOT-ONLY shingle arrays: bounded by the number of distinct
    // hot shingles a doc contains (boilerplate families — dozens, never the
    // full set), and only docs touching a hot shingle appear at all. These
    // tiny arrays are the entire array payload of the query — the full
    // shingle sets never ride a shuffle (the r9 docs×10 super-linearity fix:
    // the previous shape joined every candidate to both FULL arrays and
    // measured 12.3× at 10× docs; this shape is linear).
    val hotPerDoc = hotShingles
      .select(explode(col("ids")).as("doc_id"), col("s64"))
      .groupBy("doc_id").agg(sort_array(collect_set("s64")).as("hot"))
    val sizes = shArr.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    rarePairs
      .unionByName(hotPairs.withColumn("c_rare", lit(0L)))
      .groupBy("id_a", "id_b").agg(max(col("c_rare")).as("c_rare"))
      .join(hotPerDoc.toDF("id_a", "hot_a"), Seq("id_a"), "left")
      .join(hotPerDoc.toDF("id_b", "hot_b"), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (col("c_rare") + size(array_intersect(
          coalesce(col("hot_a"), array()), coalesce(col("hot_b"), array())))
        ).cast("long").as("c"))
      .join(sizes.toDF("id_a", "na"), "id_a")
      .join(sizes.toDF("id_b", "nb"), "id_b")
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= 0.6)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
      .orderBy("id_a", "id_b")
  }

  /** Cross-source duplication matrix — the provenance diagnostic a corpus
    * audit runs before mixing sources: for every unordered source pair, how
    * many verified near-dup pairs straddle it (high counts mean two
    * "independent" sources share content, so their mixing weights
    * double-count it). Rides the cached pair table (nearDupPairs — zero new
    * shingle work) plus two broadcast-sized id→source joins; integer counts.
    */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val src = documents(spark, dir).select(col("doc_id"), col("source"))
    nearDupPairs(spark, dir)
      .join(src.toDF("id_a", "src_a"), "id_a")
      .join(src.toDF("id_b", "src_b"), "id_b")
      .groupBy(least(col("src_a"), col("src_b")).as("source_1"),
               greatest(col("src_a"), col("src_b")).as("source_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_1", "source_2")
  }

  /** MinHash + LSH near-dup, the 100 TB-shaped plan: 64-fn minhash
    * signature per doc (one agg over exploded shingles), banded b=32 × r=2
    * (candidate-capture ≥ 1−(1−J²)³² — a J=0.6 pair is missed with
    * p≈6·10⁻⁷), bucket-join on band key, then exact-Jaccard verification of
    * candidates only. Output = verified pairs with J ≥ 0.6, which the
    * brute-force oracle reproduces because banding at these parameters
    * captures every qualifying pair in practice.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val shSets = shingled(spark, dir)
    // Signatures per doc via array HOFs over the (already doc-local) shingle
    // array — NO explode, NO groupBy: minhash is embarrassingly parallel, so
    // at any scale the signature pass is map-only. h = s mod P is hoisted
    // once per element; each h·a+b stays < 2⁶² (both factors < 2³¹).
    // Materialized because the band self-join consumes it on both sides.
    val mh = Substrates.persisted(spark, dir, "dedup/minhash") {
      val mhCols = (0 until 64).map(j => expr(
        s"array_min(transform(hs, x -> pmod(x * ${seeds(j)._1}L + ${seeds(j)._2}L, ${P}L)))")
        .as(s"mh$j"))
      shSets.withColumn("hs", expr(s"transform(sh, s -> pmod(s, ${P}L))"))
        .select(col("doc_id") +: mhCols: _*)
    }
    val bands = mh.select(col("doc_id"),
        explode(array((0 until 32).map(g =>
          concat_ws(":", lit(g), col(s"mh${2 * g}"), col(s"mh${2 * g + 1}"))): _*)).as("band"))
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(shSets.toDF("id_a", "sh_a"), "id_a")
      .join(shSets.toDF("id_b", "sh_b"), "id_b")
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jac", col("c") / (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jac") >= 0.6)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup: 64-bit signature (sign of per-bit ±1 votes over
    * shingle hashes) packed into two 32-bit halves — the candidate join then
    * carries 16 bytes instead of a 64-int array, and Hamming distance is
    * `bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)`. Pigeonhole-banded
    * into 4 × 16-bit chunks: a pair within Hamming distance 3 MUST agree on
    * at least one chunk, so the chunk-bucket join loses nothing. Output =
    * pairs with Hamming ≤ 3.
    *
    * Shingle bits come from md5 (hex digit k/4, bit k%4) rather than
    * xxhash64: md5 is the one hash both engines evaluate identically, which
    * is what makes this query oracle-checkable end-to-end (the r1–r4 builds
    * used xxhash64 and could only be rows-only-checked). Two 32-bit halves
    * instead of one packed long because bit 63 would need 2⁶³ — an int64
    * overflow in the oracle's arithmetic; each half stays < 2³².
    */
  /** (doc_id, s): the distinct word-trigram shingles as STRINGS — the
    * engine-portable twin of `shingled` (whose shingles are xxhash64 longs),
    * used by every query whose oracle must re-derive the same shingle set in
    * DuckDB (simhash, decontamination). Production would hash these to longs
    * immediately; string keys are the price of cross-engine verifiability.
    */
  private[queries] def shingleStrings(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(w)-3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"))).as("s"))

  /** (doc_id, lo, hi, chunk): each doc's packed SimHash signature exploded
    * into its 4 pigeonhole 16-bit chunks — q38's LSH banding, shared with
    * q78 where the chunk is the blocking key for edit-distance scoring.
    */
  private[queries] def simhashChunks(spark: SparkSession, dir: String): DataFrame = {
    // Parse each md5's first 16 hex digits ONCE into 16 scalar columns; the
    // 64 vote aggregates then read those (4 bits per digit) instead of each
    // re-running substring+instr — 16 string ops per shingle, not 64, and
    // no per-row array allocation (stays in whole-stage codegen registers).
    val ex = shingleStrings(spark, dir)
      .withColumn("m", md5(col("s")))
      .select(col("doc_id") +: (0 until 16).map(p => expr(
        s"instr('0123456789abcdef', substring(m, ${p + 1}, 1)) - 1").as(s"d$p")): _*)
    val voteAggs = (0 until 64).map { k =>
      sum(expr(s"2 * (d${k / 4} div ${1 << (k % 4)} % 2) - 1")).as(s"v$k")
    }
    val votes = ex.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    def half(lowBit: Int): Column =
      (0 until 32).map(k => when(col(s"v${lowBit + k}") > 0, lit(1L << k)).otherwise(lit(0L)))
        .reduce(_ + _)
    // Materialized: 16 bytes per doc, consumed by both chunk-join sides —
    // without it the whole shingle+md5+vote pipeline runs twice.
    val sig = Substrates.persisted(spark, dir, "dedup/simhash") {
      votes.select(col("doc_id"), half(0).as("lo"), half(32).as("hi"))
    }
    sig.select(col("doc_id"), col("lo"), col("hi"),
      explode(array(
        concat_ws(":", lit(0), col("lo").bitwiseAND(lit(0xFFFFL))),
        concat_ws(":", lit(1), shiftrightunsigned(col("lo"), 16).bitwiseAND(lit(0xFFFFL))),
        concat_ws(":", lit(2), col("hi").bitwiseAND(lit(0xFFFFL))),
        concat_ws(":", lit(3), shiftrightunsigned(col("hi"), 16).bitwiseAND(lit(0xFFFFL))))).as("chunk"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val chunks = simhashChunks(spark, dir)
    chunks.as("a")
      .join(chunks.as("b"), col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
              col("a.lo").as("lo_a"), col("a.hi").as("hi_a"),
              col("b.lo").as("lo_b"), col("b.hi").as("hi_b"))
      .distinct()
      .withColumn("hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
         bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("bigint"))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-dup, brute force — the documented correctness
    * baseline for the LSH/IVF scale paths in Similarity.scala. Bounded by
    * the probe convention (id_a drawn from `vec_id < 10`, the q40 probe
    * set): the build side is ≤10 rows and broadcast, so the join is a
    * bounded nested loop — one corpus scan, no unbounded cartesian —
    * while still scoring probes against the FULL corpus exactly.
    * Pairs with cosine ≥ 0.3 (chosen so the probe set has matches at every test SF).
    */
  def embeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    // Precompute ||v|| once per vector: each pair then costs ONE dot
    // product instead of three. sqrt-once-then-multiply is the same IEEE
    // value as the oracle's inline sqrt(dot)·sqrt(dot).
    val e = embeddings(spark, dir)
      // Redistribute the single-row-group input: the scoring's parallelism
      // follows the streamed (corpus) side's partitioning.
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(VectorOps.dot(col("v"), col("v"))))
    broadcast(e.filter(col("vec_id") < 10)).as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cs", VectorOps.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cs") >= 0.3)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
              round(col("cs"), 4).as("cs"))
      .orderBy("id_a", "id_b")
  }

  /** Cluster formation — the step AFTER pair generation that a real dedup
    * pipeline needs: connected components over the near-dup pair graph
    * (Jaccard ≥ 0.6 pairs from the inverted-index plan), so "keep one doc
    * per duplicate cluster" is one final groupBy. Iterative min-label
    * propagation: each round every node takes the min label among itself and
    * its neighbors; rounds = graph diameter (dup clusters are shallow —
    * diameter is small even when components are huge). The driver loop only
    * ever sees one scalar (the changed-count) per round; labels stay
    * distributed and `localCheckpoint` truncates the lineage so round N
    * doesn't replay rounds 1..N-1. At 1000-executor scale the same loop
    * holds; if components were deep chains one would switch to the
    * large-star/small-star variant (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — same join shape, O(log n) rounds.
    */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(spark, dir)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_members"))
      .orderBy("doc_id")
  }

  /** The connected-component labels (doc_id, cluster_id) behind q62/q153 —
    * min-label propagation + pointer halving.
    */
  private[queries] def ccLabels(spark: SparkSession, dir: String): DataFrame =
   Substrates.persisted(spark, dir, "dedup/cc_labels") {
    val pairs = nearDupPairs(spark, dir).select("id_a", "id_b")
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    // Convergence via sum(label): min-labels only ever decrease, so the sum
    // strictly decreases iff any label changed — one scalar agg per round
    // instead of a join-and-count.
    // coalesce: sum over an empty label set is NULL — a pairless corpus
    // (nothing crosses the Jaccard threshold) must terminate, not NPE.
    def labelSum(): Long =
      labels.agg(coalesce(sum("label"), lit(0L))).first().getLong(0)
    var prevSum = Long.MaxValue
    var curSum = labelSum()
    while (curSum < prevSum) {
      // Neighbor-min step: label ← min(label, labels of neighbors)...
      val viaNbr = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("label"))
      val m = labels.union(viaNbr).groupBy("id").agg(min("label").as("label"))
        .toDF("id", "label")
      // ...then pointer-halving: label ← label(label). Every label is some
      // node's id (min over ids), so the self-join always resolves; this
      // shortcuts chains and turns diameter-many rounds into O(log diameter)
      // — the difference between ~8 and ~250 rounds on chained near-dups.
      labels = m.as("x").join(m.as("y"), col("x.label") === col("y.id"))
        .select(col("x.id").as("id"), col("y.label").as("label"))
        .localCheckpoint()
      prevSum = curSum
      curSum = labelSum()
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** q153 — canonical document selection: per near-dup cluster (q62's
    * components), the survivor is the HIGHEST-QUALITY member (q47's shared
    * score snippet), not the arbitrary min id — the policy a production
    * dedup actually ships, where the cluster representative should be the
    * cleanest copy. One broadcast-sized join of labels onto map-side
    * scores, then a partial-aggregated argmax per cluster (`max_by` on
    * (score, −doc_id) — the one-row-per-group shuffle, no window sort).
    * Float sort key is the bit-equal score spelling, tie-broken on doc_id.
    */
  def canonicalKeeper(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.tokenizedDocs(spark, dir)
      .filter(size(col("toks")) > 0)
      .withColumn("stop_ratio", TextAnalysis.stopRatioCol)
      .withColumn("score", TextAnalysis.scoreCol(col("stop_ratio")))
      .select(col("doc_id"), col("score"))
    ccLabels(spark, dir).join(scored, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max_by(struct(col("doc_id").as("keeper"), col("score").as("keeper_score")),
               struct(col("score"), (-col("doc_id")).as("tb"))).as("w"))
      .select(col("cluster_id"), col("w.keeper").as("keeper"),
              col("n_members"), col("w.keeper_score").as("keeper_score"))
      .orderBy("cluster_id")
  }

  /** Triangle counting over the near-dup pair graph — the graph-analytics
    * step after pair generation: triangle density separates genuine
    * duplicate clusters (near-cliques) from chance collisions (sparse).
    * Compact-forward enumeration (Latapy, TCS 2008): every undirected pair
    * is oriented from its lower to its higher endpoint under the total
    * order (degree, id), so each wedge is generated at its LOWEST-degree
    * vertex — a hub of degree d contributes pairs only among its
    * higher-ranked neighbors (≤ O(√m) of them), not O(d²), which is what
    * bounds the skew a celebrity template-document would otherwise inject.
    * Both joins stay keyed by a vertex (src, then (src,dst)); the per-doc
    * triangle counts are orientation-invariant, so the oracle's unordered
    * a<b<c enumeration produces identical output.
    */
  /** The compact-forward oriented edge set: src→dst with
    * (deg(src), src) < (deg(dst), dst); `dk` carries dst's ordering key so
    * the wedge join can compare neighbors without a third degree join.
    * Exposed for DedupSpec's orientation pin.
    */
  // The oriented edge set is consumed THREE times inside the triangle query
  // (e1/e2 wedge sides + e3 closing probe); without materialization each
  // consumer recomputes the degree aggregation and both degree joins from
  // the pair table — measured at +1.6 s on sf0.1 (r8 bench).
  private[queries] def orientedEdges(spark: SparkSession, dir: String): DataFrame =
    Substrates.parquet(spark, dir, "dedup/oriented") {
      val pairs = nearDupPairs(spark, dir).select("id_a", "id_b")
      val deg = pairs.union(pairs.select(col("id_b"), col("id_a")))
        .toDF("id", "nbr")
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val aLower = struct(col("da"), col("id_a")) < struct(col("db"), col("id_b"))
      pairs
        .join(deg.toDF("id_a", "da"), "id_a")
        .join(deg.toDF("id_b", "db"), "id_b")
        .select(
          when(aLower, col("id_a")).otherwise(col("id_b")).as("src"),
          when(aLower, col("id_b")).otherwise(col("id_a")).as("dst"),
          when(aLower, struct(col("db").as("deg"), col("id_b").as("id")))
            .otherwise(struct(col("da").as("deg"), col("id_a").as("id"))).as("dk"))
    }

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val e = orientedEdges(spark, dir)
    val t = e.as("e1")
      .join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dk") < col("e2.dk"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      // The wedge (b, c) has key(b) < key(c), so its closing edge — if the
      // triangle exists — is oriented b→c: one equi-join on both endpoints.
      .join(e.as("e3"), col("e3.src") === col("b") && col("e3.dst") === col("c"))
      .select("a", "b", "c")
    t.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** PageRank over the near-dup graph — authority scoring of documents by
    * how centrally they sit in their duplicate neighborhood (the canonical
    * iterative-graph workload after pair generation; used in practice to
    * pick the survivor of a dup cluster by "most connected" instead of
    * min-id). Three damped iterations (d = 0.85), unrolled identically in
    * the DuckDB oracle so every float op has a mirror. Each iteration is
    * one join-groupBy keyed by the edge's source — the same single-shuffle
    * shape as the q62 label loop. The symmetrized edge set has no sinks
    * (every node has out-degree ≥ 1 by construction), so no dangling-mass
    * correction term is needed — total mass stays 1 and DedupSpec asserts
    * it.
    *
    * The round count is FIXED (no convergence test), so unlike the q62/q154
    * driver-scalar loops no per-round action is needed at all: the three
    * rounds compose into ONE lazy plan executed once. The loop-invariant
    * weighted edge list appears identically in every round, so exchange
    * reuse materializes its shuffle once (r9: this replaces the former
    * per-round `localCheckpoint`, whose eager job-per-round cost dominated
    * the query at small SF; at an unbounded round count the checkpoint
    * convention would return to truncate lineage).
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir).select("id_a", "id_b")
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val nodes = edges.select(col("src").as("id")).distinct()
    val n = nodes.count().toDouble // one driver scalar, as the q62 loop
    val deg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
    // Degree is loop-invariant: join it onto the edge list ONCE, so each of
    // the 3 iterations costs one join + one agg instead of two joins + agg.
    val edgesW = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to 3) {
      // Fixed-point reduction: each contribution pr/deg is floored to a
      // 1e-15-granular long and summed with a plain `sum` — integer
      // addition is associative/commutative, so partition-merge order can't
      // move the result by an ulp in either engine (and unlike the earlier
      // sort_array(collect_list(...)) fold, per-dst state is one long, not
      // an O(in-degree) array — a hub node with millions of in-edges costs
      // 8 bytes, not an OOM). floor (not round) because IEEE specifies it
      // exactly; round's half-up boundary is engine-dependent. Mass lost to
      // flooring is < in-degree · 1e-15, far under the round(pr, 6) surface.
      val contrib = edgesW.join(ranks, edgesW("src") === ranks("id"))
        .groupBy(col("dst").as("nid"))
        .agg(sum(floor(col("pr") / col("deg") * lit(1e15)).cast("long")).as("s"))
      ranks = nodes.join(contrib, nodes("id") === contrib("nid"), "left")
        .select(col("id"),
          (lit(0.15 / n) + lit(0.85) *
            (coalesce(col("s"), lit(0L)).cast("double") / lit(1e15))).as("pr"))
    }
    ranks.select(col("id").as("doc_id"), round(col("pr"), 6).as("pr"))
      .orderBy("doc_id")
  }

  /** Fuzzy near-dup scoring via edit distance — the engine's scalar-UDF
    * surface (SURVEY.md §2.2 UDF row; the reference's `map` is arbitrary
    * per-row client code, `MapReduceClient.h:57-59`). Candidates come from
    * a REAL LSH blocking key: pairs agreeing on at least one of q38's four
    * 16-bit SimHash chunks (the pigeonhole bands, shared via
    * `simhashChunks`), so candidate count is bounded by band-bucket
    * population exactly as in the near-dup pipelines — never all-pairs,
    * and UDF cost stays proportional to candidates, not n². The UDF then
    * scores each candidate's 48-char head with true Damerau–Levenshtein.
    * (Policy note: a UDF is a codegen barrier — it's used here because
    * transposition-aware edit distance has no `functions._` composition.
    * SimHash chunks, not MinHash bands, because the md5-derived chunks are
    * the one banding both engines can reproduce — the oracle re-derives
    * the identical candidate set.)
    */
  def fuzzyEdit(spark: SparkSession, dir: String): DataFrame = {
    val chunks = simhashChunks(spark, dir).select("doc_id", "chunk")
    val cand = chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val d = documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 48).as("head"))
    cand
      .join(d.toDF("id_a", "head_a"), "id_a")
      .join(d.toDF("id_b", "head_b"), "id_b")
      .select(col("id_a"), col("id_b"),
              graft.functions.StringDistance.dl(col("head_a"), col("head_b")).as("dl_dist"))
      .orderBy("id_a", "id_b")
  }

  /** q154 — k-core decomposition of the near-dup graph: peel nodes with
    * degree < k (with their edges) until the edge set is stable — the TRUE
    * fixpoint, with parametric k (default 2). Dense duplication cores are
    * template/boilerplate families — the subgraphs a curation pass inspects
    * first, and the standard fourth member of the graph-analytics quartet
    * next to components (q62), triangles (q93), and PageRank (q107).
    * Convergence uses the q62 driver-scalar convention (the reference's own
    * reduce loop runs until empty, `MapReduceFramework.cpp:241-268`): one
    * edge-count scalar per round, labels/edges stay distributed. Each round
    * is one degree aggregation + two semi-join filters on key-partitioned
    * data; rounds ∝ peel depth (≤ degeneracy), so the loop holds at any
    * scale. The DuckDB oracle unrolls a fixed 12 peels — safe because
    * peeling is idempotent at the fixpoint, so any unroll ≥ the true depth
    * yields the identical edge set. Lineage truncated per round with
    * localCheckpoint like every iterative loop in the engine.
    */
  /** Peel depth the DuckDB k-core oracle unrolls. `kCore` asserts its true
    * fixpoint is reached within this many peels — a corpus whose peel depth
    * ever exceeded the unroll would otherwise diverge from the oracle with
    * no signal at all (the oracle would just stop early).
    */
  private[queries] val kCoreOracleUnrollDepth = 12

  def kCore(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    val pairs = nearDupPairs(spark, dir).select("id_a", "id_b")
    var edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").localCheckpoint()
    var prev = -1L
    var cur = edges.count()
    var peels = 0
    while (cur != prev && cur > 0) {
      val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      edges = edges
        .join(keep, "src")
        .join(keep.toDF("dst"), "dst")
        .select("src", "dst").localCheckpoint()
      prev = cur
      cur = edges.count()
      peels += 1
      // Fail verification loudly instead of letting the fixed-unroll oracle
      // silently diverge on a deeper-than-expected corpus. Only a peel that
      // CHANGED the edge set counts against the depth: the final confirming
      // iteration (cur == prev) is the identity, which the oracle's
      // idempotent unroll reproduces for free — without this condition a
      // corpus needing exactly `depth` real peels would be spuriously
      // rejected on its confirmation pass (r9 review catch).
      require(cur == prev || peels <= kCoreOracleUnrollDepth,
        s"kCore: peel $peels exceeds the oracle's $kCoreOracleUnrollDepth-peel " +
          "unroll — raise kCoreOracleUnrollDepth (both sides derive from it)")
    }
    edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy("doc_id")
  }

  /** q164 — label-propagation communities over the near-dup graph: each
    * node repeatedly adopts the MODE of its neighbors' labels (ties →
    * smallest label), 3 synchronous rounds from identity labels. Where CC
    * (q62) answers "what is transitively connected", LPA answers "what is
    * DENSELY connected" — two near-clique template families joined by one
    * accidental bridge pair stay separate communities here but merge in
    * q62, which is exactly the distinction a curation pass wants before
    * treating a whole component as one boilerplate family. Fixed round
    * count (the q107 convention) because synchronous LPA has no fixpoint
    * guarantee (2-cycles oscillate) — determinism, not convergence, is the
    * contract, and 3 rounds is the standard near-clique consensus horizon.
    * Each round: one edge⋈labels join + a (node, label) count + a
    * partial-agg argmax — all keyed shuffles. Like q107 (and unlike the
    * convergence loops), the round count is fixed with no per-round
    * driver action, so the rounds compose into ONE lazy plan and the
    * edge list's shuffle is shared across rounds by exchange reuse —
    * no per-round checkpoint jobs. Community sizes via a
    * label-partitioned window count (community-sized partitions).
    */
  def lpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir).select("id_a", "id_b")
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to 3) {
      labels = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("n"))
        // mode with min-label tie-break: max over (n, −lbl) — labels are
        // non-negative ids, so the negation flips the tie direction.
        .groupBy(col("src").as("id"))
        .agg(max(struct(col("n"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("id"), (-col("m.neg")).as("lbl"))
    }
    val wl = Window.partitionBy("lbl")
    labels
      .withColumn("community_size", count(lit(1)).over(wl))
      .select(col("id").as("doc_id"), col("lbl").as("community"),
              col("community_size"))
      .orderBy("doc_id")
  }

  /** q159 — cross-source corpus-overlap ESTIMATION via per-source MinHash
    * union sketches: the sketch-sized answer to the question q138's exact
    * cross-dup matrix answers at pair cost. Each source keeps one 64-slot
    * sketch (slot j = min over the source's shingle UNION of h_j; the min
    * of per-item minima IS the union sketch — the mergeability that makes
    * this a one-pass, k·|sources|-state aggregation at any corpus size),
    * and Ĵ(s1,s2) = (#matching slots)/64 estimates the shingle-set Jaccard
    * between whole sources — the "how much do these two crawls overlap"
    * number a mixing policy needs BEFORE paying for pairwise dedup.
    * Scale shape: one map-side hash pass + one 64-column min aggregation
    * (partial-agg, rows = |sources|); the pairwise estimate joins the
    * aggregate against itself — driver-trivial at any corpus size. Hashes
    * ride md5 (the engine-portable hash, as in q38): x = first 15 md5 hex
    * digits (60 bits), h_j(x) = (x mod P)·a_j + b_j mod P over the q37
    * seed table. k/64 is a power-of-two division — bit-exact both engines.
    */
  /** (source, grp, x): one row per (doc, shingle) instance with the 60-bit
    * md5-prefix portable hash and the q148 ingest-batch flag — the ONE
    * corpus-wide md5 pass the source-sketch family derives from (q159 and
    * q172 fold it mod P for minhash, q173 ranks the raw 60-bit value for
    * KMV). Materialized because three queries would otherwise each re-hash
    * every shingle in the corpus.
    */
  private[queries] def sourceHashes(spark: SparkSession, dir: String): DataFrame =
    Substrates.persisted(spark, dir, "dedup/srchash") {
      val src = documents(spark, dir).select("doc_id", "source")
      shingleStrings(spark, dir)
        .join(src, "doc_id")
        .select(col("source"), (col("doc_id") % 10 === 9).cast("int").as("grp"),
          expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)").as("x"))
    }

  /** The 64 MinHash slots m0..m63 over a hash column `h` (already mod P). */
  private val sketchSlots: Seq[Column] = (0 until 64).map(j =>
    min(pmod(col("h") * seeds(j)._1 + seeds(j)._2, lit(P))).as(s"m$j"))

  /** (source, m0..m63): each source's union sketch over its whole corpus.
    * Materialized like the per-doc signature tables: q159's pairwise
    * estimate reads it on BOTH sides of its self-join (without this the
    * full corpus hash scan would run twice), and q172 checks its merged
    * sketch against it.
    */
  private def sourceSketch(spark: SparkSession, dir: String): DataFrame =
    Substrates.persisted(spark, dir, "dedup/srcsketch") {
      sourceHashes(spark, dir).select(col("source"), pmod(col("x"), lit(P)).as("h"))
        .groupBy("source").agg(sketchSlots.head, sketchSlots.tail: _*)
    }

  def crossSourceMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = sourceSketch(spark, dir)
    val matches = (0 until 64).map(j =>
      when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0)).reduce(_ + _)
    // |sources|-row side broadcast: the pairwise estimate is a bounded-build
    // nested loop over sketch rows, never a CartesianProduct exchange.
    sig.as("a").join(broadcast(sig.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_1"), col("b.source").as("source_2"),
        (matches.cast("double") / lit(64.0)).as("est_jaccard"))
      .orderBy("source_1", "source_2")
  }

  /** q172 — INCREMENTAL sketch maintenance: the property that makes q159's
    * union sketches a standing artifact rather than a per-audit recompute.
    * The corpus splits into the standing 90% and the arrival batch (doc_id
    * % 10 = 9, the q148 ingest convention); each side gets its own
    * per-source 64-slot MinHash sketch, and the MERGED sketch (slot-wise
    * min) is compared against the sketch computed DIRECTLY from the full
    * corpus: `slots_merge_eq_full` is hash-checked at 64/64 — min over
    * group minima IS the union min, so an ingest pipeline updates a
    * 64-long per-source state instead of rescanning the corpus. The second
    * column is the payoff metric: Ĵ(standing, full) = matching-slots/64,
    * the sketch-level "how much did this ingest drift the source's content
    * profile" — q166's snapshot diff at sketch cost (O(|sources|) state vs
    * a digest join over every row). One hash scan feeds both aggregations;
    * the (source, is_new) sketch table is |sources|·2 rows.
    */
  def sketchMergeMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val parts = Substrates.persisted(spark, dir, "dedup/srcsketch_parts") {
      sourceHashes(spark, dir)
        .select(col("source"), col("grp"), pmod(col("x"), lit(P)).as("h"))
        .groupBy("source", "grp").agg(sketchSlots.head, sketchSlots.tail: _*)
    }
    // merged slot j = min over the two group sketches — the union-merge; a
    // source with no batch docs merges its standing sketch alone (min over
    // one row), which is exactly the contract.
    val merged = parts.groupBy("source")
      .agg((0 until 64).map(j => min(col(s"m$j")).as(s"m$j")).head,
           (0 until 64).map(j => min(col(s"m$j")).as(s"m$j")).tail: _*)
    val full = sourceSketch(spark, dir)
    val standing = parts.filter(col("grp") === 0).drop("grp")
    val eqSlots = (0 until 64).map(j =>
      when(col(s"g.m$j") === col(s"f.m$j"), 1).otherwise(0)).reduce(_ + _)
    val stdMatches = (0 until 64).map(j =>
      when(col(s"s.m$j") === col(s"f.m$j"), 1).otherwise(0)).reduce(_ + _)
    merged.as("g")
      .join(full.as("f"), col("g.source") === col("f.source"))
      .join(standing.as("s"), col("g.source") === col("s.source"))
      .select(col("g.source").as("source"),
        eqSlots.cast("int").as("slots_merge_eq_full"),
        (stdMatches.cast("double") / lit(64.0)).as("est_ingest_overlap"))
      .orderBy("source")
  }

  /** q187 — batch content NOVELTY: per arrival-batch document
    * (doc_id % 10 = 9, the q148 ingest convention), how many of its
    * shingles have NEVER been seen in the standing corpus — the
    * information-gain side of ingest monitoring. q148 answers "is this doc
    * a duplicate of something standing"; this answers the complementary
    * curation question "how much genuinely NEW content does the batch
    * bring per doc" (a crawl of boilerplate scores near zero even when no
    * single doc crosses a dup threshold). Shape: the standing distinct
    * shingle set — which IS the standing index a continuous ingest
    * maintains — left-joined by the exploded batch shingles, keyed on the
    * shingle; integer counts out, work ∝ batch emissions. Rides the
    * cached per-doc shingle arrays.
    */
  def batchNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    val standing = sh.filter(col("doc_id") % 10 =!= 9)
      .select(explode(col("sh")).as("s64")).distinct()
      .withColumn("seen", lit(1))
    sh.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), explode(col("sh")).as("s64"))
      .join(standing, Seq("s64"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(when(col("seen").isNull, 1L)), lit(0L)).as("n_novel"))
      .orderBy("doc_id")
  }

  /** q182 — EXACT set-similarity join via PREFIX FILTERING (the PPJoin
    * candidate rule: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): the
    * PROVABLY-COMPLETE alternative to both the df cap (q36 silently drops
    * hot shingles from the similarity) and salting (q169 keeps them but
    * catches hot-ONLY pairs probabilistically). Order the shingle universe
    * by ascending document frequency (rarest first, ties by hash), sort
    * each doc's shingle set in that global order, and index ONLY its
    * PREFIX of n − ⌈t·n⌉ + 1 shingles. Theorem: J(a,b) ≥ t ⇒ the two
    * prefixes share a shingle (if a's whole prefix missed b, the common
    * elements would fit inside a's suffix of ⌈t·n⌉ − 1 < t·|a| ≤ |a∩b|
    * elements — contradiction). So the bucket join over PREFIX shingles
    * emits every qualifying pair with NO probabilistic argument and no
    * dropped shingles, and fan-out per bucket is the prefix-df, not the
    * df: hot shingles sort LAST in the global order and essentially never
    * enter a prefix, which is the theorem's practical teeth at 100 TB —
    * boilerplate cannot blow up the join because it is exactly what the
    * ordering pushes out of the index. Candidates are verified against the
    * two full arrays (work ∝ candidates, the q37 shape); the df order
    * rides the family's materialized bucket census.
    */
  def prefixFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    // The prefix index is a standing family artifact like the signature
    // tables: the ranking join + per-doc sort is the build cost, probes pay
    // only the bucket join.
    val pref = Substrates.persisted(spark, dir, "dedup/prefix") {
      val dfs = shingleBuckets(spark, dir).select(col("s64"), size(col("ids")).as("df"))
      sh.select(col("doc_id"), explode(col("sh")).as("s64"))
        .join(dfs, "s64")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("s64")))).as("rk"))
        .select(col("doc_id"), explode(expr(
          "slice(rk, 1, cast(size(rk) - ceil(0.6d * size(rk)) + 1 as int))")).as("p"))
        .select(col("doc_id"), col("p.s64").as("s64"))
    }
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.s64") === col("b.s64") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(sh.toDF("id_a", "sh_a"), "id_a")
      .join(sh.toDF("id_b", "sh_b"), "id_b")
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jac", col("c") / (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jac") >= 0.6)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
      .orderBy("id_a", "id_b")
  }

  /** q173 — KMV (k-minimum-values / bottom-k) sketch SET ALGEBRA across
    * sources: per-source distinct-shingle cardinality plus pairwise
    * union / intersection cardinality estimates — the order-statistics
    * member of the engine's mergeable-sketch family (HLL q69 = per-group
    * distinct count; MinHash q159/q172 = Jaccard; count-min q106 =
    * frequency; KMV = the one that supports set ALGEBRA: |A|, |A∪B|,
    * |A∩B| all from the same k retained hashes, Beyer et al., SIGMOD'07).
    * The question it answers that none of the others can: "how many NEW
    * unique shingles does source B add over source A" (est_union −
    * est_card_1) — the marginal-value number a mixing decision needs.
    *
    * Shape: one distinct over (source, 60-bit md5 hash) — a partial-agg
    * dedup — then a `row_number` window planned on the NATIVE bounded-heap
    * TopKPerKey operator (in its ASCENDING role) keeps the k=128 smallest
    * hashes per source: each partition forwards ≤ k rows per source, so
    * the sketch build shuffles k·|sources| rows at any corpus size, and
    * the pairwise stage is a broadcast self-join of a |sources|-row table
    * of k-long arrays. Estimators: n̂ = (k−1)·2⁶⁰/x₍ₖ₎; per pair,
    * u = bottom-k of sk_a ∪ sk_b (EXACT bottom-k of the union — KMV
    * mergeability), ρ = |{x ∈ u : x ∈ sk_a ∧ x ∈ sk_b}|, Ĵ = ρ/|u|,
    * |A∩B| ≈ ρ·n̂(A∪B)/|u|. A set with < k distinct hashes is carried
    * whole (its estimate is exact by convention). All arithmetic is
    * integer except ≤ 3 pinned-order IEEE double ops per output column
    * (127·2⁶⁰ is exactly representable, so the shared numerator is one
    * literal), which DuckDB reproduces bit-for-bit.
    */
  def kmvSetAlgebra(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    // (k−1)·2^60: both factors and the product are exact in double.
    val numer = lit(127.0) * lit(1.152921504606846976e18)
    val hx = sourceHashes(spark, dir).select("source", "x").distinct()
    val bot = hx.withColumn("rnk", row_number().over(Window.partitionBy("source").orderBy("x")))
      .filter(col("rnk") <= k)
    val sk = bot.groupBy("source").agg(sort_array(collect_list(col("x"))).as("sk"))
    def est(arr: Column): Column =
      when(size(arr) < k, size(arr).cast("double"))
        .otherwise(numer / element_at(arr, k).cast("double"))
    sk.as("a")
      .join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_1"), col("b.source").as("source_2"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("rho", expr(
        "size(filter(u, e -> array_contains(ska, e) AND array_contains(skb, e)))"))
      .select(col("source_1"), col("source_2"),
        est(col("ska")).as("est_card_1"),
        est(col("skb")).as("est_card_2"),
        est(col("u")).as("est_union"),
        (col("rho").cast("double") * est(col("u")) / size(col("u")).cast("double"))
          .as("est_intersection"),
        (col("rho").cast("double") / size(col("u")).cast("double")).as("est_jaccard"))
      .orderBy("source_1", "source_2")
  }

  /** q148 — incremental ingest dedup: the new batch (deterministically
    * doc_id % 10 = 9, the stand-in for "today's crawl") deduped AGAINST the
    * standing corpus (the other 90%) — the production shape where the
    * corpus is never re-paired with itself. Exact pass = 32-byte digest
    * left join against the corpus digest set; near pass = the batch's
    * shingles PROBING the corpus's inverted index (df ≤ 100 stop-cap on
    * corpus frequency, as q36), so candidate work is proportional to the
    * batch, not the corpus. Per batch doc: drop_exact (byte-identical
    * corpus twin exists), drop_near (best corpus Jaccard ≥ 0.6 over full
    * shingle sets), else keep — with the matched corpus doc and score.
    * At 100 TB the digest set and shingle index are standing, bucketed
    * artifacts maintained across ingests; each batch costs one probe join
    * per pass. Both passes ride the session-cached `shingled` substrate.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 9
    val dig = documents(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val corpusDig = dig.filter(!isNew)
      .groupBy("h").agg(min("doc_id").as("exact_match"))
    val ex = dig.filter(isNew)
      .join(corpusDig, Seq("h"), "left").select(col("doc_id"), col("exact_match"))
    val sh = shingled(spark, dir)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val shx = sh.select(col("doc_id"), explode(col("sh")).as("s64"))
    val corp = shx.filter(!isNew)
    val rare = corp.groupBy("s64").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 100).select("s64")
    val common = shx.filter(isNew).toDF("new_id", "s64")
      .join(corp.join(rare, "s64").select(col("s64"), col("doc_id").as("corp_id")), "s64")
      .groupBy("new_id", "corp_id").agg(count(lit(1)).as("c"))
    val near = common
      .join(sizes.toDF("new_id", "na"), "new_id")
      .join(sizes.toDF("corp_id", "nb"), "corp_id")
      .withColumn("j", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("j") >= 0.6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id").orderBy(col("j").desc, col("corp_id"))
    val bestn = near.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("new_id").as("doc_id"), col("corp_id").as("near_match"), col("j"))
    ex.join(bestn, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "drop_exact")
          .when(col("near_match").isNotNull, "drop_near")
          .otherwise("keep").as("verdict"),
        col("exact_match"), col("near_match"), round(col("j"), 4).as("jac"))
      .orderBy("doc_id")
  }

  /** q198 — Bloom-gated exact incremental dedup: q148's exact pass
    * restructured around a broadcast Bloom filter, the shape a 100 TB
    * standing corpus actually serves. q148 joins every batch digest against
    * the corpus digest table; here the corpus digests fold into ONE
    * mergeable `bloom_filter_agg` bitmap (bitwise-OR combine — the standing
    * artifact an ingest pipeline maintains incrementally, ~1.2 GB for 10⁹
    * docs at 1% fpp vs a 32 TB digest table), which broadcasts to the
    * batch scan; `might_contain` discards definite-novel docs MAP-SIDE, and
    * only the surviving sliver (true dups + fpp·novel false positives)
    * reaches the exact digest join, which removes the false positives. The
    * verdict is therefore provably IDENTICAL to the ground-truth join — the
    * oracle is the plain digest left join, so the hash match is the proof
    * — while the shuffled batch volume drops from |batch| to
    * |dups| + fpp·|novel|. The bitmap is deterministic (XxHash64 seeds are
    * fixed; set bits depend on the item SET, not row order), but no output
    * cell depends on it anyway. DedupSpec additionally pins that the gate
    * really fires (plan contains might_contain; planted novel docs are cut
    * before the join).
    */
  def bloomIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 9
    val dig = documents(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val corpus = dig.filter(!isNew)
    val batch = dig.filter(isNew)
    // Spark's mergeable BloomFilterAggregate / BloomFilterMightContain pair
    // is what AQE's runtime row-filter injects; it is not SQL-registered, so
    // build the Columns on the catalyst expressions directly (the
    // BottomKByHash bridge pattern). NDV hint = a cheap standing-metadata
    // figure at scale (the parquet footer rowcount bounds it).
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.classic.GraftColumnBridge
    // ~10 bits/item ⇒ ~1% fpp at the hinted NDV (the doc-comment figure);
    // under-sizing the bitmap (≲1.3 bits/item ⇒ >50% fpp) would pass most
    // novel docs through the gate and defeat the shuffle reduction.
    val bfAgg = GraftColumnBridge.column(new BloomFilterAggregate(
      GraftColumnBridge.expression(xxhash64(col("h"))),
      Literal(100000L), Literal(1000000L)).toAggregateExpression())
    val bloom = corpus.agg(bfAgg.as("bf"))
    // might_contain demands a CONSTANT/scalar-subquery bitmap (the bitmap
    // must exist before the probe side streams) — wrap the aggregate as a
    // ScalarSubquery, the same shape InjectRuntimeFilter emits; the subquery
    // executes once and its result broadcasts with the task binaries.
    val bfSub = GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        org.apache.spark.sql.GraftSqlBridge.analyzed(bloom)))
    // Empty-corpus edge: bloom_filter_agg over ZERO rows yields a NULL
    // bitmap, so might_contain returns NULL and BOTH branches would drop
    // every batch row — coalesce the gate to false (novel) so q198 still
    // returns all-'keep', matching the oracle's plain left join.
    val gated = batch.withColumn("maybe",
      coalesce(GraftColumnBridge.column(BloomFilterMightContain(
        GraftColumnBridge.expression(bfSub),
        GraftColumnBridge.expression(xxhash64(col("h"))))), lit(false)))
    val novel = gated.filter(!col("maybe"))
      .select(col("doc_id"), lit(null).cast("long").as("exact_match"))
    val corpusMin = corpus.groupBy("h").agg(min("doc_id").as("exact_match"))
    val checked = gated.filter(col("maybe")).select("doc_id", "h")
      .join(corpusMin, Seq("h"), "left")
      .select("doc_id", "exact_match")
    checked.unionByName(novel)
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "drop_exact")
          .otherwise("keep").as("verdict"),
        col("exact_match"))
      .orderBy("doc_id")
  }

  /** q209 — Theta-sketch set algebra across sources (Spark 4's native
    * DataSketches theta family — the ENGINE-NATIVE companion to q173's
    * hand-built KMV): one `theta_sketch_agg` per source over the corpus
    * shingle hashes, then per source pair the union AND intersection
    * cardinalities estimated from the merged sketches alone. Theta is the
    * one mergeable-sketch family CLOSED under intersection/difference —
    * HLL (q69) unions only — so "how many shingles do A and B share"
    * costs a sketch merge at ANY corpus size, never a rescan: standing
    * state is |sources|·4096 longs. A theta estimate is not
    * SQL-replayable, so the compared surface is the EXACT cardinalities
    * (one extra keyed join on the same scan) plus x01/q69-convention
    * bounded-error booleans: |est − exact| ≤ 4·RSE·n_union with
    * RSE = 1/√4096 (Dasgupta et al., the published theta error; the
    * intersection error scales with the UNION, whose theta governs both
    * sketches' retained samples) — a flipped boolean fails the hash.
    */
  def thetaSetAlgebra(spark: SparkSession, dir: String): DataFrame = {
    val hx = sourceHashes(spark, dir).select("source", "x").distinct()
    val sk = hx.groupBy("source").agg(
      expr("theta_sketch_agg(x)").as("sk"), count(lit(1)).as("n"))
    val inter = hx.toDF("s1", "x").join(hx.toDF("s2", "x"), "x")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("ni"))
    val bound = 4.0 / 64.0 // 4·RSE at the default lgNomEntries=12 (k=4096)
    sk.as("a").join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_1"), col("b.source").as("source_2"),
        col("a.n").as("n1"), col("b.n").as("n2"),
        expr("theta_sketch_estimate(theta_union(a.sk, b.sk))").as("est_u"),
        expr("theta_sketch_estimate(theta_intersection(a.sk, b.sk))").as("est_i"))
      .join(broadcast(inter),
        col("source_1") === col("s1") && col("source_2") === col("s2"), "left")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .withColumn("nu", col("n1") + col("n2") - col("ni"))
      .select(col("source_1"), col("source_2"),
        col("nu").as("n_union"), col("ni").as("n_inter"),
        (abs(col("est_u") - col("nu")) <= lit(bound) * col("nu")).as("ok_union"),
        (abs(col("est_i") - col("ni")) <= lit(bound) * col("nu")).as("ok_inter"))
      .orderBy("source_1", "source_2")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q148_incremental_dedup"     -> incrementalDedup _,
    "q198_bloom_incremental"     -> bloomIncrementalDedup _,
    "q209_theta_set_algebra"     -> thetaSetAlgebra _,
    "q35_dedup_exact"            -> dedupExact _,
    "q138_crossdup_matrix"       -> crossSourceDups _,
    "q78_dedup_fuzzy"            -> fuzzyEdit _,
    "q36_dedup_ngram_jaccard"    -> ngramJaccard _,
    "q37_dedup_minhash_lsh"      -> minhashLsh _,
    "q38_dedup_simhash"          -> simhash _,
    "q93_dedup_triangles"        -> triangles _,
    "q107_pagerank"              -> pagerank _,
    "q39_dedup_embedding_cosine" -> embeddingCosine _,
    "q62_dedup_cluster"          -> dedupCluster _,
    "q153_canonical_keeper"      -> canonicalKeeper _,
    "q154_kcore"                 -> ((s: SparkSession, d: String) => kCore(s, d)),
    "q159_cross_source_minhash"  -> crossSourceMinhash _,
    "q164_lpa_communities"       -> lpaCommunities _,
    "q169_dedup_salted_shingles" -> saltedShingleDedup _,
    "q172_sketch_merge"          -> sketchMergeMaintenance _,
    "q173_kmv_set_algebra"       -> kmvSetAlgebra _,
    "q182_dedup_prefix_join"     -> prefixFilterJoin _,
    "q187_batch_novelty"         -> batchNovelty _,
  )

  private[queries] val shingleCte =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(w)-1),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** DuckDB CTE chain through the SimHash chunk table (`chunks`): identical
    * md5-digit votes, identical two-half packing, identical chunk banding —
    * generated so the 64 vote expressions cannot drift from the Spark
    * side's loop. Shared by the q38 (hamming) and q78 (edit-distance)
    * oracles, mirroring the Spark side's shared `simhashChunks`.
    */
  private val simhashChunksCte: String = {
    val votes = (0 until 64).map { k =>
      s"sum(2 * (d[${k / 4 + 1}] // ${1 << (k % 4)} % 2) - 1) AS v$k"
    }.mkString(",\n       ")
    def half(lowBit: Int) = (0 until 32).map { k =>
      s"(CASE WHEN v${lowBit + k} > 0 THEN CAST(${1L << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    shingleCte +
      s""",
         |m AS (SELECT doc_id,
         |        list_transform(range(1, 17),
         |          p -> strpos('0123456789abcdef', substr(m, p, 1)) - 1) AS d
         |      FROM (SELECT doc_id, md5(s) AS m FROM sh)),
         |v AS (SELECT doc_id,
         |       $votes
         |      FROM m GROUP BY doc_id),
         |sig AS (SELECT doc_id, ${half(0)} AS lo, ${half(32)} AS hi FROM v),
         |chunks AS (SELECT doc_id, lo, hi, unnest([
         |  '0:' || CAST(lo & 65535 AS VARCHAR),
         |  '1:' || CAST((lo >> 16) & 65535 AS VARCHAR),
         |  '2:' || CAST(hi & 65535 AS VARCHAR),
         |  '3:' || CAST((hi >> 16) & 65535 AS VARCHAR)]) AS chunk FROM sig)""".stripMargin
  }

  private val simhashOracle: String =
    simhashChunksCte +
      """,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |                a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
        |         FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
        |ORDER BY id_a, id_b""".stripMargin

  /** Pair CTE shared by the triangle oracle: identical to q36's verified
    * pair generation (rare-shingle inverted index, J ≥ 0.6).
    */
  private val pairsCte = shingleCte +
    """,
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
      |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY 1),
      |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |           FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM common
      |          JOIN sizes sa ON sa.doc_id = id_a
      |          JOIN sizes sb ON sb.doc_id = id_b
      |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6)""".stripMargin

  /** DuckDB mirror of `pagerank`: same pair CTE, same symmetrized edges,
    * and the three damped iterations unrolled — every arithmetic step is
    * spelled with explicit DOUBLE casts so both engines run the identical
    * float ops (DuckDB's bare 0.15/0.85 literals are DECIMAL).
    */
  private val pagerankOracle: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (SELECT nd.id,
         |      CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         |      + CAST(0.85 AS DOUBLE)
         |        * (CAST(coalesce(c.s, 0) AS DOUBLE) / CAST(1e15 AS DOUBLE)) AS pr
         |    FROM nodes nd LEFT JOIN (
         |      SELECT e.dst AS id,
         |             sum(CAST(floor(r.pr / d.deg * CAST(1e15 AS DOUBLE)) AS BIGINT)) AS s
         |      FROM edges e JOIN $prev r ON r.id = e.src
         |                   JOIN deg d ON d.src = e.src
         |      GROUP BY e.dst) c ON c.id = nd.id)""".stripMargin
    pairsCte +
      s""",
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT id AS doc_id, round(pr, 6) AS pr FROM r3 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of `incrementalDedup`: same batch split, digest left
    * join, corpus-df stop-cap, and single-division Jaccard (identical op
    * order → bit-equal ordering keys).
    */
  private val incrementalDedupOracle: String =
    shingleCte +
      """,
        |inc AS (SELECT * FROM sh WHERE doc_id % 10 = 9),
        |corp AS (SELECT * FROM sh WHERE doc_id % 10 <> 9),
        |rare AS (SELECT s FROM corp GROUP BY s HAVING count(*) <= 100),
        |idx AS (SELECT corp.doc_id, corp.s FROM corp JOIN rare USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (SELECT inc.doc_id AS new_id, idx.doc_id AS corp_id,
        |                  count(*) AS c
        |           FROM inc JOIN idx USING (s) GROUP BY 1, 2),
        |near AS (SELECT new_id, corp_id,
        |                c * 1.0 / (sa.n + sb.n - c) AS j
        |         FROM common
        |         JOIN sizes sa ON sa.doc_id = new_id
        |         JOIN sizes sb ON sb.doc_id = corp_id
        |         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6),
        |bestn AS (SELECT new_id AS doc_id, corp_id AS near_match, j
        |          FROM (SELECT *, row_number() OVER (PARTITION BY new_id
        |                  ORDER BY j DESC, corp_id) AS rn FROM near)
        |          WHERE rn = 1),
        |dige AS (SELECT doc_id, md5(text) AS h FROM documents),
        |ce AS (SELECT h, min(doc_id) AS exact_match FROM dige
        |       WHERE doc_id % 10 <> 9 GROUP BY h),
        |ex AS (SELECT d.doc_id, ce.exact_match FROM dige d
        |       LEFT JOIN ce USING (h) WHERE d.doc_id % 10 = 9)
        |SELECT ex.doc_id,
        |       CASE WHEN exact_match IS NOT NULL THEN 'drop_exact'
        |            WHEN near_match IS NOT NULL THEN 'drop_near'
        |            ELSE 'keep' END AS verdict,
        |       exact_match, near_match, round(j, 4) AS jac
        |FROM ex LEFT JOIN bestn USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  /** Shared CTE text through the CC labels (`lbl`): the q36 pair CTEs,
    * symmetrized edges, and the recursive reachability closure — consumed
    * by the q62 and q153 oracles.
    */
  private[queries] val ccLabelsCte: String =
    shingleCte.replace("WITH sh", "WITH RECURSIVE sh") +
      """,
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM common
        |          JOIN sizes sa ON sa.doc_id = id_a
        |          JOIN sizes sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(a, b) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
        |lbl AS (SELECT b AS doc_id, min(a) AS cluster_id FROM reach GROUP BY 1)""".stripMargin

  /** DuckDB mirror of `kCore` (k = 2): the q36 pair CTEs + 12 unrolled
    * peels. The Spark side peels to the true fixpoint; because one peel of
    * an already-converged edge set is the identity, unrolling MORE rounds
    * than the corpus's peel depth (3 at the test SFs, margin 4×) reproduces
    * the fixpoint exactly.
    */
  private val kCoreOracle: String = {
    // MATERIALIZED: each peel references its predecessor twice (edge scan +
    // degree filter), so DuckDB's default CTE inlining would grow 2^12 —
    // materializing keeps the chain linear.
    def peel(prev: String, n: Int): String =
      s"""k$n AS MATERIALIZED (SELECT src FROM $prev GROUP BY src HAVING count(*) >= 2),
         |e$n AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e
         |        JOIN k$n a ON a.src = e.src
         |        JOIN k$n b ON b.src = e.dst)""".stripMargin
    val d = kCoreOracleUnrollDepth
    val peels = (1 to d).map(n => peel(s"e${n - 1}", n)).mkString(",\n")
    pairsCte +
      s""",
         |e0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |$peels
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM e$d GROUP BY src ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of `crossSourceMinhash`: identical md5-prefix hashing
    * (15 hex digits assembled by shifted digit values — integer-exact, no
    * 16^k double powers), identical seed table, identical union-min
    * sketches; generated from the same `seeds` array so the 64 slot
    * expressions cannot drift from the Spark side.
    */
  private val crossSourceMinhashOracle: String = {
    val mins = (0 until 64).map { j =>
      s"min((h * ${seeds(j)._1} + ${seeds(j)._2}) % $P) AS m$j"
    }.mkString(",\n       ")
    val matches = (0 until 64).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    shingleCte +
      s""",
         |hv AS (SELECT d.source,
         |         CAST(list_sum(list_transform(range(1, 16),
         |           i -> CAST(strpos('0123456789abcdef', substr(md5(sh.s), i, 1)) - 1 AS BIGINT)
         |                * (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS BIGINT) % $P AS h
         |       FROM sh JOIN documents d USING (doc_id)),
         |sig AS (SELECT source, $mins FROM hv GROUP BY source)
         |SELECT a.source AS source_1, b.source AS source_2,
         |       CAST($matches AS DOUBLE) / 64.0 AS est_jaccard
         |FROM sig a JOIN sig b ON a.source < b.source
         |ORDER BY source_1, source_2""".stripMargin
  }

  /** DuckDB mirror of `sketchMergeMaintenance`: the q159 hash CTE with a
    * batch flag, per-(source, grp) sketches, slot-wise-min merge, and the
    * directly-aggregated full sketch — generated from the same seed table
    * so the 64 slot expressions cannot drift from the Spark side.
    */
  private val sketchMergeOracle: String = {
    val mins = (0 until 64).map { j =>
      s"min((h * ${seeds(j)._1} + ${seeds(j)._2}) % $P) AS m$j"
    }.mkString(",\n       ")
    val mergeMins = (0 until 64).map(j => s"min(m$j) AS m$j").mkString(",\n       ")
    val eqSlots = (0 until 64).map(j => s"CASE WHEN g.m$j = f.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    val stdMatches = (0 until 64).map(j => s"CASE WHEN s.m$j = f.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    shingleCte +
      s""",
         |hv AS (SELECT d.source,
         |         CASE WHEN d.doc_id % 10 = 9 THEN 1 ELSE 0 END AS grp,
         |         CAST(list_sum(list_transform(range(1, 16),
         |           i -> CAST(strpos('0123456789abcdef', substr(md5(sh.s), i, 1)) - 1 AS BIGINT)
         |                * (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS BIGINT) % $P AS h
         |       FROM sh JOIN documents d USING (doc_id)),
         |parts AS (SELECT source, grp, $mins FROM hv GROUP BY source, grp),
         |merged AS (SELECT source, $mergeMins FROM parts GROUP BY source),
         |fullsig AS (SELECT source, $mins FROM hv GROUP BY source),
         |standing AS (SELECT * FROM parts WHERE grp = 0)
         |SELECT g.source AS source,
         |       CAST($eqSlots AS INT) AS slots_merge_eq_full,
         |       CAST($stdMatches AS DOUBLE) / 64.0 AS est_ingest_overlap
         |FROM merged g
         |JOIN fullsig f ON g.source = f.source
         |JOIN standing s ON g.source = s.source
         |ORDER BY source""".stripMargin
  }

  /** DuckDB mirror of `kmvSetAlgebra`: identical 60-bit md5-prefix hashes
    * (the q159 digit-assembly idiom, NO modulus — KMV ranks the raw hash),
    * bottom-128 per source via row_number, and the same three pinned-order
    * double ops per output column (127·2⁶⁰ exact in double both engines).
    */
  private val kmvOracle: String = {
    def est(arr: String): String =
      s"CASE WHEN len($arr) < 128 THEN CAST(len($arr) AS DOUBLE) " +
        s"ELSE (CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)) " +
        s"/ CAST($arr[128] AS DOUBLE) END"
    shingleCte +
      s""",
         |hv AS (SELECT DISTINCT d.source,
         |         CAST(list_sum(list_transform(range(1, 16),
         |           i -> CAST(strpos('0123456789abcdef', substr(md5(sh.s), i, 1)) - 1 AS BIGINT)
         |                * (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS BIGINT) AS x
         |       FROM sh JOIN documents d USING (doc_id)),
         |bot AS (SELECT source, x FROM
         |         (SELECT source, x,
         |                 row_number() OVER (PARTITION BY source ORDER BY x) AS rn
         |          FROM hv) WHERE rn <= 128),
         |sk AS (SELECT source, list_sort(list(x)) AS sk FROM bot GROUP BY source),
         |pr AS (SELECT a.source AS source_1, b.source AS source_2,
         |              a.sk AS ska, b.sk AS skb,
         |              list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:128] AS u
         |       FROM sk a JOIN sk b ON a.source < b.source),
         |pe AS (SELECT source_1, source_2, ska, skb, u,
         |         len(list_filter(u, e -> list_contains(ska, e)
         |                                 AND list_contains(skb, e))) AS rho
         |       FROM pr)
         |SELECT source_1, source_2,
         |       ${est("ska")} AS est_card_1,
         |       ${est("skb")} AS est_card_2,
         |       ${est("u")} AS est_union,
         |       (CAST(rho AS DOUBLE) * ${est("u")}) / CAST(len(u) AS DOUBLE)
         |         AS est_intersection,
         |       CAST(rho AS DOUBLE) / CAST(len(u) AS DOUBLE) AS est_jaccard
         |FROM pe ORDER BY source_1, source_2""".stripMargin
  }

  /** DuckDB mirror of `lpaCommunities`: the q36 pair CTEs + 3 unrolled
    * mode-adoption rounds (row_number over (count DESC, label) replays the
    * min-label tie-break), then the label-partitioned size count.
    */
  private val lpaOracle: String = {
    def round(prev: String, n: Int): String =
      s"""cnt$n AS MATERIALIZED (SELECT e.src, p.lbl, count(*) AS c
         |        FROM edges e JOIN $prev p ON p.id = e.dst GROUP BY 1, 2),
         |l$n AS MATERIALIZED (SELECT src AS id, lbl FROM (
         |        SELECT src, lbl, row_number() OVER (PARTITION BY src
         |          ORDER BY c DESC, lbl) AS rn FROM cnt$n)
         |      WHERE rn = 1)""".stripMargin
    pairsCte +
      s""",
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |        UNION ALL SELECT id_b, id_a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
         |${round("l0", 1)},
         |${round("l1", 2)},
         |${round("l2", 3)}
         |SELECT id AS doc_id, lbl AS community,
         |       CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
         |FROM l3 ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q173_kmv_set_algebra" -> kmvOracle,
    "q164_lpa_communities" -> lpaOracle,
    "q159_cross_source_minhash" -> crossSourceMinhashOracle,
    // Exact pairwise set algebra from the same 60-bit md5 hashes; the ok
    // booleans are literals — a theta estimate outside its published
    // bound flips the engine side and fails the hash (x01/q69 convention).
    "q209_theta_set_algebra" -> (shingleCte +
      s""",
         |hv AS (SELECT DISTINCT d.source,
         |         CAST(list_sum(list_transform(range(1, 16),
         |           i -> CAST(strpos('0123456789abcdef', substr(md5(sh.s), i, 1)) - 1 AS BIGINT)
         |                * (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS BIGINT) AS x
         |       FROM sh JOIN documents d USING (doc_id)),
         |card AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM hv GROUP BY source),
         |inter AS (SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS ni
         |          FROM hv a JOIN hv b ON a.x = b.x AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT c1.source AS source_1, c2.source AS source_2,
         |       c1.n + c2.n - coalesce(i.ni, 0) AS n_union,
         |       coalesce(i.ni, 0) AS n_inter,
         |       true AS ok_union, true AS ok_inter
         |FROM card c1 JOIN card c2 ON c1.source < c2.source
         |LEFT JOIN inter i ON i.s1 = c1.source AND i.s2 = c2.source
         |ORDER BY source_1, source_2""".stripMargin),
    "q172_sketch_merge" -> sketchMergeOracle,
    "q154_kcore" -> kCoreOracle,
    "q148_incremental_dedup" -> incrementalDedupOracle,
    // Ground truth for the Bloom-gated path: the plain digest left join —
    // the bloom prefilter must be output-invisible, so this IS the proof.
    "q198_bloom_incremental" ->
      """WITH dig AS (SELECT doc_id, md5(text) AS h FROM documents),
        |corpus AS (SELECT h, CAST(min(doc_id) AS BIGINT) AS exact_match
        |           FROM dig WHERE doc_id % 10 <> 9 GROUP BY h)
        |SELECT b.doc_id,
        |       CASE WHEN c.exact_match IS NOT NULL
        |            THEN 'drop_exact' ELSE 'keep' END AS verdict,
        |       c.exact_match
        |FROM dig b LEFT JOIN corpus c USING (h)
        |WHERE b.doc_id % 10 = 9 ORDER BY b.doc_id""".stripMargin,
    "q107_pagerank" -> pagerankOracle,
    "q38_dedup_simhash" -> simhashOracle,
    "q93_dedup_triangles" -> (pairsCte +
      """,
        |tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        |        FROM pairs e1
        |        JOIN pairs e2 ON e2.id_a = e1.id_b
        |        JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q35_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "q78_dedup_fuzzy" -> (simhashChunksCte +
      """,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM chunks a JOIN chunks b
        |           ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |       damerau_levenshtein(substring(da.text, 1, 48),
        |                           substring(db.text, 1, 48)) AS dl_dist
        |FROM cand JOIN documents da ON da.doc_id = cand.id_a
        |          JOIN documents db ON db.doc_id = cand.id_b
        |ORDER BY id_a, id_b""".stripMargin),
    "q138_crossdup_matrix" -> (pairsCte +
      """
        |SELECT least(da.source, db.source) AS source_1,
        |       greatest(da.source, db.source) AS source_2,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs JOIN documents da ON da.doc_id = pairs.id_a
        |           JOIN documents db ON db.doc_id = pairs.id_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q36_dedup_ngram_jaccard" -> (shingleCte +
      """,
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jac
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin),
    // q37 AND q169 share the brute-force FULL-set Jaccard oracle (no df
    // filter): LSH banding at these parameters captures every J ≥ 0.6 pair,
    // and the salted-shingle variant computes full-set Jaccard exactly on a
    // corpus whose shingles all fit the rare path (max df at the test SFs
    // is 25 ≪ cap; the planted-hot-family behavior is DedupSpec-pinned).
    "q37_dedup_minhash_lsh" -> (shingleCte +
      """,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jac
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin),
    "q169_dedup_salted_shingles" -> (shingleCte +
      """,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jac
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin),
    "q187_batch_novelty" -> (shingleCte +
      """,
        |std AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 9),
        |b AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 = 9)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(coalesce(sum(CASE WHEN std.s IS NULL THEN 1 ELSE 0 END), 0)
        |            AS BIGINT) AS n_novel
        |FROM b LEFT JOIN std ON b.s = std.s
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // q182 is EXACT and COMPLETE by the prefix-filtering theorem, so its
    // oracle is the same brute-force full-set Jaccard as q37/q169 — the
    // hash equality IS the completeness proof on this corpus.
    "q182_dedup_prefix_join" -> (shingleCte +
      """,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jac
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin),
    // DuckDB needs the RECURSIVE keyword on the WITH chain for `reach`.
    "q62_dedup_cluster" -> (ccLabelsCte +
      """
        |SELECT doc_id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |FROM lbl ORDER BY doc_id""".stripMargin),
    "q153_canonical_keeper" -> (ccLabelsCte +
      s""",
        |toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                    x -> x <> '') AS toks
        |         FROM documents),
        |sc AS (SELECT doc_id, ${TextAnalysis.scoreSql} AS score
        |       FROM toks WHERE len(toks) > 0),
        |j AS (SELECT l.doc_id, l.cluster_id, sc.score
        |      FROM lbl l JOIN sc USING (doc_id)),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY cluster_id
        |          ORDER BY score DESC, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY cluster_id) AS n_members
        |      FROM j)
        |SELECT cluster_id, doc_id AS keeper,
        |       CAST(n_members AS BIGINT) AS n_members, score AS keeper_score
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
    "q39_dedup_embedding_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cs
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 10
        |  AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |  / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |   * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
  )
}
