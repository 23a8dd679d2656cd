package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{CentroidAggregator, VectorOps}
import graft.tables.Tables._

/** Similarity-search pillar over `embeddings` (ArrayType(FloatType), dim 64):
  * brute-force cosine top-k as the correctness baseline, random-hyperplane
  * LSH bucketing as the sub-quadratic scale path, and a typed-Aggregator
  * centroid. All vector math is codegen'd array HOFs (VectorOps) — no UDFs.
  *
  * The LSH hyperplanes are fixed decimal literals embedded in BOTH the Spark
  * plan and the DuckDB oracle SQL, so even the approximate path is
  * hash-verified end-to-end (both engines evaluate the identical banding).
  */
object Similarity {

  /** 16 random hyperplanes × 64 dims as decimal strings: parsing the same
    * literal on both engines yields bit-identical doubles.
    */
  private val planes: Array[Array[String]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(16)(Array.fill(64)(f"${rnd.nextGaussian()}%.6f"))
  }

  /** vec_id, v (double), nrm = ||v|| — norm precomputed once per vector so
    * every scored pair costs a single dot product.
    *
    * The widened+normed vector table is the substrate of the whole ANN
    * family (brute-force, LSH, IVF, PQ, k-means, eval) — a production index
    * build parses and norms the embedding column once, not once per index
    * variant. Parquet, not `persist`: under persist the consumers' executor
    * CPU ballooned (q117 +5.6 s exec_ms at sf0.1).
    */
  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Substrates.parquet(spark, dir, "similarity/vecs") {
      embeddings(spark, dir)
        // One parquet row group → one input partition: redistribute before the
        // per-row vector math (bits, dot products) so it runs at full
        // parallelism; per-row work only, so float results are unaffected.
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(VectorOps.dot(col("v"), col("v"))))
    }

  /** The family's probe set: the ids every search, recall and ranking
    * query answers for (vec_id < 10 — bounded by construction, so the
    * probe side always broadcasts).
    */
  private def isProbe(id: Column): Column = id < 10

  /** The probe table: (probe_id, pv, pnrm) — each probe's vector and norm. */
  private def probes(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).filter(isProbe(col("vec_id"))).toDF("probe_id", "pv", "pnrm")

  /** Cosine of the probe vector (pv, pnrm) to the corpus vector (v, nrm) —
    * one expression, so exact rankings and re-ranks cannot drift apart.
    */
  private val cosine: Column =
    VectorOps.dot(col("pv"), col("v")) / (col("pnrm") * col("nrm"))

  /** The `k` first rows per probe under `order`, numbered 1.. in `rank`: a
    * `row_number` window that `TopKWindowRewrite` plans on the native
    * bounded-heap TopKPerKey operator (≤ k rows per probe and input
    * partition cross the exchange). The family's one ranking spelling.
    */
  private def topPerProbe(df: DataFrame, k: Int, rank: String, order: Column*): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy("probe_id").orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** Top `k` per probe by cosine, ties to the lower vec_id, as `rnk`. */
  private def topByCosine(scored: DataFrame, k: Int): DataFrame =
    topPerProbe(scored, k, "rnk", col("cs").desc, col("vec_id"))

  /** The shared tail of q40/q41/q59: (probe_id, rnk, vec_id, cs) in order. */
  private def ranking(top: DataFrame): DataFrame =
    top.select(col("probe_id"), col("rnk"), col("vec_id"), round(col("cs"), 4).as("cs"))
      .orderBy("probe_id", "rnk")

  /** The exact verification step every ANN index ends in (the
    * candidate/verify split): candidate rows (probe_id, vec_id, …) fetch
    * the float vectors of both sides, score the shared cosine and keep the
    * top `k` per probe. Candidates are |probes|·(index fan-out) rows, so
    * they broadcast onto the corpus and the fetch is a map-side lookup,
    * never a shuffle of the corpus.
    */
  private def rerank(spark: SparkSession, dir: String, cands: DataFrame, k: Int): DataFrame =
    topByCosine(corpus(spark, dir).join(broadcast(cands), "vec_id")
      .join(broadcast(probes(spark, dir)), "probe_id")
      .select(cands.columns.map(col) :+ cosine.as("cs"): _*), k)

  /** q40 (also registered as q74 and q95) — brute-force cosine top-5 per
    * probe: every probe × corpus vector scored (the probe table
    * broadcasts, the corpus streams), ranked by the window that plans on
    * TopKPerKey, so the only shuffle carries ≤ 5 rows per probe and input
    * partition. The ground truth of the recall evaluators.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame =
    ranking(topByCosine(corpus(spark, dir)
      .join(broadcast(probes(spark, dir)), col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"), cosine.as("cs")), 5))

  /** ANN via random-hyperplane LSH: 16 sign bits per vector, banded 4 × 4
    * bits; probe and corpus rows meet only inside shared band buckets
    * (groupable join on the band key — never all-pairs), candidates are then
    * exactly re-scored and top-5 ranked. Approximate by design: recall is
    * 1−∏(1−p⁴) per band with p = 1−θ/π; the oracle mirrors the banding
    * literally, so correctness of the *computation* is still exact.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
      .withColumn("planes", typedlit(planes.map(_.map(_.toDouble).toSeq).toSeq))
      .withColumn("bits", expr(
        "transform(planes, p -> CASE WHEN aggregate(zip_with(v, p, (x, y) -> x * y), 0D, (acc, s) -> acc + s) > 0 THEN 1 ELSE 0 END)"))
    val bands = e.select(col("vec_id"),
      explode(array((0 until 4).map(g => concat_ws(":", lit(g),
        expr(s"array_join(transform(slice(bits, ${g * 4 + 1}, 4), x -> cast(x as string)), '')"))): _*))
        .as("band"))
    val candIds = bands.as("p")
      .join(bands.as("c"), col("p.band") === col("c.band") &&
                           isProbe(col("p.vec_id")) && col("c.vec_id") =!= col("p.vec_id"))
      .select(col("p.vec_id").as("probe_id"), col("c.vec_id").as("vec_id"))
      .distinct()
    ranking(rerank(spark, dir, candIds, 5))
  }

  // ---- IVF shared pipeline: ONE definition of the coarse-quantizer
  // convention (16 fixed centroids = vec_id < 16, cosine assignment,
  // argmax tie-break by cent_id) used by q59/q131/q132, so its consumers
  // cannot drift apart.

  /** Cosine of every corpus vector to each of the 16 coarse centroids,
    * carrying the vector and centroid columns so downstream consumers can
    * form residuals. Centroids broadcast; one streamed pass.
    */
  private def centroidSims(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val cents = e.filter(col("vec_id") < 16).toDF("cent_id", "cv", "cnrm")
    e.crossJoin(broadcast(cents))
      .withColumn("csim", VectorOps.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
  }

  private val wAssign =
    Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))

  /** Nearest-centroid assignment with all vector columns retained: the
    * shared substrate of the whole IVF family (q59 search, q131 SemDeDup,
    * q132 IVF-PQ) — a production pipeline quantizes the corpus once, not
    * once per consumer.
    * Spelled as a `max_by` aggregation, NOT a row_number window: partial
    * aggregation collapses the 16 candidate rows per vector map-side, so
    * the exchange carries one row per vector instead of 16 — at corpus
    * scale that is a 16× smaller shuffle for the same argmax (comparison
    * on (csim, −cent_id) reproduces the window's csim DESC, cent_id ASC
    * tie-break exactly; cent_id is unique per group, so the order is
    * total and the pick deterministic). Parquet: the row carries two
    * 64-dim arrays.
    */
  private[queries] def ivfAssignFull(spark: SparkSession, dir: String): DataFrame =
    Substrates.parquet(spark, dir, "similarity/assign") {
      centroidSims(spark, dir)
        .groupBy(col("vec_id"))
        .agg(max_by(
          struct(col("cent_id"), col("cv"), col("cnrm"), col("v"), col("nrm")),
          struct(col("csim"), (-col("cent_id")).as("tb"))).as("w"))
        .select(col("vec_id"), col("w.cent_id"), col("w.cv"), col("w.cnrm"),
                col("w.v"), col("w.nrm"))
    }

  /** ANN via IVF (inverted-file) bucketing — the second scale path: the
    * corpus is assigned to its nearest of 16 fixed centroids (here: the
    * vectors with vec_id < 16, deterministic across engines; production
    * would train k-means once offline), each probe searches only its
    * nprobe=4 nearest centroid buckets. Assignment is one broadcast pass
    * over the corpus; search touches ~nprobe/16 of the data.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssignFull(spark, dir).select(col("vec_id"), col("cent_id"))
    val probeBuckets = centroidSims(spark, dir).filter(isProbe(col("vec_id")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= 4).select(col("vec_id").as("probe_id"), col("cent_id"))
    val candIds = probeBuckets.join(assign, "cent_id")
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    ranking(rerank(spark, dir, candIds, 5))
  }

  /** Per-label centroid via the typed `Aggregator` (partial-aggregated:
    * only (sum, count) crosses the shuffle), exploded to (label, pos, val)
    * rows for engine-independent comparison.
    */
  def labelCentroid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = embeddings(spark, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .as[(Int, Seq[Double])]
    ds.groupByKey(_._1)
      .agg(CentroidAggregator.centroid[(Int, Seq[Double])](_._2)
        .toColumn.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "cval")))
      .select(col("label"), col("pos"), round(col("cval"), 4).as("cval"))
      .orderBy("label", "pos")
  }

  /** L2-normalize + symmetric int8 quantization — the embedding-prep step a
    * training pipeline runs before shipping vectors to an index or a model.
    * After dividing by the L2 norm every component is in [-1, 1], so
    * `floor(x·127 + 0.5)` (round-half-up spelled with floor: floor is exact
    * on doubles in BOTH engines, unlike round(), whose half-tie rule
    * differs) lands in [-127, 127]. Emits the quantized vector plus scalar
    * summaries. Pure per-row array HOFs — codegen'd, no shuffle except the
    * final sort; at 100 TB this is a map-only pass.
    *
    * The vector itself is emitted as a comma-joined string: the driver's
    * compare hashes scalar cells (array cells are unhashable on its pandas
    * path — CORRECTNESS_r04 q80), and a canonical string is an
    * engine-portable encoding of the same 64 values.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .withColumn("q",
        expr("transform(v, x -> CAST(floor(x / nrm * 127.0 + 0.5) AS BIGINT))"))
      .select(col("vec_id"),
        expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')").as("q_str"),
        array_min(col("q")).as("qmin"), array_max(col("q")).as("qmax"),
        expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("qsum"))
      .orderBy("vec_id")

  /** q199 — scalar-quantization (SQ8) search with exact float re-rank: the
    * FAISS-SQ serving recipe, completing the vector-compression search
    * family next to PQ ADC (q117) and IVF-PQ (q132). Codes are q80's
    * symmetric int8 quantization; the WIDE pass scores probe×corpus with
    * the INTEGER code dot product — exact arithmetic in both engines, so
    * unlike every float-ADC member the candidate ranking is hash-exact with
    * no rounding games — and keeps top-32 per probe through the native
    * bounded-heap TopKPerKey operator. Only those 32 rows per probe fetch
    * their float vectors for the shared exact re-rank. At 100 TB this is the
    * point: the corpus-sized scan touches 1 byte/dim codes (4-8× less I/O
    * and memory than the float vectors) plus a broadcast probe table, and
    * full-precision data is read for |probes|·32 rows only.
    */
  def sq8Rerank(spark: SparkSession, dir: String): DataFrame = {
    val codes = corpus(spark, dir).select(col("vec_id"),
      expr("transform(v, x -> CAST(floor(x / nrm * 127.0 + 0.5) AS BIGINT))").as("q"))
    val pq = codes.filter(isProbe(col("vec_id"))).toDF("probe_id", "pq")
    val scored = codes.join(broadcast(pq), col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("aggregate(zip_with(pq, q, (a, b) -> a * b), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("iscore"))
    val cand = topPerProbe(scored, 32, "irnk", col("iscore").desc, col("vec_id"))
      .select("probe_id", "vec_id", "iscore")
    rerank(spark, dir, cand, 5)
      .select(col("probe_id"), col("rnk"), col("vec_id"), col("iscore"),
        round(col("cs"), 4).as("cs"))
      .orderBy("probe_id", "rnk")
  }

  /** Recall@5 of the LSH ANN path against the brute-force ground truth —
    * the evaluation loop every ANN deployment runs before trusting an
    * index. Both sides are whole engine queries (q40's exact ranking, q41's
    * banded candidates); the join is per-(probe, neighbor), so at scale
    * this costs one broadcast of the probe-bounded truth set, never a
    * corpus-sized shuffle. Integers end-to-end (hit counts), so the oracle
    * hash is exact — no float tolerance games.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallAt5(cosineTopK(spark, dir), annLsh(spark, dir))

  /** Per probe of the (probe_id, vec_id) top-5 `truth`: how many of its
    * neighbors `approx` found (n_hit) and n_hit / 5 (recall) — the tail of
    * every ANN recall evaluator.
    */
  private def recallAt5(truth: DataFrame, approx: DataFrame): DataFrame = {
    val brute = truth.select(col("probe_id"), col("vec_id"))
    val hits = brute
      .join(approx.select(col("probe_id"), col("vec_id")), Seq("probe_id", "vec_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    brute.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0, 2).as("recall"))
      .orderBy("probe_id")
  }

  /** Product-quantization codes — the compression step under
    * billion-vector ANN indexes (Jégou et al., PQ, TPAMI 2011): each
    * 64-dim vector splits into 8 blocks of 8 dims; each block is coded as
    * the id of its nearest sub-centroid (16 per block, deterministically
    * fixed as the blocks of vec_id < 16 — the q59 convention; production
    * trains them offline). The codebook is broadcast (16×8 tiny rows); the
    * corpus streams through block explode → broadcast join → argmin, so at
    * 100 TB the coding pass is map-side only. Squared-L2 is an ordered
    * HOF fold, spelled identically in the oracle.
    */
  // ---- PQ shared pipeline: ONE definition of the codebook convention
  // (8 blocks × 8 dims, sub-centroids = vec_id < 16, argmin tie-break by
  // code) used by q116/q117/q120, so its consumers cannot drift apart.

  /** (vec_id, block 0..7, vb): 8-dim sub-blocks of every vector. */
  private def pqBlocks(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 7), b -> slice(v, b*8 + 1, 8))")).as(Seq("block", "vb")))

  /** Squared-L2 between a block and a sub-centroid — ordered HOF fold. */
  private val pqSqdist = expr(
    "aggregate(zip_with(vb, cb, (x, y) -> (x - y) * (x - y)), 0D, (a, s) -> a + s)")

  /** Distance of every `rows` block to every same-block sub-centroid; the
    * codebook always comes from `codebookSource` (vec_id < 16), passed
    * separately so a pre-filtered probe set can't silently shrink it. */
  private def pqDists(rows: DataFrame, codebookSource: DataFrame): DataFrame = {
    val cents = codebookSource.filter(col("vec_id") < 16)
      .select(col("vec_id").as("code"), col("block"), col("vb").as("cb"))
    rows.join(broadcast(cents), Seq("block")).withColumn("dist", pqSqdist)
  }

  /** Nearest-centroid assignment: (vec_id, block, code, dist). */
  private def pqAssign(dists: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "block").orderBy(col("dist"), col("code"))
    dists.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("block"), col("code"), col("dist"))
  }

  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val blocks = pqBlocks(spark, dir)
    pqAssign(pqDists(blocks.filter(col("vec_id") < 200), blocks))
      .select(col("vec_id"), col("block"), col("code"),
              round(col("dist"), 6).as("dist"))
      .orderBy("vec_id", "block")
  }

  /** PQ asymmetric-distance search (ADC) over the q116 codes — how a
    * billion-vector index actually answers queries: each probe precomputes
    * an 8×16 table of block-distances to every sub-centroid, and a
    * candidate's approximate distance is the sum of 8 TABLE LOOKUPS (its
    * codes), never a full 64-dim computation. Here: corpus codes (map-side
    * argmin, as q116) ⋈ broadcast probe tables on (block, code), then the
    * 8 per-block terms land in separate conditional-sum columns so the
    * final addition runs in FIXED block order — a groupBy sum's
    * merge order is partition-dependent, which would let two engines (or
    * two runs) disagree in the last ulp and flip rankings. Top-5 smallest
    * ADC per probe.
    */
  def pqAdc(spark: SparkSession, dir: String): DataFrame = {
    val blocks = pqBlocks(spark, dir)
    val codes = pqAssign(pqDists(blocks, blocks)).select("vec_id", "block", "code")
    val ptab = pqDists(blocks.filter(isProbe(col("vec_id"))), blocks)
      .select(col("vec_id").as("probe_id"), col("block"), col("code"),
              col("dist").as("t"))
    val perBlock = (0 to 7).map(b =>
      sum(when(col("block") === b, col("t"))).as(s"b$b"))
    val adc = (1 to 7).foldLeft(col("b0")) { (acc, b) => acc + col(s"b$b") }
    topPerProbe(codes.join(broadcast(ptab), Seq("block", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(perBlock.head, perBlock.tail: _*)
      .withColumn("adc", adc), 5, "rnk", col("adc"), col("vec_id"))
      .select(col("probe_id"), col("rnk"), col("vec_id"), round(col("adc"), 4).as("adc"))
      .orderBy("probe_id", "rnk")
  }

  /** Recall@5 of PQ-ADC search against brute-force squared-L2 ground truth
    * — the q108 evaluation pattern applied to the second ANN path, closing
    * the PQ loop (codes → search → measured quality). Integer hit counts
    * end-to-end.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val bruteTop = topPerProbe(corpus(spark, dir)
      .join(broadcast(probes(spark, dir)), col("probe_id") =!= col("vec_id"))
      .withColumn("d", expr(
        "aggregate(zip_with(pv, v, (x, y) -> (x - y) * (x - y)), 0D, (a, s) -> a + s)")),
      5, "rnk", col("d"), col("vec_id"))
    recallAt5(bruteTop, pqAdc(spark, dir))
  }

  /** SemDeDup's per-bucket population cap: any coarse cluster larger than
    * this is split into ceil(size/cap) sub-buckets by `vec_id % nsub`
    * before pairing, so per-bucket candidate pairs stay O(cap²) no matter
    * how big the corpus (or how skewed a cluster) gets — without it the
    * biggest cluster is ~n/16 and the pair join quadratic in n. Set
    * deliberately small (16) so the split path is EXERCISED at test scale;
    * production would size it in the thousands. The trade is recall, not
    * correctness: duplicates landing in different sub-buckets of one
    * cluster are missed — the same knob as raising k in the coarse
    * k-means, and the oracle applies the identical split.
    */
  val semDeDupCap: Int = 16

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): drop any vector whose
    * cosine to a LOWER-id vector in the SAME coarse bucket is ≥ 0.35 —
    * the embedding-space near-duplicate pass modern LLM corpora run after
    * exact/minhash text dedup. Pair generation is restricted to within a
    * bucket: the q59 cluster assignment, sub-split by `semDeDupCap` so no
    * bucket's pair count is quadratic in the corpus. The bucket-size join
    * is a broadcast (≤16 rows), the pair join is keyed (cent_id, sub) —
    * nothing here is an all-pairs join over the corpus, and per-bucket
    * work is bounded by the cap. Emits each dropped vector with its keeper
    * (min lower similar id) and the max in-bucket similarity (max over
    * doubles is exact, so round(4) is engine-stable).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssignFull(spark, dir)
      .select(col("vec_id"), col("cent_id"), col("v"), col("nrm"))
    val nsub = assign.groupBy("cent_id")
      .agg(ceil(count(lit(1)) / semDeDupCap.toDouble).cast("long").as("nsub"))
    val withVec = assign.join(broadcast(nsub), "cent_id")
      .withColumn("sub", col("vec_id") % col("nsub"))
    withVec.as("a").join(withVec.as("b"),
        col("a.cent_id") === col("b.cent_id") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cs",
        VectorOps.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cs") >= 0.35)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("dup_of"), round(max(col("cs")), 4).as("max_cs"))
      .orderBy("vec_id")
  }

  /** IVF-PQ with residual encoding + ADC search — the composition under
    * billion-vector indexes (FAISS IVFPQ; Jégou et al. 2011 §III): each
    * vector is coarse-quantized to its nearest centroid (q59 convention),
    * the RESIDUAL v − c is product-quantized (8 blocks × 16 sub-centroids,
    * deterministically the residual blocks of vec_id ∈ [16, 32)), and a
    * probe searches its nprobe=4 buckets by precomputing, per bucket, the
    * 8×16 table of distances from ITS residual in that bucket to every
    * sub-centroid — a candidate costs 8 table lookups. Coding is map-side
    * (codebook broadcast); the search join is keyed (cent_id, block, code)
    * against a broadcast probe table; per-block terms land in conditional
    * sum columns so the final addition runs in fixed block order (the q117
    * determinism rule). Residuals concentrate near zero, which is why
    * IVF-PQ beats flat PQ at equal bits — q132's ADC ≈ true distance far
    * tighter than q117's.
    */
  def ivfPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val full = ivfAssignFull(spark, dir)
    val resid = full.withColumn("r", expr("zip_with(v, cv, (x, y) -> x - y)"))
      .select(col("vec_id"), col("cent_id"), col("r"))
    val rblocks = resid.select(col("vec_id"), col("cent_id"), posexplode(expr(
      "transform(sequence(0, 7), b -> slice(r, b*8 + 1, 8))")).as(Seq("block", "vb")))
    val rcents = rblocks.filter(col("vec_id") >= 16 && col("vec_id") < 32)
      .select(col("vec_id").as("code"), col("block"), col("vb").as("cb"))
    val rdists = rblocks.join(broadcast(rcents), Seq("block")).withColumn("dist", pqSqdist)
    val wCode = Window.partitionBy("vec_id", "block").orderBy(col("dist"), col("code"))
    val codes = rdists.withColumn("rn", row_number().over(wCode)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id"), col("block"), col("code"))
    val pb = centroidSims(spark, dir).filter(isProbe(col("vec_id")))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") <= 4)
      .select(col("vec_id").as("probe_id"), col("cent_id"),
              expr("zip_with(v, cv, (x, y) -> x - y)").as("r"))
    val pblocks = pb.select(col("probe_id"), col("cent_id"), posexplode(expr(
      "transform(sequence(0, 7), b -> slice(r, b*8 + 1, 8))")).as(Seq("block", "vb")))
    val ptab = pblocks.join(broadcast(rcents), Seq("block"))
      .withColumn("t", pqSqdist)
      .select(col("probe_id"), col("cent_id"), col("block"), col("code"), col("t"))
    val perBlock = (0 to 7).map(b => sum(when(col("block") === b, col("t"))).as(s"b$b"))
    val adcSum = (1 to 7).foldLeft(col("b0")) { (acc, b) => acc + col(s"b$b") }
    topPerProbe(codes.join(broadcast(ptab), Seq("cent_id", "block", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(perBlock.head, perBlock.tail: _*)
      .withColumn("adc", adcSum), 5, "rnk", col("adc"), col("vec_id"))
      .select(col("probe_id"), col("rnk"), col("vec_id"), round(col("adc"), 4).as("adc"))
      .orderBy("probe_id", "rnk")
  }

  /** Reciprocal rank of the TRUE nearest neighbor within the LSH ANN top-5
    * — the MRR companion to recall@5 (q108): recall says how much of the
    * top-5 the index keeps, RR says where the single most important result
    * lands. found_rank = 0 and rr = 0 when the index misses the true NN
    * entirely. Ranks are integers and 1/rank divides the same doubles in
    * both engines, so round(4) is engine-stable (no transcendentals).
    */
  def annMrr(spark: SparkSession, dir: String): DataFrame = {
    val truth = cosineTopK(spark, dir).filter(col("rnk") === 1)
      .select(col("probe_id"), col("vec_id").as("true_nn"))
    val ann = annLsh(spark, dir)
      .select(col("probe_id"), col("rnk").as("found_rank"), col("vec_id"))
    truth.join(ann,
        truth("probe_id") === ann("probe_id") && col("vec_id") === col("true_nn"),
        "left")
      .select(truth("probe_id"), col("true_nn"),
        coalesce(col("found_rank"), lit(0)).as("found_rank"),
        round(when(col("found_rank").isNotNull,
          lit(1.0) / col("found_rank")).otherwise(lit(0.0)), 4).as("rr"))
      .orderBy("probe_id")
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * probe, the top-3 most-similar corpus vectors with a DIFFERENT label
    * (the examples a metric-learning / embedding-model trainer pairs with
    * the anchor to sharpen decision boundaries; easy negatives teach
    * nothing). Same bounded shape as q40: probes broadcast, corpus streams,
    * one per-probe ranking — the label predicate rides the join, so
    * same-label rows never reach the ranker. At 100 TB the exact ranking
    * swaps for the q41/q59 candidate generators unchanged.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val lab = embeddings(spark, dir).select(col("vec_id"), col("label"))
    val e = corpus(spark, dir).join(lab, "vec_id")
    val labeled = e.filter(isProbe(col("vec_id")))
      .toDF("probe_id", "pv", "pnrm", "p_label")
    topByCosine(e.join(broadcast(labeled), col("label") =!= col("p_label"))
      .withColumn("cs", cosine), 3)
      .select(col("probe_id"), col("rnk"), col("vec_id"), col("label"),
              round(col("cs"), 4).as("cs"))
      .orderBy("probe_id", "rnk")
  }

  /** Semantic decontamination — the embedding-space companion to q84's
    * n-gram overlap test (the second line of defense every LLM pipeline
    * runs: paraphrased or translated benchmark leakage shares no shingles
    * but lands next to the eval set in embedding space). Eval set =
    * vec_id < 20 (eval suites are bounded → broadcast); every training
    * vector scores against it and is flagged when any cosine ≥ 0.25,
    * reporting hit count and the closest eval item. Per-row work is
    * |eval| dot products with the corpus streaming map-side — linear in
    * corpus size at 100 TB, no shuffle but the per-doc window over the
    * (sparse) flagged rows. At extreme eval-set sizes the exact scoring
    * swaps for the q41/q59 candidate generators unchanged.
    */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val eval = e.filter(col("vec_id") < 20).toDF("eval_id", "ev", "enrm")
    val w = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("eval_id"))
    e.filter(col("vec_id") >= 20)
      .join(broadcast(eval), col("vec_id") =!= col("eval_id"))
      .withColumn("cs", VectorOps.dot(col("v"), col("ev")) / (col("nrm") * col("enrm")))
      .filter(col("cs") >= 0.25)
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_hits", count(lit(1)).over(Window.partitionBy("vec_id")))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("n_hits"),
              col("eval_id").as("best_eval_id"), round(col("cs"), 4).as("best_cs"))
      .orderBy("vec_id")
  }

  /** Embedding-health report — the monitoring query a vector pipeline runs
    * after every ingest: per-label count and norm profile (mean/min/max/
    * stddev). A collapsed encoder, a normalization bug, or a bad batch
    * shows up as a shifted norm distribution before any retrieval metric
    * moves. One scan + one grouped agg; norms are irrational (sqrt), so
    * rounded means never sit on decimal halves (the q121 hazard class).
    */
  def embedStats(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("label"),
        sqrt(VectorOps.dot(col("embedding").cast("array<double>"),
                           col("embedding").cast("array<double>"))).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
           round(avg("nrm"), 4).as("avg_nrm"),
           round(min("nrm"), 4).as("min_nrm"),
           round(max("nrm"), 4).as("max_nrm"),
           round(stddev_samp(col("nrm")), 4).as("sd_nrm"))
      .orderBy("label")

  // ---------------------------------------------------------------- q146
  // Deterministic distributed k-means (Lloyd's algorithm) — the operator
  // that would TRAIN the coarse centroids the IVF family (q59/q131/q132)
  // consumes as fixed conventions. The reference's reduce phase is
  // arbitrary per-key client code (MapReduceClient.h:61-65); iterative
  // refinement like Lloyd's is the canonical workload built on top of it,
  // and the canonical curation primitive (SemDeDup's clustering stage).
  //
  // Cross-engine exactness (the q107 fixed-point playbook, taken further —
  // here the ENTIRE loop is integer):
  //   * every embedding is quantized once to a 1e-6 grid: floor(x·1e6) as
  //     long (one IEEE multiply + exact floor — identical in both engines);
  //   * distances are integer squared-L2 (max |q| ≈ 3e5 ⇒ 64·(6e5)² ≈
  //     2.3e13 ≪ 2⁶³ — no overflow at any corpus scale);
  //   * the centroid update is the floor of the per-dimension mean,
  //     computed as floor(double(sum)/count): component sums stay below
  //     2⁵³ up to ~10⁹ vectors, so the division is exact-input IEEE and
  //     the floor deterministic;
  //   * seeds are the k vectors minimizing md5(vec_id) — deterministic,
  //     data-independent of insertion order (k-means‖ would be the
  //     production seeding; hash-min is its engine-comparable stand-in).
  //
  // Scale shape: each assignment pass is MAP-ONLY — the k centroids are
  // driver-known constants per round, folded into the plan as literal
  // vectors, so the per-row argmin is a codegen'd struct-min with zero
  // join and zero shuffle (r8; previously a crossJoin + per-pass
  // re-aggregation). The update is a posexplode + two-level aggregation —
  // shuffle carries k·64 partial sums per partition, never vectors.
  // Centroids are collected to the driver between rounds (k rows — the
  // same bounded per-round driver scalar convention as the q62/q107/q130
  // loops, and exactly what Spark MLlib's KMeans does with its broadcast
  // centroid array).
  private val kmeansK = 8

  // Lloyd runs TO CONVERGENCE (centroids stable), capped at 8 assignment
  // passes. The cap is what makes the loop oracle-expressible: Lloyd is
  // idempotent at its fixpoint (stable centroids reproduce the same
  // assignment, which reproduces the same centroids), so an oracle that
  // unrolls all 8 passes computes the identical result whether the engine
  // stopped early at round r < 8 or ran the full 8 — extra unrolled passes
  // are the identity. Convergence is detected driver-side for FREE: the
  // centroid update is already collected per round (k·64 longs), so the
  // stop test is an array compare, no extra Spark job — the reference's
  // own run-until-empty reduce-loop convention (MapReduceFramework
  // .cpp:241-268) at bounded driver cost.
  private[queries] val kmeansMaxRounds = 8

  /** (d, cent_id) struct-minimum over driver-known centroids folded into
    * the plan as literal vectors — the engine's one argmin spelling, shared
    * by the trainer's assignment passes and the incremental-ingest path so
    * the index and its ingest can never disagree about the metric. The
    * array_min form evaluates each distance exactly once per row (a
    * when-chain reduce would duplicate the distance subtrees 3^k-fold).
    * Struct order = (d, then cent_id), the oracle's row_number tie-break.
    */
  private def centroidArgmin(cents: Array[Seq[Long]]): Column =
    array_min(array(cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct(VectorOps.l2sq(col("v"), typedLit(c)).as("d"),
             lit(i).as("cent_id"))
    }: _*))

  // Trained Lloyd state — the final assignment (vec_id, v, cent_id, d)
  // plus the converged centroid table: training runs ONCE and its consumers
  // share it (q146 reports on it; q156 searches with it — the train→index
  // handoff).
  private[queries] def kmeansTrained(
      spark: SparkSession, dir: String): (DataFrame, Array[Seq[Long]]) =
    Substrates.memo(spark, dir, "similarity/kmeans") {
      import spark.implicits._
      val qv = embeddings(spark, dir)
        .repartition(col("vec_id"))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1e6)).cast("long")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var cents: Array[Seq[Long]] = qv
        .withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy(col("h"), col("vec_id")).limit(kmeansK)
        .select(col("v")).as[Seq[Long]].collect()
      var assign: DataFrame = null
      var converged = false
      var r = 1
      while (r <= kmeansMaxRounds && !converged) {
        // Map-only assignment pass: no crossJoin row blow-up, no per-pass
        // (vec_id, v) re-shuffle — see centroidArgmin.
        assign = qv
          .withColumn("m", centroidArgmin(cents))
          .select(col("vec_id"), col("v"),
            col("m.cent_id").as("cent_id"), col("m.d").as("d"))
        if (r < kmeansMaxRounds) {
          // Per-dimension floor-mean; clusters that lost every member keep
          // their previous centroid (deterministic, mirrored in the oracle).
          val upd = assign
            .select(col("cent_id"), posexplode(col("v")).as(Seq("dim", "x")))
            .groupBy(col("cent_id"), col("dim"))
            .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
              .cast("long").as("cv"))
            .as[(Int, Int, Long)].collect()
            .groupBy(_._1).map { case (cid, rs) =>
              cid -> rs.sortBy(_._2).map(_._3).toSeq }
          val next = Array.tabulate(kmeansK)(i => upd.getOrElse(i, cents(i)))
          // Stable centroids ⇒ the next pass would reproduce `assign`
          // verbatim — stop here; the oracle's remaining unrolled passes
          // are the identity on this state.
          converged = next.sameElements(cents)
          cents = next
        }
        r += 1
      }
      // localCheckpoint (eager) materializes the assignment and truncates
      // its lineage off qv, so qv's storage can be released immediately.
      val mat = assign.localCheckpoint()
      qv.unpersist(blocking = false)
      (mat, cents)
    } {
      // Dropping the entry alone would free the checkpoint's blocks only via
      // GC + ContextCleaner, at some later point: unpersist them explicitly.
      case (mat, _) => org.apache.spark.sql.GraftSqlBridge.unpersistCheckpointed(mat)
    }

  def kmeansLloyd(spark: SparkSession, dir: String): DataFrame =
    kmeansTrained(spark, dir)._1
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("inertia_q"))
      .orderBy("cent_id")

  /** q156 — IVF search with TRAINED centroids: the production train→index
    * handoff the fixed-centroid family (q59/q131/q132) deliberately stubs
    * with a convention. The inverted lists ARE the q146 assignment (already
    * materialized by the shared trainer — quantizing the corpus once, like
    * FAISS building an IVF index from a trained quantizer); each probe
    * (vec_id < 10) ranks the k=8 trained centroids by the SAME integer
    * squared-L2 metric the trainer used and searches its nprobe=2 nearest
    * lists; candidates score with that metric too. Integer end-to-end on
    * the q146 1e-6 grid, so the oracle — which re-unrolls the full Lloyd
    * round cap and replays the assignment — is hash-exact. Scale shape: the
    * probe→bucket table is broadcast (|probes|·nprobe rows), candidates
    * stream from the bucketed assignment, top-5 via a per-probe window
    * over candidate rows only.
    */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val (assign, cents) = kmeansTrained(spark, dir)
    import spark.implicits._
    val centDf = cents.toSeq.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cent_id", "c")
    val probeBuckets = topPerProbe(assign.filter(isProbe(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      .crossJoin(broadcast(centDf))
      .withColumn("pd", VectorOps.l2sq(col("pv"), col("c"))), 2, "rn", col("pd"), col("cent_id"))
      .select("probe_id", "pv", "cent_id")
    topPerProbe(assign.select(col("vec_id"), col("v"), col("cent_id"))
      .join(broadcast(probeBuckets), "cent_id")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("d2", VectorOps.l2sq(col("pv"), col("v"))), 5, "rnk", col("d2"), col("vec_id"))
      .select(col("probe_id"), col("rnk"), col("vec_id"), col("d2"))
      .orderBy("probe_id", "rnk")
  }

  /** q160 — hybrid retrieval fusion: the production search stack's final
    * step, fusing a LEXICAL ranker (shared rare-shingle overlap with the
    * probe document, riding the df≤100-capped q36 inverted index — the
    * BM25-class signal) with a DENSE ranker (integer squared-L2 on the
    * q146 1e-6 grid against broadcast probes — the embedding signal) by
    * truncated Borda count: each ranker contributes (K−rank+1) points for
    * its top-K=16, 0 beyond, and the fused top-5 per probe is returned.
    * Rank fusion over integer scores (not RRF's 1/(60+r) floats) keeps the
    * whole query transcendental-free and hash-exact. All three per-probe
    * top-K cuts are `topPerProbe` windows planned on the native
    * TopKPerKey partial/final pair — no corpus-sized window partition
    * anywhere.
    * Scale shape: lexical work ∝ capped posting lists; dense work = one
    * corpus scan against a broadcast ≤10-row probe set (the q39-class
    * bounded build); fusion joins two ≤(K·probes)-row lists.
    */
  def hybridFusion(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val qv = embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long")).as("v"))
    val pq = qv.filter(isProbe(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val denseAll = qv.crossJoin(broadcast(pq))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("doc_id"),
              VectorOps.l2sq(col("pv"), col("v")).as("d2"))
    val dense = topPerProbe(denseAll, K, "dr", col("d2"), col("doc_id"))
      .select(col("probe_id"), col("doc_id"),
              (lit(K + 1) - col("dr")).cast("long").as("ds"))
    val allSh = Dedup.shingleStrings(spark, dir)
    val rare = allSh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 100).select("s")
    val idx = allSh.join(rare, "s")
    val probeSh = idx.filter(isProbe(col("doc_id")))
      .select(col("doc_id").as("probe_id"), col("s"))
    val overlap = idx.join(probeSh, "s")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id").agg(count(lit(1)).as("ov"))
    val lex = topPerProbe(overlap, K, "lr", col("ov").desc, col("doc_id"))
      .select(col("probe_id"), col("doc_id"),
              (lit(K + 1) - col("lr")).cast("long").as("ls"))
    val fused = dense.join(lex, Seq("probe_id", "doc_id"), "full")
      .select(col("probe_id"), col("doc_id"),
        (coalesce(col("ds"), lit(0L)) + coalesce(col("ls"), lit(0L))).as("borda"))
    topPerProbe(fused, 5, "rnk", col("borda").desc, col("doc_id"))
      .select(col("probe_id"), col("rnk"), col("doc_id"), col("borda"))
      .orderBy("probe_id", "rnk")
  }

  /** q165 — incremental index ingest: newly-arriving vectors (the
    * deterministic md5-prefix batch, q148's arrival convention applied to
    * the vector side) are assigned to the EXISTING trained IVF index —
    * q146's converged centroids — without retraining: the production
    * steady-state where training is periodic but ingest is continuous.
    * Completes the vector lifecycle train (q146) → search (q156) →
    * incremental ingest (here), mirroring the text side's standing-index
    * probe (q148). Map-only at any scale: the k centroids ride the plan as
    * literals (the trainer's own argmin spelling), so a batch of any size
    * is one scan with zero shuffle before the output sort.
    */
  def annIncrementalAssign(spark: SparkSession, dir: String): DataFrame = {
    val cents = kmeansTrained(spark, dir)._2
    val batch = embeddings(spark, dir)
      .filter(substring(md5(col("vec_id").cast("string")), 1, 1) === "a")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long")).as("v"))
    batch
      .withColumn("m", centroidArgmin(cents))
      .select(col("vec_id"), col("m.cent_id").as("cent_id"), col("m.d").as("d2"))
      .orderBy("vec_id")
  }

  // ---- q192/q193: graph ANN (HNSW-class deterministic small-world) ----

  /** Out-degree cap per layer, candidate buckets per node, and the beam
    * schedule (layer, beam width, hops) from top layer to base. One
    * definition shared by the builder, the JVM search and the generated
    * oracle SQL so the three cannot drift.
    */
  private val hnswM = 8
  // Candidate buckets per node WIDEN with the layer (2/4/8 for layers
  // 0/1/2): upper layers exist to provide LONG-RANGE routing, and a node
  // population 8× sparser can afford an assignment 2× wider — this is what
  // keeps the sparse layers connected ACROSS coarse-bucket boundaries
  // (with same-width buckets everywhere, a probe whose true neighborhood
  // sits outside the entry trajectory's bucket is unreachable; measured
  // +0.76→≥IVF recall at sf0.1). Budget stays bounded: layer-ℓ candidate
  // pairs are (N/8^ℓ) × bucket-mates, never all-pairs.
  private val hnswBucketsSql = "CASE layer WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 8 END"
  private val hnswSchedule = Seq((2, 1, 1), (1, 3, 2), (0, 10, 4))
  /** Per-(layer, centroid) bucket cap for candidate generation — the
    * q131 SemDeDup rule: buckets above the cap split into ceil(n/cap)
    * id-mod sub-buckets, so per-bucket pair work is O(cap²) at ANY corpus
    * size (with a fixed centroid count, bucket population grows linearly
    * with the corpus and uncapped pairing would be quadratic — the real
    * deployment also grows the codebook ~√N, this bounds the worst case
    * either way). Inactive at the graded SFs (largest bucket ≈ 250), so
    * the cap changes no gated result; SimilaritySpec forces a tiny cap to
    * drive the split path.
    */
  private[queries] val hnswBucketCap: Int = 400

  /** Layer assignment — the HNSW geometric level draw made DETERMINISTIC
    * and engine-portable: trailing base-8 zeros of the 60-bit md5 of the
    * vec id (P(lvl ≥ k) = 8^-k, the 1/M geometric of the paper), capped at
    * 2. Integer arithmetic end-to-end — no log(), the oracle replays it
    * digit-exactly.
    */
  private def hnswLevels(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).select(col("vec_id"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10) as bigint)"))
      .withColumn("lvl", when(col("h") % 64 === 0, 2)
        .when(col("h") % 8 === 0, 1).otherwise(0))
      .select("vec_id", "lvl")

  /** (layer, src, dst) small-world edges: every node appears on layers
    * 0..lvl; per layer, candidate pairs come from shared coarse-centroid
    * buckets (each node's top-`hnswBuckets` IVF buckets — the same
    * assignment substrate as q59, so construction is bucket-joined, NEVER
    * all-pairs); each node keeps its `hnswM` nearest candidates by cosine
    * and links are symmetrized (the paper's bidirectional insert).
    */
  private[queries] def hnswEdges(spark: SparkSession, dir: String): DataFrame =
    Substrates.memo(spark, dir, "similarity/hnsw") {
      val edges = hnswEdgesCapped(spark, dir, hnswBucketCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      edges.count()  // fill once at build time — every consumer (stats
                     // agg, search collect, specs) then reads cached blocks
      edges
    }(_.unpersist(blocking = false))

  /** Uncached build at an explicit bucket cap — the spec's handle for
    * driving the sub-bucket split path (the default cap is inactive at the
    * shipped SFs by design).
    */
  private[queries] def hnswEdgesCapped(spark: SparkSession, dir: String,
      cap: Int): DataFrame = {
      val nodes = hnswLevels(spark, dir)
        .select(col("vec_id"), explode(expr("sequence(0, lvl)")).as("layer"))
      val b8 = centroidSims(spark, dir)
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") <= 8).select("vec_id", "cent_id", "rn")
      val nb0 = nodes.join(b8, "vec_id")
        .filter(col("rn") <= expr(hnswBucketsSql))
        .select("vec_id", "layer", "cent_id")
      val bcnt = nb0.groupBy("layer", "cent_id")
        .agg(ceil(count(lit(1)) / cap.toDouble).cast("long").as("nsub"))
      val nb = nb0.join(broadcast(bcnt), Seq("layer", "cent_id"))
        .withColumn("sub", col("vec_id") % col("nsub"))
        .select("vec_id", "layer", "cent_id", "sub")
      // Candidate pairs scored ONCE per unordered pair (src < dst) — cosine
      // is bit-commutative (per-element products and the fold order are
      // identical either way), so scoring one orientation halves the work
      // without touching the result or the oracle's per-direction replay.
      // No pre-dedup: a pair sharing two buckets scores to the IDENTICAL
      // (cs, dst) struct, and the top-M aggregation's collect_set merges it
      // — dedupe, ranking and the M-cap all ride ONE exchange (with
      // map-side partial sets) instead of a distinct + window chain.
      val cand = nb.toDF("src", "layer", "cent_id", "sub")
        .join(nb.toDF("dst", "layer", "cent_id", "sub"),
          Seq("layer", "cent_id", "sub"))
        .filter(col("src") < col("dst"))
        .select("layer", "src", "dst").distinct()
      val vecs = corpus(spark, dir)
      // Explicit broadcast: the vector table is index-sized and the cached
      // (InMemoryRelation-fill) execution of this plan runs WITHOUT AQE's
      // runtime broadcast decisions — without the hint the fill pass
      // degraded both scoring joins to sort-merge (measured 3× build cost).
      val scored = cand
        .join(broadcast(vecs.toDF("src", "sv", "snrm")), "src")
        .join(broadcast(vecs.toDF("dst", "dv", "dnrm")), "dst")
        .withColumn("cs",
          VectorOps.dot(col("sv"), col("dv")) / (col("snrm") * col("dnrm")))
        .select("layer", "src", "dst", "cs")
      val oriented = scored.union(scored.select(col("layer"),
        col("dst").as("src"), col("src").as("dst"), col("cs")))
      // Top-M per (layer, src): a row_number window planned on the
      // engine's bounded-heap TopKPerKey operator — per-partition
      // UnsafeRow heaps before the exchange, so the shuffle carries ≤ M
      // rows per (key, partition) and nothing is boxed (a
      // collect_set-of-structs formulation measured ~2 s of object churn
      // on the same input).
      val topm = oriented
        .withColumn("rnk", row_number().over(
          Window.partitionBy("layer", "src").orderBy(col("cs").desc, col("dst"))))
        .filter(col("rnk") <= hnswM)
        .select("layer", "src", "dst")
      topm.union(topm.select(col("layer"), col("dst").as("src"),
          col("src").as("dst"))).distinct()
  }

  /** q192 — construction audit of the graph index: per layer, node count,
    * directed edge count after symmetrization, max out-degree, plus the
    * global entry point (highest layer, min id — the deterministic stand-in
    * for the paper's "first inserted at top level"). The numbers a serving
    * team checks before trusting an index build.
    */
  def hnswStats(spark: SparkSession, dir: String): DataFrame = {
    val nodes = hnswLevels(spark, dir)
      .select(col("vec_id"), explode(expr("sequence(0, lvl)")).as("layer"))
    val perLayer = nodes.groupBy("layer").agg(count(lit(1)).as("n_nodes"))
    val deg = hnswEdges(spark, dir).groupBy("layer", "src")
      .agg(count(lit(1)).as("deg"))
    val eAgg = deg.groupBy("layer")
      .agg(sum("deg").as("n_edges"), max("deg").as("max_deg"))
    val entry = hnswLevels(spark, dir)
      .orderBy(col("lvl").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("entry_id"))
    perLayer.join(eAgg, Seq("layer"), "left")
      .crossJoin(broadcast(entry))
      .select(col("layer"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("max_deg"), lit(0L)).as("max_deg"), col("entry_id"))
      .orderBy("layer")
  }

  /** SQ8 code vectors (TINYINT per dim — q80/q199's symmetric int8
    * quantization, 1 byte/dim in the UnsafeRow layout) — the compact beam-
    * scoring payload of the serving index.
    */
  private def hnswCodes(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).select(col("vec_id"),
      expr("transform(v, x -> CAST(floor(x / nrm * 127.0 + 0.5) AS TINYINT))").as("q"))

  /** The compact serving index: per node, SQ8 codes + adjacency as one
    * list per layer (dense, index = layer). This — not the float vector
    * table — is what broadcasts to executors.
    */
  private def hnswIndex(spark: SparkSession, dir: String): DataFrame = {
    def layerList(l: Int): Column =
      sort_array(collect_list(when(col("layer") === l, col("dst"))))
    val adj = hnswEdges(spark, dir)
      .groupBy(col("src").as("vec_id"))
      .agg(layerList(0).as("a0"), layerList(1).as("a1"), layerList(2).as("a2"))
    val emptyAdj = array().cast("array<bigint>")
    hnswCodes(spark, dir).join(adj, Seq("vec_id"), "left")
      .select(col("vec_id"), col("q"),
        array(coalesce(col("a0"), emptyAdj), coalesce(col("a1"), emptyAdj),
          coalesce(col("a2"), emptyAdj)).as("adj"))
  }

  /** Greedy layered beam search through the native `BeamSearchExec` — the
    * ANN *serving* shape (an index answers queries from worker-local
    * state; q139's broadcast sorted interval index is the same pattern).
    * The COMPACT index (SQ8 codes at 1 byte/dim + adjacency — never the
    * raw float vectors, and never a driver-side collect) reaches executors
    * through a size-guarded BroadcastExchange; probes stream through one
    * map stage, zero shuffles. Beam comparisons are the INTEGER code dot
    * product — exact arithmetic, replayed digit-exactly by the oracle's
    * unrolled SQL (`hnswSchedule` generates both sides, so they cannot
    * drift) — and only the final beam (|probes|·10 rows) fetches float
    * vectors for the exact cosine re-rank, the q199 recipe. At
    * billion-vector scale the index shards per executor group and probes
    * fan out per shard — same operator behind a routing join.
    */
  private def hnswSearch(spark: SparkSession, dir: String): DataFrame = {
    // Entry point (max level, min id): a distributed 1-row reduction, not
    // driver logic — broadcasts onto the bounded probe set.
    val entry = hnswLevels(spark, dir)
      .orderBy(col("lvl").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("entry_id"))
    val pq = hnswCodes(spark, dir).filter(isProbe(col("vec_id")))
      .toDF("p_id", "pq").crossJoin(broadcast(entry))
    val fin = graft.plans.GraftOps.beamSearch(
      pq, hnswIndex(spark, dir),
      ("p_id", "pq", "entry_id"), ("vec_id", "q", "adj"), hnswSchedule)
    // the final beam is |probes|·10 rows
    rerank(spark, dir, fin.filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id").as("vec_id")), 5)
      .select("probe_id", "vec_id")
  }

  /** q193 — recall@5 of the graph index against brute force (the q108
    * evaluation pattern applied to the graph member of the ANN family).
    */
  def hnswRecall(spark: SparkSession, dir: String): DataFrame =
    recallAt5(cosineTopK(spark, dir), hnswSearch(spark, dir))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_hnsw_stats"         -> hnswStats _,
    "q193_hnsw_recall"        -> hnswRecall _,
    "q165_ann_incremental"    -> annIncrementalAssign _,
    "q160_hybrid_fusion"      -> hybridFusion _,
    "q146_kmeans"             -> kmeansLloyd _,
    "q156_ivf_trained"        -> annIvfTrained _,
    "q143_semantic_decontaminate" -> semanticDecontaminate _,
    "q136_ann_mrr"            -> annMrr _,
    "q135_hard_negatives"     -> hardNegatives _,
    "q131_semantic_dedup"     -> semanticDedup _,
    "q132_ivfpq_adc"          -> ivfPqAdc _,
    "q125_embed_stats"        -> embedStats _,
    "q120_pq_recall"          -> pqRecall _,
    "q117_pq_adc"             -> pqAdc _,
    "q186_embedding_drift"    -> embeddingDrift _,
    "q116_pq_codes"           -> pqCodes _,
    "q108_ann_recall"         -> annRecall _,
    "q40_similarity_topk"     -> cosineTopK _,
    "q95_similarity_topk_native" -> cosineTopK _,
    "q80_embed_quantize"      -> quantize _,
    "q199_sq8_rerank"         -> sq8Rerank _,
    "q41_similarity_ann_lsh"  -> annLsh _,
    "q42_label_centroid"      -> labelCentroid _,
    "q59_similarity_ann_ivf"  -> annIvf _,
    "q74_similarity_topk_agg" -> cosineTopK _,
  )

  /** q186 — per-label embedding DRIFT between the standing corpus and the
    * arrival batch (vec_id % 10 = 9, the q148/q165 ingest convention): the
    * EMBEDDING-space member of the ingest-monitoring family (q166 = digest
    * diff, q172 = lexical sketch drift) — "did this crawl MOVE my
    * distribution, and for which labels". Each side's centroid is the
    * per-dimension floor-mean on the 1e-6 quantized grid (exactly q146's
    * centroid arithmetic — sums < 2⁵³ so the one double division is exact
    * both engines), and the drift is the INTEGER squared-L2 between the
    * two integer centroids. Shape: one posexplode + a (label, side, dim)
    * partial aggregation — map-side combine does the heavy lifting, the
    * shuffle carries 64·|labels|·2 rows at any corpus size. Labels with
    * an empty side are omitted (drift is undefined there; q165 handles
    * pure arrivals).
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("label"), (col("vec_id") % 10 === 9).cast("int").as("grp"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long"))).as(Seq("dim", "x")))
    val cent = e.groupBy("label", "grp", "dim")
      .agg(floor(sum("x").cast("double") / count(lit(1))).cast("long").as("c"),
        count(lit(1)).as("n"))
    cent.filter(col("grp") === 0).select(col("label"), col("dim"),
        col("c").as("c0"), col("n").as("n0"))
      .join(cent.filter(col("grp") === 1).select(col("label"), col("dim"),
        col("c").as("c1"), col("n").as("n1")), Seq("label", "dim"))
      .groupBy("label")
      .agg(max("n0").as("n_standing"), max("n1").as("n_batch"),
        sum((col("c0") - col("c1")) * (col("c0") - col("c1"))).as("l2sq_shift"))
      .orderBy("label")
  }

  private def duckCos(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private val planesSql: String =
    planes.map(_.mkString("[", ", ", "]")).mkString("[", ",\n  ", "]")

  private val bruteTopKOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
       |scored AS (SELECT probe_id, vec_id, ${duckCos("pv", "v")} AS cs
       |           FROM probes JOIN e ON vec_id <> probe_id)
       |SELECT probe_id, rnk, vec_id, round(cs, 4) AS cs
       |FROM (SELECT probe_id, vec_id, cs,
       |             row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rnk
       |      FROM scored)
       |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB mirror of `annRecall`: the q40 brute CTEs and the q41 LSH CTEs
    * side by side, intersected per probe. */
  private val annRecallOracle: String =
    s"""WITH planes(pl) AS (SELECT $planesSql),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bits AS (SELECT vec_id, list_transform(pl, p ->
       |           CASE WHEN list_dot_product(v, p) > 0 THEN 1 ELSE 0 END) AS b
       |         FROM e, planes),
       |bands AS (SELECT vec_id, unnest(list_transform(range(0, 4), g ->
       |            CAST(g AS VARCHAR) || ':' ||
       |            array_to_string(list_transform(list_slice(b, g*4+1, g*4+4),
       |                            x -> CAST(x AS VARCHAR)), ''))) AS band
       |          FROM bits),
       |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS vec_id
       |         FROM bands p JOIN bands c
       |           ON p.band = c.band AND p.vec_id < 10 AND c.vec_id <> p.vec_id),
       |lsh_scored AS (SELECT probe_id, cand.vec_id, ${duckCos("pe.v", "ce.v")} AS cs
       |               FROM cand JOIN e pe ON pe.vec_id = probe_id
       |                         JOIN e ce ON ce.vec_id = cand.vec_id),
       |lsh_top AS (SELECT probe_id, vec_id
       |            FROM (SELECT probe_id, vec_id,
       |                    row_number() OVER (PARTITION BY probe_id
       |                      ORDER BY cs DESC, vec_id) AS rnk
       |                  FROM lsh_scored) WHERE rnk <= 5),
       |probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
       |b_scored AS (SELECT probe_id, vec_id, ${duckCos("pv", "v")} AS cs
       |             FROM probes JOIN e ON vec_id <> probe_id),
       |b_top AS (SELECT probe_id, vec_id
       |          FROM (SELECT probe_id, vec_id,
       |                  row_number() OVER (PARTITION BY probe_id
       |                    ORDER BY cs DESC, vec_id) AS rnk
       |                FROM b_scored) WHERE rnk <= 5),
       |hits AS (SELECT b.probe_id, CAST(count(*) AS BIGINT) AS n_hit
       |         FROM b_top b JOIN lsh_top l
       |           ON l.probe_id = b.probe_id AND l.vec_id = b.vec_id
       |         GROUP BY b.probe_id)
       |SELECT p.probe_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5.0, 2) AS recall
       |FROM (SELECT DISTINCT probe_id FROM b_top) p
       |LEFT JOIN hits h USING (probe_id)
       |ORDER BY probe_id""".stripMargin

  /** DuckDB mirror of `pqAdc` (shared with the q120 recall oracle): the
    * q116 block/centroid/distance CTEs over the full corpus, codes + probe
    * tables, conditional per-block sums, fixed-order addition. */
  private val pqAdcCtes: String = {
    val condSums = (0 to 7).map(b =>
      s"sum(CASE WHEN cd.block = $b THEN t END) AS b$b").mkString(",\n        ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |blocks AS (SELECT vec_id, b AS block, list_slice(v, b*8 + 1, b*8 + 8) AS vb
       |           FROM e, range(0, 8) t(b)),
       |cents AS (SELECT vec_id AS code, block, vb AS cb FROM blocks WHERE vec_id < 16),
       |d AS (SELECT bl.vec_id, bl.block, c.code,
       |        list_sum(list_transform(range(1, 9),
       |          i -> (vb[i] - cb[i]) * (vb[i] - cb[i]))) AS dist
       |      FROM blocks bl JOIN cents c USING (block)),
       |codes AS (SELECT vec_id, block, code
       |          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, block
       |                  ORDER BY dist, code) AS rn FROM d) WHERE rn = 1),
       |ptab AS (SELECT vec_id AS probe_id, block, code, dist AS t
       |         FROM d WHERE vec_id < 10),
       |j AS (SELECT p.probe_id, cd.vec_id,
       |        $condSums
       |      FROM codes cd JOIN ptab p ON p.block = cd.block AND p.code = cd.code
       |      WHERE cd.vec_id <> p.probe_id
       |      GROUP BY p.probe_id, cd.vec_id),
       |s AS (SELECT probe_id, vec_id, ${(0 to 7).map(b => s"b$b").mkString(" + ")} AS adc FROM j),
       |adc_top AS (SELECT probe_id, rnk, vec_id, adc
       |            FROM (SELECT probe_id, vec_id, adc,
       |                    row_number() OVER (PARTITION BY probe_id
       |                      ORDER BY adc, vec_id) AS rnk
       |                  FROM s)
       |            WHERE rnk <= 5)""".stripMargin
  }

  private val pqAdcOracle: String =
    pqAdcCtes +
      """
        |SELECT probe_id, rnk, vec_id, round(adc, 4) AS adc
        |FROM adc_top ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB mirror of `pqRecall`: ADC top-5 (shared CTEs) intersected with
    * brute-force squared-L2 top-5, identical fold spelling. */
  private val pqRecallOracle: String =
    pqAdcCtes +
      """,
        |bl2 AS (SELECT p.vec_id AS probe_id, c.vec_id,
        |          list_sum(list_transform(range(1, 65),
        |            i -> (p.v[i] - c.v[i]) * (p.v[i] - c.v[i]))) AS d
        |        FROM e p JOIN e c ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
        |b_top AS (SELECT probe_id, vec_id
        |          FROM (SELECT probe_id, vec_id,
        |                  row_number() OVER (PARTITION BY probe_id
        |                    ORDER BY d, vec_id) AS rnk
        |                FROM bl2)
        |          WHERE rnk <= 5),
        |hits AS (SELECT b.probe_id, CAST(count(*) AS BIGINT) AS n_hit
        |         FROM b_top b JOIN adc_top a
        |           ON a.probe_id = b.probe_id AND a.vec_id = b.vec_id
        |         GROUP BY b.probe_id)
        |SELECT p.probe_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5.0, 2) AS recall
        |FROM (SELECT DISTINCT probe_id FROM b_top) p
        |LEFT JOIN hits h USING (probe_id)
        |ORDER BY probe_id""".stripMargin

  /** Shared CTE text: coarse assignment carrying vectors (q131/q132). */
  private val ivfAssignCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
      |sims AS (SELECT n.vec_id, n.v, n.nrm, cent_id, cv,
      |                list_dot_product(v, cv) / (nrm * cnrm) AS csim
      |         FROM n CROSS JOIN cents),
      |af AS (SELECT vec_id, cent_id, v, nrm, cv
      |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |               ORDER BY csim DESC, cent_id) AS rn FROM sims)
      |       WHERE rn = 1)""".stripMargin

  private val semanticDedupOracle: String =
    ivfAssignCtes +
      s""",
        |sz AS (SELECT cent_id,
        |         CAST(ceil(count(*) / $semDeDupCap.0) AS BIGINT) AS nsub
        |       FROM af GROUP BY cent_id),
        |ab AS (SELECT af.*, af.vec_id % sz.nsub AS sub
        |       FROM af JOIN sz USING (cent_id)),
        |pairs AS (SELECT b.vec_id AS vec_id, a.vec_id AS lo,
        |                 list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
        |          FROM ab a JOIN ab b
        |            ON a.cent_id = b.cent_id AND a.sub = b.sub
        |               AND a.vec_id < b.vec_id)
        |SELECT vec_id, CAST(min(lo) AS BIGINT) AS dup_of,
        |       round(max(cs), 4) AS max_cs
        |FROM pairs WHERE cs >= 0.35
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  private val ivfPqAdcOracle: String = {
    val condSums = (0 to 7).map(b =>
      s"sum(CASE WHEN cd.block = $b THEN t END) AS b$b").mkString(",\n        ")
    ivfAssignCtes +
      s""",
         |resid AS (SELECT vec_id, cent_id,
         |            list_transform(range(1, 65), i -> v[i] - cv[i]) AS r FROM af),
         |rblocks AS (SELECT vec_id, cent_id, b AS block,
         |              list_slice(r, b*8 + 1, b*8 + 8) AS vb
         |            FROM resid, range(0, 8) t(b)),
         |rcents AS (SELECT vec_id AS code, block, vb AS cb
         |           FROM rblocks WHERE vec_id >= 16 AND vec_id < 32),
         |rd AS (SELECT bl.vec_id, bl.cent_id, bl.block, c.code,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (vb[i] - cb[i]) * (vb[i] - cb[i]))) AS dist
         |       FROM rblocks bl JOIN rcents c USING (block)),
         |codes AS (SELECT vec_id, cent_id, block, code
         |          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, block
         |                  ORDER BY dist, code) AS rn FROM rd)
         |          WHERE rn = 1),
         |pb AS (SELECT vec_id AS probe_id, cent_id,
         |         list_transform(range(1, 65), i -> v[i] - cv[i]) AS r
         |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |               ORDER BY csim DESC, cent_id) AS rn
         |             FROM sims WHERE vec_id < 10)
         |       WHERE rn <= 4),
         |pblocks AS (SELECT probe_id, cent_id, b AS block,
         |              list_slice(r, b*8 + 1, b*8 + 8) AS vb
         |            FROM pb, range(0, 8) t(b)),
         |ptab AS (SELECT p.probe_id, p.cent_id, p.block, c.code,
         |           list_sum(list_transform(range(1, 9),
         |             i -> (vb[i] - cb[i]) * (vb[i] - cb[i]))) AS t
         |         FROM pblocks p JOIN rcents c USING (block)),
         |j AS (SELECT p.probe_id, cd.vec_id,
         |        $condSums
         |      FROM codes cd JOIN ptab p
         |        ON p.cent_id = cd.cent_id AND p.block = cd.block AND p.code = cd.code
         |      WHERE cd.vec_id <> p.probe_id
         |      GROUP BY p.probe_id, cd.vec_id),
         |s AS (SELECT probe_id, vec_id,
         |        ${(0 to 7).map(b => s"b$b").mkString(" + ")} AS adc FROM j)
         |SELECT probe_id, rnk, vec_id, round(adc, 4) AS adc
         |FROM (SELECT probe_id, vec_id, adc,
         |        row_number() OVER (PARTITION BY probe_id
         |          ORDER BY adc, vec_id) AS rnk
         |      FROM s)
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  }

  /** DuckDB mirror of `kmeansTrained`: all `kmeansMaxRounds` Lloyd passes
    * unrolled as (distance, argmin, floor-mean update) CTE triples — the
    * q107/q130 unrolled-iteration technique, with the q154 idempotence
    * argument covering the engine's early stop: once centroids are stable,
    * each further unrolled pass reproduces the same assignment and
    * centroids, so the full unroll equals whatever round the engine
    * converged at. All arithmetic integer except the two exactness-proven
    * float steps (quantization multiply, mean division), spelled
    * identically to the Spark plan. The a/c CTEs are MATERIALIZED: each is
    * referenced by two successors, so default inlining would grow 2^8.
    *
    * The chain ends at `aN` (the final assignment) and `cN1` (the final
    * centroids, N−1 updates) — shared by the q146 and q156 oracles exactly
    * as `kmeansTrained` is shared by the Spark queries.
    */
  private val kmeansFinalA = s"a$kmeansMaxRounds"
  private val kmeansFinalC = s"c${kmeansMaxRounds - 1}"
  private val kmeansCtes: String = {
    def pass(prev: String, n: Int): String =
      s"""d$n AS (SELECT q.vec_id, q.v, c.cent_id,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))) AS BIGINT) AS d
         |       FROM q CROSS JOIN $prev c),
         |a$n AS MATERIALIZED (SELECT vec_id, v, cent_id, d FROM
         |         (SELECT *, row_number() OVER (PARTITION BY vec_id
         |            ORDER BY d, cent_id) AS rn FROM d$n)
         |       WHERE rn = 1)""".stripMargin
    def upd(a: String, prev: String, cur: String): String =
      s"""u$cur AS (SELECT cent_id, t.i AS dim,
         |         CAST(floor(CAST(sum(v[t.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |       FROM $a, range(1, 65) t(i) GROUP BY cent_id, t.i),
         |$cur AS MATERIALIZED (SELECT p.cent_id, coalesce(l.c, p.c) AS c
         |       FROM $prev p LEFT JOIN
         |         (SELECT cent_id, list(cv ORDER BY dim) AS c
         |          FROM u$cur GROUP BY cent_id) l USING (cent_id))""".stripMargin
    val rounds = (1 to kmeansMaxRounds).map { n =>
      if (n < kmeansMaxRounds)
        pass(s"c${n - 1}", n) + ",\n" + upd(s"a$n", s"c${n - 1}", s"c$n")
      else pass(s"c${n - 1}", n)
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id,
       |        list_transform(CAST(embedding AS DOUBLE[]),
       |          x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v
       |      FROM embeddings),
       |seeds AS (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
       |          FROM q ORDER BY h, vec_id LIMIT $kmeansK),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER)
       |                AS cent_id, v AS c
       |       FROM seeds),
       |$rounds""".stripMargin
  }

  private val kmeansOracle: String =
    kmeansCtes +
      s"""
         |SELECT cent_id, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(d) AS BIGINT) AS inertia_q
         |FROM $kmeansFinalA GROUP BY cent_id ORDER BY cent_id""".stripMargin

  /** DuckDB mirror of `annIvfTrained`: the shared Lloyd CTEs, then probe →
    * nprobe=2 nearest trained centroids → candidates from the final
    * assignment's inverted lists → integer-L2 top-5. Every distance is the
    * same BIGINT sum as the Spark side's L2Sq expression.
    */
  private val ivfTrainedOracle: String =
    kmeansCtes +
      s""",
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM q WHERE vec_id < 10),
         |pb AS (SELECT probe_id, pv, cent_id FROM (
         |         SELECT p.probe_id, p.pv, c.cent_id,
         |           row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |             CAST(list_sum(list_transform(range(1, 65),
         |               i -> (p.pv[i] - c.c[i]) * (p.pv[i] - c.c[i]))) AS BIGINT),
         |             c.cent_id) AS rn
         |         FROM probes p CROSS JOIN $kmeansFinalC c)
         |       WHERE rn <= 2),
         |cand AS (SELECT pb.probe_id, a.vec_id,
         |           CAST(list_sum(list_transform(range(1, 65),
         |             i -> (pb.pv[i] - a.v[i]) * (pb.pv[i] - a.v[i]))) AS BIGINT) AS d2
         |         FROM pb JOIN $kmeansFinalA a USING (cent_id)
        |         WHERE a.vec_id <> pb.probe_id)
        |SELECT probe_id, rnk, vec_id, d2
        |FROM (SELECT probe_id, vec_id, d2,
        |        row_number() OVER (PARTITION BY probe_id
        |          ORDER BY d2, vec_id) AS rnk
        |      FROM cand)
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB mirror of `hybridFusion`: both rankers re-derived (capped
    * inverted index for lexical; 1e-6-grid integer L2 for dense), same
    * truncated-Borda arithmetic, same (score, doc_id) tie-breaks.
    */
  private val hybridFusionOracle: String =
    Dedup.shingleCte +
      """,
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |psh AS (SELECT doc_id AS probe_id, s FROM idx WHERE doc_id < 10),
        |ov AS (SELECT p.probe_id, i.doc_id, count(*) AS ov
        |       FROM idx i JOIN psh p USING (s) WHERE i.doc_id <> p.probe_id
        |       GROUP BY 1, 2),
        |lex AS (SELECT probe_id, doc_id, 17 - lr AS ls FROM (
        |          SELECT *, row_number() OVER (PARTITION BY probe_id
        |            ORDER BY ov DESC, doc_id) AS lr FROM ov)
        |        WHERE lr <= 16),
        |q AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |        x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, v AS pv FROM q WHERE vec_id < 10),
        |dall AS (SELECT pr.probe_id, q.vec_id AS doc_id,
        |           CAST(list_sum(list_transform(range(1, 65),
        |             i -> (pr.pv[i] - q.v[i]) * (pr.pv[i] - q.v[i]))) AS BIGINT) AS d2
        |         FROM q CROSS JOIN pr WHERE q.vec_id <> pr.probe_id),
        |dense AS (SELECT probe_id, doc_id, 17 - dr AS ds FROM (
        |            SELECT *, row_number() OVER (PARTITION BY probe_id
        |              ORDER BY d2, doc_id) AS dr FROM dall)
        |          WHERE dr <= 16),
        |fused AS (SELECT coalesce(d.probe_id, l.probe_id) AS probe_id,
        |                 coalesce(d.doc_id, l.doc_id) AS doc_id,
        |                 coalesce(d.ds, 0) + coalesce(l.ls, 0) AS borda
        |          FROM dense d FULL JOIN lex l
        |            ON d.probe_id = l.probe_id AND d.doc_id = l.doc_id)
        |SELECT probe_id, rnk, doc_id, CAST(borda AS BIGINT) AS borda FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY borda DESC, doc_id) AS rnk FROM fused)
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB mirror of `annIncrementalAssign`: the shared Lloyd CTEs to the
    * converged centroids, the same md5-prefix batch rule, the same
    * (d, cent_id) argmin replayed as a row_number.
    */
  private val annIncrementalOracle: String =
    kmeansCtes +
      s""",
         |batch AS (SELECT vec_id, v FROM q
         |          WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = 'a')
         |SELECT vec_id, cent_id, d2 FROM (
         |  SELECT b.vec_id, c.cent_id,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> (b.v[i] - c.c[i]) * (b.v[i] - c.c[i]))) AS BIGINT) AS d2,
         |         row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |           CAST(list_sum(list_transform(range(1, 65),
         |             i -> (b.v[i] - c.c[i]) * (b.v[i] - c.c[i]))) AS BIGINT),
         |           c.cent_id) AS rn
         |  FROM batch b CROSS JOIN $kmeansFinalC c)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** DuckDB 60-bit md5 (the engine-portable hash convention): hex digits
    * assembled via strpos, identical to Spark's conv(substring(md5,1,15)).
    */
  private def duckMd5(x: String): String =
    s"CAST(list_sum(list_transform(range(1, 16), i -> " +
      s"CAST(strpos('0123456789abcdef', substr(md5($x), i, 1)) - 1 AS BIGINT) " +
      s"* (CAST(1 AS BIGINT) << (4 * (15 - i))))) AS BIGINT)"

  /** Shared CTE block replaying the graph-index CONSTRUCTION (levels,
    * bucketed candidates, top-M symmetric edges, entry point) — used by
    * both the q192 stats oracle and the q193 recall oracle.
    */
  private val hnswCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |hcents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
       |hsims AS (SELECT e.vec_id, cent_id, ${duckCos("e.v", "cv")} AS csim FROM e, hcents),
       |hb AS (SELECT vec_id, cent_id, rn FROM (SELECT vec_id, cent_id,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |        FROM hsims) WHERE rn <= 8),
       |hlvl AS (SELECT vec_id, CASE WHEN h % 64 = 0 THEN 2 WHEN h % 8 = 0 THEN 1 ELSE 0 END AS lvl
       |         FROM (SELECT vec_id, ${duckMd5("CAST(vec_id AS VARCHAR)")} AS h FROM e)),
       |hnodes AS (SELECT vec_id, unnest(range(0, lvl + 1)) AS layer FROM hlvl),
       |hnb0 AS (SELECT n.layer, n.vec_id, b.cent_id FROM hnodes n JOIN hb b USING (vec_id)
       |         WHERE b.rn <= $hnswBucketsSql),
       |hbc AS (SELECT layer, cent_id,
       |               CAST(ceil(count(*) / $hnswBucketCap.0) AS BIGINT) AS nsub
       |        FROM hnb0 GROUP BY layer, cent_id),
       |hnb AS (SELECT hnb0.layer, hnb0.vec_id, hnb0.cent_id,
       |               hnb0.vec_id % nsub AS sub
       |        FROM hnb0 JOIN hbc USING (layer, cent_id)),
       |hcand AS (SELECT DISTINCT a.layer, a.vec_id AS src, b.vec_id AS dst
       |          FROM hnb a JOIN hnb b ON a.layer = b.layer AND a.cent_id = b.cent_id
       |                                AND a.sub = b.sub AND a.vec_id <> b.vec_id),
       |hesc AS (SELECT layer, src, dst, ${duckCos("sv.v", "dv.v")} AS cs
       |         FROM hcand JOIN e sv ON sv.vec_id = src JOIN e dv ON dv.vec_id = dst),
       |htopm AS (SELECT layer, src, dst FROM (SELECT layer, src, dst,
       |          row_number() OVER (PARTITION BY layer, src ORDER BY cs DESC, dst) AS rn
       |          FROM hesc) WHERE rn <= $hnswM),
       |hedges AS (SELECT layer, src, dst FROM htopm
       |           UNION SELECT layer, dst AS src, src AS dst FROM htopm),
       |hentry AS (SELECT vec_id AS entry_id FROM hlvl ORDER BY lvl DESC, vec_id LIMIT 1)""".stripMargin

  private val hnswStatsOracle: String =
    s"""WITH $hnswCtes,
       |np AS (SELECT layer, CAST(count(*) AS BIGINT) AS n_nodes FROM hnodes GROUP BY layer),
       |hdeg AS (SELECT layer, src, count(*) AS deg FROM hedges GROUP BY layer, src),
       |ea AS (SELECT layer, CAST(sum(deg) AS BIGINT) AS n_edges,
       |              CAST(max(deg) AS BIGINT) AS max_deg FROM hdeg GROUP BY layer)
       |SELECT np.layer, n_nodes, coalesce(n_edges, CAST(0 AS BIGINT)) AS n_edges,
       |       coalesce(max_deg, CAST(0 AS BIGINT)) AS max_deg, entry_id
       |FROM np LEFT JOIN ea USING (layer), hentry ORDER BY np.layer""".stripMargin

  /** q193 oracle: the SAME fixed-hop beam traversal as `hnswSearch`,
    * unrolled from `hnswSchedule` (generated, so schedule changes cannot
    * desync the two), then the q108 recall intersection against brute
    * force. Beam comparisons are the SQ8 INTEGER code dot product — exact
    * arithmetic on both engines (the q199 convention), so the traversal
    * replays digit-exactly; only the final re-rank touches floats, with
    * the proven identical fold order.
    */
  private val hnswRecallOracle: String = {
    val sb = new StringBuilder
    sb ++= s"WITH $hnswCtes,\n"
    sb ++= "hnn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),\n"
    sb ++= "hqv AS (SELECT vec_id, list_transform(v, x -> " +
      "CAST(floor(x / nrm * 127.0 + 0.5) AS BIGINT)) AS q FROM hnn),\n"
    sb ++= "beam0 AS (SELECT p.vec_id AS probe_id, en.entry_id AS vec_id " +
      "FROM e p, hentry en WHERE p.vec_id < 10),\n"
    var step = 0
    for ((layer, width, hops) <- hnswSchedule; _ <- 1 to hops) {
      val prev = s"beam$step"; step += 1
      sb ++= s"""cn$step AS (SELECT probe_id, vec_id FROM $prev
                |  UNION SELECT b.probe_id, ed.dst AS vec_id FROM $prev b
                |        JOIN hedges ed ON ed.layer = $layer AND ed.src = b.vec_id),
                |sc$step AS (SELECT c.probe_id, c.vec_id,
                |    CAST(list_sum(list_transform(range(1, 65),
                |      i -> pq.q[i] * cq.q[i])) AS BIGINT) AS iscore
                |  FROM cn$step c JOIN hqv pq ON pq.vec_id = c.probe_id
                |                JOIN hqv cq ON cq.vec_id = c.vec_id),
                |beam$step AS (SELECT probe_id, vec_id FROM (SELECT probe_id, vec_id,
                |  row_number() OVER (PARTITION BY probe_id ORDER BY iscore DESC, vec_id) AS rn
                |  FROM sc$step) WHERE rn <= $width),
                |""".stripMargin
    }
    sb ++= s"""hfin AS (SELECT probe_id, vec_id FROM (SELECT c.probe_id, c.vec_id,
              |  row_number() OVER (PARTITION BY c.probe_id
              |    ORDER BY ${duckCos("pe.v", "ce.v")} DESC, c.vec_id) AS rn
              |  FROM beam$step c JOIN e pe ON pe.vec_id = c.probe_id
              |                 JOIN e ce ON ce.vec_id = c.vec_id
              |  WHERE c.vec_id <> c.probe_id) WHERE rn <= 5),
              |hprobes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
              |b_scored AS (SELECT probe_id, vec_id, ${duckCos("pv", "v")} AS cs
              |             FROM hprobes JOIN e ON vec_id <> probe_id),
              |b_top AS (SELECT probe_id, vec_id FROM (SELECT probe_id, vec_id,
              |          row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rnk
              |          FROM b_scored) WHERE rnk <= 5),
              |hits AS (SELECT b.probe_id, CAST(count(*) AS BIGINT) AS n_hit
              |         FROM b_top b JOIN hfin l ON l.probe_id = b.probe_id AND l.vec_id = b.vec_id
              |         GROUP BY b.probe_id)
              |SELECT p.probe_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
              |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5.0, 2) AS recall
              |FROM (SELECT DISTINCT probe_id FROM b_top) p
              |LEFT JOIN hits h USING (probe_id)
              |ORDER BY probe_id""".stripMargin
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "q192_hnsw_stats" -> hnswStatsOracle,
    "q193_hnsw_recall" -> hnswRecallOracle,
    "q165_ann_incremental" -> annIncrementalOracle,
    "q160_hybrid_fusion" -> hybridFusionOracle,
    "q146_kmeans" -> kmeansOracle,
    "q156_ivf_trained" -> ivfTrainedOracle,
    "q136_ann_mrr" ->
      s"""WITH planes(pl) AS (SELECT $planesSql),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (SELECT vec_id, list_transform(pl, p ->
         |           CASE WHEN list_dot_product(v, p) > 0 THEN 1 ELSE 0 END) AS b
         |         FROM e, planes),
         |bands AS (SELECT vec_id, unnest(list_transform(range(0, 4), g ->
         |            CAST(g AS VARCHAR) || ':' ||
         |            array_to_string(list_transform(list_slice(b, g*4+1, g*4+4),
         |                            x -> CAST(x AS VARCHAR)), ''))) AS band
         |          FROM bits),
         |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS vec_id
         |         FROM bands p JOIN bands c
         |           ON p.band = c.band AND p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |lsh_scored AS (SELECT probe_id, cand.vec_id, ${duckCos("pe.v", "ce.v")} AS cs
         |               FROM cand JOIN e pe ON pe.vec_id = probe_id
         |                         JOIN e ce ON ce.vec_id = cand.vec_id),
         |lsh_top AS (SELECT probe_id, vec_id, rnk
         |            FROM (SELECT probe_id, vec_id,
         |                    row_number() OVER (PARTITION BY probe_id
         |                      ORDER BY cs DESC, vec_id) AS rnk
         |                  FROM lsh_scored) WHERE rnk <= 5),
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
         |b_scored AS (SELECT probe_id, vec_id, ${duckCos("pv", "v")} AS cs
         |             FROM probes JOIN e ON vec_id <> probe_id),
         |truth AS (SELECT probe_id, vec_id AS true_nn
         |          FROM (SELECT probe_id, vec_id,
         |                  row_number() OVER (PARTITION BY probe_id
         |                    ORDER BY cs DESC, vec_id) AS rnk
         |                FROM b_scored) WHERE rnk = 1)
         |SELECT t.probe_id, t.true_nn,
         |       CAST(coalesce(l.rnk, 0) AS INT) AS found_rank,
         |       round(CASE WHEN l.rnk IS NOT NULL
         |                  THEN CAST(1.0 AS DOUBLE) / l.rnk ELSE 0.0 END, 4) AS rr
         |FROM truth t LEFT JOIN lsh_top l
         |  ON l.probe_id = t.probe_id AND l.vec_id = t.true_nn
         |ORDER BY t.probe_id""".stripMargin,
    "q135_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |probes AS (SELECT vec_id AS probe_id, label AS p_label, v AS pv
         |           FROM e WHERE vec_id < 10),
         |scored AS (SELECT probe_id, vec_id, label, ${duckCos("pv", "v")} AS cs
         |           FROM probes JOIN e ON label <> p_label)
         |SELECT probe_id, rnk, vec_id, label, round(cs, 4) AS cs
         |FROM (SELECT probe_id, vec_id, label, cs,
         |             row_number() OVER (PARTITION BY probe_id
         |               ORDER BY cs DESC, vec_id) AS rnk
         |      FROM scored)
         |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,
    "q143_semantic_decontaminate" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |ev AS (SELECT vec_id AS eval_id, v AS ev, nrm AS enrm FROM n WHERE vec_id < 20),
        |hits AS (
        |  SELECT a.vec_id, eval_id,
        |         list_dot_product(a.v, ev.ev) / (a.nrm * ev.enrm) AS cs
        |  FROM n a, ev
        |  WHERE a.vec_id >= 20
        |    AND list_dot_product(a.v, ev.ev) / (a.nrm * ev.enrm) >= 0.25),
        |r AS (SELECT vec_id, eval_id, cs,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, eval_id) AS rnk,
        |        CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_hits
        |      FROM hits)
        |SELECT vec_id, n_hits, eval_id AS best_eval_id, round(cs, 4) AS best_cs
        |FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    "q131_semantic_dedup" -> semanticDedupOracle,
    "q132_ivfpq_adc" -> ivfPqAdcOracle,
    "q125_embed_stats" ->
      """WITH n AS (SELECT label,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |       round(avg(nrm), 4) AS avg_nrm,
        |       round(min(nrm), 4) AS min_nrm,
        |       round(max(nrm), 4) AS max_nrm,
        |       round(stddev_samp(nrm), 4) AS sd_nrm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "q120_pq_recall" -> pqRecallOracle,
    "q117_pq_adc" -> pqAdcOracle,
    "q199_sq8_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |qv AS (SELECT vec_id,
        |              list_transform(v, x -> CAST(floor(x / nrm * 127.0 + 0.5) AS BIGINT)) AS q
        |       FROM n),
        |p AS (SELECT vec_id AS probe_id, q AS pq FROM qv WHERE vec_id < 10),
        |scored AS (SELECT probe_id, qv.vec_id,
        |             CAST(list_sum(list_transform(range(1, 65), i -> pq[i] * q[i]))
        |               AS BIGINT) AS iscore
        |           FROM p JOIN qv ON qv.vec_id <> probe_id),
        |cand AS (SELECT probe_id, vec_id, iscore
        |         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
        |                 ORDER BY iscore DESC, vec_id) AS rn FROM scored)
        |         WHERE rn <= 32),
        |r AS (SELECT c.probe_id, c.vec_id, c.iscore,
        |        list_dot_product(pn.v, cn.v) / (pn.nrm * cn.nrm) AS cs
        |      FROM cand c JOIN n cn ON cn.vec_id = c.vec_id
        |      JOIN n pn ON pn.vec_id = c.probe_id)
        |SELECT probe_id, rnk, vec_id, iscore, round(cs, 4) AS cs
        |FROM (SELECT probe_id, vec_id, iscore, cs,
        |        row_number() OVER (PARTITION BY probe_id
        |          ORDER BY cs DESC, vec_id) AS rnk FROM r)
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    // Same shared CTE text as q117/q120 (argmin over the full corpus is
    // per-(vec, block) independent, so filtering to vec_id < 200 after
    // assignment is value-identical to assigning the filtered set).
    "q116_pq_codes" -> (pqAdcCtes +
      """
        |SELECT vec_id, block, code, round(dist, 6) AS dist
        |FROM (SELECT vec_id, block, code, dist,
        |        row_number() OVER (PARTITION BY vec_id, block
        |          ORDER BY dist, code) AS rn FROM d)
        |WHERE rn = 1 AND vec_id < 200 ORDER BY vec_id, block""".stripMargin),
    "q108_ann_recall" -> annRecallOracle,
    "q80_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |qv AS (SELECT vec_id,
        |              list_transform(v, x -> CAST(floor(x / nrm * 127.0 + 0.5) AS BIGINT)) AS q
        |       FROM n)
        |SELECT vec_id,
        |       array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',') AS q_str,
        |       CAST(list_aggregate(q, 'min') AS BIGINT) AS qmin,
        |       CAST(list_aggregate(q, 'max') AS BIGINT) AS qmax,
        |       CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum
        |FROM qv ORDER BY vec_id""".stripMargin,
    // q40, q74 and q95 register the same function — ONE oracle text
    // proves all three ids.
    "q40_similarity_topk" -> bruteTopKOracle,
    "q74_similarity_topk_agg" -> bruteTopKOracle,
    "q95_similarity_topk_native" -> bruteTopKOracle,
    "q41_similarity_ann_lsh" ->
      s"""WITH planes(pl) AS (SELECT $planesSql),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (SELECT vec_id, list_transform(pl, p ->
         |           CASE WHEN list_dot_product(v, p) > 0 THEN 1 ELSE 0 END) AS b
         |         FROM e, planes),
         |bands AS (SELECT vec_id, unnest(list_transform(range(0, 4), g ->
         |            CAST(g AS VARCHAR) || ':' ||
         |            array_to_string(list_transform(list_slice(b, g*4+1, g*4+4),
         |                            x -> CAST(x AS VARCHAR)), ''))) AS band
         |          FROM bits),
         |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS vec_id
         |         FROM bands p JOIN bands c
         |           ON p.band = c.band AND p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |scored AS (SELECT probe_id, cand.vec_id, ${duckCos("pe.v", "ce.v")} AS cs
         |           FROM cand JOIN e pe ON pe.vec_id = probe_id
         |                     JOIN e ce ON ce.vec_id = cand.vec_id)
         |SELECT probe_id, rnk, vec_id, round(cs, 4) AS cs
         |FROM (SELECT probe_id, vec_id, cs,
         |             row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rnk
         |      FROM scored)
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    "q42_label_centroid" ->
      """SELECT label, i - 1 AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS cval
        |FROM embeddings, generate_series(1, 64) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "q186_embedding_drift" ->
      """WITH e AS (
        |  SELECT label, CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END AS grp,
        |         i - 1 AS dim,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |cent AS (SELECT label, grp, dim,
        |           CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS c,
        |           count(*) AS n
        |         FROM e GROUP BY 1, 2, 3)
        |SELECT a.label AS label,
        |       CAST(max(a.n) AS BIGINT) AS n_standing,
        |       CAST(max(b.n) AS BIGINT) AS n_batch,
        |       CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS l2sq_shift
        |FROM cent a JOIN cent b ON a.label = b.label AND a.dim = b.dim
        |                        AND a.grp = 0 AND b.grp = 1
        |GROUP BY 1 ORDER BY label""".stripMargin,
    "q59_similarity_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |sims AS (SELECT n.vec_id, cent_id,
        |                list_dot_product(v, cv) / (nrm * cnrm) AS csim
        |         FROM n CROSS JOIN cents),
        |assign AS (SELECT vec_id, cent_id
        |           FROM (SELECT vec_id, cent_id, row_number() OVER
        |                   (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        |                 FROM sims)
        |           WHERE rn = 1),
        |pb AS (SELECT vec_id AS probe_id, cent_id
        |       FROM (SELECT vec_id, cent_id, row_number() OVER
        |               (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        |             FROM sims WHERE vec_id < 10)
        |       WHERE rn <= 4),
        |cand AS (SELECT DISTINCT probe_id, a.vec_id
        |         FROM pb JOIN assign a USING (cent_id)
        |         WHERE a.vec_id <> probe_id),
        |scored AS (SELECT probe_id, cand.vec_id,
        |                  list_dot_product(p.v, c.v) / (p.nrm * c.nrm) AS cs
        |           FROM cand JOIN n p ON p.vec_id = probe_id
        |                     JOIN n c ON c.vec_id = cand.vec_id)
        |SELECT probe_id, rnk, vec_id, round(cs, 4) AS cs
        |FROM (SELECT probe_id, vec_id, cs,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rnk
        |      FROM scored)
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
  )
}
