package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Corpus-construction operators a training-data pipeline needs on top of
  * the analysis pillars: deterministic sampling (uniform and stratified) and
  * the end-to-end clean-corpus composition (dedup → quality filter → mix
  * stats). Sampling is hash-based, NOT rand()-based: `md5(key)` makes the
  * sample a pure function of the data, so it is reproducible across runs,
  * engines, partitionings, and cluster sizes — `df.sample()`'s per-partition
  * RNG changes membership whenever the partitioning changes, which is
  * exactly what a 100 TB re-run can't afford. Comparing on the hex prefix
  * keeps the predicate engine-portable (no hex→int conversion) and it
  * pushes down to the scan like any other filter.
  */
object Corpus {

  /** Uniform ~16% sample: md5 of the key, keep hex-prefix < 0x29 (41/256).
    * Deterministic: the same doc_ids are selected at any SF and any
    * parallelism.
    */
  def sampleHash(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < lit("29"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  // Per-stratum hex-prefix thresholds: en 50% ('80'=128/256), de 25%
  // ('40'=64/256), everything else ~10% ('1a'=26/256) — the "mix languages
  // at different rates" knob of corpus construction.
  private def strataThreshold = when(col("lang") === "en", lit("80"))
    .when(col("lang") === "de", lit("40"))
    .otherwise(lit("1a"))

  /** Stratified deterministic sample: per-language rates, reported as
    * total vs sampled counts per stratum. One scan, no join — the stratum
    * threshold is a CASE expression, and the sample decision is the same
    * md5-prefix predicate as `sampleHash`, evaluated as a conditional
    * aggregate so totals and samples come from a single pass.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("sampled",
        substring(md5(col("doc_id").cast("string")), 1, 2) < strataThreshold)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
           count(when(col("sampled"), 1)).as("n_sampled"))
      .orderBy("lang")

  /** End-to-end clean-corpus pipeline — the composition every LLM data run
    * executes: exact-dedup (keep min doc_id per md5(text) group) → quality
    * gate (same score as q47, keep ≥ 0.25) → per-language mix report.
    * Aggregates are chosen order-independent (counts, integer sums, min/max
    * of per-row doubles) so the result is bit-equal at any partitioning —
    * avg(double) would be summation-order-dependent.
    */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    // Both stages reuse their pillar's canonical definition: the keep-set is
    // Dedup's exact-dedup representative, the gate is TextAnalysis' quality
    // score (one stopword list, one formula — they cannot desynchronize).
    val keep = Dedup.exactDedupGroups(spark, dir).select("doc_id")
    TextAnalysis.tokenizedDocs(spark, dir)
      .join(keep, "doc_id")
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("score", TextAnalysis.scoreCol(TextAnalysis.stopRatioCol))
      .filter(col("score") >= 0.25)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("n_tokens_sum"),
           min("score").as("min_score"),
           max("score").as("max_score"))
      .orderBy("lang")
  }

  /** Per-group bounded sampling — N deterministic examples per language:
    * order by md5(doc_id) (the engine-portable "random" key, as in q63) and
    * keep the first 3 per lang, a `row_number` window planned on the native
    * TopKPerKey operator. The bounded-heap plan means a language with a
    * billion docs costs the same shuffle as one with a thousand — no
    * per-lang sort.
    */
  def sampleTopNPerLang(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"), col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rnk", row_number().over(Window.partitionBy("lang").orderBy("h", "doc_id")))
      .filter(col("rnk") <= 3)
      .select("lang", "rnk", "doc_id")
      .orderBy("lang", "rnk")

  /** Deterministic WEIGHTED sampling (sequential Poisson sampling, Ohlsson
    * 1998): each doc draws a uniform integer u ∈ [1, 2²⁴] from its md5
    * (pure function of the data, as all sampling here) and gets priority
    * u/w with w = n_chars; the k SMALLEST priorities are a
    * weighted-without-replacement sample — inclusion probability is
    * approximately proportional to w (the πps approximation the scheme is
    * known for). The op behind "sample training docs proportional to
    * quality score". One map pass + a bounded top-k
    * (TakeOrderedAndProject): no shuffle of the corpus, holds at 100 TB.
    * Determinism: u and w are integers exactly representable as doubles,
    * and u/w is ONE correctly-rounded IEEE-754 division — bit-identical in
    * every engine, unlike the earlier A-Res spelling whose libm `ln` could
    * flip a rounded value at a .5e-8 boundary (ADVICE r6). Both ranking
    * and the emitted pri are that exact quotient; no transcendental
    * touches the compared surface.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("double").as("w"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
           .cast("double") + 1.0).as("u"))
      .withColumn("pri", col("u") / col("w"))
      .orderBy(col("pri").asc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("pri"))

  /** Deterministic train/val/test split — the last step before a corpus
    * ships to training: each doc lands in exactly one split from its
    * md5(doc_id) hex prefix (< 'cc' = 204/256 ≈ 80% train, < 'e6' =
    * 230/256 ≈ 90% val, rest test). Hash-of-id, not random(): the split is
    * reproducible across runs/engines and stable under corpus appends (a
    * new doc never moves an old one between splits — the property that
    * keeps eval sets uncontaminated as the corpus grows). Disjointness and
    * coverage hold by construction of the CASE; the report is one scan +
    * one tiny agg, counts + integer sums only.
    */
  def splitReport(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string")), 1, 2) < lit("cc"), lit("train"))
          .when(substring(md5(col("doc_id").cast("string")), 1, 2) < lit("e6"), lit("val"))
          .otherwise(lit("test")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("split", "lang")

  /** q185 — LEAKAGE-SAFE train/val/test split: q137's deterministic hash
    * split keyed by the near-dup CLUSTER instead of the document (the
    * GroupKFold discipline). A doc-keyed split puts two near-identical
    * documents on opposite sides of the train/test boundary with
    * probability ≈ 2·p·(1−p) per pair — silent eval contamination that
    * q84/q143 decontamination cannot see because the leak comes from the
    * corpus itself. Keying the SAME md5 threshold rule by
    * coalesce(cluster_id, doc_id) sends every near-dup family to one
    * split by construction; singletons keep their own id (and q137's
    * assignment — identical hash input). Rides the materialized q62
    * labels: one broadcast-sized left join + a 3-row aggregation.
    * CorpusSpec proves zero straddling pairs AND that the doc-keyed rule
    * does leak on this corpus (the problem is real, not hypothetical).
    */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val keyed = documents(spark, dir).select("doc_id")
      .join(Dedup.ccLabels(spark, dir), Seq("doc_id"), "left")
      .withColumn("ck", coalesce(col("cluster_id"), col("doc_id")))
    val h = substring(md5(col("ck").cast("string")), 1, 2)
    keyed
      .withColumn("split",
        when(h < lit("cc"), lit("train"))
          .when(h < lit("e6"), lit("val"))
          .otherwise(lit("test")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("ck").as("n_clusters"))
      .orderBy("split")
  }

  /** Per-language inspection sample via the `TypedImperativeAggregate`
    * (functions/BottomKByHash.scala): the 5 docs with the smallest
    * (md5(doc_id), doc_id) rank per lang — a deterministic reservoir
    * equivalent (uniform but reproducible across runs/engines/appends,
    * the q63/q137 hash convention). The aggregate carries O(k) binary
    * state through partial aggregation, so at 100 TB the shuffle moves
    * k ids per (lang, partition) — never the corpus — where the
    * row_number window spelling would shuffle every row.
    */
  def stratifiedInspect(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy("lang")
      .agg(graft.functions.BottomKByHash.bottomKByHash(col("doc_id"), 5).as("sample"))
      .select(col("lang"), posexplode(col("sample")).as(Seq("i", "doc_id")))
      .select(col("lang"), (col("i") + 1).cast("int").as("rnk"), col("doc_id"))
      .orderBy("lang", "rnk")

  /** q150 — curriculum ordering: the training-order manifest. Each
    * document is quality-ranked WITHIN its language (q47's shared score
    * snippet — the same IEEE op spelling both engines, so even the float
    * sort keys are bit-equal), then languages are interleaved by rank:
    * global position orders by (lang_rank, lang), so epoch position k
    * cycles through every language's k-th best document — the standard
    * quality-curriculum + language-balance discipline for multilingual
    * pretraining. Ties inside a language break on doc_id; the global
    * (lang_rank, lang) key is unique by construction.
    *
    * Scale shape: `seq` is NOT a global row_number window (Spark plans an
    * unpartitioned window as ONE task holding the whole corpus — the exact
    * serialization point a 100 TB manifest can't afford). Instead it is
    * computed arithmetically from the per-language ranks and a broadcast
    * per-language count table: a row at rank r in language l is preceded
    * globally by min(r-1, cnt(l')) rows from every language l' (their
    * better-ranked docs) plus one row for each l' < l that still has an
    * r-th doc, so
    *   seq = 1 + Σ_l' min(r-1, cnt(l')) + |{l' < l : cnt(l') ≥ r}|.
    * cnt is a #langs-row aggregate, broadcast-cross-joined as one array
    * of (lang, cnt) structs and folded per row with `aggregate` — the only
    * per-row shuffles are the per-lang rank window (partitioned) and the
    * final manifest sort (range-partitioned exchange, which is what
    * writing a training manifest IS). CurriculumPlanSpec pins the plan to
    * zero single-partition exchanges.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("lang").orderBy(col("score").desc, col("doc_id"))
    val ranked = TextAnalysis.tokenizedDocs(spark, dir)
      .filter(size(col("toks")) > 0)
      .withColumn("stop_ratio", TextAnalysis.stopRatioCol)
      .withColumn("score", TextAnalysis.scoreCol(col("stop_ratio")))
      .withColumn("lang_rank", row_number().over(w))
    // #langs-row side: [(lang, cnt)] as a single-row array, broadcast.
    val counts = ranked.groupBy(col("lang").as("cl"))
      .agg(count(lit(1)).as("cnt"))
      .agg(collect_list(struct(col("cl"), col("cnt"))).as("lang_counts"))
    ranked
      .crossJoin(broadcast(counts))
      .withColumn("seq",
        lit(1L) + expr(
          """aggregate(lang_counts, 0L, (acc, c) ->
            |  acc + least(CAST(lang_rank AS BIGINT) - 1L, c.cnt)
            |      + CASE WHEN c.cnt >= lang_rank AND c.cl < lang
            |             THEN 1L ELSE 0L END)""".stripMargin))
      .select(col("seq"), col("doc_id"), col("lang"), col("lang_rank"),
              col("score"))
      .orderBy("seq")
  }

  /** q157 — dedup-aware sampling weights: instead of DROPPING near-dups
    * (q62/q153), down-weight them — every document gets sampling weight
    * 1/|its near-dup cluster|, so each duplicated content unit contributes
    * ONE expected copy to a training epoch regardless of how many times it
    * was crawled (the soft-dedup policy used when provenance diversity is
    * worth keeping). Cluster ids ride the materialized q62 CC labels;
    * singletons (docs in no near-dup pair) are their own cluster — the
    * coalesce key is the doc's own id, which cannot collide with a real
    * cluster label (labels are min member ids, and a labeled doc is never
    * a singleton). Scale: one left join onto the label table, then ONE
    * exchange on the cluster key feeding a partitioned window count — the
    * keyed subtree is scanned once (a groupBy-sizes + join-back spelling
    * would compute it twice). Cluster-key partitions are near-dup cluster
    * sized (bounded by the banding caps upstream), never corpus-sized.
    * 1/size is a single IEEE division — bit-equal across engines.
    */
  def dedupAwareWeights(spark: SparkSession, dir: String): DataFrame = {
    val wc = Window.partitionBy("ck")
    documents(spark, dir).select("doc_id")
      .join(Dedup.ccLabels(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("ck"))
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .select(col("doc_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size")).as("samp_w"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q157_dedup_aware_weights" -> dedupAwareWeights _,
    "q185_cluster_split"   -> clusterSplit _,
    "q150_curriculum"      -> curriculum _,
    "q140_stratified_inspect" -> stratifiedInspect _,
    "q137_split_report"     -> splitReport _,
    "q124_sample_weighted"  -> sampleWeighted _,
    "q63_sample_hash"       -> sampleHash _,
    "q64_sample_stratified" -> sampleStratified _,
    "q67_clean_corpus"      -> cleanCorpus _,
    "q103_sample_topn_per_group" -> sampleTopNPerLang _,
  )

  val oracles: Map[String, String] = Map(
    "q185_cluster_split" -> (Dedup.ccLabelsCte +
      """,
        |keyed AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS ck
        |          FROM documents d LEFT JOIN lbl l USING (doc_id)),
        |sp AS (SELECT ck,
        |         CASE WHEN substr(md5(CAST(ck AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |              WHEN substr(md5(CAST(ck AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM keyed)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT ck) AS BIGINT) AS n_clusters
        |FROM sp GROUP BY split ORDER BY split""".stripMargin),
    "q157_dedup_aware_weights" -> (Dedup.ccLabelsCte +
      """,
        |keyed AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS ck
        |          FROM documents d LEFT JOIN lbl l USING (doc_id)),
        |csz AS (SELECT ck, count(*) AS cluster_size FROM keyed GROUP BY 1)
        |SELECT k.doc_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
        |       CAST(1.0 AS DOUBLE) / s.cluster_size AS samp_w
        |FROM keyed k JOIN csz s USING (ck)
        |ORDER BY doc_id""".stripMargin),
    "q150_curriculum" ->
      s"""WITH toks AS (SELECT doc_id, lang,
         |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         |       FROM documents),
         |s AS (SELECT doc_id, lang, ${TextAnalysis.scoreSql} AS score
         |      FROM toks WHERE len(toks) > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |        ORDER BY score DESC, doc_id) AS lang_rank FROM s)
         |SELECT row_number() OVER (ORDER BY lang_rank, lang) AS seq,
         |       doc_id, lang, lang_rank, score
         |FROM r ORDER BY seq""".stripMargin,
    "q140_stratified_inspect" ->
      """SELECT lang, CAST(rnk AS INT) AS rnk, doc_id
        |FROM (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |      FROM documents)
        |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin,
    "q137_split_report" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split,
        |       lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q124_sample_weighted" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |u AS (SELECT doc_id, w,
        |        CAST(list_sum(list_transform(range(1, 7),
        |           p -> (strpos('0123456789abcdef', substr(h, p, 1)) - 1)
        |                * CAST(16 AS BIGINT) ** (6 - p))) AS DOUBLE) + 1.0 AS u
        |      FROM d)
        |SELECT doc_id, u / w AS pri
        |FROM u ORDER BY pri ASC, doc_id LIMIT 20""".stripMargin,
    "q103_sample_topn_per_group" ->
      """SELECT lang, rnk, doc_id
        |FROM (SELECT lang, doc_id, row_number() OVER (
        |        PARTITION BY lang
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |      FROM documents)
        |WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin,
    "q63_sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
        |ORDER BY doc_id""".stripMargin,
    "q64_sample_stratified" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(*) FILTER (WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |         CASE WHEN lang = 'en' THEN '80'
        |              WHEN lang = 'de' THEN '40' ELSE '1a' END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q67_clean_corpus" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |scored AS (
        |  SELECT d.lang, CAST(len(toks) AS INT) AS n_tokens,
        |         ${TextAnalysis.scoreSql} AS score
        |  FROM (SELECT doc_id, lang,
        |               list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) d
        |  JOIN keep USING (doc_id))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_sum,
        |       min(score) AS min_score, max(score) AS max_score
        |FROM scored WHERE score >= 0.25
        |GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
