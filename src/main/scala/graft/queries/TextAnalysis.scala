package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._

/** Text-analysis pillar over `documents.text`: token statistics, TF-IDF,
  * top-terms-per-language, character-n-gram language ID, quality scoring,
  * and rolling-hash fingerprinting. Everything is built-in string/array
  * functions and HOFs inside whole-stage codegen — the per-row work
  * pipelines inside the scan stage, and the only shuffles are the group-bys,
  * which is the shape that holds at 100 TB.
  */
object TextAnalysis {

  /** The full document row with `toks`, its lowercased non-empty token
    * array, appended. Repartitioned by doc_id first: the test corpus is one
    * parquet row group → one input partition, which would pin all
    * tokenization to one core (same rationale as Dedup.shingled).
    *
    * The token table is the shared substrate of every tokenizing consumer
    * (TF-IDF, BM25, PMI, BPE, quality, percentiles, Pipeline's filters,
    * Corpus construction, Dedup's keeper) — a production pipeline
    * tokenizes the corpus once, not once per metric. PARQUET, deliberately
    * NOT `persist`: an A/B at sf0.1 measured the token family's executor
    * CPU DOUBLING under `persist` (q145 1.6 → 21 s exec_ms, q110/q123
    * +10 s each) even while walls fell — local[32] parallelism hid a 2×
    * cluster-CPU bill.
    */
  private[queries] def tokenizedDocs(spark: SparkSession, dir: String): DataFrame =
    Substrates.parquet(spark, dir, "text/toks") {
      documents(spark, dir).repartition(col("doc_id"))
        .withColumn("toks",
          expr("filter(split(lower(text), ' '), x -> x <> '')"))
    }

  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    tokenizedDocs(spark, dir).select(col("doc_id"), col("lang"), col("toks"))

  /** Per-document token statistics (counting + length profile). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        round(expr("aggregate(transform(toks, t -> length(t)), 0, (a, v) -> a + v)")
          .cast("double") / size(col("toks")), 4).as("avg_len"))
      .orderBy("doc_id")

  /** TF-IDF: tf per (doc, term), df per term, idf = ln(N/df); top-3 terms
    * per document (docs < 50 to bound output; df/idf computed over the FULL
    * corpus first). Two group-bys + one broadcast of the scalar doc count —
    * no driver-side collect.
    */
  def tfIdf(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenized(spark, dir).select(col("doc_id"), explode(col("toks")).as("word"))
    val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .filter(col("doc_id") < 50)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("word"), round(col("tfidf"), 6).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Top-10 terms per language by frequency (window rank after group-agg). */
  def topTermsPerLang(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("word"))
    tokenized(spark, dir)
      .select(col("lang"), explode(col("toks")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select("lang", "rnk", "word", "cnt")
      .orderBy("lang", "rnk")
  }

  // Character-trigram marker profiles for the language-ID heuristic. (This
  // synthetic corpus shares one vocabulary across langs, so predictions
  // skew 'en' — the operator is what's under test, and the oracle applies
  // the identical profiles.)
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", " a ", "ow ", "er "),
    "de" -> Seq("der", "ein", "sch", "ung", "cht"),
    "es" -> Seq("que", "los", "ión", "ent", "ado"),
    "fr" -> Seq("les", "ent", "que", "eur", "ais"),
  )

  /** N-gram-heuristic language ID: count of profile trigrams present in the
    * document's character-trigram stream per language; argmax with a fixed
    * precedence tiebreak, 'und' when nothing matches.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scores = langProfiles.map { case (l, tris) =>
      val arr = tris.map(t => s"'${t}'").mkString("array(", ", ", ")")
      // Guard texts shorter than one trigram: Spark's sequence(1, len-2)
      // REVERSES when len < 3 (it steps downward, e.g. sequence(1,-1) =
      // [1,0,-1]) and would score junk substrings where the oracle's
      // range() is simply empty.
      expr(s"IF(length(text) < 3, 0, " +
           s"size(filter(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)), t -> array_contains($arr, t))))")
        .as(s"s_$l")
    }
    val pred = langProfiles.foldRight(lit("und")) { case ((l, _), e) =>
      val others = langProfiles.map(_._1).filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      when(col(s"s_$l") > 0 && others, lit(l)).otherwise(e)
    }
    documents(spark, dir)
      .select(col("doc_id") +: col("lang").as("true_lang") +: scores: _*)
      .withColumn("pred_lang", pred)
      .select("doc_id", "true_lang", "pred_lang", "s_en", "s_de", "s_es", "s_fr")
      .orderBy("doc_id")
  }

  // The quality-score definition is shared with the clean-corpus pipeline
  // (Corpus q67): ONE stopword list and ONE score formula, on both the Spark
  // and the oracle side, so the two queries cannot silently desynchronize.
  private[queries] val stopwords = Seq("the", "a", "is", "of", "and")
  private val stopArr = stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** stopword ratio over a column literally named `toks`. */
  private[queries] def stopRatioCol: Column =
    expr(s"size(filter(toks, x -> array_contains($stopArr, x)))").cast("double") /
      size(col("toks"))

  /** 0.5·stop_ratio + 0.5·min(n_tokens/100, 1), over `toks`. Pure rational
    * arithmetic — bit-equal across engines when ops run in this order.
    */
  private[queries] def scoreCol(stopRatio: Column): Column =
    lit(0.5) * stopRatio +
      lit(0.5) * least(size(col("toks")).cast("double") / 100.0, lit(1.0))

  /** The identical formula as DuckDB SQL, over a list column named `toks`. */
  private[queries] def scoreSql: String = {
    val arr = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"0.5 * (CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS DOUBLE) / len(toks))" +
      " + 0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)"
  }

  /** Quality scoring from length / punctuation / stopword ratios. The score
    * is deliberately NOT rounded: identical IEEE ops in identical order give
    * bit-equal doubles on both engines, whereas round() diverges on exact
    * .xxxx5 halves (decimal-string HALF_UP vs binary-double rounding).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .join(documents(spark, dir).select("doc_id", "text"), "doc_id")
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_punct",
        length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .withColumn("stop_ratio", stopRatioCol)
      .withColumn("score", scoreCol(col("stop_ratio")))
      .withColumn("bucket",
        when(col("score") >= 0.5, "high").when(col("score") >= 0.25, "mid").otherwise("low"))
      .select("doc_id", "n_tokens", "n_punct", "stop_ratio", "score", "bucket")
      .orderBy("doc_id")

  /** Document fingerprint: polynomial rolling hash (base 31, mod 1e9+7) over
    * the normalized character stream — an order-sensitive exact fingerprint
    * (vs. the order-insensitive md5 set digest in Dedup). Integer-only, so
    * engine-independent.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm", regexp_replace(lower(col("text")), "[^a-z ]", ""))
      .select(col("doc_id"),
        expr("aggregate(transform(split(norm, ''), c -> cast(ascii(c) as bigint)), " +
             "cast(0 as bigint), (h, c) -> pmod(h * 31 + c, 1000000007))").as("fp"))
      .orderBy("doc_id")

  /** Document-length distribution per language: exact interpolated
    * percentiles (p25/p50/p90) plus the approximate-percentile sketch with a
    * bounded-error acceptance flag — the same verifiability pattern as x01:
    * the oracle checks the exact values, and `p50_ok` proves the sketch
    * (mergeable, constant memory — the one that runs at 100 TB where exact
    * percentile's full sort-per-group does not) lands within 10% of truth.
    */
  def tokenPercentiles(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("lang"), size(col("toks")).as("n"))
      .groupBy("lang")
      .agg(percentile(col("n"), array(lit(0.25), lit(0.5), lit(0.9))).as("ps"),
           percentile_approx(col("n"), lit(0.5), lit(10000)).as("ap50"))
      .select(col("lang"),
        round(col("ps").getItem(0), 4).as("p25"),
        round(col("ps").getItem(1), 4).as("p50"),
        round(col("ps").getItem(2), 4).as("p90"),
        (abs(col("ap50") - col("ps").getItem(1)) / col("ps").getItem(1) <= 0.1).as("p50_ok"))
      .orderBy("lang")

  /** Token-count histogram: fixed-width buckets of 20 tokens; per bucket the
    * doc count and the observed range. One scan + one small agg — the shape
    * to eyeball a corpus's length profile before choosing packing lengths.
    */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(floor(size(col("toks")) / 20).as("bucket"), size(col("toks")).as("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min("n").as("min_n"), max("n").as("max_n"))
      .orderBy("bucket")

  /** GPT-2-style pre-tokenizer alternation: contraction suffixes, then
    * space-prefixed letter runs / digit runs / punctuation runs, then
    * whitespace runs. Deliberately lookahead-free so the IDENTICAL pattern
    * runs under both Java regex (Spark) and RE2 (the DuckDB oracle) —
    * RE2 has no lookahead, and leftmost-first alternation agrees between
    * the two engines.
    */
  // Whitespace is an EXPLICIT class, not \s: Java's \s includes vertical
  // tab (\x0B), RE2's (DuckDB) does not — the one char the engines'
  // shorthand classes disagree on.
  private val bpeIshPattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+"

  /** Token counting two ways (brief: "whitespace + a BPE-ish regex"):
    * per-document whitespace token count vs BPE-ish pre-token count. The
    * regex runs codegen'd (`RegExpExtractAll` is a native expression, not a
    * UDF); one narrow scan + per-row work, no shuffle except the final sort.
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).repartition(col("doc_id"))
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), x -> x <> ''))").as("n_ws"),
        size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0)))
          .as("n_bpe"))
      .orderBy("doc_id")

  /** Adjacent-duplicate token collapse — classic boilerplate/stutter
    * normalization ("the the", "a a") a corpus-cleaning pipeline applies
    * before dedup. Indexed filter HOF (Spark lambda index is 0-based, the
    * DuckDB oracle's is 1-based — both spell "keep if first or differs from
    * previous"); emits before/after counts + md5 of the normalized text so
    * the oracle verifies the full reconstructed string, not just counts.
    * Map-only at scale.
    */
  def collapseAdjacent(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .withColumn("kept", expr("filter(toks, (t, i) -> i = 0 OR t <> toks[i-1])"))
      .select(col("doc_id"),
        size(col("toks")).as("n_before"), size(col("kept")).as("n_after"),
        md5(concat_ws(" ", col("kept"))).as("h"))
      .orderBy("doc_id")

  /** Frequent-items sketch: `approx_top_k` (DataSketches ItemsSketch under
    * the hood — mergeable, bounded memory, one pass; the heavy-hitters
    * companion to the HLL distinct-count sketches of q69). The sketch is
    * EXACT whenever distinct items ≤ ~0.75·maxItemsTracked (the corpus
    * vocabulary is far below 10000 at any SF), which is what makes an exact
    * DuckDB group-by oracle valid here; at true heavy-hitter scale the same
    * plan degrades gracefully to ε-approximate counts in fixed memory
    * instead of a vocabulary-sized hash per reducer.
    */
  def approxTopTerms(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(explode(col("toks")).as("word"))
      .agg(expr("approx_top_k(word, 5000, 10000)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("word"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("word"))

  /** Bigram collocations scored by pointwise mutual information — the
    * phrase-mining pass (Mikolov-style word2phrase) a corpus pipeline runs
    * before tokenizer training. Bigrams come from an indexed-transform HOF
    * (map-side, codegen'd, no explode-and-self-join); the two count tables
    * shuffle on their own keys and the scalar totals broadcast. The compared
    * column is the PMI *likelihood ratio* P(w1,w2)/(P(w1)P(w2)) — NOT its
    * log: IEEE 754 fully specifies ÷ and ×, so spelling the identical op
    * order in both engines makes the ratio bit-equal before round(4),
    * whereas ln goes through each engine's libm and a last-ulp disagreement
    * can flip the rounded digit (the one hash mismatch of round 5).
    * Consumers take the log themselves; the ordering PMI induces is
    * unchanged since ln is monotone.
    */
  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val t = tokenized(spark, dir)
    // Guard: slice(toks, 1, size-1) throws on a zero-token doc (length -1);
    // the oracle's range(1, len) just returns empty. <2 tokens → no bigrams.
    val bi = t.filter(size(col("toks")) >= 2).select(explode(expr(
        "transform(slice(toks, 1, size(toks)-1), (w, i) -> struct(w AS w1, toks[i+1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val nb = bc.agg(sum("c").cast("double").as("nb"))
    val uc = t.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val nu = uc.agg(sum("cu").cast("double").as("nu"))
    bc.filter(col("c") >= 20)
      .join(uc.toDF("w1", "ca"), "w1")
      .join(uc.toDF("w2", "cb"), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .withColumn("lr",
        (col("c").cast("double") / col("nb")) /
            ((col("ca").cast("double") / col("nu")) *
             (col("cb").cast("double") / col("nu"))))
      .select(col("w1"), col("w2"), col("c").as("n_pair"),
              round(col("lr"), 4).as("pmi_lr"))
      .orderBy("w1", "w2")
  }

  /** BM25 ranking (Robertson/Lucene formulation, k1=1.2, b=0.75) of every
    * document against a fixed 3-term query — the IR scoring layer above
    * TF-IDF (q44). Corpus statistics (N, avgdl) broadcast as scalars; term
    * frequencies shuffle once on (doc, term); each term's contribution
    * lands in its own conditional-sum column so the final score adds in
    * FIXED term order (the q117 determinism trick). All docs emitted,
    * keyed by doc_id — no ordering on the float score, so engine ulp
    * differences can't reorder rows.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "scan", "window")
    val t = tokenized(spark, dir)
    val dl = t.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
                       avg("dl").as("avgdl"))
    val tf = t.select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(dfreq), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("sc",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * (lit(1.2) + lit(1.0))) /
        (col("tf") + lit(1.2) *
          (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
    val perTerm = terms.zipWithIndex.map { case (tm, i) =>
      sum(when(col("w") === tm, col("sc"))).as(s"s$i") }
    val total = terms.indices.map(i => coalesce(col(s"s$i"), lit(0.0))).reduce(_ + _)
    // Left join from the full doc set: a doc containing none of the query
    // terms scores 0.0 — it must still appear ("all docs emitted").
    dl.select("doc_id")
      .join(scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*),
            Seq("doc_id"), "left")
      .select(col("doc_id"), round(total, 4).as("score"))
      .orderBy("doc_id")
  }

  /** Heaps'-law vocabulary-growth curve — corpus diagnostics: cumulative
    * distinct-token count vs cumulative token count in doc_id order (the
    * curve data teams read to judge corpus diversity saturation before
    * adding more of a source). Running DISTINCT is not distributable as a
    * window, so it is decomposed: each word's FIRST document (one groupBy)
    * turns the running distinct into a running SUM of per-doc new-word
    * counts. The prefix sum itself is TWO-LEVEL, never a single-partition
    * window: docs hash into doc_id/256 buckets, the running sum inside each
    * bucket is a bucket-partitioned window (parallel), and each bucket's
    * starting offset is the sum of all earlier buckets' totals — computed
    * with a triangular join on the tiny per-bucket totals table and
    * broadcast back. At 10¹⁰ docs the per-bucket windows fan out across
    * executors and the offsets table stays ~n_docs/256 rows; nothing runs
    * in one task. Integer-only end-to-end (bit-exact across engines; the
    * oracle keeps the plain cumulative window because DuckDB's single-node
    * sum over ints is the same numbers). Curve sampled every 50 docs.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenized(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("word"))
    val newPerDoc = toks.groupBy("word").agg(min("doc_id").as("first_doc"))
      .groupBy(col("first_doc").as("doc_id")).agg(count(lit(1)).as("n_new"))
    val tokPerDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val perDoc = tokPerDoc.join(newPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
              coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("bucket", floor(col("doc_id") / 256))
    val wB = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = perDoc
      .withColumn("loc_tok", sum("n_tok").over(wB))
      .withColumn("loc_new", sum("n_new").over(wB))
    val totals = perDoc.groupBy("bucket")
      .agg(sum("n_tok").as("t_tok"), sum("n_new").as("t_new"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.bucket") < col("a.bucket"), "left")
      .groupBy(col("a.bucket").as("bucket"))
      .agg(coalesce(sum("b.t_tok"), lit(0L)).as("off_tok"),
           coalesce(sum("b.t_new"), lit(0L)).as("off_new"))
    local.join(broadcast(offsets), "bucket")
      .withColumn("cum_tokens", col("loc_tok") + col("off_tok"))
      .withColumn("vocab_size", col("loc_new") + col("off_new"))
      .filter(col("doc_id") % 50 === 0)
      .select("doc_id", "cum_tokens", "vocab_size")
      .orderBy("doc_id")
  }

  /** BPE iteration-0 statistics: frequency of every adjacent character pair,
    * weighted by word frequency — the count table a byte-pair-encoding
    * tokenizer trainer (Sennrich et al. 2016) builds before its first merge.
    * Scale shape: the corpus collapses to its VOCABULARY first (one shuffle
    * on word; Heaps' law says |vocab| ≪ corpus), and pair explosion runs on
    * the tiny weighted vocab, never on raw text. Integer counts end-to-end.
    */
  def bpePairStats(spark: SparkSession, dir: String): DataFrame = {
    val vocab = tokenized(spark, dir)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // Guard length >= 2: Spark's sequence(1, 0) would generate DESCENDING
    // [1, 0] rather than an empty array (the q110 slice hazard class).
    vocab.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"),
        col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("n"))
      .orderBy(col("n").desc, col("pair")).limit(50)
  }

  /** The first 8 BPE merge rules, learned: per round, argmax the weighted
    * adjacent-pair counts over the symbolized vocabulary (ties broken
    * lexicographically), then apply the merge left-to-right non-overlapping
    * via an `aggregate` HOF fold and re-count. The driver sees ONE 3-field
    * row per round (the argmax — the q62/q107 scalar-per-round convention);
    * the vocab table stays distributed, localCheckpoint truncates the
    * 8-round lineage. TextAnalysisSpec proves the rules equal a from-scratch
    * reference BPE trainer; the DuckDB oracle (`bpeMergesOracle`) mirrors
    * the trainer with the 8 rounds UNROLLED — the fixed round count turns
    * the iteration into one (large) SQL statement, so the learning path is
    * hash-checked like everything else.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
    var vocab = tokenized(spark, dir)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"))
      .localCheckpoint()
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to 8) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"),
          col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect()(0)
      val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
      rules += ((round, a, b, n))
      // Left-to-right non-overlapping merge: fold each symbol into the
      // accumulator, joining with the previous symbol iff the two form the
      // learned pair. A just-merged symbol can't re-merge (its string is
      // a||b, never equal to a — that is the non-overlap guarantee).
      vocab = vocab.withColumn("syms", expr(
        s"""aggregate(syms, cast(array() as array<string>), (acc, s) ->
           |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${esc(a)}' AND s = '${esc(b)}'
           |       THEN concat(slice(acc, 1, size(acc)-1), array('${esc(a + b)}'))
           |       ELSE concat(acc, array(s)) END)""".stripMargin))
        .localCheckpoint()
    }
    import spark.implicits._
    rules.result().toDF("rule_no", "a", "b", "n").orderBy("rule_no")
  }

  /** The 8 merge rules `bpeMerges` learns at the driver's gate corpus
    * (sf0.01), pinned as literals the way q41 pins its hyperplanes: the
    * trainer is deterministic (weighted argmax, lexicographic tiebreak), so
    * re-running q130 at sf0.01 reproduces exactly this sequence — recorded
    * here so the ENCODE pass is a pure non-iterative query both engines can
    * run. This mirrors production tokenizer deployment: train once, pin the
    * merge table, apply it everywhere as data.
    */
  val bpeRules8: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** q130's hard-signal companion: `bpeEncode` under the pinned rule table.
    * Unlike q130 (iterative argmax + rewrite, rows-only for the driver),
    * this IS one statement per engine — 8 chained merge folds — so the
    * DuckDB oracle hash-checks the whole BPE family's apply path.
    */
  def bpeEncodePinned(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark, dir, bpeRules8)

  /** Per-language tokenizer fertility under the pinned BPE table — the
    * tokenizer-equity metric multilingual corpus reports track (fertility =
    * BPE tokens per whitespace word; a language far above the corpus mean
    * is under-served by the learned merges and pays more sequence length
    * per sentence). Rides the q130e encode (distinct-word dictionary fold +
    * broadcast join back), then one tiny per-language aggregation. The
    * fertility quotient is emitted RAW: sum(long)/sum(long) is one
    * correctly-rounded IEEE division of exactly-representable integers,
    * bit-identical in both engines — no rounding needed, no libm touched.
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(bpeEncodePinned(spark, dir), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
      .orderBy("lang")

  /** Apply learned BPE merge rules: encode every document and report its
    * token count under the learned vocabulary (plus the whitespace-word
    * count for the compression ratio). The production shape: the DISTINCT
    * word set is encoded once — each rule is one codegen'd HOF fold, chained
    * in merge order — and the per-word token counts join back to the corpus
    * (word dictionary join, broadcast-sized by Heaps' law), so the per-rule
    * folds never run over raw text. Rules are runtime arguments (the output
    * of `bpeMerges`), so this is an operator function, not a registry entry;
    * TextAnalysisSpec proves it against the reference trainer's encoding.
    */
  def bpeEncode(spark: SparkSession, dir: String,
                rules: Seq[(String, String)]): DataFrame = {
    def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
    val words = tokenized(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("word"))
    val encoded = rules.foldLeft(
      words.select("word").distinct().withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))) {
      case (d, (a, b)) => d.withColumn("syms", expr(
        s"""aggregate(syms, cast(array() as array<string>), (acc, s) ->
           |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${esc(a)}' AND s = '${esc(b)}'
           |       THEN concat(slice(acc, 1, size(acc)-1), array('${esc(a + b)}'))
           |       ELSE concat(acc, array(s)) END)""".stripMargin))
    }.select(col("word"), size(col("syms")).as("n_sym"))
    words.join(broadcast(encoded), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q129_bpe_pair_stats"    -> bpePairStats _,
    "q130_bpe_merges"        -> bpeMerges _,
    "q130e_bpe_encode"       -> bpeEncodePinned _,
    "q141_bpe_fertility"     -> bpeFertility _,
    "q128_vocab_growth"      -> vocabGrowth _,
    "q122_bm25"              -> bm25 _,
    "q110_pmi_bigrams"       -> pmiBigrams _,
    "q43_token_stats"        -> tokenStats _,
    "q79_token_counts"       -> tokenCounts _,
    "q81_collapse_adjacent"  -> collapseAdjacent _,
    "q83_approx_top_terms"   -> approxTopTerms _,
    "q65_token_percentiles"  -> tokenPercentiles _,
    "q66_token_histogram"    -> tokenHistogram _,
    "q44_tf_idf"             -> tfIdf _,
    "q45_top_terms_per_lang" -> topTermsPerLang _,
    "q46_lang_id"            -> langId _,
    "q47_quality_score"      -> qualityScore _,
    "q48_fingerprint"        -> fingerprint _,
  )

  private val duckToks =
    "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  // Same pattern as bpeIshPattern with SQL-doubled apostrophes; DuckDB
  // standard strings pass backslashes through verbatim.
  private val duckBpeIsh =
    "''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+"

  // q130e oracle: each word becomes a delimiter-wrapped symbol string
  // ("low" → ^l$^o$^w$ with ^=chr(1), $=chr(2)); one non-recursive
  // `replace` of ^a$^b$ with ^ab$ is then EXACTLY one left-to-right
  // non-overlapping merge pass — the scanner resumes after each inserted
  // replacement (no rescan), matching the Spark-side `aggregate` fold, and
  // the delimiters make cross-symbol false matches impossible (chr(1)/chr(2)
  // cannot appear inside a token: tokens come from the documents' text).
  // Symbol count = count of chr(1) markers.
  private def duckSym(s: String): String =
    s"chr(1)||'${s.replace("'", "''")}'||chr(2)"
  private val duckBpeFold: String =
    bpeRules8.foldLeft("s") { case (e, (a, b)) =>
      s"replace($e, ${duckSym(a)}||${duckSym(b)}, ${duckSym(a + b)})"
    }

  /** q130's oracle — the 8 learning rounds UNROLLED: a fixed round count
    * makes the "iterative" trainer one SQL statement after all. Each round
    * is a (pair-stat, argmax, rewrite) CTE triple over the delimiter-wrapped
    * vocabulary strings of the q130e convention: pair counts come from TRUE
    * list adjacency (overlapping occurrences, as BPE counts), while the
    * rewrite's single non-recursive `replace` is exactly one leftmost
    * non-overlapping merge pass (the scanner resumes after each insertion —
    * the same argument documented at `duckBpeFold`). Ties break on binary
    * string order in both engines.
    */
  private val bpeMergesOracle: String = {
    val sym0 = "chr(1) || array_to_string(list_transform(range(1, len(word)+1), " +
      "i -> substr(word, i, 1)), chr(2)||chr(1)) || chr(2)"
    val head =
      s"""WITH toks AS (SELECT unnest($duckToks) AS word FROM documents),
         |v0 AS (SELECT CAST(count(*) AS BIGINT) AS cnt, $sym0 AS s
         |       FROM toks GROUP BY word)""".stripMargin
    val rounds = (1 to 8).map { r =>
      s""",
         |y$r AS (SELECT cnt, string_split(substr(s, 2, len(s)-2), chr(2)||chr(1)) AS y
         |        FROM v${r - 1}),
         |p$r AS (SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS n
         |        FROM (SELECT cnt, unnest(list_transform(range(1, len(y)),
         |                i -> {'a': y[i], 'b': y[i+1]})) AS p
         |              FROM y$r WHERE len(y) >= 2)
         |        GROUP BY 1, 2),
         |m$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
         |v$r AS (SELECT cnt, replace(s, chr(1)||m.a||chr(2)||chr(1)||m.b||chr(2),
         |               chr(1)||m.a||m.b||chr(2)) AS s FROM v${r - 1}, m$r m)""".stripMargin
    }.mkString
    val union = (1 to 8)
      .map(r => s"SELECT CAST($r AS INT) AS rule_no, a, b, n FROM m$r")
      .mkString("\n", "\nUNION ALL ", "\nORDER BY rule_no")
    head + rounds + union
  }

  val oracles: Map[String, String] = Map(
    "q130_bpe_merges" -> bpeMergesOracle,
    "q130e_bpe_encode" ->
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS word FROM documents),
         |w AS (SELECT DISTINCT word FROM toks),
         |s0 AS (SELECT word,
         |         chr(1) || array_to_string(list_transform(
         |           range(1, len(word)+1), i -> substr(word, i, 1)),
         |           chr(2)||chr(1)) || chr(2) AS s
         |       FROM w),
         |n AS (SELECT word,
         |        CAST(len(s) - len(replace(s, chr(1), '')) AS BIGINT) AS n_sym
         |      FROM (SELECT word, $duckBpeFold AS s FROM s0))
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n.n_sym) AS BIGINT) AS n_bpe_tokens
         |FROM toks t JOIN n ON n.word = t.word
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    "q141_bpe_fertility" ->
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS word FROM documents),
         |w AS (SELECT DISTINCT word FROM toks),
         |s0 AS (SELECT word,
         |         chr(1) || array_to_string(list_transform(
         |           range(1, len(word)+1), i -> substr(word, i, 1)),
         |           chr(2)||chr(1)) || chr(2) AS s
         |       FROM w),
         |n AS (SELECT word,
         |        CAST(len(s) - len(replace(s, chr(1), '')) AS BIGINT) AS n_sym
         |      FROM (SELECT word, $duckBpeFold AS s FROM s0)),
         |d AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |        CAST(sum(n.n_sym) AS BIGINT) AS n_bpe_tokens
         |      FROM toks t JOIN n ON n.word = t.word
         |      GROUP BY t.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS n_words,
         |       CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         |       CAST(sum(n_bpe_tokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
         |         AS fertility
         |FROM documents doc JOIN d USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q129_bpe_pair_stats" ->
      s"""WITH toks AS (SELECT unnest($duckToks) AS word FROM documents),
         |v AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
         |p AS (SELECT unnest(list_transform(range(1, len(word)),
         |                    i -> substr(word, i, 2))) AS pair, cnt
         |      FROM v WHERE len(word) >= 2)
         |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
         |FROM p GROUP BY pair
         |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "q128_vocab_growth" ->
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS word FROM documents),
         |np AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
         |       FROM (SELECT word, min(doc_id) AS first_doc FROM toks GROUP BY word)
         |       GROUP BY first_doc),
         |tp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         |       FROM toks GROUP BY doc_id),
         |c AS (SELECT tp.doc_id,
         |        sum(n_tok) OVER (ORDER BY tp.doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         |        sum(coalesce(n_new, 0)) OVER (ORDER BY tp.doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vocab_size
         |      FROM tp LEFT JOIN np ON np.doc_id = tp.doc_id)
         |SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |       CAST(vocab_size AS BIGINT) AS vocab_size
         |FROM c WHERE doc_id % 50 = 0 ORDER BY doc_id""".stripMargin,
    "q122_bm25" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM t),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS w FROM t)
         |       WHERE w IN ('join', 'scan', 'window') GROUP BY doc_id, w),
         |df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         |s AS (SELECT tf.doc_id, tf.w,
         |        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |        (tf * (1.2 + 1.0)) /
         |        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS sc
         |      FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
         |g AS (SELECT doc_id,
         |        sum(CASE WHEN w = 'join' THEN sc END) AS s0,
         |        sum(CASE WHEN w = 'scan' THEN sc END) AS s1,
         |        sum(CASE WHEN w = 'window' THEN sc END) AS s2
         |      FROM s GROUP BY doc_id)
         |SELECT dl.doc_id,
         |       round(coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0), 4) AS score
         |FROM dl LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q110_pmi_bigrams" ->
      s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
         |bi AS (SELECT unnest(list_transform(range(1, len(toks)),
         |                     i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
         |       FROM t),
         |bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c FROM bi GROUP BY 1, 2),
         |nb AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM bc),
         |uni AS (SELECT unnest(toks) AS w FROM t),
         |uc AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
         |nu AS (SELECT CAST(sum(cu) AS DOUBLE) AS n FROM uc)
         |SELECT bc.w1, bc.w2, CAST(bc.c AS BIGINT) AS n_pair,
         |       round((CAST(bc.c AS DOUBLE) / (SELECT n FROM nb)) /
         |             ((CAST(a.cu AS DOUBLE) / (SELECT n FROM nu)) *
         |              (CAST(b.cu AS DOUBLE) / (SELECT n FROM nu))), 4) AS pmi_lr
         |FROM bc JOIN uc a ON a.w = bc.w1 JOIN uc b ON b.w = bc.w2
         |WHERE bc.c >= 20
         |ORDER BY w1, w2""".stripMargin,
    "q79_token_counts" ->
      s"""SELECT doc_id,
         |       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_ws,
         |       CAST(len(regexp_extract_all(text, '$duckBpeIsh')) AS INT) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,
    // Exact oracle is valid because vocab ≪ sketch capacity (see Scaladoc).
    "q83_approx_top_terms" ->
      s"""SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT unnest($duckToks) AS word FROM documents)
         |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    "q81_collapse_adjacent" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |k AS (SELECT doc_id, toks,
         |             list_filter(toks, (x, i) -> i = 1 OR x <> toks[i-1]) AS kept
         |      FROM t)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_before,
         |       CAST(len(kept) AS INT) AS n_after,
         |       md5(array_to_string(kept, ' ')) AS h
         |FROM k ORDER BY doc_id""".stripMargin,
    "q43_token_stats" ->
      s"""SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |       CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         |       round(list_aggregate(list_transform(toks, t -> len(t)), 'sum') * 1.0
         |             / len(toks), 4) AS avg_len
         |FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q65_token_percentiles" ->
      s"""SELECT lang,
         |       round(quantile_cont(n, 0.25), 4) AS p25,
         |       round(quantile_cont(n, 0.5), 4) AS p50,
         |       round(quantile_cont(n, 0.9), 4) AS p90,
         |       true AS p50_ok
         |FROM (SELECT lang, CAST(len($duckToks) AS INT) AS n FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q66_token_histogram" ->
      s"""SELECT CAST(floor(n / 20) AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       min(n) AS min_n, max(n) AS max_n
         |FROM (SELECT CAST(len($duckToks) AS INT) AS n FROM documents)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q44_tf_idf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, word, tf * ln(n_docs * 1.0 / df) AS tfidf
         |           FROM tf JOIN dfreq USING (word) CROSS JOIN n
         |           WHERE doc_id < 50)
         |SELECT doc_id, rnk, word, round(tfidf, 6) AS tfidf
         |FROM (SELECT doc_id, word, tfidf,
         |             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
         |      FROM scored)
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q45_top_terms_per_lang" ->
      s"""WITH toks AS (SELECT lang, unnest($duckToks) AS word FROM documents),
         |cnts AS (SELECT lang, word, count(*) AS cnt FROM toks GROUP BY 1, 2)
         |SELECT lang, rnk, word, cnt
         |FROM (SELECT lang, word, cnt,
         |             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rnk
         |      FROM cnts)
         |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,
    "q46_lang_id" -> {
      val scoreCols = langProfiles.map { case (l, tris) =>
        val arr = tris.map(t => s"'$t'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(list_transform(range(1, len(text) - 1), i -> substr(text, i, 3)), t -> list_contains($arr, t))) AS INT) AS s_$l"
      }.mkString(",\n       ")
      val pred = langProfiles.reverse.foldLeft("'und'") { case (e, (l, _)) =>
        val others = langProfiles.map(_._1).filter(_ != l)
          .map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN s_$l > 0 AND $others THEN '$l' ELSE $e END"
      }
      s"""SELECT doc_id, true_lang, $pred AS pred_lang, s_en, s_de, s_es, s_fr
         |FROM (SELECT doc_id, lang AS true_lang,
         |       $scoreCols
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "q47_quality_score" -> {
      val stopArr = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id, text, $duckToks AS toks FROM documents),
         |scored AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS INT) AS n_tokens,
         |         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
         |         CAST(len(list_filter(toks, x -> list_contains($stopArr, x))) AS DOUBLE)
         |           / len(toks) AS stop_ratio,
         |         $scoreSql AS score
         |  FROM base)
         |SELECT doc_id, n_tokens, n_punct, stop_ratio, score,
         |       CASE WHEN score >= 0.5 THEN 'high'
         |            WHEN score >= 0.25 THEN 'mid' ELSE 'low' END AS bucket
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "q48_fingerprint" ->
      """SELECT doc_id,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ''),
        |                             c -> CAST(ascii(c) AS BIGINT))),
        |              (h, c) -> (h * 31 + c) % 1000000007) AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
