package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Proves the distributed BPE trainer (q130, driver-loop + HOF merge fold)
  * against a from-scratch single-machine reference implementation on the
  * same vocabulary — the rows-only driver check gets a real semantic proof
  * here, per the SparkEntry contract for non-SQL-expressible operators.
  */
class TextAnalysisSpec extends SparkSpec {

  /** Reference BPE trainer: plain Scala, no Spark. Same conventions as
    * q130: counts weighted by word frequency, argmax ties broken by
    * (pair) lexicographically, merges applied left-to-right non-overlapping.
    */
  private def referenceBpe(vocab: Seq[(String, Long)],
                           nMerges: Int): Seq[(Int, String, String, Long)] = {
    def mergeLR(syms: List[String], a: String, b: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
        else acc :+ s
      }
    var v: Seq[(List[String], Long)] =
      vocab.map { case (w, c) => (w.map(_.toString).toList, c) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, c) <- v if syms.size >= 2; w <- syms.sliding(2))
        counts((w.head, w(1))) += c
      val ((a, b), n) = counts.toSeq.minBy { case ((pa, pb), pn) => (-pn, pa, pb) }
      out += ((round, a, b, n))
      v = v.map { case (syms, c) => (mergeLR(syms, a, b), c) }
    }
    out.result()
  }

  private lazy val vocab: Seq[(String, Long)] =
    graft.tables.Tables.documents(spark, sfDir)
      .select(explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  test("q130 merge rules equal the reference BPE trainer's, including counts") {
    val distributed = TextAnalysis.bpeMerges(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val reference = referenceBpe(vocab, 8)
    assert(distributed == reference,
      s"distributed=$distributed\nreference=$reference")
  }

  test("q129's top pair is q130's first merge rule") {
    val topPair = TextAnalysis.bpePairStats(spark, sfDir).collect()(0)
    val rule1 = TextAnalysis.bpeMerges(spark, sfDir).collect()(0)
    assert(topPair.getString(0) == rule1.getString(1) + rule1.getString(2))
    assert(topPair.getLong(1) == rule1.getLong(3))
  }

  test("bpeEncode token counts equal the reference encoder's under the learned rules") {
    val rules = referenceBpe(vocab, 8).map(r => (r._2, r._3))
    def refEncode(w: String): Int =
      rules.foldLeft(w.map(_.toString).toList) { case (syms, (a, b)) =>
        syms.foldLeft(List.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
          else acc :+ s
        }
      }.size
    val docTotals = graft.tables.Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), ' '), x -> x <> '')")).as("word"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(ws => (ws.size.toLong, ws.map(w => refEncode(w._2).toLong).sum))
      .toMap
    val dist = TextAnalysis.bpeEncode(spark, sfDir, rules).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(dist == docTotals)
    // the learned vocab must compress: strictly fewer BPE tokens than chars
    val rawChars = graft.tables.Tables.documents(spark, sfDir)
      .select(explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("w"))
      .agg(sum(length(col("w")))).collect()(0).getLong(0)
    assert(dist.values.map(_._2).sum < rawChars)
  }

  test("q130e applies the PINNED rule table: equals the reference encoder under bpeRules8") {
    // The pinned table is trained at sf0.01 (q130's deterministic output
    // there — re-derivable by running bpeMerges on that corpus); applying it
    // to THIS fixture is still a pure function of (corpus, rules), which is
    // exactly what the oracle-checked q130e computes. Prove the distributed
    // apply path against the plain-Scala encoder on the same pinned rules.
    val rules = TextAnalysis.bpeRules8
    def refEncode(w: String): Int =
      rules.foldLeft(w.map(_.toString).toList) { case (syms, (a, b)) =>
        syms.foldLeft(List.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
          else acc :+ s
        }
      }.size
    val expected = graft.tables.Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), ' '), x -> x <> '')")).as("word"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(ws => (ws.size.toLong, ws.map(w => refEncode(w._2).toLong).sum))
      .toMap
    val got = TextAnalysis.bpeEncodePinned(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("merges strictly coarsen the vocabulary: total symbol count never increases") {
    // After 8 merges every learned rule must have fired at least once —
    // each application shrinks one word's symbol list by exactly one.
    val ref = referenceBpe(vocab, 8)
    assert(ref.map(_._4).forall(_ > 0))
    // and rule counts are non-increasing across rounds only if later pairs
    // never out-count earlier ones at learn time — not guaranteed in
    // general BPE, so assert the weaker invariant: every count is positive
    // and the first rule dominates all later LEARNED counts.
    assert(ref.map(_._4).max == ref.head._4)
  }

  test("the token table materializes once and is shared across pillars") {
    // Plan-shape pin for the shared-substrate rule (same gate as the
    // shingle index and coarse assignment): the tokenized corpus persists
    // once per (session, corpus), and every tokenizing consumer — the
    // TextAnalysis family, Pipeline's filters, Corpus construction — must
    // PLAN against the cache instead of re-splitting the raw text. A
    // refactor that drops the reuse re-tokenizes the corpus ~15x per pass
    // at scale without failing any correctness test — this fails.
    // (Parquet-materialized, not persist-cached: the InMemory columnar
    // cache row-decodes complex types — measured 2× executor CPU on the
    // family. Reuse therefore shows as a scan of the one materialized
    // table with NO re-tokenization in the consumer's plan.)
    Substrates.evict(spark)
    TextAnalysis.tokenStats(spark, sfDir).collect() // builds + materializes
    def readsSubstrate(df: org.apache.spark.sql.DataFrame, who: String): Unit = {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("toks#"),
        s"$who does not read the materialized token table")
      assert(!plan.contains("split(lower("),
        s"$who re-tokenizes the corpus instead of reading the substrate")
      // and the physical scan really is the materialized parquet table
      assert(df.queryExecution.executedPlan.toString.contains("graft_toks"),
        s"$who's scan is not the materialized token parquet")
    }
    readsSubstrate(Pipeline.modelQualityFilter(spark, sfDir), "model filter")
    Pipeline.modelQualityFilter(spark, sfDir).collect()
    readsSubstrate(Corpus.curriculum(spark, sfDir), "curriculum")
    Corpus.curriculum(spark, sfDir).collect()
    // re-running consumers must reuse the SAME materialized table: the
    // cached relation's attribute ids are stable across invocations (only
    // per-plan derived expression ids differ), so compare the Relation line.
    def relLine(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString.linesIterator
        .filter(_.contains("Relation [")).mkString("\n")
    val p1 = relLine(TextAnalysis.tokenStats(spark, sfDir))
    TextAnalysis.tokenStats(spark, sfDir).collect()
    val p2 = relLine(TextAnalysis.tokenStats(spark, sfDir))
    assert(p1.nonEmpty && p1 == p2,
      "re-running rebuilt a different substrate table")
    Substrates.evict(spark)
  }
}
