package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q190 ExactSubstr: brute-force suffix-scan cross-check + the q115
  * supersession claim (a 15-token duplicate q115's fixed 16-token windows
  * cannot see, caught here with exact boundaries). The DuckDB oracle gate
  * proves the operator on the shipped corpora; these pin it on adversarial
  * fixtures and against an independent in-JVM reference.
  */
class ExactSubstrSpec extends SparkSpec {

  private val L = 8

  /** Write a documents.parquet fixture; returns its dir. */
  private def writeDocs(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("exsub").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** Independent in-JVM reference: suffix scan (token-wise lexicographic
    * sort, group-start ranks) + L-gram census + interval merge. O(n² log n)
    * — fixture-only.
    */
  private def brute(docs: Seq[(Long, Vector[String])]): Set[(Long, Int, Int, Long)] = {
    import Ordering.Implicits._
    val sufs = for ((d, t) <- docs; p <- t.indices) yield (d, p, t.drop(p): Seq[String])
    val sorted = sufs.sortBy(_._3)
    // group-start rank: the first index of each distinct suffix content
    val rankOf = scala.collection.mutable.Map.empty[(Long, Int), Long]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._3 == sorted(i)._3) {
        rankOf((sorted(j)._1, sorted(j)._2)) = i.toLong; j += 1
      }
      i = j
    }
    // census: L-grams by content, duplicated iff ≥2 distinct docs
    val grams = for ((d, t) <- docs; p <- 0 to t.length - L) yield (t.slice(p, p + L), d, p)
    val nd = grams.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val dupStarts = grams.collect { case (g, d, p) if nd(g) >= 2 => (d, p) }
    // per-doc interval merge
    dupStarts.groupBy(_._1).flatMap { case (d, ps) =>
      val sortedP = ps.map(_._2).sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // start, lastStart
      for (p <- sortedP) {
        if (spans.nonEmpty && p - spans.last._2 <= L)
          spans(spans.length - 1) = (spans.last._1, p)
        else spans += ((p, p))
      }
      spans.map { case (s, last) => (d, s, last + L - s, rankOf((d, s))) }
    }.toSet
  }

  private def run(dir: String): Set[(Long, Int, Int, Long)] =
    ExactSubstr.exactSubstrSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet

  test("a planted 15-token cross-doc duplicate is invisible to q115 (window 16) and exact here") {
    // Docs 1 and 2 share tokens s0..s14 (15 tokens) at different offsets,
    // surrounded by unrelated unique context; doc 3 is noise.
    val shared = (0 until 15).map(i => s"s$i")
    val a = (0 until 10).map(i => s"a$i") ++ shared ++ (0 until 10).map(i => s"b$i")
    val b = (0 until 4).map(i => s"c$i") ++ shared ++ (0 until 12).map(i => s"e$i")
    val c = (0 until 30).map(i => s"z$i")
    val dir = writeDocs(Seq(1L -> a.mkString(" "), 2L -> b.mkString(" "),
      3L -> c.mkString(" ")))
    try {
      // q115: zero duplicated 16-token windows anywhere
      val q115 = Pipeline.substringDedup(spark, dir).collect()
      assert(q115.forall(_.getLong(2) == 0L),
        s"q115 should be blind to a 15-token duplicate: ${q115.mkString(",")}")
      // q190: exactly one span per doc, exact boundaries, length exactly 15
      val spans = run(dir)
      assert(spans.map(t => (t._1, t._2, t._3)) == Set((1L, 10, 15), (2L, 4, 15)),
        s"got $spans")
      // and the sa_ranks agree with the brute suffix scan
      val docs = Seq(1L -> a.toVector, 2L -> b.toVector, 3L -> c.toVector)
      assert(spans == brute(docs), s"sa_rank drift: $spans vs ${brute(docs)}")
    } finally Substrates.evict(spark)
  }

  test("spans and suffix-array ranks match a brute-force suffix scan on seeded random corpora") {
    for (seed <- Seq(7, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      // Tiny vocab forces shared grams; lengths 0..40 cover the short-doc
      // and short-suffix edges (docs < L tokens, tails shorter than L).
      val docs = (1L to 15L).map { d =>
        val n = rnd.nextInt(41)
        d -> Vector.fill(n)(s"w${rnd.nextInt(6)}")
      }
      // plant one exact copy and one partial overlap for structure
      val planted = docs.map {
        case (5L, _) => 5L -> docs.head._2
        case (9L, t) if t.length >= 12 && docs(1)._2.length >= 12 =>
          9L -> (t.take(3) ++ docs(1)._2.take(12) ++ t.drop(3))
        case other => other
      }
      val dir = writeDocs(planted.map { case (d, t) => d -> t.mkString(" ") }
        .filter(_._2.nonEmpty))
      try {
        val expected = brute(planted.filter(_._2.nonEmpty))
        assert(run(dir) == expected, s"seed $seed mismatch")
      } finally Substrates.evict(spark)
    }
  }

  test("q196 clean pass removes exactly the brute-force span union (incl. a fully-duplicated doc)") {
    val shared = (0 until 15).map(i => s"s$i")
    val a = (0 until 10).map(i => s"a$i") ++ shared ++ (0 until 10).map(i => s"b$i")
    val b = (0 until 4).map(i => s"c$i") ++ shared ++ (0 until 12).map(i => s"e$i")
    val full = (0 until 20).map(i => s"f$i")  // docs 4 and 5 identical → fully removed
    val docs = Seq(1L -> a.toVector, 2L -> b.toVector, 3L -> (0 until 30).map(i => s"z$i").toVector,
      4L -> full.toVector, 5L -> full.toVector)
    val dir = writeDocs(docs.map { case (d, t) => d -> t.mkString(" ") })
    try {
      val spans = brute(docs).groupBy(_._1)
        .view.mapValues(_.map(s => (s._2, s._3)).toSeq).toMap
      val expected = docs.map { case (d, t) =>
        val cover = spans.getOrElse(d, Nil)
          .flatMap { case (s, l) => s until (s + l) }.toSet
        val kept = t.indices.filterNot(cover).map(t)
        (d, t.length.toLong, cover.size.toLong, kept.length.toLong, kept.mkString(" "))
      }.toSet
      val got = ExactSubstr.exactSubstrClean(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      def h60(s: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).take(8).map(x => f"$x%02x").mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16)
      }
      assert(got == expected.map { case (d, nt, nr, nk, txt) => (d, nt, nr, nk, h60(txt)) },
        s"clean mismatch:\n got=$got\n exp=$expected")
      // the fully-duplicated twins really did vanish
      assert(got.exists { case (d, _, nr, nk, _) => d == 4L && nk == 0L && nr == 20L })
    } finally Substrates.evict(spark)
  }

  test("identical docs: one span covering the whole doc, tied suffixes share group-start ranks") {
    val t = (0 until 20).map(i => s"t$i")
    val dir = writeDocs(Seq(1L -> t.mkString(" "), 2L -> t.mkString(" ")))
    try {
      val spans = run(dir)
      val expected = brute(Seq(1L -> t.toVector, 2L -> t.toVector))
      assert(spans == expected)
      assert(spans.map(s => (s._1, s._2, s._3)) == Set((1L, 0, 20), (2L, 0, 20)))
      // identical suffixes ⇒ identical sa_rank for both docs' span starts
      assert(spans.map(_._4).size == 1)
    } finally Substrates.evict(spark)
  }
}
