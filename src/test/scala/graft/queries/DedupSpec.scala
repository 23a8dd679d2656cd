package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-variant dedup invariants on sf0.001 — the oracle gate proves each
  * query against DuckDB; these pin the relationships BETWEEN the variants.
  */
class DedupSpec extends SparkSpec {

  test("minhash+LSH finds exactly the pairs exact n-gram Jaccard finds (J≥0.6, rare-shingle cap unbinding at tiny SF)") {
    val exact = Dedup.ngramJaccard(spark, sfDir).select("id_a", "id_b").collect().toSet
    val lsh = Dedup.minhashLsh(spark, sfDir).select("id_a", "id_b").collect().toSet
    assert(lsh == exact, s"LSH=${lsh.size} exact=${exact.size}")
  }

  test("simhash pairs (Hamming ≤ 3) are precise: every one is a true near-dup (J ≥ 0.6)") {
    // Recall has no hard bound (a J≈0.95 pair may land at Hamming 4+), but
    // precision at this tight radius should be total on this corpus.
    val sim = Dedup.simhash(spark, sfDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty, "expected planted near-dups to land within Hamming 3")
    val trueDups = Dedup.ngramJaccard(spark, sfDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.subsetOf(trueDups),
      s"simhash pairs that are not J≥0.6 near-dups: ${sim.diff(trueDups)}")
  }

  test("bloom-gated incremental dedup: output-identical to the plain join, gate in the plan") {
    val gated = Dedup.bloomIncrementalDedup(spark, sfDir)
    // Ground truth recomputed directly (the oracle proves it vs DuckDB;
    // here we pin Spark-vs-Spark so the spec runs standalone).
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      .groupBy("h").agg(min("doc_id").as("exact_match"))
    val truth = docs.filter(col("doc_id") % 10 === 9)
      .join(corpus, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "drop_exact")
          .otherwise("keep").as("verdict"),
        col("exact_match"))
      .orderBy("doc_id")
    assert(gated.collect().toSeq == truth.collect().toSeq)
    // the map-side gate is really in the plan (not optimized away)
    val plan = org.apache.spark.sql.GraftSqlBridge.executedPlan(gated).toString
    assert(plan.contains("might_contain"), plan.take(2000))
  }

  test("bloom-gated incremental dedup catches planted batch duplicates") {
    // The shipped corpora plant no EXACT twin inside the doc_id%10==9 batch
    // slice, so drive the drop_exact path on a planted corpus: batch doc 19
    // duplicates corpus doc 4 byte-for-byte, 9/29/39 are novel.
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_bloomspec").getPath
    (0L to 39L).map(i => (i, if (i == 19) "copy of four" * 3
                             else s"unique text $i" * 3))
      .toDF("doc_id", "text")
      .withColumn("text", when(col("doc_id") === 4, lit("copy of four" * 3))
        .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.bloomIncrementalDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(9L -> "keep", 19L -> "drop_exact",
                      29L -> "keep", 39L -> "keep"), out.toString)
  }

  test("theta sketches: estimation-mode error bounded, intersection closed over merges") {
    // sf0.01/sf0.001 sketches sit in exact mode (<4096 distincts), so the
    // q209 oracle's ok-booleans are only exercised for real at sf0.1 —
    // force estimation here with lgNomEntries=4 (k=16, RSE=25%) on two
    // planted 5000-distinct sets overlapping in 1000 values.
    import spark.implicits._
    val a = (0L until 5000L).toDF("x").selectExpr("theta_sketch_agg(x, 4) AS sk")
    val b = (4000L until 9000L).toDF("x").selectExpr("theta_sketch_agg(x, 4) AS sk")
    val r = a.crossJoin(b.withColumnRenamed("sk", "skb")).selectExpr(
      "theta_sketch_estimate(sk) AS ea",
      "theta_sketch_estimate(theta_union(sk, skb)) AS eu",
      "theta_sketch_estimate(theta_intersection(sk, skb)) AS ei").head()
    val (ea, eu, ei) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // 4·RSE = 100 % at k=16: wide, but a broken merge path lands far outside
    assert(math.abs(ea - 5000) <= 5000, s"|A| estimate $ea")
    assert(math.abs(eu - 9000) <= 9000, s"|A∪B| estimate $eu")
    assert(ei >= 0 && ei <= 9000 * 2, s"|A∩B| estimate $ei")
    // exact mode: below the nominal k the estimate IS the cardinality
    val exact = (0L until 100L).toDF("x")
      .selectExpr("theta_sketch_estimate(theta_sketch_agg(x)) AS e").head().getLong(0)
    assert(exact == 100L, s"exact-mode estimate drifted: $exact")
  }

  test("exact dedup partitions all docs: sum(n_copies) = row count") {
    val total = Dedup.dedupExact(spark, sfDir)
      .agg(sum("n_copies")).collect()(0).getLong(0)
    val docs = graft.tables.Tables.documents(spark, sfDir).count()
    assert(total == docs)
  }

  test("ANN LSH recall vs brute-force top-5 is within the banding's expected range") {
    // Random-hyperplane LSH on near-isotropic vectors: recall is limited by
    // the data (top neighbors sit near cos≈0.5 → ~60° angles). The check
    // pins the floor so a banding regression (e.g. a broken band key) fails
    // loudly — perfect recall is NOT expected.
    val brute = Similarity.cosineTopK(spark, sfDir)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLsh(spark, sfDir)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.3, f"ANN recall collapsed: $recall%.2f")
    assert(ann.size <= brute.size, "ANN returned more than top-5 per probe")
    // The oracle-checked evaluation query (q108) must agree with this
    // independently computed intersection.
    val viaQuery = Similarity.annRecall(spark, sfDir)
      .agg(sum("n_hit")).collect()(0).getLong(0)
    assert(viaQuery == (brute intersect ann).size.toLong,
      s"q108 counted $viaQuery hits, set intersection has ${(brute intersect ann).size}")
  }

  test("embedding-cosine near-dup is symmetric-free (id_a < id_b) and bounded") {
    val rows = Dedup.embeddingCosine(spark, sfDir).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.3 && r.getDouble(2) <= 1.0))
    // Probe convention: every pair's left side comes from the bounded
    // broadcast probe set, so the join can never be an unbounded cartesian.
    assert(rows.forall(r => r.getLong(0) < 10))
  }

  test("shingle/signature indexes materialize once and later dedup plans read the cache") {
    // Plan-shape pin for the r4→r5 performance win: the dedup family's
    // shared substrate (shingle index, signature tables) is persisted once
    // per (session, corpus) and every later family member must PLAN against
    // the cache (InMemoryRelation), not recompile the shingle pipeline. A
    // refactor that silently drops the reuse would double the family's cost
    // at corpus scale without failing any correctness test — this one fails.
    Substrates.evict(spark)
    Dedup.ngramJaccard(spark, sfDir).collect() // builds + persists the indexes
    // The shingle index itself is parquet-materialized (complex-typed
    // substrate — see TextAnalysis.tokenizedDocs): later family members
    // must SCAN it, never re-derive the xxhash64 shingle pipeline.
    val mhPlan = Dedup.minhashLsh(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(!mhPlan.contains("xxhash64"),
      "minhash re-shingles the corpus instead of reading the materialized index")
    val cachedAfterFirst = spark.sparkContext.getPersistentRDDs.keySet
    // Re-running the same query must not re-persist anything...
    Dedup.ngramJaccard(spark, sfDir).collect()
    // ...and a DIFFERENT family member may add only its own signature
    // table(s), never a second copy of an already-persisted index.
    val mh = Dedup.minhashLsh(spark, sfDir)
    assert(mh.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      "minhash plan does not read the cached shingle index")
    mh.collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .intersect(cachedAfterFirst) == cachedAfterFirst,
      "a shared index was evicted/rebuilt instead of reused")
    val cachedAfterMinhash = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.ngramJaccard(spark, sfDir).collect()
    Dedup.minhashLsh(spark, sfDir).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedAfterMinhash,
      "re-running dedup queries materialized new copies of the shared indexes")
    assert(Dedup.ngramJaccard(spark, sfDir)
      .queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      "jaccard plan does not read the cached shingle index")
  }

  test("concurrent dedup queries share the materialized indexes without racing") {
    // The shingle index and verified-pair table are session-shared caches;
    // concurrent builders must produce the same results as sequential runs
    // (the VERDICT r1 #5 hazard class: session-global state inside query
    // builders).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val seqJac = Dedup.ngramJaccard(spark, sfDir).collect().toSeq
    val seqSim = Dedup.simhash(spark, sfDir).collect().toSeq
    Substrates.evict(spark)
    val fJac = Future(Dedup.ngramJaccard(spark, sfDir).collect().toSeq)
    val fSim = Future(Dedup.simhash(spark, sfDir).collect().toSeq)
    val fPr  = Future(Dedup.pagerank(spark, sfDir).collect().toSeq)
    assert(Await.result(fJac, 5.minutes) == seqJac)
    assert(Await.result(fSim, 5.minutes) == seqSim)
    assert(Await.result(fPr, 5.minutes).nonEmpty)
  }

  test("pagerank conserves probability mass and respects the uniform floor") {
    val pr = Dedup.pagerank(spark, sfDir).collect().map(_.getDouble(1))
    assert(pr.nonEmpty)
    // No sinks (symmetrized edges) → total mass stays 1 across iterations.
    assert(math.abs(pr.sum - 1.0) < 1e-4, s"mass=${pr.sum}")
    // Every node keeps at least the damping floor (1-d)/N.
    val floor = 0.15 / pr.length
    assert(pr.forall(_ >= floor - 1e-9))
  }

  test("triangles: edges are compact-forward oriented and counts match an in-JVM reference") {
    // Orientation pin (the q93 skew bound): every oriented edge runs from
    // the lower to the higher endpoint under the (degree, id) total order,
    // so wedge fan-out at a hub is bounded by its higher-ranked neighbors.
    val pairs = Dedup.ngramJaccard(spark, sfDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = pairs.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val oriented = Dedup.orientedEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(oriented.length == pairs.length)
    val ord = Ordering.Tuple2[Long, Long]
    oriented.foreach { case (s, d) =>
      assert(ord.lt((deg(s), s), (deg(d), d)),
        s"edge $s->$d not oriented by (degree, id): deg=${deg(s)} vs ${deg(d)}")
    }
    // Count pin: per-doc triangle counts equal a brute-force reference over
    // the (tiny at this SF) pair set — orientation must not change results.
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ref = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val es = pairs.toSet
    for ((a, b) <- es; c <- adj(b) if b < c && adj(a)(c)) {
      // a<b (pair invariant) and b<c with a-c edge → triangle {a,b,c} once
      Seq(a, b, c).foreach(v => ref(v) += 1)
    }
    val got = Dedup.triangles(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref.toMap, s"triangle counts differ: got $got, expected $ref")
  }

  test("k-core peels to a true fixpoint and k is parametric") {
    // Fixpoint: in the returned 2-core every node's degree is ≥ 2, and one
    // more peel changes nothing.
    val core2 = Dedup.kCore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2.nonEmpty)
    assert(core2.values.forall(_ >= 2L), "2-core retains a node of degree < 2")
    // Reference: iterative peel over the in-JVM pair set until stable.
    val pairs = Dedup.ngramJaccard(spark, sfDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def peelToFix(k: Int): Map[Long, Long] = {
      var es = pairs.toSet
      var changed = true
      while (changed) {
        val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (n, v) => n -> v.length }
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter { case (a, b) => keep(a) && keep(b) }
        changed = next != es
        es = next
      }
      es.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (n, v) => n -> v.length.toLong }
    }
    assert(core2 == peelToFix(2), "2-core differs from reference fixpoint")
    // Parametric k: the 3-core is the fixpoint at k=3 (and ⊆ the 2-core).
    val core3 = Dedup.kCore(spark, sfDir, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == peelToFix(3), "3-core differs from reference fixpoint")
    assert(core3.keySet.subsetOf(core2.keySet))
  }

  test("LPA communities refine the CC components and use member ids as labels") {
    val lpa = Dedup.lpaCommunities(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(lpa.nonEmpty)
    val cc = Dedup.dedupCluster(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Same node set as CC (every node in the pair graph gets a community).
    assert(lpa.map(_._1).toSet == cc.keySet)
    // Labels only travel along edges, so a community can never straddle two
    // connected components: all members of one community share a CC cluster.
    lpa.groupBy(_._2).foreach { case (community, ms) =>
      val comps = ms.map(m => cc(m._1)).distinct
      assert(comps.length == 1,
        s"community $community straddles components $comps")
    }
    // Community labels are ids of graph nodes, and sizes are consistent.
    val nodeset = cc.keySet
    lpa.foreach { case (_, community, _) => assert(nodeset(community)) }
    val sizes = lpa.groupBy(_._2).map { case (c, ms) => c -> ms.length.toLong }
    lpa.foreach { case (id, c, sz) =>
      assert(sz == sizes(c), s"doc $id community-size mismatch") }
  }

  test("cluster formation is a valid CC labeling of the near-dup pair graph") {
    val labels = Dedup.dedupCluster(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.ngramJaccard(spark, sfDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && labels.nonEmpty)
    // Consistency: both endpoints of every edge carry the same label.
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) },
      "edge endpoints in different clusters")
    // Minimality: each label is the smallest doc_id in its cluster.
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"cluster $cid label is not its min member")
    }
    // Separation: docs in different components get different labels — check
    // via union-find over the edges as an independent reference.
    val parent = scala.collection.mutable.Map(labels.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expected = labels.keys.groupBy(find)
    assert(expected.values.map(_.toSet).toSet == labels.keys.groupBy(labels).values.map(_.toSet).toSet,
      "cluster membership differs from union-find reference")
  }

  test("sketch merge maintenance: merged sketches equal direct full-corpus sketches") {
    val rows = Dedup.sketchMergeMaintenance(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == 64,
        s"source ${r.getString(0)}: merge(standing, batch) != sketch(full) — mergeability broken")
      val ov = r.getDouble(2)
      assert(ov >= 0.0 && ov <= 1.0 && (ov * 64) == math.round(ov * 64).toDouble,
        s"overlap must be a k/64 rational, got $ov")
    }
  }

  test("salted shingle dedup equals the rare-only variant on a uniform corpus") {
    // The verdict criterion: keeping hot shingles must not change pair
    // recall where no hot shingles exist (max df at the test SFs ≪ cap).
    val rareOnly = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Dedup.saltedShingleDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == rareOnly, s"salted=${salted.size} rareOnly=${rareOnly.size}")
  }

  test("salted shingle dedup finds hot-only pairs on a planted boilerplate family") {
    import spark.implicits._
    // 150 docs share a 44-token boilerplate (shingle df = 152 > the 100
    // cap → genuinely HOT) but differ in a unique 44-token tail, so
    // generic pairs sit at J ≈ 0.33 — below threshold. Docs 200/201 are
    // boilerplate-ONLY: J = 1.0 with ZERO rare shingles in common — the
    // pair that q36's stop-shingle cap is structurally blind to and the
    // salted hot path must catch inside a shared sub-bucket.
    val boiler = (0 until 44).map(i => s"tpl${i % 11}word$i").mkString(" ")
    val docs = (0 until 150).map { i =>
      val tail = (0 until 44).map(j => s"u${i}x$j").mkString(" ")
      (i.toLong, s"$boiler $tail")
    } ++ Seq((200L, boiler), (201L, boiler))
    val tmp = java.nio.file.Files.createTempDirectory("graft-salted").toFile.getAbsolutePath
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      // Independent full-Jaccard brute force over the same shingle
      // definition (all-pairs — fine at 152 docs, never in the engine).
      val sh = spark.read.parquet(s"$tmp/documents.parquet")
        .select(col("doc_id"),
          expr("transform(split(lower(text), ' '), t -> xxhash64(t))").as("th"))
        .filter(size(col("th")) >= 3)
        .select(col("doc_id"),
          expr("array_distinct(transform(sequence(0, size(th)-3), " +
               "i -> xxhash64(th[i], th[i+1], th[i+2])))").as("sh"))
      val ref = sh.toDF("id_a", "sh_a").crossJoin(sh.toDF("id_b", "sh_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
            .divide(size(array_union(col("sh_a"), col("sh_b")))).as("jac"))
        .filter(col("jac") >= 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ref == Set((200L, 201L)), s"corpus construction drifted: $ref")
      val got = Dedup.saltedShingleDedup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.map(p => (p._1, p._2)).toSet == ref,
        s"salted path missed or over-reported: ${got.toSeq}")
      assert(got.head._3 == 1.0, "boilerplate-only pair must report J = 1.0")
      // And the rare-only variant is indeed blind to it — the gap q169 closes.
      assert(Dedup.ngramJaccard(spark, tmp).collect().isEmpty)
      // Prefix filtering finds the hot-only pair DETERMINISTICALLY (the
      // completeness theorem — q169's capture is probabilistic): the
      // boilerplate-only docs' prefixes are pure hot shingles, which must
      // still collide because the pair shares its entire (sorted) set.
      val pf = Dedup.prefixFilterJoin(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pf.map(p => (p._1, p._2)).toSet == ref, s"prefix join drift: ${pf.toSeq}")
      assert(pf.head._3 == 1.0)
    } finally Substrates.evict(spark)
  }

  test("prefix-filter join equals the full-Jaccard pair set on the corpus") {
    val brute = Dedup.saltedShingleDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pf = Dedup.prefixFilterJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pf == brute, s"prefix=${pf.size} brute=${brute.size}")
  }

  test("q173 KMV set algebra: in-JVM replay is bit-exact, estimates 4-sigma bounded") {
    val k = 128
    // Independent recomputation: exact per-source 60-bit hash sets via the
    // same md5-prefix definition, folded in plain Scala (no Spark aggs).
    val exact: Map[String, Array[Long]] = Dedup.shingleStrings(spark, sfDir)
      .join(graft.tables.Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
      .select(col("source"),
        expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)").as("x"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (s, rows) => s -> rows.map(_.getLong(1)).distinct.sorted }
    def est(a: Array[Long]): Double =
      if (a.length < k) a.length.toDouble else 127.0 * 1.152921504606846976e18 / a(k - 1).toDouble
    val out = Dedup.kmvSetAlgebra(spark, sfDir).collect()
    assert(out.length == exact.size * (exact.size - 1) / 2)
    val relBound = 4.0 / math.sqrt(k - 2.0) // 4 sigma of the KMV estimator
    out.foreach { r =>
      val (s1, s2) = (r.getString(0), r.getString(1))
      val (a, b) = (exact(s1), exact(s2))
      val (ska, skb) = (a.take(k), b.take(k))
      val u = (ska ++ skb).distinct.sorted.take(k)
      val rho = u.count(x => ska.contains(x) && skb.contains(x))
      // Bit-exact replay of every output column from the exact sets.
      assert(r.getDouble(2) == est(ska) && r.getDouble(3) == est(skb)
          && r.getDouble(4) == est(u)
          && r.getDouble(5) == rho.toDouble * est(u) / u.length.toDouble
          && r.getDouble(6) == rho.toDouble / u.length.toDouble,
        s"($s1,$s2): engine sketch drifted from the in-JVM replay")
      // Statistical sanity: the estimates track the true cardinalities.
      def ok(e: Double, t: Long): Boolean =
        if (t <= k) e == t.toDouble else math.abs(e - t) <= relBound * t
      val trueU = (a ++ b).distinct.length.toLong
      assert(ok(r.getDouble(2), a.length.toLong), s"card($s1) ${r.getDouble(2)} vs ${a.length}")
      assert(ok(r.getDouble(3), b.length.toLong), s"card($s2) ${r.getDouble(3)} vs ${b.length}")
      assert(ok(r.getDouble(4), trueU), s"union($s1,$s2) ${r.getDouble(4)} vs $trueU")
      val trueJ = a.intersect(b).length.toDouble / trueU
      assert(math.abs(r.getDouble(6) - trueJ) <= 0.2,
        s"jaccard($s1,$s2) ${r.getDouble(6)} vs $trueJ")
    }
  }
}
