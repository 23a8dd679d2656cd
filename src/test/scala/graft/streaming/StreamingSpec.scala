package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Drives the EventStreams transformations through real Structured Streaming
  * micro-batches (MemoryStream) and checks stream ≡ batch on the same rows —
  * the contract that lets the oracle-checked batch twins (q49–q52) stand in
  * for the unbounded path.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val rows = Seq(
    (ts("2024-01-01 10:05:00"), "click", 1.0),
    (ts("2024-01-01 10:20:00"), "view", 2.0),
    (ts("2024-01-01 10:40:00"), "click", 3.0),
    (ts("2024-01-01 11:10:00"), "view", 4.0),
    (ts("2024-01-01 12:05:00"), "click", 5.0),
  )

  test("tumbling window aggregation: stream (2 micro-batches) equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingByType(df)
      .writeStream.format("memory").queryName("t_tumble").outputMode("complete").start()
    try {
      ms.addData(rows.take(3))
      q.processAllAvailable()
      ms.addData(rows.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("t_tumble").orderBy("w_start", "event_type").collect()
      val batch = EventStreams.tumblingByType(
        rows.toDF("ts", "event_type", "value")).orderBy("w_start", "event_type").collect()
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("watermark drops a late event once the watermark has passed its window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingWithWatermark(df, "10 minutes")
      .writeStream.format("memory").queryName("t_wm").outputMode("append").start()
    try {
      // batch 1: two events in [10:00,11:00) + an advancer at 12:05
      // → watermark after this batch = 11:55, past the 11:00 window end.
      ms.addData(Seq(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:20:00"), "click", 1.0),
        (ts("2024-01-01 12:05:00"), "view", 1.0)))
      q.processAllAvailable()
      // batch 2: a LATE event for the closed 10:00 window — must be dropped.
      ms.addData(Seq((ts("2024-01-01 10:30:00"), "click", 99.0)))
      q.processAllAvailable()
      // empty batch so the final window state flushes deterministically
      ms.addData(Seq((ts("2024-01-01 13:00:00"), "view", 1.0)))
      q.processAllAvailable()
      val out = spark.table("t_wm")
        .filter(col("w_start") === ts("2024-01-01 10:00:00")).collect()
      assert(out.length == 1, s"expected one closed 10:00 window, got ${out.toSeq}")
      assert(out(0).getAs[Long]("n") == 2, "late event leaked into closed window")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment equals the batch join and keeps no state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq(("click", 2.0), ("view", 0.5)).toDF("event_type", "weight")
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.enrichWithDim(df, dim)
      .writeStream.format("memory").queryName("t_enrich").outputMode("append").start()
    try {
      ms.addData(rows.take(3)); q.processAllAvailable()
      ms.addData(rows.drop(3)); q.processAllAvailable()
      val streamed = spark.table("t_enrich")
        .orderBy("ts").select("ts", "event_type", "value", "weighted_value").collect()
      val batch = EventStreams.enrichWithDim(rows.toDF("ts", "event_type", "value"), dim)
        .orderBy("ts").select("ts", "event_type", "value", "weighted_value").collect()
      assert(streamed.toSeq == batch.toSeq)
      // enrichment is stateless: the progress reports no state rows
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("stream-static anti join gates arriving docs against the standing corpus digests") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq("alpha beta", "gamma delta").toDF("text")
      .select(md5(col("text")).as("h"))
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val q = EventStreams.dedupAgainstCorpus(df, corpus)
      .writeStream.format("memory").queryName("t_ingest").outputMode("append").start()
    try {
      ms.addData(Seq((100L, "alpha beta"), (101L, "fresh content")))
      q.processAllAvailable()
      ms.addData(Seq((102L, "gamma delta"), (103L, "more fresh")))
      q.processAllAvailable()
      val out = spark.table("t_ingest").orderBy("doc_id")
        .select("doc_id").as[Long].collect()
      assert(out.toSeq == Seq(101L, 103L),
        s"corpus twins must be gated out, novel docs kept: ${out.toSeq}")
      // the gate is stateless — the standing digest table is the state
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("observe() metrics ride the stream: per-batch quality counters sum to the input") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
      .withColumn("props", when(col("value") > 3.0, lit(null: String)).otherwise(lit("{}")))
    val q = EventStreams.withQualityMetrics(df)
      .writeStream.format("memory").queryName("t_observe").outputMode("append").start()
    try {
      ms.addData(rows.take(3)); q.processAllAvailable()
      ms.addData(rows.drop(3)); q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("quality")))
      assert(metrics.nonEmpty, "no observed metrics surfaced")
      assert(metrics.map(_.getAs[Long]("rows")).sum == rows.size)
      assert(math.abs(metrics.map(_.getAs[Double]("value_sum")).sum -
                      rows.map(_._3).sum) < 1e-9)
      assert(metrics.map(_.getAs[Long]("null_props")).sum ==
             rows.count(_._3 > 3.0))
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks equals the batch range join") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, "click", 0.0),
      (1L, ts("2024-01-01 12:00:00"), 101L, "click", 0.0),
      (2L, ts("2024-01-01 10:00:00"), 102L, "click", 0.0))
    val purchases = Seq(
      (1L, ts("2024-01-01 10:30:00"), 200L, "purchase", 9.99), // joins click 100
      (1L, ts("2024-01-01 12:59:00"), 201L, "purchase", 5.00), // joins click 101
      (2L, ts("2024-01-01 13:00:00"), 202L, "purchase", 7.00), // outside any window
      // advancers so both watermarks move past every join window
      // (distinct users so the advancers cannot join each other):
      (8L, ts("2024-01-01 20:00:00"), 298L, "purchase", 0.0))
    val clickAdvancer = (9L, ts("2024-01-01 20:00:00"), 299L, "click", 0.0)
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value")

    val msC = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val msP = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventStreams.clickToPurchase(
        msC.toDF().toDF(cols: _*).withWatermark("ts", "10 minutes"),
        msP.toDF().toDF(cols: _*).withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("t_ssj").outputMode("append").start()
    try {
      ms2Feed(msC, clicks :+ clickAdvancer); ms2Feed(msP, purchases)
      q.processAllAvailable()
      val streamed = spark.table("t_ssj")
        .select("c_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = EventStreams.clickToPurchase(
          (clicks :+ clickAdvancer).toDF(cols: _*),
          purchases.toDF(cols: _*))
        .select("c_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(batch == Set((100L, 200L), (101L, 201L)))
    } finally q.stop()
  }

  test("bucketed interval join equals the naive range join, including bucket-boundary pairs") {
    import spark.implicits._
    // Purchases planted AT the window edges and ACROSS hour-bucket
    // boundaries: p == c (inclusive), p == c+1h (exclusive), p in the next
    // hour bucket but inside the window, sub-second offsets straddling a
    // bucket floor, plus a user with no purchases at all (outer NULL row).
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value")
    def t(s: String) = Timestamp.valueOf(s)
    val clicks = Seq(
      (1L, t("2024-01-01 10:59:59"), 1L, "click", 0.0),  // window spans buckets
      (1L, t("2024-01-01 10:00:00"), 2L, "click", 0.0),  // exactly on a bucket floor
      (2L, t("2024-01-01 10:30:00"), 3L, "click", 0.0),
      (3L, t("2024-01-01 12:00:00"), 4L, "click", 0.0))  // never converts
    val clicksDF = clicks.toDF(cols: _*)
      .withColumn("ts", col("ts") + expr("INTERVAL 0.5 SECONDS")) // sub-second stamps
    val purchases = Seq(
      (1L, t("2024-01-01 11:30:00"), 10L, "purchase", 5.0), // next bucket, in window for c1
      (1L, t("2024-01-01 10:00:00"), 11L, "purchase", 6.0), // p == c2 exactly (inclusive)
      (1L, t("2024-01-01 11:00:00"), 12L, "purchase", 7.0), // p == c2+1h (exclusive for c2)
      (2L, t("2024-01-01 10:30:01"), 13L, "purchase", 8.0),
      (2L, t("2024-01-01 09:59:00"), 14L, "purchase", 9.0)) // before the click
    val purchasesDF = purchases.toDF(cols: _*)
      .withColumn("ts", col("ts") + expr("INTERVAL 0.5 SECONDS"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("c_id"), coalesce(col("p_id"), lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (outer <- Seq(false, true)) {
      val naive =
        if (outer) EventStreams.clickToPurchaseOuter(clicksDF, purchasesDF)
        else EventStreams.clickToPurchase(clicksDF, purchasesDF)
      val bucketed = EventStreams.clickToPurchaseBucketed(clicksDF, purchasesDF, outer)
      assert(pairs(bucketed) == pairs(naive), s"outer=$outer")
    }
    // spot-check the semantics the fixture encodes
    val inner = pairs(EventStreams.clickToPurchaseBucketed(clicksDF, purchasesDF))
    assert(inner == Seq((1L, 10L), (1L, 12L), (2L, 11L), (3L, 13L)))
  }

  test("left-outer interval join emits NULL rows for unconverted clicks once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, "click", 0.0), // converts
      (2L, ts("2024-01-01 10:00:00"), 102L, "click", 0.0)) // never converts
    val purchases = Seq(
      (1L, ts("2024-01-01 10:30:00"), 200L, "purchase", 9.99),
      // advancer on a distinct user pushes both watermarks past every
      // click's c_ts + 1h, forcing the outer side to emit its NULL row:
      (8L, ts("2024-01-01 20:00:00"), 298L, "purchase", 0.0))
    val clickAdvancer = (9L, ts("2024-01-01 20:00:00"), 299L, "click", 0.0)
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value")

    val msC = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val msP = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventStreams.clickToPurchaseOuter(
        msC.toDF().toDF(cols: _*).withWatermark("ts", "10 minutes"),
        msP.toDF().toDF(cols: _*).withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("t_ssj_outer").outputMode("append").start()
    try {
      ms2Feed(msC, clicks :+ clickAdvancer); ms2Feed(msP, purchases)
      q.processAllAvailable()
      // A second purchase-side batch moves the watermark commit forward so
      // outstanding outer state is flushed deterministically.
      ms2Feed(msP, Seq((8L, ts("2024-01-01 22:00:00"), 310L, "purchase", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("t_ssj_outer")
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(streamed.contains((100L, 200L)), s"matched pair missing: $streamed")
      assert(streamed.contains((102L, -1L)),
        s"unconverted click 102 should surface with NULL purchase: $streamed")
      // Batch twin agrees on the real clicks. (The advancer click is
      // excluded: its own NULL row exists in batch but can't flush in
      // streaming — the watermark never passes ITS window; that asymmetry
      // is inherent to outer-join state cleanup, not a bug.)
      val batch = EventStreams.clickToPurchaseOuter(
          (clicks :+ clickAdvancer).toDF(cols: _*), purchases.toDF(cols: _*))
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(streamed.filter(_._1 <= 102L) == batch.filter(_._1 <= 102L),
        s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("foreachBatch serving sink: cross-batch updates overwrite their partitions idempotently") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_serve").toString
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingWithWatermark(df, "10 minutes")
      .writeStream.outputMode("update")
      .foreachBatch(EventStreams.serveTumblingCounts(out))
      .start()
    try {
      // Batch 1 writes (10:00, click) n=1; batch 2 UPDATES the same window
      // (n=2) plus a new one — the updated row must replace its partition,
      // not append next to the stale value.
      ms.addData(Seq((ts("2024-01-01 10:05:00"), "click", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq((ts("2024-01-01 10:40:00"), "click", 3.0),
                     (ts("2024-01-01 11:10:00"), "view", 4.0)))
      q.processAllAvailable()
      val served = spark.read.parquet(out)
        .select("w_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(served == Set(
        (ts("2024-01-01 10:00:00"), "click", 2L),
        (ts("2024-01-01 11:00:00"), "view", 1L)),
        s"serving table diverged: $served")
    } finally {
      q.stop()
    }
  }

  private def ms2Feed(ms: MemoryStream[(Long, Timestamp, Long, String, Double)],
                      rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit =
    ms.addData(rows)

  test("full-outer interval join emits NULL rows on BOTH sides once watermarks pass") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, "click", 0.0), // converts
      (2L, ts("2024-01-01 10:00:00"), 102L, "click", 0.0)) // never converts
    val purchases = Seq(
      (1L, ts("2024-01-01 10:30:00"), 200L, "purchase", 9.99),
      (3L, ts("2024-01-01 10:15:00"), 201L, "purchase", 4.50), // orphan: user 3 never clicked
      (8L, ts("2024-01-01 20:00:00"), 298L, "purchase", 0.0))  // watermark advancer
    val clickAdvancer = (9L, ts("2024-01-01 20:00:00"), 299L, "click", 0.0)
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value")

    val msC = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val msP = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventStreams.clickToPurchaseFullOuter(
        msC.toDF().toDF(cols: _*).withWatermark("ts", "10 minutes"),
        msP.toDF().toDF(cols: _*).withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("t_ssj_full").outputMode("append").start()
    try {
      ms2Feed(msC, clicks :+ clickAdvancer); ms2Feed(msP, purchases)
      q.processAllAvailable()
      ms2Feed(msP, Seq((8L, ts("2024-01-01 22:00:00"), 310L, "purchase", 0.0)))
      ms2Feed(msC, Seq((9L, ts("2024-01-01 22:00:00"), 311L, "click", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("t_ssj_full")
        .select("c_id", "p_id").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                   if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(streamed.contains((100L, 200L)), s"matched pair missing: $streamed")
      assert(streamed.contains((102L, -1L)),
        s"unconverted click must surface with NULL purchase: $streamed")
      assert(streamed.contains((-1L, 201L)),
        s"orphan purchase must surface with NULL click: $streamed")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: replayed event_ids are emitted exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value")
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventStreams.dedupEvents(ms.toDF().toDF(cols: _*), "30 minutes")
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try {
      // batch 1: two events, one delivered twice inside the same batch
      ms.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), 100L, "click", 1.0),
        (1L, ts("2024-01-01 10:00:00"), 100L, "click", 1.0),
        (2L, ts("2024-01-01 10:05:00"), 101L, "view", 2.0)))
      q.processAllAvailable()
      // batch 2: id 100 replayed again (still within the watermark horizon)
      // plus one genuinely new event — only the new one may emerge.
      ms.addData(Seq(
        (1L, ts("2024-01-01 10:01:00"), 100L, "click", 1.0),
        (3L, ts("2024-01-01 10:10:00"), 102L, "purchase", 3.0)))
      q.processAllAvailable()
      val ids = spark.table("t_dedup").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(100L, 101L, 102L),
        s"expected each id exactly once, got $ids")
    } finally q.stop()
  }

  test("file-source stream through a checkpointed parquet sink equals batch") {
    // Drives the real unbounded path: readEventStream (parquet file source,
    // nanos→µs conversion) → windowed agg → parquet sink with a checkpoint —
    // the deployment shape, not MemoryStream. Complete-mode aggregates can't
    // write to files, so the stream runs in append mode with a watermark and
    // the comparison covers the windows the watermark has closed.
    val out = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    // Stage the fixture as a landing DIRECTORY (the streaming file source
    // rejects a bare file path).
    val landing = java.nio.file.Files.createTempDirectory("graft_events_dir")
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part-0.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    val src = EventStreams.readEventStream(spark, landing.toString)
    val q = EventStreams.tumblingWithWatermark(src, "0 seconds")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
    val batch = EventStreams.tumblingByType(
      graft.tables.Tables.events(spark, sfDir))
    // With a zero watermark delay every window before the max event time is
    // closed and flushed; only the final (open) window may be missing.
    val maxStart = batch.agg(max("w_start")).collect()(0).getTimestamp(0)
    val closedBatch = batch.filter(col("w_start") < maxStart)
      .collect().map(_.toSeq).toSet
    val closedStream = streamed.filter(col("w_start") < maxStart)
      .collect().map(_.toSeq).toSet
    assert(closedStream == closedBatch,
      s"stream=${closedStream.size} batch=${closedBatch.size}")
    assert(closedBatch.nonEmpty)
  }

  test("Trigger.AvailableNow: file source drains, reports progress, self-terminates, output equals batch") {
    // The reference's full job lifecycle (MapReduceFramework.h:18-24) driven
    // through a real StreamingQuery in its deployment shape: J1 start is
    // async, J3 progress surfaces per micro-batch, J2 wait returns when
    // AvailableNow has drained every file present at start and stops the
    // query BY ITSELF, J4 the handle ends inactive with no exception.
    import org.apache.spark.sql.streaming.Trigger
    val out = java.nio.file.Files.createTempDirectory("graft_an_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_an_ckpt").toString
    val landing = java.nio.file.Files.createTempDirectory("graft_an_src")
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part-0.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    val src = EventStreams.readEventStream(spark, landing.toString)
    val q = EventStreams.tumblingWithWatermark(src, "0 seconds")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query must terminate on its own once the source is drained")
      assert(q.recentProgress.nonEmpty, "no per-batch progress surfaced")
      assert(q.recentProgress.map(_.numInputRows).sum > 0)
      assert(!q.isActive)
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
    } finally q.stop()
    // Same closed-window standard as the checkpointed-sink test: with a zero
    // watermark delay only the final (still-open) window may be missing.
    val batch = EventStreams.tumblingByType(graft.tables.Tables.events(spark, sfDir))
    val maxStart = batch.agg(max("w_start")).collect()(0).getTimestamp(0)
    val closedBatch = batch.filter(col("w_start") < maxStart)
      .collect().map(_.toSeq).toSet
    val closedStream = spark.read.parquet(out).filter(col("w_start") < maxStart)
      .collect().map(_.toSeq).toSet
    assert(closedStream == closedBatch,
      s"stream=${closedStream.size} batch=${closedBatch.size}")
    assert(closedBatch.nonEmpty)
  }

  test("checkpoint restart: second run resumes offsets and window state, no reprocessing, no duplicates") {
    // Exactly-once across process restarts — the fault-tolerance contract a
    // deployment actually relies on: run 1 ingests file A and stops; run 2
    // (same checkpoint) must (a) read ONLY the new file B, (b) merge B's
    // events into the window state run 1 left behind, (c) append each closed
    // window exactly once across both runs.
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val landing = Files.createTempDirectory("graft_ckpt_landing")
    val out = Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_ckpt").toString

    def stage(name: String, rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit = {
      import spark.implicits._
      val scratch = Files.createTempDirectory("graft_ckpt_stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = new java.io.File(scratch.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, landing.resolve(name))
    }
    def runOnce() = {
      val q = EventStreams.tumblingWithWatermark(
          EventStreams.readEventStream(spark, landing.toString), "0 seconds")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow run did not terminate")
      val rows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      rows
    }

    stage("a.parquet", Seq(
      (1L, ts("2024-01-01 09:10:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-01 10:20:00"), 2L, "click", 1.0, "{}")))
    val read1 = runOnce()
    assert(read1 == 3, s"run 1 read $read1 rows, expected 3")

    stage("b.parquet", Seq(
      // same 10:00 window as run 1's clicks — must merge with restored state
      (4L, ts("2024-01-01 10:40:00"), 3L, "click", 1.0, "{}"),
      // advances the watermark past 11:00 so the 10:00 window closes
      (5L, ts("2024-01-01 12:05:00"), 3L, "view", 1.0, "{}")))
    val read2 = runOnce()
    assert(read2 == 2, s"run 2 re-read data: $read2 rows, expected only file B's 2")

    val closed = spark.read.parquet(out)
      .select("w_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(closed == Set(
      (ts("2024-01-01 09:00:00"), "view", 1L),
      (ts("2024-01-01 10:00:00"), "click", 3L)),
      s"restart broke exactly-once/state merge: $closed")
  }

  test("state-store reader: checkpointed window state is queryable; watermark-evicted windows are gone") {
    // Spark 4's `statestore` batch source — the ops/debug surface that turns
    // a running query's checkpoint into a DataFrame (state-size audits,
    // skewed-key hunts, eviction verification) without touching the query.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EventStreams.Event]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssread").toString
    val q = ms.toDS().toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("t_ssread").outputMode("update")
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(EventStreams.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
                 EventStreams.Event(1L, ts("2024-01-01 10:30:00"), 2.0),
                 EventStreams.Event(2L, ts("2024-01-01 11:15:00"), 3.0))
      q.processAllAvailable()
      // advance event time far past the early windows…
      ms.addData(EventStreams.Event(2L, ts("2024-01-01 20:00:00"), 4.0))
      q.processAllAvailable()
      // …and one more batch so the (one-batch-lagged) watermark = 19:00
      // actually evicts them from the store.
      ms.addData(EventStreams.Event(2L, ts("2024-01-01 20:30:00"), 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val st = spark.read.format("statestore").load(ckpt)
      .select(col("key.window.start").cast("string").as("ws"),
              col("key.user_id"), col("value.count").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(st == Set(("2024-01-01 20:00:00", 2L, 2L)),
      s"state after eviction: $st")
  }

  test("flatMapGroupsWithState sessionization: stream across micro-batches equals batch session_window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Seq(
      EventStreams.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
      EventStreams.Event(1L, ts("2024-01-01 10:10:00"), 2.0),
      EventStreams.Event(1L, ts("2024-01-01 11:00:00"), 3.0), // gap 50min → new session
      EventStreams.Event(2L, ts("2024-01-01 10:00:00"), 4.0),
      EventStreams.Event(1L, ts("2024-01-01 11:20:00"), 5.0), // extends session 2 (batch 2)
      EventStreams.Event(2L, ts("2024-01-01 12:00:00"), 6.0), // new session (batch 2)
    )
    val ms = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionizeStateful(ms.toDS())
      .writeStream.format("memory").queryName("t_sess").outputMode("append").start()
    try {
      ms.addData(evs.take(4))
      q.processAllAvailable()
      ms.addData(evs.drop(4))
      q.processAllAvailable()
      // Streaming emits a session row each time its composition changes
      // (upsert contract): collapse to the final version per (user, start).
      val streamed = spark.table("t_sess").collect()
        .map(r => ((r.getLong(0), r.getTimestamp(1)),
                   (r.getTimestamp(2), r.getLong(3), r.getDouble(4))))
        .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).maxBy(_._2)) }
      val batch = EventStreams.sessionByUser(
          evs.toDS().toDF().withColumnRenamed("user_id", "user_id"))
        .collect()
        .map(r => ((r.getLong(0), r.getTimestamp(1)),
                   (r.getTimestamp(2), r.getLong(3), r.getDouble(4))))
        .toMap
      assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    } finally q.stop()
  }

  test("transformWithState sessionization (RocksDB state store) equals the window twin") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val evs = Seq(
      EventStreams.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
      EventStreams.Event(1L, ts("2024-01-01 10:10:00"), 2.0),
      EventStreams.Event(1L, ts("2024-01-01 11:00:00"), 3.0),
      EventStreams.Event(2L, ts("2024-01-01 10:00:00"), 4.0),
      EventStreams.Event(1L, ts("2024-01-01 11:20:00"), 5.0),
      EventStreams.Event(2L, ts("2024-01-01 12:00:00"), 6.0),
    )
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionizeTws(ms.toDS())
      .writeStream.format("memory").queryName("t_tws").outputMode("append").start()
    try {
      ms.addData(evs.take(4)); q.processAllAvailable()
      ms.addData(evs.drop(4)); q.processAllAvailable()
      val streamed = spark.table("t_tws").collect()
        .map(r => ((r.getLong(0), r.getTimestamp(1)),
                   (r.getTimestamp(2), r.getLong(3), r.getDouble(4))))
        .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).maxBy(_._2)) }
      val batch = EventStreams.sessionByUser(evs.toDS().toDF())
        .collect()
        .map(r => ((r.getLong(0), r.getTimestamp(1)),
                   (r.getTimestamp(2), r.getLong(3), r.getDouble(4))))
        .toMap
      assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer-closed sessionization emits each session exactly once as the watermark passes") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionizeTimerClosed(ms.toDS(), "0 seconds")
      .writeStream.format("memory").queryName("t_timer").outputMode("append").start()
    try {
      // batch 1: user 1 has two sessions in-data (gap >= 30min closes the
      // first immediately); the second stays open behind its timer
      ms.addData(Seq(
        EventStreams.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
        EventStreams.Event(1L, ts("2024-01-01 10:10:00"), 2.0),
        EventStreams.Event(1L, ts("2024-01-01 11:00:00"), 3.0)))
      q.processAllAvailable()
      val afterB1 = spark.table("t_timer").collect().map(_.getTimestamp(1)).toSeq
      assert(afterB1 == Seq(ts("2024-01-01 10:00:00")),
        s"only the gap-complete session may close in batch 1, got $afterB1")
      // batch 2: a far-future event advances the watermark beyond the open
      // session's close (11:00 + 30min) → its timer fires, exactly one row
      ms.addData(Seq(EventStreams.Event(2L, ts("2024-01-02 00:00:00"), 9.0)))
      q.processAllAvailable()
      // one more empty-ish advance so timers registered in batch 2 can fire
      ms.addData(Seq(EventStreams.Event(2L, ts("2024-01-03 00:00:00"), 1.0)))
      q.processAllAvailable()
      val rows = spark.table("t_timer")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSeq
      assert(rows.count(_ == ((1L, ts("2024-01-01 10:00:00"), 2L))) == 1)
      assert(rows.count(_ == ((1L, ts("2024-01-01 11:00:00"), 1L))) == 1,
        s"open session must close exactly once via its timer, got ${rows.mkString(", ")}")
      // nothing is emitted twice
      assert(rows.distinct.size == rows.size, s"duplicate emissions: $rows")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("continuous ingest pipeline: LinesSource stream → corpus gate → parquet sink, exactly-once") {
    // The engine's own pieces composed into the production ingest loop: an
    // append-only landing directory read by the custom v2 streaming source,
    // each micro-batch gated against the standing corpus digests
    // (stream-static anti join), survivors appended to a parquet sink under
    // a checkpoint. Covers the full custom-source → custom-gate → sink path
    // the individual tests prove only in isolation.
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val landing = Files.createTempDirectory("graft_ingest_landing")
    val out = Files.createTempDirectory("graft_ingest_out").toString
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    def addShard(name: String, lines: Seq[String]): Unit =
      Files.write(landing.resolve(name),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    addShard("shard-000.txt", Seq("known doc", "fresh one"))
    val corpus = {
      import spark.implicits._
      Seq("known doc", "also known").toDF("text").select(md5(col("text")).as("h"))
    }
    val q = EventStreams.dedupAgainstCorpus(
        spark.readStream.format("graft.sources.LinesSource").load(landing.toString),
        corpus)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val s1 = spark.read.parquet(out).select("text").collect().map(_.getString(0)).toSet
      assert(s1 == Set("fresh one"), s"gate failed: $s1")
      // a later shard: one corpus twin, one novel doc, one duplicate of an
      // ALREADY-INGESTED novel doc (the static gate passes it — the
      // standing digests are the state, batch-vs-batch dedup is q68's
      // dropDuplicatesWithinWatermark, deliberately not stacked here)
      addShard("shard-001.txt", Seq("also known", "novel two"))
      q.processAllAvailable()
      val s2 = spark.read.parquet(out).select("text").collect().map(_.getString(0))
      assert(s2.toSet == Set("fresh one", "novel two") && s2.length == 2,
        s"exactly-once violated or gate leaked: ${s2.toSeq}")
    } finally q.stop()
  }

  test("crash recovery: ingest pipeline restarts from its checkpoint in a fresh session, exactly-once") {
    // The continuous-ingest pipeline killed mid-stream: query 1 processes a
    // shard and STOPS (driver gone — offsets/commits survive only in the
    // checkpoint); new shards land while the pipeline is down; a NEW query
    // object in a FRESH SparkSession (newSession: its own session state,
    // streams manager, conf — the same process restart shape minus the JVM)
    // resumes from the same checkpoint. Exactly-once across the restart:
    // shard-000's survivors are not re-emitted (LinesSource's custom Offset
    // JSON round-trips through the offset log), the down-time shards are
    // emitted exactly once, and the corpus gate still holds.
    import java.nio.file.Files
    val landing = Files.createTempDirectory("graft_recover_landing")
    val out = Files.createTempDirectory("graft_recover_out").toString
    val ckpt = Files.createTempDirectory("graft_recover_ckpt").toString
    def addShard(name: String, lines: Seq[String]): Unit =
      Files.write(landing.resolve(name),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def corpusIn(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq("known doc", "also known").toDF("text").select(md5(col("text")).as("h"))
    }
    def start(s: org.apache.spark.sql.SparkSession) =
      EventStreams.dedupAgainstCorpus(
          s.readStream.format("graft.sources.LinesSource").load(landing.toString),
          corpusIn(s))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

    addShard("shard-000.txt", Seq("known doc", "fresh one", "early bird"))
    val q1 = start(spark)
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).select("text").collect().map(_.getString(0)).toSet
        == Set("fresh one", "early bird"))
    } finally q1.stop()
    // pipeline is down; two shards land — a corpus twin plus novel docs
    addShard("shard-001.txt", Seq("also known", "novel two"))
    addShard("shard-002.txt", Seq("novel three"))
    val spark2 = spark.newSession()
    val q2 = start(spark2)
    try {
      q2.processAllAvailable()
      val rows = spark2.read.parquet(out).select("text").collect().map(_.getString(0))
      assert(rows.toSet == Set("fresh one", "early bird", "novel two", "novel three"),
        s"loss or gate leak across restart: ${rows.toSeq}")
      assert(rows.length == 4, s"duplicate emission across restart: ${rows.toSeq}")
      // the restart consumed ONLY the down-time shards: offset log advanced
      // past shard-000 without re-reading it
      val committed = q2.recentProgress.map(_.sources.head.numInputRows).sum
      assert(committed == 3, s"restarted source re-read processed shards: $committed rows")
    } finally q2.stop()
  }

  test("CEP pattern matching: stream across micro-batches equals the batch q181 machine") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def pe(id: Long, user: Long, sec: Int, t: String) =
      EventStreams.PatternEvent(user,
        new Timestamp(ts("2024-01-01 00:00:00").getTime + sec * 1000L), id, t)
    // user 1 completes a funnel ACROSS the batch boundary (v,c | p,v,c,p →
    // 2 total); user 2's error run also spans it (e,e | e → 3).
    val batch1 = Seq(pe(1, 1, 1, "view"), pe(2, 1, 2, "click"),
      pe(10, 2, 1, "error"), pe(11, 2, 2, "error"))
    val batch2 = Seq(pe(3, 1, 3, "purchase"), pe(4, 1, 4, "view"),
      pe(5, 1, 5, "click"), pe(6, 1, 6, "purchase"),
      pe(12, 2, 3, "error"), pe(13, 2, 4, "view"))
    val ms = MemoryStream[EventStreams.PatternEvent]
    val q = EventStreams.patternStateful(ms.toDS())
      .writeStream.format("memory").queryName("t_cep").outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      // Upsert contract: the row with the highest n_events per user is final.
      val streamed = spark.table("t_cep").collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3))))
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_._3) }
      // The BATCH twin on the identical rows, through the parquet path.
      val tmp = java.nio.file.Files.createTempDirectory("cep-stream").toString
      (batch1 ++ batch2).map(e => (e.event_id, e.ts, e.user_id, e.event_type, 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val batch = graft.queries.EventAnalytics.eventPattern(spark, tmp).collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(batch(1L) == ((2, 0, 6)) && batch(2L) == ((0, 3, 4)))
    } finally q.stop()
  }

  test("watermark-buffered CEP: OUT-OF-ORDER arrivals across batches still equal batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def pe(id: Long, user: Long, sec: Int, t: String) =
      EventStreams.PatternEvent(user,
        new Timestamp(ts("2024-01-01 00:00:00").getTime + sec * 1000L), id, t)
    // Event-time order for user 1 is view@1, click@2, purchase@3, but the
    // CLICK arrives a batch LATE (after the purchase); patternStateful's
    // in-order contract would mis-count this as 0 funnels — the buffered
    // processor must still see v,c,p once the watermark passes them.
    val batch1 = Seq(pe(1, 1, 1, "view"), pe(3, 1, 3, "purchase"),
      pe(10, 2, 2, "error"))
    val batch2 = Seq(pe(2, 1, 2, "click"), pe(11, 2, 1, "error")) // both late-but-allowed
    val pusher = Seq(pe(99, 9, 7200, "view")) // advances the watermark past everything
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[EventStreams.PatternEvent]
    val q = EventStreams.patternWatermarked(ms.toDS(), "1 hour")
      .writeStream.format("memory").queryName("t_cep_wm").outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      ms.addData(pusher); q.processAllAvailable()
      ms.addData(Seq(pe(100, 9, 7201, "view"))); q.processAllAvailable() // fires timers
      val streamed = spark.table("t_cep_wm").collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3))))
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_._3) }
      // Batch twin over the real users' events (9 is the pusher).
      val tmp = java.nio.file.Files.createTempDirectory("cep-wm").toString
      (batch1 ++ batch2).map(e => (e.event_id, e.ts, e.user_id, e.event_type, 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val batch = graft.queries.EventAnalytics.eventPattern(spark, tmp).collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
      assert(streamed.view.filterKeys(_ != 9L).toMap == batch,
        s"stream=$streamed batch=$batch")
      assert(batch(1L) == ((1, 0, 3)), "the late click must complete the funnel")
      assert(batch(2L) == ((0, 2, 2)), "the split error run must still count 2")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("change-feed streaming source: committed versions arrive exactly once across a checkpointed restart") {
    import spark.implicits._
    import graft.tables.Versioned
    val tmp = java.nio.file.Files.createTempDirectory("cfsrc").toString
    val tbl = s"$tmp/table"
    val ckpt = s"$tmp/ckpt"
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")).toDF("k", "v", "p"),
      partCol = Some("p"))
    Versioned.merge(spark, tbl,
      Seq((2L, 21L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
      recordChanges = true) // v2: delete (2,20) + insert (2,21)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, String, Int)]()
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.ChangeFeedSource").load(tbl)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => got.add((r.getLong(0), r.getLong(1),
            r.getString(2), r.getString(3), r.getInt(4))))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(got.toArray.toSet == Set(
      (2L, 20L, "a", "delete", 2), (2L, 21L, "a", "insert", 2)), got.toString)
    // restart with the SAME checkpoint after two more commits: v3 records
    // a feed, v4 (a plain publish) does not — only v3's rows may arrive,
    // and v2's must NOT be re-delivered
    got.clear()
    Versioned.merge(spark, tbl,
      Seq((9L, 90L, "b", "I")).toDF("k", "v", "p", "_op"), "k", "p",
      recordChanges = true) // v3: insert (9,90)
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a")).toDF("k", "v", "p"), partCol = Some("p")) // v4, no feed
    run()
    assert(got.toArray.toSet == Set((9L, 90L, "b", "insert", 3)),
      s"restart must deliver exactly the new committed feed: $got")
    // a third run with nothing new delivers nothing
    got.clear()
    run()
    assert(got.isEmpty, s"no new version, no rows: $got")
    // batch read over the same source sees the full recorded history
    val batch = spark.read.format("graft.sources.ChangeFeedSource").load(tbl)
      .as[(Long, Long, String, String, Int)].collect().toSet
    assert(batch == Set(
      (2L, 20L, "a", "delete", 2), (2L, 21L, "a", "insert", 2),
      (9L, 90L, "b", "insert", 3)), batch.toString)
  }

  test("change-feed source column pruning reaches the parquet-group reader") {
    import spark.implicits._
    import graft.tables.Versioned
    val tmp = java.nio.file.Files.createTempDirectory("cfprune").toString
    val tbl = s"$tmp/table"
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    Versioned.merge(spark, tbl,
      Seq((1L, 11L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
      recordChanges = true)
    val pruned = spark.read.format("graft.sources.ChangeFeedSource").load(tbl)
      .select("k", "_change")
    val plan = org.apache.spark.sql.GraftSqlBridge.executedPlan(pruned).toString
    assert(plan.contains("ReadSchema=k,_change"), s"pruning not pushed:\n$plan")
    assert(pruned.as[(Long, String)].collect().toSet ==
      Set((1L, "delete"), (1L, "insert")))
    // the feed read is VECTORIZED (VersionedColumnarReader; _version a
    // constant vector) — plan shows the columnar-to-row boundary
    val full = spark.read.format("graft.sources.ChangeFeedSource").load(tbl)
    assert(org.apache.spark.sql.GraftSqlBridge.executedPlan(full).toString
      .contains("ColumnarToRow"), "change-feed scan must be columnar")
    assert(full.as[(Long, Long, String, String, Int)].collect().toSet ==
      Set((1L, 10L, "a", "delete", 2), (1L, 11L, "a", "insert", 2)))
  }

  test("change-feed source admission control: maxVersionsPerTrigger bounds each micro-batch; startingVersion=latest skips history") {
    import spark.implicits._
    import graft.tables.Versioned
    val tmp = java.nio.file.Files.createTempDirectory("cfrate").toString
    val tbl = s"$tmp/table"
    Versioned.publish(spark, tbl,
      (1L to 6L).map(k => (k, k * 10, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    (1 to 3).foreach { i =>
      Versioned.merge(spark, tbl,
        Seq((i.toLong, i * 100L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
        recordChanges = true) // v2, v3, v4 — one changed key each
    }
    val versionsPerBatch = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val q = spark.readStream.format("graft.sources.ChangeFeedSource")
      .option("maxVersionsPerTrigger", "1").load(tbl)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_version").distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        if (vs.nonEmpty) versionsPerBatch.add(vs)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val batches = versionsPerBatch.toArray(Array.empty[Seq[Int]]).toSeq
    assert(batches.forall(_.size == 1),
      s"each micro-batch must carry exactly one version: $batches")
    assert(batches.flatten.sorted == Seq(2, 3, 4),
      s"all three versions must arrive exactly once: $batches")
    // startingVersion=latest: only versions committed AFTER stream start
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q2 = spark.readStream.format("graft.sources.ChangeFeedSource")
      .option("startingVersion", "latest").load(tbl)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("_version").distinct().collect().foreach(r => late.add(r.getInt(0)))
        ()
      }.start()
    try {
      q2.processAllAvailable()
      assert(late.isEmpty, s"latest must skip all history: $late")
      Versioned.merge(spark, tbl,
        Seq((5L, 500L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
        recordChanges = true) // v5
      q2.processAllAvailable()
      assert(late.toArray.toSeq == Seq(5), s"only the post-start commit: $late")
    } finally q2.stop()
  }

  test("change-feed source fails loudly on a vacuumed version instead of skipping its changes") {
    import spark.implicits._
    import graft.tables.Versioned
    val tmp = java.nio.file.Files.createTempDirectory("cfvacuum").toString
    val tbl = s"$tmp/table"
    Versioned.publish(spark, tbl,
      (1L to 3L).map(k => (k, k * 10, "a")).toDF("k", "v", "p"), partCol = Some("p"))
    (1 to 3).foreach { i =>
      Versioned.merge(spark, tbl,
        Seq((i.toLong, i * 100L, "a", "U")).toDF("k", "v", "p", "_op"), "k", "p",
        recordChanges = true) // v2, v3, v4 — one update (two images) each
    }
    def feedFrom(v: Int) = spark.read.format("graft.sources.ChangeFeedSource")
      .option("startingVersion", v.toString).load(tbl)
      .select("_version").as[Int].collect().toSeq.sorted
    assert(feedFrom(0) == Seq(2, 2, 3, 3, 4, 4))
    Versioned.vacuum(spark, tbl, keep = Set(4), retentionMs = 0)
    // the first vacuumed version of the range is named, whether its
    // manifest or only its recorded feed dir is gone
    Seq(0 -> 1, 1 -> 2).foreach { case (from, first) =>
      val err = intercept[IllegalArgumentException](feedFrom(from))
      assert(err.getMessage.contains(s"version $first does not exist (or was vacuumed)"),
        err.getMessage)
    }
    // a read that starts past the vacuumed versions still serves v4
    assert(feedFrom(3) == Seq(4, 4))
  }
}
