package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-JVM gate: the custom physical operators under
  * `local-cluster[2,2,1024]` — real forked executor processes, so task
  * closures, exec-node serialization, and executor-local caches cross an
  * actual process boundary (local[N] shares one JVM and can't see these
  * failures). Runs in its own forked test JVM (build.sbt `testGrouping`)
  * because a JVM holds exactly one SparkContext and every other suite
  * shares the local[4] session.
  *
  * The corresponding full-surface gate is the 190-query Verify sweep under
  * `SPARK_GRAFT_MASTER=local-cluster[2,8,4096]` (r10, 190/190 hash-green);
  * this spec pins the two properties the sweep cannot observe from the
  * driver: per-EXECUTOR memoization counts and driver non-participation.
  */
/** Executor-side probes live OUTSIDE the suite: a lambda defined in a
  * scalatest class deserializes against the suite's supertypes, which are
  * not on the executor classpath (only classes/test-classes are shipped).
  */
object ClusterProbes {
  def executorIds(spark: SparkSession): Set[String] =
    spark.sparkContext.range(0, 64, 1, 64)
      .map(_ => org.apache.spark.SparkEnv.get.executorId)
      .collect().toSet

  /** Per-JVM BroadcastRangeJoinExec.buildCount harvested on the executors. */
  def perJvmBuildCounts(spark: SparkSession): Map[String, Long] =
    spark.sparkContext.range(0, 64, 1, 64)
      .map(_ => (org.apache.spark.SparkEnv.get.executorId,
        BroadcastRangeJoinExec.buildCount.get()))
      .collect().groupBy(_._1).map { case (e, v) => e -> v.map(_._2).max }

  /** Per-JVM BeamSearchExec index decodes, harvested the same way. */
  def perJvmBeamCounts(spark: SparkSession): Map[String, Long] =
    spark.sparkContext.range(0, 64, 1, 64)
      .map(_ => (org.apache.spark.SparkEnv.get.executorId,
        BeamSearchExec.buildCount.get()))
      .collect().groupBy(_._1).map { case (e, v) => e -> v.map(_._2).max }

  /** Injection counter for the task-retry test — a plain per-JVM static,
    * harvested like buildCount (accumulators under-report on failed
    * attempts by design, which is exactly the attempt we need to count).
    */
  val injectedFailures = new java.util.concurrent.atomic.AtomicLong(0)

  def perJvmInjections(spark: SparkSession): Long =
    spark.sparkContext.range(0, 64, 1, 64)
      .map(_ => (org.apache.spark.SparkEnv.get.executorId,
        ClusterProbes.injectedFailures.get()))
      .collect().groupBy(_._1).map { case (_, v) => v.map(_._2).max }.sum

  /** Deterministic IN-FLIGHT task failure: the FIRST attempt of partition 0
    * of any stage mapping through this dies before emitting a row; the
    * retry attempt passes rows through untouched. Lives in this plain
    * object so the closure carries no scalatest supertypes to the executor
    * JVMs.
    */
  def failFirstAttempt(ds: org.apache.spark.sql.Dataset[String])
      : org.apache.spark.sql.Dataset[String] = {
    val s = ds.sparkSession; import s.implicits._
    ds.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        ClusterProbes.injectedFailures.incrementAndGet()
        throw new RuntimeException("graft-injected first-attempt task failure")
      }
      it
    }
  }

  /** Per-JVM count of partition-0 attempts through [[drainThenStall]] —
    * ≥2 summed over executors proves a duplicate attempt actually ran.
    */
  val slowAttemptRuns = new java.util.concurrent.atomic.AtomicLong(0)

  def perJvmSlowRuns(spark: SparkSession): Long =
    spark.sparkContext.range(0, 64, 1, 64)
      .map(_ => (org.apache.spark.SparkEnv.get.executorId,
        ClusterProbes.slowAttemptRuns.get()))
      .collect().groupBy(_._1).map { case (_, v) => v.map(_._2).max }.sum

  /** Deterministic ZOMBIE: attempt 0 of partition 0 fully DRAINS its
    * shuffle input (past the InterruptibleIterator — the last kill check
    * on its path), touches `markerPath` to tell the driver-side killer
    * "too late to stop me cleanly", then stalls ~6 s swallowing
    * interrupts, then emits its rows anyway — by which time the
    * rescheduled attempt has long committed the batch, so this attempt's
    * output is a concurrent DUPLICATE the sink's commit protocol must
    * exclude. Downstream of the drain there is no kill check (the parquet
    * write path doesn't poll TaskContext), which is exactly why file
    * sinks need commit-side dedup: a killed-but-running task cannot be
    * assumed dead. The file marker works because local-cluster's executor
    * JVMs share the driver host's filesystem.
    */
  def drainThenStall(ds: org.apache.spark.sql.Dataset[String], markerPath: String)
      : org.apache.spark.sql.Dataset[String] = {
    val s = ds.sparkSession; import s.implicits._
    ds.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.partitionId() == 0) {
        ClusterProbes.slowAttemptRuns.incrementAndGet()
        if (tc.attemptNumber() == 0) {
          val rows = it.toArray // drain BEFORE the kill flag exists
          java.nio.file.Files.write(java.nio.file.Paths.get(markerPath),
            Array[Byte]('1'))
          val until = System.nanoTime() + 6L * 1000 * 1000 * 1000
          while (System.nanoTime() < until)
            try Thread.sleep(100) catch { case _: InterruptedException => () }
          rows.iterator
        } else it
      } else it
    }
  }
}

class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  // local-cluster forks executor JVMs via the standalone launcher, which
  // needs a real Spark distribution at SPARK_HOME. When it is absent, skip
  // session creation in beforeAll (an exception there ABORTS the suite) and
  // let each test cancel itself with an explicit message via `assume`.
  private val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
  private def launcherPresent = new java.io.File(sparkHome, "jars").isDirectory
  private def requireLauncher(): Unit = org.scalatest.Assertions.assume(
    launcherPresent,
    s"SPARK_HOME=$sparkHome has no jars/ dir; local-cluster needs a Spark " +
      "distribution (set SPARK_HOME) - cancelling the multi-JVM group")

  override def beforeAll(): Unit = if (launcherPresent) {
    val classes = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")
    spark = SparkSession.builder()
      .master("local-cluster[2,2,1024]")
      .appName("graft-local-cluster")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.extraClassPath", classes)
      .config("spark.executor.extraJavaOptions", opens)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Don't start asserting until both executor JVMs have registered and
    // taken tasks (executor launch is asynchronous in standalone mode).
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    var execs = Set.empty[String]
    while (execs.size < 2 && System.nanoTime() < deadline) {
      execs = ClusterProbes.executorIds(spark)
      if (execs.size < 2) Thread.sleep(500)
    }
    assert(execs.size == 2, s"expected 2 executor JVMs, saw $execs")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("interval index builds at most once per executor JVM; the driver builds none") {
    requireLauncher()
    val s = spark; import s.implicits._
    val build = Seq((1L, 0L, 100L), (2L, 50L, 180L), (3L, 200L, 340L), (4L, 500L, 900L))
      .toDF("win_id", "lo", "hi")
    val probe = spark.range(0, 400)
      .select(col("id").as("ev_id"), (col("id") * 7 % 1000).as("ts"))
      .repartition(16)
    val native = GraftOps.broadcastRangeJoin(probe, build, "ts", "lo", "hi")
      .select("ev_id", "win_id").as[(Long, Long)].collect().sorted.toSeq
    val builtin = probe.join(build, col("ts") >= col("lo") && col("ts") < col("hi"))
      .select("ev_id", "win_id").as[(Long, Long)].collect().sorted.toSeq
    assert(native == builtin && native.nonEmpty)
    val counts = ClusterProbes.perJvmBuildCounts(spark)
    assert(counts.keySet.size == 2, s"harvest missed an executor: $counts")
    // 16 probe tasks per executor pair → without the memo this would be up
    // to 16 builds; the SoftReference memo admits >1 only under memory
    // pressure reclaim, which a 1 GB idle executor does not hit.
    assert(counts.values.forall(_ <= 1L), s"per-executor builds: $counts")
    assert(counts.values.sum >= 1L, s"nobody built the index: $counts")
    // The broadcast value is deserialized and indexed on executors ONLY —
    // the driver-side counter in this JVM must be untouched.
    assert(BroadcastRangeJoinExec.buildCount.get() == 0L,
      "driver JVM built the interval index")
  }

  test("beam search: exec + broadcast index serialize across executor JVMs; driver decodes nothing") {
    requireLauncher()
    val s = spark; import s.implicits._
    // The BeamSearchSpec synthetic graph, pushed across a real process
    // boundary: UnsafeRow broadcast blocks decode on the executors only.
    def codeOf(id: Long): Seq[Byte] =
      Seq.tabulate(4)(i => (((id + 1) * (i + 3)) % 23 - 11).toByte)
    val layer0: Map[Long, Seq[Long]] = Map(
      0L -> Seq(1L, 2L, 5L), 1L -> Seq(0L, 3L), 2L -> Seq(0L, 4L),
      3L -> Seq(1L, 5L), 4L -> Seq(2L, 5L), 5L -> Seq(0L, 3L, 4L))
    val index = (0L to 5L).map(id =>
      (id, codeOf(id), Seq(layer0.getOrElse(id, Seq.empty)))).toDF("vec_id", "q", "adj")
    val probes = (0L to 5L).map(id => (id, codeOf(id), 0L))
      .toDF("p_id", "pq", "entry_id").repartition(8)
    val schedule = Seq((0, 3, 2))
    val got = GraftOps.beamSearch(probes, index,
        ("p_id", "pq", "entry_id"), ("vec_id", "q", "adj"), schedule)
      .as[(Long, Long)].collect().toSet
    // reference walk (driver-side plain code)
    def iscore(p: Long, c: Long): Long =
      codeOf(p).zip(codeOf(c)).map { case (a, b) => a.toLong * b.toLong }.sum
    val want = (0L to 5L).flatMap { pid =>
      var beam = List(0L)
      for (_ <- 1 to 2) {
        val cand = (beam ++ beam.flatMap(layer0.getOrElse(_, Seq.empty))).distinct
        beam = cand.sortBy(id => (-iscore(pid, id), id)).take(3)
      }
      beam.map(pid -> _)
    }.toSet
    assert(got == want, s"got $got want $want")
    val counts = ClusterProbes.perJvmBeamCounts(spark)
    assert(counts.values.forall(_ <= 1L), s"per-executor decodes: $counts")
    assert(BeamSearchExec.buildCount.get() == 0L, "driver JVM decoded the graph index")
  }

  test("streaming task retry: an injected in-flight task failure mid-batch stays exactly-once") {
    requireLauncher()
    // The r11 verdict's missing failure mode: crash-RESTART exactly-once is
    // proven (StreamingSpec), but nothing killed an in-flight TASK. Here
    // the first attempt of partition 0 of the post-shuffle stage dies in
    // EVERY micro-batch (injection in ClusterProbes — deterministic, not
    // flaky); local-cluster's spark.task.maxFailures=4 retries it, and the
    // checkpointed file-source → shuffle → parquet pipeline must commit
    // each batch exactly once — no lost rows, no duplicates from the
    // half-run first attempt.
    import java.nio.file.Files
    val landing = Files.createTempDirectory("graft_retry_landing")
    val out = Files.createTempDirectory("graft_retry_out").toString
    val ckpt = Files.createTempDirectory("graft_retry_ckpt").toString
    def addShard(name: String, lines: Seq[String]): Unit =
      Files.write(landing.resolve(name),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    addShard("shard-000.txt", (1 to 20).map(i => s"doc-$i"))
    val s = spark; import s.implicits._
    val src = spark.readStream.format("graft.sources.LinesSource")
      .load(landing.toString)
      .select(col("text")).as[String].repartition(4)
    val q = ClusterProbes.failFirstAttempt(src)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      addShard("shard-001.txt", (21 to 30).map(i => s"doc-$i"))
      q.processAllAvailable()
      val rows = spark.read.parquet(out).as[String].collect().toSeq
      val want = (1 to 30).map(i => s"doc-$i")
      assert(rows.sorted == want.sortBy(identity),
        s"retry broke exactly-once: ${rows.size} rows, ${rows.distinct.size} distinct")
      assert(ClusterProbes.perJvmInjections(spark) >= 2L,
        "the failure injection never fired — the test proved nothing")
    } finally q.stop()
  }

  test("TopKPerKey partial/final execs serialize across executors and match the window form") {
    requireLauncher()
    val s = spark; import s.implicits._
    val df = spark.range(0, 5000)
      .select(col("id"), (col("id") % 37).as("k"),
        (col("id") * 2654435761L % 1001).as("v"))
      .repartition(13)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
    def top3 = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select("k", "id", "rnk")
    val window = graft.SparkSpec.windowReference(spark)(top3)
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val q = top3
    val native = q.as[(Long, Long, Int)].collect().sorted.toSeq
    assert(graft.SparkSpec.planNodes(q).contains("TopKPerKeyFinalExec"))
    assert(native.exists { case (_, _, r) => r == 3 })
    assert(native == window)
  }
}
