package graft.core

import graft.SparkSpec
import graft.core.JobTracker._
import org.apache.spark.GraftSparkBridge

/** Progress/lifecycle contract (SURVEY.md §5.2 property d + reference
  * `Sample Client/SampleClient.cpp:83-99` poll loop): async start, stage
  * progression, percentage in [0,100], terminal REDUCE/100, idempotent wait.
  */
class JobTrackerSpec extends SparkSpec {
  import spark.implicits._

  test("job runs async, progresses, and terminates at REDUCE 100%") {
    val ds = spark.range(0, 200000).map(i => (i % 1000, 1L))
    val handle = JobTracker.start(spark) {
      ds.groupByKey(_._1).mapGroups((k, it) => (k, it.size)).collect().length
    }
    // poll like the reference sample does (100 ms period)
    val seen = scala.collection.mutable.ArrayBuffer.empty[JobState]
    var spins = 0
    while (handle.getJobState != JobState(REDUCE, 100f) && spins < 600) {
      seen += handle.getJobState
      Thread.sleep(10)
      spins += 1
    }
    val n = handle.waitForJob()
    assert(n == 1000)
    assert(handle.getJobState == JobState(REDUCE, 100f))
    assert(seen.forall(s => s.percentage >= 0f && s.percentage <= 100f))
    // stage order must be monotone: UNDEFINED ≤ MAP ≤ SHUFFLE ≤ REDUCE
    val rank = Map[Stage, Int](UNDEFINED -> 0, MAP -> 1, SHUFFLE -> 2, REDUCE -> 3)
    val ranks = seen.map(s => rank(s.stage))
    assert(ranks.zip(ranks.drop(1)).forall { case (a, b) => a <= b })
  }

  test("waitForJob is idempotent and close releases") {
    val handle = JobTracker.start(spark) {
      spark.range(0, 1000).toDF("i").count()
    }
    assert(handle.waitForJob() == 1000L)
    assert(handle.waitForJob() == 1000L) // second wait returns immediately
    assert(handle.close() == 1000L)
  }

  test("percentage is monotone within the MAP phase") {
    val ds = spark.range(0, 500000).repartition(16).map(i => (i % 7, i))
    val handle = JobTracker.start(spark) {
      ds.groupByKey(_._1).mapGroups((k, it) => (k, it.length)).collect()
    }
    val pcts = scala.collection.mutable.ArrayBuffer.empty[Float]
    while (handle.getJobState != JobState(REDUCE, 100f) && pcts.size < 2000) {
      val s = handle.getJobState
      if (s.stage == MAP) pcts += s.percentage
      Thread.sleep(5)
    }
    handle.close()
    assert(pcts.zip(pcts.drop(1)).forall { case (a, b) => a <= b })
  }
  test("Y3: user-code failure surfaces as the wait's exception; close still releases") {
    val ds = spark.range(0, 1000).map(i => (i % 10, 1L))
    val handle = JobTracker.start(spark) {
      ds.groupByKey(_._1).mapGroups { (k, it) =>
        if (k == 3) throw new IllegalStateException("user reduce blew up")
        (k, it.size)
      }.collect().length
    }
    val err = intercept[Exception] { handle.close() }
    // Spark wraps user exceptions in SparkException chains; the root cause
    // must be OUR failure, not a framework artifact.
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(err).exists(_.getMessage != null)
      && causes(err).exists(c => String.valueOf(c.getMessage).contains("user reduce blew up")),
      s"unexpected failure chain: ${causes(err).map(_.toString)}")
    // the failed action released its meter scope: the session keeps
    // working and a fresh job tracks from a clean state.
    val ok = JobTracker.start(spark) {
      ds.groupByKey(_._1).mapGroups((k, it) => (k, it.size)).collect().length
    }
    assert(ok.close() == 10)
  }

  test("a change-feed stream inside the action: progress never drops and ends at REDUCE 100") {
    import graft.tables.Versioned
    val tbl = java.nio.file.Files.createTempDirectory("jtfeed").toString + "/table"
    Versioned.publish(spark, tbl,
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")).toDF("k", "v", "p"), partCol = Some("p"))
    Versioned.merge(spark, tbl, Seq((2L, 21L, "a", "U"), (4L, 40L, "b", "I"))
      .toDF("k", "v", "p", "_op"), "k", "p", recordChanges = true)
    // q220's shape: stream the recorded feed into a memory sink, then aggregate it
    val handle = JobTracker.start(spark) {
      val q = spark.readStream.format("graft.sources.ChangeFeedSource").load(tbl)
        .writeStream.format("memory").queryName("jt_cfeed").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table("jt_cfeed").groupBy("_version", "_change").count().collect().length
    }
    val rank = Map[Stage, Int](UNDEFINED -> 0, MAP -> 1, SHUFFLE -> 2, REDUCE -> 3)
    var last = handle.getJobState
    val drops = scala.collection.mutable.ArrayBuffer.empty[(JobState, JobState)]
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (last != JobState(REDUCE, 100f) && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val s = handle.getJobState
      if (rank(s.stage) < rank(last.stage) ||
          (s.stage == last.stage && s.percentage < last.percentage)) drops += ((last, s))
      last = s
    }
    assert(last == JobState(REDUCE, 100f))
    assert(drops.isEmpty, s"progress dropped: $drops")
    assert(handle.waitForJob() == 2) // (v2, delete) and (v2, insert)
  }

  test("under AQE a shuffling action reports MAP, then SHUFFLE, then REDUCE 100, never dropping") {
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val ds = spark.range(0L, 2000000L, 1L, 8).map(i => (i % 1000, i))
    val handle = JobTracker.start(spark) {
      ds.groupByKey(_._1).mapGroups((k, it) => (k, it.size)).collect().length
    }
    val seen = scala.collection.mutable.ArrayBuffer(handle.getJobState)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (seen.last != JobState(REDUCE, 100f) && System.nanoTime() < deadline) {
      Thread.sleep(2)
      seen += handle.getJobState
    }
    assert(handle.waitForJob() == 1000)
    val rank = Map[Stage, Int](UNDEFINED -> 0, MAP -> 1, SHUFFLE -> 2, REDUCE -> 3)
    val drops = seen.zip(seen.drop(1)).filter { case (a, b) =>
      rank(b.stage) < rank(a.stage) || (b.stage == a.stage && b.percentage < a.percentage)
    }
    assert(drops.isEmpty, s"progress dropped: $drops")
    val phases = seen.map(_.stage).filter(_ != UNDEFINED)
      .foldLeft(Vector.empty[Stage])((ps, s) => if (ps.lastOption.contains(s)) ps else ps :+ s)
    assert(phases == Seq(MAP, SHUFFLE, REDUCE), s"phases seen: $phases")
    assert(seen.last == JobState(REDUCE, 100f))
  }

  test("handles that are waited on and never closed register no listener") {
    val sc = spark.sparkContext
    JobTracker.start(spark)(spark.range(0, 10).count()).waitForJob()
    val before = GraftSparkBridge.listenerCount(sc)
    (1 to 20).foreach(_ => JobTracker.start(spark)(spark.range(0, 10).count()).waitForJob())
    assert(GraftSparkBridge.listenerCount(sc) == before)
  }
}
