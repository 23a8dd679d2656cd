package graft.queries

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The substrate registry's contract: one build per key under concurrent
  * callers, per-key (not global) locking, nested builds, no memo of a
  * failed build, and an eviction that releases exactly one session's
  * entries — parquet dir, persisted blocks and checkpoint blocks alike.
  */
class SubstratesSpec extends SparkSpec {

  private val dir = "substrates-spec"

  private def withPool[T](body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(4)
    try body(ExecutionContext.fromExecutorService(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  private def tempDirOf(df: DataFrame): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head).getPath).getParent

  test("concurrent callers of one key share a single build") {
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val got = withPool { implicit ec =>
      val calls = (1 to 4).map(_ => Future {
        go.await()
        Substrates.memo(spark, dir, "spec/shared") {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }(_ => ())
      })
      go.countDown()
      calls.map(Await.result(_, 1.minute))
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))
    Substrates.evict(spark)
  }

  test("a build holds only its own key: another key builds meanwhile") {
    val aBuilding = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val a = withPool { implicit ec =>
      val fa = Future {
        Substrates.memo(spark, dir, "spec/a") {
          aBuilding.countDown()
          assert(bDone.await(30, TimeUnit.SECONDS), "key b waited for key a's build")
          "a"
        }(_ => ())
      }
      assert(aBuilding.await(30, TimeUnit.SECONDS))
      assert(Substrates.memo(spark, dir, "spec/b")("b")(_ => ()) == "b")
      bDone.countDown()
      Await.result(fa, 1.minute)
    }
    assert(a == "a")
    Substrates.evict(spark)
  }

  test("a nested build memoizes both keys") {
    val inner = new AtomicInteger
    def innerValue: Int = Substrates.memo(spark, dir, "spec/inner") {
      inner.incrementAndGet(); 20
    }(_ => ())
    val outer = Substrates.memo(spark, dir, "spec/outer")(innerValue + 1)(_ => ())
    assert(outer == 21)
    assert(innerValue == 20)
    assert(inner.get == 1)
    Substrates.evict(spark)
  }

  test("a build that throws is not memoized; the next call builds again") {
    val builds = new AtomicInteger
    def call(): String = Substrates.memo(spark, dir, "spec/flaky") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "ok"
    }(_ => ())
    intercept[IllegalStateException](call())
    assert(call() == "ok")
    assert(call() == "ok")
    assert(builds.get == 2)
    Substrates.evict(spark)
  }

  test("evict releases the parquet dir, persisted and checkpoint blocks of one session only") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val table = Substrates.parquet(spark, dir, "spec/table")(spark.range(5).toDF("id"))
    val tableDir = tempDirOf(table)
    assert(tableDir.getFileName.toString.startsWith("graft_table"))
    assert(Substrates.persisted(spark, dir, "spec/persisted")(spark.range(7).toDF("id"))
      .count() == 7)
    val ck = Substrates.memo(spark, dir, "spec/checkpoint")(
      spark.range(9).toDF("id").localCheckpoint())(
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpointed)
    assert(ck.count() == 9)
    val blocks = sc.getPersistentRDDs.keySet -- before
    assert(blocks.size == 2, s"expected the persisted and the checkpoint RDD: $blocks")

    val other = spark.newSession()
    val otherBuilds = new AtomicInteger
    def otherTable(): DataFrame = Substrates.parquet(other, dir, "spec/table") {
      otherBuilds.incrementAndGet(); other.range(3).toDF("id")
    }
    val otherDir = tempDirOf(otherTable())
    assert(otherDir != tableDir)

    Substrates.evict(spark)
    assert(!java.nio.file.Files.exists(tableDir))
    assert(sc.getPersistentRDDs.keySet.intersect(blocks).isEmpty)
    assert(java.nio.file.Files.exists(otherDir))
    assert(otherTable().count() == 3)
    assert(otherBuilds.get == 1, "evicting one session rebuilt another's entry")

    Substrates.evict(other)
    assert(!java.nio.file.Files.exists(otherDir))
  }
}
