package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.sessionUUID
import org.apache.spark.storage.StorageLevel

/** The substrate registry: every input a query family derives from its
  * corpus once and shares among its queries (token corpus, shingle index,
  * normed vectors, signature tables, trained k-means, suffix spans, the
  * z-order layout, the versioned store's staged tables) is memoized and
  * released here, and nowhere else.
  *
  *  - Key: (session UUID, corpus dir, name). The UUID, not the
  *    SparkSession: a static map keyed on the session object would keep
  *    every session alive for the JVM's lifetime. Names carry their family
  *    ("dedup/srcsketch", "sinks/merge_vt"), so two families cannot
  *    collide.
  *  - Lock: one per key. The first caller of a key builds while later
  *    callers of that key wait; other keys proceed. A build may use other
  *    substrates (nearDupPairs → shingleBuckets → shingled): those
  *    dependencies form a DAG, so per-key locks cannot deadlock. A build
  *    that throws memoizes nothing, and the next caller builds again.
  *  - Release: [[evict]] drops every entry of one session and runs each
  *    entry's release. A parquet entry deletes its temp dir, a persisted
  *    one is unpersisted, a checkpointed one frees its blocks, and an entry
  *    whose state lives on disk by design (Sinks' staged tables, the
  *    z-order layout) only forgets the memo. Call it when a corpus pass is
  *    over. A JVM shutdown hook deletes every temp dir not evicted, so
  *    repeated Verify/Bench runs cannot accumulate temp corpora.
  *
  * Storage: complex-typed tables (ARRAY/STRUCT columns) go through
  * [[parquet]], primitive-typed ones through [[persisted]]. This is a
  * MEASURED choice (BASELINE.md §persist-vs-parquet): Spark's in-memory
  * columnar cache row-decodes ARRAY/STRUCT columns on every read, which
  * doubled the suite's executor CPU while local[32] walls hid it; the
  * parquet nested reader is vectorized and prunes. Primitive columns read
  * fine from the in-memory vectorized cache. Locally the parquet tables
  * land in temp dirs; a production deployment would point them at the
  * shared warehouse store, where a tokenized/shingled corpus lives anyway.
  */
object Substrates {

  private final case class Key(session: String, dir: String, name: String)

  /** One key's holder: builds at most once, under its own lock. */
  private final class Cell {
    private var built: Option[(Any, () => Unit)] = None // (value, its release)

    def apply[V](build: => V, release: V => Unit): V = synchronized {
      if (built.isEmpty) { val v = build; built = Some((v, () => release(v))) }
      built.get._1.asInstanceOf[V]
    }

    def free(): Unit = synchronized { built.foreach(_._2()); built = None }
  }

  private val cells = scala.collection.concurrent.TrieMap.empty[Key, Cell]

  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    live.forEach(p => try deleteTree(p.toString) catch { case _: Throwable => () })
  }, "graft-substrates-sweep"))

  /** The substrate `name` of `dir` in this session: `build` on first use,
    * the memoized value afterwards; [[evict]] passes it to `release`.
    */
  def memo[V](spark: SparkSession, dir: String, name: String)(build: => V)(
      release: V => Unit): V =
    cells.getOrElseUpdate(Key(sessionUUID(spark), dir, name), new Cell)(build, release)

  /** `build` written once as parquet under a `graft_<name without family>`
    * temp dir; every caller gets a plain scan of it.
    */
  def parquet(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    memo(spark, dir, name) {
      val path = java.nio.file.Files.createTempDirectory(
        "graft_" + name.substring(name.lastIndexOf('/') + 1))
      live.add(path)
      build.write.mode("overwrite").parquet(path.toString)
      (graft.tables.Tables.parquet(spark).load(path.toString), path)
    } { case (_, path) => live.remove(path); deleteTree(path.toString) }._1

  /** `build` persisted MEMORY_AND_DISK (lazily filled by its first action). */
  def persisted(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    memo(spark, dir, name)(build.persist(StorageLevel.MEMORY_AND_DISK))(
      _.unpersist(blocking = false))

  /** Release and forget every substrate of `spark`'s session (all corpora,
    * all families); other sessions' entries stay.
    */
  def evict(spark: SparkSession): Unit = {
    val session = sessionUUID(spark)
    cells.keys.filter(_.session == session).foreach(k => cells.remove(k).foreach(_.free()))
  }

  /** Delete `path` and everything under it; a no-op for a missing path. */
  private[queries] def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val files = java.nio.file.Files.walk(p)
      try files.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally files.close()
    }
    // The manifest memo keys on (path, length, mtime); a republish under
    // the same paths could hit it on coarse-mtime filesystems — drop the
    // subtree's observations with the tree.
    graft.tables.Versioned.invalidateManifestMemo(path)
  }
}
