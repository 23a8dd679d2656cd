package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared helper for the complex-typed substrate tables (token corpus,
  * normed vectors, shingle index, oriented edges): parquet-materialize a
  * build once per cache key and hand every consumer a plain scan of the
  * written table.
  *
  * Parquet rather than `persist` is a MEASURED choice (BASELINE.md
  * §persist-vs-parquet): Spark's in-memory columnar cache row-decodes
  * ARRAY/STRUCT columns on every read, which doubled the suite's executor
  * CPU while local[32] walls hid it; the parquet nested reader is
  * vectorized and prunes. Primitive-typed tables stay on `persist`, whose
  * in-memory vectorized path is fine.
  *
  * Locally the tables land in temp dirs; a production deployment would
  * point this at the shared warehouse store — where a tokenized/shingled
  * corpus table lives anyway. Owners release tables via their
  * `evictCaches` (→ [[delete]]); a JVM shutdown hook sweeps anything not
  * evicted, so repeated Verify/Bench runs cannot accumulate temp corpora.
  */
object MaterializedTables {
  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    live.forEach(p => try deleteTree(p.toString) catch { case _: Throwable => () })
  }, "graft-materialized-tables-sweep"))

  def materialize[K](
      cache: scala.collection.concurrent.TrieMap[K, (DataFrame, java.nio.file.Path)],
      key: K, spark: SparkSession, prefix: String)(build: => DataFrame): DataFrame =
    cache.synchronized { cache.getOrElseUpdate(key, {
      val path = java.nio.file.Files.createTempDirectory(prefix)
      live.add(path)
      build.write.mode("overwrite").parquet(path.toString)
      (spark.read.parquet(path.toString), path)
    })._1 }

  /** Delete a materialized table's files and stop tracking it. */
  def delete(path: java.nio.file.Path): Unit = {
    live.remove(path)
    deleteTree(path.toString)
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
    // The committed-manifest memo keys on (path, length, mtime); a
    // republish under the same paths could false-positive on coarse-mtime
    // filesystems — invalidate the subtree's verdicts with the tree.
    graft.tables.Versioned.invalidateCommittedMemo(path)
  }
}
