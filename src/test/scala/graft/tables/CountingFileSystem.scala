package graft.tables

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The specs' `file://` FileSystem: [[graft.sources.FastLocalFileSystem]]
  * (no chmod fork; `exclusiveCreate` keeps its `file`-scheme path) that
  * also counts the driver's filesystem calls while a [[CountingFileSystem.during]]
  * scope is open. A driver call is one made outside any Spark task, on
  * whichever thread (the caller's, a stream's); each public call counts
  * once, however many of its own methods it goes through. `exists` counts
  * as the `getFileStatus` it calls. Wired by `SparkSpec` through
  * `spark.hadoop.fs.file.impl`.
  */
class CountingFileSystem extends graft.sources.FastLocalFileSystem {
  import CountingFileSystem.record

  override def listStatus(f: Path): Array[FileStatus] = record("listStatus", f)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = record("getFileStatus", f)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    record("open", f)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    record("create", f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    record("create", f)(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = record("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    record("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = record("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    record("mkdirs", f)(super.mkdirs(f, permission))
}

object CountingFileSystem {
  /** One driver call: the operation, its path and the first engine frame
    * that made it (`graft.tables.Versioned$.listing(LakeOps.scala:740)`).
    */
  final case class Call(op: String, path: String, site: String)

  @volatile private var scope: ConcurrentLinkedQueue[Call] = _
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  private def record[T](op: String, p: Path)(body: => T): T = {
    val outer = depth.get == 0
    val open = scope
    if (outer && open != null && org.apache.spark.TaskContext.get() == null)
      open.add(Call(op, String.valueOf(p), site()))
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  private def site(): String = {
    val frames = Thread.currentThread.getStackTrace.toSeq
      .filterNot(f => f.getClassName.startsWith("graft.tables.CountingFileSystem"))
    frames.find(f => f.getClassName.startsWith("graft.") && !f.getClassName.endsWith("Spec"))
      .orElse(frames.find(f => !f.getClassName.startsWith("org.apache.hadoop.") &&
        !f.getClassName.startsWith("java.")))
      .fold("-")(f => s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
  }

  /** The driver calls made while `body` runs. One scope at a time. */
  def during(body: => Any): Seq[Call] = synchronized {
    val calls = new ConcurrentLinkedQueue[Call]()
    scope = calls
    try body finally scope = null
    calls.asScala.toSeq
  }
}
