package graft.tables

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Engine code reads parquet through `Tables.parquet` only: a plain
  * `spark.read.parquet(...)`, with or without `.option(...)` calls in
  * between, would bring back Spark's one-task schema job on every call.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val plainRead =
    """\.read\s*(?:\.options?\((?:[^()]|\([^()]*\))*\)\s*)*\.parquet\(""".r

  test("src/main never calls .read.parquet( or .read.option(...).parquet(") {
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val files = sources(new File("src/main/scala"))
    assert(files.size > 50, "run from the repository root")
    val hits = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      plainRead.findAllMatchIn(text).map { m =>
        s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(hits.isEmpty, s"read parquet through Tables.parquet instead: ${hits.mkString(", ")}")
    // the pattern itself still sees both spellings, across line breaks
    assert(plainRead.findFirstIn("spark.read.parquet(p)").nonEmpty)
    assert(plainRead.findFirstIn("spark.read\n  .option(\"basePath\", new Path(t, d).toString)\n  .parquet(p)").nonEmpty)
    assert(plainRead.findFirstIn("spark.readStream.schema(s).parquet(p)").isEmpty)
  }
}
