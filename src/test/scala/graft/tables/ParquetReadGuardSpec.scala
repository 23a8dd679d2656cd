package graft.tables

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Engine code reads parquet through `Tables.parquet` only: a plain
  * `spark.read.parquet(...)`, with or without `.option(...)` calls in
  * between, would bring back Spark's one-task schema job on every call.
  * Table data decodes through one reader, `VersionedColumnarReader`: the
  * parquet-hadoop example `Group` reader serves only the manifest's
  * checkpoint sidecar. Data-dir names are minted in one place,
  * `Versioned.newDataDir`, whose `d_*` format vacuum's sweep relies on.
  * Jobs are metered by one SparkListener, `graft.core.Meter`'s. Versions
  * resolve from one listing of `_manifests/`, `Versioned.listing`, and an
  * operation reads a version's headers through one `Versioned.Snapshot`.
  * Top-k per key has one spelling, the `row_number` window that
  * `TopKWindowRewrite` plans on `TopKPerKeyNode`, and graft's rules and
  * strategies register through `GraftExtensions` only.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val plainRead =
    """\.read\s*(?:\.options?\((?:[^()]|\([^()]*\))*\)\s*)*\.parquet\(""".r

  /** (path, text) of every Scala source under src/main. */
  private lazy val mainSources: Seq[(String, String)] = {
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val files = sources(new File("src/main/scala"))
    assert(files.size > 50, "run from the repository root")
    files.map(f => (f.getPath,
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
  }

  test("src/main never calls .read.parquet( or .read.option(...).parquet(") {
    val hits = mainSources.flatMap { case (path, text) =>
      plainRead.findAllMatchIn(text).map { m =>
        s"$path:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(hits.isEmpty, s"read parquet through Tables.parquet instead: ${hits.mkString(", ")}")
    // the pattern itself still sees both spellings, across line breaks
    assert(plainRead.findFirstIn("spark.read.parquet(p)").nonEmpty)
    assert(plainRead.findFirstIn("spark.read\n  .option(\"basePath\", new Path(t, d).toString)\n  .parquet(p)").nonEmpty)
    assert(plainRead.findFirstIn("spark.readStream.schema(s).parquet(p)").isEmpty)
  }

  test("src/main uses GroupReadSupport and ParquetReader.builder only in LakeOps' readEntriesFile") {
    val groupRead = """GroupReadSupport|ParquetReader\.builder""".r
    val defName = """def\s+(\w+)""".r
    // each use, with the file and the def it sits in
    val uses = mainSources.flatMap { case (path, text) =>
      groupRead.findAllMatchIn(text).map { m =>
        (new File(path).getName,
          defName.findAllMatchIn(text.substring(0, m.start)).map(_.group(1)).toSeq.lastOption,
          s"$path:${text.substring(0, m.start).count(_ == '\n') + 1}")
      }
    }
    val (sidecar, stray) =
      uses.partition(u => u._1 == "LakeOps.scala" && u._2.contains("readEntriesFile"))
    assert(stray.isEmpty,
      s"table data decodes through VersionedColumnarReader: ${stray.map(_._3).mkString(", ")}")
    assert(sidecar.nonEmpty, "the checkpoint sidecar reader moved: update this guard")
  }

  test("src/main interpolates a d_ data-dir name only in LakeOps' newDataDir") {
    // `d_$x` / `d_${...}` after a non-identifier character: "d_tail$par"
    // (a fixed stage name) and "graft_cfeed_${...}" are not data-dir names
    val minted = """(?<![\w$])d_\$""".r
    val defName = """def\s+(\w+)""".r
    val uses = mainSources.flatMap { case (path, text) =>
      minted.findAllMatchIn(text).map { m =>
        (new File(path).getName,
          defName.findAllMatchIn(text.substring(0, m.start)).map(_.group(1)).toSeq.lastOption,
          s"$path:${text.substring(0, m.start).count(_ == '\n') + 1}")
      }
    }
    val (minter, stray) =
      uses.partition(u => u._1 == "LakeOps.scala" && u._2.contains("newDataDir"))
    assert(stray.isEmpty,
      s"mint data dirs through Versioned.newDataDir: ${stray.map(_._3).mkString(", ")}")
    assert(minter.size == 1, "newDataDir moved or changed: update this guard")
    assert(minted.findFirstIn("new Path(t, s\"d_${uuid}\")").nonEmpty)
    assert(minted.findFirstIn("s\"$dst/d_$name\"").nonEmpty)
    assert(minted.findFirstIn("val dd = s\"d_tail$par\"").isEmpty)
    assert(minted.findFirstIn("s\"graft_cfeed_${dirTag(dir)}\"").isEmpty)
  }

  test("src/main registers a SparkListener only in core/Meter.scala") {
    val hits = mainSources.flatMap { case (path, text) =>
      "addSparkListener".r.findAllMatchIn(text).map(m =>
        (path, s"$path:${text.substring(0, m.start).count(_ == '\n') + 1}"))
    }
    val (meter, stray) = hits.partition(_._1.endsWith("graft/core/Meter.scala"))
    assert(stray.isEmpty, s"meter jobs through graft.core.Meter: ${stray.map(_._2).mkString(", ")}")
    assert(meter.size == 1, "Meter installs one listener per SparkContext: update this guard")
  }

  test("src/main lists _manifests/ in one function, Versioned's listing") {
    // listStatus of manifestDir(...), directly or through a val the
    // enclosing member def binds to it (a local def may sit in between)
    val call = """listStatus\(\s*(?:manifestDir\(|(\w+)\s*\))""".r
    val defName = """(?m)^  (?:[\w\[\]]+ )*def\s+(\w+)""".r
    val walks = mainSources.flatMap { case (path, text) =>
      call.findAllMatchIn(text).flatMap { m =>
        val before = text.substring(0, m.start)
        val d = defName.findAllMatchIn(before).toSeq.lastOption
        val body = d.fold(before)(x => before.substring(x.start))
        if (m.group(1) != null && !body.contains(s"val ${m.group(1)} = manifestDir(")) None
        else Some((new File(path).getName, d.map(_.group(1)),
          s"${d.fold("?")(_.group(1))} at $path:${before.count(_ == '\n') + 1}"))
      }
    }
    val (listing, stray) = walks.partition(w => w._1 == "LakeOps.scala" && w._2.contains("listing"))
    assert(stray.isEmpty,
      s"resolve versions through Versioned's listing: ${stray.map(_._3).mkString(", ")}")
    assert(listing.size == 1, "the listing moved: update this guard")
    assert(call.findFirstIn("fsys.listStatus(manifestDir(table))").nonEmpty)
    assert(call.findFirstIn("fsys.listStatus(md).toSeq").nonEmpty)
    assert(call.findFirstIn("fsys.listStatus(p).toSeq.filter(_.isDirectory)").nonEmpty)
  }

  test("src/main reads a version's headers through a Versioned.Snapshot, no per-header accessor") {
    val gone = Seq("schemaOf", "statsKeyOf", "statsKey2Of", "statsColsOf", "constraintsOf",
      "columnAliasesOf", "tombstonedColumnsOf", "changesDirOf", "manifestChainOf", "partColOf",
      "hasUniformLayout", "opOf", "schemaFor")
    val accessor = gone.mkString("""\b(?:""", "|", """)\b""").r
    val metaOf = """\bmetaOf\(""".r
    val hits = mainSources.flatMap { case (path, text) =>
      val strays = accessor.findAllMatchIn(text) ++
        (if (path.endsWith("graft/tables/LakeOps.scala")) Iterator.empty
         else metaOf.findAllMatchIn(text))
      strays.map(m => s"${m.matched} at $path:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(hits.isEmpty, s"take one Versioned.snapshot per operation: ${hits.mkString(", ")}")
    assert(accessor.findFirstIn("Versioned.partColOf(spark, path, v)").nonEmpty)
    assert(accessor.findFirstIn("val partCol = s.partCol").isEmpty)
  }

  test("src/main builds TopKPerKeyNode only in TopKWindowRewrite and registers no experimental rules") {
    // a construction or a second door into the operator; the case class
    // itself and the strategy's pattern match are neither
    val route = """\b(TopKPerKeyNode|topKPerKey)\(|\bextra(?:Strategies|Optimizations)\b""".r
    val hits = mainSources.flatMap { case (path, text) =>
      route.findAllMatchIn(text).flatMap { m =>
        val line = text.substring(text.lastIndexOf('\n', m.start) + 1, m.start)
        val declOrPattern = m.group(1) == "TopKPerKeyNode" && line.trim.matches("(case class|case)")
        val rewrite = m.group(1) == "TopKPerKeyNode" &&
          path.endsWith("graft/plans/TopKWindowRewrite.scala")
        if (declOrPattern || rewrite) None
        else Some(s"${m.matched} at $path:${text.substring(0, m.start).count(_ == '\n') + 1}")
      }
    }
    assert(hits.isEmpty, "rank with a row_number window (TopKWindowRewrite plans it on " +
      s"TopKPerKeyNode) and register through GraftExtensions: ${hits.mkString(", ")}")
    assert(route.findFirstIn("graft.plans.GraftOps.topKPerKey(df,").nonEmpty)
    assert(route.findFirstIn("exp.extraStrategies = exp.extraStrategies :+ s").nonEmpty)
    assert(route.findFirstIn("case TopKPerKeyNode(keys, order, k, rankAttr, child) =>").nonEmpty)
  }
}
