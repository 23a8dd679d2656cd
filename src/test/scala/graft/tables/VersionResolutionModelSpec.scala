package graft.tables

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.{Random, Try}

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY

/** Randomized differential test of version resolution: generated
  * `_manifests/` states — committed full, delta and parquet-checkpoint
  * manifests, in-flight claims at the top and in the middle, stale claims,
  * vacuumed holes, orphan sidecars and idempotence tags — are resolved by
  * the store (`latestVersion`, `taggedVersion`, `versionAsOf`, `history`,
  * `vacuum`) and by a naive model that reads every file in full. Fixed seed.
  */
class VersionResolutionModelSpec extends SparkSpec {
  private val Seed = 20261019L
  private val States = 40
  private val Tags = Seq("t0", "t1", "t2", "t3")
  private val HourMs = 3600000L

  private lazy val sidecarType = Types.buildMessage().addField(
    Types.required(BINARY).as(LogicalTypeAnnotation.stringType()).named("l"))
    .named("graft_manifest_entries")

  /** One generated table: its dir and how many version numbers it used. */
  private final case class State(table: String, versions: Int)

  private def manifests(table: String) = new File(table, "_manifests")

  private def write(f: File, text: String, mtime: Long): Unit = {
    Files.write(f.toPath, text.getBytes(UTF_8))
    assert(f.setLastModified(mtime))
  }

  private def writeSidecar(f: File, lines: Seq[String], mtime: Long): Unit = {
    val factory = new SimpleGroupFactory(sidecarType)
    val w = ExampleParquetWriter.builder(new Path(f.getPath))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(sidecarType).build()
    try lines.foreach(l => w.write(factory.newGroup().append("l", Binary.fromString(l))))
    finally w.close()
    assert(f.setLastModified(mtime))
    new File(f.getParent, s".${f.getName}.crc").delete()
  }

  /** A random `_manifests/` state under a fresh dir. */
  private def generate(rnd: Random, now: Long): State = {
    val table = Files.createTempDirectory("vresolve").toString + "/t"
    val md = manifests(table)
    md.mkdirs()
    val n = 2 + rnd.nextInt(22)
    var state = Seq.empty[String] // the latest committed version's entries
    var depth = Map.empty[Int, Int] // committed version -> chain depth
    var latest = 0
    def entry(): String = {
      val d = f"p=${rnd.nextInt(4)}\td_${rnd.nextLong()}%016x"
      if (rnd.nextBoolean()) d
      else s"$d\tpart-${rnd.nextInt(1000)}.parquet\t${rnd.nextInt(50)}\t${50 + rnd.nextInt(50)}" +
        (if (rnd.nextInt(4) == 0) "" else s"\t${1 + rnd.nextInt(100)}")
    }
    (1 to n).foreach { v =>
      val mf = new File(md, s"$v.txt")
      val commitMs = now - 2 * HourMs + v * 1000L + rnd.nextInt(900)
      val tag = if (rnd.nextInt(3) == 0) s"#tag\t${Tags(rnd.nextInt(Tags.size))}\n" else ""
      val op = s"#op\t${Seq("WRITE", "APPEND", "MERGE")(rnd.nextInt(3))}\n"
      rnd.nextInt(10) match {
        case 0 | 1 => // a claim without `#commit`: in flight (young) or a crashed writer's (stale)
          val mtime = if (rnd.nextBoolean()) now + HourMs else now - 120000L
          write(mf, if (rnd.nextBoolean()) "" else tag + op + state.take(2).map(_ + "\n").mkString,
            mtime)
        case 2 if latest > 0 && depth(latest) < Versioned.MaxChainDepth => // delta on latest
          val removed = state.filter(_ => rnd.nextInt(3) == 0)
          val added = Seq.fill(rnd.nextInt(3))(entry())
          write(mf, tag + op + s"#base\t$latest\t${depth(latest) + 1}\n" +
            removed.map(r => s"#rm\t$r\n").mkString + added.map(_ + "\n").mkString + "#commit\n",
            commitMs)
          state = state.filterNot(removed.toSet) ++ added
          depth += v -> (depth(latest) + 1); latest = v
        case 3 => // full checkpoint in a parquet sidecar
          state = Seq.fill(1 + rnd.nextInt(5))(entry())
          val name = f"$v-${rnd.nextLong()}%016x.entries.parquet"
          writeSidecar(new File(md, name), state, commitMs)
          write(mf, tag + op + s"#entriesfile\t$name\n#commit\n", commitMs)
          depth += v -> 0; latest = v
        case _ => // full text manifest
          state = Seq.fill(rnd.nextInt(5))(entry())
          write(mf, tag + op + state.map(_ + "\n").mkString + "#commit\n", commitMs)
          depth += v -> 0; latest = v
      }
    }
    // vacuumed holes: committed versions no remaining delta chain passes through
    val model = new Model(table)
    val onChains = model.listed.flatMap(v => model.chain(v).drop(1)).toSet
    model.listed.filter(v => model.committed(v) && !onChains(v) && rnd.nextInt(4) == 0)
      .foreach(v => new File(md, s"$v.txt").delete())
    // a crashed writer's orphan sidecar, aged or young
    if (rnd.nextInt(3) == 0)
      writeSidecar(new File(md, f"${n + 1}-${rnd.nextLong()}%016x.entries.parquet"),
        Seq(entry()), if (rnd.nextBoolean()) now - 120000L else now + HourMs)
    State(table, n)
  }

  /** The naive model: every manifest read in full. */
  private final class Model(table: String) {
    private val md = manifests(table)
    private def file(v: Int) = new File(md, s"$v.txt")
    private def text(v: Int) = new String(Files.readAllBytes(file(v).toPath), UTF_8)
    private def lines(v: Int) = text(v).split("\n").toSeq.filter(_.nonEmpty)
    private def header(v: Int, key: String): Option[String] =
      lines(v).takeWhile(_.startsWith("#")).find(_.startsWith(s"#$key\t")).map(_.drop(key.length + 2))

    val listed: Seq[Int] = md.listFiles().toSeq.map(_.getName)
      .flatMap(n => n.stripSuffix(".txt").toIntOption.filter(_ => n.endsWith(".txt"))).sorted
    def sidecars: Seq[String] = md.listFiles().toSeq.map(_.getName).filter(_.endsWith(".entries.parquet"))
    def committed(v: Int): Boolean = listed.contains(v) && text(v).endsWith("#commit\n")
    val committedVs: Seq[Int] = listed.filter(committed)
    def mtime(v: Int): Long = file(v).lastModified()
    def tag(v: Int): Option[String] = header(v, "tag")
    def op(v: Int): String = header(v, "op").getOrElse("WRITE")
    def entriesFile(v: Int): Option[String] = header(v, "entriesfile")
    def base(v: Int): Option[Int] = header(v, "base").map(_.split("\t")(0).toInt)
    def chain(v: Int): Seq[Int] =
      Iterator.iterate(Option(v))(_.filter(listed.contains).flatMap(base))
        .takeWhile(_.isDefined).take(Versioned.MaxChainDepth + 2).flatten.toSeq

    def entries(v: Int): Seq[String] = {
      val own = lines(v).filterNot(_.startsWith("#")) ++ entriesFile(v).toSeq.flatMap { n =>
        val r = ParquetReader.builder(new GroupReadSupport(), new Path(new File(md, n).getPath))
          .withConf(spark.sparkContext.hadoopConfiguration).build()
        try Iterator.continually(r.read()).takeWhile(_ != null).map(_.getString("l", 0)).toList
        finally r.close()
      }
      base(v).fold(own) { b =>
        val rm = lines(v).filter(_.startsWith("#rm\t")).map(_.drop(4)).toSet
        entries(b).filterNot(rm) ++ own
      }
    }

    def historyRows: Seq[(Int, String, Long, Long, Option[Long], Option[String])] =
      committedVs.map { v =>
        val es = entries(v)
        val nrows = es.map(_.split("\t", -1)).map(f => f.lift(5).filter(_ != "-").map(_.toLong))
        (v, op(v), mtime(v), es.size.toLong,
          if (es.nonEmpty && nrows.forall(_.isDefined)) Some(nrows.flatten.sum) else None, tag(v))
      }

    /** The manifests and sidecars vacuum(keep, retentionMs) leaves at `now`. */
    def survivors(keep: Set[Int], retentionMs: Long, now: Long): (Set[Int], Set[String]) = {
      val (kept, dropped) = listed.partition(keep)
      val maxKeep = if (keep.isEmpty) Int.MinValue else keep.max
      val guarded = dropped.filter(v =>
        now - mtime(v) <= retentionMs && (!committed(v) || v > maxKeep))
      val live = (kept ++ guarded).filter(committed)
      val pred = live.filter(_ > 1).map(_ - 1).filter(listed.contains)
      val onChain = (live ++ pred).flatMap(chain).toSet
      val left = listed.toSet -- (dropped.toSet -- guarded -- onChain)
      val cars = sidecars.filter { n =>
        val owner = n.takeWhile(_ != '-').toInt
        (left(owner) && entriesFile(owner).contains(n)) ||
          now - new File(md, n).lastModified() <= retentionMs
      }
      (left, cars.toSet)
    }
  }

  test(s"version resolution agrees with a full-read model on $States random _manifests/ states") {
    val rnd = new Random(Seed)
    val now = System.currentTimeMillis()
    (1 to States).foreach { i =>
      val st = generate(rnd, now)
      val model = new Model(st.table)
      val what = s"state $i (${st.table}: listed ${model.listed.mkString(",")}; " +
        s"committed ${model.committedVs.mkString(",")})"
      assert(Versioned.latestVersion(spark, st.table) == model.committedVs.lastOption.getOrElse(0), what)
      (Tags :+ "absent").foreach { t =>
        assert(Versioned.taggedVersion(spark, st.table, t) ==
          model.committedVs.filter(v => model.tag(v).contains(t)).lastOption, s"$what tag $t")
      }
      val probes = model.committedVs.flatMap(v => Seq(-1L, 0L, 1L).map(model.mtime(v) + _)) :+ 0L
      probes.foreach { ts =>
        val expect = model.committedVs.filter(model.mtime(_) <= ts).lastOption
        val got = Try(Versioned.versionAsOf(spark, st.table, ts))
        assert(got.toOption == expect, s"$what versionAsOf($ts) = $got")
      }
      val hist = Versioned.history(spark, st.table).collect().toSeq.map(r =>
        (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.getString(6))))
      assert(hist == model.historyRows, what)
      val keep = (1 to st.versions).filter(_ => rnd.nextInt(3) == 0).toSet
      val retention = if (rnd.nextBoolean()) 0L else Versioned.DefaultRetentionMs
      val (left, cars) = model.survivors(keep, retention, System.currentTimeMillis())
      Versioned.vacuum(spark, st.table, keep, retention)
      val after = new Model(st.table)
      assert(after.listed.toSet == left && after.sidecars.toSet == cars,
        s"$what vacuum(keep = ${keep.toSeq.sorted.mkString(",")}, retention = $retention): " +
          s"left ${after.listed.mkString(",")} + ${after.sidecars.mkString(",")}, " +
          s"model ${left.toSeq.sorted.mkString(",")} + ${cars.mkString(",")}")
    }
  }
}
