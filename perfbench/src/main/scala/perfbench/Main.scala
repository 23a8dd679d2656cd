package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry
import graft.core.JobTracker

/** The benchmark's closed-loop client: one thread runs every op of a
  * workload, one op at a time, pass after pass.
  *
  * An op is one registered query, `SparkEntry.queries(id)(spark, dir)`,
  * followed by `collect()`; the two parts are timed apart. The `jobtracker`
  * client submits each op through `JobTracker.start`, polls `getJobState`
  * every [[PollMs]] ms until the job reports REDUCE 100%, then calls
  * `close()` — the reference SampleClient's start/getJobState/close loop.
  *
  * Modes:
  *  - `list --out FILE`: write every registered query id, one per line.
  *  - `run`: warm passes, then timed passes until `--seconds` have passed
  *    and at least [[MinPasses]] were made (or exactly `--passes`). With
  *    `--trace 1` timed passes alternate untraced/traced, so one run also
  *    yields the tracing overhead.
  *    Writes `ops.jsonl` (one line per op execution, spans inline) and
  *    `run.json` under `--out`. With `--dump DIR` the first pass's results
  *    are also written as parquet (one directory per op) beside
  *    `oracle_sql.json`, the layout tools/check.py compares with DuckDB.
  */
object Main {
  val PollMs = 10L
  /** Timed passes per run at least (each kind, when tracing): each op's
    * median over four runs shrugs off a run disturbed by the host. */
  val MinPasses = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.getOrElse("mode", "run") match {
      case "list" =>
        Files.writeString(Paths.get(a("out")),
          SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"))
      case "run" => run(a)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private final case class Outcome(rows: Array[Row], schema: org.apache.spark.sql.types.StructType)

  private def run(a: Map[String, String]): Unit = {
    val cores = a("cores").toInt
    val dataDir = new File(a("data")).getAbsolutePath
    val outDir = new File(a("out"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val warm = a.getOrElse("warm", "1").toInt
    val fixedPasses = a.getOrElse("passes", "0").toInt
    val sorted = a.getOrElse("order", "seeded") == "sorted"
    val useTracker = a.getOrElse("client", "direct") == "jobtracker"
    val dump = a.get("dump")
    val ids = Files.readAllLines(Paths.get(a("ops"))).toArray(Array.empty[String])
      .map(_.trim).filter(_.nonEmpty).toSeq
    val storeDirs = Seq(sys.props("java.io.tmpdir"), a("warehouse")).map(new File(_))

    val spark = graft.SessionEnv.applyMaster(SparkSession.builder(), cores.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.local.dir", a("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionReady = System.currentTimeMillis()

    val registry = SparkEntry.queries
    val missing = ids.filterNot(registry.contains)
    require(missing.isEmpty, s"ops not registered: ${missing.mkString(", ")}")
    val tracer = new Tracer(spark)
    val records = mutable.ArrayBuffer.empty[String]

    def newFiles(since: Long): (Int, Int) = {
      var data, manifests = 0
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (f.lastModified() >= since && !f.getName.endsWith(".crc")) {
          if (f.getParentFile.getName == "_manifests") manifests += 1 else data += 1
        }
      storeDirs.foreach(walk)
      (data, manifests)
    }

    def runOp(pass: Int, id: String, warmPass: Boolean, traced: Boolean): Unit = {
      val fn = registry(id)
      val startMs = System.currentTimeMillis()
      var tBuilt, tActed = 0L
      def body(): Outcome = {
        val df = fn(spark, dataDir)
        tBuilt = System.nanoTime()
        val rows = df.collect()
        tActed = System.nanoTime()
        Outcome(rows, df.schema)
      }
      var polls, regressions = 0
      val t0 = System.nanoTime()
      val result: Either[Throwable, Outcome] =
        if (!useTracker) try Right(body()) catch { case e: Throwable => Left(e) }
        else {
          val h = JobTracker.start(spark, s"perfbench $id")(body())
          def rank(s: JobTracker.Stage): Int = s match {
            case JobTracker.MAP => 1
            case JobTracker.SHUFFLE => 2
            case JobTracker.REDUCE => 3
            case _ => 0
          }
          var last = h.getJobState
          while (!(last.stage == JobTracker.REDUCE && last.percentage >= 100f)) {
            Thread.sleep(PollMs)
            val s = h.getJobState
            polls += 1
            if (rank(s.stage) < rank(last.stage) ||
                (s.stage == last.stage && s.percentage < last.percentage)) regressions += 1
            last = s
          }
          try Right(h.close()) catch { case e: Throwable => Left(e) }
        }
      val t1 = System.nanoTime()
      val buildS = if (tBuilt > 0) (tBuilt - t0) / 1e9 else (t1 - t0) / 1e9
      val actionS = if (tActed > 0) (tActed - tBuilt) / 1e9 else 0.0
      val closeLagMs = if (useTracker && tActed > 0) (t1 - tActed) / 1e6 else 0.0
      val traceFields = if (!traced) "" else {
        val spans = tracer.take()
        val (files, manifests) = newFiles(startMs)
        s""","new_files":$files,"new_manifests":$manifests,"spans":[${spans.mkString(",")}]"""
      }
      val outcome = result match {
        case Right(o) =>
          if (pass == 0) dump.foreach { d =>
            spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$d/$id")
          }
          s""""rows":${o.rows.length},"digest":${q(Digest.of(o.rows))},"error":null"""
        case Left(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
            .nextOption().getOrElse("").take(300)
          s""""rows":-1,"digest":"","error":${q(e.getClass.getSimpleName + ": " + msg)}"""
      }
      records += s"""{"pass":$pass,"warm":$warmPass,"traced":$traced,"id":${q(id)},""" +
        s""""t0_ms":$startMs,"build_s":$buildS,"action_s":$actionS,"wall_s":${(t1 - t0) / 1e9},""" +
        s""""polls":$polls,"regressions":$regressions,"close_lag_ms":$closeLagMs,$outcome$traceFields}"""
    }

    var pass = 0
    var timedStart = 0L
    var timedPasses = 0
    def more: Boolean =
      if (pass < warm) true
      else if (fixedPasses > 0) timedPasses < fixedPasses
      else timedPasses < (if (trace) 2 * MinPasses else MinPasses) ||
        (System.currentTimeMillis() - timedStart) / 1000.0 < seconds
    while (more) {
      val warmPass = pass < warm
      if (pass == warm) timedStart = System.currentTimeMillis()
      // Untraced and traced passes alternate U T T U U T ..., so both kinds
      // sit at the same mean position and JIT warm-up does not bias the
      // tracing overhead.
      val traced = trace && !warmPass && (fixedPasses > 0 || Set(1, 2)(timedPasses % 4))
      if (traced) tracer.attach()
      val order = if (sorted) ids.sorted else new scala.util.Random(seed * 7919 + pass).shuffle(ids.sorted)
      order.foreach(runOp(pass, _, warmPass, traced))
      if (traced) tracer.detach()
      if (!warmPass) timedPasses += 1
      pass += 1
    }

    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L) else f.length()
    val storeBytes = storeDirs.map(bytes).sum
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    dump.foreach { d =>
      val json = SparkEntry.oracleSql.filter(kv => ids.contains(kv._1))
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), json)
    }
    outDir.mkdirs()
    Files.writeString(outDir.toPath.resolve("ops.jsonl"), records.mkString("", "\n", "\n"))
    Files.writeString(outDir.toPath.resolve("run.json"),
      s"""{"session_ready_ms":$sessionReady,"timed_start_ms":$timedStart,""" +
      s""""store_bytes":$storeBytes,"heap_bytes":$heap,"cores":$cores}""")
    spark.stop()
  }
}
