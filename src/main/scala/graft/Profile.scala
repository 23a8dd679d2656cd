package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev tool: time a regex-selected subset of SparkEntry.queries N times in
  * one warmed session — separates real per-query cost from JIT/GC noise that
  * single-shot Bench numbers can't. `runMain graft.Profile <sfDir> <regex>
  * [reps=3] [jsonOut]`.
  *
  * With `jsonOut`, the last rep of each query also attributes EXECUTOR-side
  * metrics (task run time, shuffle bytes read/written, spill) via a task-end
  * listener, and one JSON object per query is written to the file — the
  * driver-vs-local bench attributability artifact (PROFILE_r9.json): a
  * driver-side wall number far above the local wall at similar execMs means
  * environment (page cache, CPU contention), while a matching execMs growth
  * means the plan itself got more expensive — a code regression.
  */
object Profile {
  /** One metered observation (or a counter snapshot with wall = 0). */
  private case class Metered(wall: Double, runMs: Long, cpuMs: Long,
                             gcMs: Long, shufRead: Long, shufWrite: Long,
                             spill: Long) {
    def minus(o: Metered): Metered = Metered(wall, runMs - o.runMs,
      cpuMs - o.cpuMs, gcMs - o.gcMs, shufRead - o.shufRead,
      shufWrite - o.shufWrite, spill - o.spill)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nameFilter = if (args.length > 1) args(1) else ".*"
    val reps = if (args.length > 2) args(2).toInt else 3
    val jsonOut = if (args.length > 3) Some(args(3)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionEnv.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // Task-end accumulator: zeroed (by re-reading baselines) around each
    // timed run; the listener bus is drained before every read so trailing
    // events can't leak into the next query's numbers.
    object acc extends SparkListener {
      val runMs = new java.util.concurrent.atomic.AtomicLong(0)
      val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
      val gcMs = new java.util.concurrent.atomic.AtomicLong(0)
      val shufRead = new java.util.concurrent.atomic.AtomicLong(0)
      val shufWrite = new java.util.concurrent.atomic.AtomicLong(0)
      val spill = new java.util.concurrent.atomic.AtomicLong(0)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }
      def snapshot(): Metered = {
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
        Metered(0.0, runMs.get, cpuNs.get / 1000000, gcMs.get,
          shufRead.get, shufWrite.get, spill.get)
      }
    }
    spark.sparkContext.addSparkListener(acc)

    val qs = SparkEntry.queries.filter(_._1.matches(nameFilter)).toSeq.sortBy(_._1)
    val records = qs.map { case (name, fn) =>
      val walls = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val w = (System.nanoTime() - t0) / 1e9
        println(f"TIMING $name run$i $w%.2f s")
        w
      }
      // The extra metered reps exist only to feed the JSON artifact — skip
      // them in plain timing mode (r9 review catch: it silently made every
      // query run reps+1 times).
      if (jsonOut.isEmpty) name -> (walls, Metered(0.0, 0, 0, 0, 0, 0, 0))
      else {
        // THREE metered reps, keep the one with the least CPU: exec_ms
        // (executorRunTime) is task WALL time — it absorbs GC pauses, JIT
        // compiler interference and scheduling waits, and swung 3× across
        // runs of the SAME commit (measured r13: 3.9 s vs 11.1 s).
        // cpu_ms (executorCpuTime) is the metric to trend; exec_ms stays
        // for continuity with PROFILE_r9–r11. Shuffle bytes are identical
        // across reps, so the kept rep's bytes are THE bytes.
        val metered = (1 to 3).map { _ =>
          val before = acc.snapshot()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val wMetered = (System.nanoTime() - t0) / 1e9
          val after = acc.snapshot()
          after.minus(before).copy(wall = wMetered)
        }
        name -> (walls, metered.minBy(_.cpuMs))
      }
    }
    jsonOut.foreach { path =>
      val body = records.map { case (name, (walls, m)) =>
        val ws = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
        f"""  "$name": {"wall": $ws, "wall_metered": ${m.wall}%.3f, "exec_ms": ${m.runMs}, "cpu_ms": ${m.cpuMs}, "gc_ms": ${m.gcMs}, "shuffle_read_b": ${m.shufRead}, "shuffle_write_b": ${m.shufWrite}, "spill_b": ${m.spill}}"""
      }.mkString("{\n", ",\n", s""",\n  "_meta": {"sf": "$sfDir", "cpus": $cpus, "reps": $reps, "metered": "min-of-3 by cpu_ms"}\n}\n""")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PROFILE written to $path")
    }
    spark.stop()
  }
}
