package graft

import graft.core.Meter

/** Dev tool: time a regex-selected subset of SparkEntry.queries N times in
  * one warmed session — separates real per-query cost from JIT/GC noise that
  * single-shot Bench numbers can't. `runMain graft.Profile <sfDir> <regex>
  * [reps=3] [jsonOut]`.
  *
  * Each rep runs in one [[Meter]] scope. For the last timed rep of each
  * query it prints every Spark job with its duration, the job-free gap
  * before it, its stage/task counts and its call site (see [[Meter.Job]]):
  * the receipt that shows WHICH of a DML lifecycle's actions (discovery
  * join, rewrite write, stats scan, …) the seconds go to, with the driver
  * gaps (manifest I/O, commit fsync) as the remainder. With reps=1 in a
  * fresh tmpdir that rep is the staging call, afterwards the steady state.
  *
  * With `jsonOut`, three more metered reps attribute EXECUTOR-side task
  * metrics (run time, cpu, gc, shuffle bytes read/written, spill), and one
  * JSON object per query is written to the file — the driver-vs-local
  * bench attributability artifact (PROFILE_r9.json): a driver-side wall
  * number far above the local wall at similar execMs means environment
  * (page cache, CPU contention), while a matching execMs growth means the
  * plan itself got more expensive — a code regression.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nameFilter = if (args.length > 1) args(1) else ".*"
    val reps = if (args.length > 2) args(2).toInt else 3
    val jsonOut = if (args.length > 3) Some(args(3)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionEnv.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val qs = SparkEntry.queries.filter(_._1.matches(nameFilter)).toSeq.sortBy(_._1)
    val records = qs.map { case (name, fn) =>
      def rep(): (Double, Meter.Scope) = {
        var wall = 0.0
        val scope = Meter.measure(spark.sparkContext) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          wall = (System.nanoTime() - t0) / 1e9
        }
        (wall, scope)
      }
      val timed = (1 to reps).map { i =>
        val (w, scope) = rep()
        println(f"TIMING $name run$i $w%.2f s")
        (w, scope)
      }
      printJobs(name, timed.last._1, timed.last._2.jobs)
      // THREE metered reps, keep the one with the least CPU: exec_ms
      // (executorRunTime) is task WALL time — it absorbs GC pauses, JIT
      // compiler interference and scheduling waits, and swung 3× across
      // runs of the SAME commit (measured r13: 3.9 s vs 11.1 s).
      // cpu_ms (executorCpuTime) is the metric to trend; exec_ms stays
      // for continuity with PROFILE_r9–r11. Shuffle bytes are identical
      // across reps, so the kept rep's bytes are THE bytes. Plain timing
      // mode skips them: they exist only to feed the JSON artifact.
      val metered = if (jsonOut.isEmpty) None
        else Some((1 to 3).map { _ => val (w, s) = rep(); (w, s.tasks) }.minBy(_._2.cpuNs))
      name -> (timed.map(_._1), metered)
    }
    jsonOut.foreach { path =>
      val body = records.collect { case (name, (walls, Some((w, t)))) =>
        val ws = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
        f"""  "$name": {"wall": $ws, "wall_metered": $w%.3f, "exec_ms": ${t.runMs}, "cpu_ms": ${t.cpuNs / 1000000}, "gc_ms": ${t.gcMs}, "shuffle_read_b": ${t.shuffleRead}, "shuffle_write_b": ${t.shuffleWrite}, "spill_b": ${t.spill}}"""
      }.mkString("{\n", ",\n", s""",\n  "_meta": {"sf": "$sfDir", "cpus": $cpus, "reps": $reps, "metered": "min-of-3 by cpu_ms"}\n}\n""")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PROFILE written to $path")
    }
    spark.stop()
  }

  /** The job table of one rep: per job its duration, the gap since the
    * previous job ended, stages, tasks and call site, then the totals.
    */
  private def printJobs(name: String, wall: Double, jobs: Seq[Meter.Job]): Unit = {
    println(f"\n===== $name last rep: wall $wall%.3f s =====")
    var prevEnd = -1L
    var jobSum = 0.0
    jobs.sortBy(_.started).foreach { j =>
      val dur = (j.ended - j.started) / 1e3
      jobSum += math.max(0.0, dur)
      val gap = if (prevEnd > 0) f"${(j.started - prevEnd) / 1e3}%7.3f" else "      -"
      prevEnd = j.ended
      println(f"  job ${j.id}%4d ${dur}%7.3f s  gap-before $gap s  " +
        f"stages ${j.stages}%2d tasks ${j.tasks}%4d  ${j.site.take(200)}")
    }
    println(f"  [${jobs.size} jobs, job time $jobSum%.3f s, driver/gaps ${wall - jobSum}%.3f s]")
  }
}
