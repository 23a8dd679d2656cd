package graft
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.Trigger

/** Dev tool: end-to-end Structured-Streaming THROUGHPUT over the events
  * table staged as a multi-shard landing directory — the deployment shape
  * (producers append part-files; `maxFilesPerTrigger=1` makes every shard a
  * micro-batch, so the measured wall includes per-batch planning, offset
  * log, state-store commit and sink file finalization — everything the
  * batch twins never pay). Prints one JSON line of rows/sec per pipeline.
  *
  * `runMain graft.StreamBench [sfDir] [shards]` (defaults sf0.1, 16).
  * The streaming pillar's perf datapoint alongside Bench's batch totals:
  * correctness of these exact pipelines is StreamingSpec + the q49/q51/q52
  * oracle rows; this measures their sustained ingest rate.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val shards = if (args.length > 1) args(1).toInt else 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionEnv.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Stage: one landing directory of `shards` equal part-files (hash of
    // event_id → shards of near-equal size, every shard spanning the full
    // time range like a real producer's append stream).
    val landing = java.nio.file.Files.createTempDirectory("graft_sb_src").toString
    graft.tables.Tables.events(spark, sfDir)
      .repartition(shards).write.mode("overwrite").parquet(landing)
    // Input-row denominator counted ONCE from the staged landing dir, not
    // from q.recentProgress: the progress ring buffer keeps only the last
    // spark.sql.streaming.numRecentProgressUpdates (default 100) batches,
    // so shards > 100 with maxFilesPerTrigger=1 would silently undercount
    // and overstate rows/sec (r10 advice).
    val inputRows = graft.tables.Tables.parquet(spark).load(landing).count()

    def run(name: String, mft: Int = 1)
           (build: DataFrame => Dataset[_]): (String, Long, Double, Long) = {
      val out = java.nio.file.Files.createTempDirectory(s"sb_out_$name").toString
      val ckpt = java.nio.file.Files.createTempDirectory(s"sb_ck_$name").toString
      val src = graft.streaming.EventStreams.readEventStream(spark, landing, mft)
      val t0 = System.nanoTime()
      val q = build(src).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(q.exception.isEmpty, s"$name failed: ${q.exception}")
      val wall = (System.nanoTime() - t0) / 1e9
      // batch count from the offset log on disk — exact regardless of the
      // recentProgress ring buffer's capacity.
      val nBatches = Option(new java.io.File(s"$ckpt/offsets").listFiles())
        .map(_.count(f => f.getName.forall(_.isDigit)).toLong).getOrElse(0L)
      (name, inputRows, wall, nBatches)
    }

    // Mode "sweep" (3rd arg): the micro-batch SIZE scaling curve — the same
    // tumbling pipeline at maxFilesPerTrigger 1/2/4/8/16 over a fixed
    // landing layout. Throughput is batch-count-bound (per-batch planning +
    // offset log + state commit dominate at small batches), so rows/sec
    // should scale near-linearly with files-per-trigger until real work
    // takes over — the curve BASELINE.md records.
    val sweep = args.length > 2 && args(2) == "sweep"
    val results =
      if (sweep)
        Seq(1, 2, 4, 8, 16).map { mft =>
          run(s"tumbling_mft_$mft", mft) { src =>
            graft.streaming.EventStreams.tumblingWithWatermark(src, "0 seconds")
          }
        }
      else Seq(
        run("tumbling_watermark") { src =>
          graft.streaming.EventStreams.tumblingWithWatermark(src, "0 seconds")
        },
        run("dedup_watermark") { src =>
          graft.streaming.EventStreams.dedupEvents(src, "10 minutes")
        },
        run("sessionize_stateful") { src =>
          graft.streaming.EventStreams.sessionizeStateful(
            src.select($"user_id", $"ts", $"value")
              .as[graft.streaming.EventStreams.Event])
        })

    val js = results.map { case (n, rows, wall, nb) =>
      f""""$n":{"rows":$rows,"sec":$wall%.3f,"rows_per_sec":${rows / wall}%.0f,"batches":$nb}"""
    }.mkString("{", ",", s""","shards":$shards,"sf":"$sfDir"}""")
    println(js)
    spark.stop()
  }
}
