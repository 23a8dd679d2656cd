package graft

import org.apache.spark.sql.SparkSession

/** Shared master/executor wiring for the driver-contract entry points
  * (Verify/Bench/Profile/Explain): `SPARK_GRAFT_MASTER=local-cluster[n,c,m]`
  * switches any of them onto real forked executor JVMs (the multi-JVM gate;
  * requires SPARK_HOME and SPARK_SCALA_VERSION in the environment — the
  * in-process worker never runs load-spark-env.sh). Default stays local[N].
  */
object SessionEnv {
  def applyMaster(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // Local-filesystem writes must not fork a chmod process per file
    // create/mkdir (no libhadoop here — see graft.sources.FastLocalFs).
    // Behaviour is otherwise identical (checksums kept); scheme-scoped to
    // file://, so nothing changes for any other filesystem.
    val withMaster = b.master(master)
      .config("spark.hadoop.fs.file.impl", "graft.sources.FastLocalFileSystem")
      // Manifest-scoped reads hand Spark an EXPLICIT bounded file list
      // (the versioned store's readEntries), yet InMemoryFileIndex turns
      // any >32-path read into a distributed LISTING JOB (~70-200 ms of
      // scheduling for what is one driver stat() per known leaf path).
      // Delta/Iceberg list from their own manifests on the driver for the
      // same reason. 512 keeps sub-checkpoint-sized reads driver-side and
      // still falls back to the parallel job for genuinely huge path sets;
      // deployments can override the conf either way.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
    if (!master.startsWith("local-cluster")) withMaster
    else {
      // Forked executor JVMs need our classes + the JDK17 module opens.
      val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
        "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
        .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")
      withMaster
        .config("spark.executor.extraClassPath",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath)
        .config("spark.executor.extraJavaOptions", opens)
    }
  }

  /** The engine session the dev tools (Profile, JobProfile, StreamBench,
    * Explain) run on: [[applyMaster]] at `cpus` cores with as many shuffle
    * partitions, UTC session time, the nanos-as-long parquet read the
    * events fixture needs at build time, no UI, graft's Catalyst
    * extensions and its registered functions.
    */
  def session(cpus: String): SparkSession = {
    val spark = applyMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
