package graft.tables

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileFormat
import org.apache.spark.sql.functions._

/** Parquet table loaders for the TPC-H-ish star schema + extension tables
  * (`TESTDATA.md`). The reference engine has no sources at all — clients build
  * `InputVec` in memory (reference `MapReduceFramework.cpp:315`); here the scan
  * IS the Spark parquet source so predicate pushdown / column pruning apply.
  */
object Tables {
  /** The engine's one parquet reader: `spark.read.parquet` without its
    * one-task schema job, since [[GraftParquetFileFormat]] reads the
    * footers on the driver. Options such as `basePath` and `mergeSchema`
    * go on the returned reader; `load(paths: _*)` reads.
    */
  def parquet(s: SparkSession): DataFrameReader =
    s.read.format(classOf[GraftParquetFileFormat].getName)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark).load(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped in two parquet encodings across test-data
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 rejects outright —
    * read nanos as long via `spark.sql.legacy.parquet.nanosAsLong=true`,
    * set at session build time by every entry point, and truncate with
    * integer `div` since a double division loses precision above 2^53 ns)
    * and plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ, cast to session-tz
    * timestamp — identity under the engine-wide UTC session). Normalizing on
    * the physical schema here keeps every downstream query on one
    * TimestampType column regardless of which generation wrote the file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  // ---- additional source formats (SURVEY §2.2 "File formats") ----
  // Schema is always explicit: schema inference re-reads the data (a full
  // extra pass at 100 TB) and can silently drift between runs.

  def csv(s: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]").csv(path)

  /** Microsecond timestamp format by default: Spark's JSON default writes
    * milliseconds, which silently truncates event times on a roundtrip.
    */
  def json(s: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType,
           timestampFormat: String = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"): DataFrame =
    s.read.schema(schema).option("timestampFormat", timestampFormat).json(path)

  def orc(s: SparkSession, path: String): DataFrame = s.read.orc(path)
}
