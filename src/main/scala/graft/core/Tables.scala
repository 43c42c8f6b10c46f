package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the synthetic parquet tables (TESTDATA.md). Plain
  * `spark.read.parquet` so Catalyst gets a `FileSourceScanExec` it can
  * push filters/projections into — every query in `graft.queries`
  * relies on that pushdown for the 100 TB path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Parquet schema inference runs a 1-task Spark job per read; at bench
  // time every query re-reads its tables, so cache the inferred schema
  // per path and hand it back via read.schema(...) (skips the footer job).
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  /** `events.ts` has shipped in two physical types across testdata
    * generations, so this loader normalizes BOTH to the engine-wide
    * TimestampType (micros, session-tz):
    *
    *  - nanosecond-precision INT64, which Spark's reader rejects
    *    outright ([PARQUET_TYPE_ILLEGAL]) — and with multiple footers
    *    the rejection surfaces as an aborted schema-merge job, not a
    *    driver-side exception, so probing is noisy and fragile. Always
    *    reading with nanosAsLong=true makes a NANOS column arrive as a
    *    raw LongType we convert explicitly.
    *  - micros with isAdjustedToUTC=false (a pandas naive timestamp),
    *    which Spark 4 infers as TIMESTAMP_NTZ. NTZ breaks streaming
    *    watermarks ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]) and numeric
    *    casts, so it is cast to TimestampType — under the engine's
    *    fixed UTC session timezone the wall-clock values are unchanged,
    *    matching DuckDB's naive TIMESTAMP reading of the same file.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
