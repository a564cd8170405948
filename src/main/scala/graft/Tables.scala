package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single choke-point loaders for the driver-generated test tables
  * (TESTDATA.md). All queries read through here so scan behavior
  * (column pruning, filter pushdown, future bucketing) is reviewable
  * in one place. Parquet carries the schema, and no load pays to infer
  * it: the schema is read from the file's footer on the driver
  * ([[graft.operators.MetaIO.footerSchema]], the same conversion as
  * Spark's inference job) and handed to the reader, so a load launches
  * no Spark job.
  */
object Tables {
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.operators.MetaIO.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events `ts` column has shipped in two physical forms across
    * driver rounds: TIMESTAMP(NANOS) (rejected by Spark's reader, so
    * read as long via the legacy conf and divided down — as integers:
    * nanos exceed double precision) and plain timestamp[us] (read as
    * TIMESTAMP_NTZ). Normalize either to TimestampType here so every
    * consumer sees one shape; the session timeZone is UTC everywhere
    * (Verify/Bench/SparkSpec), so the NTZ→LTZ cast preserves the
    * stored microsecond instant bit-for-bit. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
