package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take DataFrames, so production users can substitute any
  * source (streaming decode of raw Solana transactions, Kafka, iceberg, ...);
  * these helpers only bind the test layout. Column pruning / predicate
  * pushdown happen naturally because we hand Catalyst the bare scan.
  */
object Tables {
  /** Parquet writers disagree on isAdjustedToUTC; with the session pinned
    * to UTC a plain cast of TIMESTAMP_NTZ to TimestampType preserves the
    * wall-clock value, which is exactly how DuckDB's naive timestamps read
    * the same files — so oracles stay in agreement. Normalizing here keeps
    * every operator on instant-typed columns (`unix_micros`, watermarks).
    */
  def tzNormalize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tzNormalize(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** The events table carries TIMESTAMP(NANOS) parquet, which Spark's
    * vectorized reader rejects; read it as long nanos (legacy flag) and
    * normalize to a micros TimestampType column — the same truncation
    * DuckDB's epoch_us applies, so oracles agree.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    scala.util.Try(
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    val raw = table(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Deterministic 32-byte synthetic pubkey for the integer SQL
    * expression `e`: md5(e) ‖ md5(e + 1) over the decimal strings — the
    * bytes the DuckDB oracles build as `md5(...) || md5(...)`. */
  def pubkey(e: String): Column =
    expr(s"unhex(concat(md5(cast(cast($e as string) as binary)), " +
      s"md5(cast(cast(($e) + 1 as string) as binary))))")
}
