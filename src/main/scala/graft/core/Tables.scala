package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md). */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects by default; read it as a long and normalize to
    * microsecond TimestampType (truncation matches DuckDB's floor-epoch).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Session builders (Verify/Bench/specs) set this up front; the guarded
    // set here only covers externally-built sessions, without re-mutating
    // session state on every load.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the TIMESTAMP_NTZ branch below casts naive values to instants
    // THROUGH the session timezone; an externally-built session on a
    // non-UTC tz would shift every ts by the zone offset and diverge
    // from the DuckDB epoch()-as-UTC oracle (ADVICE r6) — guard it the
    // same way as nanosAsLong
    if (!spark.conf.getOption("spark.sql.session.timeZone").contains("UTC"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: `/` on longs is DOUBLE division, and epoch
        // nanos (~1.7e18) exceed double's 2^53 exact range — the ±128 ns
        // representation error can round a microsecond-aligned value into
        // the neighboring microsecond
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // isAdjustedToUTC=false parquet → TIMESTAMP_NTZ, which Spark will
        // not cast to BIGINT. DuckDB's epoch() reads the same naive value
        // as UTC; the session tz is pinned to UTC everywhere, so the
        // NTZ→instant cast reproduces exactly that interpretation and
        // downstream `cast(ts as long)` keeps matching the oracle.
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The synthetic Whisper/Carbon metric stream derived from `events`
    * (SURVEY.md §3): one datapoint per event with a Graphite-style
    * dot-path. Epoch seconds as BIGINT keep the DuckDB oracle free of
    * timestamp precision/zone ambiguity.
    *
    * Mirrors the reference's metric naming `<host>.<dev>.<srv>.<var>`
    * (L_DataWatcher.lua:72-73).
    */
  def metrics(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      concat(lit("vera.u"), col("user_id"), lit("."), col("event_type")).as("path"),
      col("ts").cast("long").as("ts"),
      col("value").as("value")
    )

  /** Graphite 1.1 TAGGED variant of the same stream: the metric name
    * is the event type and the hierarchy moves into tags, written in
    * the canonical sorted-tag order (`name;src=vera;user=uN`) so a tag
    * set has exactly one path — the namespace the seriesByTag/
    * aliasByTags queries select over.
    */
  def metricsTagged(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      concat(col("event_type"), lit(";src=vera;user=u"), col("user_id")).as("path"),
      col("ts").cast("long").as("ts"),
      col("value").as("value")
    )

  /** Denser variant (5 paths instead of 750): rollup cascades and
    * xFilesFactor gates need buckets with multiple points to be
    * meaningful at sf0.01's event density.
    */
  def metricsDense(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      concat(lit("vera."), col("event_type")).as("path"),
      col("ts").cast("long").as("ts"),
      col("value").as("value")
    )
}
