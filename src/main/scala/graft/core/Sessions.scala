package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built, so the benched, verified,
  * profiled and dumped plans all come from the same session shape.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * TIMESTAMP(NANOS) parquet read as longs (see [[Tables.events]]), no UI.
    */
  def local(cpus: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the session (codegen, parquet footers, FS cache) so the first
    * timed query doesn't absorb ~10 s of one-time startup cost.
    */
  def warm(spark: SparkSession, dir: String): Unit =
    try {
      spark.read.parquet(s"$dir/lineitem.parquet").count()
      Tables.metrics(spark, dir).count()
    } catch { case _: Throwable => () }

  /** Drop every cached intermediate between queries: catalog caches, and
    * the RDD-level persists (localCheckpoint) the catalog doesn't cover.
    */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
