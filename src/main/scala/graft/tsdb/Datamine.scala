package graft.tsdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** dataMine bridge: uniform-grid resampling with last-sample-≤-t
  * semantics, per-channel filters, and weekly partitioning
  * (L_DataMineServer.lua:138-183,
  * L_DataBaseDM.lua:156-232).
  */
object Datamine {

  /** The reference's grid: n points, dt=(t2-t1)/(n-1), rounded to the
    * nearest second (L_DataMineServer.lua:138-146).
    */
  def gridTimes(t1: Long, t2: Long, n: Int): Seq[Long] = {
    // n=1: dt would be (t2-t1)/0 → Infinity and 0*Infinity = NaN →
    // floor(NaN).toLong = 0, silently gridding against timestamp 0
    if (n == 1) return Seq(t1)
    val dt = (t2 - t1).toDouble / (n - 1)
    (0 until n).map(i => math.floor(t1 + i * dt + 0.5).toLong)
  }

  /** Grid-bucket index for a point timestamp: the smallest i with
    * grid(i) >= ts, null when ts lies beyond the last grid time.
    *
    * Pure codegen arithmetic: an initial guess from the uniform grid
    * spacing, then a ±2 candidate window validated against the actual
    * grid times (covers the floor(+0.5) rounding of `gridTimes` plus
    * the spacing reconstructed from the grid endpoints). Requires a
    * uniform `gridTimes`-shaped grid with spacing ≥ 1s.
    */
  private def bucketOf(ts: org.apache.spark.sql.Column, grid: Seq[Long]): org.apache.spark.sql.Column = {
    val n = grid.size
    val dt = if (n > 1) (grid.last - grid.head).toDouble / (n - 1) else 1.0
    require(n == 1 || dt >= 1.0, s"grid spacing $dt below 1s")
    val gridArr = array(grid.map(lit(_)): _*)
    val guess = ceil((ts.cast("double") - grid.head.toDouble - 0.5) / dt).cast("int")
    val gc = greatest(least(guess, lit(n - 1)), lit(0))
    (-2 to 2).map { d =>
      val j = gc + d
      when(j >= 0 && j <= n - 1 && element_at(gridArr, j + 1) >= ts, j)
    }.reduceLeft(coalesce(_, _)) // candidates ascend, so coalesce = smallest match
  }

  /** Shared bucketed as-of plan over (path, ts, value): last point per
    * (path, bucket) in ONE map-side-combined groupBy — max(struct(ts,
    * value)) is "value at latest ts, max-value tie-break", identical to
    * the reference cursor's dedup-per-second-then-last — then a
    * carry-forward window over the grid-sized rows only (n_grid rows
    * per path, never the raw points). No global sort anywhere: a
    * billion-point channel costs one shuffle keyed (path, bucket).
    */
  private def resampleBucketed(points: DataFrame, grid: Seq[Long],
                               pathsDf: Option[DataFrame] = None): DataFrame = {
    val gridArr = array(grid.map(lit(_)): _*)
    val lastPer = points
      .withColumn("b", bucketOf(col("ts"), grid))
      .filter(col("b").isNotNull)
      .groupBy(col("path"), col("b"))
      .agg(max(struct(col("ts"), col("value"))).getField("value").as("value"))
    // an explicit path set (channel index) avoids re-scanning the raw
    // points just to learn which channels exist
    val gridDf = pathsDf.getOrElse(points.select(col("path")).distinct())
      .select(col("path"), posexplode(gridArr).as(Seq("b", "t")))
    val w = Window.partitionBy(col("path")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gridDf.join(lastPer, Seq("path", "b"), "left")
      .withColumn("v", last(col("value"), ignoreNulls = true).over(w))
      .select(col("path"), col("t"), col("v").as("value"))
  }

  /** Resample one channel to the grid: value at grid time t = latest
    * sample with ts <= t (L_DataMineServer.lua:148-164), null before
    * the first sample. Range-bucketed as-of join — see
    * `resampleBucketed`; the carry-forward window touches only the
    * n-point grid, never one task per channel history.
    */
  def resample(points: DataFrame, grid: Seq[Long]): DataFrame = {
    // single channel: the "path set" is one constant row, not a scan
    val one = points.sparkSession.range(1).select(lit("").as("path"))
    resampleBucketed(points.select(lit("").as("path"), col("ts"), col("value")),
      grid, Some(one))
      .select(col("t"), col("value"))
  }

  /** All-channels resample: same last-sample-≤-t semantics, one shuffle
    * keyed (path, bucket) — the scale path. Pass the channel index as
    * `pathsDf` when one exists (it's metadata-sized; rescanning raw
    * points for it is the only reason this plan would read them twice).
    */
  def resampleAll(points: DataFrame, grid: Seq[Long],
                  pathsDf: Option[DataFrame] = None): DataFrame =
    resampleBucketed(points.select(col("path"), col("ts"), col("value")), grid, pathsDf)

  /** dataMine per-channel filter: offset then clamp to [lower, upper]
    * (L_DataMineServer.lua:166-183); nulls pass through untouched (the
    * reference's ipairs loop never visits nil slots). The null guard is
    * explicit because Spark's greatest/least SKIP nulls — without it a
    * null value would be pinned to `lower` instead of staying null.
    */
  def filter(df: DataFrame, offset: Double, lower: Double, upper: Double): DataFrame =
    df.withColumn("value",
      when(col("value").isNotNull,
        least(greatest(col("value") + lit(offset), lit(lower)), lit(upper))))

  /** dataMine weekly file bucketing (L_DataBaseDM.lua:156-159):
    * week = floor(ts / 1 week); per (path, week) stats.
    */
  def weekly(metrics: DataFrame): DataFrame =
    metrics
      .groupBy(col("path"), floor(col("ts") / 604800L).cast("long").as("week"))
      .agg(count(lit(1)).as("n"),
        // -1e-9: settle exact .xxxx5 rounding boundaries downward so the
        // rounded value is summation-order independent (Queries.Eps doc)
        round(avg(col("value")) - lit(1e-9), 4).as("avg_value"))
      .orderBy(col("path"), col("week"))
}
