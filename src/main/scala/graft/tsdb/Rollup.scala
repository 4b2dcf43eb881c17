package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whisper rollup/propagation re-expressed as declarative aggregation.
  *
  * A Whisper archive (L_DataWhisper.lua:327-427) is a
  * fixed grid of (interval, value) points at `secondsPerPoint`
  * resolution; writes to a finer archive propagate to each coarser one
  * by aggregating the finer archive's slots inside the coarser bucket,
  * gated by xFilesFactor (L_DataWhisper.lua:469-491). Here an archive is
  * a (path, bucket, value, npoints) DataFrame: `rollup` materializes the
  * finest archive from raw points, `propagate` derives each coarser one
  * from the previous level — identical avg-of-avg cascade semantics,
  * one shuffle per level, and each level consumes step-ratio× less data.
  */
object Rollup {

  val methods: Seq[String] = Seq("average", "sum", "last", "max", "min")

  /** Quantize a ts column to the archive grid (L_DataWhisper.lua:331). */
  def quantize(ts: Column, step: Long): Column = ts - (ts % step)

  /** Aggregation over (tsCol, valCol) pairs (L_DataWhisper.lua:206-215).
    * `last` is made deterministic under ts ties via lexicographic
    * (ts, value) struct max (reference behavior is last-write-wins,
    * which a batch engine can't observe).
    */
  def aggExpr(method: String, tsCol: Column, valCol: Column): Column = method match {
    case "average" => avg(valCol)
    case "sum" => sum(valCol)
    case "max" => max(valCol)
    case "min" => min(valCol)
    case "last" => max(struct(tsCol.as("t"), valCol.as("v"))).getField("v")
    case other => throw new IllegalArgumentException(s"Unrecognized aggregation method $other")
  }

  /** Materialize the finest archive from raw (path, ts, value) points. */
  def rollup(metrics: DataFrame, step: Long, method: String): DataFrame =
    metrics
      .groupBy(col("path"), quantize(col("ts"), step).as("bucket"))
      .agg(
        aggExpr(method, col("ts"), col("value")).as("value"),
        count(lit(1)).as("npoints"))

  /** Derive a coarser archive from a finer one. `known` = finer slots
    * present in the coarser bucket; `expected` = step ratio; the bucket
    * propagates only when known/expected >= xFilesFactor
    * (L_DataWhisper.lua:480-490).
    */
  def propagate(finer: DataFrame, finerStep: Long, step: Long, method: String,
                xff: Double): DataFrame = {
    require(step % finerStep == 0, "coarser step must be a multiple of finer step")
    val expected = step / finerStep
    finer
      .groupBy(col("path"), quantize(col("bucket"), step).as("bucket"))
      .agg(
        aggExpr(method, col("bucket"), col("value")).as("value"),
        count(lit(1)).as("npoints"))
      // the reference computes known/expected >= xff — dividing matches
      // its float arithmetic exactly; pre-multiplying (xff * expected)
      // can carry a 1-ulp error that drops a boundary bucket the
      // reference propagates (e.g. 0.07 * 100 = 7.000000000000001)
      .filter(col("npoints") / lit(expected.toDouble) >= xff)
  }

  /** Whisper update semantics: writing a point into an occupied slot
    * overwrites it (L_DataWhisper.lua:331-354 — the slot write is
    * unconditional). Batch re-expression: last-write-wins per
    * (path, ts), where `incoming` beats `existing` and value breaks
    * remaining ties deterministically.
    */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.withColumn("src", lit(0))
      .unionByName(incoming.withColumn("src", lit(1)))
      .groupBy(col("path"), col("ts"))
      .agg(max(struct(col("src").as("s"), col("value").as("v")))
        .getField("v").as("value"))

  /** Full archive chain for a retention spec: finest level from raw,
    * each further level propagated from the previous.
    */
  def archives(metrics: DataFrame, spec: Seq[Retention.Archive], method: String,
               xff: Double): Seq[DataFrame] = {
    require(spec.nonEmpty)
    val finest = rollup(metrics, spec.head.secondsPerPoint, method)
    spec.tail.scanLeft((finest, spec.head.secondsPerPoint)) { case ((prev, prevStep), a) =>
      (propagate(prev, prevStep, a.secondsPerPoint, method, xff), a.secondsPerPoint)
    }.map(_._1)
  }
}
