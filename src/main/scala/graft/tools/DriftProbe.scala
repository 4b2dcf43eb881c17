package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.{Ann, AnnIndex}

/** F60e's operational question, measured: WHEN does an extend-only
  * index need a rebuild? Codebooks train on the BASE corpus; the
  * stream then drifts (vectors blended toward their own reversal — a
  * deterministic distribution shift of tunable severity). extend()
  * encodes the drifted delta under the FROZEN base books (the correct
  * lifecycle rule); a REBUILD retrains on base+delta under a fresh
  * root and cuts over through the alias. For each severity this probe
  * prints recall@k vs exact brute force for both serving paths — the
  * frozen-vs-rebuilt gap is the number an operator alerts on.
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val base = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val params = AnnIndex.Params(graft.ops.LlmQueries.IvfCentroids,
      graft.ops.LlmQueries.IvfProbe, graft.ops.LlmQueries.PqSubspaces,
      graft.ops.LlmQueries.PqCodes, graft.ops.LlmQueries.PqTrainIters,
      graft.ops.LlmQueries.PqTrainBp)
    val k = 10
    val nQ = 50

    def shifted(alpha: Double): DataFrame = base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      zip_with(col("embedding"), reverse(col("embedding")),
        (x, y) => (x * lit(1.0 - alpha) + y * lit(alpha)).cast("float"))
        .as("embedding"))

    def recall(approx: DataFrame, exact: DataFrame): Double = {
      val hits = approx.select(col("q_id"), col("vec_id"))
        .join(exact.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"))
        .count()
      hits.toDouble / exact.count()
    }

    println("[drift] alpha  recall_frozen  recall_rebuilt  (k=%d, nq=%d)"
      .format(k, nQ))
    for (alpha <- Seq(0.0, 0.25, 0.5, 1.0)) {
      val delta = shifted(alpha).cache()
      val corpus = base.unionByName(delta)
      val queries = delta.filter(col("vec_id") < 1000000L + nQ)
      val exact = Ann.bruteTopK(queries, corpus, k).cache()
      val tmp = graft.core.Fixtures.fresh("driftprobe")
      // frozen: books trained on base only, delta extended under them
      AnnIndex.build(spark, base, params, s"$tmp/roots/r1")
      AnnIndex.cutover(spark, tmp, s"$tmp/roots/r1")
      AnnIndex.extend(spark, s"$tmp/roots/r1", delta)
      val frozen = AnnIndex.search(queries,
        AnnIndex.loadCurrent(spark, tmp), k)
      val rFrozen = recall(frozen, exact)
      // rebuilt: retrained on base+delta, published through the alias
      AnnIndex.build(spark, corpus, params, s"$tmp/roots/r2")
      AnnIndex.cutover(spark, tmp, s"$tmp/roots/r2")
      AnnIndex.vacuumAlias(spark, tmp, keep = 1)
      val rebuilt = AnnIndex.search(queries,
        AnnIndex.loadCurrent(spark, tmp), k)
      val rRebuilt = recall(rebuilt, exact)
      println(f"[drift] $alpha%5.2f  $rFrozen%13.3f  $rRebuilt%14.3f")
      exact.unpersist(); delta.unpersist()
    }
    spark.stop()
  }
}
