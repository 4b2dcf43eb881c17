package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Caching._

import graft.dedup.Dedup
import graft.text.Analysis

/** End-to-end corpus curation — the production composition of the §2.F
  * operators into one staged keep/drop decision per document, the shape
  * a 100 TB training-data pipeline actually runs (filter first, dedup
  * the survivors; each stage only sees the previous stage's output).
  *
  * Stages, in order; `reason` is the FIRST failing stage:
  *   1. quality   — score (Analysis.quality, 4-dp rounded) below
  *                  `minScore` or fewer than `minTokens` tokens.
  *   2. language  — argmax stopword language (Analysis.langId) is not
  *                  `keepLang`.
  *   3. exact_dup — not the min-doc_id keeper of its md5(text) group
  *                  (computed among stage-1/2 survivors).
  *   4. near_dup  — simhash star-cluster non-representative
  *                  (the [[Dedup.simhashClusters]] rule over the exact
  *                  keepers).
  *   5. kept      — survived everything; `kept` = 1.
  *
  * Distributed shape: the corpus is scanned ONCE, in one projection
  * computing per doc the two gate booleans and, for gate survivors only,
  * md5(text) and the SimHash60 signature. The exact keeper (a window
  * min over md5) rides that projection's one exchange, and the result
  * is cached as a narrow per-doc table — the text column is never
  * cached. Every later stage reads only that table: the near-dup stage
  * clusters the keepers' signatures, and the decision table is the
  * union of the per-row verdicts (quality, language, exact_dup) and the
  * cluster verdicts — no join back onto the corpus. The only pairwise
  * work is the df-capped simhash band join inherited from Dedup,
  * bounded per bucket regardless of corpus size. Output is O(n) rows
  * (doc_id, kept, reason).
  */
object Curation {

  /** Cache lifecycle: the narrow signal/keeper intermediates below are
    * cached for the plan's double consumption and not unpersisted — a
    * long-lived session should `spark.catalog.clearCache()` between
    * invocations (see the note on [[graft.dedup.Dedup]]).
    */
  def curate(spark: SparkSession, docs: DataFrame,
             minScore: Double, minTokens: Int, keepLang: String,
             maxHamming: Int, maxDf: Int): DataFrame =
    curateCore(spark, docs, minScore, minTokens, keepLang, maxHamming, maxDf)
      .orderBy(col("doc_id"))

  /** [[curate]] without the presentation sort — the composition shape
    * ([[curateWithDecontam]] consumes the decision table mid-pipeline,
    * where a range-exchange + sort is pure waste; the composed query
    * sorts once at its own tail).
    */
  private def curateCore(spark: SparkSession, docs: DataFrame,
                         minScore: Double, minTokens: Int, keepLang: String,
                         maxHamming: Int, maxDf: Int): DataFrame = {
    // the one corpus scan: gates for every doc, dedup signals for the
    // gate survivors (null otherwise). The gate booleans are referenced
    // several times here, so Catalyst keeps them in their own projection
    // rather than inlining the token aggregates into each reference.
    val pass = col("q_pass") && col("l_pass")
    val sig = Analysis.withGateCols(docs, minScore, minTokens, keepLang)
      .select(col("doc_id"), col("q_pass"), col("l_pass"),
        when(pass, md5(col("text"))).as("content_md5"),
        when(pass, Dedup.simhashOf(col("text"))).as("simhash"))
    // stage 3 rides the same exchange: min doc_id per content hash among
    // the survivors, as a window, so no join back. A gate failure has no
    // md5 and is keyed by its own doc_id instead — a singleton window,
    // never one hot null partition. Cached narrow (no text), read by the
    // per-row verdicts and twice by the near-dup stage.
    val decided = sig
      .select(col("doc_id"), col("q_pass"), col("l_pass"), col("simhash"),
        min(col("doc_id"))
          .over(Window.partitionBy(col("content_md5"), when(!pass, col("doc_id"))))
          .as("keep_id"))
      .cachedOnce
    val keeper = pass && col("doc_id") === col("keep_id")
    val early = decided.filter(!keeper)
      .select(col("doc_id"),
        when(!col("q_pass"), "quality").when(!col("l_pass"), "language")
          .otherwise("exact_dup").as("reason"))
    // stage 4 over the exact keepers' signatures: one row per keeper
    val nearDup = Dedup.simhashClustersOf(spark,
        decided.filter(keeper).select(col("doc_id"), col("simhash")),
        maxHamming, maxDf)
      .select(col("doc_id"), when(col("keep") === 1L, "kept").otherwise("near_dup").as("reason"))
    early.unionByName(nearDup)
      .select(col("doc_id"),
        when(col("reason") === "kept", 1L).otherwise(0L).as("kept"),
        col("reason"))
  }

  /** F14b: the full pipeline INCLUDING train/eval decontamination —
    * [[curate]]'s four stages, then stage 5: a surviving document
    * sharing ≥ `minHits` distinct `n`-gram shingles with the benchmark
    * suite flips to (kept 0, reason 'contaminated'). Composition, not
    * reimplementation: the base stages are the [[curate]] plan verbatim
    * and the contamination test is [[Dedup.decontaminate]] run over
    * the stage-4 SURVIVORS (filter first, check the expensive overlap
    * only on what would actually ship — the same
    * cheapest-gate-first ordering as the base stages; the shingle df
    * cap is computed over the survivor corpus, exactly the semantics
    * of running the F15 operator on the curated set). The survivors'
    * text is the pipeline's only corpus read besides the signal scan.
    *
    * A benchmark item drawn from the corpus itself is flagged BY
    * DESIGN (it shares all its shingles with its eval twin): the
    * benchmark must not be trained on, which is the whole point of
    * the stage.
    */
  def curateWithDecontam(spark: SparkSession, docs: DataFrame, evalDocs: DataFrame,
                         minScore: Double, minTokens: Int, keepLang: String,
                         maxHamming: Int, maxDf: Int,
                         n: Int, minHits: Int, decontamMaxDf: Int): DataFrame = {
    // narrow (id, kept, reason) — consumed twice (survivor filter +
    // the final flag join); the UNSORTED core, so no mid-pipeline
    // range exchange
    val base = curateCore(spark, docs, minScore, minTokens, keepLang,
      maxHamming, maxDf).cachedOnce
    val keptDocs = docs.select(col("doc_id"), col("text"))
      .join(base.filter(col("kept") === 1L).select(col("doc_id")), "doc_id")
    val contaminated = Dedup.decontaminate(keptDocs, evalDocs, n, minHits, decontamMaxDf)
      .select(col("doc_id")).distinct()
      .withColumn("cont", lit(1L))
    base.join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cont").isNotNull, 0L).otherwise(col("kept")).as("kept"),
        when(col("cont").isNotNull, lit("contaminated")).otherwise(col("reason"))
          .as("reason"))
      .orderBy(col("doc_id"))
  }
}
