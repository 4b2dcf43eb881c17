package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caching._
import graft.functions.Fingerprint60
import TextFns._

/** Text-analysis operators for training-data pipelines
  * (SURVEY.md §2.F7-F10). Everything is built from codegen'd
  * `functions._` / lambda expressions — no UDFs in the hot path.
  */
object Analysis {

  /** F7: stopword-hit language ID. Score = stopword occurrences (with
    * repeats) per language; argmax with lexicographic tie-break; no
    * hits → 'unknown'. One shuffle keyed by (doc, lang) after a
    * broadcast join against the tiny dictionary.
    */
  def langId(spark: SparkSession, docs: DataFrame): DataFrame = {
    // fully per-row: one codegen'd in-array hit count per language (5
    // langs × 10 words), argmax by an alphabetically-ordered when
    // chain — the first language reaching the max implements the
    // (hits DESC, lang ASC) tie-break. No explode, no join, no shuffle.
    val scored = docs.select(col("doc_id") +: langHitCols(tokens(col("text"))): _*)
    val (pred, hits) = langArgmax
    scored
      .select(col("doc_id"), pred.as("pred_lang"), hits.as("hits"))
      .orderBy(col("doc_id"))
  }

  /** F7 internals, shared with the G8 gate so the argmax rule has one
    * source: named per-language hit columns over the token array, and
    * the (pred_lang, hits) argmax over those named columns. Null text
    * → null hit counts; the coalesces produce the ('unknown', 0) the
    * explode+join formulation (and the DuckDB oracle's LEFT JOIN)
    * yield for a doc with no tokens.
    */
  private def langHitCols(toks: org.apache.spark.sql.Column) = {
    val langs = stopwords.keys.toSeq.sorted
    langs.map(l => stopwordHits(toks, stopwords(l)).cast("long").as(s"h_$l"))
  }
  private def langArgmax = {
    val langs = stopwords.keys.toSeq.sorted
    val maxHits = greatest(langs.map(l => col(s"h_$l")): _*)
    val pred = langs.foldRight(lit("unknown")) { (l, rest) =>
      when(col(s"h_$l") === maxHits, l).otherwise(rest)
    }
    (coalesce(when(maxHits === 0, "unknown").otherwise(pred), lit("unknown")),
      coalesce(maxHits, lit(0L)))
  }

  /** F8: quality scoring from length / token-dup / stopword signals.
    * score = 0.3·min(n_tokens/100,1) + 0.3·(1−dup_ratio)
    *       + 0.2·stopword_ratio + 0.2·min(avg_tok_len/10,1)
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val dupRatio = lit(1.0) - size(array_distinct(toks)) / nTok
    val swRatio = stopwordHits(toks, stopwords("en")) / nTok
    val (nTokens, score) = scoreSignals
    docs.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      round(dupRatio - 1e-9, 4).as("dup_ratio"),
      round(swRatio - 1e-9, 4).as("stopword_ratio"),
      score.as("score"))
      .orderBy(col("doc_id"))
  }

  /** F8 internals, shared with the G8 gate and the F26 report so the
    * score formula has one source: (n_tokens, 4-dp score) as bare
    * per-row Columns over `text`.
    */
  private[graft] def scoreSignals = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val dupRatio = lit(1.0) - size(array_distinct(toks)) / nTok
    val swRatio = stopwordHits(toks, stopwords("en")) / nTok
    val avgTokLen = (length(col("text")) - (nTok - 1)) / nTok // chars minus separators
    val score =
      lit(0.3) * least(nTok / 100.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - dupRatio) +
        lit(0.2) * swRatio +
        lit(0.2) * least(avgTokLen / 10.0, lit(1.0))
    (size(toks).cast("long"), round(score - 1e-9, 4))
  }

  /** G8 core / F14-stage-1+2 as one stateless projection: the quality
    * gate (score ≥ minScore at 4 dp, ≥ minTokens tokens) and the
    * language gate (argmax stopword language = keepLang) evaluated
    * per row with NO join, shuffle, or state — `reason` is the first
    * failing gate, exactly Curation's rule for the stages that are
    * per-document. (The dedup stages are corpus-wide by nature; their
    * streaming complement is G4's signature state, not this gate.)
    * Null score/n_tokens (null-text doc) FAILS quality — a null gate
    * would skip every arm and mislabel the doc.
    */
  def qualityGateRows(docs: DataFrame, minScore: Double, minTokens: Int,
                      keepLang: String): DataFrame = {
    val (nTokens, score) = scoreSignals
    val staged = docs.select(
      col("doc_id") +: nTokens.as("n_tokens") +: score.as("score") +:
        langHitCols(tokens(col("text"))): _*)
    val (pred, _) = langArgmax
    staged
      .select(col("doc_id"), col("n_tokens"), col("score"), pred.as("pred_lang"))
      .withColumn("reason",
        when(!coalesce(col("score") >= minScore && col("n_tokens") >= minTokens,
          lit(false)), "quality")
          .when(!coalesce(col("pred_lang") === keepLang, lit(false)), "language")
          .otherwise("kept"))
      .select(col("doc_id"), col("n_tokens"), col("score"), col("pred_lang"),
        when(col("reason") === "kept", 1L).otherwise(0L).as("kept"),
        col("reason"))
  }

  /** F14 stages 1+2 as per-row BOOLEAN gate columns: (doc_id, text,
    * q_pass, l_pass) in ONE corpus scan — the same signals as
    * [[qualityGateRows]] (scoreSignals + the stopword-argmax language),
    * kept as booleans so [[graft.ops.Curation]] can compute the
    * survivors' dedup signals from `text` in the same projection and
    * cache only the narrow per-doc result — no join of two corpus
    * scans on doc_id (optimization r12: the old quality⋈langId join
    * shuffled two corpus-wide projections to compute two per-row
    * functions).
    * Null score/n_tokens (null-text doc) FAILS quality — a null gate
    * would mislabel the doc (the [[qualityGateRows]] rule).
    */
  private[graft] def withGateCols(docs: DataFrame, minScore: Double,
                                  minTokens: Int, keepLang: String): DataFrame = {
    val (nTokens, score) = scoreSignals
    val staged = docs.select(
      col("doc_id") +: col("text") +: nTokens.as("n_tokens") +:
        score.as("score") +: langHitCols(tokens(col("text"))): _*)
    val (pred, _) = langArgmax
    staged.select(col("doc_id"), col("text"),
      coalesce(col("score") >= minScore && col("n_tokens") >= minTokens,
        lit(false)).as("q_pass"),
      coalesce(pred === keepLang, lit(false)).as("l_pass"))
  }

  /** F8b: within-document repetition — the duplicate n-gram fraction
    * from the Gopher/MassiveText-style quality rule family, over 2- and
    * 3-word shingles: rep_k = 1 − distinct_k / total_k with
    * total_k = max(n_tokens − k + 1, 0) (docs too short for a shingle
    * score 0). Distinct from [[quality]]'s token-level dup_ratio: this
    * catches PHRASE loops (boilerplate, templated spam) that unique
    * token counts miss. The distinct-shingle count is the compiled
    * [[graft.functions.ShingleDistinct]] pass (the declarative
    * higher-order-function form is interpreted, ~8× slower) — at
    * 100 TB this is a map-only scan, no shuffle anywhere. Null text
    * propagates null (no reference semantics to preserve here).
    */
  def repetition(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    def rep(k: Int) = {
      val total = greatest(n - (k - 1), lit(0))
      // explicit null-text arm: greatest() SKIPS nulls, so without it a
      // null doc would fall into the total=0 branch and score 0.0 —
      // indistinguishable from a genuinely repetition-free doc
      when(col("text").isNull, lit(null).cast("double"))
        .when(total === 0, lit(0.0))
        .otherwise(
          lit(1.0) -
            graft.functions.ShingleDistinct.distinctShingles(toks, k)
            / total.cast("double"))
    }
    docs.select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      round(rep(2) - 1e-9, 4).as("rep2"),
      round(rep(3) - 1e-9, 4).as("rep3"))
      .orderBy(col("doc_id"))
  }

  /** F9: whitespace vs BPE-ish regex token counts. The regex splits
    * letter runs, digit runs, and single other-glyphs — a cheap proxy
    * for subword tokenizer cost accounting.
    */
  val bpeLikePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      size(expr(s"regexp_extract_all(text, '$bpeLikePattern', 0)")).cast("long").as("re_tokens"))
      .orderBy(col("doc_id"))

  /** F10: positional rolling fingerprint
    * fp = Σ_i (h60(tok_i) mod P)·i mod P  (i is 1-based), P=1e9+7.
    * Order-sensitive content hash, computed as ONE compiled per-row
    * pass over the ordered token array (graft.functions.Fingerprint60)
    * — no posexplode/groupBy shuffle.
    */
  val FpP = Fingerprint60.P
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        Fingerprint60.fingerprint(tokens(col("text"))).as("fp"))
      .orderBy(col("doc_id"))

  /** F17: corpus vocabulary statistics — the counting pass a tokenizer
    * training run (BPE/unigram) makes over its corpus: term frequency
    * and document frequency per token, top `topN` by tf with a token
    * tie-break (deterministic cutoff). Scale shape: ONE explode +
    * groupBy(token) with map-side partial aggregation (tf is a plain
    * count; df an approx-free count-distinct over doc_id — Spark plans
    * it as a two-phase expand, still keyed by token, no hot key unless
    * a token dominates the corpus, which the top-N output makes
    * visible rather than pathological); the top-N is a TakeOrdered, not
    * a global sort.
    */
  def vocab(docs: DataFrame, topN: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topN)

  // ---- F22: PII redaction -------------------------------------------

  /** PII patterns — written to the Java-regex ∩ RE2 common dialect (no
    * lookaround, no backreferences), so the Spark plan and the DuckDB
    * oracle run the LITERAL same pattern. Conservative by design: a
    * redaction stage prefers false positives (an over-redacted token)
    * to leaked PII.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Deterministic PII planting over the synthetic corpus (the F20
    * planted-fixture pattern: the construction IS the oracle — both
    * engines append the same id-derived strings, so expected counts are
    * pure id arithmetic and the redactor is exercised on every pattern
    * class). Every 7th doc gains an email, every 11th an IPv4, every
    * 13th a phone number.
    */
  def piiPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" logged"))).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text"))

  /** F22: PII redaction — the scrubbing stage a training-data pipeline
    * runs before anything leaves the corpus: emails, then phones, then
    * IPv4s replaced by typed placeholder tokens (email first — its
    * pattern can span digits the narrower patterns would then
    * mis-claim; the three classes are disjoint on their own matches).
    * Map-only: three codegen'd regexp_replace + regexp_count per row,
    * no explode, no join, no shuffle — the 100 TB shape is "free rider
    * on the ingest scan". Output keeps counts per class (the audit
    * trail) and md5 of the redacted text (the content witness the
    * oracle compares without hauling full texts through the driver).
    */
  def piiRedact(docs: DataFrame): DataFrame =
    piiRedactRows(docs).orderBy(col("doc_id"))

  /** The unordered F22 projection — pure codegen'd regex Columns, so
    * the SAME body serves the batch operator (above) and the G7
    * streaming wrapper (a streaming Dataset cannot sort).
    */
  def piiRedactRows(docs: DataFrame): DataFrame = {
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>")),
        lit(Ipv4Re), lit("<IP>"))
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
      md5(redacted).as("redacted_md5"))
  }

  // ---- F23: unigram LM scoring --------------------------------------

  /** F23: unigram language-model scoring — the perplexity-style quality
    * filter pipelines run against a reference vocabulary: per-doc mean
    * log-probability under an add-one-smoothed unigram model built from
    * the corpus's own top-`vocabV` tokens, plus the out-of-vocabulary
    * token ratio. p(tok) = (tf+1)/(N + V + 1) with tf = 0 for OOV.
    *
    * Scale shape: the model is BOUNDED — top-V vocab rows + the 1-row
    * total — both explicitly broadcast (they sit behind corpus-wide
    * aggregates whose size ESTIMATE blocks auto-broadcast, the r5 Lloyd
    * lesson), so the token stream joins map-side and the only shuffle
    * is the per-doc aggregation. Docs with no tokens emit no row (no
    * token, no evidence to score — same contract as the pair ops).
    *
    * Engine parity: log-probs go through the FIXED-POINT mean (each
    * token's lp pre-scaled to a rounded 1e-6-grid long; the integer sum
    * is accumulation-order-independent — the Lloyd-means contract), and
    * only ~V+1 DISTINCT ln values are ever computed, all on
    * integer-derived rationals.
    */
  def lmScore(docs: DataFrame, vocabV: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val voc = vocab(docs, vocabV).select(col("token"), col("tf"))
    val tot = tok.agg(count(lit(1)).as("n_total"))
    val lp = log((coalesce(col("tf"), lit(0L)) + lit(1L)).cast("double") /
      (col("n_total") + lit(vocabV.toLong) + lit(1L)).cast("double"))
    tok
      .join(broadcast(voc), Seq("token"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        round(lp * lit(1e6), 0).cast("long").as("lpm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tf").isNull, 1L).otherwise(0L)).as("oov"),
        sum(col("lpm")).as("lps"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("oov").cast("double") / col("n_tokens") - lit(1e-9), 4)
          .as("oov_ratio"),
        round(col("lps").cast("double") / (col("n_tokens").cast("double") * lit(1e6))
          - lit(1e-9), 4).as("logprob"))
      .orderBy(col("doc_id"))
  }

  /** F30: per-document TF-IDF keyword extraction — the top-k most
    * distinctive tokens per document, the classic retrieval/labeling
    * signal (tag clouds, near-duplicate triage, topic sniffing):
    * score = tf(doc, token) · ln((N+1)/(df+1)) with add-one smoothing
    * (a token appearing in EVERY document scores exactly 0 — idf's
    * floor, spec-pinned), ranked per doc on the round(·,6) grid with a
    * token-ascending tie-break (the topK engine-stability discipline).
    *
    * Scale shape: one map-side-combined (doc, token) count (the only
    * corpus-sized shuffle), the df table derived FROM that aggregate
    * (vocabulary-sized, narrow, hash-joined by token), a 1-row count
    * broadcast, and a per-doc window over ≤|doc| rows — no global
    * sort anywhere.
    */
  def keywords(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    // feeds the df aggregation and the scoring join — cache the narrow
    // (doc_id, token, tf) table, not the tokenize work
    val tfd = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .cachedOnce
    val dfs = tfd.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nn = broadcast(docs.agg(count(lit(1)).as("n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(round(col("s"), 6).desc, col("token"))
    tfd.join(dfs, "token").crossJoin(nn)
      .withColumn("s", col("tf") *
        log((col("n") + lit(1L)).cast("double") / (col("df") + lit(1L)).cast("double")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("token"),
        col("tf"), round(col("s") - lit(1e-9), 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** G11 one-source: per-document top-k TF-IDF under a FROZEN
    * (token → df, N) artifact — the stream-safe twin of [[keywords]].
    * F30 computes df from the corpus it scores (two corpus passes —
    * inherently batch); a stream tags documents AT INGEST against the
    * df table the last batch sweep trained (the F21/G10 frozen-artifact
    * shape: vocabulary-sized, shipped as expression literals).
    *
    * Everything happens INSIDE the row, in ONE compiled pass
    * ([[graft.functions.KeywordTopK]] — hash-count the tokens, score
    * against the frozen df map held as a reference object, sort the D
    * distinct entries, take k; out-of-vocabulary tokens read df = 0 —
    * a token the training sweep never saw is maximally distinctive,
    * the add-one idf ceiling ln(N+1)). Map-only: no shuffle, no state
    * store, no watermark — usable verbatim under Structured Streaming,
    * and the batch twin (the driver oracle) IS this projection on a
    * batch frame. (First shape: declarative transform/filter-count —
    * O(L·D) interpreted string compares, 7.1 s on the sf0.1 bench; the
    * kernel is O(L + D log D) inside whole-stage codegen.)
    */
  def keywordsRowwise(docs: DataFrame, dfTable: Seq[(String, Long)],
                      nDocs: Long, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(dfTable.nonEmpty, "frozen df table must be non-empty")
    val top = graft.functions.KeywordTopK.topk(
      tokens(col("text")), dfTable, nDocs, k)
    docs.select(col("doc_id"), posexplode(top).as(Seq("pos", "kw")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rk"),
        col("kw.token").as("token"), col("kw.tf").as("tf"),
        round(col("kw.s") - lit(1e-9), 4).as("tfidf"))
  }

  /** F40 sparse side: keyword-overlap candidate ranking — for each
    * query doc, other docs ranked by how many of the two docs' top-k
    * TF-IDF keywords ([[keywords]]) they share, the cheap lexical
    * retrieval leg a hybrid search fuses with the dense ANN leg. The
    * join is an inverted-index equi-join on keyword; TF-IDF top-k
    * already suppresses stopwords, so per-keyword fan-out is bounded
    * by the term's df (a df cap composes here exactly like
    * [[graft.dedup.Dedup.ngramJaccardCapped]] if a corpus needs it).
    * Docs sharing no keyword are absent — the RRF combiner treats
    * absence as rank-∞ (contributes 0).
    */
  def keywordOverlapTopK(docs: DataFrame, queryMax: Long, kw: Int,
                         k: Int): DataFrame = {
    // both join sides read the keyword lists — cache the narrow table
    val kws = keywords(docs, kw).select(col("doc_id"), col("token")).cachedOnce
    val qk = kws.filter(col("doc_id") < queryMax)
      .select(col("doc_id").as("q_id"), col("token"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("overlap").desc, col("doc_id"))
    qk.join(kws, Seq("token"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("doc_id"), col("overlap"))
  }

  // ---- F50: Okapi BM25 ranked retrieval -----------------------------

  /** Okapi BM25 parameters — the standard Robertson/Sparck-Jones
    * defaults every search engine ships (Lucene's BM25Similarity).
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** F50: Okapi BM25 ranked retrieval — the CALIBRATED sparse leg
    * next to [[keywordOverlapTopK]]'s raw overlap counts (F40 fuses
    * legs rank-only because overlap isn't score-calibrated; BM25 is
    * the scoring rule a production hybrid actually runs on its
    * inverted index). Query = the query doc's top-kw TF-IDF keywords
    * (the [[keywords]] chain — bounding per-query terms keeps the
    * inverted-index fan-out at kw·df regardless of document length),
    * scored against every other doc:
    *
    *   bm25(q,d) = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
    *   idf(t)    = ln(1 + (N−df+0.5)/(df+0.5))
    *
    * Cross-engine parity: each TERM's score is computed by the same
    * scalar expression shape in both engines and snapped to a 1e-6
    * fixed-point BIGINT, so the per-(q,d) SUM is integer-exact and
    * accumulation-order-free (the F23 discipline); ranking compares
    * the integers, never floats. Plan shape: the corpus is touched by
    * one tokenize shuffle (the (doc,token,tf) table, shared via
    * cachedOnce with F30/F40 in-session); df/dl are narrow
    * aggregates of it; the stats row is a 1-row broadcast; candidate
    * volume is Σ_{t∈queries} df(t) — a df cap composes exactly like
    * [[graft.dedup.Dedup.ngramJaccardCapped]] if a corpus needs it.
    */
  def bm25TopK(docs: DataFrame, queryMax: Long, kw: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val tfd = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .cachedOnce
    val dfs = tfd.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val dls = tfd.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // N counts ALL docs (a zero-token doc has no tfd rows but is a
    // real corpus member); avgdl likewise averages over N
    val stats = broadcast(
      docs.select(size(tokens(col("text"))).cast("long").as("dl0"))
        .agg(count(lit(1)).as("n"), sum(col("dl0")).as("tot")))
    val qk = keywords(docs, kw).filter(col("doc_id") < queryMax)
      .select(col("doc_id").as("q_id"), col("token"))
    val avgdl = col("tot").cast("double") / col("n").cast("double")
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfp = col("tf").cast("double") * (lit(Bm25K1) + lit(1.0)) /
      (col("tf").cast("double") + lit(Bm25K1) *
        (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl").cast("double") / avgdl))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("s_fp").desc, col("doc_id"))
    qk.join(tfd, Seq("token"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dfs, Seq("token"))
      .join(dls, Seq("doc_id"))
      .crossJoin(stats)
      .withColumn("t_fp", round(idf * tfp * lit(1e6), 0).cast("long"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("t_fp")).as("s_fp"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("doc_id"),
        round(col("s_fp").cast("double") / lit(1e6), 6).as("bm25"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- F31: line-level boilerplate removal --------------------------

  /** Tokens per rendered line when chunking the single-line synthetic
    * corpus into a multi-line fixture; the planted nav/footer lines
    * below are stopword-free, which is exactly what the filter keys on.
    */
  val BoilerLineTokens = 12
  val BoilerNavLine = "home about contact sitemap login"
  val BoilerFooterLine = "copyright 2024 rights reserved"

  /** Deterministic multi-line fixture over the synthetic corpus (the
    * F20/F22 planted-fixture pattern — the construction IS the oracle):
    * each document's token stream chunks into 12-token lines, every
    * even doc gains the nav line up front, every doc_id%3==0 doc the
    * footer line at the end. Both engines rebuild the identical text,
    * so expected line counts are pure id arithmetic.
    */
  def boilerPlanted(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // NOTE: the per-line slice below re-evaluates the outer `toks`
    // split once per line (the dedupCdc lambda-capture effect), but
    // here that is the FASTER shape — measured: the fold variant's
    // per-token buffer churn costs 2× more than ~10 cheap re-splits
    // (dedupCdc differed because md5-per-token dominated its re-walks)
    val nLines = ceil(size(toks).cast("double") / BoilerLineTokens).cast("int")
    val chunks = transform(sequence(lit(0), nLines - 1),
      i => concat_ws(" ",
        slice(toks, i * BoilerLineTokens + 1, lit(BoilerLineTokens))))
    val withNav = when(col("doc_id") % 2 === 0,
      concat(array(lit(BoilerNavLine)), chunks)).otherwise(chunks)
    val withFooter = when(col("doc_id") % 3 === 0,
      concat(withNav, array(lit(BoilerFooterLine)))).otherwise(withNav)
    docs.select(col("doc_id"), array_join(withFooter, "\n").as("text"))
  }

  /** F31: line-level boilerplate removal — the jusText-lite curation
    * stage (RefinedWeb/C4 discipline): nav bars, footers, and cookie
    * banners are LINES, not documents, so document-level quality
    * scores miss them; the filter walks each document's lines and
    * keeps only plausibly-sentential ones. Keep rule (published,
    * engine-portable): ≥ 4 tokens AND at least one English stopword —
    * short link lists and all-keyword nav lines fail one or both.
    *
    * Map-only: split, filter with an array predicate, re-join — no
    * explode, no shuffle; at 100 TB this rides the ingest scan like
    * F22. Output: per-doc line counts (the audit trail) and md5 of
    * the cleaned text (the content witness).
    */
  def boilerplateStrip(docs: DataFrame): DataFrame = {
    val en = typedLit(TextFns.stopwords("en").toSeq.sorted)
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l => {
      val lt = split(l, " ")
      size(lt) >= 4 && arrays_overlap(lt, en)
    })
    docs.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      md5(array_join(kept, "\n")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  // ---- F57: corpus-relative novelty ----------------------------------

  /** F57: per-document NOVELTY — the fraction of a document's distinct
    * n-word shingles that appear NOWHERE else in the corpus (df == 1;
    * the shingle table is per-doc-distinct, so df IS the document
    * count). The memorization/contribution signal the intra-document
    * repetition score (F8b) and the pairwise dedup families cannot
    * give: a doc can be internally clean and still be 100% assembled
    * from corpus boilerplate (novelty → 0), or near-duplicate-free and
    * fully original (novelty → 10000 bp). Basis points by integer
    * division — no float boundary. Docs too short to shingle report
    * −1 (unknown, not zero — an unmeasurable doc is not "all
    * boilerplate").
    *
    * Scale shape: ONE shingle shuffle for df + one shingle-keyed join
    * back (both sides the same corpus-sized table, co-partitioned by
    * the groupBy's own key) + a per-doc count aggregate. No pairwise
    * work — this is the F1 scaling class on the shingle table.
    */
  def novelty(docs: DataFrame, n: Int = 3): DataFrame = {
    import graft.core.Caching._
    val sh = graft.dedup.Dedup.docShingles(docs, n).cachedOnce
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val per = sh.join(df, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("10000 * n_novel div n_shingles").as("novelty_bp"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(col("novelty_bp"), lit(-1L)).as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  // ---- F38: global line-level deduplication ---------------------------

  /** F38: GLOBAL line dedup — the CCNet/RefinedWeb cross-document line
    * rule that [[boilerplateStrip]]'s per-doc heuristic cannot express:
    * a line is boilerplate BECAUSE it repeats across documents (nav
    * bars, cookie banners, licence blocks), so the decision needs
    * corpus-wide line frequencies. A line whose distinct-document
    * count reaches `minDf` keeps ONLY its minimum-doc copy (the keep_id
    * convention of every dedup family; that doc keeps all its intra-doc
    * repeats — the family is inter-doc, F8b owns within-doc
    * repetition); every other document cuts it. Complements F16x: the
    * span scrub needs w-token verbatim runs, this catches short exact
    * lines a 50-gram can never see.
    *
    * Scale shape (the F16x discipline): lines are h60-hashed BEFORE
    * the global aggregate, so the corpus-wide shuffle carries (doc_id,
    * 8-byte key) — never line text; the per-line stats are ONE
    * map-side-combinable count/min over per-doc-distinct rows; cut
    * positions come back as a (doc_id, p) anti-pattern join against
    * the cached narrow position table; text is touched exactly twice
    * (hash pass + witness reconstruction), both map-side. Output per
    * doc: line counts and the md5 of the kept text — the F16x
    * audit-plus-witness contract.
    */
  def lineDedupScrub(docs: DataFrame, minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf)")
    // narrow positioned line-hash table: consumed by the stats
    // aggregate and the cut join — never carries line text
    val hl = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("p", "line")))
      .select(col("doc_id"), col("p"), TextFns.h60(col("line")).as("g"))
      .cachedOnce
    val dup = hl.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("dmin"))
      .filter(col("df") >= minDf)
    val cuts = hl.join(dup, Seq("g"))
      .filter(col("doc_id") > col("dmin"))
      .select(col("doc_id"), col("p"))
    docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("p", "line")))
      .join(cuts.withColumn("cut", lit(1L)), Seq("doc_id", "p"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("cut"), lit(0L))).as("n_cut"),
        md5(concat_ws("\n", transform(
          array_sort(collect_list(when(col("cut").isNull,
            struct(col("p").as("p"), col("line").as("line"))))),
          s => s.getField("line")))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  // ---- F32: URL/domain statistics -----------------------------------

  /** Java∩RE2 URL pattern (the F22 dialect discipline — no lookaround,
    * no backreferences, runs literally in both engines).
    */
  val UrlRe = "https?://[A-Za-z0-9.-]+"

  /** Deterministic URL planting (the F20/F22 fixture pattern): every
    * 5th doc gains a news link on a doc_id%7-derived host, every 9th a
    * blog link on a doc_id%4-derived host — expected domain counts are
    * pure id arithmetic and hosts repeat, so the per-domain aggregate
    * has real multiplicity.
    */
  def urlPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" visit https://news"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 9 === 0,
        concat(lit(" see http://blog"), (col("doc_id") % 4).cast("string"),
          lit(".test.org/x"))).otherwise(lit(""))).as("text"))

  /** F32: per-domain URL statistics — the signal domain blocklists and
    * source-mix reports run on (a crawl-curation pipeline decides
    * keep/drop per REGISTERED HOST, not per document): extract every
    * URL, reduce to its host, count documents and occurrences per
    * host. One map-only extract (codegen'd regexp) + one
    * map-side-combined aggregate; no join. Output ordered by domain.
    */
  def domainStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(expr(s"regexp_extract_all(text, '$UrlRe', 0)")).as("url"))
      .select(col("doc_id"),
        regexp_replace(col("url"), "^https?://", "").as("domain"))
      .groupBy(col("domain"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_urls"))
      .orderBy(col("domain"))

  // ---- F33: Gopher-style quality rule bundle ------------------------

  /** Published rule thresholds (Rae et al. 2021 Gopher §A1.1 family,
    * scaled to the synthetic corpus's 10-99-token documents): each rule
    * is a REASONED boolean, the bundle keep is their conjunction, and
    * every boundary test runs on the round(,6) grid so engine ulps
    * can't flip a verdict.
    */
  val GopherMinTokens = 30L
  val GopherMaxTokens = 100000L
  val GopherMinMeanWlen = 3.0
  val GopherMaxMeanWlen = 10.0
  val GopherMinAlphaRatio = 0.7
  val GopherMinStopwords = 2L
  val GopherMaxSymbolRatio = 0.1

  /** F33: the Gopher quality-rule bundle — the industry-standard
    * document filter set a crawl pipeline runs before any model-based
    * scoring: token-count bounds, mean-word-length band, alphabetic
    * word ratio, minimum stopword evidence, symbol-density cap. One
    * map-only projection (in-row array predicates, no explode, no
    * shuffle — the F22 rides-the-scan shape); output keeps every
    * signal (the audit columns a threshold sweep re-cuts without
    * recomputing) plus the conjunction keep.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    gopherRulesRows(docs).orderBy(col("doc_id"))

  /** The unordered F33 projection — shared verbatim by the batch
    * operator and the G12 streaming gate (a streaming Dataset cannot
    * sort), so stream and batch verdicts cannot drift.
    */
  def gopherRulesRows(docs: DataFrame): DataFrame = {
    val en = typedLit(TextFns.stopwords("en").toSeq.sorted)
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val mwl = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / n.cast("double")
    val alpha = size(filter(toks, x => x.rlike("^[a-z]+$")))
      .cast("double") / n.cast("double")
    val stopc = size(filter(toks, x => array_contains(en, x))).cast("long")
    val symr = (length(col("text")) -
      length(regexp_replace(col("text"), "[#|]", ""))).cast("double") /
      length(col("text")).cast("double")
    val keep = n.between(GopherMinTokens, GopherMaxTokens) &&
      round(mwl, 6).between(GopherMinMeanWlen, GopherMaxMeanWlen) &&
      round(alpha, 6) >= GopherMinAlphaRatio &&
      stopc >= GopherMinStopwords &&
      round(symr, 6) <= GopherMaxSymbolRatio
    docs.select(col("doc_id"), n.as("n_tokens"),
      round(mwl - lit(1e-9), 4).as("mean_wlen"),
      round(alpha - lit(1e-9), 4).as("alpha_ratio"),
      stopc.as("stop_count"),
      (round(symr - lit(1e-9), 4) + lit(0.0)).as("symbol_ratio"),
      when(keep, 1L).otherwise(0L).as("keep"))
  }

  /** F34: per-document unigram token entropy — the diversity signal
    * that separates natural prose from keyword stuffing and template
    * spam at equal length (a doc repeating 3 tokens and one using 90
    * distinct ones score identically on token COUNT): Shannon entropy
    * of the in-doc token distribution via the factored form
    * H = ln n − (Σ tf·ln tf)/n, which needs only the per-(doc, token)
    * counts. Engine parity: each tf·ln(tf) term lands on the 1e-6
    * fixed-point grid and the per-doc SUM is integer-exact (the F23
    * Lloyd discipline — a double sum would be accumulation-order-
    * dependent), so both engines compute bit-identical entropies
    * before the one final division. One narrow groupBy(doc, token) +
    * one per-doc aggregate — no window, no join.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tfd = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    tfd.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n"),
        count(lit(1)).as("n_distinct"),
        sum(round(col("tf").cast("double") * log(col("tf").cast("double")) * 1e6, 0)
          .cast("long")).as("s_fp"))
      .select(col("doc_id"), col("n"), col("n_distinct"),
        round(log(col("n").cast("double")) -
          col("s_fp").cast("double") / (col("n").cast("double") * 1e6) -
          lit(1e-9), 4).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** F23b: add-one BIGRAM LM scoring — the context-aware upgrade of
    * [[lmScore]] a quality pipeline reaches for when unigram stats
    * stop separating fluent text from shuffled tokens (a bag-of-words
    * doc and its permutation score identically under F23; only a
    * transition model tells them apart): per document, the fixed-point
    * mean of ln P(wᵢ | wᵢ₋₁) with add-one smoothing over the top-V
    * vocabulary, out-of-vocab tokens collapsed to one UNK bucket
    * BEFORE counting (the standard closed-vocabulary construction —
    * it bounds the history table at V+1 rows).
    *
    * Scale shape: one corpus-wide bigram count (map-side-combined
    * groupBy on the (w1, w2) pair — O(n) shuffle of narrow rows), a
    * history table derived from the BOUNDED bigram-count table (≤ V+1
    * rows, broadcast), and one hash join of the per-doc bigram stream
    * against the counts; the per-doc reduce is the same 1e-6-grid
    * fixed-point mean as F23 (integer sum, accumulation-order-free,
    * cross-engine exact). Docs with < 2 tokens carry no transition
    * and drop from the output by construction.
    */
  def lmScoreBigram(docs: DataFrame, vocabV: Int): DataFrame = {
    val voc = vocab(docs, vocabV).select(col("token"), lit(1L).as("inv"))
    // adjacent pairs are built IN-ROW from the token array (r12: the
    // previous shape posexploded to a per-token stream and ran a
    // lead() window over (doc_id, pos) — a full sort+exchange of the
    // query's largest intermediate, for an adjacency the token array
    // already encodes; guide §2.4). The UNK collapse maps each pair
    // side through the same broadcast vocab join, so the transition
    // stream reaches its first real shuffle (the (w1, w2) count)
    // without ever being exchanged.
    val pairs = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS t1, element_at(toks, i + 1) AS t2))")).as("p"))
      .select(col("doc_id"), col("p.t1").as("t1"), col("p.t2").as("t2"))
    // UNK bucket = U+0001 (DuckDB chr(1)): outside any space-split
    // token alphabet, and non-empty (double spaces make "" a real
    // token)
    def unk(c: org.apache.spark.sql.Column,
            inv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(inv.isNull, lit("\u0001")).otherwise(c)
    // the narrow (doc_id, w1, w2) transition stream feeds three plan
    // references (pair counts + the scoring join) — cache it, not the
    // tokenize work upstream
    val bi = pairs
      .join(broadcast(voc.select(col("token").as("t1"), col("inv").as("i1"))),
        Seq("t1"), "left")
      .join(broadcast(voc.select(col("token").as("t2"), col("inv").as("i2"))),
        Seq("t2"), "left")
      .select(col("doc_id"), unk(col("t1"), col("i1")).as("w1"),
        unk(col("t2"), col("i2")).as("w2"))
      .cachedOnce
    val cbi = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    // history counts derive from the BOUNDED count table, not the
    // corpus stream — ≤ V+1 rows, broadcastable at any corpus size
    val chist = broadcast(cbi.groupBy(col("w1")).agg(sum(col("cb")).as("ch")))
    val lp = log((col("cb") + lit(1L)).cast("double") /
      (col("ch") + lit(vocabV.toLong) + lit(1L)).cast("double"))
    bi.join(cbi, Seq("w1", "w2"))
      .join(chist, Seq("w1"))
      .select(col("doc_id"), round(lp * lit(1e6), 0).cast("long").as("lpm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("lps"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lps").cast("double") / (col("n_bigrams").cast("double") * lit(1e6))
          - lit(1e-9), 4).as("logprob_bi"))
      .orderBy(col("doc_id"))
  }
}
