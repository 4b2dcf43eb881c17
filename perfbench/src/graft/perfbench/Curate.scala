package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.ops.Curation
import graft.text.Analysis

/** Synthetic training corpus: 4,500 original documents (mostly English,
  * some German/Spanish/French/Chinese stopword profiles, lengths 5-120
  * tokens over a skewed 2,000-word vocabulary), 250 planted exact
  * copies and 250 planted near copies of originals, and an eval set of
  * one original in 40 plus 100 unseen texts.
  */
object Corpus {
  val Originals = 4500
  val ExactCopies = 250
  val NearCopies = 250
  val Docs: Int = Originals + ExactCopies + NearCopies
  val EvalEvery = 40
  val EvalFresh = 100

  private val Cons = "bcdfghklmnprstvz"
  private val Vow = "aeiou"
  val Vocab: IndexedSeq[String] = (0 until 2000).map { i =>
    val syl = 2 + i % 3
    (0 until syl).map { k =>
      val h = Gen.hash(42L, i, k)
      s"${Cons(Gen.below(h, Cons.length))}${Vow(Gen.below(h + 1, Vow.length))}"
    }.mkString
  }
  private val Langs = Seq("en", "de", "es", "fr", "zh")

  private def words(seed: Long, id: Long, n: Int, lang: String): Seq[String] = {
    val stop = graft.text.TextFns.stopwords(lang)
    (0 until n).map { k =>
      val h = Gen.hash(seed, id, k, 3L)
      if (Gen.below(h, 4) == 0) stop(Gen.below(h + 1, stop.size))
      else Vocab((Vocab.size * math.pow(Gen.unit(h + 2), 2)).toInt)
    }
  }

  /** Language and length depend on the id alone, so every seed yields
    * the same corpus shape; the seed picks the words.
    */
  def original(seed: Long, id: Long): String = {
    val h = Gen.hash(0L, id, 1L)
    val lang = if (Gen.below(h, 100) < 85) "en" else Langs(1 + Gen.below(h + 1, 4))
    words(seed, id, 5 + Gen.below(h + 2, 116), lang).mkString(" ")
  }

  /** The original a planted copy repeats. */
  def source(seed: Long, id: Int): Int = Gen.below(Gen.hash(seed, id, 2L), Originals)

  def text(seed: Long, id: Int): String =
    if (id < Originals) original(seed, id)
    else if (id < Originals + ExactCopies) original(seed, source(seed, id))
    else {
      // one token replaced, one appended: a near duplicate, never exact
      val w = original(seed, source(seed, id)).split(" ")
      val k = Gen.below(Gen.hash(seed, id, 4L), w.length)
      (w.updated(k, Vocab(Gen.below(Gen.hash(seed, id, 5L), Vocab.size))) :+ "zyx").mkString(" ")
    }

  /** (eval_id, text): twins of every 40th original, then unseen texts. */
  def eval(seed: Long): Seq[(Long, String)] =
    (0 until Originals by EvalEvery).map(i => (1000000L + i, original(seed, i))) ++
      (0 until EvalFresh).map(k => (2000000L + k, original(seed ^ 0x7777L, k)))
}

/** The training-data batch job: `Curation.curateWithDecontam` over the
  * seeded corpus (quality and language gates, exact dedup, simhash near
  * dedup, then n-gram decontamination against the eval set), run back
  * to back with the cache cleared between runs. Each run's decisions
  * are checked: one row per doc, no planted exact copy kept, and no doc
  * with an eval twin kept.
  */
final class Curate(seed: Long) extends Workload {
  import Curate._

  private var dir: String = _
  private var untracedJobMs = 0.0
  private var warmed = false
  private lazy val twins: Set[Int] = {
    val ev = Corpus.eval(seed).map(_._2).toSet
    (0 until Corpus.Docs).filter(i => ev.contains(Corpus.text(seed, i))).toSet
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    val s = seed
    spark.range(0L, Corpus.Docs.toLong).map(i => (i, Corpus.text(s, i.toInt)))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Corpus.eval(seed).toDF("eval_id", "text").coalesce(1).write.parquet(s"$dir/eval")
  }

  private def docs(spark: SparkSession) = spark.read.parquet(s"$dir/docs")
  private def evalDocs(spark: SparkSession) = spark.read.parquet(s"$dir/eval")

  private def pipeline(spark: SparkSession, d: DataFrame): DataFrame =
    Curation.curateWithDecontam(spark, d, evalDocs(spark), MinScore, MinTokens, Lang,
      MaxHamming, MaxDf, NgramN, MinHits, DecontamMaxDf)

  def measure(spark: SparkSession, seconds: Int, tracer: Option[Tracer]): Measured = {
    if (!warmed) { run(spark, None); warmed = true }
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    val out = mutable.ArrayBuffer.empty[Sample]
    while (out.isEmpty || System.nanoTime() < end) out += run(spark, tracer.filter(_ => out.size % 2 == 1))
    val wallS = (System.nanoTime() - t0) / 1e9
    val jobMs = Stats.median(out.map(_.ms).toSeq)
    val (untracedMs, tracedMs) = Measured.medians(out.toSeq)
    untracedJobMs = untracedMs
    val errors = out.flatMap(_.error).toSeq
    Measured(Seq(
      Metric("ops_per_s", out.size / wallS, "1/s"),
      Metric("docs_per_s", out.size.toLong * Corpus.Docs / wallS, "1/s"),
      Metric("job_s", jobMs / 1000.0, "s")) ++ Loop.latencies(out.toSeq),
      out.size.toLong, errors.size.toLong, errors, out.size, untracedMs, tracedMs)
  }

  private def run(spark: SparkSession, tracer: Option[Tracer]): Sample = {
    val t0 = System.nanoTime()
    val rows = tracer match {
      case None => pipeline(spark, docs(spark)).collect()
      case Some(tr) =>
        val req = tr.newReq()
        tr.span("request", req) { id =>
          val df = tr.span("curation.build", req, id)(_ => pipeline(spark, docs(spark)))
          tr.span("catalyst.plan", req, id)(_ => df.queryExecution.executedPlan)
          tr.span("exec", req, id)(_ => df.collect())
        }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    spark.catalog.clearCache()
    Sample("job", ms, check(rows), tracer.nonEmpty)
  }

  private def check(rows: Array[Row]): Option[String] = {
    val byId = rows.map(r => r.getLong(0).toInt -> (r.getLong(1), r.getString(2))).toMap
    val copies = Corpus.Originals until Corpus.Originals + Corpus.ExactCopies
    if (rows.length != Corpus.Docs || byId.keySet != (0 until Corpus.Docs).toSet)
      Some(s"curate: ${rows.length} rows for ${byId.size} ids, want ${Corpus.Docs}")
    else byId.collectFirst { case (id, (k, r)) if (k == 1L) != (r == "kept") => s"doc $id kept=$k reason $r" }
      .orElse(copies.collectFirst { case c if byId(c)._1 == 1L || !ExactReasons(byId(c)._2) =>
        s"planted exact copy $c has reason ${byId(c)._2}" })
      .orElse(twins.collectFirst { case t if byId(t)._2 == "kept" => s"doc $t has an eval twin but is kept" })
      .orElse(if (!byId.values.exists(_._2 == "contaminated")) Some("no doc marked contaminated") else None)
  }

  /** Per-stage times on this workload's input, the pipeline's planning
    * and eager jobs, and the single-core baseline.
    */
  def layers(spark: SparkSession, tracer: Tracer, cpus: Int, root: String): Seq[Metric] = {
    val spans = tracer.allSpans
    val own = tracer.workBySpan
    val kids = tracer.childrenOf
    def stage(name: String)(df: => DataFrame): Metric = {
      (1 to StageRepeats).foreach { _ =>
        tracer.span(name, tracer.newReq())(_ => df.write.format("noop").mode("overwrite").save())
        spark.catalog.clearCache()
      }
      Metric(s"${name}_s", Stats.median(tracer.allSpans.filter(_.name == name).map(_.ms)) / 1000.0, "s")
    }
    // stage inputs, as the pipeline hands them over: the exact keepers
    // (reached stage 4) and the stage-4 survivors (reached stage 5)
    val decided = pipeline(spark, docs(spark)).select("doc_id", "reason").cache()
    decided.filter(col("reason").isin("kept", "near_dup", "contaminated")).select("doc_id")
      .join(docs(spark), "doc_id").write.parquet(s"$dir/keepers")
    decided.filter(col("reason").isin("kept", "contaminated")).select("doc_id")
      .join(docs(spark), "doc_id").write.parquet(s"$dir/survivors")
    spark.catalog.clearCache()
    val stages = Seq(
      stage("analysis.gates")(Analysis.withGateCols(docs(spark), MinScore, MinTokens, Lang)),
      stage("dedup.simhash")(Dedup.simhashClusters(spark, spark.read.parquet(s"$dir/keepers"),
        MaxHamming, MaxDf)),
      stage("dedup.decontam")(Dedup.decontaminate(spark.read.parquet(s"$dir/survivors"),
        evalDocs(spark), NgramN, MinHits, DecontamMaxDf)))
    val build = spans.filter(_.name == "curation.build")
    val plans = spans.filter(_.name == "catalyst.plan")
    val pipelineLayers = Seq(
      Metric("curation.plan_s", Stats.median(plans.map(_.ms)) / 1000.0, "s"),
      Metric("curation.eager_jobs",
        Stats.mean(build.map(s => tracer.workUnder(s.id, kids, own).jobs.toDouble)), "count"))
    val readPath = tracer.readPathLayers().filter(_.name.startsWith("exec."))
    // single-core baseline: same shuffle width, one core
    tracer.drain()
    spark.stop()
    val one = Session.start(1, root, partitions = cpus)
    val t0 = System.nanoTime()
    pipeline(one, docs(one)).collect()
    val oneMs = (System.nanoTime() - t0) / 1e6
    one.stop()
    readPath ++ pipelineLayers ++ stages :+
      Metric("curate.scaling_ratio", oneMs / untracedJobMs, "ratio")
  }
}

object Curate {
  // the driver query's curation parameters (graft.ops.LlmQueries)
  val MinScore = 0.37995
  val MinTokens = 15
  val Lang = "en"
  val MaxHamming = 6
  val MaxDf = 64
  val NgramN = 5
  val MinHits = 3
  val DecontamMaxDf = 64
  val StageRepeats = 3
  val ExactReasons = Set("quality", "language", "exact_dup")
}
