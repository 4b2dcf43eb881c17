package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.CarbonStream
import graft.tsdb.{Cgi, Fetch, MetricStore, Retention}

/** Carbon write path with reads beside writes. One producer drops one
  * seeded batch of plaintext `path value ts` lines per step into the
  * file source of `CarbonStream.ingestSinkMaintained` and waits for it
  * to commit; each batch is 144 simulated minutes of the 50-path farm,
  * shuffled, plus ~1% late rewrites of slots in days the store already
  * published, so a day closes every 10 batches and compaction, hot
  * cleanup and the late fold all cycle. After every commit one render
  * through `Cgi.dispatch` over `MetricStore.readMaintained` reads the
  * newest hour and must see the batch just written.
  */
final class Ingest(seed: Long) extends Workload {
  import Ingest._

  private var dir: String = _
  private var query: StreamingQuery = _
  private var paths: org.apache.spark.sql.DataFrame = _
  private var batch = 0
  // expected store: per day, value per (path, minute of day); NaN = absent
  private val state = mutable.ArrayBuffer.empty[Array[Double]]
  private var acked = 0L
  private val spec = Retention.parse(Dashboard.Spec)

  private def hot = s"$dir/hot"
  private def cold = s"$dir/cold"
  private def ckpt = s"$dir/checkpoint"

  def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    batch = 0
    acked = 0L
    state.clear()
    new File(s"$dir/source").mkdirs()
    new File(s"$dir/staging").mkdirs()
    paths = Paths.toDF("path")
    query = CarbonStream.ingestSinkMaintained(
      spark.readStream.text(s"$dir/source").toDF("line"), Start, hot, cold, ckpt)
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }

  def measure(spark: SparkSession, seconds: Int, tracer: Option[Tracer]): Measured = {
    if (batch == 0) (1 to WarmupBatches).foreach(_ => cycle(spark, None))
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    val acked0 = acked
    val out = mutable.ArrayBuffer.empty[(Sample, Sample)]
    while (System.nanoTime() < end) out += cycle(spark, tracer.filter(_ => out.size % 2 == 1))
    val wallS = (System.nanoTime() - t0) / 1e9
    val points = acked - acked0
    val finalErr = verifyStore(spark)
    val commits = out.map(_._1).toSeq
    val reads = out.map(_._2).toSeq
    val errors = (commits ++ reads).flatMap(_.error) ++ finalErr
    val bytes = treeBytes(new File(hot)) + treeBytes(new File(cold))
    val (untracedMs, tracedMs) = Measured.medians(commits)
    Measured(Seq(
      Metric("ops_per_s", commits.size / wallS, "1/s"),
      Metric("points_per_s", points / wallS, "1/s"),
      Metric("bytes_per_point", bytes.toDouble / acked, "bytes")) ++
      Loop.latencies(commits) ++ Loop.latencies(reads, "read"),
      commits.size + reads.size + 1L, errors.size.toLong, errors.toSeq, commits.size,
      untracedMs, tracedMs)
  }

  /** One producer step: drop a batch, wait for its commit, then read
    * the newest hour back. Returns (commit sample, read sample).
    */
  private def cycle(spark: SparkSession, tracer: Option[Tracer]): (Sample, Sample) = {
    val b = batch
    val (text, points) = batchOf(b)
    val staged = new File(s"$dir/staging/b-$b.txt")
    Files.write(staged.toPath, text.getBytes("UTF-8"))
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def commit(): Unit = {
      Files.move(staged.toPath, new File(s"$dir/source/b-$b.txt").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      // a trigger that listed the source just before the move may report
      // "no new data"; the commit log entry is the proof of the commit
      while (!new File(s"$ckpt/commits/$b").exists()) query.processAllAvailable()
    }
    tracer match {
      case None => commit()
      case Some(tr) => tr.span("carbon_stream.commit", tr.newReq())(_ => commit())
    }
    val commitMs = (System.nanoTime() - t0) / 1e6
    points.foreach { case (p, m, v) => slot(m)(p * 1440 + m % 1440) = v }
    acked += points.size
    batch += 1
    tracer.foreach(_.add("carbon_stream.files_written", filesSince(wall0)))
    (Sample("commit", commitMs, None, tracer.nonEmpty), read(spark, b, tracer))
  }

  private def slot(m: Int): Array[Double] = {
    val d = m / 1440
    while (state.size <= d) state += Array.fill(Paths.size * 1440)(Double.NaN)
    state(d)
  }

  /** Lines of batch `b` and the (path, minute, value) writes they carry,
    * in drop order: the batch's minutes for every path, shuffled, plus
    * late rewrites of slots in published days.
    */
  private def batchOf(b: Int): (String, Seq[(Int, Int, Double)]) = {
    val onTime = for (p <- Paths.indices; m <- b * BatchMinutes until (b + 1) * BatchMinutes)
      yield (p, m, value(p, m, 0))
    // days strictly before the store's live day are published (cold)
    val published = if (b == 0) 0 else (b * BatchMinutes - 1) / 1440
    val late = if (published == 0) Seq.empty else (0 until onTime.size / 100).map { k =>
      val h = Gen.hash(seed, b, k, 11L)
      (Gen.below(h, Paths.size), Gen.below(h + 1, published * 1440), value(b, k, 1))
    }
    // two late rewrites may draw the same slot: a batch carries a slot
    // once, since the late store's merge has no order within a batch
    val writes = (onTime ++ late).reverse.distinctBy(w => (w._1, w._2)).reverse
      .zipWithIndex.sortBy { case (_, i) => Gen.hash(seed, b, i, 13L) }.map(_._1)
    val sb = new StringBuilder
    writes.foreach { case (p, m, v) =>
      sb.append(Paths(p)).append(' ').append(v).append(' ').append(Start + m * 60L).append('\n') }
    (sb.toString, writes)
  }

  private def value(a: Int, b: Int, salt: Long): Double =
    Gen.round3(1.0 + 99.0 * Gen.unit(Gen.hash(seed, a, b, salt)))

  /** Render the newest hour of five paths; every slot must match the
    * expected store, including the batch just committed.
    */
  private def read(spark: SparkSession, b: Int, tracer: Option[Tracer]): Sample = {
    val h = Gen.hash(seed, b, 17L)
    val (farm, node) = (1 + Gen.below(h, Farms), 1 + Gen.below(h + 1, Nodes))
    val target = f"farm$farm.node$node%02d.*"
    val lastMinute = (b + 1) * BatchMinutes - 1
    val now = Start + (lastMinute + 1) * 60L
    val url = s"/render?target=$target&format=csv&from=-1h"
    val t0 = System.nanoTime()
    val rows: Array[Row] = tracer match {
      case None =>
        val env = Cgi.Env(MetricStore.readMaintained(spark, hot, cold), paths, spec)
        Cgi.dispatch(spark, env, url, now).collect()
      case Some(tr) =>
        val req = tr.newReq()
        val (rows, metrics) = tr.span("request", req) { id =>
          val m = tr.span("metric_store.read_build", req, id)(_ =>
            MetricStore.readMaintained(spark, hot, cold))
          val df = tr.span("cgi.build", req, id)(_ => Cgi.dispatch(spark, Cgi.Env(m, paths, spec), url, now))
          tr.span("catalyst.plan", req, id)(_ => df.queryExecution.executedPlan)
          (tr.span("exec", req, id)(_ => df.collect()), m)
        }
        tr.span("fetch.exec", req) { _ =>
          val n = Fetch.fetch(spark, metrics, target, spec, "average", 0.5, now - 3600L, now, now)
            .collect().length
          tr.add("fetch.rows_returned", n.toLong)
        }
        rows
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val ps = Kinds.indices.map(k => ((farm - 1) * Nodes + (node - 1)) * Kinds.size + k)
    val want = ps.map { p =>
      Paths(p) -> (now - 3600L).to(now, 60L).map { t =>
        val m = ((t - Start) / 60L).toInt
        val v = if (m / 1440 < state.size) state(m / 1440)(p * 1440 + m % 1440) else Double.NaN
        t -> (if (v.isNaN) None else Some(v))
      }.toMap
    }.toMap
    Sample("read", ms, Dashboard.checkCsvValues(rows, want).map(e => s"batch $b read: $e"))
  }

  /** A fresh `readMaintained` must hold exactly the acknowledged slots
    * with their last written values, and every cold day must be
    * compacted to one file.
    */
  private def verifyStore(spark: SparkSession): Option[String] = {
    val rows = MetricStore.readMaintained(spark, hot, cold)
      .select(col("path"), col("ts"), col("value")).collect()
    val pathIdx = Paths.zipWithIndex.toMap
    val seen = mutable.HashSet.empty[(Int, Int)]
    val bad = rows.iterator.map { r =>
      val p = pathIdx.getOrElse(r.getString(0), -1)
      val m = ((r.getLong(1) - Start) / 60L).toInt
      val v = if (p < 0 || m < 0 || m / 1440 >= state.size) Double.NaN
              else state(m / 1440)(p * 1440 + m % 1440)
      if (!seen.add((p, m))) Some(s"duplicate slot ${r.getString(0)}@${r.getLong(1)}")
      else if (v.isNaN || v != r.getDouble(2)) Some(s"slot ${r.getString(0)}@${r.getLong(1)} = ${r.getDouble(2)}, want $v")
      else None
    }.collectFirst { case Some(e) => e }
    val want = state.iterator.map(_.count(!_.isNaN)).sum
    val coldFiles = MetricStore.coldDays(spark, cold).map { d =>
      d -> parquetFiles(new File(s"$cold/day=$d")).size }.filter(_._2 != 1)
    bad.orElse(
      if (rows.length != want) Some(s"store holds ${rows.length} slots, want $want") else None
    ).orElse(coldFiles.headOption.map { case (d, n) => s"cold day $d has $n files, want 1" })
  }

  private def parquetFiles(root: File): Seq[File] =
    if (!root.exists()) Nil
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  private def treeBytes(root: File): Long =
    if (!root.exists()) 0L
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).map(_.length).sum

  private def filesSince(wallMs: Long): Long =
    (parquetFiles(new File(hot)) ++ parquetFiles(new File(cold)))
      .count(_.lastModified() >= wallMs - 1).toLong

  def layers(spark: SparkSession, tracer: Tracer, cpus: Int, root: String): Seq[Metric] = {
    val spans = tracer.allSpans
    val own = tracer.workBySpan
    val commits = spans.filter(_.name == "carbon_stream.commit")
    val cw = commits.map(s => own.getOrElse(s.id, new Work))
    val report = MetricStore.storeReport(spark, hot, cold).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    tracer.readPathLayers() ++ Seq(
      Metric("carbon_stream.jobs_per_batch", Stats.mean(cw.map(_.jobs.toDouble)), "count"),
      Metric("carbon_stream.tasks_per_batch", Stats.mean(cw.map(_.tasks.toDouble)), "count"),
      Metric("carbon_stream.files_written_per_batch",
        tracer.counter("carbon_stream.files_written").toDouble / math.max(1, commits.size), "count"),
      Metric("metric_store.hot_files", report("hot")._2.toDouble, "count"),
      Metric("metric_store.cold_files", report("cold")._2.toDouble, "count"),
      Metric("metric_store.late_rows", report("late")._1.toDouble, "count"),
      Metric("metric_store.bytes", (treeBytes(new File(hot)) + treeBytes(new File(cold))).toDouble, "bytes"),
      Metric("metric_store.read_build_ms",
        Stats.median(spans.filter(_.name == "metric_store.read_build").map(_.ms)), "ms"))
  }
}

object Ingest {
  val Farms = 2
  val Nodes = 5
  val Kinds: IndexedSeq[String] = Fleet.Kinds
  val Paths: IndexedSeq[String] =
    for (f <- 1 to Farms; n <- 1 to Nodes; k <- Kinds) yield f"farm$f.node$n%02d.$k"
  /** Simulated minutes per batch: ten batches close a day. */
  val BatchMinutes = 144
  val Start: Long = Fleet.Start
  val WarmupBatches = 3
}
