package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark harness: one seeded workload, measured
  * untraced (`--trace 0`, the end-to-end metrics) or traced
  * (`--trace 1`, the per-layer metrics, from a run twice as long in
  * which every other operation is traced). Prints one summary line per
  * metric and, as its last stdout line, the JSON result object.
  *
  * Usage: Main --workload dashboard|ingest|curate --seed N --seconds S
  *             --trace 0|1 --cpus C --root DIR --trace-out FILE
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, cpus: Int, root: String, traceOut: String)

  /** Setups per run; `setup_s` is their median. */
  val SetupRepeats = 5

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val root = new File(a.root).getAbsoluteFile
    root.mkdirs()
    // the run owns its scratch root: stores, checkpoints, file-source
    // dirs, spark.local.dir and java.io.tmpdir all live under it
    sys.addShutdownHook(deleteTree(root))
    val wl: Workload = a.workload match {
      case "dashboard" => new Dashboard(a.seed)
      case "ingest" => new Ingest(a.seed)
      case "curate" => new Curate(a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = Stats.median((1 to SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      val spark = Session.start(a.cpus, root.getPath)
      wl.setup(spark, s"${root.getPath}/setup$k")
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < SetupRepeats) { wl.close(); spark.stop() }
      dt
    })
    val spark = SparkSession.active
    val out =
      if (!a.trace) {
        val r = wl.measure(spark, a.seconds, None)
        wl.close()
        val e2e = r.metrics ++ Seq(
          Metric("setup_s", setupS, "s"),
          Metric("failed_ratio", r.failed.toDouble / r.attempted, "ratio"),
          Metric("rss_peak_mb", Rss.peakMb(), "MB"))
        e2e.foreach(m => println(f"[${a.workload}] ${m.name}%-22s ${m.value}%14.4f ${m.unit}"))
        println(s"[${a.workload}] samples: ${r.samples}, attempted ${r.attempted}, failed ${r.failed}")
        r.errors.take(5).foreach(e => println(s"[${a.workload}] FAILED: $e"))
        Result(r.failed == 0, r.attempted, r.failed, e2e.filter(m => DriverE2E.contains(m.name)))
      } else {
        // every other operation runs traced, so traced and untraced
        // operations see the same warm-up and the same store state
        val tracer = new Tracer(spark)
        val r = wl.measure(spark, 2 * a.seconds, Some(tracer))
        tracer.drain()
        val layers = wl.layers(spark, tracer, a.cpus, root.getPath) :+
          Metric("trace.overhead_ratio", r.tracedMedianMs / r.opMedianMs, "ratio")
        tracer.write(new File(a.traceOut))
        wl.close()
        val all = PerLayer.map(n => layers.find(_.name == n).getOrElse(Metric(n, 0.0, PerLayerUnits(n))))
        all.foreach(m => println(f"[${a.workload}] ${m.name}%-40s ${m.value}%14.4f ${m.unit}"))
        println(s"[${a.workload}] trace written to ${a.traceOut}")
        r.errors.take(5).foreach(e => println(s"[${a.workload}] FAILED: $e"))
        Result(r.failed == 0, r.attempted, r.failed, all)
      }
    spark.stop()
    println(out.json)
    System.out.flush()
  }

  /** End-to-end metrics the result line carries: the ones every
    * workload defines, that are never 0 and that hold steady across
    * seeds (see perfbench/README.md).
    */
  val DriverE2E: Seq[String] = Seq("setup_s", "ops_per_s", "latency_p50_ms")

  /** Per-layer metrics of the traced run, with units; a layer a
    * workload never calls reports 0.
    */
  val PerLayerUnits: Map[String, String] = Map(
    "cgi.build_ms" -> "ms", "cgi.eager_jobs" -> "count", "catalyst.plan_ms" -> "ms",
    "exec.exec_ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.deser_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.sched_wait_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "fetch.exec_ms" -> "ms", "render.self_ms" -> "ms",
    "fetch.rows_scanned_per_row_returned" -> "ratio",
    "carbon_stream.jobs_per_batch" -> "count", "carbon_stream.tasks_per_batch" -> "count",
    "carbon_stream.files_written_per_batch" -> "count",
    "metric_store.hot_files" -> "count", "metric_store.cold_files" -> "count",
    "metric_store.late_rows" -> "count", "metric_store.bytes" -> "bytes",
    "metric_store.read_build_ms" -> "ms",
    "analysis.gates_s" -> "s", "dedup.simhash_s" -> "s", "dedup.decontam_s" -> "s",
    "curation.plan_s" -> "s", "curation.eager_jobs" -> "count",
    "curate.scaling_ratio" -> "ratio", "trace.overhead_ratio" -> "ratio")
  val PerLayer: Seq[String] = PerLayerUnits.keys.toSeq.sorted

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("cpus").toInt, req("root"), req("trace-out"))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}

/** The one session factory of the harness: core count, shuffle width,
  * time zone and scratch dirs are pinned here, never inherited from the
  * environment (an exported SPARK_GRAFT_CPUS=32 must not oversubscribe
  * a 4-core box).
  */
object Session {
  def start(cpus: Int, root: String, partitions: Int = 0): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (if (partitions > 0) partitions else cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What one measured phase of a workload returns. `opMedianMs` and
  * `tracedMedianMs` are the median latencies of the workload's untraced
  * and traced operations (request, batch commit or pipeline run).
  */
final case class Measured(metrics: Seq[Metric], attempted: Long, failed: Long,
                          errors: Seq[String], samples: Int, opMedianMs: Double,
                          tracedMedianMs: Double)

object Measured {
  def medians(ops: Seq[Sample]): (Double, Double) = {
    val (t, u) = ops.partition(_.traced)
    (Stats.median(u.map(_.ms)), Stats.median(t.map(_.ms)))
  }
}

final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]) {
  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** A seeded workload. `setup` generates and writes the inputs on a
  * freshly started session; `measure` runs the timed loop for `seconds`
  * (every other operation traced when a tracer is given) and checks
  * every answer; `layers`
  * derives the per-layer metrics from the traced phase.
  */
trait Workload {
  def setup(spark: SparkSession, dir: String): Unit
  def measure(spark: SparkSession, seconds: Int, tracer: Option[Tracer]): Measured
  def layers(spark: SparkSession, tracer: Tracer, cpus: Int, root: String): Seq[Metric]
  def close(): Unit = ()
}

object Rss {
  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
