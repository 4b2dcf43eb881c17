package graft
import graft.core.Sessions
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)
    Sessions.warm(spark, sfDir)
    // Sorted order → stable per-query attribution across rounds.
    // noop write executes the FULL plan (count() lets Catalyst prune
    // projects/sorts, understating materialization cost).
    // Each query is timed repeatedly and reported as the per-query MIN:
    // one-shot timings under background machine load swung >10× per
    // query in r2 and made the artifact unusable for regression
    // detection. Sampling continues until two post-warmup samples agree
    // within 10% (the FIRST sample is excluded from the convergence
    // test — it reliably carries this query's codegen/JIT warmup, and
    // two warmup-slow samples otherwise "converge" on a plateau 2×
    // above the plan's real time). Limits: ≤5 samples, ≥2 always,
    // stop adding once cumulative time passes 60 s. All samples ship
    // in target/bench.json.
    // SPARK_GRAFT_ONLY=a,b,c restricts to named queries (dev loops)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // SPARK_GRAFT_MAX_SAMPLES caps repeat samples (default 5) — the
    // sf1 honesty pass runs the whole surface at 10× data, where the
    // standard convergence loop would cost hours for numbers that only
    // feed a ratio table
    val maxSamples = sys.env.getOrElse("SPARK_GRAFT_MAX_SAMPLES", "5").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val samples = selected.flatMap { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var budgetNs = 60e9
      var broken = false
      def converged: Boolean = {
        val s = times.drop(1).sorted
        s.size >= 2 && s(1) <= s(0) * 1.10
      }
      while (!broken && times.size < maxSamples &&
             (times.size < math.min(2, maxSamples) ||
               (budgetNs > 0 && !converged))) {
        val t0 = System.nanoTime()
        // a failing query must be VISIBLE and excluded — timing the
        // exception path would report a healthy-looking near-zero
        // sample for a broken query (VERDICT r3 #2)
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = System.nanoTime() - t0
          budgetNs -= dt
          times += dt / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          broken = true
        }
        // drop cached intermediates AFTER each sample (outside the
        // timed section): a repeat must re-run the full plan, not read
        // the previous sample's cache — and a 52-query session must not
        // accumulate executor storage (VERDICT r2 cache hygiene)
        Sessions.reset(spark)
      }
      // single-JVM contamination fix (VERDICT r12 #2): 277 queries in one
      // JVM accumulate heap garbage (broadcasts, codegen classes, fixture
      // frames) that inflates LATER queries' timed samples by up to 10×
      // (dedup_incremental: 8 s isolated vs 45–160 s mid-run, 352 s GC).
      // A full GC between queries — outside every timed region — gives
      // each query the same clean-heap start an isolated run would.
      System.gc()
      if (broken) { failed += name; None } else Some(name -> times.toSeq)
    }
    val results = samples.map { case (n, ts) => n -> ts.min }
    // compact mins (3 dp) so the summary line stays under the driver's
    // 2000-byte stdout tail even at 70 queries
    // Locale.ROOT: the artifact must be valid JSON on comma-decimal
    // locales too (f"" interpolators use the JVM default locale)
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // compact line budget: the driver keeps only the LAST 2000 stdout
    // bytes and sbt appends its own trailer line after ours — at 72
    // queries, 2-dp mins keep the whole line + trailer inside the tail
    // (full 3-dp samples live in target/bench.json)
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs2 = results.map { case (k, v) => s"\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val ss = samples.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(f3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // compact line layout: "queries" FIRST, total/failed LAST — the
    // driver keeps only the last 2000 stdout bytes, so if query count
    // ever pushes the line past the tail, truncation eats the first
    // few per-query mins and never the total/failed verdict. sf as
    // basename (-18 bytes). 81 queries ≈ 1.9 kB: near the budget.
    val sfName = sfDir.split('/').last
    val compact =
      s"""{"queries":$qs2,"failed":$fl,"sf":"$sfName","metric":"total","value":${f3(total)},"unit":"sec"}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"samples":$ss,"failed":$fl,"sf":"$sfDir"}"""
    // durable artifact (VERDICT r3 #1): full JSON (incl. all samples)
    // goes to a FILE; stdout ends with the compact mins-only line so
    // the driver's 2000-byte tail always carries the total and every
    // per-query min without a re-run.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), full + "\n")
    println(compact)
    // driver-parseable summary (VERDICT r12 #1): at 277 queries the
    // per-query line above is ~6 kB and the driver's 2000-byte stdout
    // tail truncates it from the FRONT, so `parsed` came back null for
    // two rounds. The FINAL stdout line is therefore a compact summary
    // guaranteed to fit the tail whole (per-query mins stay on the line
    // above and, with all samples, in target/bench.json). Additions to
    // output only — the timing methodology is unchanged.
    val summary =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${results.size},"failed":$fl,"sf":"$sfName","cpus":$cpus,"queries_file":"target/bench.json"}"""
    println(summary)
    spark.stop()
  }
}
