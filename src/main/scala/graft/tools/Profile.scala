package graft.tools

import graft.core.Sessions
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.graftbridge.ListenerBridge

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Where a query's time goes: Catalyst planning vs execution, then which
  * stage owns the summed task time, GC, deserialization and shuffle bytes,
  * then which operator owns the stage. Usage:
  *   runMain graft.tools.Profile <q1,q2,...> [dataDir]
  * prints one row per query, then each query's stage table (stage names
  * carry the call site) and its executed plan with SQL metrics.
  * `dataDir` defaults to Bench's `SPARK_GRAFT_SF_DIR`.
  */
object Profile {

  /** One completed stage of a query's first run. */
  final case class Stage(id: Int, tasks: Int, runMs: Long, gcMs: Long, deserMs: Long,
                         shuffleWriteBytes: Long, shuffleReadBytes: Long, name: String)

  /** One query: `planS` forces the physical plan, `run1S` is the first
    * execution (the one whose jobs and stages are recorded), `run2S` a
    * steady-state repeat (codegen cached, JIT warm). The per-query totals
    * are sums over `stages`.
    */
  final case class Run(query: String, planS: Double, run1S: Double, run2S: Double,
                       jobs: Int, stages: Seq[Stage], operators: Seq[String]) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskMs: Long = stages.map(_.runMs).sum
    def gcMs: Long = stages.map(_.gcMs).sum
    def deserMs: Long = stages.map(_.deserMs).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  }

  /** Profile one `SparkEntry.queries` entry; the session's caches are
    * reset after each run, as Bench does between samples.
    */
  def profile(spark: SparkSession, query: String, dir: String): Run = {
    val sc = spark.sparkContext
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[Stage]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = stages.synchronized(jobs += 1)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages.synchronized {
          stages += Stage(i.stageId, i.numTasks, m.executorRunTime, m.jvmGCTime,
            m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead, i.name.take(120))
        }
      }
    }
    def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    def run(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      seconds(t0)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(query)(spark, dir)
      df.queryExecution.executedPlan
      val planS = seconds(t0)
      // jobs run while building the DataFrame are not the query's run
      ListenerBridge.drain(sc)
      stages.synchronized { jobs = 0; stages.clear() }
      val run1S = run(df)
      ListenerBridge.drain(sc)
      val (nJobs, recorded) = stages.synchronized((jobs, stages.toList))
      // the AQE-final plan, walked while its SQL metrics are populated
      val operators = walk(df.queryExecution.executedPlan)
      Sessions.reset(spark)
      val run2S = run(graft.SparkEntry.queries(query)(spark, dir))
      Sessions.reset(spark)
      Run(query, planS, run1S, run2S, nJobs, recorded, operators)
    } finally sc.removeSparkListener(listener)
  }

  /** The executed plan, one operator a line, with its time, row, spill,
    * size and peak-memory metrics; cached relations are entered once.
    */
  private def walk(root: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val out = mutable.ArrayBuffer.empty[String]
    val seen = mutable.Set.empty[Int]
    def go(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.collect {
        case (k, m) if m.value > 0 &&
          (k.contains("time") || k == "numOutputRows" || k.contains("spill") ||
            k.contains("dataSize") || k.contains("peak")) =>
          s"$k=${m.value}"
      }.mkString(" ")
      out += ("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else "")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case i: InMemoryTableScanExec =>
          if (seen.add(System.identityHashCode(i.relation))) Seq(i.relation.cachedPlan)
          else Seq.empty
        case _: ReusedExchangeExec => Seq.empty
        case o => o.children
      }
      kids.foreach(go(_, depth + 1))
      p.subqueries.foreach { sq =>
        out += ("  " * (depth + 1)) + "SUBQUERY:"
        go(sq, depth + 2)
      }
    }
    go(root, 0)
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <q1,q2,...> [dataDir] (default: $SPARK_GRAFT_SF_DIR)"
    require(args.nonEmpty, usage)
    val dir = Plans.dataDir(args.lift(1), usage)
    val spark = Sessions.local()
    Sessions.warm(spark, dir)
    val runs = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map(profile(spark, _, dir))
    println(f"${"query"}%-34s ${"plan_s"}%7s ${"run1_s"}%7s ${"run2_s"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"shW_MB"}%7s ${"shR_MB"}%7s ${"tsk_s"}%7s ${"gc_s"}%6s ${"deser_s"}%7s")
    for (r <- runs)
      println(f"${r.query}%-34s ${r.planS}%7.2f ${r.run1S}%7.2f ${r.run2S}%7.2f ${r.jobs}%5d ${r.stages.size}%5d ${r.tasks}%6d ${r.shuffleWriteBytes / 1e6}%7.1f ${r.shuffleReadBytes / 1e6}%7.1f ${r.taskMs / 1e3}%7.1f ${r.gcMs / 1e3}%6.1f ${r.deserMs / 1e3}%7.1f")
    for (r <- runs) {
      println(f"== ${r.query} run1=${r.run1S}%.2f s, ${r.stages.size} stages (by summed task run time) ==")
      println(f"${"stage"}%5s ${"tasks"}%5s ${"run_s"}%8s ${"gc_s"}%6s ${"deser_s"}%7s ${"shW_MB"}%7s ${"shR_MB"}%7s  name")
      for (s <- r.stages.sortBy(-_.runMs))
        println(f"${s.id}%5d ${s.tasks}%5d ${s.runMs / 1e3}%8.2f ${s.gcMs / 1e3}%6.1f ${s.deserMs / 1e3}%7.1f ${s.shuffleWriteBytes / 1e6}%7.2f ${s.shuffleReadBytes / 1e6}%7.2f  ${s.name}")
      println(s"== ${r.query} executed plan with metrics ==")
      r.operators.foreach(println)
    }
    spark.stop()
  }
}

/** Plan audit: scan pushdown, join strategy, window and exchange marker
  * lines per query, so a shuffle or broadcast regression is visible at a
  * glance. Usage:
  *   runMain graft.tools.Plans [q1,q2,...] [dataDir] [outDir]
  * With no queries it audits the headline set; with an `outDir` it also
  * writes each query's formatted plan to `outDir/<query>.txt`, the
  * before/after evidence for an optimization. `dataDir` defaults to
  * Bench's `SPARK_GRAFT_SF_DIR`.
  */
object Plans {

  val Headline: Seq[String] = Seq("q1_agg", "q3_join", "q5_multijoin", "ts_fetch",
    "ts_fetch_stored", "dm_resample", "dedup_minhash", "ann_cosine_topk")

  /** The given data directory, else Bench's `SPARK_GRAFT_SF_DIR`. */
  private[tools] def dataDir(arg: Option[String], usage: String): String =
    arg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(sys.error(usage))

  private def isMarker(l: String): Boolean =
    l.contains("PushedFilters") || l.contains("ReadSchema") ||
      l.contains("PartitionFilters") ||
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
      l.contains("ShuffledHashJoin") || l.contains("BroadcastNestedLoopJoin") ||
      l.contains("windowspecdefinition") ||
      (l.contains("Exchange") && !l.contains("Reuse"))

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).getOrElse(Headline)
    val dir = dataDir(args.lift(1),
      "usage: Plans [q1,q2,...] [dataDir] [outDir] (default dataDir: $SPARK_GRAFT_SF_DIR)")
    val out = args.lift(2).map(Paths.get(_))
    out.foreach(Files.createDirectories(_))
    val spark = Sessions.local()
    for (name <- names) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode)
      val lines = plan.linesIterator.toSeq
      val exchanges = lines.count(l => l.trim.startsWith("Exchange") || l.contains(" Exchange"))
      println(s"=== $name (~$exchanges Exchange lines)")
      lines.filter(isMarker).foreach(m => println("  " + m.trim.take(170)))
      out.foreach(o => Files.writeString(o.resolve(s"$name.txt"), plan))
      Sessions.reset(spark)
    }
    spark.stop()
  }
}
