package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `req` groups the spans of one workload
  * operation; `parent` is the enclosing span (0 = none). Times are
  * System.nanoTime.
  */
final case class Span(id: Long, name: String, parent: Long, req: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: jobs it started and what their
  * tasks did.
  */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var deserMs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; deserMs += o.deserMs; gcMs += o.gcMs
    schedWaitMs += o.schedWaitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; recordsRead += o.recordsRead
  }
}

/** In-memory span recorder plus a SparkListener that counts jobs, tasks,
  * shuffle, spill, GC and deserialization per job. A span tags the jobs
  * its thread starts through a local property; jobs without the tag
  * (the streaming query's own thread) belong to the `carbon_stream.commit`
  * span that was open when they were submitted.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val UntaggedOwner = "carbon_stream.commit"
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // System.currentTimeMillis (listener event times) → nanoTime domain
  private val wallToNanoMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

  private final class Job(val span: Long, val submitMs: Long) {
    var firstLaunchMs = Long.MaxValue
    val work = new Work
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val j = new Job(tag.map(_.toLong).getOrElse(0L), e.time)
      j.work.jobs = 1
      jobs += j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach(j =>
        j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val w = j.work
        w.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          w.deserMs += m.executorDeserializeTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.diskBytesSpilled
          w.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  def newReq(): Long = ids.incrementAndGet()

  /** Adds `n` to a named run-wide counter. */
  def add(name: String, n: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong(0L)).addAndGet(n): Unit

  def counter(name: String): Long = Option(counters.get(name)).map(_.get).getOrElse(0L)

  /** Times `f` as span `name` of operation `req`; Spark jobs the calling
    * thread starts inside it are attributed to it.
    */
  def span[T](name: String, req: Long, parent: Long = 0L)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanKey, prev)
      spans.add(Span(id, name, parent, req, t0, t1))
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.ListenerDrain.drain(spark.sparkContext)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Spark work per span id (its own jobs, not its children's). */
  def workBySpan: Map[Long, Work] = synchronized {
    val owners = allSpans.filter(_.name == UntaggedOwner)
    val out = mutable.HashMap.empty[Long, Work]
    jobs.foreach { j =>
      val w = j.work
      if (j.firstLaunchMs != Long.MaxValue) w.schedWaitMs = j.firstLaunchMs - j.submitMs
      val owner =
        if (j.span != 0L) Some(j.span)
        else {
          val ns = (j.submitMs - wallToNanoMs) * 1000000L
          owners.find(s => s.startNs <= ns && ns <= s.endNs).map(_.id)
        }
      owner.foreach(o => out.getOrElseUpdate(o, new Work) += w)
    }
    out.toMap
  }

  /** Work of a span and all its descendants. */
  def workUnder(id: Long, children: Map[Long, Seq[Span]], own: Map[Long, Work]): Work = {
    val w = new Work
    own.get(id).foreach(w += _)
    children.getOrElse(id, Nil).foreach(c => w += workUnder(c.id, children, own))
    w
  }

  /** Span duration minus the part its children cover, in ms. */
  def selfMs(s: Span, children: Map[Long, Seq[Span]]): Double = {
    val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e6
  }

  def childrenOf: Map[Long, Seq[Span]] = allSpans.filter(_.parent != 0L).groupBy(_.parent)

  /** Writes every span as one JSON line with its self time and the Spark
    * work attributed to it.
    */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val kids = childrenOf
    val own = workBySpan
    val pw = new PrintWriter(file, "UTF-8")
    try allSpans.foreach { s =>
      val w = own.getOrElse(s.id, new Work)
      pw.println(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "req": ${s.req}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "ms": ${s.ms}, "self_ms": ${selfMs(s, kids)}, """ +
        s""""jobs": ${w.jobs}, "tasks": ${w.tasks}, "deser_ms": ${w.deserMs}, "gc_ms": ${w.gcMs}, """ +
        s""""sched_wait_ms": ${w.schedWaitMs}, "shuffle_write_bytes": ${w.shuffleWrite}, """ +
        s""""shuffle_read_bytes": ${w.shuffleRead}, "spill_bytes": ${w.spill}, "records_read": ${w.recordsRead}}""")
    } finally pw.close()
  }

  /** The read-path layer metrics shared by `dashboard` and `ingest`:
    * every `request` span is one operation with `cgi.build`,
    * `catalyst.plan` and `exec` children; a `fetch.exec` span with the
    * same `req` executes that request's fetch alone.
    */
  def readPathLayers(): Seq[Metric] = {
    val all = allSpans
    val kids = childrenOf
    val own = workBySpan
    val byName = all.groupBy(_.name)
    def spansOf(n: String) = byName.getOrElse(n, Nil)
    def medMs(n: String) = Stats.median(spansOf(n).map(selfMs(_, kids)))
    def work(n: String) = spansOf(n).map(s => workUnder(s.id, kids, own))
    val execW = work("exec")
    val fetchByReq = spansOf("fetch.exec").groupBy(_.req)
    val renderSelf = spansOf("exec").map(e =>
      e.ms - fetchByReq.getOrElse(e.req, Nil).map(_.ms).sum)
    val fetchW = work("fetch.exec")
    val fetchRows = counter("fetch.rows_returned").toDouble
    val jobsAll = execW.map(_.jobs).sum
    Seq(
      Metric("cgi.build_ms", medMs("cgi.build"), "ms"),
      Metric("cgi.eager_jobs", Stats.mean(work("cgi.build").map(_.jobs.toDouble)), "count"),
      Metric("catalyst.plan_ms", medMs("catalyst.plan"), "ms"),
      Metric("exec.exec_ms", Stats.median(spansOf("exec").map(_.ms)), "ms"),
      Metric("exec.jobs", Stats.mean(execW.map(_.jobs.toDouble)), "count"),
      Metric("exec.tasks", Stats.mean(execW.map(_.tasks.toDouble)), "count"),
      Metric("exec.deser_ms", Stats.mean(execW.map(_.deserMs.toDouble)), "ms"),
      Metric("exec.gc_ms", Stats.mean(execW.map(_.gcMs.toDouble)), "ms"),
      Metric("exec.sched_wait_ms",
        if (jobsAll == 0) 0.0 else execW.map(_.schedWaitMs).sum.toDouble / jobsAll, "ms"),
      Metric("exec.shuffle_write_bytes", Stats.mean(execW.map(_.shuffleWrite.toDouble)), "bytes"),
      Metric("exec.shuffle_read_bytes", Stats.mean(execW.map(_.shuffleRead.toDouble)), "bytes"),
      Metric("exec.spill_bytes", Stats.mean(execW.map(_.spill.toDouble)), "bytes"),
      Metric("fetch.exec_ms", Stats.median(spansOf("fetch.exec").map(_.ms)), "ms"),
      Metric("render.self_ms", Stats.median(renderSelf), "ms"),
      Metric("fetch.rows_scanned_per_row_returned",
        if (fetchRows == 0) 0.0 else fetchW.map(_.recordsRead).sum / fetchRows, "ratio"))
  }
}
