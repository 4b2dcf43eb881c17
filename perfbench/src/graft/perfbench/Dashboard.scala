package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.tsdb.{Cgi, Fetch, Retention}

/** The synthetic fleet the `dashboard` workload serves: 100 paths
  * `dc<d>.host<nn>.<kind>`, three days at a 60 s step, ~2% of points
  * missing plus seeded 30-minute outages (so xFilesFactor gating
  * matters at the 10m archive).
  */
object Fleet {
  val Dcs = 2
  val Hosts = 10
  val Kinds: IndexedSeq[String] = IndexedSeq("cpu", "mem", "disk", "net", "load")
  val Paths: IndexedSeq[String] =
    for (d <- 1 to Dcs; h <- 1 to Hosts; k <- Kinds) yield f"dc$d.host$h%02d.$k"
  val Days = 3
  val Minutes: Int = Days * 1440
  val Start = 1704067200L // 2024-01-01T00:00:00Z
  val End: Long = Start + Days * 86400L

  def index(dc: Int, host: Int, kind: String): Int =
    ((dc - 1) * Hosts + (host - 1)) * Kinds.size + Kinds.indexOf(kind)

  /** The point of path `p` in minute `m`, or None for a gap. */
  def point(seed: Long, p: Int, m: Int): Option[(String, Long, Double)] = {
    val h = Gen.hash(seed, p, m)
    val outage = Gen.below(Gen.hash(seed, p, m / 30, 7L), 60) == 0
    if (outage || Gen.below(h, 50) == 0) None
    else {
      val base = 10.0 + 90.0 * Gen.unit(Gen.hash(seed, p, -1L))
      val amp = 2.0 + 20.0 * Gen.unit(Gen.hash(seed, p, -2L))
      val phase = 2 * math.Pi * Gen.unit(Gen.hash(seed, p, -3L))
      val v = base + amp * math.sin(2 * math.Pi * m / 1440.0 + phase) + 4.0 * (Gen.unit(h + 1) - 0.5)
      Some((Paths(p), Start + m * 60L + Gen.below(h + 2, 60), Gen.round3(v)))
    }
  }
}

/** Graphite read path: two closed-loop clients sending `Cgi.dispatch`
  * URLs (renders in csv/json/svg, function targets, repeated-glob
  * targets, find and expand) over the fleet stored as day-partitioned
  * raw-point parquet. Every plain-glob csv answer is compared value by
  * value with a plain-Scala rollup of the generated points; the other
  * answers are checked for series names and row counts.
  */
final class Dashboard(seed: Long) extends Workload {
  import Dashboard._

  private var env: Cgi.Env = _
  private val spec = Retention.parse(Spec)
  // run-wide request index: `now` advances with it, so no two requests
  // of a run share a plan
  private val next = new AtomicInteger(0)

  def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val s = seed
    spark.range(0L, Fleet.Paths.size.toLong * Fleet.Minutes)
      .flatMap(i => Fleet.point(s, (i / Fleet.Minutes).toInt, (i % Fleet.Minutes).toInt).toSeq)
      .toDF("path", "ts", "value")
      .withColumn("day", col("ts") - col("ts") % 86400L)
      .repartition(col("day"))
      .sortWithinPartitions("path", "ts")
      .write.partitionBy("day").parquet(s"$dir/points")
    Fleet.Paths.toDF("path").coalesce(1).write.parquet(s"$dir/paths")
    env = Cgi.Env(spark.read.parquet(s"$dir/points"), spark.read.parquet(s"$dir/paths"), spec)
  }

  def measure(spark: SparkSession, seconds: Int, tracer: Option[Tracer]): Measured = {
    // warm-up: one request of every template
    if (next.get == 0) {
      Loop.closed(Clients, Double.MaxValue, next, Templates)(i => run(spark, request(i), None))
      next.set(Templates)
    }
    val traced = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Req)]()
    val (samples, wallS) = Loop.closed(Clients, seconds, next)(i =>
      run(spark, request(i), tracer.filter(_ => i % 2 == 1), (id, r) => traced.add((id, r)): Unit))
    // each traced request's fetches alone, replayed after the loop so the
    // traced loop keeps the untraced loop's concurrency
    tracer.foreach(tr => traced.forEach { case (req, r) =>
      r.globs.foreach { g =>
        tr.span("fetch.exec", req) { _ =>
          val n = Fetch.fetch(spark, env.metrics, g, spec, "average", 0.5,
            (r.now - r.rangeS * 0.998).toLong, r.now, r.now, r.budget).collect().length
          tr.add("fetch.rows_returned", n.toLong)
        }
      }
    })
    val ok = samples.filter(_.kind != "error")
    val failed = samples.count(_.error.nonEmpty)
    val lat = Loop.latencies(ok)
    val byKind = ok.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      Metric(s"latency_p50_ms.$k", Stats.median(ss.map(_.ms)), "ms") }
    val rate = samples.size / wallS
    val (untracedMs, tracedMs) = Measured.medians(ok)
    Measured(Seq(Metric("ops_per_s", rate, "1/s"), Metric("requests_per_s", rate, "1/s")) ++
      lat ++ byKind, samples.size, failed, samples.flatMap(_.error), samples.size,
      untracedMs, tracedMs)
  }

  def layers(spark: SparkSession, tracer: Tracer, cpus: Int, root: String): Seq[Metric] =
    tracer.readPathLayers()

  /** The i-th request of the run: template `i % Templates`, `now` advancing 7 s
    * per request from four hours before the end of the data.
    */
  def request(i: Int): Req = {
    val now = Fleet.End - 4 * 3600L + 7L * i
    val r = Gen.hash(seed, i, 99L)
    val d = 1 + Gen.below(r, Fleet.Dcs)
    def host(k: Int) = 1 + Gen.below(r + k, Fleet.Hosts)
    def hosts(prefix: Int): Seq[Int] =
      (1 to Fleet.Hosts).filter(h => f"$h%02d".startsWith(prefix.toString))
    def paths(hs: Seq[Int], kinds: Seq[String]) = for (h <- hs; k <- kinds) yield Fleet.index(d, h, k)
    val all = 1 to Fleet.Hosts
    i % Templates match {
      case 0 =>
        plainCsv(now, s"dc$d.host*.cpu", H1, paths(all, Seq("cpu")))
      case 1 =>
        val hs = Seq(host(1), host(2), host(3)).distinct
        plainCsv(now, s"dc$d.host{${hs.map(h => f"$h%02d").mkString(",")}}.{mem,disk}", H6,
          paths(hs, Seq("mem", "disk")))
      case 2 =>
        val g = s"dc$d.host*.net"
        val ps = paths(all, Seq("net"))
        Req("func", s"/render?target=sumSeries($g)&format=json&from=-6h", now, H6, Seq(g), None,
          rows => {
            val want = grid(now, H6).map { case (t, step) =>
              val vs = ps.flatMap(p => expected(p, t, step))
              t -> (if (vs.isEmpty) None else Some(vs.sum))
            }
            checkJson(rows, Seq(s"sumSeries($g)"), Some(want))
          })
      case 3 =>
        val ps = paths(hosts(0), Seq("load"))
        Req("func", s"/render?target=movingAverage(dc$d.host0*.load,5)&format=csv&from=-1h", now,
          H1, Seq(s"dc$d.host0*.load"), None,
          rows => checkCsvShape(rows, ps.map(p => s"movingAverage(${Fleet.Paths(p)},5)"),
            grid(now, H1).size))
      case 4 =>
        val g = s"dc$d.host*.mem"
        val ps = paths(all, Seq("mem"))
        Req("plain", s"/render?target=$g&format=json&from=-24h&maxDataPoints=200", now, H24, Seq(g),
          Some(200), rows => checkJson(rows, ps.map(Fleet.Paths), None, maxPoints = Some(200)))
      case 5 =>
        val g = s"dc$d.host*.disk"
        val ps = paths(all, Seq("disk"))
        Req("func", s"/render?target=consolidateBy($g,'max')&format=json&from=-7d&maxDataPoints=100",
          now, 7 * H24, Seq(g), None,
          rows => checkJson(rows, ps.map(p => s"consolidateBy(${Fleet.Paths(p)},\"max\")"), None,
            maxPoints = Some(100)))
      case 6 =>
        val g = s"dc$d.host0*.cpu"
        val ps = paths(hosts(0), Seq("cpu"))
        Req("memo", s"/render?target=asPercent($g,sumSeries($g))&format=json&from=-6h", now,
          H6, Seq(g), None,
          rows => checkJson(rows, ps.map(p => s"asPercent(${Fleet.Paths(p)},sumSeries($g))"), None,
            Some(grid(now, H6).size)))
      case 7 =>
        val g = s"dc$d.host*.net"
        val ps = paths(all, Seq("net"))
        Req("memo",
          s"/render?target=divideSeries(sumSeries($g),averageSeries($g))&format=csv&from=-1h",
          now, H1, Seq(g), None,
          rows => {
            // sum / average over the series present at t = their count
            val want = grid(now, H1).map { case (t, step) =>
              val n = ps.count(p => expected(p, t, step).nonEmpty)
              t -> (if (n == 0) None else Some(n.toDouble))
            }.toMap
            checkCsvValues(rows, Map(s"divideSeries(sumSeries($g),averageSeries($g))" -> want))
          })
      case 8 =>
        val n = hosts(0).size
        Req("svg", s"/render?target=dc$d.host0*.cpu&from=-6h&width=640&height=320", now,
          H6, Seq(s"dc$d.host0*.cpu"), None, rows => {
            val doc = if (rows.length == 1) rows(0).getString(0) else ""
            val polys = "<polyline".r.findAllMatchIn(doc).size
            if (!doc.startsWith("<svg") || !doc.endsWith("</svg>") || polys != n)
              Some(s"svg: ${rows.length} rows, $polys polylines, want 1 row and $n")
            else None
          })
      case 9 =>
        val want = all.map(h => f"dc$d.host$h%02d").toSet
        Req("find", s"/metrics/find?query=dc$d.host*", now, 0L, Nil, None, rows => {
          val got = rows.map(r => r.getAs[String]("id") -> r.getAs[Long]("leaf")).toSet
          if (got != want.map(_ -> 0L)) Some(s"find: ${got.size} nodes, want ${want.size} branches")
          else None
        })
      case 10 =>
        val want = paths(hosts(0), Fleet.Kinds).map(Fleet.Paths).toSet
        Req("find", s"/metrics/expand?query=dc$d.host0*.*&leavesOnly=1", now, 0L, Nil, None, rows => {
          val got = rows.map(_.getString(0)).toSet
          if (got != want || rows.length != want.size) Some(s"expand: ${rows.length} rows, want ${want.size}")
          else None
        })
      case 11 =>
        plainCsv(now, s"dc$d.host1*.*", 2 * H24, paths(hosts(1), Fleet.Kinds))
      case _ =>
        val want = paths(hosts(0), Seq("cpu")).map(Fleet.Paths).toSet
        Req("find", s"/metrics/find?query=dc$d.host0*.c*&format=completer", now, 0L, Nil, None, rows => {
          val got = rows.map(r => r.getAs[String]("path")).toSet
          if (got != want) Some(s"completer: ${got.size} leaves, want ${want.size}") else None
        })
    }
  }

  private def plainCsv(now: Long, glob: String, rangeS: Long, ps: Seq[Int]): Req = {
    Req("plain", s"/render?target=$glob&format=csv&from=${fromArg(rangeS)}", now, rangeS, Seq(glob), None,
      rows => checkCsvValues(rows, ps.map(p => Fleet.Paths(p) ->
        grid(now, rangeS).map { case (t, step) => t -> expected(p, t, step) }.toMap).toMap))
  }

  /** The render grid of a `-rangeS` window ending at `now`: archive
    * selection and bound quantization as whisper fetch does them
    * (finest archive whose retention covers `from`).
    */
  def grid(now: Long, rangeS: Long): Seq[(Long, Long)] = {
    def oldest(a: Retention.Archive) = (now - now % a.secondsPerPoint) - a.retention + a.secondsPerPoint
    // graphite relative times shrink the span by 0.2%
    val from = math.max((now - rangeS * 0.998).toLong, oldest(spec.last))
    val a = spec.find(oldest(_) <= from).getOrElse(spec.last)
    val step = a.secondsPerPoint
    (from - from % step).to(now - now % step, step).map(_ -> step)
  }

  /** Plain-Scala whisper rollup of path `p` at bucket `t` of the archive
    * with `step`: the minute's point, then average-of-averages up the
    * cascade, each level gated by xFilesFactor 0.5.
    */
  def expected(p: Int, t: Long, step: Long): Option[Double] = step match {
    case 60L =>
      val m = (t - Fleet.Start) / 60L
      if (t < Fleet.Start || m >= Fleet.Minutes) None
      else Fleet.point(seed, p, m.toInt).map(_._3)
    case _ =>
      val finer = spec.takeWhile(_.secondsPerPoint < step).last.secondsPerPoint
      val vs = (t until t + step by finer).flatMap(expected(p, _, finer))
      if (vs.size.toDouble / (step / finer) >= 0.5) Some(vs.sum / vs.size) else None
  }

  private def run(spark: SparkSession, r: Req, tracer: Option[Tracer],
                  record: (Long, Req) => Unit = (_, _) => ()): Sample = {
    val t0 = System.nanoTime()
    val (rows, req) = tracer match {
      case None => (Cgi.dispatch(spark, env, r.url, r.now).collect(), 0L)
      case Some(tr) =>
        val req = tr.newReq()
        (tr.span("request", req) { id =>
          val df = tr.span("cgi.build", req, id)(_ => Cgi.dispatch(spark, env, r.url, r.now))
          tr.span("catalyst.plan", req, id)(_ => df.queryExecution.executedPlan)
          tr.span("exec", req, id)(_ => df.collect())
        }, req)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer.nonEmpty) record(req, r)
    Sample(r.kind, ms, r.check(rows), tracer.nonEmpty)
  }
}

object Dashboard {
  val Spec = "1m:1d,10m:7d,1h:60d"
  val Clients = 2
  val Templates = 13
  val H1 = 3600L
  val H6: Long = 6 * H1
  val H24: Long = 24 * H1

  /** One request: its URL and `now`, the globs its targets fetch (for the
    * traced standalone fetch), the fetch point budget, and the answer
    * check.
    */
  final case class Req(kind: String, url: String, now: Long, rangeS: Long, globs: Seq[String],
                       budget: Option[Int], check: Array[Row] => Option[String])

  /** The Grafana-style relative `from` of a window. */
  def fromArg(rangeS: Long): String =
    if (rangeS % 86400L == 0 && rangeS > 86400L) s"-${rangeS / 86400L}d" else s"-${rangeS / 3600L}h"

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def epoch(s: String) = LocalDateTime.parse(s, TsFmt).toEpochSecond(ZoneOffset.UTC)
  private def close(a: Double, b: Double) = math.abs(a - b) <= 1.01e-4 + 1e-9 * math.abs(b)

  /** csv rows (target, ts, value) against expected values per target. */
  def checkCsvValues(rows: Array[Row], want: Map[String, Map[Long, Option[Double]]]): Option[String] = {
    val got = rows.groupBy(_.getString(0))
    if (got.keySet != want.keySet) Some(s"csv: targets ${got.keySet.size}, want ${want.keySet.size}")
    else want.iterator.flatMap { case (target, ws) =>
      val g = got(target).map(r => epoch(r.getString(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
      if (g.keySet != ws.keySet) Some(s"csv: $target has ${g.size} rows, want ${ws.size}")
      else ws.collectFirst {
        case (t, w) if !(g(t) == w || (g(t).nonEmpty && w.nonEmpty && close(g(t).get, w.get))) =>
          s"csv: $target at $t is ${g(t)}, want $w"
      }
    }.nextOption()
  }

  /** csv rows: exactly these targets, `points` rows each. */
  def checkCsvShape(rows: Array[Row], targets: Seq[String], points: Int): Option[String] = {
    val got = rows.groupBy(_.getString(0)).map { case (k, v) => k -> v.length }
    val want = targets.map(_ -> points).toMap
    if (got != want) Some(s"csv: ${got.size} targets ${got.values.toSet} rows, want ${want.size} x $points")
    else None
  }

  private val PointRe = """\[(null|[-0-9.Ee]+), (\d+)\]""".r

  /** json rows (target, datapoints): exactly these targets; optionally
    * the expected values of a single series, an exact point count, or a
    * point budget.
    */
  def checkJson(rows: Array[Row], targets: Seq[String], values: Option[Seq[(Long, Option[Double])]],
                points: Option[Int] = None, maxPoints: Option[Int] = None): Option[String] = {
    val got = rows.map(r => r.getString(0) -> PointRe.findAllMatchIn(r.getString(1)).map(m =>
      m.group(2).toLong -> (if (m.group(1) == "null") None else Some(m.group(1).toDouble))).toSeq).toMap
    if (got.keySet != targets.toSet || rows.length != targets.size)
      Some(s"json: targets ${rows.map(_.getString(0)).take(3).mkString(",")}…, want ${targets.take(3).mkString(",")}…")
    else got.iterator.flatMap { case (t, pts) =>
      if (points.exists(_ != pts.size)) Some(s"json: $t has ${pts.size} points, want ${points.get}")
      else if (maxPoints.exists(m => pts.isEmpty || pts.size > m)) Some(s"json: $t has ${pts.size} points")
      else values.flatMap { want =>
        if (want.map(_._1) != pts.map(_._1)) Some(s"json: $t grid differs")
        else want.zip(pts).collectFirst {
          case ((ts, w), (_, g)) if !(g == w || (g.nonEmpty && w.nonEmpty && close(g.get, w.get))) =>
            s"json: $t at $ts is $g, want $w"
        }
      }
    }.nextOption()
  }
}
