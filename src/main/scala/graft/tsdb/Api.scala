package graft.tsdb

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The graphite_cgi request surface as a library facade
  * (graphite_cgi.lua:398-407 dispatch table): a user of
  * the reference's HTTP API calls these with the same parameters the
  * URL would carry.
  */
object Api {

  /** /render?target=...&from=...&until=...&format=csv|json
    * (graphite_cgi.lua:383-396): times accept relative (`-2d`) or
    * ISO-8601 forms; `from` defaults to -24h, `until` to now.
    */
  def render(spark: SparkSession, metrics: DataFrame, target: String,
             from: Option[String], until: Option[String], format: String,
             spec: Seq[Retention.Archive], method: String, xff: Double,
             now: Long): DataFrame =
    render(spark, metrics, Seq(target), from, until, format, spec, method, xff, now)

  /** Multi-target form: the reference's `target` parameter is ALWAYS an
    * array (graphite_cgi.lua:474 "target is ALWAYS an array"); every
    * target's series land in one render.
    */
  def render(spark: SparkSession, metrics: DataFrame, targets: Seq[String],
             from: Option[String], until: Option[String], format: String,
             spec: Seq[Retention.Archive], method: String, xff: Double,
             now: Long): DataFrame =
    render(spark, metrics, targets, from, until, format, spec, method, xff,
      now, svgOpts = None)

  /** Full form: `svgOpts` carries the graph options when format=svg
    * (None = the title-only default); `maxDataPoints` is the client's
    * point budget (Grafana sends it on every request) — each series
    * over budget is consolidated by its [[SeriesFunctions.consolidateBy]]
    * tag (default average) before rendering.
    */
  def render(spark: SparkSession, metrics: DataFrame, targets: Seq[String],
             from: Option[String], until: Option[String], format: String,
             spec: Seq[Retention.Archive], method: String, xff: Double,
             now: Long, svgOpts: Option[Render.SvgOptions],
             maxDataPoints: Option[Int] = None): DataFrame = {
    require(targets.nonEmpty, "at least one target required")
    val fromT = from.flatMap(TimeParse.getTime(_, now)).getOrElse(now - 24 * 3600)
    val untilT = until.flatMap(TimeParse.getTime(_, now)).getOrElse(now)
    // same gate as find/expand: braces within one component ride the
    // single fetch regex — each expansion would otherwise run its OWN
    // raw scan + archive cascade (an N-alternative target cost N
    // fetches); only dotted alternatives (rare) need real expansion
    // budget-aware archive selection reaches ONLY the plain-glob fetch
    // (`budget` below): a bare target's pipeline is fetch→consolidate,
    // so any archive with ≥ maxDataPoints points carries full answer
    // resolution and the coarsest such level is read instead (6-60×
    // less data per cascade step). A function pipeline's math runs on
    // the native grid — movingAverage(3) means 3 NATIVE points — so
    // expression targets keep the finest-archive fetch and the budget
    // applies at render only (graphite's own order).
    def fetchBudget(t: String, shiftSec: Long, budget: Option[Int]): DataFrame = {
      val globs = if (bracesNeedExpansion(t)) Glob.expandBraces(t) else Seq(t)
      globs.map(g =>
        Fetch.fetch(spark, metrics, g, spec, method, xff,
          fromT + shiftSec, untilT + shiftSec, now, budget))
        .reduce(_ unionByName _)
    }
    def fetchGlob(t: String, shiftSec: Long): DataFrame =
      fetchBudget(t, shiftSec, None)
    // the tagged-query environment: the distinct-path universe (K-row
    // metadata — seriesByTag's index derives from it) plus the
    // path-list fetch; built lazily so glob-only renders never touch it
    lazy val tagEnv = TargetExpr.TagEnv(
      metrics.select(org.apache.spark.sql.functions.col("path")).distinct(),
      (pd, shiftSec) => Fetch.fetchByPaths(spark, metrics, pd, spec,
        method, xff, fromT + shiftSec, untilT + shiftSec, now))
    // the render window the generator functions (constantLine,
    // threshold, identity, time) synthesize points over
    val winEnv = TargetExpr.WindowEnv(spark, fromT, untilT)
    // a target containing '(' is a render-FUNCTION pipeline
    // (sumSeries/summarize/alias/…): parse and evaluate over the same
    // fetch — window-aware, so timeShift subtrees fetch their shifted
    // window; plain globs keep the direct path
    // ADVICE r9: archive selection changes VALUES, not just IO — the
    // coarse archive holds STORED method-aggregates while graphite-web
    // consolidates the finest covering archive at render time. The
    // shortcut is therefore restricted to stores whose aggregation
    // method matches the consolidation function the render will apply:
    // a bare glob cannot carry a consolidateBy tag, so that function
    // is the untagged default "average" — for any other store method
    // the finest covering archive is fetched and the budget applies at
    // render consolidation only (graphite's own order). average-store
    // renders keep the shortcut: there the coarse level IS the
    // two-stage average consolidation, documented and oracle-pinned
    // (cgi_render_maxdp_archive).
    val archiveBudget = if (method == "average") maxDataPoints else None
    val evaluated = targets
      .map(t => if (TargetExpr.isExpression(t))
                  TargetExpr.evalTargetAt(t, TargetExpr.memoFetch(fetchGlob),
                    Some(tagEnv), Some(winEnv))
                else fetchBudget(t, 0L, archiveBudget))
      .reduce(_ unionByName _)
    // the render-time point budget: consolidation is the LAST step
    // before formatting, after every function has run (graphite's
    // renderView order) — the consolidateBy tag set anywhere in the
    // pipeline rides the series name to here. Deliberate divergence
    // from graphite-web (pinned by the cgi_render_maxdp oracle): the
    // budget applies uniformly to EVERY output format, csv included;
    // graphite consolidates only on its json/image render paths and
    // serves csv exports raw. One rule beats a per-format special
    // case — a client that wants a raw csv omits maxDataPoints.
    val fetched = maxDataPoints
      .map(SeriesFunctions.consolidate(evaluated, _)).getOrElse(evaluated)
    format match {
      case "csv" => Render.csv(fetched)
      case "json" => Render.json(fetched)
      // svg is the reference's default render format (graphite_cgi.lua:389)
      case "svg" => Render.svg(fetched, method, svgOpts.getOrElse(
        Render.SvgOptions(title = Some(targets.mkString(",")))))
      case other => throw new IllegalArgumentException(s"unsupported format $other")
    }
  }

  /** Braces whose alternatives stay within one path component compile
    * into the single find regex — one scan instead of one scan per
    * expansion. Only dotted alternatives (rare) need real expansion.
    */
  private def bracesNeedExpansion(query: String): Boolean =
    """\{[^}]*\.[^}]*\}""".r.findFirstIn(query).isDefined

  /** /metrics/find?query=... → (path, name, is_leaf). */
  def find(paths: DataFrame, query: String): DataFrame =
    if (!bracesNeedExpansion(query)) MetricTree.find(paths, query)
    else Glob.expandBraces(query).map(MetricTree.find(paths, _))
      .reduce(_ unionByName _).distinct()

  /** /metrics/find?query=...&format=treejson|completer — treejson is
    * the default and what Grafana needs (graphite_cgi.lua:223,255-257).
    * Relational node shape; Render.treejson / Render.completer produce
    * the serialized documents (with the optional jsonp wrap).
    */
  def findFormat(paths: DataFrame, query: String,
                 format: String = "treejson"): DataFrame = format match {
    case "treejson"  => MetricTree.shapeTreejson(find(paths, query))
    case "completer" => MetricTree.shapeCompleter(find(paths, query))
    case other => throw new IllegalArgumentException(s"unsupported find format $other")
  }

  /** /metrics/expand?query=...&leavesOnly=0|1 */
  def expand(paths: DataFrame, query: String, leavesOnly: Boolean): DataFrame =
    if (!bracesNeedExpansion(query)) MetricTree.expand(paths, query, leavesOnly)
    else Glob.expandBraces(query).map(MetricTree.expand(paths, _, leavesOnly))
      .reduce(_ unionByName _).distinct()

  /** /metrics/index.json */
  def index(paths: DataFrame): DataFrame = MetricTree.index(paths)
}
