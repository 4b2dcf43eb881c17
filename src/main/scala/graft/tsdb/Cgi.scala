package graft.tsdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's WSAPI entry point as a pure library dispatcher:
  * request URL in, DataFrame out
  * (graphite_cgi.lua:401-407 dispatch table,
  * :429-441 parameter parsing, :478-510 run()).
  *
  * This is everything the reference's HTTP layer does short of the
  * socket itself — route selection, query-string grammar, parameter
  * defaulting — so any HTTP frontend (or none: a notebook, a test) can
  * drive the full graphite_cgi surface with one call. Error statuses
  * map to exceptions: missing required parameter → the reference's 400
  * (IllegalArgumentException carrying its error document text), unknown
  * script → 501 (UnsupportedOperationException, graphite_cgi.lua:218).
  *
  * Responses come back RELATIONAL (the shapes the rest of the library
  * consumes); a frontend serializing to the wire composes
  * `Render.treejson` / `Render.completer` / `Render.jsonp` over them
  * for the reference's exact documents, including the `jsonp` callback
  * wrap (graphite_cgi.lua:105-109).
  */
object Cgi {

  /** Storage context a URL cannot carry: the metric table, the distinct
    * path tree, and the schema parameters the reference's daemon reads
    * from its configuration rather than the request
    * (graphite_cgi.lua:512-536 find_whisper_database).
    */
  final case class Env(metrics: DataFrame, paths: DataFrame,
                       spec: Seq[Retention.Archive],
                       method: String = "average", xff: Double = 0.5)

  // Lua gmatch "([%w_]+)=([^&]*)": name = word chars only, matched
  // ANYWHERE (a malformed "a-b=1" still yields b=1), value runs to '&'
  private val ParamRe = "([A-Za-z0-9_]+)=([^&]*)".r
  // Lua url.unescape: only valid %XX pairs decode; '+' is NOT a space
  // (vtitle does its own '+'→' ' later, L_DataGraph.lua:272)
  private val PctRe = "(?:%[0-9A-Fa-f]{2})+".r
  // options.aliases tokenizer (L_DataGraph.lua:200): names between
  // '{'/',' and the next delimiter
  private val AliasRe = "[{,]([^{},]*)".r

  /** %XX runs decode as BYTES then UTF-8 (the reference's strings are
    * UTF-8 bytes, so `%C3%A9` must become "é", not two Latin-1 chars).
    */
  private[tsdb] def unescape(s: String): String =
    PctRe.replaceAllIn(s, m => {
      val run = m.matched
      val bytes = new Array[Byte](run.length / 3)
      var i = 0
      while (i < bytes.length) {
        bytes(i) = Integer.parseInt(run.substring(i * 3 + 1, i * 3 + 3), 16).toByte
        i += 1
      }
      scala.util.matching.Regex.quoteReplacement(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    })

  /** parse_parameters (graphite_cgi.lua:429-441): empty values are
    * DROPPED, repeated names accumulate in order, values unescape.
    */
  private[tsdb] def parseParams(query: String): Map[String, Seq[String]] = {
    val acc = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    ParamRe.findAllMatchIn(query).foreach { m =>
      val (n, v) = (m.group(1), m.group(2))
      if (v.nonEmpty) acc(n) = acc.getOrElse(n, Vector.empty) :+ unescape(v)
    }
    acc.toMap
  }

  /** Render-URL graph options → SvgOptions (L_DataGraph.lua:130-185,
    * 255-278). `aliases` is POSITIONAL in the reference — the n-th
    * alias names the n-th brace-expanded target series
    * (L_DataGraph.lua:199-203,209) — so it resolves against the
    * expanded target list, exact for the concrete-series URLs the
    * reference's dashboard emits. `hideLegend` follows Lua truthiness:
    * any present value hides (even "0" — only nil shows the legend,
    * L_DataGraph.lua:259). `title` defaults to the target list
    * (L_DataGraph.lua:260).
    */
  private[tsdb] def svgOptions(p: Map[String, Seq[String]],
                               targets: Seq[String]): Render.SvgOptions = {
    def first(n: String) = p.get(n).map(_.head)
    val aliasList = first("aliases").toSeq
      .flatMap(a => AliasRe.findAllMatchIn(a).map(_.group(1)))
    Render.SvgOptions(
      width = first("width").flatMap(_.toIntOption).getOrElse(600),
      height = first("height").flatMap(_.toIntOption).getOrElse(500),
      title = first("title").orElse(Some(targets.mkString(","))),
      yMin = first("yMin").flatMap(_.toDoubleOption),
      yMax = first("yMax").flatMap(_.toDoubleOption),
      areaMode = first("areaMode").getOrElse("none"),
      aliases = targets.flatMap(Glob.expandBraces).zip(aliasList).toMap,
      hideLegend = first("hideLegend").isDefined,
      lineMode = first("lineMode"),
      drawNullAs = first("drawNullAs"),
      bgcolor = first("bgcolor"),
      vtitle = first("vtitle").map(_.replace('+', ' ')),
      graphType = first("graphType"))
  }

  /** Route a request URL (path + query string) to the Api facade.
    * `now` is injected (the reference calls os.time(),
    * graphite_cgi.lua:380) so results are reproducible.
    */
  def dispatch(spark: SparkSession, env: Env, url: String, now: Long): DataFrame = {
    val qIdx = url.indexOf('?')
    val (script0, query) =
      if (qIdx < 0) (url, "") else (url.substring(0, qIdx), url.substring(qIdx + 1))
    // run() ignores ONE trailing '/' (graphite_cgi.lua:487 "^(.-)/?$")
    val script = if (script0.endsWith("/")) script0.dropRight(1) else script0
    val p = parseParams(query)
    def first(name: String) = p.get(name).map(_.head)
    def required(name: String) = first(name).getOrElse(
      // the reference's 400 error document text (graphite_cgi.lua:249)
      throw new IllegalArgumentException(s"$name: this parameter is required."))
    script match {
      case "/metrics" | "/metrics/find" =>
        // format_options[p.format or ''] or treejson: ANY unknown (or
        // missing) format falls back to treejson (graphite_cgi.lua:256)
        val fmt = if (first("format").contains("completer")) "completer" else "treejson"
        Api.findFormat(env.paths, required("query"), fmt)
      case "/metrics/expand" =>
        // leavesAndBranches = not (p.leavesOnly == "1"): only the exact
        // string "1" restricts to leaves (graphite_cgi.lua:267)
        Api.expand(env.paths, required("query"),
          leavesOnly = first("leavesOnly").contains("1"))
      case "/metrics/index.json" =>
        Api.index(env.paths)
      // graphite-web 1.1 tag autocomplete (beyond the reference's CGI,
      // like seriesByTag itself): Grafana's tag browser calls these on
      // every keystroke; repeated expr params accumulate (the target
      // convention), limit defaults to graphite's 100
      case "/tags/autoComplete/tags" =>
        Tags.autoCompleteTags(env.paths, p.getOrElse("expr", Seq.empty),
          first("tagPrefix"),
          first("limit").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(100))
      case "/tags/autoComplete/values" =>
        Tags.autoCompleteValues(env.paths, p.getOrElse("expr", Seq.empty),
          required("tag"), first("valuePrefix"),
          first("limit").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(100))
      case "/render" =>
        // target is ALWAYS an array (graphite_cgi.lua:474); the
        // reference renders an EMPTY document for a target-less render —
        // a library caller gets a loud error instead
        val targets = p.getOrElse("target", Seq.empty)
        if (targets.isEmpty)
          throw new IllegalArgumentException("target: this parameter is required.")
        // reportStyle[format] or svgRender: svg AND any unknown format
        // draw the graph (graphite_cgi.lua:388-390). The reference's
        // CGI stubs svg as "[]" pending its DataGraph re-engineering
        // (graphite_cgi.lua:373-379); the library wires the DataGraph
        // renderer itself (L_DataGraph.lua:190+) with the URL's options.
        val format = first("format").getOrElse("svg") match {
          case f @ ("csv" | "json") => f
          case _ => "svg"
        }
        // maxDataPoints: every Grafana request sends it; non-positive
        // or non-numeric values are ignored (graphite treats a bad
        // value as absent rather than erroring the whole render)
        val maxDp = first("maxDataPoints").flatMap(_.toIntOption).filter(_ >= 1)
        Api.render(spark, env.metrics, targets, first("from"),
          first("until"), format, env.spec, env.method, env.xff, now,
          svgOpts = Some(svgOptions(p, targets)), maxDataPoints = maxDp)
      case other =>
        // the reference's 501 handler (graphite_cgi.lua:218-220)
        throw new UnsupportedOperationException(s"Not Implemented: $other")
    }
  }
}
