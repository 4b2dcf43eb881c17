package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Caching._

/** Graphite render output formats over a fetched dense series
  * (graphite_cgi.lua:318-371).
  */
object Render {

  /** csv format: `target,YYYY-MM-DD HH:MM:SS,value` rows
    * (graphite_cgi.lua:318-337). Timestamps rendered in UTC (session tz
    * is pinned to UTC).
    */
  def csv(fetched: DataFrame): DataFrame =
    fetched.select(
      col("path").as("target"),
      date_format(timestamp_seconds(col("t")), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
      round(col("value"), 4).as("value"))
      .orderBy(col("target"), col("ts_str"))

  /** json format: one row per target with the ordered `[value, ts]`
    * datapoint array, gaps rendered as `null`, exactly the Graphite
    * Render-API document the reference builds by string concatenation
    * (graphite_cgi.lua:340-371; whitespace compacted to one line).
    * Values render through a DECIMAL(38,4) cast — locale-free, scale
    * padded, and bit-identical to the DuckDB oracle's formatting, which
    * is what lets C6 carry a full value-level oracle.
    */
  def json(fetched: DataFrame): DataFrame =
    fetched
      .select(col("path"), struct(
        col("t"),
        concat(lit("["),
          // gaps AND non-finite values render as the JSON null token
          // (bare NaN/Infinity would make the document unparseable)
          when(col("value").isNull || isnan(col("value")) ||
            abs(col("value")) === Double.PositiveInfinity, lit("null"))
            .otherwise(
              // the coalesce arm catches |v| ≥ 1e34, where the DECIMAL
              // cast nulls (non-ANSI) and the null frag would silently
              // DROP the datapoint from the array — out-of-range values
              // fall back to plain double formatting instead
              coalesce(round(col("value"), 4).cast("decimal(38,4)").cast("string"),
                round(col("value"), 4).cast("string"))),
          lit(", "), col("t").cast("string"), lit("]")).as("frag")).as("p"))
      .groupBy(col("path").as("target"))
      .agg(concat(lit("["),
        array_join(transform(array_sort(collect_list(col("p"))),
          x => x.getField("frag")), ", "),
        lit("]")).as("datapoints"))
      .orderBy(col("target"))

  /** JSON string literal from a column: quote + escape backslash and
    * double-quote (metric names carry no control characters).
    */
  private def jstr(c: org.apache.spark.sql.Column) =
    concat(lit("\""),
      regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""),
      lit("\""))

  /** Serialized treejson node objects (graphite_cgi.lua:226-234): one
    * JSON document per node, with the constant empty `context` object
    * the reference always emits.
    */
  def treejson(nodes: DataFrame): DataFrame =
    nodes.select(concat(
      lit("""{"allowChildren":"""), col("allow_children"),
      lit(""","context":{},"expandable":"""), col("expandable"),
      lit(""","id":"""), jstr(col("id")),
      lit(""","leaf":"""), col("leaf"),
      lit(""","text":"""), jstr(col("text")),
      lit("}")).as("node"))
      .orderBy(col("node"))

  /** Serialized completer response: ONE `{"metrics":[...]}` document
    * (graphite_cgi.lua:261). The aggregation is a single collect_list of
    * already-shaped row objects — completer results are node lists at
    * one tree level, metadata-sized by construction.
    */
  def completer(nodes: DataFrame): DataFrame =
    nodes
      .select(to_json(struct(col("is_leaf"), col("name"), col("path"))).as("j"))
      .agg(concat(lit("""{"metrics":["""),
        concat_ws(",", array_sort(collect_list(col("j")))), lit("]}")).as("doc"))

  /** jsonp wrapping (graphite_cgi.lua:105-109): `callback(body)` around
    * any single-column document DataFrame.
    */
  def jsonp(doc: DataFrame, callback: String): DataFrame = {
    val c = doc.columns.head
    doc.select(concat(lit(callback + "("), col(c), lit(")")).as(c))
  }

  private def xmlEscape(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  private val SvgPalette =
    Seq("#3366cc", "#dc3912", "#ff9900", "#109618", "#990099", "#0099c6")

  /** Render URL options the reference's svg renderer honors
    * (L_DataGraph.lua:130-185,260-278): y-axis viewWindow clipping,
    * area fill, per-series aliases, legend suppression.
    */
  final case class SvgOptions(width: Int = 600, height: Int = 500,
                              title: Option[String] = None,
                              yMin: Option[Double] = None,
                              yMax: Option[Double] = None,
                              areaMode: String = "none",
                              aliases: Map[String, String] = Map.empty,
                              hideLegend: Boolean = false,
                              // overrides of the method-derived defaults
                              // (L_DataGraph.lua:181-182); lineMode:
                              // slope | staircase | connected
                              // (L_DataGraph.lua:148-151)
                              lineMode: Option[String] = None,
                              drawNullAs: Option[String] = None,
                              bgcolor: Option[String] = None,
                              vtitle: Option[String] = None,
                              // explicit chart type beats the
                              // areaMode-derived default
                              // (L_DataGraph.lua:275-277)
                              graphType: Option[String] = None)

  /** svg render format (L_DataGraph.lua:190-290): one polyline per
    * series over the fetched dense grid. The drawing mode follows the
    * aggregation method (L_DataGraph.lua:169-185): `average` connects
    * points; every other method draws a staircase, realized exactly as
    * the reference does — an extra point carrying the previous value at
    * each new time (L_DataGraph.lua:245-252). Gap policy is applied by
    * the fetch itself; remaining nulls (average mode, leading holds)
    * are skipped, which IS gviz's interpolateNulls for connected mode.
    * areaMode≠none closes each series down to the x-axis as a filled
    * polygon (AreaChart, L_DataGraph.lua:276-277); yMin/yMax clamp into
    * the viewWindow (L_DataGraph.lua:271-273); aliases rename series
    * (L_DataGraph.lua:198-203,220); the legend is a bottom text row
    * unless hidden (L_DataGraph.lua:258-259).
    *
    * Distributed shape: per-series point assembly is one groupBy(path)
    * with an array_sort'd collect_list — each group is one series
    * inside one render window (grid-sized); the global x/y bounds are a
    * 1-row broadcast. Only the final document concat sees one row per
    * SERIES, never one row per point.
    */
  def svg(fetched: DataFrame, method: String, width: Int = 600,
          height: Int = 500, title: Option[String] = None): DataFrame =
    svg(fetched, method, SvgOptions(width, height, title))

  def svg(fetched: DataFrame, method: String, opts: SvgOptions): DataFrame = {
    val width = opts.width
    val height = opts.height
    val mode = opts.lineMode.getOrElse(Fetch.drawMode(method))
    // svg is where the reference applies the method-derived gap policy
    // (L_DataGraph.lua:221-230) — fetch returns raw nulls; drawNullAs
    // overrides the derived policy (L_DataGraph.lua:181-182)
    val refetched =
      Fetch.fillGaps(fetched, opts.drawNullAs.getOrElse(Fetch.gapPolicy(method)))
    val clamp: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v =>
      (opts.yMin, opts.yMax) match {
        case (None, None) => v
        case (lo, hi) => least(greatest(v, lit(lo.getOrElse(Double.MinValue))),
          lit(hi.getOrElse(Double.MaxValue)))
      }
    val alias: org.apache.spark.sql.Column => org.apache.spark.sql.Column = p =>
      if (opts.aliases.isEmpty) p
      else coalesce((opts.aliases.map { case (k, v) =>
        when(p === k, lit(v)) }.toSeq :+ p): _*)
    // slope (L_DataGraph.lua:148-149) BREAKS the line at null periods:
    // segment id = nulls seen so far per path, so each consecutive
    // non-null run becomes its own polyline. connected bridges nulls
    // (one segment); staircase never sees nulls after its hold fill.
    val withSeg =
      if (mode == "slope")
        refetched.withColumn("seg",
          sum(when(col("value").isNull, 1).otherwise(0))
            .over(Window.partitionBy(col("path")).orderBy(col("t"))))
      else refetched.withColumn("seg", lit(0))
    val pts = withSeg.filter(col("value").isNotNull)
      .select(col("path"), col("seg"), col("t").cast("double").as("t"),
        clamp(col("value").cast("double")).as("value"))
    val withDups = (
      if (mode == "staircase") {
        val w = Window.partitionBy(col("path")).orderBy(col("t"))
        val dup = pts.withColumn("pv", lag(col("value"), 1).over(w))
          .filter(col("pv").isNotNull)
          // ord 0: the duplicate sorts BEFORE the real point at equal t
          .select(col("path"), col("seg"), col("t"), col("pv").as("value"), lit(0).as("ord"))
        pts.select(col("path"), col("seg"), col("t"), col("value"), lit(1).as("ord"))
          .unionByName(dup)
      } else pts.withColumn("ord", lit(1))
    // cached: referenced by both the bounds aggregation and the scaled
    // projection — without it the whole upstream fetch cascade runs
    // twice. Grid-sized (points inside one render window), so tiny.
    ).cachedOnce
    // yMin/yMax PIN the axis (gviz viewWindow, L_DataGraph.lua:271-273):
    // the y range is the requested window when given, data bounds
    // otherwise — clamping values alone would still rescale the axis to
    // the data and draw a mid-range series across the full height
    val bounds = withDups.agg(
      min(col("t")).as("t0"), max(col("t")).as("t1"),
      opts.yMin.map(v => min(lit(v))).getOrElse(min(col("value"))).as("v0"),
      opts.yMax.map(v => max(lit(v))).getOrElse(max(col("value"))).as("v1"))
    val m = 40.0
    val scaled = withDups.crossJoin(broadcast(bounds)).select(
      col("path"), col("seg"), col("t"), col("ord"),
      (lit(m) + (col("t") - col("t0"))
        / greatest(col("t1") - col("t0"), lit(1e-9)) * (width - 2 * m)).as("x"),
      (lit(height - m) - (col("value") - col("v0"))
        / greatest(col("v1") - col("v0"), lit(1e-9)) * (height - 2 * m)).as("y"))
    // pmod, not abs(...)%n: abs(Int.MinValue) is negative, which would
    // make element_at's index invalid for an unlucky path hash
    val color = element_at(array(SvgPalette.map(lit): _*),
      (pmod(hash(col("path")), lit(SvgPalette.size)) + 1).cast("int"))
    val pointsAttr =
      concat_ws(" ", expr("transform(pts, p -> format_string('%.1f,%.1f', p.x, p.y))"))
    // areaMode: close the series down to the x-axis (first/last x at the
    // baseline) and fill translucently under the stroke line
    // chart type: LineChart unless areaMode says AreaChart; an explicit
    // graphType overrides both (L_DataGraph.lua:275-277)
    val drawArea = opts.graphType match {
      case Some(t) => t == "AreaChart"
      case None => opts.areaMode != "none"
    }
    val areaEl =
      if (!drawArea) lit("")
      else concat(
        lit("""<polygon stroke="none" fill-opacity="0.3" fill=""""), color,
        lit("""" points=""""), pointsAttr,
        format_string(s" %.1f,${height - m} %.1f,${height - m}",
          element_at(col("pts"), -1).getField("x"),
          element_at(col("pts"), 1).getField("x")),
        lit("\"/>"))
    // one polyline per (path, segment); single-segment modes group as
    // before (seg = 0). Legend entries stay one per path (collect_set).
    val polys = scaled
      .groupBy(col("path"), col("seg"))
      .agg(array_sort(collect_list(struct(col("t"), col("ord"), col("x"), col("y")))).as("pts"))
      .select(col("path"), concat(
        areaEl,
        lit("""<polyline fill="none" stroke-width="1.5" stroke=""""), color,
        lit("""" points=""""), pointsAttr,
        lit(""""><title>"""), xmlEscape(alias(col("path"))), lit("</title></polyline>")).as("poly"),
        concat(lit("""<tspan fill=""""), color, lit("""">■ """),
          xmlEscape(alias(col("path"))), lit("</tspan> ")).as("legend_item"))
    val legend =
      if (opts.hideLegend) lit("")
      else concat(lit(s"""<text x="${m.toInt}" y="${height - 8}" font-size="11">"""),
        col("legend"), lit("</text>"))
    polys
      .agg(concat_ws("", array_sort(collect_list(col("poly")))).as("body"),
        concat_ws("", array_sort(collect_set(col("legend_item")))).as("legend"))
      .select(concat(
        lit(s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height">"""),
        lit(opts.bgcolor.map(c =>
          s"""<rect width="100%" height="100%" fill="${escAttr(c)}"/>""").getOrElse("")),
        lit(opts.title.map(t => s"<title>${esc(t)}</title>").getOrElse("")),
        lit(opts.vtitle.map(t =>
          s"""<text transform="rotate(-90)" x="${-height / 2}" y="14" text-anchor="middle" font-size="11">${esc(t)}</text>""").getOrElse("")),
        col("body"), legend, lit("</svg>")).as("svg"))
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Attribute-position escaping: quotes too — a URL-supplied value
    * interpolated into an attribute could otherwise break out and
    * inject markup (script runs when an SVG is served to a browser).
    */
  private def escAttr(s: String): String =
    esc(s).replace("\"", "&quot;").replace("'", "&#39;")
}
