package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** carbon-aggregator — the stage the reference explicitly stubs
  * ("there's no aggregation stage (yet)" / "carbon-aggregator code
  * would go here", L_DataCache.lua:121,170) while
  * already shipping its conf surface (aggregation-rules.conf.example
  * and the [pre]/[post] rewrite passes that bracket it). Semantics per
  * graphite's published config-carbon documentation: each rule
  *
  * {{{ output_template (frequency) = method input_pattern }}}
  *
  * captures every received metric matching `input_pattern` (`<field>`
  * names one dot-free node and is referenceable from the output
  * template; `*` matches one node anonymously), buckets matches every
  * `frequency` seconds, folds them with `method`
  * (sum/avg/min/max/count), and emits the aggregate under the filled
  * `output_template`. A metric may feed several rules; metrics
  * matching no rule simply pass through around the aggregator.
  *
  * Spark shape: each rule is one scan-pushed rlike filter + a map-only
  * regexp_replace path rewrite + one (path, bucket) groupBy — the
  * rollup plan class keyed by the DERIVED name; K rules (conf-sized)
  * union. The same compiled (regex, replacement) pair drives batch and
  * stream, so twins cannot drift.
  */
object Aggregator {

  /** Compile a rule's input pattern to an anchored Java regex (one
    * capture group per `<field>`, `*` anonymous) and its output
    * template to the $-indexed replacement string.
    */
  private[tsdb] def compile(r: Conf.AggregationRule): (String, String) = {
    val sb = new StringBuilder("^")
    val names = scala.collection.mutable.ArrayBuffer[String]()
    val p = r.pattern
    var i = 0
    while (i < p.length) {
      p(i) match {
        case '<' =>
          val j = p.indexOf('>', i)
          require(j > i, s"unclosed <field> in pattern '${r.pattern}'")
          names += p.substring(i + 1, j)
          sb.append("([^.]+)")
          i = j + 1
        case '*' =>
          // carbon's RuleManager translates * to [^.]* (zero or more
          // non-dot chars) — `foo.x*.bar` must match `foo.x.bar`
          sb.append("[^.]*")
          i += 1
        case c =>
          sb.append(java.util.regex.Pattern.quote(c.toString))
          i += 1
      }
    }
    sb.append("$")
    val idx = names.zipWithIndex.toMap
    // the replacement string splices quoted LITERAL segments around the
    // $n group refs — a literal `$` or `\` in the output template must
    // reach regexp_replace escaped, not as replacement syntax
    val refRe = raw"<([^>]+)>".r
    val rb = new StringBuilder
    var last = 0
    for (m <- refRe.findAllMatchIn(r.output)) {
      rb.append(java.util.regex.Matcher.quoteReplacement(
        r.output.substring(last, m.start)))
      rb.append("$" + (idx.getOrElse(m.group(1),
        throw new IllegalArgumentException(
          s"output field <${m.group(1)}> not in pattern '${r.pattern}'")) + 1))
      last = m.end
    }
    rb.append(java.util.regex.Matcher.quoteReplacement(r.output.substring(last)))
    (sb.toString, rb.toString)
  }

  /** The aggregator's fold — graphite's method vocabulary for this
    * stage (sum/avg/min/max/count; storage-aggregation's `last` is a
    * WRITE-side method and deliberately absent here, as upstream).
    */
  private[tsdb] def methodExpr(method: String, valCol: Column): Column =
    method match {
      case "sum" => sum(valCol)
      case "avg" => avg(valCol)
      case "min" => min(valCol)
      case "max" => max(valCol)
      case "count" => count(valCol)
      case other => throw new IllegalArgumentException(
        s"Unrecognized aggregation-rules method '$other'")
    }

  /** One rule's matched points, renamed and bucketed — the shared
    * pre-aggregation projection (batch and stream both group THIS).
    * Regexes don't push to parquet, but a rule pattern's LITERAL
    * PREFIX does (StringStartsWith — the MetricStore.pathPredicate
    * trick), so a rule over `vera.*` never reads other namespaces' IO
    * at 100 TB.
    */
  private def ruleRows(points: DataFrame, r: Conf.AggregationRule): DataFrame = {
    val (re, repl) = compile(r)
    val litPrefix = r.pattern.takeWhile(c => c != '<' && c != '*')
    val matches =
      if (litPrefix.isEmpty) col("path").rlike(re)
      else col("path").startsWith(litPrefix) && col("path").rlike(re)
    points
      .filter(matches)
      .select(regexp_replace(col("path"), re, repl).as("path"),
        (col("ts") - col("ts") % r.frequency).as("bucket"),
        col("ts"), col("value"))
  }

  /** Batch aggregation over (path, ts, value) points: every rule's
    * aggregate series, unioned. `count` aggregates are emitted as
    * doubles so the union's value column stays one type.
    */
  def aggregate(points: DataFrame, rules: Seq[Conf.AggregationRule]): DataFrame = {
    require(rules.nonEmpty, "aggregation-rules: need at least one rule")
    // carbon keeps ONE buffer per output metric; two rules whose
    // templates collide would instead emit duplicate (path, bucket)
    // rows here with no defined fold across methods — refuse the conf
    // up front (the same check a carbon operator gets from its logs)
    require(rules.map(_.output).distinct.size == rules.size,
      s"aggregation-rules: duplicate output templates in " +
        rules.map(_.output).mkString("[", ", ", "]"))
    rules.map { r =>
      ruleRows(points, r)
        .groupBy(col("path"), col("bucket"))
        .agg(methodExpr(r.method, col("value")).cast("double").as("value"),
          count(lit(1)).as("npoints"))
    }.reduce(_ unionByName _)
  }

  /** Streaming twin for ONE rule (the per-rule deployment shape):
    * watermarked event-time window of the rule's frequency over the
    * SAME [[ruleRows]] projection — window() starts are epoch-aligned,
    * so emitted buckets equal the batch aggregate's exactly. Works
    * over a batch frame too (no watermark), which IS the spec's twin.
    */
  def aggregateStream(points: DataFrame, rule: Conf.AggregationRule,
                      watermark: String = "1 hour"): DataFrame = {
    val rows = ruleRows(points, rule)
      .withColumn("event_time", timestamp_seconds(col("ts")))
    val withWm =
      if (rows.isStreaming) rows.withWatermark("event_time", watermark)
      else rows
    withWm
      .groupBy(col("path"),
        window(col("event_time"), s"${rule.frequency} seconds"))
      .agg(methodExpr(rule.method, col("value")).cast("double").as("value"),
        count(lit(1)).as("npoints"))
      .select(col("path"), col("window.start").cast("long").as("bucket"),
        col("value"), col("npoints"))
  }

  /** The WHOLE conf in one streaming query — a real carbon-aggregator
    * daemon runs every rule at once, not one process per rule: K
    * [[aggregateStream]] windowed aggregates union inside one plan
    * (Spark runs multiple stateful operators in one append-mode query;
    * each rule keeps its own window width and state, exactly K
    * per-metric buffer sets). Same duplicate-template guard as the
    * batch [[aggregate]]; over a batch frame this IS the batch
    * aggregate rule-for-rule, which is the driver oracle's theorem.
    */
  def aggregateStreamMulti(points: DataFrame,
                           rules: Seq[Conf.AggregationRule],
                           watermark: String = "1 hour"): DataFrame = {
    require(rules.nonEmpty, "aggregation-rules: need at least one rule")
    require(rules.map(_.output).distinct.size == rules.size,
      s"aggregation-rules: duplicate output templates in " +
        rules.map(_.output).mkString("[", ", ", "]"))
    rules.map(aggregateStream(points, _, watermark)).reduce(_ unionByName _)
  }
}
