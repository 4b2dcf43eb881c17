package graft.tsdb

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Graphite-format `.conf` parsers — the reference reads its rule sets
  * from files, not code: `storage-schemas.conf` /
  * `storage-aggregation.conf` via `DataDaemon.read_conf_file`
  * (L_DataDaemon.lua:106-150, consumed at
  * L_DataCache.lua:147-159), `rewrite-rules.conf`
  * `[pre]`/`[post]` sections (L_DataCache.lua:94-129),
  * and the watcher's `DataTranslation.conf`
  * (L_DataWatcher.lua:54,313-316).
  *
  * Pure text → rule-type functions feeding the existing
  * [[Carbon.Rule]]/[[Carbon.SchemaRule]]/translation machinery; the
  * reference converts regex escapes to Lua patterns
  * (L_DataDaemon.lua:125) — here patterns stay Java regexes, which is
  * what Graphite's own conf format specifies and what `rlike` consumes.
  */
object Conf {

  /** One `[name]` section: ordered `key = value` pairs (duplicate keys
    * keep every occurrence, as the reference's multi-valued items do).
    */
  final case class Section(name: String, params: Seq[(String, String)]) {
    def get(key: String): Option[String] = params.collectFirst {
      case (k, v) if k == key => v
    }
  }

  // unanchored tail, like the reference's `^%s*%[([^%]]+)%]`
  // (L_DataDaemon.lua:114): '[section] trailing-text' still starts the
  // section — an end anchor would silently drop it and append its
  // params to the PREVIOUS section
  private val SectionRe = """^\s*\[([^\]]+)\].*$""".r
  // key (optional numeric parenthetical) = value — the reference's
  // `param (number) = value` syntax (L_DataDaemon.lua:120)
  private val ParamRe = """^\s*([^=(\s]+)\s*(?:\((\d*)\))?\s*=\s*(.*?)\s*$""".r

  /** Generic Graphite conf: ordered sections of key=value pairs.
    * `#`-led lines are comments; control characters are stripped from
    * values; parameters before any `[section]` land in `_anon_`
    * (all per L_DataDaemon.lua:106-150).
    */
  def parse(text: String): Seq[Section] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, scala.collection.mutable.ArrayBuffer[(String, String)])]()
    text.linesIterator.foreach {
      case l if l.matches("""^\s*#.*""") => ()
      case SectionRe(name) =>
        out += name -> scala.collection.mutable.ArrayBuffer()
      case ParamRe(key, _, value) =>
        if (out.isEmpty) out += "_anon_" -> scala.collection.mutable.ArrayBuffer()
        out.last._2 += key -> value.filter(_ >= ' ')
      case _ => ()
    }
    out.map { case (n, ps) => Section(n, ps.toSeq) }.toSeq
  }

  /** A bundled configuration file (`Configuration/<name>` on the
    * classpath): the storage-schemas, storage-aggregation and
    * DataTranslation rule sets plus the two all-comment `.example`
    * files, the inputs the parsers and the A6 `conf_rules` query are
    * pinned against.
    */
  def bundled(name: String): String = {
    val in = getClass.getResourceAsStream(s"/Configuration/$name")
    require(in != null, s"no bundled configuration file Configuration/$name")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** storage-schemas.conf → ordered first-match schema rules
    * (pattern, retentions). Sections missing either field are skipped,
    * like the reference's nil-pattern guard (L_DataCache.lua:72).
    */
  final case class SchemaEntry(name: String, pattern: String, retentions: String)
  def storageSchemas(text: String): Seq[SchemaEntry] =
    parse(text).flatMap(s =>
      for (p <- s.get("pattern"); r <- s.get("retentions"))
        yield SchemaEntry(s.name, p, r))

  /** storage-aggregation.conf → ordered first-match aggregation rules
    * (pattern, xFilesFactor, aggregationMethod); missing fields fall to
    * the Whisper defaults, as in L_DataCache.lua:157-159.
    */
  final case class AggEntry(name: String, pattern: String,
                            xFilesFactor: Double = 0.5,
                            aggregationMethod: String = "average")
  def storageAggregation(text: String): Seq[AggEntry] =
    parse(text).flatMap(s => s.get("pattern").map(p => AggEntry(s.name, p,
      s.get("xFilesFactor").flatMap(_.toDoubleOption).getOrElse(0.5),
      s.get("aggregationMethod").getOrElse("average"))))

  /** The reference's hard defaults when no rule matches
    * (L_DataCache.lua:55-58).
    */
  val DefaultSchema: SchemaEntry = SchemaEntry("[default]", "", "1h:7d")
  val DefaultAgg: AggEntry = AggEntry("[default]", "", 0.5, "average")

  // rewrite-rule line: `pattern = replacement`, both single tokens, the
  // replacement possibly empty (L_DataCache.lua:108: `^%s*(%S+)%s*=%s*(%S*)`).
  // Deliberately NOT the generic ParamRe — a rewrite regex may contain
  // '(' or '=' (e.g. `\.(click|tap)$ = .clicks`), which ParamRe's
  // `[^=(\s]+` key would reject and silently drop.
  private val RuleRe = """^\s*(\S+)\s*=\s*(\S*).*$""".r

  /** rewrite-rules.conf → ([pre], [post]) rule lists. Each non-comment
    * line inside a section is `regex = replacement` with the pattern and
    * replacement both single tokens (L_DataCache.lua:108: `%S+ = %S*`);
    * an empty replacement deletes the match. Sections other than
    * pre/post are ignored, rules before any section are dropped —
    * mirroring load_rewrite_rules' `rules.bin` discard.
    */
  def rewriteRules(text: String): (Seq[Carbon.Rule], Seq[Carbon.Rule]) = {
    val acc = scala.collection.mutable.Map(
      "pre" -> scala.collection.mutable.ArrayBuffer[Carbon.Rule](),
      "post" -> scala.collection.mutable.ArrayBuffer[Carbon.Rule]())
    var current: Option[scala.collection.mutable.ArrayBuffer[Carbon.Rule]] = None
    text.linesIterator.foreach {
      case l if l.matches("""^\s*#.*""") => ()
      case SectionRe(name) =>
        current = acc.get(name) // non-pre/post sections → None (bin)
      case RuleRe(p, r) =>
        current.foreach(_ += Carbon.Rule(p.filter(_ >= ' '), r.filter(_ >= ' ')))
      case _ => ()
    }
    (acc("pre").toSeq, acc("post").toSeq)
  }

  /** aggregation-rules.conf (carbon-aggregator — the stage the
    * reference stubs at L_DataCache.lua:121,170 while shipping this
    * file's .example): each non-comment line is
    * `output_template (frequency) = method input_pattern` per
    * graphite's config-carbon docs. Consumed by
    * [[graft.tsdb.Aggregator]].
    */
  final case class AggregationRule(output: String, frequency: Long,
                                   method: String, pattern: String)
  private val AggRuleRe = """^\s*(\S+)\s*\((\d+)\)\s*=\s*(\S+)\s+(\S+).*$""".r
  def aggregationRules(text: String): Seq[AggregationRule] =
    text.linesIterator.flatMap {
      case l if l.matches("""^\s*#.*""") => None
      case AggRuleRe(out, freq, method, pat) =>
        Some(AggregationRule(out.filter(_ >= ' '), freq.toLong, method,
          pat.filter(_ >= ' ')))
      case _ => None
    }.toSeq

  /** DataTranslation.conf → per-series symbolic lookup tables: section
    * name is the (wildcarded) series tag, entries map symbolic values to
    * codes (L_DataWatcher.lua:152-156,313-316).
    */
  def translation(text: String): Map[String, Map[String, String]] =
    parse(text).map(s => s.name -> s.params.toMap).toMap

  /** Two-file storage rule match, as the reference performs it on file
    * create (L_DataCache.lua:152-155): schemas and aggregation rules
    * first-match INDEPENDENTLY, each falling to its default. Returns
    * (schema_name, retentions, agg_method, xff) columns for a path —
    * the same shape as [[Carbon.schemaMatch]], but from the two parsed
    * conf files instead of a fused rule list.
    */
  def storageMatch(path: Column, schemas: Seq[SchemaEntry], aggs: Seq[AggEntry],
                   defaultSchema: SchemaEntry = DefaultSchema,
                   defaultAgg: AggEntry = DefaultAgg): Seq[Column] = {
    def first[T](rules: Seq[(String, T)], dflt: T, lift: T => Column): Column =
      coalesce(rules.map { case (pat, v) =>
        when(path.rlike(pat), lift(v)) } :+ lift(dflt): _*)
    Seq(
      first[String](schemas.map(r => r.pattern -> r.name), defaultSchema.name, lit).as("schema_name"),
      first[String](schemas.map(r => r.pattern -> r.retentions), defaultSchema.retentions, lit).as("retentions"),
      first[String](aggs.map(r => r.pattern -> r.aggregationMethod), defaultAgg.aggregationMethod, lit).as("agg_method"),
      first[Double](aggs.map(r => r.pattern -> r.xFilesFactor), defaultAgg.xFilesFactor, lit).as("xff"))
  }
}
