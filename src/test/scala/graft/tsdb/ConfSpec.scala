package graft.tsdb

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Graphite .conf parsing against the bundled configuration files
  * (`Configuration/` on the classpath, [[Conf.bundled]]), plus the
  * two-file first-match storage lookup (L_DataCache.lua:147-159).
  */
class ConfSpec extends SparkSpec {

  private def ref(name: String): String = Conf.bundled(name)

  test("storage-schemas.conf: all 17 rules, in file order") {
    val rules = Conf.storageSchemas(ref("storage-schemas.conf"))
    assert(rules.map(_.name) == Seq(
      "Alarm", "Security", "DoorLock", "Ping", "KWH", "Power", "Battery",
      "Temperature", "Humidity", "Light", "Generic",
      "day", "2day", "week", "month", "quarter", "year"))
    assert(rules.head.pattern == ":Alarm")
    assert(rules.head.retentions == "1s:1m,1m:1d,5m:7d,1h:90d,6h:1y,1d:5y")
    assert(rules.find(_.name == "KWH").get.pattern == "\\.KWH")
    assert(rules.find(_.name == "day").get.retentions == "1m:1d")
    // every retentions string parses into a valid archive cascade
    rules.foreach(r => assert(Retention.parse(r.retentions).nonEmpty))
  }

  test("storage-aggregation.conf: all 16 rules with xff and method") {
    val rules = Conf.storageAggregation(ref("storage-aggregation.conf"))
    assert(rules.size == 16)
    assert(rules.take(5).map(_.name) == Seq("max", "min", "sum", "avg", "last"))
    val alarm = rules.find(_.name == "Alarm").get
    assert(alarm.pattern == ":Alarm" && alarm.aggregationMethod == "sum"
      && alarm.xFilesFactor == 0.0)
    val batt = rules.find(_.name == "Battery").get
    assert(batt.pattern == "\\.BatteryLevel" && batt.aggregationMethod == "last")
  }

  test("DataTranslation.conf: symbolic lookup table per series tag") {
    val t = Conf.translation(ref("DataTranslation.conf"))
    val mode = t("*.urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState")
    assert(mode == Map("Cooling" -> "-1", "Idle" -> "0", "Heating" -> "1"))
    // feeds the existing Carbon.translate machinery (A4 semantics)
    import spark.implicits._
    val out = Seq("Cooling", "Heating", "Vent").toDF("v")
      .select(Carbon.translate(col("v"), mode).as("code"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("-1", "1", "unknown"))
  }

  test("translation-tag routing: section tag dispatch per watched series") {
    // which table applies is decided by matching the series tag against
    // the conf sections' (possibly device-wildcarded) tags
    // (L_DataWatcher.lua:151-157,313-316): the reference file's wildcard
    // HVAC section catches ANY device's ModeState, a specific-device
    // section only its own tag, and an unmatched series relays the raw
    // value unchanged (no 'unknown' mapping)
    val tables = Conf.translation(Queries.translationConfText)
    assert(tables.keySet == Set(
      "*.urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState",
      "7.urn:micasaverde-com:serviceId:SwitchPower1.Status"))
    import spark.implicits._
    val rows = Seq(
      ("3.urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState", "Cooling"),
      ("44.urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState", "Vent"),
      ("7.urn:micasaverde-com:serviceId:SwitchPower1.Status", "On"),
      ("8.urn:micasaverde-com:serviceId:SwitchPower1.Status", "On"),
      ("7.urn:upnp-org:serviceId:TemperatureSensor1.CurrentTemperature", "21.5"))
      .toDF("tag", "v")
    val out = rows
      .select(Carbon.translateRouted(col("tag"), col("v"), tables).as("code"))
      .collect().map(_.getString(0)).toSeq
    // wildcard hit; wildcard hit unmapped sym; specific-device hit;
    // WRONG device for the specific section → passthrough; no section
    assert(out == Seq("-1", "unknown", "1", "On", "21.5"))
  }

  test("rewrite-rules.conf.example: comment-only file yields no rules") {
    val (pre, post) = Conf.rewriteRules(ref("rewrite-rules.conf.example"))
    assert(pre.isEmpty && post.isEmpty)
  }

  test("rewrite-rules [pre]/[post] sections parse and apply in order") {
    val (pre, post) = Conf.rewriteRules(Queries.rewriteConfText)
    assert(pre == Seq(Carbon.Rule("^vera\\.u1\\.", "vera.user-one."),
      Carbon.Rule("^vera\\.u2\\.", "vera.user-two.")))
    assert(post == Seq(Carbon.Rule("\\.click$", ".clicks")))
    import spark.implicits._
    val out = Seq("vera.u1.click", "vera.u9.view").toDF("path")
      .select(Carbon.rewritePrePost(col("path"), pre, post).as("p"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("vera.user-one.clicks", "vera.u9.view"))
  }

  test("rewrite rules with regex metachars '(' and '=' are kept") {
    // the reference's rule syntax is any non-space token (%S+ = %S*,
    // L_DataCache.lua:107) — a rule whose regex contains '(' or '='
    // must parse, and rules before any section are dropped (rules.bin)
    val (pre, post) = Conf.rewriteRules(
      """lost = rule
        |[pre]
        |\.(click|tap)$ = .clicks
        |x=1 = y
        |# comment = not-a-rule
        |[post]
        |drop.me$ =
        |""".stripMargin)
    // greedy %S+ with backtracking: "x=1 = y" splits at the spaced '='
    assert(pre == Seq(Carbon.Rule("\\.(click|tap)$", ".clicks"),
      Carbon.Rule("x=1", "y")))
    // empty replacement deletes the match
    assert(post == Seq(Carbon.Rule("drop.me$", "")))
    import spark.implicits._
    val out = Seq("a.tap", "b.other").toDF("path")
      .select(Carbon.rewritePrePost(col("path"), pre.take(1), post).as("p"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("a.clicks", "b.other"))
  }

  test("two-file storage match: independent first-match with defaults") {
    val schemas = Conf.storageSchemas(ref("storage-schemas.conf"))
    val aggs = Conf.storageAggregation(ref("storage-aggregation.conf"))
    import spark.implicits._
    val out = Seq(
      // :Alarm → schema Alarm (1s cascade) + aggregation Alarm (sum)
      "12.urn:x:SecuritySensor1:Alarm.Tripped",
      // \.KWH → schema KWH + aggregation KWH (last)
      "7.urn:x:EnergyMetering1.KWH",
      // .max$ matches no schema (falls to default) but aggregation [max]
      "something.max",
      // nothing matches → both defaults
      "plain.path").toDF("path")
      .select(col("path") +: Conf.storageMatch(col("path"), schemas, aggs): _*)
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))
    assert(out(0) == (("Alarm", "1s:1m,1m:1d,5m:7d,1h:90d,6h:1y,1d:5y", "sum", 0.0)))
    assert(out(1) == (("KWH", "20m:30d,3h:1y,1d:10y", "last", 0.0)))
    assert(out(2) == (("[default]", "1h:7d", "max", 0.0)))
    assert(out(3) == (("[default]", "1h:7d", "average", 0.5)))
  }

  test("parse: anon section, control-char strip, duplicate keys kept") {
    val s = Conf.parse("a = 1\n[s]\nk = vx\nk = w\n# comment\n")
    assert(s.map(_.name) == Seq("_anon_", "s"))
    assert(s.head.params == Seq("a" -> "1"))
    assert(s(1).params == Seq("k" -> "vx", "k" -> "w"))
    assert(s(1).get("k").contains("vx"))
  }

  test("storageMatch column agrees with a JVM first-match model over randomized rulesets") {
    // the Column chain (coalesce of rlike whens) vs an independent
    // java.util.regex model of "first rule whose pattern FINDS in the
    // path, each file independently, default on miss" — one seeded
    // batch instead of per-case Spark jobs (the ConfProps suite covers
    // the pure parsers; this bridges the Catalyst evaluation once)
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val pats = Vector("^a", "b$", "\\.c", "a.b", "x", "9", "c\\.a", "^[ab]x*\\.")
    def find(pat: String, path: String): Boolean =
      java.util.regex.Pattern.compile(pat).matcher(path).find()
    for (_ <- 1 to 8) {
      val schemas = Seq.tabulate(rnd.nextInt(5))(i =>
        Conf.SchemaEntry(s"s$i", pats(rnd.nextInt(pats.size)), s"${i + 1}m:1d"))
      val aggs = Seq.tabulate(rnd.nextInt(5))(i =>
        Conf.AggEntry(s"g$i", pats(rnd.nextInt(pats.size)), 0.1 * i,
          Seq("sum", "last", "max")(i % 3)))
      val paths = Seq.fill(40)(
        Seq.fill(rnd.nextInt(7) + 1)("abcx9.".charAt(rnd.nextInt(6))).mkString)
      val got = paths.toDF("path")
        .select(col("path") +: Conf.storageMatch(col("path"), schemas, aggs): _*)
        .collect().map(r => r.getString(0) ->
          ((r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))).toMap
      paths.foreach { p =>
        val sm = schemas.find(r => find(r.pattern, p)).getOrElse(Conf.DefaultSchema)
        val am = aggs.find(r => find(r.pattern, p)).getOrElse(Conf.DefaultAgg)
        assert(got(p) == ((sm.name, sm.retentions, am.aggregationMethod, am.xFilesFactor)),
          s"path '$p' schemas=$schemas aggs=$aggs")
      }
    }
  }

  test("section lines tolerate trailing text (reference matcher is unanchored)") {
    // '[default] # catch-all' must START the section, not fall through
    // and leave its params in the previous one (L_DataDaemon.lua:114)
    val s = Conf.parse("[a]\nx = 1\n[default] # catch-all\ny = 2\n")
    assert(s.map(_.name) == Seq("a", "default"))
    assert(s(1).params == Seq("y" -> "2"))
  }

  test("conf_rules row emission: one row per parsed rule, file order preserved (A6)") {
    // the driver query behind the A6 oracle — kinds and counts match
    // the field-by-field pins above; rewrite-rules.conf.example is all
    // comments, so ZERO rewrite rows is the correct parse
    val rows = Queries.confRules(spark, "unused").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val byKind = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byKind == Map("schema" -> 17, "agg" -> 16, "translation" -> 3))
    // ord preserves file order inside a kind
    assert(rows.filter(_._1 == "schema").sortBy(_._2).take(2).map(_._3).toSeq
      == Seq("Alarm", "Security"))
  }
}
