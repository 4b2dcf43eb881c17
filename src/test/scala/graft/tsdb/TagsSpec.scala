package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** C15 graphite-1.1 tagged series: the (path, tag, value) index, the
  * seriesByTag expression grammar's four operators with the
  * missing-tag-reads-as-empty rule, aliasByTags naming, the
  * at-least-one-non-empty requirement, the collect-free useSeriesAbove
  * path, and the exchange-count pin (the plan does not grow with the
  * number of tag expressions — tag resolution is K-row metadata).
  */
class TagsSpec extends SparkSpec {
  import spark.implicits._

  private def pathsDf(ps: String*): DataFrame = ps.toDF("path")

  private val universe = pathsDf(
    "cpu;dc=east;host=web1",
    "cpu;dc=west;host=web2",
    "cpu;host=db1",            // no dc tag
    "mem;dc=east;host=web1",
    "disk.used")               // dot-only path in a mixed namespace

  private def matched(exprs: String*): Seq[String] =
    Tags.matchingPaths(universe, exprs)
      .collect().map(_.getString(0)).sorted.toSeq

  test("tagIndex: implicit name tag + one row per tag=value segment") {
    val idx = Tags.tagIndex(pathsDf("cpu;dc=east;host=web1", "disk.used"))
      .orderBy("path", "tag")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(idx == Seq(
      ("cpu;dc=east;host=web1", "dc", "east"),
      ("cpu;dc=east;host=web1", "host", "web1"),
      ("cpu;dc=east;host=web1", "name", "cpu"),
      ("disk.used", "name", "disk.used")))
    // a value containing '=' splits at the FIRST '=' only
    val eq = Tags.tagIndex(pathsDf("m;q=a=b")).filter(col("tag") === "q")
      .collect().map(_.getString(2)).toSeq
    assert(eq == Seq("a=b"))
  }

  test("parseExpr: longest operator wins; malformed expressions fail") {
    import Tags._
    assert(parseExpr("a=b") == TagMatch("a", Eq, "b"))
    assert(parseExpr("a!=b") == TagMatch("a", Ne, "b"))
    assert(parseExpr("a=~b.*") == TagMatch("a", Re, "b.*"))
    assert(parseExpr("a!=~b.*") == TagMatch("a", NotRe, "b.*"))
    assert(parseExpr("a=") == TagMatch("a", Eq, ""))    // "doesn't have a"
    assert(parseExpr("a!=") == TagMatch("a", Ne, ""))   // "has a value"
    intercept[IllegalArgumentException](parseExpr("=b"))
    intercept[IllegalArgumentException](parseExpr("noequals"))
  }

  test("matchingPaths: =, !=, =~, !=~ with missing tag reading as ''") {
    assert(matched("name=cpu") == Seq(
      "cpu;dc=east;host=web1", "cpu;dc=west;host=web2", "cpu;host=db1"))
    // equality on a tag some series lack
    assert(matched("dc=east") == Seq("cpu;dc=east;host=web1", "mem;dc=east;host=web1"))
    // != matches different values AND series without the tag
    assert(matched("name=cpu", "dc!=east") ==
      Seq("cpu;dc=west;host=web2", "cpu;host=db1"))
    // tag!= (empty spec) requires a non-empty value: drops db1
    assert(matched("name=cpu", "dc!=") ==
      Seq("cpu;dc=east;host=web1", "cpu;dc=west;host=web2"))
    // tag= (empty spec) selects series WITHOUT the tag
    assert(matched("name=cpu", "dc=") == Seq("cpu;host=db1"))
    // regex anchors at the START only (graphite re.match)
    assert(matched("host=~web") == Seq(
      "cpu;dc=east;host=web1", "cpu;dc=west;host=web2", "mem;dc=east;host=web1"))
    assert(matched("host=~b") == Seq())            // no host starts with b
    // negated regex also matches series without the tag ('' unmatched)
    assert(matched("name=~.+", "host!=~web") == Seq("cpu;host=db1", "disk.used"))
    // ANDed expressions narrow
    assert(matched("name=cpu", "dc=east", "host=web1") == Seq("cpu;dc=east;host=web1"))
  }

  test("at least one expression must require a non-empty value") {
    import Tags._
    // all-permissive queries are rejected (would select the universe)
    intercept[IllegalArgumentException](matched("dc!=east"))
    intercept[IllegalArgumentException](matched("dc=~.*"))
    intercept[IllegalArgumentException](matched("dc="))
    // each operator's non-empty rule
    assert(requiresNonEmpty(parseExpr("a=b")))
    assert(!requiresNonEmpty(parseExpr("a=")))
    assert(requiresNonEmpty(parseExpr("a!=")))
    assert(!requiresNonEmpty(parseExpr("a!=b")))
    assert(requiresNonEmpty(parseExpr("a=~b.*")))
    assert(!requiresNonEmpty(parseExpr("a=~.*")))
    assert(requiresNonEmpty(parseExpr("a!=~.*")))
    assert(!requiresNonEmpty(parseExpr("a!=~b.+")))
  }

  private def series(rows: (String, Long, java.lang.Double)*): DataFrame =
    rows.toDF("path", "t", "value")

  test("autoComplete: tag names and values, expr/prefix/limit laws") {
    def tags(exprs: Seq[String], pfx: Option[String], lim: Int = 100) =
      Tags.autoCompleteTags(universe, exprs, pfx, lim)
        .collect().map(_.getString(0)).toSeq
    def values(exprs: Seq[String], tag: String, pfx: Option[String], lim: Int = 100) =
      Tags.autoCompleteValues(universe, exprs, tag, pfx, lim)
        .collect().map(_.getString(0)).toSeq
    // no expr = the whole universe (the tag-browser's first keystroke
    // — the seriesByTag universe guard deliberately does NOT apply)
    assert(tags(Nil, None) == Seq("dc", "host", "name"))
    // expr filter: only dc-tagged series contribute tags
    assert(tags(Seq("dc=east"), None) == Seq("dc", "host", "name"))
    // prefix + limit
    assert(tags(Nil, Some("h")) == Seq("host"))
    assert(tags(Nil, None, lim = 2) == Seq("dc", "host"))
    // values: sorted distinct, missing-tag series excluded
    assert(values(Nil, "host", None) == Seq("db1", "web1", "web2"))
    assert(values(Seq("name=cpu"), "dc", None) == Seq("east", "west"))
    assert(values(Nil, "host", Some("web"), lim = 1) == Seq("web1"))
    // 'name' values work too (the implicit tag)
    assert(values(Nil, "name", Some("disk")) == Seq("disk.used"))
    intercept[IllegalArgumentException](values(Nil, "", None))
    intercept[IllegalArgumentException](tags(Nil, None, lim = 0))
  }

  test("aliasByTags: '.'-joined tag values, name tag, missing tag → ''") {
    val f = series(("cpu;dc=east;host=web1", 0L, 1.0), ("cpu;host=db1", 0L, 2.0))
    val named = SeriesFunctions.aliasByTags(f, Seq("host", "name"))
      .orderBy("path").collect().map(_.getString(0)).toSeq
    assert(named == Seq("db1.cpu", "web1.cpu"))
    val withMissing = SeriesFunctions.aliasByTags(f, Seq("dc", "name"))
      .orderBy("path").collect().map(_.getString(0)).toSeq
    assert(withMissing == Seq(".cpu", "east.cpu")) // missing dc → ''
  }

  test("seriesByTag end-to-end: TagEnv fetch, loud failure without one") {
    val data = series(
      ("cpu;host=web1", 0L, 1.0), ("cpu;host=web2", 0L, 2.0),
      ("mem;host=web1", 0L, 3.0))
    val env = TargetExpr.TagEnv(
      data.select(col("path")).distinct(),
      (pd, _) => data.join(broadcast(pd), Seq("path"), "left_semi"))
    val out = TargetExpr.evalTargetAt("seriesByTag('name=cpu','host=~web')",
      (_, _) => data, Some(env))
      .orderBy("path").collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(out == Seq(("cpu;host=web1", 1.0), ("cpu;host=web2", 2.0)))
    // aliasByTags composes over it
    val al = TargetExpr.evalTargetAt(
      "aliasByTags(seriesByTag('name=cpu','host!='),'host')",
      (_, _) => data, Some(env))
      .orderBy("path").collect().map(_.getString(0)).toSeq
    assert(al == Seq("web1", "web2"))
    // no TagEnv → loud error, not an empty render
    val ex = intercept[IllegalArgumentException](
      TargetExpr.evalTargetAt("seriesByTag('name=cpu')", (_, _) => data, None))
    assert(ex.getMessage.contains("tag environment"))
  }

  test("plan pin: exchange count independent of tag-expression count") {
    val data = series((0 until 12).map(i =>
      (s"cpu;dc=d${i % 3};host=h$i", 0L, java.lang.Double.valueOf(i))): _*)
    val env = TargetExpr.TagEnv(
      data.select(col("path")).distinct(),
      (pd, _) => data.join(broadcast(pd), Seq("path"), "left_semi"))
    def exchanges(target: String): Int =
      "Exchange".r.findAllIn(
        TargetExpr.evalTargetAt(target, (_, _) => data, Some(env))
          .queryExecution.executedPlan.toString).length
    assert(exchanges("seriesByTag('name=cpu')") ==
      exchanges("seriesByTag('name=cpu','dc!=d0','host=~h.*','dc!=~x')"))
  }

  test("tag index artifact: merge == rebuild, re-merge no-op, indexed autocomplete") {
    val dir = graft.core.Fixtures.fresh("tagidx")
    val half = pathsDf("cpu;dc=east;host=web1", "disk.used")
    Tags.writeTagIndex(half, dir)
    // merge the full universe: only the three new paths append
    assert(Tags.mergeTagIndex(spark, dir, universe) == 3L)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(rows(spark.read.parquet(dir)) == rows(Tags.tagIndex(universe)))
    // a re-merge of known paths is a byte-level no-op
    assert(Tags.mergeTagIndex(spark, dir, universe) == 0L)
    assert(rows(spark.read.parquet(dir)) == rows(Tags.tagIndex(universe)))
    // indexed autocomplete answers equal the in-session derivations
    val idx = spark.read.parquet(dir)
    def strs(df: DataFrame) = df.collect().map(_.getString(0)).toSeq
    assert(strs(Tags.autoCompleteTagsIndexed(idx, Seq.empty, None)) ==
      strs(Tags.autoCompleteTags(universe, Seq.empty, None)))
    assert(strs(Tags.autoCompleteTagsIndexed(idx, Seq("dc=east"), Some("h"))) ==
      strs(Tags.autoCompleteTags(universe, Seq("dc=east"), Some("h"))))
    assert(strs(Tags.autoCompleteValuesIndexed(idx, Seq("name=cpu"), "dc", None)) ==
      strs(Tags.autoCompleteValues(universe, Seq("name=cpu"), "dc", None)))
    // missing-tag exclusion: db1 has no dc row in the index
    assert(strs(Tags.autoCompleteValuesIndexed(idx, Seq.empty, "dc", None)) ==
      Seq("east", "west"))
    // the universe guard still applies through the indexed path
    // (dc=~.* matches the empty value, so it requires nothing)
    intercept[IllegalArgumentException](
      Tags.autoCompleteTagsIndexed(idx, Seq("dc=~.*"), None).collect())
  }

  test("useSeriesAbove: TagEnv path collects nothing; cap guards the collect path") {
    // gate at 5: h6..h9 qualify; err names replace to out names.
    // h9's out metric does NOT exist: graphite drops a replaced path
    // naming a nonexistent metric, so neither code path may emit a
    // phantom all-null m.h9.out series (ADVICE r9 — the TagEnv path
    // semi-joins the qualifying set against the path universe).
    val rows = (0 until 10).flatMap(i =>
      Seq((s"m.h$i.err", 0L, java.lang.Double.valueOf(i))) ++
        (if (i == 9) Seq.empty
         else Seq((s"m.h$i.out", 0L, java.lang.Double.valueOf(100 + i)))))
    val data = series(rows: _*)
    val env = TargetExpr.TagEnv(
      data.select(col("path")).distinct(),
      (pd, _) => data.join(broadcast(pd), Seq("path"), "left_semi"))
    val fetch = (g: String, _: Long) =>
      data.filter(col("path").rlike(Glob.queryToRegex(g, allowDeeper = false)))
    val out = TargetExpr.evalTargetAt(
      """useSeriesAbove(m.*.err,5,"err","out")""", fetch, Some(env))
      .orderBy("path").collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(out == Seq(("m.h6.out", 106.0), ("m.h7.out", 107.0),
      ("m.h8.out", 108.0)))
    // same answer through the collect path (no env)
    val collected = TargetExpr.evalTargetAt(
      """useSeriesAbove(m.*.err,5,"err","out")""", fetch, None)
      .orderBy("path").collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(collected == out)
    assert(TargetExpr.UseSeriesAboveMaxPaths >= 1000) // documented ceiling
  }
}
