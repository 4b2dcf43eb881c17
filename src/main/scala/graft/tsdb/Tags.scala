package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graphite 1.1 tagged series: `name;tag1=v1;tag2=v2` paths, the
  * `seriesByTag` selector grammar, and tag-value extraction for
  * `aliasByTags`.
  *
  * Beyond-reference depth: the reference's namespace is dot-hierarchies
  * only (L_DataFinders.lua:152-217 walks a directory
  * tree per level; graphite_cgi.lua:244-262 serves only
  * glob finds), but tagged queries are the one graphite-web 1.1 surface
  * a modern Grafana user hits that a dot-only engine cannot answer —
  * the same judgement that added the C9 function layer.
  *
  * Storage model (graphite's tagged-whisper convention): the tag set
  * IS part of the series path, `;`-separated after the metric name,
  * one `tag=value` per segment, values sorted by tag name at write
  * time so a tag set has exactly one canonical path. Every series has
  * the implicit tag `name` (the part before the first `;`).
  *
  * Scale shape: the tag index is (path, tag, value) over the DISTINCT
  * path set — K-row metadata, same order as the find tree, never the
  * datapoint table. A `seriesByTag` resolves against that index to a
  * K-row path list BEFORE any datapoint scan (the C14 gate pattern),
  * and the fetch semi-joins the scan against the broadcast list — tag
  * expressions never touch the 100 TB side.
  */
object Tags {

  // ---- tagged-path parsing ----

  /** (path, tag, value) rows for every tagged path: the implicit
    * `name` tag plus one row per `tag=value` segment. A segment
    * without '=' is ignored (malformed writes don't poison the index —
    * graphite-web's TaggedSeries.parse is equally forgiving).
    * Dot-only paths index as just their `name` row, so a mixed
    * namespace (the usual migration state) stays queryable.
    */
  def tagIndex(paths: DataFrame): DataFrame =
    paths.select(col("path")).distinct()
      .select(col("path"), posexplode(split(col("path"), ";")))
      .select(col("path"),
        when(col("pos") === 0, lit("name"))
          .otherwise(substring_index(col("col"), "=", 1)).as("tag"),
        when(col("pos") === 0, col("col"))
          .otherwise(regexp_extract(col("col"), "^[^=]*=(.*)$", 1)).as("value"))
      .filter(col("pos") === 0 || col("col").contains("="))
      .select(col("path"), col("tag"), col("value"))

  // ---- seriesByTag expression grammar ----

  sealed trait Op
  case object Eq extends Op      // tag=spec     exact
  case object Ne extends Op      // tag!=spec    not-exact
  case object Re extends Op      // tag=~spec    regex, anchored at start
  case object NotRe extends Op   // tag!=~spec   regex negation

  final case class TagMatch(tag: String, op: Op, spec: String)

  /** Parse one `tag OP spec` expression. Longest operator wins
    * (`!=~` before `!=`, `=~` before `=`), graphite's grammar.
    */
  def parseExpr(s: String): TagMatch = {
    val i = s.indexOf('=')
    require(i > 0, s"seriesByTag: expected 'tag=value' style expression, got '$s'")
    val (rawTag, op, spec) =
      if (i >= 2 && s.startsWith("!=~", i - 1)) (s.substring(0, i - 1), NotRe, s.substring(i + 2))
      else if (i >= 1 && s.startsWith("!=", i - 1)) (s.substring(0, i - 1), Ne, s.substring(i + 1))
      else if (s.startsWith("=~", i)) (s.substring(0, i), Re, s.substring(i + 2))
      else (s.substring(0, i), Eq, s.substring(i + 1))
    require(rawTag.nonEmpty && !rawTag.contains(";"),
      s"seriesByTag: invalid tag name in '$s'")
    TagMatch(rawTag, op, spec)
  }

  /** Whether this expression REQUIRES the tag present with a non-empty
    * value — graphite's rule that at least one expression per query
    * must, so `seriesByTag('a!=~.*')` can't select the whole universe.
    */
  def requiresNonEmpty(e: TagMatch): Boolean = e.op match {
    case Eq => e.spec.nonEmpty
    case Ne => e.spec.isEmpty // tag!= (empty spec) means "has a value"
    case Re => !matchesEmpty(e.spec)
    case NotRe => matchesEmpty(e.spec)
  }

  private def matchesEmpty(re: String): Boolean =
    java.util.regex.Pattern.compile(re).matcher("").lookingAt()

  /** The match test over a series' value for the tag, where a series
    * WITHOUT the tag reads as '' (graphite: "any tagspec that matches
    * an empty value matches series that don't have that tag").
    * Regexes anchor at the START only (graphite uses re.match).
    */
  def matchCol(e: TagMatch, v: Column): Column = e.op match {
    case Eq => v === e.spec
    case Ne => v =!= e.spec
    case Re => v.rlike("^(?:" + e.spec + ")")
    case NotRe => !v.rlike("^(?:" + e.spec + ")")
  }

  /** Paths matching ALL expressions: one `path` column, K-row
    * metadata. The canonical path IS the tag set, so every test is a
    * string extraction on the path column ([[tagValueCol]], missing →
    * '') ANDed into ONE map-only filter — zero joins, and the plan is
    * byte-for-byte the same whether a query carries one expression or
    * ten (the exchange pin in TagsSpec). At least one expression must
    * require a non-empty value (graphite's universe guard).
    */
  def matchingPaths(paths: DataFrame, exprs: Seq[String]): DataFrame =
    paths.select(col("path")).distinct().filter(matchPredicate(exprs))

  /** The parsed, guarded, AND-reduced selection predicate over a
    * `path` column — one map-only Column, shared by [[matchingPaths]]
    * and the indexed autocomplete surfaces so the grammar has one
    * evaluation source.
    */
  def matchPredicate(exprs: Seq[String]): Column = {
    require(exprs.nonEmpty, "seriesByTag: at least one expression required")
    val es = exprs.map(parseExpr)
    require(es.exists(requiresNonEmpty),
      "seriesByTag: at least one expression must require a non-empty tag value " +
        s"(got ${exprs.mkString("'", "', '", "'")})")
    es.map(e => matchCol(e, tagValueCol(e.tag))).reduce(_ && _)
  }

  // ---- C15f: the tag index as a standing artifact (VERDICT r9 #5) ----

  /** Persist the (path, tag, value) index — the G14/G17 refreshable-
    * artifact discipline for the Grafana autocomplete path, which
    * otherwise re-derives the index from the distinct-path set on
    * every keystroke-serving session.
    */
  def writeTagIndex(paths: DataFrame, dir: String): Unit =
    tagIndex(paths).write.mode("overwrite").parquet(dir)

  /** Incremental refresh: index rows are per-path and independent, so
    * merging new paths is an APPEND of the genuinely-new paths' rows —
    * one anti-join against the index's K-row path set plus one
    * tagIndex pass over the delta; no existing row is touched, and
    * merge ≡ rebuild by construction (spec-pinned). Returns the number
    * of paths appended.
    */
  def mergeTagIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    newPaths: DataFrame): Long = {
    val known = spark.read.parquet(dir).select(col("path")).distinct()
    val fresh = newPaths.select(col("path")).distinct()
      .join(known, Seq("path"), "left_anti")
    // STAGE-then-MOVE, never append-while-reading: the anti-join's plan
    // scans `dir`, so a direct append into `dir` would race its own
    // input if the plan ever recomputes (cache eviction, executor
    // loss). The delta lands in an underscore staging dir (invisible to
    // parquet discovery of `dir`), fully materialized, then each part
    // file publishes by rename — name-level metadata ops, the
    // compactTick swap discipline.
    val staging = s"$dir/_staging"
    tagIndex(fresh).write.mode("overwrite").parquet(staging)
    val n = spark.read.parquet(staging).select(col("path")).distinct().count()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (n > 0) {
      fs.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
        .filter(_.getPath.getName.startsWith("part-"))
        .foreach { f =>
          val ok = fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(dir, f.getPath.getName))
          require(ok, s"mergeTagIndex: publishing ${f.getPath.getName} failed")
        }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    n
  }

  /** [[autoCompleteTags]] over a PERSISTED index frame: the selection
    * predicate applies map-only to the index's own path column (the
    * canonical path IS the tag set), so the plan is one scan of K-row
    * metadata — no re-derivation, no join.
    */
  def autoCompleteTagsIndexed(index: DataFrame, exprs: Seq[String],
                              tagPrefix: Option[String],
                              limit: Int = 100): DataFrame = {
    require(limit >= 1, s"autoComplete: limit must be >= 1 (got $limit)")
    val base = if (exprs.isEmpty) index else index.filter(matchPredicate(exprs))
    val tags = base.select(col("tag")).distinct()
    tagPrefix.filter(_.nonEmpty)
      .map(p => tags.filter(col("tag").startsWith(p))).getOrElse(tags)
      .orderBy(col("tag")).limit(limit)
  }

  /** [[autoCompleteValues]] over a PERSISTED index frame — same one-scan
    * shape; missing-tag series have no (tag, value) row in the index,
    * and explicit empty values ('tag=') are excluded exactly as the
    * in-session path excludes '' extractions.
    */
  def autoCompleteValuesIndexed(index: DataFrame, exprs: Seq[String],
                                tag: String, valuePrefix: Option[String],
                                limit: Int = 100): DataFrame = {
    require(limit >= 1, s"autoComplete: limit must be >= 1 (got $limit)")
    require(tag.nonEmpty && !tag.contains(";"),
      s"autoComplete: invalid tag name '$tag'")
    val base = if (exprs.isEmpty) index else index.filter(matchPredicate(exprs))
    val vals = base.filter(col("tag") === tag && col("value") =!= "")
      .select(col("value")).distinct()
    valuePrefix.filter(_.nonEmpty)
      .map(p => vals.filter(col("value").startsWith(p))).getOrElse(vals)
      .orderBy(col("value")).limit(limit)
  }

  // ---- autocomplete (the graphite-web 1.1 /tags/autoComplete API) ----

  /** `/tags/autoComplete/tags`: the distinct tag names over the series
    * matching `exprs` (empty exprs = the whole universe — graphite
    * serves the unfiltered list for the tag-browser's first keystroke),
    * prefix-filtered, sorted, first `limit` (graphite's default 100).
    * K-row metadata end-to-end: the path list resolves BEFORE any
    * datapoint table exists in the plan, and the index is one
    * posexplode over it.
    */
  def autoCompleteTags(paths: DataFrame, exprs: Seq[String],
                       tagPrefix: Option[String],
                       limit: Int = 100): DataFrame = {
    require(limit >= 1, s"autoComplete: limit must be >= 1 (got $limit)")
    val base =
      if (exprs.isEmpty) paths.select(col("path")).distinct()
      else matchingPaths(paths, exprs)
    val tags = tagIndex(base).select(col("tag")).distinct()
    tagPrefix.filter(_.nonEmpty)
      .map(p => tags.filter(col("tag").startsWith(p))).getOrElse(tags)
      .orderBy(col("tag")).limit(limit)
  }

  /** `/tags/autoComplete/values`: the distinct VALUES of `tag` over
    * the series matching `exprs`, prefix-filtered, sorted, first
    * `limit` — what Grafana calls as the user types a tag value.
    */
  def autoCompleteValues(paths: DataFrame, exprs: Seq[String], tag: String,
                         valuePrefix: Option[String],
                         limit: Int = 100): DataFrame = {
    require(limit >= 1, s"autoComplete: limit must be >= 1 (got $limit)")
    require(tag.nonEmpty && !tag.contains(";"),
      s"autoComplete: invalid tag name '$tag'")
    val base =
      if (exprs.isEmpty) paths.select(col("path")).distinct()
      else matchingPaths(paths, exprs)
    // extraction straight off the path column (the matcher discipline);
    // series without the tag read '' and are excluded (graphite lists
    // only values that exist)
    val vals = base.select(tagValueCol(tag).as("value"))
      .filter(col("value") =!= "").distinct()
    valuePrefix.filter(_.nonEmpty)
      .map(p => vals.filter(col("value").startsWith(p))).getOrElse(vals)
      .orderBy(col("value")).limit(limit)
  }

  // ---- tag-value extraction (aliasByTags) ----

  /** Regex-quote in the Java∩RE2 dialect (the F22/aliasSub discipline:
    * no \Q..\E, so the DuckDB oracle's regexp functions agree).
    */
  private def quoteRe(s: String): String =
    s.flatMap(c => if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) "\\" + c else c.toString)

  /** A tag's value extracted from the path column; `name` is the part
    * before the first ';'; a missing tag yields '' (graphite's
    * `tags.get(tag, '')` naming rule).
    */
  def tagValueCol(tag: String): Column =
    if (tag == "name") substring_index(col("path"), ";", 1)
    else regexp_extract(col("path"), ";" + quoteRe(tag) + "=([^;]*)", 1)
}
