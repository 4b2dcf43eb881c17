package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Carbon ingest pipeline: plaintext parsing, rewrite rules, and
  * storage-schema / storage-aggregation rule matching
  * (L_DataCache.lua).
  */
object Carbon {

  /** One regex rule: first match wins, applied once. */
  final case class Rule(pattern: String, replacement: String)

  /** Schema / aggregation rule (storage-schemas.conf style). */
  final case class SchemaRule(name: String, pattern: String, retentions: String,
                              aggregationMethod: String = "average", xFilesFactor: Double = 0.5)

  /** Parse Whisper plaintext `"path value [timestamp]"` lines
    * (L_DataCache.lua:164-166); a missing timestamp falls back to `now`.
    * Input: a DataFrame with a `line` string column.
    */
  def parse(lines: DataFrame, now: Long): DataFrame =
    parseWith(lines, lit(now))

  /** Streaming variant: a missing timestamp stamps the ARRIVAL time
    * (the reference calls os.time() per line, L_DataCache.lua:165).
    * `current_timestamp()` in Structured Streaming is the micro-batch
    * query time — per-batch arrival stamping, stable across task
    * retries. A frozen job-start `now` would fall behind the watermark
    * within an hour and silently drop every later timestamp-less line.
    */
  def parseArrival(lines: DataFrame): DataFrame =
    parseWith(lines, unix_timestamp(current_timestamp()))

  private def parseWith(lines: DataFrame, nowCol: org.apache.spark.sql.Column): DataFrame = {
    // ONE whitespace split per line (the previous three regexp_extract
    // calls each re-matched the full pattern); dropping empty tokens
    // mirrors the reference's UNANCHORED Lua pattern, which skips
    // leading whitespace.
    lines
      .select(array_remove(split(col("line"), "\\s+"), "").as("toks"))
      .select(
        coalesce(try_element_at(col("toks"), lit(1)), lit("")).as("path"),
        // try_cast: malformed values → null row-drop, not an ANSI error
        expr("try_cast(try_element_at(toks, 2) AS double)").as("value"),
        coalesce(expr("try_cast(try_element_at(toks, 3) AS bigint)"), nowCol).as("ts"))
      .filter(col("path") =!= "" && col("value").isNotNull)
  }

  /** Apply rewrite rules: the first rule whose pattern matches rewrites
    * the path ONCE (the reference is gsub count=1, L_DataCache.lua:125
    * — an unanchored rule substitutes only its first occurrence),
    * remaining rules are skipped (L_DataCache.lua:123-129). DuckDB's
    * regexp_replace is first-match-only by default, so the oracle
    * agrees by construction.
    */
  def rewrite(path: Column, rules: Seq[Rule]): Column =
    coalesce(rules.map(r =>
      when(path.rlike(r.pattern),
        graft.functions.ReplaceFirst.replaceFirst(path, r.pattern, r.replacement))) :+ path: _*)

  /** [pre] then [post] rewrite passes (L_DataCache.lua:167-172). */
  def rewritePrePost(path: Column, pre: Seq[Rule], post: Seq[Rule]): Column =
    rewrite(rewrite(path, pre), post)

  /** First-match storage rule lookup (L_DataCache.lua:70-75): returns
    * (schema_name, retentions, agg_method, xff) columns for a path.
    */
  def schemaMatch(path: Column, schemas: Seq[SchemaRule], default: SchemaRule): Seq[Column] = {
    def pick[T](f: SchemaRule => T, lift: T => Column): Column =
      coalesce(schemas.map(r => when(path.rlike(r.pattern), lift(f(r)))) :+ lift(f(default)): _*)
    Seq(
      pick[String](_.name, lit).as("schema_name"),
      pick[String](_.retentions, lit).as("retentions"),
      pick[String](_.aggregationMethod, lit).as("agg_method"),
      pick[Double](_.xFilesFactor, lit).as("xff"))
  }

  /** Symbolic value translation (L_DataWatcher.lua:152-156): a lookup
    * table maps string values to numeric codes, anything unmapped
    * becomes 'unknown'.
    */
  def translate(value: Column, table: Map[String, String]): Column =
    coalesce(table.map { case (k, v) => when(value === k, lit(v)) }.toSeq :+ lit("unknown"): _*)

  /** Routed symbolic translation (L_DataWatcher.lua:151-157,313-316):
    * the DataTranslation.conf section whose tag matches the watched
    * series tag supplies the lookup table — a section's device
    * component may be a specific number or the wildcard `*`
    * (Configuration/DataTranslation.conf:6). Series with no matching
    * section relay the raw value unchanged; matched series map unknown
    * symbols to 'unknown'. Dispatch is a constant-folded when-chain
    * over Glob-compiled section regexes (specific-device sections
    * before wildcarded ones, so the more specific table wins) — no
    * join, stays inside whole-stage codegen.
    */
  def translateRouted(tag: Column, value: Column,
                      tables: Map[String, Map[String, String]]): Column = {
    // specificity order: non-wildcarded sections first, then wildcarded
    // by DESCENDING literal character count (so '1*.srv.Var' beats the
    // bare '*.srv.Var' for tag '12.srv.Var' — a lexicographic tie-break
    // alone would put '*' (0x2A) before any digit), name as final tie
    val ordered = tables.toSeq.sortBy { case (sect, _) =>
      (sect.contains("*"), -sect.count(_ != '*'), sect) }
    coalesce(ordered.map { case (sect, tbl) =>
      when(tag.rlike(Glob.queryToRegex(sect, allowDeeper = false)), translate(value, tbl))
    } :+ value: _*)
  }
}
