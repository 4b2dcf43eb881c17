package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graphite metrics API over the flat path namespace: find / expand /
  * index (graphite_cgi.lua:244-301, tree walk in
  * L_DataFinders.lua:152-217).
  *
  * The reference walks an in-memory directory tree per level; here the
  * "tree" is the distinct-path set and a query compiles to one anchored
  * regex pushed into the scan, then a prefix-aggregation classifies
  * nodes at the query depth as leaves (path ends there) or branches
  * (deeper paths exist).
  */
object MetricTree {

  /** Nodes matching the glob at its depth: (path, name, is_leaf). A
    * prefix can yield both a leaf and a branch row, like the reference
    * Store which yields both node objects.
    */
  def find(paths: DataFrame, query: String): DataFrame = {
    val d = Glob.depth(query)
    val regex = Glob.queryToRegex(query, allowDeeper = true)
    val matched = paths.filter(col("path").rlike(regex))
      .select(col("path"), size(split(col("path"), "\\.")).as("nc"))
      .select(concat_ws(".", slice(split(col("path"), "\\."), 1, d)).as("node"),
        (col("nc") === d).cast("long").as("leaf"))
    matched
      .groupBy(col("node"))
      .agg(max(col("leaf")).as("has_leaf"), max(lit(1L) - col("leaf")).as("has_branch"))
      .select(col("node"), explode(array(
        when(col("has_leaf") === 1L, lit(1L)),
        when(col("has_branch") === 1L, lit(0L)))).as("is_leaf"))
      .filter(col("is_leaf").isNotNull)
      .select(
        col("node").as("path"),
        element_at(split(col("node"), "\\."), -1).as("name"),
        col("is_leaf"))
  }

  /** /metrics/find?format=treejson — the DEFAULT find format, and the
    * one Grafana consumes (graphite_cgi.lua:223-234): branches are
    * expandable and allow children, leaves are leaves. A node that is
    * both leaf and branch yields two rows, exactly as `find` does.
    * (The serialized form adds a constant empty `context` object —
    * Render.treejson.)
    */
  def findTreejson(paths: DataFrame, query: String): DataFrame =
    shapeTreejson(find(paths, query))

  /** Shape (path, name, is_leaf) nodes into treejson columns. */
  def shapeTreejson(nodes: DataFrame): DataFrame =
    nodes.select(
      (lit(1L) - col("is_leaf")).as("allow_children"),
      (lit(1L) - col("is_leaf")).as("expandable"),
      col("is_leaf").as("leaf"),
      col("path").as("id"),
      col("name").as("text"))

  /** /metrics/find?format=completer (graphite_cgi.lua:236-242): branch
    * paths carry a trailing dot; the serialized form wraps rows in a
    * `{"metrics": [...]}` object (graphite_cgi.lua:261, Render.completer).
    */
  def findCompleter(paths: DataFrame, query: String): DataFrame =
    shapeCompleter(find(paths, query))

  /** Shape (path, name, is_leaf) nodes into completer columns. */
  def shapeCompleter(nodes: DataFrame): DataFrame =
    nodes.select(
      col("is_leaf"),
      when(col("is_leaf") === 1L, col("path"))
        .otherwise(concat(col("path"), lit("."))).as("path"),
      col("name"))

  /** /metrics/expand: matching node paths at query depth; branches get a
    * trailing dot (graphite_cgi.lua:275-281).
    */
  def expand(paths: DataFrame, query: String, leavesOnly: Boolean): DataFrame = {
    val nodes = find(paths, query)
    val filtered = if (leavesOnly) nodes.filter(col("is_leaf") === 1L) else nodes
    filtered
      .select(when(col("is_leaf") === 1L, col("path"))
        .otherwise(concat(col("path"), lit("."))).as("path"))
      .distinct()
  }

  /** /metrics/index.json: every leaf path, sorted (graphite_cgi.lua:285-301). */
  def index(paths: DataFrame): DataFrame =
    paths.select(col("path")).distinct().orderBy(col("path"))
}
