package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Finder federation — the reference's Store unions several finders
  * (Whisper files AND dataMine channel trees) into one /metrics/find
  * namespace (L_DataGraphiteAPI.lua:340-397,
  * L_DataFinders.lua:219-247): branch nodes dedup
  * across finders, and when several finders claim the same LEAF path
  * only the first finder's node survives
  * (L_DataGraphiteAPI.lua:382-384 "only return the FIRST leaf node").
  * Leaves carry the reader's (earliest, latest) interval metadata —
  * whisper derives it from the archive extremes
  * (L_DataFinders.lua:86-101), dataMine from the channel cursor's
  * first/last entries (L_DataFinders.lua:240-250).
  *
  * Spark shape: each finder is a leaf-namespace DataFrame
  * (path, earliest, latest); federation is a union + one groupBy(path)
  * with min_by on the finder index — no driver-side tree walk, and the
  * node classification reuses MetricTree.find's single-scan prefix
  * aggregation.
  */
object Finders {

  /** Whisper finder namespace: every metric path with its
    * earliest/latest datapoint (L_DataFinders.lua:86-96: min of the
    * oldest archive, max of the youngest).
    */
  def whisperLeaves(metrics: DataFrame): DataFrame =
    metrics.groupBy(col("path"))
      .agg(min(col("ts")).as("earliest"), max(col("ts")).as("latest"))

  /** dataMine finder namespace: channel names are
    * `<vera>.<zero-padded device>.<service>.<variable>`
    * (L_DataFinders.lua:352-356: `(self.vera or "DM") .. ".%03d"`,
    * display naming L_DataMineServer.lua:185-193), with intervals from
    * the channel's first/last samples. Input: one row per sample with
    * (device, service, variable, ts).
    */
  /** Channel path `<vera>.<%03d device>.<service>.<variable>`: the
    * reference's `%03d` PADS but never truncates (a bare lpad would
    * collide every device ≥ 1000 onto one 3-char channel id). One
    * shared expression so the finder namespace and the reader's fetch
    * keying can't drift apart.
    */
  private def dmPath(veraPrefix: String) = {
    val d = col("device").cast("string")
    concat_ws(".", lit(veraPrefix),
      when(length(d) >= 3, d).otherwise(lpad(d, 3, "0")),
      col("service"), col("variable"))
  }

  def datamineLeaves(points: DataFrame, veraPrefix: String = "DM"): DataFrame =
    points.groupBy(col("device"), col("service"), col("variable"))
      .agg(min(col("ts")).as("earliest"), max(col("ts")).as("latest"))
      .select(dmPath(veraPrefix).as("path"), col("earliest"), col("latest"))

  /** Union the finder namespaces with first-finder-wins leaf intervals:
    * one row per distinct leaf path, carrying (earliest, latest,
    * finder) from the lowest finder index that claims it.
    */
  def federate(finders: Seq[DataFrame]): DataFrame =
    finders.zipWithIndex.map { case (f, i) =>
      f.select(col("path"), col("earliest"), col("latest"),
        lit(i.toLong).as("finder"))
    }.reduce(_ unionByName _)
      .groupBy(col("path"))
      .agg(
        min_by(col("earliest"), col("finder")).as("earliest"),
        min_by(col("latest"), col("finder")).as("latest"),
        min(col("finder")).as("finder"))

  /** Federated /metrics/find: nodes over the union namespace; leaf
    * rows join their owning finder's intervals, branch rows carry
    * nulls (the reference's branch nodes have no reader,
    * L_DataGraphiteAPI.lua:155-163).
    */
  def find(finders: Seq[DataFrame], query: String): DataFrame =
    findIn(federate(finders), query)

  /** find over an already-federated leaf table — callers serving many
    * queries federate (and typically cache) once, then find per query;
    * re-federating per query would rebuild every finder's namespace
    * each time.
    */
  def findIn(leaves: DataFrame, query: String): DataFrame =
    MetricTree.find(leaves.select(col("path")), query).as("n")
      .join(leaves.as("l"),
        col("n.path") === col("l.path") && col("n.is_leaf") === 1L, "left")
      .select(col("n.path").as("path"), col("name"), col("is_leaf"),
        col("finder"), col("earliest"), col("latest"))

  /** The dataMine reader's fetch: the RAW samples inside [from, until],
    * NON-uniform — "a significant departure ... the time info step size
    * is nil" (L_DataFinders.lua:252-292): dataMine stores every change,
    * so the reader returns them as-is and the caller (the dataMine
    * server) resamples if it needs a grid (Datamine.resample).
    * Input: channel samples keyed by the federated channel path.
    */
  def datamineFetch(points: DataFrame, target: String,
                    from: Long, until: Long, veraPrefix: String = "DM"): DataFrame =
    points.select(dmPath(veraPrefix).as("path"), col("ts").as("t"), col("value"))
      .filter(col("path").rlike(Glob.queryToRegex(target, allowDeeper = false)))
      .filter(col("t").between(from, until))

  /** Store-style fetch through the federated namespace: each matched
    * leaf is served by its owning finder's reader — whisper leaves get
    * the dense quantized archive fetch, dataMine leaves the raw
    * non-uniform samples (the reference's LeafNode.fetch delegates to
    * its reader, L_DataGraphiteAPI.lua:188-191). dataMine channel paths
    * live under `<veraPrefix>.` (L_DataFinders.lua:352-356); a glob
    * whose first component could match BOTH namespaces (`*...`,
    * `{DM,vera}...`) fetches from both and unions — path namespaces are
    * disjoint, so each series still comes from exactly one reader.
    */
  def fetchRouted(spark: org.apache.spark.sql.SparkSession,
                  metrics: DataFrame, dmPoints: DataFrame, target: String,
                  spec: Seq[Retention.Archive], method: String, xff: Double,
                  from: Long, until: Long, now: Long,
                  veraPrefix: String = "DM"): DataFrame = {
    val dmOnly = target == veraPrefix || target.startsWith(veraPrefix + ".")
    lazy val dmSide = datamineFetch(dmPoints, target, from, until, veraPrefix)
    lazy val whisperSide =
      Fetch.fetch(spark, metrics, target, spec, method, xff, from, until, now)
        .select(col("path"), col("t"), col("value"))
    if (dmOnly) dmSide
    else {
      val firstComp = Glob.splitQuery(target).head
      val dmPossible = veraPrefix.matches(Glob.componentToRegex(firstComp))
      if (dmPossible) whisperSide.unionByName(dmSide) else whisperSide
    }
  }
}
