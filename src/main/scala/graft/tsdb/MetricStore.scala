package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized metric storage — the 100 TB posture (SURVEY.md §6).
  *
  * Raw points and each rollup archive persist as parquet partitioned by
  * day bucket, so a fetch prunes partitions by time range before any IO,
  * and the path predicate reaches the parquet scan: globs compile to an
  * `rlike` PLUS a literal-prefix `startswith` conjunct — parquet can't
  * push regexes, but it pushes StringStartsWith, which covers the
  * common `host.cpu.*`-shaped queries' IO.
  */
object MetricStore {

  val DaySeconds = 86400L

  /** Materialize the whole archive cascade under `root/step=<s>/`,
    * each level day-partitioned and derived from the previous level,
    * plus the metric path index at `root/paths` (the finder tree's
    * backing set — metadata-sized even at 100 TB, and the source of a
    * fetch's grid so idle metrics still return their null rows).
    */
  def writeArchives(metrics: DataFrame, spec: Seq[Retention.Archive],
                    method: String, xff: Double, root: String): Unit = {
    val spark = metrics.sparkSession
    // each level is written once, then the NEXT propagation reads the
    // parquet just written: lazy Rollup.archives plans all chain from
    // the raw scan, so writing them directly would re-execute level j
    // (L - j) times — quadratic repeated shuffle work at 100 TB
    var prev: DataFrame = null
    var prevStep = 0L
    spec.zipWithIndex.foreach { case (a, i) =>
      val level =
        if (i == 0) Rollup.rollup(metrics, a.secondsPerPoint, method)
        else Rollup.propagate(prev, prevStep, a.secondsPerPoint, method, xff)
      level
        .withColumn("day", col("bucket") - col("bucket") % DaySeconds)
        .repartition(col("day"))
        .write.partitionBy("day").mode("overwrite")
        .parquet(s"$root/step=${a.secondsPerPoint}")
      prev = spark.read.parquet(s"$root/step=${a.secondsPerPoint}")
      prevStep = a.secondsPerPoint
    }
    metrics.select(col("path")).distinct().coalesce(1)
      .write.mode("overwrite").parquet(s"$root/paths")
  }

  /** Glob → scan-pushable predicate: rlike for exactness, plus the
    * glob's literal prefix as a startswith conjunct (pushed as
    * StringStartsWith; EqualTo when the glob has no metacharacters).
    */
  def pathPredicate(target: String): Column = {
    val metaIdx = target.indexWhere(c => "*?{".indexOf(c) >= 0)
    val exact = col("path").rlike(Glob.queryToRegex(target, allowDeeper = false))
    if (metaIdx < 0) col("path") === target
    else if (metaIdx > 0) col("path").startsWith(target.substring(0, metaIdx)) && exact
    else exact
  }

  /** B16: the SCHEMA-DRIVEN store — the reference's carbon daemon
    * creates each whisper file from its FIRST matching storage-schemas
    * and storage-aggregation rules (L_DataCache.lua:55-76 via
    * [[Conf.storageMatch]]; the single-spec [[writeArchives]] is the
    * one-rule special case). The same conf tables drive the parquet
    * store: paths partition into RULE GROUPS — the distinct
    * (retentions, method, xff) combos the rule tables produce, K of
    * them because confs are human-written — each group's cascade
    * materializes under `root/grp=<i>/` by writeArchives with ITS
    * parameters, and the top-level `root/paths` index carries
    * (path, grp, retentions, agg_method, xff), so a fetch resolves a
    * target's groups as K-row METADATA before any datapoint scan.
    * Returns the combo table in group order (grp i = combos(i)).
    */
  def writeArchivesConf(metrics: DataFrame, schemas: Seq[Conf.SchemaEntry],
                        aggs: Seq[Conf.AggEntry],
                        root: String): Seq[(String, String, Double)] = {
    val matched = Conf.storageMatch(col("path"), schemas, aggs)
    val annotated = metrics.select(col("path"), col("ts"), col("value"),
      matched(1), matched(2), matched(3)) // retentions, agg_method, xff
    val combos = annotated.select(col("retentions"), col("agg_method"), col("xff"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(c => (c._1, c._2, c._3)).toSeq
    combos.zipWithIndex.foreach { case ((ret, method, xff), i) =>
      val sub = annotated
        .filter(col("retentions") === ret && col("agg_method") === method &&
          col("xff") === xff)
        .select(col("path"), col("ts"), col("value"))
      writeArchives(sub, Retention.parse(ret), method, xff, s"$root/grp=$i")
    }
    val grpCol = combos.zipWithIndex.map { case ((ret, method, xff), i) =>
      when(col("retentions") === ret && col("agg_method") === method &&
        col("xff") === xff, lit(i))
    }.reduce((a, b) => coalesce(a, b))
    annotated.select(col("path"), col("retentions"), col("agg_method"),
        col("xff")).distinct()
      .withColumn("grp", grpCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/paths")
    combos
  }

  /** Fetch from the schema-driven store: the target's matching paths
    * resolve their rule groups off the K-row index (metadata — the
    * same list graphite derives from its file tree), then each group
    * runs [[fetchStored]] under ITS retention spec (archive selection,
    * pruned scan, dense grid over the group's own path set) and the
    * groups union. Different groups legitimately answer on different
    * grids — per-path retention IS per-path grids, whisper's own
    * semantics (each .wsp carries its own archives).
    */
  def fetchStoredConf(spark: SparkSession, root: String, target: String,
                      fromTime: Long, untilTime: Long, now: Long,
                      maxPoints: Option[Int] = None): DataFrame = {
    val combos = spark.read.parquet(s"$root/paths")
      .filter(pathPredicate(target))
      .select(col("grp"), col("retentions")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    if (combos.isEmpty) Fetch.emptyFetch(spark)
    else combos.map { case (grp, ret) =>
      fetchStored(spark, s"$root/grp=$grp", Retention.parse(ret), target,
        fromTime, untilTime, now, maxPoints)
    }.reduce(_ unionByName _)
  }

  /** Compact a day-partitioned point store (B15): streaming ingest
    * ([[graft.streaming.CarbonStream.ingestSink]]) lands one parquet
    * file per micro-batch per day — at a micro-batch every few seconds
    * that is ~20k files/day/partition-dir, the classic streaming
    * small-file problem that turns a pruned fetch into a
    * metadata-listing storm at 100 TB. Each day's rows rewrite into
    * ~one file (repartition BY the day column: a whole day hashes to
    * one task), sorted by (path, ts) WITHIN files so parquet
    * row-group min/max statistics prune the fetch's pushed
    * StringStartsWith/EqualTo path predicates inside the day too —
    * compaction buys back both the file count and intra-day IO.
    *
    * Writes to `dstDir` (a store cannot atomically overwrite itself —
    * the swap is the caller's rename, the standard compact-and-swap);
    * only days strictly BEFORE `beforeDay` move (CLOSED days — the day
    * still receiving micro-batches keeps appending in `srcDir`, the
    * watermark discipline). Lossless by construction: one shuffle, no
    * aggregation — pinned by the driver oracle (compacted scan ≡ the
    * raw point set) and the file-count spec.
    */
  def compactRaw(spark: SparkSession, srcDir: String, dstDir: String,
                 beforeDay: Long = Long.MaxValue): Unit =
    spark.read.parquet(srcDir)
      .filter(col("day") < beforeDay)
      .repartition(col("day"))
      .sortWithinPartitions(col("day"), col("path"), col("ts"))
      .write.partitionBy("day").mode("overwrite").parquet(dstDir)

  // ---- G26: the MAINTAINED store — hot appends + cold compacted days

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The day set of ANY day-partitioned store — K-row metadata read off
    * the directory names (one listing, never a data scan). This is the
    * watermark/pointer primitive everywhere: the cold published set,
    * the hot live-day watermark, and a merge's touched and staged days
    * all derive from names, so no maintenance decision ever pays a data
    * scan of the store it maintains.
    */
  def dayDirs(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = hadoopFs(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("day=") => n.stripPrefix("day=").toLong }
      .sorted
  }

  /** The cold store's published day set. */
  def coldDays(spark: SparkSession, coldDir: String): Seq[Long] =
    dayDirs(spark, coldDir)

  /** G26 maintenance tick: compact every CLOSED hot day (strictly
    * before `beforeDay`, not yet cold) into the cold store. One
    * [[compactRaw]]-shaped job writes the closed days into an
    * underscore-prefixed staging dir (invisible to parquet listings),
    * then each day PUBLISHES via one directory rename — atomic at the
    * name level, so a concurrent reader sees a day's cold copy
    * entirely or not at all, never a partial file set. The hot copy is
    * NOT deleted here: a reader that resolved its day list before the
    * rename is still scanning it — [[cleanupHot]] reclaims it on a
    * LATER tick (the grace rule), which is what makes the swap safe
    * without a lock. Work ∝ the closed days' rows (typically one day),
    * never the store. Returns the days published.
    */
  def compactTick(spark: SparkSession, hotDir: String, coldDir: String,
                  beforeDay: Long): Seq[Long] = {
    val already = coldDays(spark, coldDir).toSet
    val (fs, coldP) = hadoopFs(spark, coldDir)
    val hot = spark.read.parquet(hotDir)
    // partition values read back type-inferred from directory names
    // (INT for small day buckets) — normalize to long
    val days = hot.select(col("day").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
      .filter(d => d < beforeDay && !already.contains(d)).sorted
    if (days.isEmpty) Seq.empty
    else {
      val staging = s"$coldDir/_staging"
      // project to the point columns: the maintained sink's hot layout
      // carries an ingest_batch partition (replay idempotence) that
      // must not leak into the cold store's data columns
      hot.filter(col("day").isin(days.map(d => d: Any): _*))
        .select(col("path"), col("ts"), col("value"), col("day"))
        .repartition(col("day"))
        .sortWithinPartitions(col("day"), col("path"), col("ts"))
        .write.partitionBy("day").mode("overwrite").parquet(staging)
      fs.mkdirs(coldP)
      days.foreach { d =>
        val ok = fs.rename(
          new org.apache.hadoop.fs.Path(s"$staging/day=$d"),
          new org.apache.hadoop.fs.Path(s"$coldDir/day=$d"))
        require(ok, s"compactTick: publishing day=$d failed (exists?)")
      }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      days
    }
  }

  /** Reclaim hot copies of days the cold store has published. Run on a
    * tick AFTER the one that compacted them (the grace rule): any
    * reader concurrent with that earlier tick resolved its plan
    * against a day list from before the publication and may still be
    * scanning the hot copy. Returns the days deleted.
    */
  def cleanupHot(spark: SparkSession, hotDir: String, coldDir: String): Seq[Long] = {
    val cold = coldDays(spark, coldDir).toSet
    val (fs, hotP) = hadoopFs(spark, hotDir)
    if (!fs.exists(hotP)) Seq.empty
    else fs.listStatus(hotP).map(_.getPath).toSeq
      .filter(p => p.getName.startsWith("day=") &&
        cold.contains(p.getName.stripPrefix("day=").toLong))
      .map { p => fs.delete(p, true); p.getName.stripPrefix("day=").toLong }
      .sorted
  }

  /** RETENTION ageing for the maintained store — whisper's
    * maxRetention semantics on parquet (L_DataWhisper.lua: the ring
    * buffer OVERWRITES slots older than the archive's horizon, so old
    * points simply cease to exist; a day-partitioned store instead
    * grows forever unless someone drops the old days). Applies the
    * horizon at DAY granularity: every cold and hot day dir strictly
    * before `beforeDay` deletes — name-level metadata ops off the
    * directory listings, never a data scan, exactly the
    * [[graft.similarity.AnnIndex.vacuum]] shape for the metric side.
    * Readers concurrent with the vacuum follow the same retention
    * contract as every such system: pin + finish within the horizon.
    * Returns the days dropped (deduplicated across stores).
    */
  def retentionVacuum(spark: SparkSession, hotDir: String, coldDir: String,
                      beforeDay: Long): Seq[Long] = {
    // persist the horizon FIRST (before any delete): a vacuum that dies
    // mid-pass must still forbid a very-late point from resurrecting a
    // half-aged day as on-time on the next tick
    writeHorizon(spark, coldDir, beforeDay)
    def dropOld(dir: String): Seq[Long] = {
      val (fs, p) = hadoopFs(spark, dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath).toSeq
        .filter(q => q.getName.startsWith("day=") &&
          q.getName.stripPrefix("day=").toLong < beforeDay)
        .map { q => fs.delete(q, true); q.getName.stripPrefix("day=").toLong }
    }
    (dropOld(coldDir) ++ dropOld(hotDir)).distinct.sorted
  }

  /** The PERSISTED retention horizon — `_horizon_<day>` markers under
    * the cold root (atomic name-level creation, the `_ready_epoch`
    * discipline). Without it, retention is only as durable as the day
    * dirs it deleted: a very-late point for an aged-out day would be
    * classified ON-TIME by the next tick (its day is in no listing)
    * and resurrect a day older than the horizon until the next vacuum.
    * [[graft.streaming.CarbonStream.maintainTick]] drops sub-horizon
    * points at the door instead — whisper's own rule (a timestamp
    * beyond maxRetention is rejected at update, L_DataWhisper.lua's
    * archive-range check).
    */
  def readHorizon(spark: SparkSession, coldDir: String): Long = {
    val (fs, p) = hadoopFs(spark, coldDir)
    if (!fs.exists(p)) 0L
    else {
      val hs = fs.listStatus(p).map(_.getPath.getName)
        .collect { case n if n.startsWith("_horizon_") =>
          n.stripPrefix("_horizon_").toLong }
      if (hs.isEmpty) 0L else hs.max
    }
  }

  private def writeHorizon(spark: SparkSession, coldDir: String,
                           beforeDay: Long): Unit = {
    val old = readHorizon(spark, coldDir)
    if (beforeDay > old) {
      val (fs, p) = hadoopFs(spark, coldDir)
      fs.mkdirs(p)
      fs.createNewFile(new org.apache.hadoop.fs.Path(p, s"_horizon_$beforeDay"))
      if (old > 0L)
        fs.delete(new org.apache.hadoop.fs.Path(p, s"_horizon_$old"), false): Unit
    }
  }

  /** The one last-write-wins store merge — Whisper's unconditional
    * slot overwrite (L_DataWhisper.lua:331-354) on a day-partitioned
    * parquet store, shared by the G6 upsert sink
    * ([[graft.streaming.CarbonStream.mergeBatch]]) and the maintained
    * sink's late points ([[graft.streaming.CarbonStream.maintainTick]]
    * folds them straight into cold). `points` carries only `days`; of
    * those, the days the store already holds (known from its day-dir
    * names) are read as explicit day dirs, merged with `points` through
    * Rollup.upsert (the incoming write wins its slot), written as one
    * sorted file per day into `_foldstage` (underscore: invisible to
    * readers), and each day then PUBLISHES by one rename — an existing
    * day's old copy is deleted first. The read and the write never
    * share files, so no lineage truncation is needed: a lost executor
    * recomputes from the old copies, still intact until the publish.
    *
    * Crash-safe at every point: the recovery pass at the start of each
    * call finishes a publish a prior call died in — a staged day whose
    * live copy is absent renames in, a staged day whose live copy still
    * exists is stale and drops. Until it runs, readers miss at most that
    * one day (the pin-and-finish window every retention system
    * documents). A crash before the publish leaves the store as it was,
    * except that a day the store did not hold yet may publish from a
    * half-written stage; either way the caller's `_txn` marker was never
    * written, so the replayed batch re-merges and last-write-wins
    * converges to the same values.
    */
  def mergeDays(spark: SparkSession, dir: String, points: DataFrame,
                days: Seq[Long]): Unit = {
    val stage = s"$dir/_foldstage"
    val (fs, _) = hadoopFs(spark, dir)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    dayDirs(spark, stage).foreach { d =>
      if (!fs.exists(path(s"$dir/day=$d")))
        require(fs.rename(path(s"$stage/day=$d"), path(s"$dir/day=$d")),
          s"mergeDays: recovery of day=$d failed")
    }
    fs.delete(path(stage), true)
    if (days.nonEmpty) {
      val incoming = points.select(col("path"), col("ts"), col("value"))
      val held = days.toSet.intersect(dayDirs(spark, dir).toSet).toSeq
      val existing =
        if (held.isEmpty) incoming.limit(0)
        else spark.read.parquet(held.map(d => s"$dir/day=$d"): _*)
          .select(col("path"), col("ts"), col("value"))
      Rollup.upsert(existing, incoming)
        .withColumn("day", col("ts") - col("ts") % DaySeconds)
        .repartition(col("day"))
        .sortWithinPartitions(col("day"), col("path"), col("ts"))
        .write.partitionBy("day").mode("overwrite").parquet(stage)
      dayDirs(spark, stage).foreach { d =>
        fs.delete(path(s"$dir/day=$d"), true)
        require(fs.rename(path(s"$stage/day=$d"), path(s"$dir/day=$d")),
          s"mergeDays: publishing day=$d failed")
      }
      fs.delete(path(stage), true)
    }
  }

  /** Maintained-store OBSERVABILITY (VERDICT r11 #7): one row per
    * section — hot, cold, late — with day count, row count, and file
    * count, so the failure modes the maintenance loop guards against
    * (small-file regrowth, a stuck compactor, a stuck late merge) are
    * VISIBLE as numbers before they degrade reads. The late section
    * counts `<cold>/_foldstage`: late rows [[mergeDays]] merged and
    * staged but has not published yet. Its steady state is (0, 0, 0);
    * anything else means a merge died mid-publish and the next tick's
    * recovery pass has not run. Day and row counts are data-derivable
    * (the `store_report` oracle recomputes them from the source
    * routing); file counts are filesystem facts the spec pins.
    */
  def storeReport(spark: SparkSession, hotDir: String,
                  coldDir: String): DataFrame = {
    import spark.implicits._
    def section(name: String, dir: String): (String, Long, Long, Long) = {
      val days = dayDirs(spark, dir)
      val (fs, _) = hadoopFs(spark, dir)
      val nFiles = days.map { d =>
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/day=$d"), true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }.sum
      val nRows = if (days.isEmpty) 0L else spark.read.parquet(dir).count()
      (name, days.size.toLong, nRows, nFiles)
    }
    Seq(section("cold", coldDir), section("hot", hotDir),
      section("late", s"$coldDir/_foldstage"))
      .toDF("section", "n_days", "n_rows", "n_files")
  }

  /** One consistent scan of the maintained store: the cold copy wins
    * for every published day, the hot copy serves the rest (the live
    * day and any not-yet-compacted closed day). The day list resolves
    * ONCE, here, so the frame this returns reads one layout per day
    * for its whole lifetime — combined with the rename publication and
    * the deferred hot delete, a read concurrent with a maintenance
    * tick sees the old layout or the new one, never a mix. Late points
    * are already in cold ([[mergeDays]] folds them in the tick that
    * receives them), so the read is a join-free union of two scans.
    */
  def readMaintained(spark: SparkSession, hotDir: String,
                     coldDir: String): DataFrame = {
    val cold = coldDays(spark, coldDir)
    // a hot store with no day dirs (brand-new store, or a paused
    // stream whose closed days all compacted) has no schema to infer —
    // the maintained read must still answer from cold (or be typed
    // empty), not throw
    val (fs, hotP) = hadoopFs(spark, hotDir)
    val hotHasDays = fs.exists(hotP) &&
      fs.listStatus(hotP).exists(_.getPath.getName.startsWith("day="))
    def coldAll = spark.read.parquet(coldDir)
      .select(col("path"), col("ts"), col("value"), col("day").cast("long").as("day"))
    if (!hotHasDays) {
      if (cold.nonEmpty) coldAll
      else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.LongType))))
    } else {
      val hotAll = spark.read.parquet(hotDir)
        .select(col("path"), col("ts"), col("value"),
          col("day").cast("long").as("day"))
      if (cold.isEmpty) hotAll
      else hotAll.filter(!col("day").isin(cold.map(d => d: Any): _*))
        .unionByName(coldAll)
    }
  }

  /** Fetch from the materialized store: archive selection as in
    * Fetch.select, then a pruned scan of just that archive level and
    * day range, then the dense grid join. The grid's path set comes
    * from the path index (glob pushed as StringStartsWith there too),
    * NOT the day-pruned scan — an idle metric still yields its null
    * rows, matching Fetch.fetch and the reference's Whisper semantics.
    * Gaps stay null, as in Fetch.fetch: gap fill is svg-render
    * presentation (L_DataGraph.lua:221-230), not fetch semantics.
    */
  def fetchStored(spark: SparkSession, root: String, spec: Seq[Retention.Archive],
                  target: String, fromTime: Long, untilTime: Long, now: Long,
                  maxPoints: Option[Int] = None): DataFrame =
    Fetch.select(spec, fromTime, untilTime, now, maxPoints) match {
      case None => Fetch.emptyFetch(spark)
      case Some(Fetch.Clamped(from, until, archive)) =>
        val step = archive.secondsPerPoint
        val fromQ = from - from % step
        val untilQ = until - until % step
        val pathsDf = spark.read.parquet(s"$root/paths").filter(pathPredicate(target))
        val scan = spark.read.parquet(s"$root/step=$step")
          .filter(col("day").between(fromQ - fromQ % DaySeconds, untilQ)) // partition pruning
          .filter(pathPredicate(target))
        Fetch.fetchDensePaths(pathsDf, scan, step, from, until)
    }
}
