package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** F60 index lifecycle: save/load round trip (search bit-equal through
  * the persisted artifacts), extend ≡ rebuild-encode under the frozen
  * epoch-1 codebooks, epoch pinning/immutability, and the ready-marker
  * swap discipline (a partial epoch is invisible; a published one is
  * immutable).
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
  private val params = AnnIndex.Params(nCentroids = 16, nProbe = 4,
    m = 8, kc = 16, iters = 1, rateBp = 5000)

  private def freshRoot(): String =
    graft.core.Fixtures.fresh("annidx-spec")

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("q_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq

  test("save/load round trip: persisted search bit-equal to in-session") {
    val root = freshRoot()
    assert(AnnIndex.build(spark, e, params, root) == 1L)
    val idx = AnnIndex.load(spark, root)
    assert(idx.epoch == 1L && idx.params == params)
    val q = e.filter(col("vec_id") < 5)
    val persisted = collected(AnnIndex.search(q, idx, k = 3))
    val inSession = collected(Ann.ivfTopKPqTrained(q, e, 3,
      params.nCentroids, params.nProbe, params.m, params.kc,
      params.iters, params.rateBp))
    assert(persisted.nonEmpty && persisted == inSession)
  }

  test("extend == rebuild-encode under the frozen epoch-1 codebooks") {
    val root = freshRoot()
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val delta = e.filter(col("vec_id") % 3 === 0)
    AnnIndex.build(spark, base, params, root)
    val e1 = AnnIndex.load(spark, root)
    assert(AnnIndex.extend(spark, root, delta) == 2L)
    val e2 = AnnIndex.load(spark, root)
    // epoch 2's lists = a from-scratch encode of the UNION under the
    // frozen epoch-1 artifacts, row for row
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cent_id"),
          concat_ws(",", transform(col("pcode"),
            b => b.cast("int").cast("string"))).as("pc"))
        .orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val rebuilt = AnnIndex.encodeLists(e, e1.centroids, e1.book)
    assert(key(e2.lists) == key(rebuilt))
    // frozen books: epoch 2 carries epoch 1's codebook and centroids
    assert(e2.book.flatten.map(_.toSeq) == e1.book.flatten.map(_.toSeq))
    assert(e2.centroids.select("cent_id").orderBy("cent_id").collect().toSeq ==
      e1.centroids.select("cent_id").orderBy("cent_id").collect().toSeq)
  }

  test("epoch pinning: a reader at epoch 1 is untouched by the swap") {
    val root = freshRoot()
    val base = e.filter(col("vec_id") % 3 =!= 0)
    AnnIndex.build(spark, base, params, root)
    val pinned = AnnIndex.load(spark, root, Some(1L))
    val before = pinned.lists.count()
    AnnIndex.extend(spark, root, e.filter(col("vec_id") % 3 === 0))
    assert(AnnIndex.currentEpoch(spark, root) == 2L)
    // the pinned reader's segment set is immutable: same rows after
    // the swap, and a fresh epoch-1 load agrees
    assert(pinned.lists.count() == before)
    assert(AnnIndex.load(spark, root, Some(1L)).lists.count() == before)
    assert(AnnIndex.load(spark, root).lists.count() == e.count())
  }

  test("compact + vacuum: lossless merge, retention-safe reclaim") {
    val root = freshRoot()
    val third = (k: Int) => e.filter(col("vec_id") % 3 === k)
    AnnIndex.build(spark, third(0), params, root)
    AnnIndex.extend(spark, root, third(1))
    AnnIndex.extend(spark, root, third(2))
    val e3 = AnnIndex.load(spark, root)
    assert(e3.epoch == 3L)
    val q = e.filter(col("vec_id") < 5)
    val before = collected(AnnIndex.search(q, e3, k = 3))
    // compaction merges three segments into one; search is bit-equal
    assert(AnnIndex.compactSegments(spark, root) == 4L)
    val e4 = AnnIndex.load(spark, root)
    assert(e4.lists.inputFiles.length < e3.lists.inputFiles.length)
    assert(collected(AnnIndex.search(q, e4, k = 3)) == before)
    // the pre-compaction epoch is still pinnable (compact deletes nothing)
    assert(collected(AnnIndex.search(q,
      AnnIndex.load(spark, root, Some(3L)), k = 3)) == before)
    // vacuum keep=1: epochs 1-3 and their now-orphaned segments go;
    // the live epoch survives untouched and old pins fail loudly
    val (epochsGone, segsGone) = AnnIndex.vacuum(spark, root, keep = 1)
    assert(epochsGone == Seq(1L, 2L, 3L) && segsGone == Seq(1L, 2L, 3L))
    assert(AnnIndex.currentEpoch(spark, root) == 4L)
    assert(collected(AnnIndex.search(q, AnnIndex.load(spark, root), k = 3))
      == before)
    intercept[IllegalArgumentException](AnnIndex.load(spark, root, Some(3L)))
  }

  test("streaming extend: per-batch epochs, pinned readers unaffected") {
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot()
    AnnIndex.build(spark, e.filter(col("vec_id") % 3 === 0), params, root)
    val rows = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = AnnIndex.extendSink(
      source.toDF().toDF("vec_id", "embedding")
        .selectExpr("vec_id", "cast(embedding as array<float>) as embedding"),
      root, graft.core.Fixtures.fresh("annidx-ck"))
    try {
      source.addData(rows.filter(_._1 % 3 == 1).toSeq: _*)
      q.processAllAvailable()
      assert(AnnIndex.currentEpoch(spark, root) == 2L)
      source.addData(rows.filter(_._1 % 3 == 2).toSeq: _*)
      q.processAllAvailable()
      assert(AnnIndex.currentEpoch(spark, root) == 3L)
    } finally q.stop()
    // the streamed index holds every vector exactly once, and equals
    // the batch-extended form (encode is deterministic per row)
    val idx = AnnIndex.load(spark, root)
    assert(idx.lists.count() == e.count())
    assert(idx.lists.select("vec_id").distinct().count() == e.count())
  }

  test("replayed batch id: segment set and epoch chain unchanged, search identical") {
    val root = freshRoot()
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val delta = e.filter(col("vec_id") % 3 === 0)
    AnnIndex.build(spark, base, params, root)
    assert(AnnIndex.extendOnce(delta, root, batchId = 7L))
    def state = (
      new java.io.File(root).listFiles().map(_.getName).sorted.toSeq,
      AnnIndex.readyEpochs(spark, root).sorted)
    val committed = state
    val q = e.filter(col("vec_id") < 5)
    val before = collected(AnnIndex.search(q, AnnIndex.load(spark, root), k = 3))
    // foreachBatch at-least-once: the replayed id is skipped whole —
    // no new segment, no new epoch, results identical
    assert(!AnnIndex.extendOnce(delta, root, batchId = 7L))
    assert(state == committed)
    assert(collected(AnnIndex.search(q, AnnIndex.load(spark, root), k = 3))
      == before)
    // every vector exactly once (the lists.count == corpus.count
    // invariant a replayed re-encode would break)
    val idx = AnnIndex.load(spark, root)
    assert(idx.lists.count() == e.count())
    assert(idx.lists.select("vec_id").distinct().count() == e.count())
  }

  test("composed maintenance: long batch chain keeps segments and epochs bounded") {
    val root = freshRoot()
    val n = e.count()
    val slice = (k: Int) => e.filter(col("vec_id") % 12 === k)
    AnnIndex.build(spark, slice(0), params, root)
    // 11 micro-batches with compact-every-3 + vacuum-keep-2 — the G26
    // loop pattern applied to F60
    for (k <- 1 until 12)
      assert(AnnIndex.extendOnce(slice(k), root, k.toLong,
        compactEvery = 3, vacuumKeep = 2))
    // bounded steady state: the live epoch reads ≤ compactEvery
    // segments, retention keeps ≤ vacuumKeep epochs, and the on-disk
    // segment set is only what surviving epochs reference
    val idx = AnnIndex.load(spark, root)
    assert(idx.lists.inputFiles.nonEmpty)
    val liveSegs = new java.io.File(root).listFiles()
      .count(_.getName.startsWith("seg="))
    assert(AnnIndex.readyEpochs(spark, root).size <= 2)
    assert(liveSegs <= 3 + 1, s"live segments: $liveSegs") // ≤ K live + ≤1 shared tail
    // lossless throughout: every vector exactly once, search equals a
    // maintenance-free chain over the same corpus
    assert(idx.lists.count() == n)
    assert(idx.lists.select("vec_id").distinct().count() == n)
    val q = e.filter(col("vec_id") < 5)
    val plain = freshRoot()
    AnnIndex.build(spark, slice(0), params, plain)
    for (k <- 1 until 12) AnnIndex.extend(spark, plain, slice(k))
    assert(collected(AnnIndex.search(q, AnnIndex.load(spark, root), k = 3)) ==
      collected(AnnIndex.search(q, AnnIndex.load(spark, plain), k = 3)))
  }

  test("delete: tombstones hide vectors, pinned readers keep them, compaction purges") {
    val root = freshRoot()
    AnnIndex.build(spark, e, params, root)
    val doomed = e.filter(col("vec_id") % 17 === 0).select(col("vec_id"))
    val nDoomed = doomed.count()
    assert(AnnIndex.delete(spark, root, doomed) == 2L)
    // live view: every tombstoned id gone, everything else intact
    val idx2 = AnnIndex.load(spark, root)
    assert(idx2.lists.count() == e.count() - nDoomed)
    assert(idx2.lists.filter(col("vec_id") % 17 === 0).isEmpty)
    // a deleted vector appears in NO search result
    val q = e.filter(col("vec_id") < 5)
    val got = AnnIndex.search(q, idx2, k = 3)
    assert(got.filter(col("vec_id") % 17 === 0).isEmpty)
    // the pinned epoch-1 reader still has the full index (immutability)
    assert(AnnIndex.load(spark, root, Some(1L)).lists.count() == e.count())
    // compaction purges physically: epoch 3 has no tombstone table,
    // same live rows, identical search
    val before = collected(got)
    assert(AnnIndex.compactSegments(spark, root) == 3L)
    assert(!new java.io.File(s"$root/epoch=3/tombstones").exists)
    val idx3 = AnnIndex.load(spark, root)
    assert(idx3.lists.count() == e.count() - nDoomed)
    assert(collected(AnnIndex.search(q, idx3, k = 3)) == before)
    // deletes ACCUMULATE across epochs until a compaction
    AnnIndex.delete(spark, root,
      e.filter(col("vec_id") % 17 === 1).select(col("vec_id")))
    val idx4 = AnnIndex.load(spark, root)
    assert(idx4.lists.filter(col("vec_id") % 17 === 1).isEmpty)
    assert(idx4.lists.count() ==
      e.filter(col("vec_id") % 17 =!= 1).count() - nDoomed)
  }

  test("swap discipline: partial epochs invisible, published ones immutable") {
    val root = freshRoot()
    // no ready epoch → loud
    intercept[IllegalArgumentException](AnnIndex.currentEpoch(spark, root))
    AnnIndex.build(spark, e, params, root)
    // a second build on a published root is refused
    intercept[IllegalArgumentException](AnnIndex.build(spark, e, params, root))
    // a partially-written epoch (dir exists, marker absent) stays
    // invisible to the pointer and unloadable
    Seq((99L, 0L)).toDF("seg", "junk").write
      .parquet(s"$root/epoch=7/segments")
    assert(AnnIndex.currentEpoch(spark, root) == 1L)
    intercept[IllegalArgumentException](AnnIndex.load(spark, root, Some(7L)))
  }

  test("rebuild cutover: alias follows the swap, concurrent readers keep their root") {
    val alias = freshRoot()
    val base = e.filter(col("vec_id") % 3 =!= 0)
    // no published generation → loud; cutover to a rootless dir → loud
    intercept[IllegalArgumentException](AnnIndex.currentRoot(spark, alias))
    intercept[IllegalArgumentException](
      AnnIndex.cutover(spark, alias, s"$alias/roots/none"))
    AnnIndex.build(spark, base, params, s"$alias/roots/r1")
    assert(AnnIndex.cutover(spark, alias, s"$alias/roots/r1") == 1L)
    assert(AnnIndex.currentRoot(spark, alias) == s"$alias/roots/r1")
    // a reader pins gen 1 (the base-trained index)...
    val pinned = AnnIndex.loadCurrent(spark, alias)
    val q = e.filter(col("vec_id") < 5)
    val beforeCut = collected(AnnIndex.search(q, pinned, k = 3))
    // ...the corpus shifts; a REBUILD retrains under a fresh root and
    // cuts over — one marker creation, the old root untouched
    AnnIndex.build(spark, e, params, s"$alias/roots/r2")
    assert(AnnIndex.cutover(spark, alias, s"$alias/roots/r2") == 2L)
    // the pinned reader's answers are bit-identical across the cutover
    assert(collected(AnnIndex.search(q, pinned, k = 3)) == beforeCut)
    // a fresh loadCurrent follows the alias to the rebuilt index — the
    // full fresh build, exactly
    val current = AnnIndex.loadCurrent(spark, alias)
    val fresh = collected(Ann.ivfTopKPqTrained(q, e, 3,
      params.nCentroids, params.nProbe, params.m, params.kc,
      params.iters, params.rateBp))
    assert(collected(AnnIndex.search(q, current, k = 3)) == fresh)
    // generation retention: vacuum keeps the newest, deletes gen 1's
    // marker, pointer, and whole root
    assert(AnnIndex.vacuumAlias(spark, alias, keep = 1) == Seq(1L))
    assert(AnnIndex.currentRoot(spark, alias) == s"$alias/roots/r2")
    assert(!new java.io.File(s"$alias/roots/r1").exists)
    assert(collected(AnnIndex.search(q,
      AnnIndex.loadCurrent(spark, alias), k = 3)) == fresh)
  }
}
