package graft.tsdb

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.Whisper

/** Round-trip specs for the reference's text-packed whisper file
  * format (L_DataWhisper.lua).
  */
class WhisperSpec extends SparkSpec {

  private def tmpDir(): String =
    graft.core.Fixtures.fresh("wsp")

  test("pack units have the exact reference byte sizes") {
    assert(Whisper.packPoint(0L, 0.0).length == Whisper.PointSize)
    assert(Whisper.packPoint(1706097600L, -123456.789012345).length == Whisper.PointSize)
    assert(Whisper.packMetadata(1, 86400L, 0.5, 3).length == Whisper.MetadataSize)
    assert(Whisper.packArchiveInfo(156, 60L, 1440).length == Whisper.ArchiveInfoSize)
    // %g renders like C printf (trailing zeros stripped), as Lua does
    assert(Whisper.packPoint(60L, 0.5) == "         60,                    0.5\n")
    assert(Whisper.packMetadata(1, 4294967296L, 0.5, 1) ==
      "          1, 4294967296,        0.5,          1\n")
  }

  test("create + header round-trip (multi-archive offsets)") {
    val d = tmpDir()
    val f = s"$d/vera.u1a.click.wsp"
    Whisper.create(f, Seq((60L, 10), (600L, 6)), 0.5, "sum")
    val h = Whisper.parseHeader(Files.readAllBytes(Paths.get(f)))
    assert(h.aggregationMethod == "sum")
    assert(h.xFilesFactor == 0.5)
    assert(h.maxRetention == 3600L)
    assert(h.archives == Seq(
      Whisper.ArchiveInfo(48 + 2 * 36, 60L, 10),
      Whisper.ArchiveInfo(48 + 2 * 36 + 10 * 36, 600L, 6)))
    // fresh file: every slot zero-filled, no live points
    assert(Whisper.filePoints(Files.readAllBytes(Paths.get(f))).isEmpty)
  }

  test("unknown aggregationType degrades to 'average', not a crash") {
    val d = tmpDir()
    val f = s"$d/bad.agg.wsp"
    Whisper.create(f, Seq((60L, 4)), 0.5, "max")
    val bytes = Files.readAllBytes(Paths.get(f))
    // corrupt the aggregationType field to 9 (no such method) — the
    // reference's `aggregationTypeToMethod[t] or 'average'`
    val patched = Whisper.packMetadata(9, 240L, 0.5, 1).getBytes("US-ASCII")
    System.arraycopy(patched, 0, bytes, 0, patched.length)
    assert(Whisper.parseHeader(bytes).aggregationMethod == "average")
  }

  test("update quantizes, overwrites its slot, and wraps the ring") {
    val d = tmpDir()
    val f = s"$d/m.wsp"
    Whisper.create(f, Seq((60L, 5)), 0.5, "average")
    Seq(60L, 120L, 180L, 240L, 300L).zipWithIndex.foreach { case (t, i) =>
      Whisper.update(f, t, i + 1.0)
    }
    def pts() = Whisper.filePoints(Files.readAllBytes(Paths.get(f)))
      .map { case (_, _, ts, v) => (ts, v) }.sortBy(_._1)
    assert(pts() == Seq((60L, 1.0), (120L, 2.0), (180L, 3.0), (240L, 4.0), (300L, 5.0)))
    // t=367 quantizes to 360, slot 6 % 5 = 1 — evicts ts=60
    Whisper.update(f, 367L, 9.0)
    assert(pts() == Seq((120L, 2.0), (180L, 3.0), (240L, 4.0), (300L, 5.0), (360L, 9.0)))
    // same-slot rewrite replaces the value
    Whisper.update(f, 360L, 11.5)
    assert(pts().last == (360L, 11.5))
  }

  test("unpack tokenization survives nil fields like the reference") {
    val d = tmpDir()
    val f = s"$d/m.wsp"
    Whisper.create(f, Seq((60L, 3)), 0.5, "average")
    Whisper.update(f, 60L, 1.0)
    Whisper.update(f, 120L, 2.0)
    // hand-corrupt slot 2's value to the reference's packed 'nil'
    // (None(): right-aligned in the 23-char double field)
    val bytes = Files.readAllBytes(Paths.get(f))
    val ai = Whisper.parseHeader(bytes).archives.head
    val nilPoint = f"${120L}%11d," + (" " * 20) + "nil\n"
    assert(nilPoint.length == Whisper.PointSize)
    System.arraycopy(nilPoint.getBytes(US_ASCII), 0, bytes,
      ai.offset + 2 * Whisper.PointSize, Whisper.PointSize)
    Files.write(Paths.get(f), bytes)
    val pts = Whisper.filePoints(bytes).map { case (_, _, ts, v) => (ts, v) }
    assert(pts == Seq((60L, 1.0))) // live slot kept, nil slot dropped
  }

  test("a .wsp tree plugs into the federated finder (migration loop)") {
    val d = tmpDir()
    Whisper.create(s"$d/vera.u1a.click.wsp", Seq((60L, 10)), 0.5, "average")
    Whisper.create(s"$d/vera.u1b.temp.wsp", Seq((60L, 10)), 0.5, "max")
    Whisper.update(s"$d/vera.u1a.click.wsp", 120L, 1.0)
    Whisper.update(s"$d/vera.u1a.click.wsp", 300L, 2.0)
    Whisper.update(s"$d/vera.u1b.temp.wsp", 240L, 3.0)
    // whisperLeaves only needs (path, ts): the file reader's output
    // federates like any other finder namespace
    val leaves = Finders.whisperLeaves(Whisper.read(spark, d))
    val found = Finders.find(Seq(leaves), "vera.*.*").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(found.toSeq == Seq(
      ("vera.u1a.click", 1L, 120L, 300L),
      ("vera.u1b.temp", 1L, 240L, 240L)))
    val branches = Finders.find(Seq(leaves), "vera.*").collect()
    assert(branches.forall(_.getLong(2) == 0L)) // branch nodes, null intervals
  }

  test("fetchFiles falls back to the coarse archive when from outruns the fine one") {
    val d = tmpDir()
    val f = s"$d/m.wsp"
    // fine: 600s × 4 (40 min), coarse: 3600s × 12 (12 h)
    Whisper.create(f, Seq((600L, 4), (3600L, 12)), 0.5, "average")
    val base = 1706097600L
    Whisper.update(f, base + 3600L, 5.0, archive = 1)
    val now = base + 7200L
    // from is 2 h back — beyond the fine archive's 40 min reach, inside
    // the coarse one: selection must land on archive 1 (spp 3600)
    val rows = Whisper.fetchFiles(spark, d, "m", base, base + 7200L, now)
      .collect().map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(base, base + 3600L, base + 7200L))
    assert(rows.toMap.apply(base + 3600L).contains(5.0))
    assert(rows.toMap.apply(base).isEmpty) // gap stays a raw null
    // a window entirely beyond retention yields no rows for the path
    val none = Whisper.fetchFiles(spark, d, "m", base - 400000L, base - 300000L, now)
    assert(none.count() == 0)
  }

  test("distributed read: every *.wsp under a dir, path from file name") {
    val d = tmpDir()
    Whisper.create(s"$d/vera.u1a.click.wsp", Seq((60L, 10)), 0.5, "average")
    Whisper.create(s"$d/vera.u1b.temp.wsp", Seq((60L, 10), (600L, 4)), 0.5, "max")
    Whisper.update(s"$d/vera.u1a.click.wsp", 60L, 1.0)
    Whisper.update(s"$d/vera.u1a.click.wsp", 120L, 2.0)
    Whisper.update(s"$d/vera.u1b.temp.wsp", 60L, 20.5)
    Whisper.update(s"$d/vera.u1b.temp.wsp", 600L, 21.5, archive = 1)
    val rows = Whisper.read(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2, t._4))
    assert(rows.toSeq == Seq(
      ("vera.u1a.click", 0, 60L, 60L, 1.0),
      ("vera.u1a.click", 0, 60L, 120L, 2.0),
      ("vera.u1b.temp", 0, 60L, 60L, 20.5),
      ("vera.u1b.temp", 1, 600L, 600L, 21.5)))
    val info = Whisper.info(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(3), r.getLong(6)))
      .sortBy(t => (t._1, t._3))
    assert(info.toSeq == Seq(
      ("vera.u1a.click", "average", 0, 600L),
      ("vera.u1b.temp", "max", 0, 600L),
      ("vera.u1b.temp", "max", 1, 2400L)))
  }

  test("updatePropagate: xff-gated lower write, chain stops on failure") {
    val d = tmpDir()
    val f = s"$d/m.wsp"
    // 10s × 6 (1 min), 60s × 10 (10 min), 600s × 3 (30 min), xff 0.5
    Whisper.create(f, Seq((10L, 6), (60L, 10), (600L, 3)), 0.5, "average")
    val now = 1000L
    def pts() = Whisper.filePoints(Files.readAllBytes(Paths.get(f)))
      .map { case (a, _, ts, v) => (a, ts, v) }.sorted
    Whisper.updatePropagate(f, 972L, 1.0, now) // slot 970
    Whisper.updatePropagate(f, 981L, 2.0, now) // slot 980
    // 2 of 6 fine slots in lower interval 960 < xff → no propagation yet
    assert(pts() == Seq((0, 970L, 1.0), (0, 980L, 2.0)))
    Whisper.updatePropagate(f, 990L, 3.0, now)
    // 3/6 = 0.5 ≥ xff → 60s archive gets avg(1,2,3) at interval 960;
    // the 600s archive sees 1/10 known 60s slots in interval 600 → the
    // chain stops (L_DataWhisper.lua:516-521), no level-2 write
    assert(pts() == Seq((0, 970L, 1.0), (0, 980L, 2.0), (0, 990L, 3.0),
      (1, 960L, 2.0)))
    // a ts older than the fine archive's 60 s reach lands directly in
    // the first archive that covers it (L_DataWhisper.lua:504-510)
    Whisper.updatePropagate(f, 700L, 9.0, now) // diff 300: 60s archive
    assert(pts().contains((1, 660L, 9.0)))
    // beyond maxRetention (1800 s) refuses, like WhisperException
    assertThrows[IllegalArgumentException] {
      Whisper.updatePropagate(f, now - 1800L, 0.0, now)
    }
  }

  test("export round-trips: rings equal the cascade, fetchFiles equals fetch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = tmpDir()
    val spec = Retention.parse("1m:10m,10m:50m") // 60s×10, 600s×5
    val now = 3600L
    // two paths, 30s raw points over the last 10 min
    val metrics = (3000L to 3590L by 30L).flatMap(t => Seq(
      ("a.x", t, (t % 90).toDouble), ("a.y", t, (t % 70).toDouble)))
      .toDF("path", "ts", "value")
    assert(Whisper.export(spark, metrics, d, spec, "average", 0.5, now) == 2L)
    // ring contents = the declarative cascade, level by level (the
    // format's %23.15g pack is 15-significant-digit lossy → 1e-9 tol)
    val got = Whisper.read(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2, t._3))
    val want = Rollup.archives(metrics, spec, "average", 0.5).zip(spec).zipWithIndex.flatMap {
      case ((lvl, a), i) =>
        // same ring retention window the export keeps: buckets older
        // than the archive's oldest retrievable slot alias live slots
        val oldest = now - now % a.secondsPerPoint - a.retention + a.secondsPerPoint
        lvl.filter(col("bucket") >= oldest && col("bucket") <= now)
          .collect().map(r => (r.getString(0), i, r.getLong(1), r.getDouble(2)))
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((p1, a1, t1, v1), (p2, a2, t2, v2)) =>
      assert(p1 == p2 && a1 == a2 && t1 == t2 && math.abs(v1 - v2) <= 1e-9 * math.max(1, math.abs(v2)))
    }
    // and the full migration loop: fetching the exported tree gives the
    // same dense series as the in-plan fetch over the raw metrics
    val viaWsp = Whisper.fetchFiles(spark, d, "a.*", 3100L, 3500L, now)
      .select(col("path"), col("t"), org.apache.spark.sql.functions.round(col("value"), 6).as("v"))
      .orderBy(col("path"), col("t")).collect().toSeq
    val viaPlan = Fetch.fetch(spark, metrics, "a.*", spec, "average", 0.5, 3100L, 3500L, now)
      .select(col("path"), col("t"), org.apache.spark.sql.functions.round(col("value"), 6).as("v"))
      .orderBy(col("path"), col("t")).collect().toSeq
    assert(viaWsp == viaPlan && viaWsp.nonEmpty)
  }
}
