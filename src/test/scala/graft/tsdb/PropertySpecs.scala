package graft.tsdb

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import scala.util.Try

/** Property tests: the glob compiler against an independent naive
  * matcher, and the retention parser/formatter roundtrip over randomly
  * generated valid archive chains.
  */
object GlobProps extends Properties("Glob") {

  // independent reference implementation of component glob matching
  private def compMatch(g: String, s: String): Boolean =
    if (g.isEmpty) s.isEmpty
    else g.head match {
      case '*' => (0 to s.length).exists(i => compMatch(g.tail, s.drop(i)))
      case '?' => s.nonEmpty && compMatch(g.tail, s.tail)
      case '{' =>
        val close = g.indexOf('}')
        g.substring(1, close).split(",").filter(_.nonEmpty)
          .exists(a => compMatch(a + g.substring(close + 1), s))
      case c => s.nonEmpty && s.head == c && compMatch(g.tail, s.tail)
    }

  private def globMatch(q: String, p: String): Boolean = {
    val qs = q.split("\\.", -1)
    val ps = p.split("\\.", -1)
    qs.length == ps.length && qs.zip(ps).forall { case (g, s) => compMatch(g, s) }
  }

  private val comp = Gen.oneOf("a", "b", "ab", "ba", "aab")
  private val globComp = Gen.oneOf("*", "?", "a", "b", "ab", "a*", "*b", "?b",
    "{a,b}", "{ab,b}a", "{a*,b}", "{?b,a}")
  private val path = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, comp)).map(_.mkString("."))
  private val query = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, globComp)).map(_.mkString("."))

  property("compiled regex agrees with naive matcher") =
    forAll(query, path) { (q, p) =>
      p.matches(Glob.queryToRegex(q, allowDeeper = false)) == globMatch(q, p)
    }

  // brace-only queries (no * / ?) expand into literal paths — each
  // expansion must be brace-free and matched by the original query
  private val braceComp = Gen.oneOf("a", "ab", "{a,b}", "{ab,b}a", "b{a,ab}")
  private val braceQuery = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, braceComp)).map(_.mkString("."))

  property("brace expansions are literal paths matched by the original query") =
    forAll(braceQuery) { q =>
      val re = Glob.queryToRegex(q, allowDeeper = false)
      val exp = Glob.expandBraces(q)
      exp.nonEmpty && exp.forall(e => !e.contains("{") && e.matches(re))
    }

  // MetricStore.pathPredicate pushes the glob's literal prefix into the
  // scan as a startswith conjunct — which is only sound if every true
  // glob match carries that prefix
  private def litPrefix(target: String): String = {
    val i = target.indexWhere(c => "*?{".indexOf(c) >= 0)
    if (i < 0) target else target.substring(0, i)
  }

  property("scan-pushed literal prefix never excludes a glob match") =
    forAll(query, path) { (q, p) =>
      !globMatch(q, p) || p.startsWith(litPrefix(q))
    }
}

object RetentionProps extends Properties("Retention") {

  private val archive: Gen[Retention.Archive] = for {
    step <- Gen.oneOf(1L, 2L, 5L, 10L, 30L, 60L, 300L, 600L, 3600L, 86400L)
    points <- Gen.choose(1L, 500L)
  } yield Retention.Archive(step, points)

  private val validChain: Gen[Seq[Retention.Archive]] =
    Gen.choose(1, 3)
      .flatMap(n => Gen.listOfN(n, archive))
      .map(as => Try(Retention.validate(as)).toOption)
      .suchThat(_.isDefined).map(_.get)

  property("format∘parse is identity on valid chains") =
    forAll(validChain) { as => Retention.parse(Retention.format(as)) == as }

  property("parse result is sorted by precision") =
    forAll(validChain) { as =>
      val steps = Retention.parse(Retention.format(as)).map(_.secondsPerPoint)
      steps == steps.sorted
    }
}

/** The whisper text pack relies on every field rendering at its fixed
  * printf width — a wider render would shift every ring-slot byte
  * offset after it. Pin the invariant across value magnitudes, and the
  * numeric round-trip through the tokenizing unpack.
  */
object WhisperPackProps extends Properties("WhisperPack") {
  import graft.sources.Whisper

  private val ts: Gen[Long] = Gen.choose(0L, 4294967295L) // u32 interval range
  private val value: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e6, 1e6),
    Gen.choose(-1e300, 1e300),
    Gen.choose(-1e-6, 1e-6),
    Gen.oneOf(0.0, -0.0, 1.0 / 3.0, math.Pi * 1e8))

  property("packPoint is always exactly PointSize bytes") =
    forAll(ts, value) { (t, v) =>
      Whisper.packPoint(t, v).length == Whisper.PointSize
    }

  property("point round-trips through pack + tokenize at %23.15g precision") =
    forAll(ts, value) { (t, v) =>
      val bytes = Whisper.packPoint(t, v).getBytes("US-ASCII")
      val pts = Whisper.archivePoints(bytes, Whisper.ArchiveInfo(0, 60L, 1))
      if (t == 0L) pts.isEmpty // zero interval = dead slot by definition
      else pts == Seq((t, v)) || {
        // %g carries 15 significant digits (the reference's own files
        // have the same precision), so rel error ≤ 5e-15 is inherent
        val (rt, rv) = pts.head
        rt == t && math.abs(rv - v) <= math.abs(v) * 1e-14
      }
    }
}

/** The .wsp ring store against interval-keyed Map models (VERDICT r6
  * #8): randomized multi-archive retention chains, ring wraparound
  * under `update`, and the full `updatePropagate` xff-gated cascade —
  * the reference's trickiest arithmetic (L_DataWhisper.lua:331-354 ring
  * indexing, :493-523 propagation). The models share NO code with the
  * byte-level implementation: any slot-offset, wraparound, or
  * pack/unpack bug diverges.
  */
object WhisperRingProps extends Properties("WhisperRing") {
  import java.nio.file.{Files, Paths}
  import graft.sources.Whisper

  private def tmpFile(): String =
    Paths.get(graft.core.Fixtures.fresh("wring"), "m.wsp").toString

  // 3-level chains with strictly increasing retention and exact
  // spp-multiple levels (the Retention validity rules): p1 > p0/f1 and
  // p2 > p1/f2 guarantee ret0 < ret1 < ret2
  private val chainGen: Gen[Seq[(Long, Int)]] = for {
    spp0 <- Gen.oneOf(5L, 10L, 30L)
    p0 <- Gen.choose(4, 10)
    f1 <- Gen.oneOf(2, 3, 4)
    p1 <- Gen.choose(p0 / f1 + 2, 14)
    f2 <- Gen.oneOf(2, 5)
    p2 <- Gen.choose(p1 / f2 + 2, 16)
  } yield Seq((spp0, p0), (spp0 * f1, p1), (spp0 * f1 * f2, p2))

  private val xffGen = Gen.oneOf(0.0, 0.25, 0.5)
  private val methodGen = Gen.oneOf("average", "sum", "last", "max", "min")

  property("create + parseHeader round-trips any valid archive chain") =
    forAll(chainGen, xffGen, methodGen) { (chain, xff, m) =>
      val f = tmpFile()
      Whisper.create(f, chain, xff, m)
      val h = Whisper.parseHeader(Files.readAllBytes(Paths.get(f)))
      val headerLen = Whisper.packMetadata(1, 0L, 0.0, 0).length +
        chain.size * Whisper.packArchiveInfo(0, 0L, 0).length
      h.archives.map(a => (a.secondsPerPoint, a.points)) == chain &&
        h.maxRetention == chain.map { case (s, p) => s * p }.max &&
        h.aggregationMethod == m && math.abs(h.xFilesFactor - xff) < 1e-9 &&
        h.archives.head.offset == headerLen &&
        h.archives.sliding(2).forall {
          case Seq(a, b) => b.offset == a.offset + a.points * Whisper.PointSize
          case _ => true
        }
    }

  // single-ring updates INCLUDING wraparound and slot rewrites: the
  // model keys by slot index (interval/spp % points), last write wins
  property("update replay equals the slot-index model under wraparound") =
    forAll(
      Gen.oneOf(5L, 10L), Gen.choose(3, 8),
      // ts ≥ 10 ≥ spp keeps every interval non-zero (a zero interval is
      // the format's dead-slot sentinel and never reads back)
      Gen.choose(1, 30).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.choose(10L, 2000L), Gen.choose(1, 99))))) { (spp, points, ups) =>
      val f = tmpFile()
      Whisper.create(f, Seq((spp, points)), 0.5, "average")
      val model = scala.collection.mutable.Map[Long, (Long, Double)]()
      for ((ts, v) <- ups) {
        Whisper.update(f, ts, v.toDouble)
        val interval = ts - ts % spp
        model((interval / spp) % points) = (interval, v.toDouble)
      }
      val got = Whisper.filePoints(Files.readAllBytes(Paths.get(f)))
        .map { case (_, _, ts, v) => (ts, v) }.sorted
      got == model.values.toSeq.sorted
    }

  // the full propagation cascade vs an interval-keyed replay of the
  // documented algorithm (first-archive write, then per-level
  // known/n >= xff gate, chain stops at the first failure). Sorted
  // in-retention timestamps keep every archive wraparound-free, so the
  // Map state IS the expected ring content.
  property("updatePropagate cascade equals the interval-map replay") =
    forAll(chainGen, xffGen, methodGen,
      Gen.choose(1, 25).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.choose(0L, Long.MaxValue), Gen.choose(1, 99))))) {
      (chain, xff, m, rawUps) =>
        val f = tmpFile()
        Whisper.create(f, chain, xff, m)
        val (spp0, p0) = chain.head
        val ret0 = spp0 * p0
        val now = 100000L
        // diffs into [0, ret0 − spp0]: every update lands in the fine
        // archive AND the quantized interval span stays STRICTLY inside
        // every retention window — at span = ret0 exactly, the newest
        // slot aliases (evicts) the oldest and the wrap-free Map model
        // no longer describes the ring
        val ups = rawUps.map { case (r, v) =>
          (now - r % (ret0 - spp0 + 1), v.toDouble)
        }.sortBy(_._1)
        ups.foreach { case (ts, v) => Whisper.updatePropagate(f, ts, v, now) }
        def agg(vals: Seq[Double]): Double = m match {
          case "average" => vals.sum / vals.size
          case "sum" => vals.sum
          case "last" => vals.last
          case "max" => vals.max
          case "min" => vals.min
        }
        val state = scala.collection.mutable.Map[(Int, Long), Double]()
        for ((ts, v) <- ups) {
          val i0 = ts - ts % spp0
          state((0, i0)) = v
          var hi = 0
          var ok = true
          for (li <- 1 until chain.size if ok) {
            val (lspp, _) = chain(li)
            val hspp = chain(hi)._1
            val lint = i0 - i0 % lspp
            val n = (lspp / hspp).toInt
            val known = (0 until n).flatMap(k => state.get((hi, lint + k * hspp)))
            ok = known.nonEmpty && known.size.toDouble / n >= xff
            if (ok) { state((li, lint)) = agg(known); hi = li }
          }
        }
        val got = Whisper.filePoints(Files.readAllBytes(Paths.get(f)))
          .map { case (a, _, ts, v) => ((a, ts), v) }.sortBy(_._1)
        val want = state.toSeq.sortBy(_._1)
        got.map(_._1) == want.map(_._1) && got.zip(want).forall {
          case (((_, _), gv), ((_, _), wv)) =>
            math.abs(gv - wv) <= 1e-14 * math.max(1.0, math.abs(wv))
        }
    }
}

/** ShingleDistinct (the compiled distinct k-shingle counter) against an
  * independent sliding-window model, over token lists with forced
  * collisions (tiny alphabet, empty tokens included).
  */
object ShingleDistinctProps extends Properties("ShingleDistinct") {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val tok = Gen.oneOf("a", "b", "ab", "")
  private val toks = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, tok))
  private val k = Gen.choose(1, 4)

  property("matches the sliding-window set-size model") =
    forAll(toks, k) { (ts, kk) =>
      val arr = new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])
      val model =
        if (ts.length < kk) 0L
        else ts.sliding(kk).map(_.mkString(" ")).toSet.size.toLong
      graft.functions.ShingleDistinct.compute(arr, kk) == model
    }
}
