package graft.tsdb

import org.scalatest.funsuite.AnyFunSuite

/** B10 retention_spec — parser/validator semantics from
  * L_DataWhisper.lua:227-319.
  */
class RetentionSpec extends AnyFunSuite {
  import Retention._

  test("parses units and bare numbers") {
    assert(parse("60:1440") == Seq(Archive(60, 1440)))
    assert(parse("1m:1d") == Seq(Archive(60, 1440)))
    assert(parse("1m:1d,1h:7d") == Seq(Archive(60, 1440), Archive(3600, 168)))
    assert(parse("10s:2h") == Seq(Archive(10, 720)))
    assert(parse("1d:1y") == Seq(Archive(86400, 365)))
  }

  test("bare retention count means points, unit means duration") {
    // "1m:100" = 100 points; "1m:100m" = 100 minutes / 1m = 100 points
    assert(parse("1m:100") == Seq(Archive(60, 100)))
    assert(parse("1m:100m") == Seq(Archive(60, 100)))
  }

  test("sorts archives by precision") {
    assert(parse("1h:7d,1m:1d").map(_.secondsPerPoint) == Seq(60, 3600))
  }

  test("rejects malformed pairs") {
    assertThrows[IllegalArgumentException](parse("bogus"))
    assertThrows[IllegalArgumentException](parse("1m"))
    assertThrows[IllegalArgumentException](parse(""))
  }

  test("rejects duplicate precision") {
    assertThrows[IllegalArgumentException](parse("1m:1d,60s:2d"))
  }

  test("rejects non-dividing precision") {
    assertThrows[IllegalArgumentException](parse("7s:1d,10s:2d"))
  }

  test("rejects non-growing retention") {
    assertThrows[IllegalArgumentException](parse("1m:2d,1h:1d"))
  }

  test("rejects insufficient consolidation points") {
    // finer has 2 points, needs >= 3600/60 = 60
    assertThrows[IllegalArgumentException](parse("1m:2,1h:7d"))
  }

  test("formats back with largest even unit") {
    assert(format(parse("1m:1d,1h:7d")) == "1m:1d,1h:7d")
    assert(format(Seq(Archive(90, 4))) == "90s:6m")
  }
}
