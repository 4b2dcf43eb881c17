package graft.tsdb

import org.scalatest.funsuite.AnyFunSuite

/** C7 time_parse — graphite render-URL times
  * (graphite_cgi.lua:54-94).
  */
class TimeParseSpec extends AnyFunSuite {
  val now = 1706659200L

  test("relative times shrink by the reference's 0.998 factor") {
    assert(TimeParse.relativeTime("-2d", now).contains((now - 2 * 86400 * 0.998).toLong))
    assert(TimeParse.relativeTime("-30min", now).contains((now - 30 * 60 * 0.998).toLong))
    // bare unit = 1 of it
    assert(TimeParse.relativeTime("-h", now).contains((now - 3600 * 0.998).toLong))
    assert(TimeParse.relativeTime("-1y", now).contains((now - 365L * 86400 * 0.998).toLong))
  }

  test("unknown unit → None") {
    assert(TimeParse.relativeTime("-2parsecs", now).isEmpty)
    assert(TimeParse.relativeTime("2d", now).isEmpty)
  }

  test("full ISO date-time") {
    assert(TimeParse.isoTime("2024-01-29T12:30:45").contains(1706531445L))
  }

  test("partial ISO fills defaults (noon!)") {
    // missing time-of-day defaults to 12:00:00 per the reference
    assert(TimeParse.isoTime("2024-01-29").contains(1706529600L))
    assert(TimeParse.isoTime("2024").contains(
      java.time.LocalDateTime.of(2024, 1, 1, 12, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC)))
  }

  test("ordinal YYYY-DDD date") {
    // day 32 of 2024 = Feb 1
    assert(TimeParse.isoTime("2024-032") ==
      TimeParse.isoTime("2024-02-01"))
  }

  test("ordinal dates resolve against the reference's year-2000 leap base") {
    // the reference offsets from os.time{2000,1,1} (a leap year) and
    // then swaps the year in (graphite_cgi.lua:65-70): day 365 of a
    // NON-leap year is Dec 30, not Dec 31
    assert(TimeParse.isoTime("2023-365") == TimeParse.isoTime("2023-12-30"))
    // day 60 = Feb 29 in the 2000 base; a non-leap target normalizes
    // to Mar 1 (os.time normalization)
    assert(TimeParse.isoTime("2023-060") == TimeParse.isoTime("2023-03-01"))
    assert(TimeParse.isoTime("2024-060") == TimeParse.isoTime("2024-02-29"))
  }

  test("getTime prefers relative") {
    assert(TimeParse.getTime("-1d", now) == TimeParse.relativeTime("-1d", now))
    assert(TimeParse.getTime("2024-01-29", now) == TimeParse.isoTime("2024-01-29"))
    assert(TimeParse.getTime("garbage", now).isEmpty)
  }
}
