package graft.tsdb

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

/** Graphite render-URL time parsing.
  *
  * Faithful to the reference (graphite_cgi.lua:54-94):
  * relative times `-2d`/`-30min` scale by 0.998 ("so that a week-long
  * archive fits into now - week"), and partial ISO-8601 date-times fill
  * missing fields with defaults (month=1, day=1, **hour=12**, min=0,
  * sec=0), including the ordinal `YYYY-DDD` form.
  */
object TimeParse {

  private val duration = Map("s" -> 1L, "min" -> 60L, "h" -> 3600L, "d" -> 86400L,
    "w" -> 86400L * 7, "mon" -> 86400L * 30, "y" -> 86400L * 365)

  private val relRe = """^-(\d*)(\w+).*$""".r

  /** `-2d`, `-min`, ... relative to `now` (graphite_cgi.lua:83-90). */
  def relativeTime(time: String, now: Long): Option[Long] = time match {
    case relRe(num, unitStr) =>
      duration.get(unitStr).map { d =>
        val n = if (num.isEmpty) 1L else num.toLong
        // the reference deliberately shrinks the span by 0.2%
        (now - n * d * 0.998).toLong
      }
    case _ => None
  }

  private val isoRe = """^(\d\d\d\d)-?(\d?\d?)(-?)(\d?\d?)T?(\d?\d?):?(\d?\d?):?(\d?\d?).*$""".r

  /** Partial / ordinal ISO-8601 (graphite_cgi.lua:58-79), UTC epoch seconds. */
  def isoTime(time: String): Option[Long] = time match {
    case isoRe(y, mo, sep, dy, h, mi, s) =>
      def f(v: String, dflt: Int) = if (v == null || v.isEmpty) dflt else v.toInt
      try {
        if (mo.length == 2 && sep.isEmpty && dy.length == 1) {
          // ordinal date: year-daynumber (e.g. 2024-032). The reference
          // resolves the day number against YEAR 2000 (a leap year) and
          // then substitutes the requested year (graphite_cgi.lua:65-70)
          // — so '2023-365' is Dec 30, not Dec 31. Day 60 of a non-leap
          // year (Feb 29) normalizes to Mar 1, as os.time does.
          val dayNum = (mo + dy).toInt
          val fixed = LocalDate.ofYearDay(2000, dayNum)
          val date =
            try LocalDate.of(y.toInt, fixed.getMonthValue, fixed.getDayOfMonth)
            catch { case _: Exception => LocalDate.of(y.toInt, 3, 1) }
          Some(LocalDateTime.of(date.getYear, date.getMonthValue, date.getDayOfMonth,
            f(h, 12), f(mi, 0), f(s, 0)).toEpochSecond(ZoneOffset.UTC))
        } else {
          Some(LocalDateTime.of(y.toInt, f(mo, 1), f(dy, 1),
            f(h, 12), f(mi, 0), f(s, 0)).toEpochSecond(ZoneOffset.UTC))
        }
      } catch { case _: Exception => None }
    case _ => None
  }

  /** Relative first, then ISO (graphite_cgi.lua:92-94). */
  def getTime(time: String, now: Long): Option[Long] =
    relativeTime(time, now).orElse(isoTime(time))
}
