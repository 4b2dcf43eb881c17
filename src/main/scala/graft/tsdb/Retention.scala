package graft.tsdb

/** Whisper archive (retention) specifications.
  *
  * Re-expresses the reference's archiveSpec parser + validator
  * (L_DataWhisper.lua:227-319): a spec like
  * `"1m:1d,1h:7d"` is a list of (secondsPerPoint, points) archives,
  * sorted by precision, where each coarser archive's resolution must be
  * a multiple of the finer one's, retention must strictly grow, and the
  * finer archive must hold at least one full consolidation window.
  */
object Retention {

  final case class Archive(secondsPerPoint: Long, points: Long) {
    def retention: Long = secondsPerPoint * points
  }

  private val unit = Map("s" -> 1L, "m" -> 60L, "h" -> 3600L, "d" -> 86400L,
    "y" -> 86400L * 365, "" -> 1L)

  private val pairRe = """^(\d+)([smhdy]?):(\d+)([smhdy]?)$""".r

  /** Parse one "resolution:retention" pair (L_DataWhisper.lua:298-305). */
  private def parsePair(pair: String): Archive = pair.trim match {
    case pairRe(res, resU, ret, retU) =>
      val precision = res.toLong * unit(resU)
      // '0s:1d' would divide by zero here, and '0:100' would pass only
      // to kill a Spark job later with ts % 0; '1m:30s' would silently
      // yield a 0-point archive
      if (precision < 1)
        throw new IllegalArgumentException(s"InvalidConfiguration '$pair': zero precision")
      var points = ret.toLong * unit(retU)
      if (retU.nonEmpty) points = points / precision
      if (points < 1)
        throw new IllegalArgumentException(s"InvalidConfiguration '$pair': zero points")
      Archive(precision, points)
    case other =>
      throw new IllegalArgumentException(s"InvalidConfiguration '$other'")
  }

  /** Parse and validate a full spec string. */
  def parse(spec: String): Seq[Archive] =
    validate(spec.split(",").map(_.trim).filter(_.nonEmpty).map(parsePair).toSeq)

  /** Validation rules 1-5 (L_DataWhisper.lua:229-275). */
  def validate(archiveList: Seq[Archive]): Seq[Archive] = {
    require(archiveList.nonEmpty, "You must specify at least one archive configuration!")
    val sorted = archiveList.sortBy(_.secondsPerPoint)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        require(a.secondsPerPoint < b.secondsPerPoint,
          s"A Whisper database may not be configured having two archives with the same precision " +
            s"(${a.secondsPerPoint}, ${b.secondsPerPoint})")
        require(b.secondsPerPoint % a.secondsPerPoint == 0,
          s"Higher precision archives' precision must evenly divide all lower precision archives' " +
            s"precision (${a.secondsPerPoint}, ${b.secondsPerPoint})")
        require(b.retention > a.retention,
          s"Lower precision archives must cover larger time intervals than higher precision archives " +
            s"(${a.retention}s, ${b.retention}s)")
        val pointsPerConsolidation = b.secondsPerPoint / a.secondsPerPoint
        require(a.points >= pointsPerConsolidation,
          s"Each archive must have at least enough points to consolidate to the next archive " +
            s"(needs $pointsPerConsolidation, has ${a.points})")
      case _ => ()
    }
    sorted
  }

  /** Format back to the canonical string form (L_DataWhisper.lua:277-293):
    * each duration uses the largest unit that divides it evenly.
    */
  def format(archives: Seq[Archive]): String = {
    val ulist = Seq("s" -> 1L, "m" -> 60L, "h" -> 3600L, "d" -> 86400L, "y" -> 86400L * 365)
    def timeUnit(x: Long): String =
      ulist.foldLeft(x.toString) { case (acc, (u, n)) => if (x % n == 0) s"${x / n}$u" else acc }
    archives.map(a => s"${timeUnit(a.secondsPerPoint)}:${timeUnit(a.retention)}").mkString(",")
  }
}
