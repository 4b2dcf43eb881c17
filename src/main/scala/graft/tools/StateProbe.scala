package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CarbonStream

/** STATE-SIZE probe for the stateful streaming operators (VERDICT r8
  * #4): the G20 funnel holds one array per user and G21 sessionization
  * one row per open session — at 100 M users that is real state-store
  * pressure, and the expiry horizons (G20b/G20d) exist precisely to
  * bound it. This probe MEASURES the claim instead of asserting it:
  * for user scales ×1/×10 it runs three event-time cohorts through
  *
  *  - the G20d funnel WITH event-time expiry (journeys expire 500 s of
  *    event time after their own last activity — old cohorts must
  *    LEAVE the store),
  *  - the G20c funnel WITHOUT expiry (every user ever seen stays — the
  *    unbounded baseline the horizon fixes), and
  *  - G21 session windows (closed sessions evicted by the watermark),
  *
  * and reports the state store's own accounting
  * (`lastProgress.stateOperators`: numRowsTotal + memoryUsedBytes)
  * after the final watermark advance. Expected shape — and what §6
  * records: no-expiry rows = 3·cohort (grows with history), expiry
  * rows ≈ 1·cohort (bounded by the horizon, 10× data → 10× state but
  * NEVER ×history), sessions = open sessions only. The per-user cost
  * (bytes/row) comes out of the same numbers.
  *
  * Wall-clock-free: all expiry here is event-time (watermark-driven by
  * data), so the probe is deterministic and runs in seconds.
  */
object StateProbe {

  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    val ops = q.lastProgress.stateOperators
    (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val baseUsers = 20000L
    val out = scala.collection.mutable.ArrayBuffer[String]()

    for (scale <- Seq(1, 10)) {
      val users = baseUsers * scale
      // three cohorts of `users` distinct users, 1000 s of event time
      // apart; expireSec=500 ⇒ by the time cohort k+1's watermark
      // lands, cohort k's journeys are past their horizon
      def cohort(k: Long): Seq[(Long, Long, String)] =
        (0L until users).map(u => (k * 10000000L + u, k * 1000L, "view"))

      // G20d: event-time expiry ON — the bounded configuration
      locally {
        val src = MemoryStream[(Long, Long, String)]
        val q = CarbonStream.funnelStreamEventTime(
            src.toDF().toDF("user_id", "t", "event_type"),
            Seq("view", "click"), expireSec = 500L)
          .toDF().writeStream.format("noop").outputMode("append").start()
        try {
          for (k <- 0L to 2L) { src.addData(cohort(k): _*); q.processAllAvailable() }
          val (rows, bytes) = stateRows(q)
          out += s"""{"probe":"funnel_state","expiry":"event-time","scale":$scale,"users_per_cohort":$users,"cohorts":3,"state_rows":$rows,"state_bytes":$bytes}"""
        } finally q.stop()
      }

      // G20c: no expiry — the unbounded baseline
      locally {
        val src = MemoryStream[(Long, Long, String)]
        val q = CarbonStream.funnelStreamSteps(
            src.toDS(), Seq("view", "click"), expireMs = None)
          .toDF().writeStream.format("noop").outputMode("append").start()
        try {
          for (k <- 0L to 2L) { src.addData(cohort(k): _*); q.processAllAvailable() }
          val (rows, bytes) = stateRows(q)
          out += s"""{"probe":"funnel_state","expiry":"none","scale":$scale,"users_per_cohort":$users,"cohorts":3,"state_rows":$rows,"state_bytes":$bytes}"""
        } finally q.stop()
      }

      // G22: quantile registers — the state IS the sketch: rows stay
      // at the register bound (≤ ~64·16 per slice) no matter how many
      // values stream through; the scale axis must NOT move state
      locally {
        val src = MemoryStream[(String, Long)]
        val q = CarbonStream.qsketchStream(
            src.toDF().toDF("lang", "v"), "lang")
          .writeStream.format("noop").outputMode("update").start()
        try {
          for (k <- 0L to 2L) {
            src.addData((0L until users).map(i =>
              ("en", (i * 37 + k) % 100000 + 1)): _*)
            q.processAllAvailable()
          }
          val (rows, bytes) = stateRows(q)
          out += s"""{"probe":"qsketch_state","scale":$scale,"values":${3 * users},"state_rows":$rows,"state_bytes":$bytes}"""
        } finally q.stop()
      }

      // G21: session windows — watermark evicts closed sessions
      locally {
        val src = MemoryStream[(Long, Long)]
        val q = CarbonStream.sessionizeStream(
            src.toDF().toDF("user_id", "ts"), gapSec = 100L,
            watermark = "0 seconds")
          .writeStream.format("noop").outputMode("append").start()
        try {
          for (k <- 0L to 2L) {
            src.addData((0L until users).map(u => (k * 10000000L + u, k * 1000L)): _*)
            q.processAllAvailable()
          }
          val (rows, bytes) = stateRows(q)
          out += s"""{"probe":"session_state","scale":$scale,"users_per_cohort":$users,"cohorts":3,"state_rows":$rows,"state_bytes":$bytes}"""
        } finally q.stop()
      }
    }
    out.foreach(println)
    spark.stop()
  }
}
