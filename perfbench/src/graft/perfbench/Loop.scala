package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

/** One closed-loop sample: latency of an operation, its kind, the
  * correctness verdict (None = correct) and whether it ran traced.
  */
final case class Sample(kind: String, ms: Double, error: Option[String], traced: Boolean = false)

object Loop {
  /** Runs `op(i)` on `clients` threads, each issuing its next operation
    * as soon as the previous one returns (closed loop, no think time),
    * until `seconds` have passed or the index reaches `until`. `i` is a
    * run-wide operation index.
    * Returns the samples and the wall time in seconds until the last
    * operation completed.
    */
  def closed(clients: Int, seconds: Double, next: AtomicInteger, until: Int = Int.MaxValue)
            (op: Int => Sample): (Seq[Sample], Double) = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    val end = if (seconds == Double.MaxValue) Long.MaxValue else t0 + (seconds * 1e9).toLong
    val lastDone = new AtomicLong(t0)
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = 0
        while (System.nanoTime() < end && { i = next.getAndIncrement(); i < until }) {
          val s =
            try op(i)
            catch { case e: Throwable => Sample("error", 0.0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
          out.synchronized(out += s)
          lastDone.accumulateAndGet(System.nanoTime(), math.max(_, _))
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    (out.toSeq, (lastDone.get - t0) / 1e9)
  }

  /** Median and p90 latency of a sample set. */
  def latencies(samples: Seq[Sample], prefix: String = "latency"): Seq[Metric] = {
    val ms = samples.map(_.ms)
    Seq(Metric(s"${prefix}_p50_ms", Stats.quantile(ms, 0.5), "ms"),
      Metric(s"${prefix}_p90_ms", Stats.quantile(ms, 0.9), "ms"))
  }
}
