package graft.perfbench

/** Stateless seeded randomness: every generated input is a pure function
  * of (seed, coordinates), so Spark tasks and the driver-side checks
  * derive identical values without shipping state.
  */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed ^ 0x5DEECE66DL) + a) + b) + c

  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (mix(h) >>> 11) * (1.0 / (1L << 53))

  /** Uniform in [0, n). */
  def below(h: Long, n: Int): Int = ((mix(h) >>> 1) % n).toInt

  def round3(v: Double): Double = math.rint(v * 1000.0) / 1000.0
}
