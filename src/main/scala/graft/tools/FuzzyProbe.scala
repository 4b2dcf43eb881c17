package graft.tools

import org.apache.spark.sql.functions._

/** Fixture search for the F15c perturbed-copy spec: find a 24-token
  * document whose adjacent-swap perturbation (swaps at positions
  * (5,6), (11,12), (17,18) — every 5-token window except starts 0 and
  * 19 crosses a swap, so ≤ 2 exact 5-grams survive and F15 at
  * minHits = 3 provably misses the pair) still agrees with the
  * original on ≥ 4 of the 12 MinHash signature slots INCLUDING one
  * full 3-slot band (so decontaminateFuzzy's band join surfaces it).
  * The hashes are seedless md5 arithmetic, so a fixture that passes
  * here passes forever — the planted-twin "measured, then pinned"
  * discipline of ImageDedup.
  */
object FuzzyProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    import spark.implicits._

    def perturb(toks: Vector[String]): Vector[String] =
      Seq(5, 11, 17).foldLeft(toks) { (t, p) =>
        t.updated(p, t(p + 1)).updated(p + 1, t(p))
      }
    def grams(toks: Vector[String], n: Int): Set[String] =
      toks.sliding(n).map(_.mkString(" ")).toSet

    for (seed <- 0 until 80) {
      val orig = (0 until 24).map(i => s"w${seed}q$i").toVector
      val pert = perturb(orig)
      val shared5 = (grams(orig, 5) & grams(pert, 5)).size
      val sigs = graft.dedup.Dedup.minhashSigRows(
        Seq((0L, orig.mkString(" ")), (1L, pert.mkString(" ")))
          .toDF("doc_id", "text"))
        .orderBy("doc_id").collect()
        .map(_.getSeq[Long](1))
      val agree = (0 until 12).map(i => sigs(0)(i) == sigs(1)(i))
      val matches = agree.count(identity)
      val bands = (0 until 4).filter(b => (0 until 3).forall(r => agree(b * 3 + r)))
      if (shared5 <= 2 && bands.nonEmpty && matches >= 4)
        println(s"[fuzzyprobe] seed=$seed shared5=$shared5 matches=$matches bands=${bands.mkString(",")}")
    }
    spark.stop()
  }
}
