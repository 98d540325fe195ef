package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Properties of the SimHash LSH scheme used by q_dedup_simhash
  * (PipelineOps): 60-bit signatures, 4 bands × 15 bits, Hamming ≤ 3.
  * Pure-function mirrors of the SQL formulas — the SQL and these helpers
  * are kept trivially identical so the property transfers.
  */
object SimHashProps extends Properties("SimHash") {

  private def bands(sim: Long): Seq[Long] =
    (0 until 4).map(j => (sim >> (15 * j)) & 0x7fff)

  private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  private val sig60 = Gen.chooseNum(0L, (1L << 60) - 1)

  private val upTo3Flips: Gen[Seq[Int]] = for {
    k <- Gen.chooseNum(0, 3)
    bits <- Gen.listOfN(k, Gen.chooseNum(0, 59))
  } yield bits

  // The pigeonhole guarantee behind the candidate join: any pair within
  // Hamming distance 3 MUST share at least one of the 4 bands — so the
  // band-bucket join has perfect recall at the declared threshold.
  property("pairs within Hamming 3 always share a band") =
    forAll(sig60, upTo3Flips) { (sim, flips) =>
      val other = flips.foldLeft(sim)((s, b) => s ^ (1L << b))
      hamming(sim, other) > 3 ||
        bands(sim).zip(bands(other)).exists { case (a, b) => a == b }
    }

  // Band slices reassemble the full signature — no bit is lost or shared
  // between bands (the join key partitions the signature exactly).
  property("4 × 15-bit bands partition the 60-bit signature") =
    forAll(sig60) { sim =>
      bands(sim).zipWithIndex.map { case (b, j) => b << (15 * j) }
        .reduce(_ | _) == sim
    }

  // Hamming distance is a metric on signatures (triangle inequality) —
  // what makes the ≤3 filter a meaningful near-dup criterion.
  property("Hamming triangle inequality") =
    forAll(sig60, sig60, sig60) { (a, b, c) =>
      hamming(a, c) <= hamming(a, b) + hamming(b, c)
    }
}
