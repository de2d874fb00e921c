package graft.tiles

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The binned histogram-match LUT against a BigInt reference, with counts
  * large enough that the rank cross-products leave Long range.
  */
class HistogramLutSpec extends AnyFunSuite {

  private val MaxBins = 16

  /** Per bin: the nearest-rank reference bin, found by a linear scan in
    * BigInt arithmetic.
    */
  private def referenceLut(srcB: Array[(Int, Long, Double)],
                           refB: Array[(Int, Long, Double)]): Array[Double] = {
    val srcN = srcB.map(b => BigInt(b._2)).sum
    val refN = refB.map(b => BigInt(b._2)).sum
    val refCum = refB.scanLeft(BigInt(0))(_ + _._2).tail
    val lut = Array.fill(MaxBins)(Double.NaN)
    var cum = BigInt(0)
    srcB.foreach { case (bin, n, _) =>
      cum += n
      val i = refB.indices.find(i => i == refB.length - 1 || refCum(i) * srcN >= cum * refN).get
      lut(bin) = refB(i)._3
    }
    lut
  }

  /** Sorted distinct bins; counts either tiny (ties in the rank test) or
    * large, summing to at most Long.MaxValue / 2 per side.
    */
  private val histGen: Gen[Array[(Int, Long, Double)]] = for {
    k <- Gen.choose(1, 8)
    bins <- Gen.pick(k, 0 until MaxBins).map(_.sorted)
    counts <- Gen.oneOf(
      Gen.listOfN(k, Gen.choose(1L, 5L)),
      Gen.listOfN(k, Gen.choose(1L, Long.MaxValue / 2 / k)),
      Gen.listOfN(k, Gen.choose(1L, 1000L)).map(cs =>
        (Long.MaxValue / 2 - cs.sum) +: cs.tail))
  } yield bins.zip(counts).map { case (b, n) => (b, n, b * 0.5) }.toArray

  test("property: binned LUT equals the BigInt reference, counts near Long.MaxValue / 2") {
    var s = Seed(31L)
    var wrapped = 0
    for (_ <- 0 until 2000) {
      val (srcB, refB) = Gen.zip(histGen, histGen).pureApply(Gen.Parameters.default, s)
      s = s.next
      val got = TileOps3.binnedLut(srcB, refB, MaxBins)
      val want = referenceLut(srcB, refB)
      assert(java.util.Arrays.equals(got, want),
        s"src=${srcB.toSeq} ref=${refB.toSeq}: ${got.toSeq} vs ${want.toSeq}")
      if (Math.multiplyHigh(refB.map(_._2).sum, srcB.map(_._2).sum) != 0) wrapped += 1
    }
    // the property must exercise products that a Long multiply would wrap
    assert(wrapped > 100, s"only $wrapped cases leave Long range")
  }
}
