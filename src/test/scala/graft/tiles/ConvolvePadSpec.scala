package graft.tiles

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The border-strip halo exchange against a test-local whole-tile one:
  * every center tile's padded plane must equal the plane assembled from
  * its 8 whole neighbor tiles, NaN for NaN, on grids whose border tiles
  * shrink below the radius.
  */
class ConvolvePadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Whole-tile reference: place each of the 3 × 3 tiles around the
    * center at its own offset and keep what falls inside the pad.
    */
  private def wholeTilePad(tiles: Seq[Tile], ct: Tile, r: Int): Array[Double] = {
    val pw = ct.w + 2 * r; val ph = ct.h + 2 * r
    val pad = Array.fill(pw * ph)(Double.NaN)
    for {
      p <- tiles
      if p.band == ct.band && math.abs(p.cellX - ct.cellX) <= 1 && math.abs(p.cellY - ct.cellY) <= 1
    } {
      val offX = r + (p.cellX - ct.cellX match { case -1 => -p.w; case 0 => 0; case _ => ct.w })
      val offY = r + (p.cellY - ct.cellY match { case -1 => -p.h; case 0 => 0; case _ => ct.h })
      for (y <- 0 until p.h; x <- 0 until p.w) {
        val px = offX + x; val py = offY + y
        if (px >= 0 && px < pw && py >= 0 && py < ph) pad(py * pw + px) = p.pixels(y * p.w + x)
      }
    }
    pad
  }

  // 23 x 17 in 5-tiles: border tiles 3 wide and 2 high; 9 x 7 in 2-tiles:
  // border tiles 1 x 1, below every radius past 1
  for ((w, h, ts) <- Seq((23, 17, 5), (9, 7, 2)); r <- 1 to 3) {
    test(s"padded planes equal the whole-tile reference: ${w}x$h, tile $ts, radius $r") {
      val spec = RasterSpec(0.0, h.toDouble, 1.0, -1.0, w, h, ts, 2)
      val tiles = TileOps.createRaster(spark, spec)((x, y, b) => (b * 1000 + y * w + x).toDouble)
      val all = tiles.collect().toSeq
      val got = TileOps.convolvePad(tiles, r).collect()
      assert(got.length === spec.numTiles)
      got.foreach { case (ct, pad, pw, ph) =>
        assert(pw === ct.w + 2 * r && ph === ct.h + 2 * r)
        val want = wholeTilePad(all, ct, r)
        assert(java.util.Arrays.equals(pad, want),
          s"tile (${ct.cellX}, ${ct.cellY}, band ${ct.band}) pad differs")
        val full = all.find(t => t.cellX == ct.cellX && t.cellY == ct.cellY && t.band == ct.band).get
        assert(java.util.Arrays.equals(ct.pixels, full.pixels) && ct.w == full.w && ct.h == full.h)
      }
    }
  }
}
