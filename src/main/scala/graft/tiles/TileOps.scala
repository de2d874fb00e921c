package graft.tiles

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{BBox, Polygon, RTree}

/** Dataset-level raster algebra. Every op is a distributed tile transform:
  * narrow where the kernel is tile-local, one stencil shuffle where a halo
  * is needed. No driver-side pixel loops anywhere.
  */
object TileOps {
  import org.apache.spark.sql.Encoders
  implicit val tileEnc: org.apache.spark.sql.Encoder[Tile] = Encoders.product[Tile]

  /** Materialize a raster as a Dataset[Tile] with `value(x, y, band)`
    * filled per global pixel. The analog of raster_create_empty /
    * create_from_array (reference: buteo/core_raster/core_raster_write.py:118,247)
    * — distributed: one task per tile via spark.range.
    */
  def createRaster(spark: SparkSession, spec: RasterSpec, partitions: Int = 0)
                  (value: (Int, Int, Int) => Double): Dataset[Tile] = {
    import spark.implicits._
    val tx = spec.tilesX; val ty = spec.tilesY
    val parts = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    spark.range(0, spec.numTiles.toLong, 1, parts).map { id =>
      val band = (id / (tx * ty)).toInt
      val rem = (id % (tx * ty)).toInt
      val cy = rem / tx; val cx = rem % tx
      val w = spec.tileW(cx); val h = spec.tileH(cy)
      val (ox, oy) = spec.tileOrigin(cx, cy)
      val px = new Array[Double](w * h)
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          px(r * w + c) = value(cx * spec.tileSize + c, cy * spec.tileSize + r, band)
          c += 1
        }
        r += 1
      }
      Tile(cx, cy, band, w, h, ox, oy, spec.pxW, spec.pxH, px, spec.nodata, spec.crs)
    }
  }

  /** Per-tile stats over non-nodata pixels; integer-exact sums (pixels are
    * integral doubles). One narrow pass — no shuffle.
    */
  def tileStats(tiles: Dataset[Tile]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map { t =>
      var vmin = Double.MaxValue; var vmax = Double.MinValue
      var sum = 0L; var n = 0L
      var i = 0
      while (i < t.pixels.length) {
        val v = t.pixels(i)
        if (v != t.nodata) {
          if (v < vmin) vmin = v
          if (v > vmax) vmax = v
          sum += v.toLong; n += 1
        }
        i += 1
      }
      (t.cellX, t.cellY, t.band, vmin, vmax, sum, n)
    }.toDF("cell_x", "cell_y", "band", "vmin", "vmax", "vsum", "n_px")
  }

  /** Nearest-neighbor downsample by an integer factor that divides the
    * tile size: each target tile derives from exactly one source tile, so
    * the op is narrow (no shuffle). GDAL-nearest semantics: target pixel
    * takes the source pixel containing its center
    * (reference: buteo/raster/resample.py:29-154, method enum
    * utils_translate.py:293).
    */
  def resampleNearest(tiles: Dataset[Tile], factor: Int): Dataset[Tile] = {
    tiles.map { t =>
      val w2 = t.w / factor; val h2 = t.h / factor
      val out = new Array[Double](w2 * h2)
      var r = 0
      while (r < h2) {
        var c = 0
        while (c < w2) {
          // center of target pixel falls in source pixel (c*f + f/2, r*f + f/2)
          out(r * w2 + c) = t.pixels((r * factor + factor / 2) * t.w + (c * factor + factor / 2))
          c += 1
        }
        r += 1
      }
      Tile(t.cellX, t.cellY, t.band, w2, h2, t.originX, t.originY,
        t.pxW * factor, t.pxH * factor, out, t.nodata, t.crs)
    }
  }

  /** Clip: pixels whose CENTER falls outside the polygon become nodata
    * (all_touch=false semantics of the reference cutline —
    * buteo/raster/clip.py:117-138). Tiles wholly outside the polygon's
    * bbox are filtered before any pixel work (the reference's two-pass
    * prefilter, buteo/raster/grid.py:139-151).
    */
  def clip(tiles: Dataset[Tile], poly: Polygon): Dataset[Tile] = {
    val spark = tiles.sparkSession
    val bc = spark.sparkContext.broadcast(poly)
    val pb = poly.bbox
    tiles
      .filter((t: Tile) => t.bbox.intersects(pb))
      .map { t =>
        val p = bc.value
        val out = new Array[Double](t.pixels.length)
        var r = 0
        while (r < t.h) {
          var c = 0
          while (c < t.w) {
            val (gx, gy) = t.pixelCenter(c, r)
            out(r * t.w + c) = if (p.contains(gx, gy)) t.pixels(r * t.w + c) else t.nodata
            c += 1
          }
          r += 1
        }
        t.copy(pixels = out)
      }
  }

  /** Zonal statistics: per-zone count/sum/min/max over pixels whose center
    * lies in the zone polygon (reference:
    * buteo/raster/zonal_statistics.py:29-129). Tile→zone candidate pairs
    * come from a broadcast R-tree of zone bboxes (no shuffle of pixels;
    * the only shuffle is the final tiny per-zone agg).
    */
  def zonalStats(tiles: Dataset[Tile], zones: Seq[(Long, Polygon)]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val zoneArr = zones.toArray
    val tree = RTree.build(zoneArr.map(_._2.bbox))
    val bc = spark.sparkContext.broadcast((zoneArr, tree))
    tiles.flatMap { t =>
      val (zs, tr) = bc.value
      val tb = t.bbox
      val cand = tr.query(tb.xMin, tb.xMax, tb.yMin, tb.yMax)
      cand.iterator.flatMap { zi =>
        val (zid, zp) = zs(zi)
        var n = 0L; var sum = 0L
        var vmin = Double.MaxValue; var vmax = Double.MinValue
        var r = 0
        while (r < t.h) {
          var c = 0
          while (c < t.w) {
            val v = t.pixels(r * t.w + c)
            if (v != t.nodata) {
              val (gx, gy) = t.pixelCenter(c, r)
              if (zp.contains(gx, gy)) {
                n += 1; sum += v.toLong
                if (v < vmin) vmin = v
                if (v > vmax) vmax = v
              }
            }
            c += 1
          }
          r += 1
        }
        if (n > 0) Iterator.single((zid, t.band, n, sum, vmin, vmax)) else Iterator.empty
      }
    }.toDF("zone", "band", "n_px", "vsum", "vmin", "vmax")
      .groupBy("zone", "band")
      .agg(sum("n_px").as("n_px"), sum("vsum").as("vsum"),
        min("vmin").as("vmin"), max("vmax").as("vmax"))
  }

  /** Neighborhood convolution with cross-tile halo exchange — the
    * distributed form of the reference's kernels
    * (reference: buteo/array/convolution/base.py:412-549, funcs.py:12-288).
    *
    * Stencil shuffle: one border-strip halo exchange (`convolvePad`); each
    * center tile gets a (w+2r)×(h+2r) padded plane and runs the kernel.
    * Out-of-raster area stays "absent" — methods operate
    * on in-bounds, non-nodata neighbors only (the reference's edge
    * renormalization semantics, convolution/base.py:114-156).
    *
    * `method`: sum | mean | max | min | median (subset of the reference's
    * 19; the dispatch structure admits the rest).
    */
  implicit val padEnc: org.apache.spark.sql.Encoder[(Tile, Array[Double], Int, Int)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()

  /** Halo exchange: each tile is shipped whole to its own key, and to each
    * of its 8 neighbors only the border strip that neighbor reads — the
    * first/last min(r, w) columns, min(r, h) rows, or a corner block of
    * both — so the shuffle carries the plane plus its halo ring, not 9
    * copies of it. A strip is a `Tile` of the strip's size keeping its
    * source cell, so it abuts the center at -strip.w / ct.w exactly where
    * the whole tile would. Every surviving center tile is returned with
    * its (w+2r)×(h+2r) padded plane (NaN = outside raster; the halo spans
    * one neighbor ring, so a radius past a neighbor's size stays NaN
    * beyond it). The shared stencil primitive behind convolve / bilinear /
    * DEM gradients.
    */
  def convolvePad(tiles: Dataset[Tile], radius: Int): Dataset[(Tile, Array[Double], Int, Int)] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val r = radius
    tiles
      .flatMap { t =>
        for {
          dx <- -1 to 1; dy <- -1 to 1
          if t.cellX + dx >= 0 && t.cellY + dy >= 0
        } yield ((t.cellX + dx, t.cellY + dy, t.band), haloStrip(t, dx, dy, r))
      }
      .groupByKey(_._1)
      .flatMapGroups { (key: (Int, Int, Int), it: Iterator[((Int, Int, Int), Tile)]) =>
        val (cx, cy, _) = key
        val pieces = it.map(_._2).toArray
        pieces.find(t => t.cellX == cx && t.cellY == cy) match {
          case None => Iterator.empty // halo destination with no center tile
          case Some(ct) =>
            val pw = ct.w + 2 * r; val ph = ct.h + 2 * r
            val pad = Array.fill(pw * ph)(Double.NaN)
            pieces.foreach { p =>
              // piece origin in padded coords; left/top strips abut the
              // center at -p.w/-p.h (their own size), right/bottom at ct.w/ct.h
              val offX = r + ((p.cellX - cx) match {
                case -1 => -p.w; case 0 => 0; case _ => ct.w })
              val offY = r + ((p.cellY - cy) match {
                case -1 => -p.h; case 0 => 0; case _ => ct.h })
              var rr = 0
              while (rr < p.h) {
                var cc = 0
                while (cc < p.w) {
                  val px = offX + cc; val py = offY + rr
                  if (px >= 0 && px < pw && py >= 0 && py < ph)
                    pad(py * pw + px) = p.pixels(rr * p.w + cc)
                  cc += 1
                }
                rr += 1
              }
            }
            Iterator.single((ct, pad, pw, ph))
        }
      }
  }

  /** The part of `t` that the tile at offset (dx, dy) from it reads in a
    * radius-`r` halo: the whole tile for (0, 0), else the facing border
    * strip.
    */
  private def haloStrip(t: Tile, dx: Int, dy: Int, r: Int): Tile =
    if (dx == 0 && dy == 0) t
    else {
      val (c0, sw) = stripSpan(dx, t.w, r)
      val (r0, sh) = stripSpan(dy, t.h, r)
      val px = new Array[Double](sw * sh)
      var y = 0
      while (y < sh) {
        System.arraycopy(t.pixels, (r0 + y) * t.w + c0, px, y * sw, sw)
        y += 1
      }
      t.copy(w = sw, h = sh, pixels = px)
    }

  /** (start, length) along an axis of `n` cells of the strip a neighbor
    * at offset `d` reads: d = 1 (the neighbor comes after) reads the last
    * min(r, n) cells, d = -1 the first min(r, n), d = 0 all of them.
    */
  private[tiles] def stripSpan(d: Int, n: Int, r: Int): (Int, Int) = {
    val k = math.min(r, n)
    if (d > 0) (n - k, k) else if (d < 0) (0, k) else (0, n)
  }

  /** Neighborhood convolution over the halo-exchanged padded planes with
    * the reference's full 19-method enum (Hood.scala; reference
    * buteo/array/convolution/base.py:443-462, funcs.py:12-391).
    *
    * Method dispatch is resolved to an int ONCE before the pixel loop.
    * Two kernel paths:
    *  - `weight == null` (uniform all-ones kernel): integer-exact factored
    *    formulas — the DuckDB-oracle path. `normalised` picks the kernel
    *    total (1.0 vs hood size) used by the sum/occurrence methods'
    *    edge renormalization (base.py:153-156).
    *  - explicit `weight`: the faithful per-element weighted formulas —
    *    values and weights tracked separately, never pre-multiplied
    *    (funcs.py semantics; checked by ScalaTest fixtures).
    *
    * `funcValue` feeds quantile (the q), occurrences and feather (the
    * matched value), mirroring the reference's func_value parameter.
    */
  def convolve(tiles: Dataset[Tile], radius: Int, method: String,
               weight: (Int, Int) => Double = null,
               funcValue: Double = 0.5,
               normalised: Boolean = true): Dataset[Tile] = {
    val r = radius
    val (mid, qOverride) = Hood.methodId(method)
    val q = if (!qOverride.isNaN) qOverride else funcValue
    val side = 2 * r + 1
    val hoodSize = side * side
    val kernel: Array[Double] =
      if (weight == null) null
      else {
        val k = new Array[Double](hoodSize)
        var i = 0
        var dy = -r
        while (dy <= r) {
          var dx = -r
          while (dx <= r) { k(i) = weight(dx, dy); i += 1; dx += 1 }
          dy += 1
        }
        if (normalised) {
          val t = k.sum
          if (t != 0.0) { var j = 0; while (j < hoodSize) { k(j) /= t; j += 1 } }
        }
        k
      }
    val kernelTotal =
      if (kernel == null) { if (normalised) 1.0 else hoodSize.toDouble }
      else kernel.sum
    val fv = funcValue

    convolvePad(tiles, radius).map { case (ct, pad, pw, _) =>
      val out = new Array[Double](ct.w * ct.h)
      val buf = new Array[Double](hoodSize)   // values (never pre-weighted)
      val wbuf = new Array[Double](hoodSize)  // kernel weights of present values
      val work = new Array[Double](hoodSize)  // sort scratch
      val nodata = ct.nodata
      var row = 0
      while (row < ct.h) {
        var colI = 0
        while (colI < ct.w) {
          // gather present (in-raster, non-nodata) neighbors
          var n = 0; var s = 0.0; var s2 = 0.0
          var mx = Double.MinValue; var mn = Double.MaxValue
          var centerIdx = -1
          var missing = false
          var ki = 0
          var dy = -r
          while (dy <= r) {
            var dx = -r
            while (dx <= r) {
              val v = pad((row + r + dy) * pw + (colI + r + dx))
              if (!v.isNaN && v != nodata) {
                buf(n) = v
                if (kernel != null) wbuf(n) = kernel(ki)
                if (dx == 0 && dy == 0) centerIdx = n
                n += 1; s += v; s2 += v * v
                if (v > mx) mx = v
                if (v < mn) mn = v
              } else missing = true
              ki += 1
              dx += 1
            }
            dy += 1
          }
          val center = pad((row + r) * pw + (colI + r))
          val centerOk = centerIdx >= 0

          def sortedVals(): Array[Double] = {
            System.arraycopy(buf, 0, work, 0, n)
            java.util.Arrays.sort(work, 0, n)
            work
          }

          out(row * ct.w + colI) =
            if (n == 0) nodata
            else if (kernel != null) {
              // faithful weighted path; edge renormalization scales the
              // present weights back to the kernel total
              if (missing) {
                var sw = 0.0; var j = 0
                while (j < n) { sw += wbuf(j); j += 1 }
                if (sw != 0.0) {
                  val f = kernelTotal / sw
                  j = 0
                  while (j < n) { wbuf(j) *= f; j += 1 }
                }
              }
              mid match {
                case Hood.Sum => Hood.weightedSum(buf, wbuf, n)
                case Hood.Max => Hood.weightedMax(buf, wbuf, n)
                case Hood.Min => Hood.weightedMin(buf, wbuf, n)
                case Hood.Mean => Hood.weightedMean(buf, wbuf, n)
                case Hood.Median => Hood.weightedQuantile(buf, wbuf, n, 0.5)
                case Hood.Variance => Hood.weightedVariance(buf, wbuf, n)
                case Hood.Std => Hood.weightedStd(buf, wbuf, n)
                case Hood.Contrast => Hood.weightedContrast(buf, wbuf, n)
                case Hood.Mode => Hood.weightedMode(buf, wbuf, n)
                case Hood.Mad => Hood.weightedMad(buf, wbuf, n)
                case Hood.ZScore =>
                  if (!centerOk) nodata else Hood.weightedZScore(buf, wbuf, n, centerIdx)
                case Hood.ZScoreMad =>
                  if (!centerOk) nodata else Hood.weightedZScoreMad(buf, wbuf, n, centerIdx)
                case Hood.SigmaLee => Hood.weightedSigmaLee(buf, wbuf, n)
                case Hood.Quantile => Hood.weightedQuantile(buf, wbuf, n, q)
                case Hood.Occurrences => Hood.weightedOccurrences(buf, wbuf, n, fv, normalise = false)
                case Hood.Feather => Hood.weightedOccurrences(buf, wbuf, n, fv, normalise = true)
                case Hood.Roughness =>
                  if (!centerOk) nodata else Hood.weightedRoughness(buf, wbuf, n, centerIdx)
                case Hood.Tri =>
                  if (!centerOk) nodata else Hood.weightedTri(buf, wbuf, n, centerIdx)
                case Hood.Tpi =>
                  if (!centerOk) nodata else Hood.weightedTpi(buf, wbuf, n, centerIdx)
                case Hood.OccurrencesCenter =>
                  if (!centerOk) nodata
                  else { var c = 0; var j = 0; while (j < n) { if (buf(j) == center) c += 1; j += 1 }; c.toDouble }
              }
            } else mid match {
              // uniform-kernel fast path: factored, integer-exact formulas
              // (same IEEE ops as the DuckDB oracles)
              case Hood.Sum => s * kernelTotal / n
              case Hood.Max => mx
              case Hood.Min => mn
              case Hood.Mean => s / n
              case Hood.Median => Hood.refQuantileSorted(sortedVals(), n, 0.5)
              case Hood.Variance => (s2 - s * s / n) / n
              case Hood.Std => math.sqrt((s2 - s * s / n) / n)
              case Hood.Contrast =>
                // reference formula is only scale-sane for raw weights;
                // uniform weight value = kernelTotal / hoodSize
                val wu = kernelTotal / hoodSize
                math.abs(mx * wu - mn / (wu + 1e-7))
              case Hood.Mode => Hood.modeSorted(sortedVals(), n)
              case Hood.Mad =>
                val sv = sortedVals()
                val med = Hood.refQuantileSorted(sv, n, 0.5)
                var j = 0
                while (j < n) { sv(j) = math.abs(buf(j) - med); j += 1 }
                java.util.Arrays.sort(sv, 0, n)
                Hood.refQuantileSorted(sv, n, 0.5)
              case Hood.ZScore =>
                if (!centerOk) nodata
                else (center - s / n) / math.sqrt((s2 - s * s / n) / n)
              case Hood.ZScoreMad =>
                if (!centerOk) nodata
                else {
                  val sv = sortedVals()
                  val med = Hood.refQuantileSorted(sv, n, 0.5)
                  var j = 0
                  while (j < n) { sv(j) = math.abs(buf(j) - med); j += 1 }
                  java.util.Arrays.sort(sv, 0, n)
                  val mad = Hood.refQuantileSorted(sv, n, 0.5)
                  (center - med) / (mad * 1.4826)
                }
              case Hood.SigmaLee =>
                // selection {v: |v| >= σ}, mean of selected (Hood doc)
                val std = math.sqrt((s2 - s * s / n) / n)
                var cnt = 0; var acc = 0.0; var j = 0
                while (j < n) {
                  if (buf(j) >= std || buf(j) <= -std) { acc += buf(j); cnt += 1 }
                  j += 1
                }
                if (cnt == 0 || cnt * 5 < Hood.sigmaLeeKs(n)) s * kernelTotal / n
                else acc / cnt
              case Hood.Quantile => Hood.refQuantileSorted(sortedVals(), n, q)
              case Hood.Occurrences =>
                var c = 0; var j = 0
                while (j < n) { if (buf(j) == fv) c += 1; j += 1 }
                c.toDouble * kernelTotal / n
              case Hood.Feather =>
                var c = 0; var j = 0
                while (j < n) { if (buf(j) == fv) c += 1; j += 1 }
                (c.toDouble * kernelTotal / n) / n
              case Hood.Roughness =>
                if (!centerOk) nodata
                else {
                  var m = 0.0; var j = 0
                  while (j < n) { val d = math.abs(buf(j) - center); if (d > m) m = d; j += 1 }
                  m
                }
              case Hood.Tri =>
                if (!centerOk) nodata
                else if (n <= 1) 0.0
                else {
                  var acc = 0.0; var j = 0
                  while (j < n) { acc += math.abs(buf(j) - center); j += 1 }
                  acc / (n - 1)
                }
              case Hood.Tpi =>
                if (!centerOk) nodata
                else if (n <= 1) 0.0
                else math.abs(center - (s - center) / (n - 1))
              case Hood.OccurrencesCenter =>
                if (!centerOk) nodata
                else { var c = 0; var j = 0; while (j < n) { if (buf(j) == center) c += 1; j += 1 }; c.toDouble }
            }
          colI += 1
        }
        row += 1
      }
      ct.copy(pixels = out)
    }(tileEnc)
  }

  /** Flatten tiles to (x, y, band, v) global pixel rows (for compact
    * outputs / oracles; not a hot path).
    */
  def toPixels(tiles: Dataset[Tile], tileSize: Int): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { t =>
      val baseX = t.cellX * tileSize; val baseY = t.cellY * tileSize
      for (r <- 0 until t.h; c <- 0 until t.w)
        yield (baseX + c, baseY + r, t.band, t.pixels(r * t.w + c))
    }.toDF("x", "y", "band", "v")
  }
}
