package perfbench

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.Polygon
import graft.tiles.{CostDist, RasterSpec, Tile, TileOps, Zonal}

/** `raster`: the stencil path. A 2-band plane of incompressible seeded
  * doubles is cut into an 8 × 8 tile grid; one operation is a radius-2
  * mean convolution, full zonal statistics against seeded polygons, and
  * an octile cost-distance from six sources over band 1 (pixels > 0
  * are passable).
  */
final class RasterWorkload(seed: Long) extends Workload {
  import RasterWorkload._
  import TileOps.tileEnc

  val shufflePartitions = 16

  private val spec = RasterSpec(0.0, Size.toDouble, 1.0, -1.0, Size, Size, TileSize, Bands)
  private def value(x: Int, y: Int, band: Int): Double = pixel(seed, x, y, band)

  private val zones: Seq[(Long, Polygon)] = (0 until NZones).map { z =>
    // sizes fixed, places seeded inside the plane: no zone is clipped, so
    // the zonal work does not depend on the seed
    val rad = Size * (0.04 + 0.08 * (z + 0.5) / NZones)
    val cx = rad + Mix.unit(seed ^ 0x2d, 3L * z) * (Size - 2 * rad)
    val cy = rad + Mix.unit(seed ^ 0x2d, 3L * z + 1) * (Size - 2 * rad)
    val nv = 10
    val ring = new Array[Double](2 * nv)
    for (v <- 0 until nv) {
      val a = 2 * math.Pi * (v + 0.7 * Mix.unit(z.toLong, 2L * v)) / nv
      val r = rad * (if (v % 2 == 0) 1.0 else 0.3 + 0.5 * Mix.unit(z.toLong, 2L * v + 1))
      ring(2 * v) = cx + r * math.cos(a)
      ring(2 * v + 1) = cy + r * math.sin(a)
    }
    (z.toLong, Polygon(Array(ring)))
  }

  // one source near the centre of each cell of a 3 x 2 grid (the first
  // passable pixel to its right), so the loop's round count does not
  // depend on the seed; the obstacles are seeded
  private val sources: Seq[(Int, Int)] = for {
    gy <- 0 until 2; gx <- 0 until 3
  } yield {
    val y = (2 * gy + 1) * Size / 4
    (Iterator.from((2 * gx + 1) * Size / 6).find(x => value(x, y, 1) > 0).get, y)
  }

  private var plane: Dataset[Tile] = _
  private var reference: Option[Seq[Long]] = None

  def setup(s: SparkSession): Unit = {
    val sd = seed
    val v = (x: Int, y: Int, b: Int) => pixel(sd, x, y, b)
    plane = TileOps.createRaster(s, spec, partitions = Main.Cores * 2)(v)
      .persist(StorageLevel.MEMORY_ONLY)
    plane.write.format("noop").mode("overwrite").save()
  }

  /** Full unchecked operations: the first ones in a JVM run well below
    * the speed of later ones, and a smaller plane costs as much.
    */
  def warm(): Unit = for (_ <- 1 to WarmPasses) pass(plane, TileSize, Size, sources, None)

  // sampled tiles and zones for the checks: fixed per run, so every
  // operation runs the same plans
  private val sampleTiles = (0 until 2).map(i => (((Mix(seed, 50L + i) >>> 1) % (Size / TileSize)).toInt,
    ((Mix(seed, 90L + i) >>> 1) % (Size / TileSize)).toInt))
  private val sampleZones = (0 until 2).map(i => (Mix(seed, 130L + i) >>> 1) % NZones)

  /** Convolve, zonal statistics and cost distance on `p`, each evaluated by
    * one checksum action that also returns the sampled rows.
    */
  private def pass(p: Dataset[Tile], tile: Int, width: Int, srcs: Seq[(Int, Int)],
                   tracer: Option[Tracer]) = {
    val inTiles = sampleTiles.map { case (tx, ty) => col("cellX") === tx && col("cellY") === ty }
      .reduce(_ || _)
    val inTilesXY = sampleTiles.map { case (tx, ty) =>
      (col("x") / tile).cast("int") === tx && (col("y") / tile).cast("int") === ty
    }.reduce(_ || _)
    val conv = span(tracer, "tiles.convolve")(
      Checksum.run(TileOps.convolve(p, Radius, "mean").toDF(), inTiles))
    val zonal = span(tracer, "tiles.zonal")(
      Checksum.run(Zonal.zonalStatsFull(p, zones), col("zone").isin(sampleZones: _*)))
    val dist = span(tracer, "tiles.costdist") {
      val d = span(tracer, "tiles.costdist.build")(
        CostDist.octileDistance(p.filter(col("band") === 1), srcs, tile, width))
      span(tracer, "tiles.costdist.action")(Checksum.run(d, inTilesXY))
    }
    (conv, zonal, dist)
  }

  private def span[A](tracer: Option[Tracer], name: String)(f: => A): A =
    tracer.fold(f)(_.span(name)(f))

  def op(k: Int, tracer: Option[Tracer]): Op =
    Op("raster", Size.toLong * Size * Bands, () => {
      val (conv, zonal, dist) = pass(plane, TileSize, Size, sources, tracer)
      val sums = Seq(conv._2, zonal._2, dist._2)
      Outcome(conv._1 + zonal._1 + dist._1, sums.sum, () =>
        checkConvolve(conv._3, sampleTiles)
          .orElse(checkZonal(zonal._3, sampleZones))
          .orElse(checkDist(dist._3, sampleTiles))
          .orElse(reference match {
            case Some(r) if r != sums => Some(s"checksums $sums differ from the first operation's $r")
            case None => reference = Some(sums); None
            case _ => None
          }))
    })

  private def checkConvolve(got: Array[Row], tiles: Seq[(Int, Int)]): Option[String] = {
    val expectTiles = tiles.distinct.size * Bands
    if (got.length != expectTiles) return Some(s"convolve: ${got.length} sampled tiles, expected $expectTiles")
    got.iterator.flatMap { r =>
      val t = Row.unapplySeq(r).get
      val (cx, cy, band, w) = (t(0).asInstanceOf[Int], t(1).asInstanceOf[Int], t(2).asInstanceOf[Int],
        t(3).asInstanceOf[Int])
      val px = r.getSeq[Double](9)
      px.indices.find { i =>
        val x = cx * TileSize + i % w; val y = cy * TileSize + i / w
        !Oracle.close(px(i), Oracle.meanAt((a, b) => value(a, b, band), Size, Size, x, y, Radius))
      }.map(i => s"convolve: tile ($cx, $cy, band $band) pixel $i differs")
    }.nextOption()
  }

  private def checkZonal(got: Array[Row], zs: Seq[Long]): Option[String] = {
    zs.distinct.iterator.flatMap { z =>
      val poly = zones(z.toInt)._2
      val bb = poly.bbox
      val inside = for {
        y <- math.max(0, math.floor(Size - bb.yMax).toInt) to math.min(Size - 1, math.ceil(Size - bb.yMin).toInt)
        x <- math.max(0, math.floor(bb.xMin).toInt) to math.min(Size - 1, math.ceil(bb.xMax).toInt)
        if Oracle.inRing(poly.rings(0), x + 0.5, Size - (y + 0.5))
      } yield (x, y)
      (0 until Bands).flatMap { b =>
        val row = got.find(r => r.getLong(0) == z && r.getInt(1) == b)
        val n = inside.size.toLong
        row match {
          case None if n == 0 => None
          case None => Some(s"zonal: zone $z band $b missing, expected $n pixels")
          case Some(r) =>
            val vs = inside.map { case (x, y) => value(x, y, b) }
            if (r.getLong(2) != n) Some(s"zonal: zone $z band $b n_px ${r.getLong(2)}, expected $n")
            else if (r.getDouble(3) != vs.min || r.getDouble(4) != vs.max)
              Some(s"zonal: zone $z band $b min/max differ")
            else None
        }
      }
    }.nextOption()
  }

  private lazy val octile: Array[Double] = Oracle.octile(
    Array.tabulate(Size * Size)(i => value(i % Size, i / Size, 1) > 0), Size, Size, sources)

  private def checkDist(got: Array[Row], tiles: Seq[(Int, Int)]): Option[String] = {
    val want = tiles.distinct.flatMap { case (tx, ty) =>
      for (y <- ty * TileSize until (ty + 1) * TileSize; x <- tx * TileSize until (tx + 1) * TileSize
           if !octile(y * Size + x).isInfinite) yield (x, y)
    }
    if (got.length != want.size) return Some(s"costdist: ${got.length} sampled cells reached, expected ${want.size}")
    got.find { r =>
      val d = octile(r.getInt(1) * Size + r.getInt(0))
      !Oracle.close(r.getDouble(4), d, 1e-9)
    }.map(r => s"costdist: cell (${r.getInt(0)}, ${r.getInt(1)}) distance ${r.getDouble(4)} differs")
  }

  def layers(t: Tracer, ph: PhaseResult): Map[String, Double] = {
    def mean(name: String): Double = {
      val ss = t.allSpans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    val conv = t.allSpans.filter(_.name == "tiles.convolve")
    val cd = t.allSpans.filter(_.name == "tiles.costdist")
    val opS = t.allSpans.filter(_.name == "op.raster").map(_.seconds).sum
    val planeBytes = Size.toDouble * Size * Bands * 8
    Map(
      "tiles.convolve_s" -> mean("tiles.convolve"),
      "tiles.convolve_share" -> conv.map(_.seconds).sum / math.max(1e-9, opS),
      "tiles.halo_shuffle_ratio" -> t.sum(conv).shuffleWrite / math.max(1, conv.size) / planeBytes,
      "tiles.zonal_s" -> mean("tiles.zonal"),
      "tiles.costdist_s" -> mean("tiles.costdist"),
      "tiles.costdist_jobs" -> t.sum(cd).jobs.toDouble / math.max(1, cd.size))
  }
}

object RasterWorkload {
  val Size = 768
  val TileSize = 96
  val Bands = 2
  val Radius = 2
  val NZones = 24
  val WarmPasses = 1

  /** Band 0: uniform in [0, 1); band 1: uniform in [-0.05, 1), > 0 is passable. */
  def pixel(seed: Long, x: Int, y: Int, band: Int): Double =
    if (band == 0) Mix.unit(seed, (y.toLong * Size + x) * 2)
    else Mix.unit(seed, (y.toLong * Size + x) * 2 + 1) * 1.05 - 0.05
}
