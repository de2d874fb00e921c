package graft.tiles

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-source, obstacle-aware octile distance over the tile grid — the
  * cost-distance transform (ESRI CostDistance / GRASS r.cost with uniform
  * unit cost and 8-connectivity; companion to the chamfer/Euclidean
  * transforms in TileOps3). Impassable cells (mask pixel <= 0) block paths;
  * diagonal moves cost √2, straight moves 1.
  *
  * Exactness contract: a path's cost is s + d·√2 for integer move counts
  * (s, d). √2 is irrational, so distinct (s, d) pairs have distinct real
  * costs and the per-cell minimum is a UNIQUE pair — the whole relaxation
  * runs in integer arithmetic (compare via sign of Δs + Δd·√2, resolved
  * exactly by comparing Δs² with 2Δd² in Long), and floating point enters
  * ONLY in the final output expression s + d * sqrt(2.0), the same single
  * rounding the SQL oracle performs. No FP accumulation order anywhere.
  *
  * The tile-local Dijkstra is seeded from the halo only. Every tile is
  * first settled from its own sources; after that, a tile's values are
  * consistent — no in-tile move and no halo value it has seen can lower
  * any of its cells. Halo values only fall, so a path that improves a
  * cell must start at a halo cell whose value fell since the tile last
  * saw it, and every cell on the path after it improves too. Seeding the
  * queue with the halo cells therefore reaches every improvement; an
  * unimproved cell is never pushed and keeps its consistent value. The
  * same argument lets a tile whose values did not change skip sending
  * its borders: its neighbors are already consistent with them. Edge
  * costs are positive, so pops are monotone and a cell's first pop is
  * final (the `popped` invariant); each round's result is the unique
  * local fixed point given its halo.
  *
  * Scale shape (the flowAccumulation playbook, but for a relaxation that
  * can re-enter tiles): the loop state stays in place — a tile-keyed pair
  * RDD under one HashPartitioner(defaultParallelism) — and each round
  * shuffles only the 1-cell border strips of s/d of the tiles that
  * improved in the previous round, joins them to the state partition by
  * partition, and runs the tile-local Dijkstra. A round settles every
  * path segment that stays inside one tile, so the round count is the
  * optimal paths' tile-crossing diameter (pixel diameter / tileSize), not
  * the pixel diameter — and per-cell values only ever decrease, so the
  * loop provably converges. Each round is one job: the boolean probe
  * "did any tile improve" materializes the round's local checkpoint, and
  * the previous round is released once the new one exists. The loop's
  * parallelism is the fixed partitioner's, never derived from shuffle
  * bytes: the strips are tiny, and a byte-sized reduce stage would run
  * every Dijkstra on one core.
  */
object CostDist {

  /** Loop state of one tile: s/d = straight/diagonal move counts of the
    * current best path, -1 = unreached; mask 1 = passable; `improved` =
    * some cell fell in the last round, so the borders must be sent.
    */
  private final case class DistTile(cellX: Int, cellY: Int, w: Int, h: Int,
                                    mask: Array[Byte], s: Array[Int], d: Array[Int],
                                    improved: Boolean)

  /** The border strip of tile (cellX, cellY) that one neighbor reads. */
  private final case class Strip(cellX: Int, cellY: Int, w: Int, h: Int,
                                 s: Array[Int], d: Array[Int])

  /** Exact: s1 + d1·√2 < s2 + d2·√2, with -1 meaning +∞. */
  private[tiles] def less(s1: Int, d1: Int, s2: Int, d2: Int): Boolean = {
    if (s2 < 0) s1 >= 0
    else if (s1 < 0) false
    else {
      val ds = (s1 - s2).toLong; val dd = (d1 - d2).toLong
      if (ds >= 0 && dd >= 0) false
      else if (ds <= 0 && dd <= 0) true
      else if (ds > 0) ds * ds < 2L * dd * dd // sign of ds - |dd|√2
      else ds * ds > 2L * dd * dd             // sign of -(|ds|) + dd√2
    }
  }

  private val Moves: Array[(Int, Int, Boolean)] = Array(
    (1, 0, false), (-1, 0, false), (0, 1, false), (0, -1, false),
    (1, 1, true), (1, -1, true), (-1, 1, true), (-1, -1, true))

  /** Octile distance from any of `sources` to every reachable passable
    * cell. `mask` pixels > 0 are passable. Output: (x, y, s, d, dist)
    * for reachable cells only, dist = s + d * sqrt(2.0) as one multiply
    * and one add.
    */
  def octileDistance(mask: org.apache.spark.sql.Dataset[Tile],
                     sources: Seq[(Int, Int)], tileSize: Int, width: Int,
                     maxRounds: Int = 1024): DataFrame = {
    require(sources.nonEmpty, "octileDistance: at least one source")
    val srcSet = sources.toSet
    val part = new HashPartitioner(mask.sparkSession.sparkContext.defaultParallelism)
    var cur: RDD[((Int, Int), DistTile)] = mask.rdd.keyBy(t => (t.cellX, t.cellY))
      .partitionBy(part).mapValues { t =>
      val n = t.w * t.h
      val m = new Array[Byte](n); val s = new Array[Int](n)
      val d = new Array[Int](n)
      val baseX = t.cellX * tileSize; val baseY = t.cellY * tileSize
      var i = 0
      while (i < n) {
        m(i) = if (t.pixels(i) > 0) 1 else 0
        val gx = baseX + i % t.w; val gy = baseY + i / t.w
        if (m(i) == 1 && srcSet.contains((gx, gy))) { s(i) = 0; d(i) = 0 }
        else { s(i) = -1; d(i) = -1 }
        i += 1
      }
      // settle the tile from its own sources; a tile with any reached
      // cell sends its borders in the first round
      val t0 = relax(DistTile(t.cellX, t.cellY, t.w, t.h, m, s, d, improved = false),
        Nil, seedSources = true)
      t0.copy(improved = t0.s.exists(_ >= 0))
    }.localCheckpoint()

    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      val strips = cur.flatMap { case (_, t) =>
        if (!t.improved) Iterator.empty
        else for {
          dx <- Iterator(-1, 0, 1); dy <- Iterator(-1, 0, 1)
          if (dx != 0 || dy != 0) && t.cellX + dx >= 0 && t.cellY + dy >= 0
        } yield ((t.cellX + dx, t.cellY + dy), borderStrip(t, dx, dy))
      }.partitionBy(part)
      val next = cur.zipPartitions(strips, preservesPartitioning = true) { (tiles, in) =>
        val byCell = in.toSeq.groupMap(_._1)(_._2)
        tiles.map { case (k, t) =>
          (k, relax(t, byCell.getOrElse(k, Nil), seedSources = false))
        }
      }.localCheckpoint()
      // the probe is the round's single job: it materializes the lazy
      // checkpoint, which the next round reads in place
      changed = next.map(_._2.improved).fold(false)(_ || _)
      cur.unpersist(blocking = false)
      cur = next
      round += 1
    }
    require(!changed, s"octileDistance: not converged after $maxRounds rounds")
    emitDist(mask.sparkSession, cur.values, tileSize, math.sqrt(2.0))
  }

  /** The 1-cell border of `t` that the tile at offset (dx, dy) reads. */
  private def borderStrip(t: DistTile, dx: Int, dy: Int): Strip = {
    val (c0, sw) = TileOps.stripSpan(dx, t.w, 1)
    val (r0, sh) = TileOps.stripSpan(dy, t.h, 1)
    val s = new Array[Int](sw * sh); val d = new Array[Int](sw * sh)
    var y = 0
    while (y < sh) {
      System.arraycopy(t.s, (r0 + y) * t.w + c0, s, y * sw, sw)
      System.arraycopy(t.d, (r0 + y) * t.w + c0, d, y * sw, sw)
      y += 1
    }
    Strip(t.cellX, t.cellY, sw, sh, s, d)
  }

  /** Tile-local Dijkstra over the center plus a 1-cell halo assembled from
    * `strips` (absent halo cells are unreached). Halo cells are constants
    * and seed the queue; center cells relax. `seedSources` also seeds the
    * center's sources, for the first settle. Returns the tile's new
    * values with `improved` = some center cell fell.
    */
  private def relax(t: DistTile, strips: Iterable[Strip], seedSources: Boolean): DistTile = {
    if (strips.isEmpty && !seedSources) return t.copy(improved = false)
    val pw = t.w + 2; val ph = t.h + 2
    val ps = Array.fill(pw * ph)(-1); val pd = Array.fill(pw * ph)(-1)
    // entries (s, d, cell) are immutable: a cell whose value falls is
    // pushed again and its stale entry skipped when popped
    val heap = new java.util.PriorityQueue[Array[Int]](64, (a: Array[Int], b: Array[Int]) =>
      if (less(a(0), a(1), b(0), b(1))) -1 else if (less(b(0), b(1), a(0), a(1))) 1 else 0)
    strips.foreach { p =>
      val ox = if (p.cellX < t.cellX) -p.w else if (p.cellX > t.cellX) t.w else 0
      val oy = if (p.cellY < t.cellY) -p.h else if (p.cellY > t.cellY) t.h else 0
      var r = 0
      while (r < p.h) {
        var c = 0
        while (c < p.w) {
          val i = r * p.w + c; val j = (r + oy + 1) * pw + (c + ox + 1)
          ps(j) = p.s(i); pd(j) = p.d(i)
          if (p.s(i) >= 0) heap.add(Array(p.s(i), p.d(i), j))
          c += 1
        }
        r += 1
      }
    }
    var r = 0
    while (r < t.h) {
      var c = 0
      while (c < t.w) {
        val i = r * t.w + c; val j = (r + 1) * pw + (c + 1)
        ps(j) = t.s(i); pd(j) = t.d(i)
        if (seedSources && t.s(i) == 0 && t.d(i) == 0) heap.add(Array(0, 0, j))
        c += 1
      }
      r += 1
    }
    val popped = new Array[Boolean](pw * ph)
    var improved = false
    while (!heap.isEmpty) {
      val u = heap.poll()(2)
      if (!popped(u)) {
        popped(u) = true
        val ur = u / pw; val uc = u % pw
        var k = 0
        while (k < 8) {
          val (dx, dy, diag) = Moves(k)
          val vr = ur + dy; val vc = uc + dx
          // relax only INTO passable center cells (halo cells are constants)
          if (vr >= 1 && vr <= t.h && vc >= 1 && vc <= t.w &&
              t.mask((vr - 1) * t.w + vc - 1) == 1) {
            val v = vr * pw + vc
            val ns = if (diag) ps(u) else ps(u) + 1
            val nd = if (diag) pd(u) + 1 else pd(u)
            if (less(ns, nd, ps(v), pd(v))) {
              ps(v) = ns; pd(v) = nd; heap.add(Array(ns, nd, v))
              improved = true
            }
          }
          k += 1
        }
      }
    }
    if (!improved) return t.copy(improved = false)
    val ns = new Array[Int](t.w * t.h); val nd = new Array[Int](t.w * t.h)
    r = 0
    while (r < t.h) {
      System.arraycopy(ps, (r + 1) * pw + 1, ns, r * t.w, t.w)
      System.arraycopy(pd, (r + 1) * pw + 1, nd, r * t.w, t.w)
      r += 1
    }
    t.copy(s = ns, d = nd, improved = true)
  }

  private def emitDist(spark: SparkSession, tiles: RDD[DistTile],
                       tileSize: Int, sqrt2: Double): DataFrame = {
    import spark.implicits._
    tiles.flatMap { t =>
      val baseX = t.cellX * tileSize; val baseY = t.cellY * tileSize
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Double)]
      var i = 0
      while (i < t.w * t.h) {
        if (t.s(i) >= 0) {
          val gx = baseX + i % t.w; val gy = baseY + i / t.w
          out += ((gx, gy, t.s(i), t.d(i), t.s(i) + t.d(i) * sqrt2))
        }
        i += 1
      }
      out
    }.toDF("x", "y", "s", "d", "dist")
  }

  /** Backlink raster (ESRI CostBackLink analog): for every reachable
    * non-source cell, the D8 code of its best predecessor — the neighbor
    * u whose state satisfies dist(v) = dist(u) + step EXACTLY in the
    * integer (s, d) algebra ((s+1, d) straight, (s, d+1) diagonal);
    * greedy-descending these codes from any cell traces a least-cost
    * path to its source. Sources (and only sources) emit code 0.
    *
    * Takes the `octileDistance` output table. One broadcast 8-row move
    * explode + one coordinate equi-join + one min agg — the same cost
    * class as a stencil op, no iteration (all path information is
    * already in the distance field).
    */
  def costBacklink(dist: DataFrame): DataFrame = {
    val spark = dist.sparkSession
    // ESRI D8 codes, diag marks the √2 moves
    val mv = spark.createDataFrame(Seq(
      (1, 1, 0, false), (2, 1, 1, true), (4, 0, 1, false), (8, -1, 1, true),
      (16, -1, 0, false), (32, -1, -1, true), (64, 0, -1, false),
      (128, 1, -1, true))).toDF("code", "dx", "dy", "diag")
    val v = dist.select(col("x"), col("y"), col("s"), col("d"))
    val u = dist.select(col("x").as("nx"), col("y").as("ny"),
      col("s").as("ns"), col("d").as("nd"))
    val bk = v.crossJoin(broadcast(mv))
      .select(col("x"), col("y"), col("s"), col("d"), col("code"),
        (col("x") + col("dx")).as("nx"), (col("y") + col("dy")).as("ny"),
        col("diag"))
      .join(u, Seq("nx", "ny"))
      .filter((!col("diag") && col("ns") + 1 === col("s") && col("nd") === col("d")) ||
        (col("diag") && col("ns") === col("s") && col("nd") + 1 === col("d")))
      .groupBy("x", "y").agg(min("code").as("code"))
    dist.select(col("x"), col("y"))
      .join(bk, Seq("x", "y"), "left")
      .select(col("x"), col("y"), coalesce(col("code"), lit(0)).as("code"))
  }
}
