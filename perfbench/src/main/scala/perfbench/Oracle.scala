package perfbench

/** Reference computations for the output checks. They run on the driver,
  * over plain arrays, and use nothing from the library under test.
  */
object Oracle {

  /** Even-odd ray casting over one closed ring (x0, y0, x1, y1, ...). */
  def inRing(ring: Array[Double], x: Double, y: Double): Boolean = {
    val n = ring.length / 2
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** The k nearest of `cand` to point `q` (excluding `q` itself), by
    * squared distance then id: (id, dist2) ascending.
    */
  def topK(qId: Long, qx: Long, qy: Long, ids: Array[Long], xs: Array[Long], ys: Array[Long],
           members: Array[Int], k: Int): Seq[(Long, Long)] = {
    val ds = members.iterator.filter(i => ids(i) != qId).map { i =>
      val dx = xs(i) - qx; val dy = ys(i) - qy
      (dx * dx + dy * dy, ids(i))
    }.toArray
    java.util.Arrays.sort(ds, Ordering.Tuple2[Long, Long])
    ds.take(k).map { case (d, id) => (id, d) }.toSeq
  }

  /** Octile distance (unit straight step, √2 diagonal step) from the
    * sources over passable cells of a w × h grid, by Dijkstra on doubles.
    * Unreachable cells are +∞.
    */
  def octile(passable: Array[Boolean], w: Int, h: Int, sources: Seq[(Int, Int)]): Array[Double] = {
    val dist = Array.fill(w * h)(Double.PositiveInfinity)
    val heap = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    sources.foreach { case (x, y) =>
      val i = y * w + x
      if (passable(i)) { dist(i) = 0.0; heap.add((0.0, i)) }
    }
    val diag = math.sqrt(2.0)
    while (!heap.isEmpty) {
      val (d, u) = heap.poll()
      if (d <= dist(u)) {
        val ux = u % w; val uy = u / w
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            val vx = ux + dx; val vy = uy + dy
            if ((dx != 0 || dy != 0) && vx >= 0 && vx < w && vy >= 0 && vy < h) {
              val v = vy * w + vx
              if (passable(v)) {
                val nd = d + (if (dx != 0 && dy != 0) diag else 1.0)
                if (nd < dist(v) - 1e-12) { dist(v) = nd; heap.add((nd, v)) }
              }
            }
            dx += 1
          }
          dy += 1
        }
      }
    }
    dist
  }

  /** Mean over the in-raster neighbours within `r` (Chebyshev) of (x, y). */
  def meanAt(value: (Int, Int) => Double, w: Int, h: Int, x: Int, y: Int, r: Int): Double = {
    var s = 0.0; var n = 0
    var yy = y - r
    while (yy <= y + r) {
      var xx = x - r
      while (xx <= x + r) {
        if (xx >= 0 && xx < w && yy >= 0 && yy < h) { s += value(xx, yy); n += 1 }
        xx += 1
      }
      yy += 1
    }
    s / n
  }

  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** Seeded 64-bit mixer (splitmix64 finalizer): the benchmark's only
  * source of randomness, so the same seed gives the same inputs.
  */
object Mix {
  def apply(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def apply(a: Long, b: Long): Long = apply(apply(a) ^ b)
  /** Uniform double in [0, 1). */
  def unit(a: Long, b: Long): Double = (apply(a, b) >>> 11) * (1.0 / (1L << 53))
}
