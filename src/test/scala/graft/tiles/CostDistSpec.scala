package graft.tiles

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

object CostDistSpec {
  val W = 48

  /** A random obstacle field over a grid that tile size `ts` does not
    * divide (when ts > 1), with sources on tile corners and edges.
    */
  final case class Field(ts: Int, w: Int, h: Int, open: Array[Boolean],
                         sources: Seq[(Int, Int)]) {
    def mask(x: Int, y: Int): Boolean = open(y * w + x)
  }

  /** Scattered-obstacle field (deterministic, ~1/5 blocked). */
  def openMask(x: Int, y: Int): Boolean = (x * 7 + y * 11) % 5 != 0 ||
    (x == 0 && y == 0) || (x == W - 1 && y == W - 1)

  /** Serpentine maze: walls on every 4th column except alternating top /
    * bottom gaps — the shortest path snakes through every corridor, so
    * its tile-crossing count (and hence the cross-tile round count) is
    * maximal for the grid.
    */
  def mazeMask(x: Int, y: Int): Boolean =
    x % 4 != 2 || (if ((x / 4) % 2 == 0) y == 0 else y == W - 1)

  /** Single-threaded exact-integer relaxation over the full w × h grid. */
  def brute(mask: (Int, Int) => Boolean, sources: Seq[(Int, Int)],
            w: Int = W, h: Int = W): Map[(Int, Int), (Int, Int)] = {
    val s = Array.fill(w * h)(-1); val d = Array.fill(w * h)(-1)
    val moves = Seq((1, 0, false), (-1, 0, false), (0, 1, false), (0, -1, false),
      (1, 1, true), (1, -1, true), (-1, 1, true), (-1, -1, true))
    var frontier = sources.filter { case (x, y) => mask(x, y) }.map { case (x, y) =>
      s(y * w + x) = 0; d(y * w + x) = 0; y * w + x
    }.toSet
    while (frontier.nonEmpty) { // Bellman-Ford sweeps: exact & simple
      val next = scala.collection.mutable.Set.empty[Int]
      for (u <- frontier; (dx, dy, diag) <- moves) {
        val x = u % w + dx; val y = u / w + dy
        if (x >= 0 && x < w && y >= 0 && y < h && mask(x, y)) {
          val v = y * w + x
          val ns = if (diag) s(u) else s(u) + 1
          val nd = if (diag) d(u) + 1 else d(u)
          if (CostDist.less(ns, nd, s(v), d(v))) {
            s(v) = ns; d(v) = nd; next += v
          }
        }
      }
      frontier = next.toSet
    }
    (for (i <- 0 until w * h if s(i) >= 0)
      yield (i % w, i / w) -> (s(i), d(i))).toMap
  }
}

/** Octile distance vs a single-threaded exact-integer relaxation, at
  * several tile sizes (the halo/condensation certificate), including a
  * serpentine maze whose optimal path re-enters tiles many times — the
  * case that distinguishes a true iterate-to-fixpoint design from a
  * single-pass one.
  */
class CostDistSpec extends AnyFunSuite {
  import CostDistSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sparkDist(mask: (Int, Int) => Boolean, sources: Seq[(Int, Int)],
                        tileSize: Int, w: Int = W, h: Int = W): Map[(Int, Int), (Int, Int)] = {
    val spec = RasterSpec(0.0, 64.0, 0.25, -0.25, w, h, tileSize, 1)
    val m = TileOps.createRaster(spark, spec)((x, y, _) => if (mask(x, y)) 1.0 else 0.0)
    CostDist.octileDistance(m, sources, tileSize, width = w)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getInt(2), r.getInt(3))).toMap
  }

  private val fieldGen: Gen[Field] = for {
    ts <- Gen.oneOf(1, 2, 3, 7)
    w <- Gen.choose(5, 16).suchThat(w => ts == 1 || w % ts != 0)
    h <- Gen.choose(4, 13)
    blocked <- Gen.choose(0.05, 0.4)
    open <- Gen.listOfN(w * h, Gen.choose(0.0, 1.0)).map(_.map(_ >= blocked).toArray)
    // a tile's first or last column/row, or anywhere
    edge = (n: Int) => Gen.oneOf(
      Gen.choose(0, (n - 1) / ts).map(_ * ts),
      Gen.choose(0, (n - 1) / ts).map(k => math.min(n - 1, k * ts + ts - 1)),
      Gen.choose(0, n - 1))
    sources <- Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, Gen.zip(edge(w), edge(h))))
  } yield {
    sources.foreach { case (x, y) => open(y * w + x) = true }
    Field(ts, w, h, open, sources.distinct)
  }

  test("property: random obstacle fields match brute force at tiles 1/2/3/7") {
    var s = Seed(20261017L)
    for (_ <- 0 until 24) {
      val f = fieldGen.pureApply(Gen.Parameters.default, s)
      s = s.next
      val want = brute(f.mask, f.sources, f.w, f.h)
      val got = sparkDist(f.mask, f.sources, f.ts, f.w, f.h)
      assert(got === want, s"ts=${f.ts} ${f.w}x${f.h} sources=${f.sources}")
    }
  }

  test("loop state keeps defaultParallelism partitions in every round") {
    // AQE would size a shuffled reduce stage from its bytes, and the
    // border strips are tiny; every loop job must still run one task per
    // partition of the fixed partitioner
    val par = spark.sparkContext.defaultParallelism
    val marker = "costdist-parallelism-marker"
    for (ts <- Seq(4, 16)) {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
      @volatile var flushed = false
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.job.description") == marker)
            flushed = true
          else jobs.add(e.stageInfos.sortBy(_.stageId).map(_.numTasks))
      }
      val spec = RasterSpec(0.0, 64.0, 0.25, -0.25, W, W, ts, 1)
      // a 1-partition mask: only the loop's partitioner sets its width
      val m = TileOps.createRaster(spark, spec, partitions = 1)(
        (x, y, _) => if (mazeMask(x, y)) 1.0 else 0.0).cache()
      m.count()
      spark.sparkContext.addSparkListener(listener)
      try {
        CostDist.octileDistance(m, Seq((0, 0)), ts, width = W)
        spark.sparkContext.setJobDescription(marker)
        spark.sparkContext.parallelize(Seq(1), 1).count()
        spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 30e9.toLong
        while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
        assert(flushed, "listener events not delivered")
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        m.unpersist()
      }
      val rounds = jobs.toArray(Array.empty[Seq[Int]]).toSeq
      // the maze needs many rounds at either tile size
      assert(rounds.size >= 3, s"ts=$ts: ${rounds.size} loop jobs")
      rounds.zipWithIndex.foreach { case (tasks, i) =>
        assert(tasks.last === par, s"ts=$ts round $i result stage: $tasks")
        // every stage but round 1's initial shuffle of the mask
        assert(tasks.drop(if (i == 0) 1 else 0).forall(_ == par), s"ts=$ts round $i: $tasks")
      }
    }
  }

  test("exact-integer comparator: sign of Δs + Δd·√2 on adversarial pairs") {
    // 5 + 3√2 = 9.2426..; 9 + 0√2 = 9 ; 1 + 6√2 = 9.485..
    assert(CostDist.less(9, 0, 5, 3))
    assert(!CostDist.less(1, 6, 5, 3))
    assert(CostDist.less(5, 3, 1, 6))
    // 0 + 5√2 = 7.071.. vs 7 + 0√2
    assert(CostDist.less(7, 0, 0, 5))
    assert(!CostDist.less(0, 5, 7, 0))
    // infinities
    assert(CostDist.less(3, 3, -1, -1) && !CostDist.less(-1, -1, 3, 3))
    assert(!CostDist.less(-1, -1, -1, -1) && !CostDist.less(2, 2, 2, 2))
  }

  test("scattered obstacles, two sources: matches brute force at tiles 8/16/48") {
    val sources = Seq((0, 0), (W - 1, W - 1))
    val want = brute(openMask, sources)
    for (ts <- Seq(8, 16, 48)) {
      val got = sparkDist(openMask, sources, ts)
      assert(got === want, s"ts=$ts")
    }
  }

  test("serpentine maze: tile-re-entrant optimal path converges exactly") {
    val sources = Seq((0, 0))
    val want = brute(mazeMask, sources)
    val got = sparkDist(mazeMask, sources, 8)
    assert(got === want)
    // the far corridor's end is genuinely far: > 10 corridor traversals
    val far = want((W - 1, W - 1))
    assert(far._1 + far._2 > 2 * W, s"maze not serpentine enough: $far")
  }

  test("backlink greedy descent traces a least-cost path to the source") {
    val spec = RasterSpec(0.0, 64.0, 0.25, -0.25, W, W, 8, 1)
    val m = TileOps.createRaster(spark, spec)((x, y, _) => if (mazeMask(x, y)) 1.0 else 0.0)
    val dist = CostDist.octileDistance(m, Seq((0, 0)), 8, width = W)
    val dmap = dist.collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getInt(2), r.getInt(3))).toMap
    val code = CostDist.costBacklink(dist).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(code((0, 0)) === 0, "source must be the only code-0 cell on its path")
    val delta = Flow.D8.map(d => d._1 -> (d._2, d._3)).toMap
    var cur = (W - 1, W - 1) // far end of the serpentine
    var steps = 0
    while (code(cur) != 0) {
      val (dx, dy) = delta(code(cur))
      val next = (cur._1 + dx, cur._2 + dy)
      assert(CostDist.less(dmap(next)._1, dmap(next)._2, dmap(cur)._1, dmap(cur)._2),
        s"descent not strictly decreasing at $cur -> $next")
      cur = next; steps += 1
      assert(steps <= W * W, "backlink descent cycled")
    }
    assert(cur === ((0, 0)), s"descent ended at $cur, not the source")
    val far = dmap((W - 1, W - 1))
    assert(steps === far._1 + far._2, "path length must equal s + d moves")
  }

  test("walls and unreachable pockets are absent from the output") {
    val got = sparkDist(mazeMask, Seq((0, 0)), 16)
    for (x <- 0 until W; y <- 0 until W if !mazeMask(x, y))
      assert(!got.contains((x, y)), s"wall ($x,$y) in output")
  }
}
