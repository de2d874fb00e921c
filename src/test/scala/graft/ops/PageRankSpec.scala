package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Integer fixed-point PageRank vs an independent single-threaded
  * reference on hand graphs (including a dangling node), plus mass
  * conservation bounds and parallelism determinism.
  */
class PageRankSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("pagerank-spec").getOrCreate()

  /** Reference implementation: plain Scala Long arithmetic, same op
    * order as the engine ((r*num)/(den*deg) per edge, floor divisions).
    */
  private def refRank(edges: Seq[(Long, Long)], iters: Int,
                      scale: Long = 1000000000000L,
                      num: Long = 17, den: Long = 20): Map[Long, Long] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val nodes = e.flatMap { case (s, d) => Seq(s, d) }.distinct.sorted
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val base = (scale * (den - num)) / (den * n)
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(deg.contains).map(r).sum
      val dShare = (dang * num) / (den * n)
      val contrib = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => (r(s) * num) / (den * deg(s)) }.sum
      }
      r = nodes.map(nd => nd -> (base + dShare + contrib.getOrElse(nd, 0L))).toMap
    }
    r
  }

  private def runSpark(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    WebOps.pageRank(edges.toDF("src", "dst"), iters = iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("matches the reference on a hand graph with a dangling node") {
    // 3 -> nothing (dangling); 0 <-> 1 hub pair; 2 feeds both
    val edges = Seq[(Long, Long)]((0, 1), (1, 0), (2, 0), (2, 1), (0, 3), (1, 3))
    for (iters <- Seq(1, 2, 5)) {
      assert(runSpark(edges, iters) === refRank(edges, iters),
        s"mismatch at iters=$iters")
    }
  }

  test("self-loops and duplicate edges are ignored") {
    val clean = Seq[(Long, Long)]((0, 1), (1, 2), (2, 0))
    val noisy = clean ++ Seq[(Long, Long)]((0, 0), (1, 1), (0, 1), (0, 1), (2, 0))
    assert(runSpark(noisy, 3) === refRank(clean, 3))
  }

  test("mass is conserved up to floor-division loss") {
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 40), (i, (i * 13 + 3) % 40)))
    val r = runSpark(edges, 5)
    val scale = 1000000000000L
    val total = r.values.sum
    // each of the 5 rounds floors away < 1 unit per edge + 2 per node
    val maxLoss = 5L * (edges.distinct.size + 2 * 40)
    assert(total <= scale && total >= scale - maxLoss,
      s"total mass $total outside [$scale - $maxLoss, $scale]")
  }

  test("deterministic across input partitioning") {
    import spark.implicits._
    val edges = (0L until 200L).flatMap(i =>
      Seq((i % 23, (i * 31 + 7) % 23), (i % 23, (i * 17 + 3) % 23)))
    def run(parts: Int): Map[Long, Long] =
      WebOps.pageRank(edges.toDF("src", "dst").repartition(parts), iters = 5)
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val a = run(1)
    assert(run(13) === a)
    assert(a === refRank(edges, 5))
  }

  test("200 iterations run under the default broadcast timeout and match the reference") {
    // the session leaves spark.sql.broadcastTimeout at its 300 s default
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (2, 0), (2, 3), (4, 2), (4, 5), (5, 4))
    assert(runSpark(edges, 200) === refRank(edges, 200))
  }

  test("an overflowing rank product throws, as it did under ANSI SQL") {
    import spark.implicits._
    // rank = scale / 2, and rank * dampNum leaves the Long range
    val e = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val err = intercept[Exception](
      WebOps.pageRank(e, iters = 1, scale = Long.MaxValue / 2).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), err)
  }

  test("Int host ids come back as Int") {
    import spark.implicits._
    val r = WebOps.pageRank(Seq((0, 1), (1, 2), (2, 0)).toDF("src", "dst"), iters = 2)
    assert(r.schema.map(_.dataType) ===
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType))
    assert(r.collect().map(row => row.getInt(0).toLong -> row.getLong(1)).toMap ===
      refRank(Seq((0L, 1L), (1L, 2L), (2L, 0L)), 2))
  }

  test("rejects bad parameters and empty graphs") {
    import spark.implicits._
    val e = Seq((0L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException](WebOps.pageRank(e, iters = 0))
    intercept[IllegalArgumentException](
      WebOps.pageRank(e, dampNum = 21, dampDen = 20))
    intercept[IllegalArgumentException](
      WebOps.pageRank(Seq((5L, 5L)).toDF("src", "dst"), iters = 1))
  }

  /** Independent HITS reference: exact BigInt alternating-walk counts,
    * auth_0 = 1 everywhere, no normalization.
    */
  private def refHits(edges: Seq[(Long, Long)],
                      iters: Int): Map[Long, (BigInt, BigInt)] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val nodes = e.flatMap { case (s, d) => Seq(s, d) }.distinct
    var auth = nodes.map(_ -> BigInt(1)).toMap
    var hub = Map.empty[Long, BigInt]
    for (_ <- 1 to iters) {
      hub = e.groupBy(_._1).map { case (s, out) =>
        s -> out.map { case (_, d) => auth(d) }.sum
      }
      auth = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => hub(s) }.sum
      }
    }
    nodes.map(n => n ->
      (hub.getOrElse(n, BigInt(0)), auth.getOrElse(n, BigInt(0)))).toMap
  }

  private def runHits(edges: Seq[(Long, Long)], iters: Int,
                      parts: Int = 4): Map[Long, (BigInt, BigInt)] = {
    import spark.implicits._
    WebOps.hits(edges.toDF("src", "dst").repartition(parts), iters = iters)
      .collect().map(r => r.getLong(0) ->
        (BigInt(r.getDecimal(1).toBigInteger),
          BigInt(r.getDecimal(2).toBigInteger))).toMap
  }

  test("hits matches the BigInt reference, including source/sink zeros") {
    // 3 is a pure sink (auth only), 4 a pure source (hub only)
    val edges = Seq[(Long, Long)]((0, 1), (1, 0), (2, 0), (2, 1), (0, 3), (4, 2))
    for (iters <- Seq(1, 2, 4)) {
      val got = runHits(edges, iters)
      assert(got === refHits(edges, iters), s"iters=$iters")
    }
    val two = runHits(edges, 2)
    assert(two(3L)._1 === BigInt(0)) // sink: no outlinks -> hub 0
    assert(two(4L)._2 === BigInt(0)) // source: no inlinks -> auth 0
  }

  test("hits hub round 1 is the outdegree (auth_0 = 1 everywhere)") {
    val edges = Seq[(Long, Long)]((0, 1), (0, 2), (0, 3), (1, 2))
    val got = runHits(edges, 1)
    assert(got(0L)._1 === BigInt(3) && got(1L)._1 === BigInt(1))
  }

  test("hits is deterministic across parallelism levels") {
    val edges = (0L until 300L).flatMap(i =>
      Seq((i % 29, (i * 31 + 7) % 29), (i % 29, (i * 13 + 5) % 29)))
    assert(runHits(edges, 3, parts = 1) === runHits(edges, 3, parts = 16))
  }

  test("hits rejects out-of-headroom iteration counts") {
    import spark.implicits._
    val e = Seq((0L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException](WebOps.hits(e, iters = 0))
    intercept[IllegalArgumentException](WebOps.hits(e, iters = 5))
  }

  // ---------------- TrustRank ----------------

  /** Seeded-teleport reference: same op order as WebOps.trustRank. */
  private def refTrust(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
                       scale: Long = 1000000000000L,
                       num: Long = 17, den: Long = 20): Map[Long, Long] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val nodes = e.flatMap { case (s, d) => Seq(s, d) }.distinct.sorted
    val live = seeds.intersect(nodes.toSet)
    val sN = live.size.toLong
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val base = (scale * (den - num)) / (den * sN)
    var r = nodes.map(nd => nd -> (if (live(nd)) scale / sN else 0L)).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(deg.contains).map(r).sum
      val dShare = (dang * num) / (den * sN)
      val contrib = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => (r(s) * num) / (den * deg(s)) }.sum
      }
      r = nodes.map(nd => nd ->
        ((if (live(nd)) base + dShare else 0L) + contrib.getOrElse(nd, 0L))).toMap
    }
    r
  }

  private def runTrust(edges: Seq[(Long, Long)], seeds: Seq[Long],
                       iters: Int, parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    WebOps.trustRank(edges.toDF("src", "dst").repartition(parts),
        seeds.toDF("host"), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("trustRank matches the seeded reference; unreachable hosts land at exactly 0") {
    // component A: 0 <-> 1 -> 2 (seed 0); component B: 10 -> 11 (no seed)
    val edges = Seq[(Long, Long)]((0, 1), (1, 0), (1, 2), (10, 11))
    for (iters <- Seq(1, 3, 5)) {
      val got = runTrust(edges, Seq(0L), iters)
      assert(got === refTrust(edges, Set(0L), iters), s"iters=$iters")
      assert(got(10L) === 0L && got(11L) === 0L,
        "hosts unreachable from every seed must hold exactly zero trust")
      // node 2 is TWO hops from seed 0, so trust reaches it from iter 2 on
      if (iters >= 2) assert(got(2L) > 0L, "seed-reachable host must accrue trust")
    }
  }

  test("trustRank ignores seeds absent from the graph; rejects an empty live seed set") {
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (2, 0), (2, 3))
    // 999 is not in the graph -> identical to seeding {0} alone
    assert(runTrust(edges, Seq(0L, 999L), 3) === refTrust(edges, Set(0L), 3))
    import spark.implicits._
    intercept[IllegalArgumentException](
      WebOps.trustRank(edges.toDF("src", "dst"), Seq(999L).toDF("host")))
  }

  test("trustRank with a dangling node redistributes its mass to the seeds only") {
    // 3 is dangling; verify vs reference across iterations (the dangling
    // share re-enters through the seeds, never uniformly)
    val edges = Seq[(Long, Long)]((0, 1), (1, 3), (2, 3), (0, 2))
    val seeds = Set(0L, 2L)
    for (iters <- Seq(1, 2, 5))
      assert(runTrust(edges, seeds.toSeq, iters) === refTrust(edges, seeds, iters))
  }

  // ---------------- reachable (frontier BFS) ----------------

  private def refBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                     maxHops: Int): Map[Long, Int] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val adj = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds
    var k = 1
    while (k <= maxHops && frontier.nonEmpty) {
      val next = frontier.flatMap(h => adj.getOrElse(h, Nil))
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> k)
      frontier = next
      k += 1
    }
    dist
  }

  private def runReach(edges: Seq[(Long, Long)], seeds: Seq[Long],
                       maxHops: Int, parts: Int = 4): Map[Long, Int] = {
    import spark.implicits._
    WebOps.reachable(edges.toDF("src", "dst").repartition(parts),
        seeds.toDF("host"), maxHops)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("reachable computes exact min hops; the cap excludes deeper hosts") {
    // two paths to 4: 0->1->2->3->4 (4 hops) and 0->9->4 (2 hops);
    // 7->8 is disconnected from the seed
    val edges = Seq[(Long, Long)](
      (0, 1), (1, 2), (2, 3), (3, 4), (0, 9), (9, 4), (4, 5), (7, 8))
    val exp = refBfs(edges, Set(0L), 3)
    val got = runReach(edges, Seq(0L), 3)
    assert(got === exp)
    assert(got(4L) === 2, "min-hop path must win")
    assert(!got.contains(3L) || got(3L) === 3)
    assert(!got.contains(7L) && !got.contains(8L), "disconnected hosts leak in")
  }

  test("reachable matches reference BFS on a random multi-seed graph; early exit is safe") {
    val edges = (0L until 400L).map(i =>
      ((i * 7 + 1) % 61, (i * i * 13 + i * 5 + 3) % 61))
    val seeds = Seq(0L, 17L)
    // maxHops far beyond the eccentricity: loop must exit on empty frontier
    val got = runReach(edges, seeds, 50)
    assert(got === refBfs(edges, seeds.toSet, 50))
    // and the capped form agrees too
    assert(runReach(edges, seeds, 2) === refBfs(edges, seeds.toSet, 2))
  }

  test("reachable with maxHops 0 returns exactly the seed set at hop 0") {
    val edges = Seq[(Long, Long)]((0, 1), (1, 2))
    assert(runReach(edges, Seq(0L, 5L), 0) === Map(0L -> 0, 5L -> 0))
  }

  test("sccOfSeed keeps the cycle core and excludes a crawl trap") {
    import spark.implicits._
    // core cycle 0->1->2->0 ; trap: 2->10->11->10 (reachable, no way back);
    // upstream-only: 20->0 (reaches the seed, unreachable from it)
    val edges = Seq[(Long, Long)](
      (0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10), (20, 0))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("host")
    val got = WebOps.sccOfSeed(edges, seeds, maxHops = 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got.keySet === Set(0L, 1L, 2L))
    assert(got(0L) === ((0, 0)))
    assert(got(1L) === ((1, 2))) // 1 hop out, 2 hops back (1->2->0)
    assert(got(2L) === ((2, 1)))
  }

  // ---------------- co-citation / coupling ----------------

  test("cocitationPairs matches brute force; coupling is cocitation of the reverse") {
    import spark.implicits._
    val edges = (0L until 300L).flatMap(i =>
      Seq((i % 13, (i * 7 + 1) % 17), (i % 13, (i * 11 + 5) % 17),
          (i % 13, (i * 3 + 2) % 17)))
      .map { case (s, d) => (s, d + 100) } // disjoint src/dst id spaces
    val clean = edges.filter { case (s, d) => s != d }.distinct
    val bySrc = clean.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val exp = bySrc.values.flatMap { ds =>
      for (i <- ds.indices; j <- (i + 1) until ds.size) yield (ds(i), ds(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 2)
    val got = WebOps.cocitationPairs(edges.toDF("src", "dst"),
        minShared = 2, capPerSource = -1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === exp)
    assert(got.nonEmpty, "fixture produced no shared pairs — too weak")
    // coupling(edges) == cocitation(reversed edges)
    val coup = WebOps.couplingPairs(edges.toDF("src", "dst"), 2, -1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rev = WebOps.cocitationPairs(
        edges.map(_.swap).toDF("src", "dst"), 2, -1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(coup === rev)
  }

  test("cocitationPairs cap bounds a directory-page source deterministically") {
    import spark.implicits._
    // one hub source linking 100 targets + a small honest source
    val hub = (0L until 100L).map(t => (1000L, t))
    val small = Seq((5L, 0L), (5L, 1L), (5L, 2L))
    val got = WebOps.cocitationPairs((hub ++ small).toDF("src", "dst"),
        minShared = 1, capPerSource = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // hub contributes C(4,2)=6 pairs over its 4 LOWEST targets; source 5
    // contributes C(3,2)=3 pairs; overlap on (0,1),(0,2),(1,2) -> n=2
    assert(got.size === 6)
    assert(got.contains((0L, 1L, 2L)) && got.contains((2L, 3L, 1L)))
    assert(!got.exists { case (a, b, _) => a >= 4L || b > 4L },
      "cap leaked a high target id from the hub")
  }

  test("trustRank is deterministic across parallelism levels") {
    val edges = (0L until 300L).flatMap(i =>
      Seq((i % 31, (i * 31 + 7) % 31), (i % 31, (i * 13 + 5) % 31)))
    val seeds = Seq(0L, 13L, 26L)
    assert(runTrust(edges, seeds, 5, parts = 1) === runTrust(edges, seeds, 5, parts = 16))
  }

  test("spam mass: seed-unreachable island reads exactly 10^6, fold is exact") {
    import spark.implicits._
    // component A: 0 <-> 1 (seed 0); island B: 10 <-> 11 (no trust path)
    val edges = Seq[(Long, Long)]((0, 1), (1, 0), (10, 11), (11, 10))
    val got = WebOps.spamMass(edges.toDF("src", "dst"),
        Seq(0L).toDF("host"), iters = 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // the island receives PageRank but ZERO TrustRank → mass exactly 1.0
    assert(got(10L)._2 === 0L && got(10L)._3 === 1000000L)
    assert(got(11L)._2 === 0L && got(11L)._3 === 1000000L)
    // the seed component concentrates ALL trust → its mass goes negative
    assert(got(0L)._3 < 0L, s"seed mass should be negative: ${got(0L)}")
    // fold matches the BigInt definition row by row
    got.values.foreach { case (pr, tr, m) =>
      val want =
        if (pr == 0) 0L
        else if (pr >= tr) (BigInt(pr - tr) * 1000000 / pr).toLong
        else -((BigInt(tr - pr) * 1000000 / pr).toLong)
      assert(m === want)
    }
  }

  test("weighted pageRank with unit weights equals the unweighted op") {
    import spark.implicits._
    val edges = Seq[(Long, Long)]((0, 1), (1, 0), (2, 0), (2, 1), (0, 3), (1, 3))
    val base = WebOps.pageRank(edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unit = WebOps.pageRankWeighted(
        edges.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"),
        iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unit === base)
  }

  test("weighted pageRank matches a BigInt reference and splits by weight") {
    import spark.implicits._
    // 0 -> 1 (w 3), 0 -> 2 (w 1): node 1 must receive 3x node 2's share
    val edges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
    def ref(iters: Int): Map[Long, Long] = {
      val scale = BigInt(1000000000000L)
      val nodes = Seq(0L, 1L, 2L)
      val wsum = Map(0L -> BigInt(4), 1L -> BigInt(1), 2L -> BigInt(1))
      var r = nodes.map(_ -> scale / 3).toMap
      val base = (scale * 3) / (20 * 3)
      for (_ <- 1 to iters) {
        val contrib = nodes.map { v =>
          v -> edges.filter(_._2 == v).map { case (u, _, w) =>
            (r(u) * 17 * w) / (20 * wsum(u))
          }.sum
        }.toMap
        r = nodes.map(v => v -> (base + contrib(v))).toMap
      }
      r.map { case (k, v) => k -> v.toLong }
    }
    val got = WebOps.pageRankWeighted(edges.toDF("src", "dst", "w"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref(3))
    assert(got(1L) > got(2L))
  }

  test("weighted pageRank collapses parallel edges by weight sum") {
    import spark.implicits._
    val a = Seq((0L, 1L, 2L), (0L, 1L, 1L), (1L, 0L, 1L)).toDF("src", "dst", "w")
    val b = Seq((0L, 1L, 3L), (1L, 0L, 1L)).toDF("src", "dst", "w")
    val ra = WebOps.pageRankWeighted(a, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rb = WebOps.pageRankWeighted(b, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ra === rb)
  }
}
