package graft.ops

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Connected components (alternating large/small-star contraction) and
  * LSH near-dup clustering. The oracle query (`dedup_clusters`) checks
  * engine-vs-DuckDB parity on the synthetic corpus; this spec pins the
  * graph semantics on handcrafted edge lists where the expected
  * components are computable by hand, and the cluster/pair coherence
  * property (every verified LSH pair lands in one cluster).
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edges(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  private def components(rows: (Long, Long)*): Map[Long, Long] =
    Dedup.connectedComponents(edges(rows: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents on a chain collapses to the minimum") {
    val got = components(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connectedComponents separates disjoint components; ignores dup/self edges") {
    val got = components(
      10L -> 7L, 7L -> 10L, 7L -> 7L, 10L -> 12L, // component {7,10,12}
      2L -> 3L, 3L -> 2L,                         // component {2,3}
      20L -> 21L)                                 // component {20,21}
    assert(got == Map(7L -> 7L, 10L -> 7L, 12L -> 7L,
      2L -> 2L, 3L -> 2L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents matches brute force on a random graph") {
    val rnd = new scala.util.Random(42)
    val es = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    // brute-force union-find on the driver
    val parent = scala.collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val expect = nodes.map { n =>
      val members = nodes.filter(m => find(m) == find(n))
      n -> members.min
    }.toMap
    assert(components(es: _*) == expect)
  }

  test("connectedComponents of an empty edge list is empty") {
    assert(components() == Map.empty[Long, Long])
  }

  /** A random edge list of integral ids (None = null endpoint): random
    * edges, a hub star, isolated pairs, duplicate and reversed copies,
    * self-loops and null endpoints, in shuffled order.
    */
  private val graphGen: Gen[(Boolean, Seq[(Option[Long], Option[Long])])] = for {
    intIds <- Gen.oneOf(true, false)
    base <- if (intIds) Gen.oneOf(0L, -1000L, Int.MaxValue - 20000L)
            else Gen.oneOf(0L, 1L << 40, Long.MinValue + 1)
    n <- Gen.choose(2, 40)
    rand <- Gen.choose(0, 60).flatMap(m =>
      Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L))))
    leaves <- Gen.choose(0, 30)
    pairs <- Gen.choose(0, 5)
    copies <- Gen.choose(0, 10)
    loops <- Gen.listOf(Gen.choose(0L, n + 1L))
    nulls <- Gen.listOf(Gen.choose(0L, n + 1L))
    order <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val hub = n + 100L
    val core = rand ++ (1 to leaves).map(j => if (j % 2 == 0) (hub, hub + j) else (hub + j, hub)) ++
      (0 until pairs).map(p => (n + 1000L + 2 * p, n + 1001L + 2 * p))
    val dups = core.take(copies).flatMap(e => Seq(e, e.swap))
    val valid = (core ++ dups ++ loops.map(x => (x, x))).map { case (a, b) =>
      (Some(base + a), Some(base + b)) }
    val withNulls = valid ++ nulls.zipWithIndex.map { case (x, i) =>
      if (i % 3 == 0) (None, Some(base + x)) else if (i % 3 == 1) (Some(base + x), None)
      else (None, None) }
    (intIds, new scala.util.Random(order).shuffle(withNulls))
  }

  /** Union-find components: node -> smallest member, over the edges with
    * two distinct non-null endpoints.
    */
  private def unionFind(es: Seq[(Option[Long], Option[Long])]): Map[Long, Long] = {
    val edges = es.collect { case (Some(a), Some(b)) if a != b => (a, b) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Rounds the large-star / small-star contraction takes on edge SETS:
    * the loop's round count, since a set is what its dedup and exact
    * signature compare.
    */
  private def starRounds(es: Seq[(Option[Long], Option[Long])]): Int = {
    var e = es.collect { case (Some(a), Some(b)) if a != b => (a min b, a max b) }.toSet
    var it = 0
    var converged = e.isEmpty
    while (!converged) {
      val nbrs = (e ++ e.map(_.swap)).groupMap(_._1)(_._2).toSeq
      val large = for ((n, ns) <- nbrs; m = (ns + n).min; x <- ns.toSeq if x > n) yield (x, m)
      val small = (for ((x, ms) <- large.groupMap(_._1)(_._2).toSeq; m = ms.min;
                        u <- ms :+ x if u != m) yield (m, u)).toSet
      it += 1
      converged = small == e
      e = small
    }
    it
  }

  test("property: CC equals union-find on random graphs, Int and Long ids, 1/3/8 partitions") {
    var seed = Seed(20261017L)
    for (_ <- 0 until 10) {
      val (intIds, es) = graphGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val t = if (intIds) IntegerType else LongType
      def id(x: Option[Long]): Any =
        x.map[Any](v => if (intIds) Int.box(v.toInt) else Long.box(v)).orNull
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(es.map { case (a, b) => Row(id(a), id(b)) }, 2),
        StructType(Seq(StructField("src", t), StructField("dst", t))))
      val want = unionFind(es)
      val wantRounds = starRounds(es)
      for (parts <- Seq(1, 3, 8)) {
        val (comp, rounds) = Dedup.starContraction(df, 64, _ => parts)
        assert(rounds === wantRounds, s"parts=$parts")
        assert(comp.schema.map(_.name) === Seq("node", "component"))
        assert(comp.schema.map(_.dataType) === Seq(t, t), s"parts=$parts")
        val rows = comp.collect().map(r =>
          if (intIds) r.getInt(0).toLong -> r.getInt(1).toLong else r.getLong(0) -> r.getLong(1))
        assert(rows.length === want.size, s"parts=$parts: one row per node")
        assert(rows.toMap === want, s"parts=$parts intIds=$intIds edges=$es")
      }
    }
  }

  test("lshClusters releases its cache") {
    import spark.implicits._
    val docs = Seq(
      0L -> "spark shuffle partition join agg",
      1L -> "spark shuffle partition join agg",
      2L -> "spark shuffle partition join scan",
      3L -> "totally different words entirely here").toDF("doc_id", "text")
    // caches (a cached table's column buffers included), as opposed to
    // the checkpoint blocks that the result owns and the ContextCleaner
    // frees with it
    def caches(): Set[Int] = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).map(_.id).toSet
    val before = caches()
    assert(Dedup.lshClusters(docs, k = 8, bands = 4).collect().length == 4)
    assert((caches() -- before).isEmpty)
  }

  test("shingleTable builds word n-grams; short docs shingle to nothing") {
    import spark.implicits._
    val df = Seq((0L, "a b c d"), (1L, "x y"), (2L, "")).toDF("doc_id", "text")
    val got = Dedup.shingleTable(df, n = 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((0L, "a b c"), (0L, "b c d")))
    val bi = Dedup.shingleTable(df, n = 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bi == Set((0L, "a b"), (0L, "b c"), (0L, "c d"), (1L, "x y")))
  }

  test("lshClusters: pairs-connectivity coherence and singleton mapping") {
    import spark.implicits._
    val docs = Seq(
      0L -> "spark shuffle partition join agg",
      1L -> "spark shuffle partition join agg",   // exact dup of 0
      2L -> "spark shuffle partition join scan",  // near dup of 0/1
      3L -> "totally different words entirely here",
      4L -> "zz qq ww ee rr").toDF("doc_id", "text")
    val clusters = Dedup.lshClusters(docs, k = 8, bands = 4, family = "md5prefix")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // every doc maps to a cluster id <= its own id, and the cluster id
    // is itself a member of the same cluster (min-rooted)
    clusters.foreach { case (d, c) =>
      assert(c <= d && clusters(c) == c)
    }
    // exact duplicates share every band key, so 0 and 1 must co-cluster
    assert(clusters(0L) == clusters(1L))
    // coherence vs the pair enumerator: every full-corpus bucket pair
    // must be in one cluster
    val pairs = Dedup.minhashLshPairs(docs, k = 8, bands = 4, threshold = 0.0,
      family = "md5prefix").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) => assert(clusters(a) == clusters(b)) }
  }

  private def docTexts(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("bloomFlags: no false negatives, bitmap probe ≡ set semantics, both families") {
    import spark.implicits._
    val docs = docTexts((0L until 300L).map(i =>
      (i, s"document body ${i % 97} variant ${i % 13} tail $i")): _*)
    val ref = docs.filter(col("doc_id") % 3 === 0)
    for (family <- Seq("xxhash64", "md5prefix")) {
      val k = 5; val m = 1 << 14
      val flags = Dedup.bloomFlags(docs, ref, k = k, mBits = m, family = family)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      // exact no-false-negative guarantee: every reference doc is flagged
      (0L until 300L by 3).foreach(i => assert(flags(i), s"ref doc $i family $family"))
      // bitmap probe equals plain set semantics, including any FPs
      val refPos = ref.select(explode(
        Dedup.bloomPositions(col("text"), k, m, family)).as("p"))
        .distinct().as[Long].collect().toSet
      val want = docs.select(col("doc_id"),
        Dedup.bloomPositions(col("text"), k, m, family).as("pos"))
        .as[(Long, Seq[Long])].collect()
        .map { case (id, pos) => id -> pos.forall(refPos) }.toMap
      assert(flags == want)
    }
  }

  test("bloomFlags FP rate is sane at the designed bits-per-key ratio") {
    // 100 ref keys in 2^14 bits, k=5: theoretical FP ~ 3e-9 — expect
    // zero false positives among the 200 non-ref docs (deterministic)
    val docs = docTexts((0L until 300L).map(i => (i, s"unique content $i")): _*)
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val flags = Dedup.bloomFlags(docs, ref, k = 5, mBits = 1 << 14)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val fps = (0L until 300L).filter(i => i % 3 != 0 && flags(i))
    assert(fps.isEmpty, s"unexpected false positives: $fps")
  }

  test("bloomBitmap is deterministic across parallelism levels") {
    val docs = docTexts((0L until 200L).map(i => (i, s"text $i")): _*)
    val a = Dedup.bloomBitmap(docs.repartition(1), "text", k = 3, mBits = 1 << 10)
    val b = Dedup.bloomBitmap(docs.repartition(16), "text", k = 3, mBits = 1 << 10)
    assert(a.toSeq == b.toSeq)
  }

  test("bloomFlags works on a non-text key column (ADVICE r4: keyCol)") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"https://host${i % 7}.example/p$i"))
      .toDF("doc_id", "url")
    val ref = docs.filter(col("doc_id") < 50)
    val flags = Dedup.bloomFlags(docs, ref, k = 4, mBits = 1 << 12, keyCol = "url")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 50L).foreach(i => assert(flags(i), s"ref url doc $i must be flagged"))
  }

  test("bloom_contains_all treats a null position element as bit-absent (ADVICE r4)") {
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    val allOnes = Array.fill(4)(-1L) // every bit set: only a null can yield false
    val got = Seq(Tuple1(Seq[java.lang.Long](1L, null, 3L)), Tuple1(Seq[java.lang.Long](1L, 3L)))
      .toDF("pos")
      .select(call_function("bloom_contains_all", col("pos"), typedlit(allOnes)).as("hit"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(false, true))
  }

  test("containmentPairs matches brute force; catches quotes Jaccard misses") {
    import spark.implicits._
    val long = (0 until 200).map(i => s"w$i").mkString(" ")
    val quote = (0 until 40).map(i => s"w$i").mkString(" ")   // ⊂ long, J=0.2
    val near = (0 until 40).map(i => if (i < 36) s"w$i" else s"z$i").mkString(" ")
    val other = (0 until 50).map(i => s"q$i").mkString(" ")
    val docs = Seq((1L, long), (2L, quote), (3L, near), (4L, other))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, tNum = 4, tDen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force over distinct token sets
    val sets = Map(1L -> (0 until 200).map(i => s"w$i").toSet,
      2L -> (0 until 40).map(i => s"w$i").toSet,
      3L -> (0 until 40).map(i => if (i < 36) s"w$i" else s"z$i").toSet,
      4L -> (0 until 50).map(i => s"q$i").toSet)
    val exp = (for {
      a <- sets.keys; b <- sets.keys; if a != b
      inter = (sets(a) & sets(b)).size.toLong
      if inter * 5 >= 4 * sets(a).size
    } yield (a, b) -> inter).toMap
    assert(got === exp)
    assert(got.contains((2L, 1L)) && got((2L, 1L)) === 40L,
      "exact quote must be contained in the long doc")
    assert(!got.contains((1L, 2L)), "containment is asymmetric")
    // near: 36 of 40 in long -> 36*5 = 180 >= 4*40 = 160 -> accepted
    assert(got.contains((3L, 1L)))
    // the same pair is invisible to symmetric Jaccard at 0.5
    val j = Dedup.jaccardSimilarPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((2L, 1L)) && !j.contains((1L, 2L)))
  }

  test("containmentPairs rational threshold boundary is exact (no float slack)") {
    import spark.implicits._
    // |A|=5, threshold 4/5: inter=4 accepted (4*5 >= 4*5), inter=3 rejected
    val a = "t1 t2 t3 t4 t5"
    val b4 = "t1 t2 t3 t4 x1 x2"       // shares exactly 4
    val b3 = "t1 t2 t3 y1 y2 y3"       // shares exactly 3
    val docs = Seq((1L, a), (2L, b4), (3L, b3)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, tNum = 4, tDen = 5,
        probeFilter = col("doc_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(2L -> 4L))
  }

  test("sigPrunePairs: prunes sub-threshold band collisions, loses no dup") {
    // Sparse-corpus shape: families sharing a small token core (J ≈ 0.18,
    // junk that still collides in 2-row bands) plus planted near-dups
    // (J ≈ 0.9). The pre-prune must cut the candidate set while the
    // verified >= threshold output stays EXACTLY the same.
    val fam = for (f <- 0 until 4; d <- 0 until 10) yield {
      val core = (0 until 6).map(i => s"core${f}_$i")
      val uniq = (0 until 14).map(i => s"u${f}_${d}_$i")
      (f * 10L + d, (core ++ uniq).mkString(" "))
    }
    val dups = (0 until 3).flatMap { p =>
      val shared = (0 until 19).map(i => s"dup${p}_$i").mkString(" ")
      Seq((100L + 2 * p, s"$shared onlyA$p"), (101L + 2 * p, s"$shared onlyB$p"))
    }
    val docs = docTexts((fam ++ dups): _*)
    val (k, bands, thr, margin) = (16, 8, 0.6, 0.3)

    val base = Dedup.minhashLshPairs(docs, k, bands, thr)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Dedup.minhashLshPairs(docs, k, bands, thr, sigPruneMargin = margin)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == pruned, "pre-prune changed the verified pair set")
    assert(Set((100L, 101L), (102L, 103L), (104L, 105L))
      .subsetOf(base.map { case (a, b) => (math.min(a, b), math.max(a, b)) }))

    // the prune actually removes junk candidates: enumerate all band
    // collisions (threshold 0 keeps every candidate with its exact J),
    // then check sigPrunePairs drops some and never a >=thr pair
    val all = Dedup.minhashLshPairs(docs, k, bands, threshold = 0.0)
    val cand = all.select("doc_a", "doc_b")
    val nCand = cand.count()
    val sig = Dedup.minhashSignature(docs, k)
    val kept = Dedup.sigPrunePairs(sig, cand, k, thr - margin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept.size < nCand,
      s"prune kept all $nCand candidates — fixture has no junk to cut")
    val trueDups = all.filter(col("jaccard") >= thr).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trueDups.subsetOf(kept), "prune dropped a true duplicate pair")
  }

  test("sketchCalibration: identical docs estimate 10^6; true ppm is exact Jaccard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),       // identical to 1
      (3L, "alpha beta gamma delta epsilon ETA"),        // J = 5/7 with 1
      (4L, "totally different words here entirely")
    ).toDF("doc_id", "text")
    val rows = Dedup.sketchCalibration(docs, k = 8, bands = 4, family = "md5prefix")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // identical docs share every signature slot AND every band bucket
    val id = rows((1L, 2L))
    assert(id == (8L, 1000000L, 6L, 6L, 1000000L))
    // est is slot-matches/k in truncating ppm; true is exact |∩|/|∪|
    rows.foreach { case (_, (nm, est, inter, uni, tru)) =>
      assert(est == nm * 1000000L / 8L)
      assert(tru == inter * 1000000L / uni)
      assert(nm >= 1L) // a banding candidate shares at least one full band
    }
    // near-dup pair (1,3) must surface with its exact 5/7 Jaccard
    rows.get((1L, 3L)).foreach { case (_, _, inter, uni, tru) =>
      assert(inter == 5L && uni == 7L && tru == 714285L)
    }
    assert(!rows.contains((1L, 4L)), "unrelated docs should not band together")
  }
}
