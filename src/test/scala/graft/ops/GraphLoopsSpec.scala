package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The RDD-held graph loops ([[Dedup.connectedComponentsWithRounds]],
  * [[WebOps.pageRank]]): their shared primitive pair sort, and the width
  * of every job they submit.
  */
class GraphLoopsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pairsOf(k: Array[Long], v: Array[Long], n: Int): Seq[(Long, Long)] =
    (0 until n).map(i => (k(i), v(i)))

  test("pair sort orders (key, value) lexicographically, duplicates and signs included") {
    val rnd = new scala.util.Random(7)
    val sizes = Seq(0, 1, 2, 16, 17, 33, 100, 1000, 5000)
    for (n <- sizes; range <- Seq(3L, 1000L, Long.MaxValue)) {
      def draw(): Long = if (range == Long.MaxValue) rnd.nextLong() else rnd.nextLong() % range
      val k = Array.fill(n)(draw()); val v = Array.fill(n)(draw())
      val want = pairsOf(k, v, n).sorted
      // extra capacity past n must be left alone
      val kk = k ++ Array(Long.MinValue); val vv = v ++ Array(Long.MinValue)
      LongPairs.sort(kk, vv, n)
      assert(pairsOf(kk, vv, n) === want, s"n=$n range=$range")
      assert(kk(n) == Long.MinValue && vv(n) == Long.MinValue)
      // sorted, reversed and constant inputs
      LongPairs.sort(kk, vv, n)
      assert(pairsOf(kk, vv, n) === want)
      val rk = want.reverse.map(_._1).toArray; val rv = want.reverse.map(_._2).toArray
      LongPairs.sort(rk, rv, n)
      assert(pairsOf(rk, rv, n) === want)
      // the heapsort fallback on a sub-range
      if (n >= 2) {
        val hk = k.clone(); val hv = v.clone()
        LongPairs.heap(hk, hv, 1, n - 1)
        assert(hk(0) == k(0) && hv(0) == v(0))
        assert(pairsOf(hk, hv, n).drop(1) === pairsOf(k, v, n).drop(1).sorted)
      }
    }
  }

  test("sorted blocks drop repeated records only when asked") {
    val recs = Seq[(Long, Long)]((3, 1), (1, 2), (3, 1), (1, 2), (1, 1), (-5, 9))
    val all = LongPairs.sorted(recs.iterator, unique = false)
    assert(pairsOf(all.k, all.v, all.size) === recs.sorted)
    val uniq = LongPairs.sorted(recs.iterator, unique = true)
    assert(pairsOf(uniq.k, uniq.v, uniq.size) === recs.distinct.sorted)
    assert(LongPairs.sorted(Iterator.empty, unique = true).size == 0)
  }

  test("every job of CC and PageRank runs its stages at defaultParallelism tasks") {
    // the fixed partitioner sets every width; AQE would size a reduce
    // stage from its bytes and put a small graph on one task
    val par = spark.sparkContext.defaultParallelism
    val rows = (1L until 300L).map(i => Row(i, i / 2)) ++
      (1L to 50L).map(i => Row(1000L + i, 1000L)) :+ Row(2000L, 2001L)
    // a 1-partition input: only the loop's partitioner sets its width
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    val marker = "graph-loops-parallelism-marker"
    val runs = Seq[(String, () => Any)](
      "cc" -> (() => Dedup.connectedComponentsWithRounds(in)),
      "pagerank" -> (() => WebOps.pageRank(in, iters = 3)))
    for ((name, run) <- runs) {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
      @volatile var flushed = false
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.job.description") == marker)
            flushed = true
          else jobs.add(e.stageInfos.sortBy(_.stageId).map(_.numTasks))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        run()
        spark.sparkContext.setJobDescription(marker)
        spark.sparkContext.parallelize(Seq(1), 1).count()
        spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 30e9.toLong
        while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
        assert(flushed, "listener events not delivered")
      } finally spark.sparkContext.removeSparkListener(listener)
      val all = jobs.toArray(Array.empty[Seq[Int]]).toSeq
      // the input count, the set-up, and at least two rounds
      assert(all.size >= 4, s"$name: ${all.size} jobs")
      assert(all.head.size == 1, s"$name: the count is one scan of the input, ${all.head}")
      all.zipWithIndex.drop(1).foreach { case (tasks, i) =>
        // every stage but the set-up job's scan of the input
        assert(tasks.drop(if (i == 1) 1 else 0).forall(_ == par), s"$name job $i: $tasks")
      }
    }
  }

  test("the loop width grows with the record count, floored at defaultParallelism") {
    val par = spark.sparkContext.defaultParallelism
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      assert(LongPairs.width(spark, 0L) == par)
      assert(LongPairs.width(spark, Adapt.rowsPerTask) == par)
      assert(LongPairs.width(spark, 10 * Adapt.rowsPerTask) == math.max(par, 10))
      // capped at the session's shuffle partitions
      assert(LongPairs.width(spark, 1000 * Adapt.rowsPerTask) == math.max(par, 64))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("CC and PageRank reject non-integral ids") {
    import spark.implicits._
    val in = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    for (run <- Seq[() => Any](() => Dedup.connectedComponents(in), () => WebOps.pageRank(in))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("graph ids must be integral"), e.getMessage)
    }
  }
}
