package graft.joins

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pts(n: Int) = spark.range(n).select(
    col("id"),
    ((col("id") * 1103515245L + 12345L) % 360000000L - 180000000L).as("x"),
    ((col("id") * 2654435761L + 99991L) % 170000000L - 85000000L).as("y"))

  private def brute(n: Int, probeMax: Long, r: Long): Set[(Long, Long, Long)] = {
    val all = pts(n).collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
    val probes = all.filter(_._1 < probeMax)
    (for {
      (pid, px, py) <- probes
      (tid, tx, ty) <- all
      d2 = (tx - px) * (tx - px) + (ty - py) * (ty - py)
      if d2 <= r * r
    } yield (pid, tid, d2)).toSet
  }

  private def joined(n: Int, probeMax: Long, r: Long, level: Int): Set[(Long, Long, Long)] = {
    val p = pts(n)
    RangeJoin.rangeJoinCells(p, p.filter(col("id") < probeMax), r, level)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2))).toSet
  }

  test("cell-prefiltered join equals brute force at several levels") {
    val exact = brute(2000, 30, 5000000L)
    assert(exact.size > 30, s"fixture too sparse: ${exact.size}")
    for (level <- Seq(4, 6, 8))
      assert(joined(2000, 30, 5000000L, level) == exact, s"level $level diverged")
  }

  test("boundary dist2 == r^2 is included") {
    import spark.implicits._
    val t = Seq((1L, 0L, 0L), (2L, 3000L, 4000L), (3L, 3000L, 4001L))
      .toDF("id", "x", "y")
    val got = RangeJoin.rangeJoinCells(t, t.filter(col("id") === 1), 5000L, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // (3000,4000) sits exactly on the circle: 3000^2+4000^2 = 5000^2
    assert(got == Set((1L, 0L), (2L, 25000000L)))
  }

  test("radius 0 pairs only coincident points") {
    import spark.implicits._
    val t = Seq((1L, 7L, 9L), (2L, 7L, 9L), (3L, 7L, 10L)).toDF("id", "x", "y")
    val got = RangeJoin.rangeJoinCells(t, t.filter(col("id") === 1), 0L, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (1L, 2L)))
  }

  test("self join equals the brute-force pair set at its coarsest legal level") {
    import spark.implicits._
    // clusters straddling cell boundaries + global scatter
    val rnd = new scala.util.Random(31)
    val all = (0 until 800).map { i =>
      val (cx, cy) =
        if (i % 4 == 0) (0L, 0L)                  // straddles the lon/lat origin seams
        else if (i % 4 == 1) (23500000L, 48800000L)
        else if (i % 4 == 2) (-100000000L, -40000000L)
        else ((rnd.nextLong() % 170000000L), (rnd.nextLong() % 80000000L))
      (i.toLong, cx + rnd.nextLong() % 3000000L, cy + rnd.nextLong() % 3000000L)
    }
    val df = all.toDF("id", "x", "y")
    val r = 2000000L
    val exact = (for {
      (ia, xa, ya) <- all; (ib, xb, yb) <- all if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= r * r
    } yield (ia, ib, d2)).toSet
    assert(exact.size > 1000, s"fixture too sparse: ${exact.size}")
    for (level <- Seq(4, 6)) { // 180e6>>6 = 2812500 >= r: both legal
      val got = RangeJoin.selfJoinCells(df, r, level)
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2))).toSet
      assert(got == exact, s"level $level diverged")
    }
  }

  test("self join rejects a level whose cells are smaller than the radius") {
    intercept[IllegalArgumentException] {
      RangeJoin.selfJoinCells(pts(10), 2000000L, 8) // 180e6>>8 = 703125 < r
    }
  }

  test("self join plan is an equi-join on the cell key, never a theta join") {
    val df = RangeJoin.selfJoinCells(pts(500), 1000000L, 7)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"theta join leaked into:\n$plan")
  }

  test("plan is one broadcast equi-join on the cell id, never a theta join") {
    val p = pts(500)
    val df = RangeJoin.rangeJoinCells(p, p.filter(col("id") < 10), 3000000L, 6)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"theta join leaked into:\n$plan")
  }

  test("a probe set past the broadcast bound fails loudly before the collect") {
    val p = pts(100)
    val err = intercept[IllegalArgumentException] {
      RangeJoin.rangeJoinCells(p, p, 1000000L, 6, maxProbes = 10L)
    }
    assert(err.getMessage.contains("broadcast bound"))
    // at the bound it still runs
    assert(RangeJoin.rangeJoinCells(p, p.filter(col("id") < 10), 1000000L, 6,
      maxProbes = 10L).count() >= 0)
  }

  test("a probe set of exactly maxProbes + 1 rows is rejected") {
    val p = pts(100)
    val probes = p.filter(col("id") < 11).repartition(3)
    assert(probes.count() == 11)
    val err = intercept[IllegalArgumentException] {
      RangeJoin.rangeJoinCells(p, probes, 1000000L, 6, maxProbes = 10L)
    }
    assert(err.getMessage.contains("broadcast bound"))
    assert(RangeJoin.rangeJoinCells(p, probes, 1000000L, 6, maxProbes = 11L)
      .count() >= 0)
  }
}
