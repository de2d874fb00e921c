package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.geo.Polygon
import graft.joins.{KnnJoin, RangeJoin, SpatialJoins}

/** `joins`: a closed loop with one client issuing short join queries from
  * a seeded mix against one cached, skewed point table. Every block of six
  * queries holds each query type once, in a seeded order; probe-set sizes
  * are spread log-uniformly over each type's range.
  */
final class JoinsWorkload(seed: Long) extends Workload {
  import JoinsWorkload._

  val shufflePartitions = 8
  override val roundSize: Int = Kinds.length

  // points: 30% in six hot clusters, the rest uniform over the region
  private val ids = Array.tabulate(N)(_.toLong)
  private val xs = new Array[Long](N)
  private val ys = new Array[Long](N)
  for (i <- 0 until N) {
    if (Mix.unit(seed, 3L * i) < 0.3) {
      val c = (Mix(seed, 3L * i + 1) >>> 1) % HotX.length
      xs(i) = HotX(c.toInt) + ((Mix.unit(seed, 3L * i + 2) - 0.5) * 1000000L).toLong
      ys(i) = HotY(c.toInt) + ((Mix.unit(seed + 1, 3L * i + 2) - 0.5) * 1000000L).toLong
    } else {
      xs(i) = X0 + (Mix.unit(seed, 3L * i + 1) * (X1 - X0)).toLong
      ys(i) = Y0 + (Mix.unit(seed, 3L * i + 2) * (Y1 - Y0)).toLong
    }
  }

  // ~10^3 concave star polygons (simple by construction: sorted angles)
  private val polys: Seq[(Long, Polygon)] = (0 until NPolys).map { p =>
    val cx = (X0 + Mix.unit(seed ^ 0x5151, 4L * p) * (X1 - X0)) / 1e6
    val cy = (Y0 + Mix.unit(seed ^ 0x5151, 4L * p + 1) * (Y1 - Y0)) / 1e6
    val rad = 0.1 + Mix.unit(seed ^ 0x5151, 4L * p + 2) * 0.7
    val nv = 8 + ((Mix(seed ^ 0x5151, 4L * p + 3) >>> 1) % 7).toInt
    val ring = new Array[Double](2 * nv)
    for (v <- 0 until nv) {
      val a = 2 * math.Pi * (v + 0.8 * Mix.unit(p.toLong, 2L * v)) / nv
      val r = rad * (if (v % 2 == 0) 1.0 else 0.35 + 0.4 * Mix.unit(p.toLong, 2L * v + 1))
      ring(2 * v) = cx + r * math.cos(a)
      ring(2 * v + 1) = cy + r * math.sin(a)
    }
    (p.toLong, Polygon(Array(ring)))
  }

  private var points: DataFrame = _

  def setup(s: SparkSession): Unit = {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("x", LongType, false), StructField("y", LongType, false)))
    val rows = java.util.Arrays.asList((0 until N).map(i => Row(ids(i), xs(i), ys(i))): _*)
    points = s.createDataFrame(rows, schema)
      .withColumn("lon", col("x") / lit(1e6))
      .withColumn("lat", col("y") / lit(1e6))
      .repartition(Main.Cores)
      .persist(StorageLevel.MEMORY_ONLY)
    points.write.format("noop").mode("overwrite").save()
  }

  /** Every query type once on a small probe set. */
  def warm(): Unit = Kinds.indices.foreach(t => query(t, 200, 0x77L + t, None).run().check())

  /** Probe subset: ids whose affine image mod N falls below `size`. */
  private def subsetPred(size: Int, qs: Long): (Column, Long => Boolean) = {
    val a = 2L * ((Mix(qs) >>> 40) % 400000L) + 1 // odd, < 2^20
    val b = (Mix(qs, 1L) >>> 1) % N
    val aa = if (a % 5 == 0) a + 2 else a // coprime with N = 10^5
    (pmod(col("id") * lit(aa) + lit(b), lit(N.toLong)) < lit(size.toLong),
      (id: Long) => Math.floorMod(id * aa + b, N.toLong) < size)
  }

  def op(k: Int, tracer: Option[Tracer]): Op = {
    val block = k / Kinds.length
    val order = Kinds.indices.sortBy(t => Mix(seed ^ block, t.toLong))
    val t = order(k % Kinds.length)
    val (lo, hi) = Sizes(t)
    // low-discrepancy position within the type's size range
    val u = (block * 0.6180339887498949 + Mix.unit(seed, t.toLong)) % 1.0
    val size = math.round(lo * math.pow(hi.toDouble / lo, u)).toInt
    query(t, size, Mix(seed, 1000L + k), tracer)
  }

  private def span[A](tracer: Option[Tracer], name: String)(f: => A): A =
    tracer.fold(f)(_.span(name)(f))

  private def query(t: Int, size: Int, qs: Long, tracer: Option[Tracer]): Op = {
    val (pred, member) = subsetPred(size, qs)
    val members = (0 until N).filter(i => member(ids(i))).toArray
    val sample = (0 until SampleProbes)
      .map(j => members(((Mix(qs, 7L + j) >>> 1) % members.length).toInt)).distinct
    val sampleIds = sample.map(ids(_)).toSet
    val probes = points.filter(pred)
    val kind = Kinds(t)
    val layer = s"joins.${LayerOf(kind)}"
    Op(kind, members.length.toLong, () => {
      val df = span(tracer, s"$layer.build") {
        kind match {
          case "pip" => SpatialJoins.pipJoinBroadcast(probes, polys, "lon", "lat")
          case "pip_semi" => SpatialJoins.pipSemiJoin(probes, polys, "lon", "lat")
          case "knn_broadcast" =>
            KnnJoin.knnBroadcastProbes(points.select("id", "x", "y"), probes.select("id", "x", "y"), K)
          case "knn_cell" => KnnJoin.knnCellPruned(probes.select("id", "x", "y"), KnnLevel, KnnRings, K)
          case "range" => RangeJoin.rangeJoinCells(points.select("id", "x", "y"),
            probes.select("id", "x", "y"), RangeRadius, RangeLevel)
          case "self" => RangeJoin.selfJoinCells(probes.select("id", "x", "y"), SelfRadius, SelfLevel)
        }
      }
      val keyCols: Seq[Column] = kind match {
        case "pip" | "pip_semi" => Seq(col("id"))
        case "knn_broadcast" | "knn_cell" => Seq(col("query_id"))
        case "range" => Seq(col("probe_id"))
        case "self" => Seq(col("id_a"), col("id_b"))
      }
      val inSample = keyCols.map(_.isin(sampleIds.toSeq: _*)).reduce(_ || _)
      val (rows, sum, got) = span(tracer, s"$layer.action")(Checksum.run(df, inSample))
      Outcome(rows, sum, () => check(kind, df.columns, got, sample, members))
    })
  }

  private def check(kind: String, cols: Array[String], got: Array[Row], sample: Seq[Int],
                    members: Array[Int]): Option[String] = {
    def field(r: Row, name: String): Any = r.get(cols.indexOf(name))
    def long(r: Row, name: String): Long = field(r, name).asInstanceOf[Long]
    val bad = sample.flatMap { i =>
      val id = ids(i)
      val lon = xs(i) / 1e6; val lat = ys(i) / 1e6
      val err: Option[String] = kind match {
        case "pip" =>
          val want = polys.filter(p => Oracle.inRing(p._2.rings(0), lon, lat)).map(_._1).toSet
          val have = got.filter(r => long(r, "id") == id).map(r => long(r, "poly_id")).toSet
          if (want == have) None else Some(s"pip id=$id polygons $have, expected $want")
        case "pip_semi" =>
          val want = polys.exists(p => Oracle.inRing(p._2.rings(0), lon, lat))
          val have = got.exists(r => long(r, "id") == id)
          if (want == have) None else Some(s"pip_semi id=$id present=$have, expected $want")
        case "knn_broadcast" =>
          val want = Oracle.topK(id, xs(i), ys(i), ids, xs, ys, Array.range(0, N), K)
          val have = got.filter(r => long(r, "query_id") == id)
            .sortBy(r => field(r, "rank").asInstanceOf[Int])
            .map(r => (long(r, "neighbor_id"), long(r, "dist2"))).toSeq
          if (want == have) None else Some(s"knn_broadcast id=$id got $have, expected $want")
        case "knn_cell" =>
          // rows flagged `guaranteed` must be the exact k nearest at their
          // rank; every row must carry its true squared distance
          val want = Oracle.topK(id, xs(i), ys(i), ids, xs, ys, members, K)
          val have = got.filter(r => long(r, "query_id") == id)
          val wrong = have.find { r =>
            val rank = field(r, "rank").asInstanceOf[Int]
            val nb = long(r, "neighbor_id").toInt
            val dx = xs(nb) - xs(i); val dy = ys(nb) - ys(i)
            long(r, "dist2") != dx * dx + dy * dy ||
              (field(r, "guaranteed").asInstanceOf[Boolean] &&
                (rank > want.size || want(rank - 1) != (nb.toLong, long(r, "dist2"))))
          }
          wrong.map(r => s"knn_cell id=$id row $r, expected $want")
        case "range" =>
          val want = (0 until N).iterator.map { j =>
            val dx = xs(j) - xs(i); val dy = ys(j) - ys(i); (ids(j), dx * dx + dy * dy)
          }.filter(_._2 <= RangeRadius * RangeRadius).toSet
          val have = got.filter(r => long(r, "probe_id") == id)
            .map(r => (long(r, "target_id"), long(r, "dist2"))).toSet
          if (want == have) None else Some(s"range id=$id ${have.size} rows, expected ${want.size}")
        case "self" =>
          val want = members.iterator.filter(_ != i).map { j =>
            val dx = xs(j) - xs(i); val dy = ys(j) - ys(i)
            (math.min(id, ids(j)), math.max(id, ids(j)), dx * dx + dy * dy)
          }.filter(_._3 <= SelfRadius * SelfRadius).toSet
          val have = got.filter(r => long(r, "id_a") == id || long(r, "id_b") == id)
            .map(r => (long(r, "id_a"), long(r, "id_b"), long(r, "dist2"))).toSet
          if (want == have) None else Some(s"self id=$id ${have.size} pairs, expected ${want.size}")
      }
      err
    }
    bad.headOption
  }

  def layers(t: Tracer, ph: PhaseResult): Map[String, Double] = {
    def meanOf(kinds: String*): Double = {
      val rs = ph.good.filter(o => kinds.contains(o.kind))
      if (rs.isEmpty) 0.0 else rs.map(_.seconds).sum / rs.size
    }
    // candidate rows out of the join nodes of the range and self queries
    // (their distance filter runs after the join), against final rows
    val spans = t.spansNamed("joins.range") ++ t.spansNamed("joins.selfjoin")
    val actions = spans.filter(_.name.endsWith(".action"))
    val recs = t.joinRecords.toArray.toSeq.map(_.asInstanceOf[(Long, Long)])
    val cand = actions.map(s => recs.filter(r => r._1 >= s.startMs && r._1 <= s.endMs)
      .map(_._2).sum).sum
    val fin = ph.good.filter(o => o.kind == "range" || o.kind == "self").map(_.rows).sum
    Map(
      "joins.pip_s" -> meanOf("pip", "pip_semi"),
      "joins.knn_s" -> meanOf("knn_broadcast", "knn_cell"),
      "joins.range_s" -> meanOf("range"),
      "joins.selfjoin_s" -> meanOf("self"),
      "joins.verify_ratio" -> (if (cand == 0) 1.0 else fin.toDouble / cand))
  }
}

object JoinsWorkload {
  val N = 100000
  val NPolys = 1000
  val SampleProbes = 3
  val K = 5
  // region (microdegrees) and hot-city centres inside it
  val X0 = -10000000L; val X1 = 30000000L
  val Y0 = 35000000L; val Y1 = 60000000L
  val HotX = Array(2350000L, -3700000L, 13400000L, 12500000L, 21000000L, 4900000L)
  val HotY = Array(48850000L, 40400000L, 52520000L, 41900000L, 52230000L, 52370000L)
  val KnnLevel = 12; val KnnRings = 2
  val RangeRadius = 20000L; val RangeLevel = 12
  val SelfRadius = 5000L; val SelfLevel = 12
  val Kinds = Array("pip", "pip_semi", "knn_broadcast", "knn_cell", "range", "self")
  val LayerOf = Map("pip" -> "pip", "pip_semi" -> "pip", "knn_broadcast" -> "knn",
    "knn_cell" -> "knn", "range" -> "range", "self" -> "selfjoin")
  /** Probe-set size range per query type. */
  val Sizes = Array((100, 100000), (100, 100000), (100, 300), (100, 10000), (100, 10000),
    (1000, 100000))
}
