package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.joins.SpatialJoins
import graft.pipeline.{Fixtures, Pipeline}

/** `tiling`: the north-rule job as users call it — `Pipeline.tilingJob`
  * over a page table with the input_hint schema, 64 buckets committed 16
  * at a time (4 snapshot commits). After the timed loop, a second job is
  * killed after 2 commits and resumed. The traced run also repeats the
  * job at local[1] for the scaling efficiency.
  */
final class TilingWorkload(seed: Long, work: String) extends Workload {
  import TilingWorkload._

  val shufflePartitions = 16

  private var spark: SparkSession = _
  private var pages: DataFrame = _
  private var rep = 0
  private var expectedPairs = -1L
  private var reference: Option[(Long, Long)] = None // (rows, checksum) of op 0

  def setup(s: SparkSession): Unit = {
    spark = s
    rep += 1
    pages = writePages(s"$work/pages-$rep", Pages)
  }

  /** One full job, so the timed jobs run warm. */
  def warm(): Unit = {
    val out = s"$work/warm"
    Pipeline.tilingJob(spark, pages, out, numBuckets = Buckets, bucketsPerCommit = PerCommit)
    deleteTree(Paths.get(out))
  }

  /** Seeded page table with the input_hint schema, written as parquet. */
  private def writePages(dir: String, n: Long): DataFrame = {
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("da"), lit("es"))
    val host = pmod(xxhash64(col("id"), lit(seed)), lit(Hosts))
    spark.range(0, n, 1, Main.Cores)
      .select(
        concat(lit("https://host"), host.cast("string"), lit(".example/"),
          lit(seed.toString), lit("/p"), col("id").cast("string")).as("url"),
        timestamp_seconds(lit(1704067200L) + pmod(xxhash64(col("id"), lit(seed + 1)),
          lit(31536000L))).as("warc_ts"),
        col("id"))
      .withColumn("text", concat(lit("page "), col("id").cast("string"), lit(" body of "), col("url")))
      .withColumn("html", encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8"))
      .withColumn("lang", element_at(langs, (pmod(col("id"), lit(5)) + 1).cast("int")))
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Expected Σ n_pages: (page, rectangle) containment pairs, counted on
    * the driver with the geocoder's published algorithm (FNV-1a 64 of the
    * url, hot-city bucket) and plain closed-range predicates.
    */
  private def expected(): Long = {
    if (expectedPairs < 0) {
      val urls = pages.select("url").collect().map(_.getString(0))
      expectedPairs = urls.iterator.map { u =>
        val (lon, lat) = geocode(u)
        Fixtures.rects.count { case (_, x0, x1, y0, y1) =>
          lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1 }.toLong
      }.sum
    }
    expectedPairs
  }

  /** Reads the data files a snapshot lists, with the plain parquet reader. */
  private def snapshotRows(root: String, snap: graft.table.Snapshot): DataFrame = {
    val files = snap.partitions.values.toSeq.flatMap(_.files).map(f => s"$root/data/$f")
    spark.read.parquet(files: _*)
  }

  private def checkSnapshot(root: String, snap: graft.table.Snapshot, what: String): Option[String] = {
    val r = snapshotRows(root, snap).select(count(lit(1)),
      coalesce(sum(xxhash64(col("poly_id"), col("h3"), col("n_pages")).bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(col("n_pages")), lit(0L))).head()
    val (n, h, total) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val exp = expected()
    if (snap.partitions.size != Buckets) Some(s"$what: ${snap.partitions.size} buckets committed, expected $Buckets")
    else if (total != exp) Some(s"$what: sum(n_pages) = $total, expected $exp")
    else reference match {
      case Some((rn, rh)) if (rn, rh) != (n, h) =>
        Some(s"$what: snapshot rows ($n, $h) differ from the first job's ($rn, $rh)")
      case None => reference = Some((n, h)); None
      case _ => None
    }
  }

  def op(k: Int, tracer: Option[Tracer]): Op = {
    val out = s"$work/out-$k"
    tracer.foreach(prefixes)
    Op("tiling", Pages, () => {
      val (snap, tiles) = Pipeline.tilingJob(spark, pages, out,
        numBuckets = Buckets, bucketsPerCommit = PerCommit)
      val sum = snap.partitions.toSeq.sortBy(_._1).map(_._2.rows).hashCode().toLong
      Outcome(tiles, sum, () => {
        val err = checkSnapshot(out, snap, s"job $k")
        tracer.foreach(_ => recordTable(out))
        deleteTree(Paths.get(out))
        err
      })
    })
  }

  // table counters from the last traced job's output directory
  private var files = 0L
  private var manifestBytes = 0L
  private def recordTable(root: String): Unit = {
    files = walk(Paths.get(root, "data")).count(_.toString.endsWith(".parquet")).toLong
    manifestBytes = walk(Paths.get(root, "_snapshots")).filter(_.toString.endsWith(".json"))
      .map(Files.size).sum
  }

  /** Plan prefixes of the job, materialized through the noop sink: scan,
    * + geocode and cell (`tilePages`), + broadcast PIP. Their differences
    * are the self times of the expr/index and joins layers.
    */
  private def prefixes(t: Tracer): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val tiled = Pipeline.tilePages(pages, 7)
    t.span("prefix.scan")(noop(pages.select("url")))
    t.span("prefix.tile")(noop(tiled.select(col("url"), col("geo"), col("h3"))))
    t.span("prefix.pip")(noop(SpatialJoins.pipJoinBroadcast(
      tiled.select(col("url"), col("geo.lon").as("lon"), col("geo.lat").as("lat"), col("h3")),
      Fixtures.polygons, "lon", "lat")))
  }

  override def afterTimed(s: SparkSession, tracer: Option[Tracer]): AfterResult = {
    val root = s"$work/resume-${tracer.size}"
    Pipeline.tilingJob(s, pages, root, numBuckets = Buckets, bucketsPerCommit = PerCommit,
      failAfterCommits = 2)
    val killedAt = new graft.table.SnapshotStore(root).current().map(_.partitions.size).getOrElse(0)
    val t0 = System.nanoTime()
    val (snap, _) = Pipeline.tilingJob(s, pages, root, numBuckets = Buckets, bucketsPerCommit = PerCommit)
    val resumeS = (System.nanoTime() - t0) / 1e9
    val errs = Seq(
      if (killedAt != 2 * PerCommit) Some(s"killed job committed $killedAt buckets, expected ${2 * PerCommit}")
      else None,
      checkSnapshot(root, snap, "resumed job")).flatten
    deleteTree(Paths.get(root))
    val scale = tracer.map { _ =>
      // the same job at local[1] on the same input, after a warm-up
      Session.stop(s)
      val one = Session.start(1, work, shufflePartitions)
      val in = one.read.parquet(s"$work/pages-$rep")
      Pipeline.tilingJob(one, in.limit(20000), s"$work/warm1",
        numBuckets = Buckets, bucketsPerCommit = PerCommit)
      val t1 = System.nanoTime()
      Pipeline.tilingJob(one, in, s"$work/one", numBuckets = Buckets, bucketsPerCommit = PerCommit)
      val oneS = (System.nanoTime() - t1) / 1e9
      spark = one
      Map("local1_items_per_s" -> Pages / oneS)
    }.getOrElse(Map.empty)
    AfterResult(1, errs, Map("resume_s" -> resumeS) ++ scale)
  }

  def layers(t: Tracer, ph: PhaseResult): Map[String, Double] = {
    def mean(name: String): Double = {
      val ss = t.allSpans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    val ops = t.allSpans.filter(_.name == "op.tiling")
    val n = math.max(1, ops.size)
    val jobS = ops.map(s => t.jobBusySeconds(s.startMs, s.endMs)).sum / n
    Map(
      "expr.geocode_cell_s" -> math.max(0.0, mean("prefix.tile") - mean("prefix.scan")),
      "joins.pip_s" -> math.max(0.0, mean("prefix.pip") - mean("prefix.tile")),
      "table.write_s" -> jobS,
      "table.commit_s" -> (ops.map(_.seconds).sum / n - jobS),
      "table.files" -> files.toDouble,
      "table.manifest_kb" -> manifestBytes / 1024.0)
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil else Files.walk(p).iterator().asScala.toList

  private def deleteTree(p: Path): Unit =
    walk(p).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
}

object TilingWorkload {
  val Pages = 200000L
  val Hosts = 997L
  val Buckets = 64
  val PerCommit = 16

  private val HotLon = Array(2350000L, -73990000L, 139690000L, -128000L, 116400000L, 77210000L,
    -46630000L, 151210000L)
  private val HotLat = Array(48850000L, 40730000L, 35690000L, 51510000L, 39900000L, 28610000L,
    -23550000L, -33870000L)

  /** The geocoder's published url → (lon, lat) algorithm. */
  def geocode(url: String): (Double, Double) = {
    var h = 0xcbf29ce484222325L
    url.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
    val pos = h & Long.MaxValue
    val pos2 = (h * 0x9e3779b97f4a7c15L + 0x165667b19e3779f9L) & Long.MaxValue
    val (lonU, latU) =
      if (pos % 10 == 0) {
        val c = ((pos / 10) % 8).toInt
        (HotLon(c) + (pos % 20000) - 10000, HotLat(c) + (pos2 % 20000) - 10000)
      } else ((pos % 360000000L) - 180000000L, (pos2 % 170000000L) - 85000000L)
    (lonU / 1000000.0, latU / 1000000.0)
  }
}
