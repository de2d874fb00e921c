package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, WebOps}

/** `graph`: the iterative operators. One operation is connected
  * components over a seeded edge table (a giant random tree, a hub star
  * and isolated pairs), PageRank over the same edges, and MinHash-LSH
  * clustering of a corpus with planted near-duplicate groups.
  */
final class GraphWorkload(seed: Long) extends Workload {
  import GraphWorkload._

  val shufflePartitions = 8

  // node ids: tree 0..Tree-1, hub Tree (leaves after it), then pairs
  private val edges: Array[(Long, Long)] = {
    val tree = (1 until Tree).map(i => (i.toLong, (Mix(seed, i.toLong) >>> 1) % i))
    val hub = (1 to HubLeaves).map(j => ((Tree + j).toLong, Tree.toLong))
    val base = Tree + HubLeaves + 1L
    val pairs = (0 until Pairs).map(p => (base + 2L * p, base + 2L * p + 1))
    (tree ++ hub ++ pairs).toArray
  }
  private val nEdges = edges.length.toLong
  private val plantedComponents = 2L + Pairs

  // corpus: Groups planted groups of GroupSize near-duplicates, then
  // noise documents. Every group and every noise document draws its words
  // from a vocabulary of its own (the prefix), so the right clustering is
  // exactly the planted groups plus one cluster per noise document.
  private val docs: Array[(Long, String)] = {
    def words(prefix: String, key: Long, n: Int): Array[String] =
      Array.tabulate(n)(i => prefix + java.lang.Long.toHexString(Mix(key, i.toLong)))
    val planted = (0 until Groups).flatMap { g =>
      val base = words(s"g$g-", seed * 7919 + g, DocWords)
      (0 until GroupSize).map { m =>
        val ws = base.clone()
        ws(((Mix(seed + g, m.toLong) >>> 1) % DocWords).toInt) = s"edit$g-$m"
        ((g * GroupSize + m).toLong, ws.mkString(" "))
      }
    }
    val noise = (0 until NoiseDocs).map(i =>
      ((Groups * GroupSize + i).toLong, words(s"n$i-", seed * 104729 + 1000003L * (i + 1), DocWords).mkString(" ")))
    (planted ++ noise).toArray
  }

  private var edgeDf: DataFrame = _
  private var docDf: DataFrame = _
  private var reference: Option[Seq[Long]] = None
  private var lastRounds = 0

  def setup(s: SparkSession): Unit = {
    val eSchema = StructType(Seq(StructField("src", LongType, false), StructField("dst", LongType, false)))
    edgeDf = s.createDataFrame(java.util.Arrays.asList(edges.map { case (a, b) => Row(a, b) }.toIndexedSeq: _*),
      eSchema).repartition(Main.Cores).persist(StorageLevel.MEMORY_ONLY)
    val dSchema = StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType, false)))
    docDf = s.createDataFrame(java.util.Arrays.asList(docs.map { case (a, b) => Row(a, b) }.toIndexedSeq: _*),
      dSchema).repartition(Main.Cores).persist(StorageLevel.MEMORY_ONLY)
    edgeDf.write.format("noop").mode("overwrite").save()
    docDf.write.format("noop").mode("overwrite").save()
  }

  /** Each operator once on a tiny slice (few rounds, one PageRank
    * iteration): a full operation takes longer than the timed loop.
    */
  def warm(): Unit = {
    val small = edgeDf.filter(col("src") < 64)
    Checksum.run(Dedup.connectedComponentsWithRounds(small)._1)
    Checksum.run(WebOps.pageRank(small, iters = 1))
    Checksum.run(Dedup.lshClusters(docDf.filter(col("doc_id") < 20), k = 8, bands = 4))
    ()
  }

  private def span[A](tracer: Option[Tracer], name: String)(f: => A): A =
    tracer.fold(f)(_.span(name)(f))

  def op(k: Int, tracer: Option[Tracer]): Op = Op("graph", nEdges, () => {
    // each operator builds its frame eagerly (its loop runs inside the
    // call), then one action evaluates the frame
    val cc = span(tracer, "ops.cc") {
      val (comp, rounds) = span(tracer, "ops.cc.build")(Dedup.connectedComponentsWithRounds(edgeDf))
      lastRounds = rounds
      (comp, span(tracer, "ops.cc.action")(Checksum.run(comp)))
    }
    val pr = span(tracer, "ops.pagerank") {
      val ranks = span(tracer, "ops.pagerank.build")(WebOps.pageRank(edgeDf, iters = PrIters))
      (ranks, span(tracer, "ops.pagerank.action")(Checksum.run(ranks)))
    }
    val lsh = span(tracer, "ops.lsh") {
      val cl = span(tracer, "ops.lsh.build")(Dedup.lshClusters(docDf, k = 8, bands = 4))
      (cl, span(tracer, "ops.lsh.action")(Checksum.run(cl, lit(true))))
    }
    val sums = Seq(cc._2._2, pr._2._2, lsh._2._2)
    Outcome(cc._2._1 + pr._2._1 + lsh._2._1, sums.sum, () =>
      reference match {
        case Some(r) if r == sums => None
        case Some(r) => Some(s"checksums $sums differ from the first operation's $r")
        case None =>
          val err = checkCc(cc._1).orElse(checkRanks(pr._1)).orElse(checkClusters(lsh._2._3))
          if (err.isEmpty) reference = Some(sums)
          err
      })
  })

  /** Component count and giant-component size equal the planted ones. */
  private def checkCc(comp: DataFrame): Option[String] = {
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), max(col("n"))).head()
    if (sizes.getLong(0) != plantedComponents || sizes.getLong(1) != Tree)
      Some(s"cc: ${sizes.getLong(0)} components, largest ${sizes.getLong(1)}; " +
        s"planted $plantedComponents, largest $Tree")
    else None
  }

  /** Integer PageRank recomputed on the driver with the same arithmetic
    * contract (floor divisions on Long, damping 17/20, scale 10^12);
    * compares the sum and a position-weighted sum of all ranks.
    */
  private def checkRanks(ranks: DataFrame): Option[String] = {
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val deg = new Array[Long](n)
    edges.foreach { case (a, _) => deg(idx(a)) += 1 }
    val scale = 1000000000000L
    var rank = Array.fill(n)(scale / n)
    val base = (scale * 3) / (20L * n)
    for (_ <- 0 until PrIters) {
      val dang = (0 until n).filter(deg(_) == 0).map(rank(_)).sum
      val next = Array.fill(n)(base + (dang * 17) / (20L * n))
      edges.foreach { case (a, b) =>
        val i = idx(a)
        next(idx(b)) += (rank(i) * 17) / (20L * deg(i))
      }
      rank = next
    }
    val want = (rank.sum, nodes.indices.map(i => rank(i) * (nodes(i) % 1009)).sum)
    val r = ranks.agg(sum(col("rank")), sum(col("rank") * pmod(col("host"), lit(1009L)))).head()
    val got = (r.getLong(0), r.getLong(1))
    if (got != want) Some(s"pagerank: (sum, weighted sum) $got, expected $want") else None
  }

  /** The clusters are exactly the planted groups, each in a cluster of
    * its own, and one cluster per noise document: a split group and an
    * over-merged cluster both fail.
    */
  private def checkClusters(rows: Array[Row]): Option[String] = {
    val got = rows.map(r => r.getLong(0) -> r.getLong(1))
    val parts = got.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val want = (0 until Groups).map(g => (0 until GroupSize).map(m => (g * GroupSize + m).toLong).toSet).toSet ++
      (0 until NoiseDocs).map(i => Set((Groups * GroupSize + i).toLong))
    if (got.length != docs.length) Some(s"lsh: ${got.length} documents clustered, expected ${docs.length}")
    else (parts diff want).headOption.map(c => s"lsh: ${parts.size} clusters, planted ${want.size}; " +
      s"cluster ${c.toSeq.sorted.take(8).mkString(",")} is not planted")
  }

  def layers(t: Tracer, ph: PhaseResult): Map[String, Double] = {
    def mean(name: String): Double = {
      val ss = t.allSpans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    val cc = mean("ops.cc")
    Map(
      "ops.cc_s" -> cc,
      "ops.cc_rounds" -> lastRounds.toDouble,
      "ops.cc_s_per_round" -> cc / math.max(1, lastRounds),
      "ops.pagerank_s" -> mean("ops.pagerank"),
      "ops.lsh_s" -> mean("ops.lsh"))
  }
}

object GraphWorkload {
  val Tree = 20000
  val HubLeaves = 5000
  val Pairs = 5000
  val PrIters = 5
  val Groups = 40
  val GroupSize = 5
  val NoiseDocs = 400
  val DocWords = 40
}
