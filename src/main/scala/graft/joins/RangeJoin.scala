package graft.joins

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions
import graft.index.GridCell

/** Distance-within (radius) join: all targets within a fixed planar radius
  * of each probe point, the third member of the spatial-join family next to
  * PIP ([[SpatialJoins]]) and kNN ([[KnnJoin]]) — the reference's
  * proximity/buffer-select idiom (buteo/vector/metrics.py distance checks,
  * buteo/raster/proximity.py) re-expressed as one broadcast equi-join.
  *
  * Scale shape: the probe set is small (a POI table); each probe expands
  * driver-side into the grid cells covering its radius box (a few dozen
  * cells), and that (probe_id, cell) cover BROADCASTS as an equi-join index
  * against the targets' cell id — the big side is never shuffled and never
  * sees a theta-join. Covers at one level are disjoint and each target owns
  * exactly one cell there, so a (probe, target) candidate appears at most
  * once: no distinct needed, output is verify-filtered candidates.
  *
  * The metric is squared euclidean distance on integer microdegree
  * coordinates (planar, no dateline wrap — documented, same contract as
  * [[KnnJoin]]): exact 64-bit arithmetic, bit-reproducible against any
  * engine, which lets a brute-force SQL oracle certify the cell prefilter
  * lossless end-to-end.
  */
object RangeJoin {

  /** targets/probes: (id long, x long, y long) in integer microdegrees.
    * Returns (probe_id, target_id, dist2) for every target with
    * dist2 = (dx² + dy²) <= radiusUdeg² (self-pairs included when a probe
    * is also a target — "within radius" semantics).
    *
    * `level` picks the prefilter cell size; any level is CORRECT (the
    * cover is always a superset — cell ranges derive monotonically from
    * the radius box and get a one-cell safety pad), finer levels trade
    * broadcast size for candidate selectivity. Cell width should be on
    * the order of the radius: ~2-5 cells per probe per axis.
    */
  /** SELF distance join (pair form — both sides big, nothing broadcast):
    * every unordered point pair within `radiusUdeg`, via cell bucketing.
    * The level must satisfy cellHeight ≥ radius (the latitude axis is
    * the binding one: 180·10⁶/2^level µdeg), so a point's 3×3 cell
    * neighborhood PROVABLY covers every partner within the radius —
    * lossless by construction, certified end-to-end by the brute-force
    * oracle. One side explodes its 9 neighbor cells (out-of-range
    * neighbors dropped, not clamped — clamping would double-match edge
    * cells), the other carries its own cell; a partner's cell is unique,
    * so each pair matches exactly once and needs no distinct. Plain
    * equi-join on the cell key → shuffles on cell, AQE handles the hot
    * cells; emission is canonical (id_a < id_b).
    */
  def selfJoinCells(points: DataFrame, radiusUdeg: Long, level: Int): DataFrame = {
    require(radiusUdeg >= 0, s"selfJoinCells: negative radius $radiusUdeg")
    require(level >= 0 && level <= GridCell.MaxLevel,
      s"selfJoinCells: level out of range: $level")
    require((180000000L >> level) >= radiusUdeg,
      s"selfJoinCells: cell height ${180000000L >> level} udeg at level $level " +
        s"is smaller than the radius $radiusUdeg — the 3x3 cover would be lossy")
    val spark = points.sparkSession
    GraftFunctions.register(spark)
    val n = 1L << level
    val cell = GraftFunctions.gridCell(col("x") / lit(1000000.0),
      col("y") / lit(1000000.0), lit(level))
    val base = points.select(col("id"), col("x"), col("y"),
      GraftFunctions.gridX(cell).as("cx"), GraftFunctions.gridY(cell).as("cy"))
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1) yield (dx, dy)
    val left = base
      .withColumn("o", explode(array(offsets.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy"))
      }: _*)))
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("o.dx")).as("nx"), (col("cy") + col("o.dy")).as("ny"))
      .filter(col("nx") >= 0 && col("nx") < n && col("ny") >= 0 && col("ny") < n)
      .select(col("id_a"), col("xa"), col("ya"),
        (col("nx") * n + col("ny")).as("key"))
    val right = base.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), (col("cx") * n + col("cy")).as("key"))
    val dx = col("xa") - col("xb")
    val dy = col("ya") - col("yb")
    left.join(right, Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (dx * dx + dy * dy).as("dist2"))
      .filter(col("dist2") <= lit(radiusUdeg * radiusUdeg))
  }

  def rangeJoinCells(targets: DataFrame, probes: DataFrame,
                     radiusUdeg: Long, level: Int,
                     maxProbes: Long = 1000000L): DataFrame = {
    require(radiusUdeg >= 0, s"rangeJoinCells: negative radius $radiusUdeg")
    require(level >= 0 && level <= GridCell.MaxLevel,
      s"rangeJoinCells: level out of range: $level")
    require(maxProbes >= 1, s"rangeJoinCells: maxProbes must be >= 1")
    val spark = targets.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)

    // the probe set is a BROADCAST side by contract (it is collected and
    // its radius covers exploded on the driver): one bounded collect of
    // at most maxProbes + 1 rows, failing loudly past the declared bound
    // instead of an implicit driver OOM (the KnnJoin bounded-probe
    // contract)
    val probeArr = probes.select("id", "x", "y").as[(Long, Long, Long)]
      .limit(if (maxProbes >= Int.MaxValue) Int.MaxValue else maxProbes.toInt + 1)
      .collect().sortBy(_._1)
    require(probeArr.length <= maxProbes,
      s"rangeJoinCells: more than $maxProbes probes, past the broadcast " +
        s"bound; raise maxProbes only if the driver can hold the probe " +
        s"covers, or flip the sides")
    val n = 1L << level
    // Cells covering each probe's radius box. lonToX/latToY are monotone
    // in their double argument and x/1e6 rounds monotonically, so the
    // unpadded range already contains every in-radius target's cell; the
    // one-cell pad is belt-and-braces against future metric changes.
    val cover = probeArr.toSeq.flatMap { case (pid, px, py) =>
      val x0 = math.max(GridCell.lonToX((px - radiusUdeg) / 1e6, level) - 1, 0L)
      val x1 = math.min(GridCell.lonToX((px + radiusUdeg) / 1e6, level) + 1, n - 1)
      val y0 = math.max(GridCell.latToY((py - radiusUdeg) / 1e6, level) - 1, 0L)
      val y1 = math.min(GridCell.latToY((py + radiusUdeg) / 1e6, level) + 1, n - 1)
      for (cx <- x0 to x1; cy <- y0 to y1)
        yield (pid, GridCell.pack(cx, cy, level), px, py)
    }.toDF("probe_id", "cell", "px", "py")

    val withCell = targets.select(
      col("id").as("target_id"), col("x"), col("y"),
      GraftFunctions.gridCell(col("x") / lit(1000000.0),
        col("y") / lit(1000000.0), lit(level)).as("cell"))
    val dx = col("x") - col("px")
    val dy = col("y") - col("py")
    withCell
      .join(broadcast(cover), Seq("cell"))
      .select(col("probe_id"), col("target_id"),
        (dx * dx + dy * dy).as("dist2"))
      .filter(col("dist2") <= lit(radiusUdeg * radiusUdeg))
  }
}
