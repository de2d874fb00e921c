package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cell-set algebra over the engine's quadtree tile indexes
  * ([[graft.index.GridCell]] and the S2 cube-face quadtree
  * [[graft.index.S2Cell]]): compaction of a uniform-level cell set into
  * the minimal mixed-level covering and its inverse (the H3
  * `compactCells` / `uncompactCells` analog, exact on a quadtree because
  * every parent has exactly four children). This is the missing half of coverage-set handling next to
  * `cover_cells`/`polygonCover`: a polygon cover, a crawl blocklist, or a
  * tiling manifest held as cells is stored and broadcast at a fraction of
  * its size once complete sibling quads are contracted to their parent.
  *
  * Everything is pure 64-bit integer arithmetic on the packed cell id
  * (level in bits 58..62, Morton(x, y) in bits 0..57), so both ops stay
  * inside whole-stage codegen and mirror exactly into ANSI SQL:
  *   parent(c)      = (level-1) << 58 | morton >> 2
  *   descendants(c) = targetLevel << 58 | morton << 2d | t,  t in [0, 4^d)
  * (interleave(x << d | dx) = interleave(x) << 2d | interleave(dx), and
  * (dx, dy) ↔ t is a bijection, so the Morton suffix enumerates children
  * without de-interleaving.)
  *
  * Scale shape (compact): one distinct, then at most `level` rounds of a
  * 4-row-group hash aggregate, each round shrinking the live set by ≥4×
  * (only complete quads survive into the next round) — geometric total
  * work off one materialization, log-depth like the star-contraction CC.
  * Rounds are localCheckpoint'd so the final union is L small scans,
  * not L re-computations.
  * The closing anti join keys parent-vs-cell on sets no larger than the
  * input. Nothing is keyed wider than one Long.
  */
object CellSets {

  /** Bit layout of a packed hierarchical cell id. Both engine indexes are
    * quadtrees over an interleaved (Morton) coordinate pair, so the same
    * three fields describe either: [[graft.index.GridCell]] (level in bits
    * 58..62, no face) and [[graft.index.S2Cell]] (face in bits 61..63 —
    * the sign bit participates for faces ≥ 4 — level in bits 56..60).
    */
  private final case class Layout(levelShift: Int, mortonMask: Long, faceMask: Long)
  private val GridLayout = Layout(58, 0x03ffffffffffffffL, 0L)
  private val S2Layout = Layout(56, 0x00ffffffffffffffL, 0xe000000000000000L)

  private def lvlOf(c: Column, y: Layout): Column =
    shiftrightunsigned(c, y.levelShift).bitwiseAND(lit(31L))

  private def parentOf(c: Column, y: Layout): Column =
    c.bitwiseAND(lit(y.faceMask)) +
      shiftleft(lvlOf(c, y) - 1, y.levelShift) +
      shiftrightunsigned(c.bitwiseAND(lit(y.mortonMask)), 2)

  /** Level field of a packed quadtree cell id. */
  def cellLevel(c: Column): Column = lvlOf(c, GridLayout)

  /** Parent cell id — (level-1, x>>1, y>>1) as pure bit math: dropping the
    * lowest interleaved bit pair halves both coordinates.
    */
  def cellParent(c: Column): Column = parentOf(c, GridLayout)

  /** Minimal mixed-level covering of a uniform-level cell set: every
    * complete sibling quadruple is replaced by its parent, cascading
    * upward until no complete quad remains. Output is exactly
    * area-preserving ([[uncompact]] back to the input level reproduces
    * the input set) and prefix-free (no output cell is an ancestor of
    * another). Input cells must all carry one level; mixed input levels
    * are rejected (same contract as H3 `compactCells`).
    *
    * Returns columns `(cell: long, lvl: int)`.
    */
  def compact(cells: DataFrame, cellCol: String = "cell"): DataFrame =
    compactWith(cells, cellCol, GridLayout)

  /** [[compact]] over S2 cube-face cell ids (faces never merge: level-0
    * face cells are roots).
    */
  def compactS2(cells: DataFrame, cellCol: String = "cell"): DataFrame =
    compactWith(cells, cellCol, S2Layout)

  private def compactWith(cells: DataFrame, cellCol: String, y: Layout): DataFrame = {
    // lazy checkpoints throughout: the level collect (for base) and the
    // emptiness count (per round) each materialize their checkpoint in
    // the same job — one job per round
    val base = cells.select(col(cellCol).cast("long").as("cell"))
      .distinct().localCheckpoint(eager = false)
    val lvlRows = base.select(lvlOf(col("cell"), y).as("l")).distinct().collect()
    require(!lvlRows.exists(_.isNullAt(0)), "compact: null cell ids in input")
    val lvls = lvlRows.map(_.getLong(0).toInt)
    require(lvls.length <= 1, s"compact: mixed input levels ${lvls.sorted.mkString(",")}")
    val levels = scala.collection.mutable.ArrayBuffer(base)
    var cur = base
    var l = lvls.headOption.getOrElse(0)
    var live = lvls.nonEmpty
    while (live && l >= 1) {
      val parents = cur.groupBy(parentOf(col("cell"), y).as("cell"))
        .agg(count(lit(1)).as("n")).filter(col("n") === 4)
        .select("cell").localCheckpoint(eager = false)
      if (parents.count() == 0L) live = false
      else { levels += parents; cur = parents; l -= 1 }
    }
    val all = levels.reduce(_ unionAll _)
    // Keep a cell iff its parent was never promoted into the set; roots
    // (level 0) match nothing and fall through the anti join untouched.
    all.join(all.select(col("cell").as("p")),
        parentOf(col("cell"), y) === col("p") && lvlOf(col("cell"), y) > 0,
        "left_anti")
      .select(col("cell"), lvlOf(col("cell"), y).cast("int").as("lvl"))
  }

  /** Expand a (possibly mixed-level) cell set down to `targetLevel`: each
    * cell becomes its 4^(targetLevel - level) descendants. Map-only — a
    * generator over a Morton-suffix range, no shuffle. The fan-out is
    * CHUNKED at 8 levels per pass (≤ 4^8 = 65,536 suffixes, ~512 KB per
    * row transiently) so the per-row sequence() array stays bounded no
    * matter how deep the total expansion — a level-0 cell uncompacted to
    * level 28 runs 4 map-only passes instead of building one
    * 4^28-element array. Cells already below `targetLevel` are rejected.
    */
  def uncompact(cells: DataFrame, targetLevel: Int, cellCol: String = "cell"): DataFrame = {
    require(targetLevel >= 0 && targetLevel <= graft.index.GridCell.MaxLevel,
      s"uncompact: level out of range: $targetLevel")
    uncompactWith(cells, targetLevel, cellCol, GridLayout)
  }

  /** [[uncompact]] over S2 cube-face cell ids. */
  def uncompactS2(cells: DataFrame, targetLevel: Int, cellCol: String = "cell"): DataFrame = {
    require(targetLevel >= 0 && targetLevel <= graft.index.S2Cell.MaxLevel,
      s"uncompactS2: level out of range: $targetLevel")
    uncompactWith(cells, targetLevel, cellCol, S2Layout)
  }

  private val StepLevels = 8

  private def uncompactWith(cells: DataFrame, targetLevel: Int, cellCol: String,
                            y: Layout): DataFrame = {
    // The range bound carries the level guard so column pruning can never
    // drop it: a cell below the target level raises instead of shifting by
    // a negative amount (which Java's << would silently wrap mod 64).
    val bound = when(col("d2") >= 0,
      call_function("shiftleft", lit(1L), col("d2")) - 1)
      .otherwise(raise_error(
        lit(s"uncompact: cell below target level $targetLevel")).cast("long"))
    var out = cells.select(col(cellCol).cast("long").as("cell"))
    // enough passes for the deepest possible input (level 0); rows that
    // reach targetLevel early ride later passes through a 1-element range
    val passes = math.max(1, (targetLevel + StepLevels - 1) / StepLevels)
    for (_ <- 1 to passes) {
      val c = col("cell")
      val d = (least(lit(targetLevel.toLong), lvlOf(c, y) + StepLevels) - lvlOf(c, y))
        .cast("int")
      out = out
        .select(c.bitwiseAND(lit(y.mortonMask)).as("m"),
          c.bitwiseAND(lit(y.faceMask)).as("f"),
          (lvlOf(c, y) + d).as("nl"), (d * 2).as("d2"))
        .select(col("m"), col("f"), col("nl"), col("d2"),
          explode(sequence(lit(0L), bound)).as("t"))
        .select((col("f") + call_function("shiftleft", col("nl"), lit(y.levelShift)) +
          call_function("shiftleft", col("m"), col("d2")) + col("t")).as("cell"))
    }
    out
  }
}
