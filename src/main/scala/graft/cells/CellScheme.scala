package graft.cells

import graft.geom.Extent
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/** Uniform `nx × ny` grid over an extent — the engine's deterministic cell
  * index (the planar analogue of an H3/S2 cell scheme). Every MBR is
  * replicated into each cell it overlaps; a candidate pair is *owned* by
  * exactly one cell (the one containing the bottom-left corner of the
  * intersection), which gives exactly-once output without a global distinct.
  *
  * Reference semantics: grid assignment `partition_multi.hpp:25-102` with
  * `cell_id = y * num_partitions_1d + x`, clamped floor cell arithmetic
  * (`partition_multi.hpp:55-63`), reference-point dedup
  * (`designs/pbsm/dynamic/16/src/join.hpp:56-71`). We diverge from the
  * reference's inclusive-upper-bound ownership test (which double-counts a
  * pair whose reference point lies exactly on a shared cell boundary, see
  * SURVEY.md §7.4): ownership here is "the unique cell `cellOf(refPoint)`",
  * i.e. half-open cells with the top/right global edge closed via clamping —
  * exactly-once *by construction*.
  */
final case class CellScheme(extent: Extent, nx: Int, ny: Int) extends KeyScheme {
  require(nx > 0 && ny > 0, s"grid must be positive, got ${nx}x$ny")

  // degenerate extents (all points on a line) get unit cells: everything
  // clamps into column/row 0, which is still correct, just unpartitioned.
  val cellW: Double = if (extent.width > 0) extent.width / nx else 1.0
  val cellH: Double = if (extent.height > 0) extent.height / ny else 1.0

  def numCells: Long = nx.toLong * ny.toLong

  @inline def clampX(i: Long): Int = math.max(0L, math.min(i, nx - 1L)).toInt
  @inline def clampY(i: Long): Int = math.max(0L, math.min(i, ny - 1L)).toInt

  @inline def cellX(x: Double): Int =
    clampX(math.floor((x - extent.xmin) / cellW).toLong)
  @inline def cellY(y: Double): Int =
    clampY(math.floor((y - extent.ymin) / cellH).toLong)

  @inline def cellId(cx: Int, cy: Int): Long = cy.toLong * nx + cx

  /** The unique owning cell of a point (clamped into the grid). */
  @inline def cellOf(x: Double, y: Double): Long = cellId(cellX(x), cellY(y))

  def keyOf(x: Double, y: Double): Long = cellOf(x, y)

  def keys(xmin: Double, xmax: Double, ymin: Double, ymax: Double): UnsafeArrayData = {
    val ax = cellX(xmin); val bx = cellX(xmax)
    val ay = cellY(ymin); val by = cellY(ymax)
    val cx0 = math.min(ax, bx); val cx1 = math.max(ax, bx)
    val cy0 = math.min(ay, by); val cy1 = math.max(ay, by)
    val out = KeyScheme.longArray((cx1 - cx0 + 1).toLong * (cy1 - cy0 + 1))
    var i = 0
    var cy = cy0
    while (cy <= cy1) {
      var cx = cx0
      while (cx <= cx1) { out.setLong(i, cellId(cx, cy)); i += 1; cx += 1 }
      cy += 1
    }
    out
  }

  def describe: String = s"grid ${nx}x$ny ${KeyScheme.box(extent)}"

  /** Parent cell id at a `factor`× coarser resolution (H3/S2-style
    * resolution change: the grid is its own hierarchy — parent(cx,cy) =
    * (cx/f, cy/f) on the (nx/f)×(ny/f) grid). Requires factor to divide
    * both axes so children nest exactly.
    */
  def parentCell(cell: Long, factor: Int): Long = {
    require(nx % factor == 0 && ny % factor == 0, s"$factor must divide ${nx}x$ny")
    val cx = cell % nx; val cy = cell / nx
    (cy / factor) * (nx / factor) + (cx / factor)
  }

  /** The coarser scheme itself (same extent, nx/f × ny/f). */
  def coarsen(factor: Int): CellScheme = {
    require(nx % factor == 0 && ny % factor == 0, s"$factor must divide ${nx}x$ny")
    CellScheme(extent, nx / factor, ny / factor)
  }
}

object CellScheme {
  /** Pick a grid so the average cell holds ~`targetPerCell` objects of the
    * larger side — the analogue of the reference's "BFS until ≥ 10×threads
    * tasks" granularity rule (`cpp/RTree.h:506-508`): #cells ≫ #cores.
    */
  def forSize(extent: Extent, rowsLarger: Long, targetPerCell: Long = 512L,
              minN: Int = 1, maxN: Int = 4096): CellScheme = {
    val cells = math.max(1L, rowsLarger / math.max(1L, targetPerCell))
    val n = math.min(maxN, math.max(minN, math.ceil(math.sqrt(cells.toDouble)).toInt))
    CellScheme(extent, n, n)
  }

  /** 1-D stripes along x (a `n × 1` grid) — the reference's PBSM-lite plan
    * (`cpp/1d_stripes.hpp:126-204`).
    */
  def stripesX(extent: Extent, n: Int): CellScheme = CellScheme(extent, n, 1)

  /** 1-D stripes along y (the transposed join direction — the reference
    * tries both and records `best_join_direction`).
    */
  def stripesY(extent: Extent, n: Int): CellScheme = CellScheme(extent, 1, n)
}
