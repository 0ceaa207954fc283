package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, floor, greatest, least, lit, sequence}

/** Tile geometry of an integer grid with 2 or 3 axes, shared by every
  * tile+halo round over grid cells (Csf, GridSurface, Poisson). Axis a
  * of extent n is cut into tiles of `t` cells; tile i's core is
  * [i*t, min(n, (i+1)*t)) and its patch is the core grown by `halo`
  * cells on each side, clamped to [0, n). A round [[explode]]s each cell
  * into the tiles whose patch holds it, groups by tile key, runs its own
  * kernel on a dense array indexed by [[Patch.index]] and emits core
  * cells only, so each cell is written by exactly one tile. */
object GridTiles {
  /** The column [[explode]] puts axis `a`'s tile index in. */
  private def tileCol(a: Int): String = s"__tile$a"

  /** The tile index columns of a grid with `dims` axes, axis 0 first. */
  def tileCols(dims: Int): Seq[Column] = (0 until dims).map(a => col(tileCol(a)))

  /** One row per (cell, tile) pair whose tile patch holds the cell.
    * `axes` names each axis's integer coordinate column with its extent.
    * Per axis, sequence(floor((c - halo) / t), floor((c + halo) / t)) is
    * exactly the tiles i with i*t - halo <= c < (i+1)*t + halo (the
    * first bound is (i+1)*t > c - halo, the second i*t <= c + halo), so
    * no filter on the halo box follows; the clamp to [0, (n-1)/t] drops
    * the tiles that lie off the grid. */
  def explode(df: DataFrame, axes: Seq[(String, Int)], t: Int, halo: Int): DataFrame = {
    require(axes.size == 2 || axes.size == 3, s"a grid has 2 or 3 axes, not ${axes.size}")
    def tileOf(c: Column): Column = floor(c.cast("double") / t).cast("int")
    axes.zipWithIndex.foldLeft(df) { case (d, ((c, n), a)) =>
      d.withColumn(tileCol(a), org.apache.spark.sql.functions.explode(sequence(
        greatest(lit(0), tileOf(col(c) - halo)),
        least(lit((n - 1) / t), tileOf(col(c) + halo)))))
    }
  }

  /** The dense patch of one tile: per axis, its first cell `origin`,
    * its `size` and its core [lo, hi), all within [0, extent). */
  final case class Patch(tile: Seq[Int], extents: Seq[Int], t: Int, halo: Int) {
    val origin: Array[Int] = tile.map(i => math.max(0, i * t - halo)).toArray
    val size: Array[Int] = tile.indices.map(a =>
      math.min(extents(a), (tile(a) + 1) * t + halo) - origin(a)).toArray
    val lo: Array[Int] = tile.map(_ * t).toArray
    val hi: Array[Int] = tile.indices.map(a =>
      math.min(extents(a), (tile(a) + 1) * t)).toArray
    /** Cells in the patch. */
    val length: Int = size.product

    /** Dense index of cell (x, y), row-major with x fastest. */
    def index(x: Int, y: Int): Int = (y - origin(1)) * size(0) + (x - origin(0))

    /** Dense index of cell (x, y, z), row-major with x fastest. */
    def index(x: Int, y: Int, z: Int): Int =
      ((z - origin(2)) * size(1) + (y - origin(1))) * size(0) + (x - origin(0))
  }
}
