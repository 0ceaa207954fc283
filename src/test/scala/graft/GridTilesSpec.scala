package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Csf, GridTiles, Pmf, Poisson, Smrf}

/** The integer-grid tile geometry behind every tile+halo round, and the
  * operators built on it. */
class GridTilesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("GridTiles on random 2-D and 3-D grids: a cell goes to exactly the " +
      "tiles whose clamped halo box holds it, cores partition the grid, " +
      "Patch.index is a bijection onto the patch") {
    val rnd = new scala.util.Random(23)
    // tile sizes 1..9; halo 0, a small halo, and one wider than the tile
    // (Csf's 2 * blockIters + 2 on small tiles)
    val cases = for (dims <- Seq(2, 3); t <- 1 to 9;
        halo <- Seq(0, rnd.nextInt(3) + 1, t + rnd.nextInt(4) + 1))
      yield (Seq.fill(dims)(1 + rnd.nextInt(if (dims == 2) 24 else 9)), t, halo)
    val names = Seq("a", "b", "c")
    // every case's cells in one frame, told apart by the case id
    val cells = cases.zipWithIndex.flatMap { case ((ext, _, _), id) =>
      ext.map(0 until _).foldLeft(Seq(Seq.empty[Int])) { (acc, r) =>
        for (p <- acc; v <- r) yield p :+ v }.map(c => (id, c.padTo(3, 0)))
    }
    val cellDf = cells.map { case (id, c) => (id, c(0), c(1), c(2)) }
      .toDF("id", "a", "b", "c").cache()
    for (((ext, t, halo), id) <- cases.zipWithIndex) {
      val axes = names.zip(ext)
      val dims = ext.size
      val got = GridTiles.explode(cellDf.filter($"id" === id), axes, t, halo)
        .select((names.take(dims).map(col) ++ GridTiles.tileCols(dims)): _*)
        .collect().map(r => Seq.tabulate(2 * dims)(r.getInt)).toSet
      val tiles = ext.map(n => 0 to (n - 1) / t)
        .foldLeft(Seq(Seq.empty[Int])) { (acc, r) => for (p <- acc; v <- r) yield p :+ v }
      val grid = cells.filter(_._1 == id).map(_._2.take(dims))
      val patches = tiles.map(k => k -> GridTiles.Patch(k, ext, t, halo))
      def inBox(c: Seq[Int], p: GridTiles.Patch, lo: Int => Int, hi: Int => Int) =
        c.indices.forall(a => c(a) >= lo(a) && c(a) < hi(a))
      val want = (for ((k, p) <- patches; c <- grid
          if inBox(c, p, p.origin(_), a => p.origin(a) + p.size(a))) yield c ++ k).toSet
      val label = s"extents $ext, t $t, halo $halo"
      assert(got == want, s"$label: ${(got -- want).take(3)} extra, " +
        s"${(want -- got).take(3)} missing")
      for (c <- grid)
        assert(patches.count { case (_, p) => inBox(c, p, p.lo(_), p.hi(_)) } == 1,
          s"$label: cell $c is not in exactly one core")
      for ((k, p) <- patches) {
        assert(p.origin.indices.forall(a => p.origin(a) >= 0 &&
          p.origin(a) + p.size(a) <= ext(a)), s"$label: patch $k leaves the grid")
        val idx = grid.filter(c => inBox(c, p, p.origin(_), a => p.origin(a) + p.size(a)))
          .map(c => if (dims == 2) p.index(c(0), c(1)) else p.index(c(0), c(1), c(2)))
        assert(idx.sorted == (0 until p.length), s"$label: index of patch $k")
      }
    }
    cellDf.unpersist()
  }

  test("Csf, Pmf and Smrf are hash-equal, and tiled Poisson's mesh equal, " +
      "at 1, 7 and 64 input partitions") {
    // CsfSpec's mixed scene on 8-cell tiles: halo exchanges between cloth
    // rounds and cross-tile movableFilter rounds
    val rnd = new scala.util.Random(17)
    val mixed = (for (i <- 0 until 40; j <- 0 until 40) yield {
      val bld = (i >= 8 && i < 13 && j >= 20 && j < 26) ||
        (i >= 30 && i < 33 && j >= 5 && j < 8)
      ((i * 40 + j).toLong, i + rnd.nextDouble() * 0.2, j + rnd.nextDouble() * 0.2,
        (if (bld) 35.0 else 0.0) + 0.1 * i + rnd.nextDouble() * 0.05)
    }).toDF("order_key", "x", "y", "z")
    // sloped terrain with a building, as in GroundSpec
    val terrain = ((0 until 1500).map { i =>
      val x = rnd.nextDouble() * 40; val y = rnd.nextDouble() * 40
      (i.toLong, x, y, 0.05 * x + rnd.nextDouble() * 0.05)
    } ++ (0 until 200).map { i =>
      val x = 15 + rnd.nextDouble() * 6; val y = 15 + rnd.nextDouble() * 6
      ((1500 + i).toLong, x, y, 0.05 * x + 10.0 + rnd.nextDouble() * 0.1)
    }).toDF("order_key", "x", "y", "z")
    val stages = Seq[(String, DataFrame, DataFrame => DataFrame)](
      ("csf", mixed, Csf(_, iterations = 60, blockIters = 2, tileSize = 8)),
      ("pmf", terrain, Pmf(_, maxWindowSize = 12.0, returns = Seq.empty)),
      ("smrf", terrain, Smrf(_, window = 8.0, returns = Seq.empty)))
    for ((name, in, stage) <- stages) {
      val Seq(one, seven, many) = Seq(1, 7, 64).map(p => canon(stage(in.repartition(p))))
      assert(one == seven && one == many, name)
    }
    // a Fibonacci sphere with outward normals, as in PoissonSpec, every
    // stage tiled. The splat and the isovalue sum doubles in partition
    // order, so coordinates move in the last bits (2e-14 measured) while
    // the edge set and the faces stay exact
    val ga = math.Pi * (3.0 - math.sqrt(5.0))
    val sphere = (0 until 800).map { i =>
      val zu = 1.0 - 2.0 * (i + 0.5) / 800
      val ru = math.sqrt(math.max(0.0, 1.0 - zu * zu))
      val (nx, ny, nz) = (ru * math.cos(ga * i), ru * math.sin(ga * i), zu)
      (i.toLong, 5 + 10 * nx, 5 + 10 * ny, 5 + 10 * nz, nx, ny, nz)
    }.toDF("order_key", "x", "y", "z", "normal_x", "normal_y", "normal_z")
    val Seq((v1, f1), rest @ _*) = Seq(1, 7, 64).map { p =>
      val r = Poisson(sphere.repartition(p), depth = 4, iterations = 24,
        outputNormals = false, localNodes = 0L, tileSize = 6, blockIters = 5)
      (r.vertices.select("edge_key", "x", "y", "z").as[(Long, Double, Double, Double)]
        .collect().map(v => v._1 -> Seq(v._2, v._3, v._4)).toMap,
        canon(r.faces))
    }
    for (((v, f), p) <- rest.zip(Seq(7, 64))) {
      assert(v.keySet == v1.keySet, s"poisson at $p partitions: edge sets differ")
      assert(v1.forall { case (k, c) => c.zip(v(k)).forall(t => math.abs(t._1 - t._2) < 1e-9) },
        s"poisson at $p partitions: a vertex moved")
      assert(f == f1, s"poisson at $p partitions: faces differ")
    }
  }
}
