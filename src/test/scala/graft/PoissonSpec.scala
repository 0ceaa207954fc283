package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Poisson

/** filters.poisson — Poisson surface reconstruction
  * (filters/PoissonFilter.cpp). The reference ships no unit tests (the
  * vendored Kazhdan solver's only documented check is a 1.9M-vertex
  * eagle download), so these specs assert the reconstruction CONTRACT
  * on analytic surfaces — closed-manifold topology, geometric accuracy,
  * outward orientation — plus the engine's local == distributed
  * differential. */
class PoissonSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Deterministic Fibonacci-sphere sample with exact outward normals. */
  private def sphere(n: Int, r: Double, cx: Double, cy: Double, cz: Double) = {
    val ga = math.Pi * (3.0 - math.sqrt(5.0))
    (0 until n).map { i =>
      val zu = 1.0 - 2.0 * (i + 0.5) / n
      val ru = math.sqrt(math.max(0.0, 1.0 - zu * zu))
      val th = ga * i
      val (nx, ny, nz) = (ru * math.cos(th), ru * math.sin(th), zu)
      (i.toLong, cx + r * nx, cy + r * ny, cz + r * nz, nx, ny, nz)
    }.toDF("order_key", "x", "y", "z", "normal_x", "normal_y", "normal_z")
  }

  private def edgeUse(faces: Seq[(Long, Long, Long)]) = {
    val und = scala.collection.mutable.Map[(Long, Long), Int]()
    val dir = scala.collection.mutable.Map[(Long, Long), Int]()
    for ((a, b, c) <- faces; (u, v) <- Seq((a, b), (b, c), (c, a))) {
      dir(u -> v) = dir.getOrElse(u -> v, 0) + 1
      val k = if (u < v) (u, v) else (v, u)
      und(k) = und.getOrElse(k, 0) + 1
    }
    (und, dir)
  }

  test("sphere: closed 2-manifold at the right radius, oriented outward") {
    val df = sphere(3000, 30.0, 100.0, 200.0, 50.0)
    val res = Poisson(df, depth = 5, density = true, outputNormals = false)
    val verts = res.vertices.collect().map { r =>
      r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }.toMap
    val faces = res.faces.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(verts.size > 200, s"vertices=${verts.size}")
    assert(faces.size > 200, s"faces=${faces.size}")

    // geometric accuracy: every vertex within ~a cell of the true sphere
    // (grid spacing = 1.25*60/32 = 2.34)
    val hs = 1.25 * 60.0 / 32.0
    for ((_, (x, y, z, _)) <- verts) {
      val rr = math.sqrt((x - 100) * (x - 100) + (y - 200) * (y - 200) +
        (z - 50) * (z - 50))
      assert(math.abs(rr - 30.0) < 1.5 * hs, s"vertex radius $rr")
    }
    // density positive at the surface
    assert(verts.values.forall(_._4 >= 0.0))
    assert(verts.values.exists(_._4 > 0.0))

    // closed 2-manifold: every undirected edge shared by exactly 2 faces,
    // and orientation consistent (each directed edge used exactly once)
    val (und, dir) = edgeUse(faces)
    assert(und.values.forall(_ == 2), s"non-manifold edges: ${und.count(_._2 != 2)}")
    assert(dir.values.forall(_ == 1), "orientation inconsistent")
    // Euler characteristic of a sphere: V - E + F = 2
    assert(verts.size - und.size + faces.size == 2)

    // outward orientation: signed volume ~ +4/3 pi r^3 (front face out)
    val vol = faces.map { case (a, b, c) =>
      val pa = verts(a); val pb = verts(b); val pc = verts(c)
      (pa._1 * (pb._2 * pc._3 - pb._3 * pc._2) +
        pa._2 * (pb._3 * pc._1 - pb._1 * pc._3) +
        pa._3 * (pb._1 * pc._2 - pb._2 * pc._1)) / 6.0 -
        // shift origin to the center for conditioning
        0.0
    }.sum
    // recompute against center-shifted coordinates for numerical sanity
    val volC = faces.map { case (a, b, c) =>
      def s(p: (Double, Double, Double, Double)) = (p._1 - 100, p._2 - 200, p._3 - 50)
      val (ax, ay, az) = s(verts(a)); val (bx, by, bz) = s(verts(b))
      val (cx2, cy2, cz2) = s(verts(c))
      (ax * (by * cz2 - bz * cy2) + ay * (bz * cx2 - bx * cz2) +
        az * (bx * cy2 - by * cx2)) / 6.0
    }.sum
    val trueVol = 4.0 / 3.0 * math.Pi * 27000.0
    assert(volC > 0, s"mesh oriented inward (signed volume $volC)")
    assert(math.abs(volC - trueVol) / trueVol < 0.30,
      s"volume $volC vs $trueVol (raw $vol)")
  }

  test("output normals re-estimated (reference parity) and roughly radial") {
    val df = sphere(1500, 20.0, 0.0, 0.0, 0.0)
    val res = Poisson(df, depth = 4)
    val rows = res.vertices.select("x", "y", "z", "normal_x", "normal_y",
      "normal_z").collect()
    assert(rows.nonEmpty)
    // EigenFeatures normals are unoriented up-flipped planes; check the
    // PLANE is tangent: |n . radial| should be near 1 for most vertices
    val aligned = rows.count { r =>
      val (x, y, z) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      val rl = math.sqrt(x * x + y * y + z * z)
      val d = math.abs((x * r.getDouble(3) + y * r.getDouble(4) +
        z * r.getDouble(5)) / math.max(rl, 1e-9))
      d > 0.8
    }
    assert(aligned.toDouble / rows.length > 0.8,
      s"radial-aligned normals $aligned/${rows.length}")
  }

  test("plane: sheet reconstructed through the samples") {
    // grid of samples on z=40 with +z normals
    val pts = (for (i <- 0 until 40; j <- 0 until 40)
      yield ((i * 40 + j).toLong, i * 2.0, j * 2.0, 40.0, 0.0, 0.0, 1.0))
      .toDF("order_key", "x", "y", "z", "normal_x", "normal_y", "normal_z")
    val res = Poisson(pts, depth = 4, outputNormals = false)
    val vs = res.vertices.select("x", "y", "z").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(vs.nonEmpty)
    // interior vertices (away from the open boundary) sit near z = 40
    val hs = 1.25 * 78.0 / 16.0
    val mid = vs.filter(v => v._1 > 25 && v._1 < 55 && v._2 > 25 && v._2 < 55 &&
      math.abs(v._3 - 40.0) < 3 * hs)
    assert(mid.nonEmpty, "no sheet vertices over the sampled interior")
    val nearTop = vs.filter(v => v._1 > 25 && v._1 < 55 && v._2 > 25 &&
      v._2 < 55).filter(v => math.abs(v._3 - 40.0) <= 1.5 * hs)
    assert(nearTop.length * 2 >= mid.length,
      s"sheet not centered on the samples: ${nearTop.length}/${mid.length}")
  }

  test("local == distributed differential (topology exact, coords 1e-9)") {
    val df = sphere(800, 10.0, 5.0, 5.0, 5.0)
    val a = Poisson(df, depth = 4, iterations = 24, outputNormals = false,
      localNodes = Long.MaxValue)
    val b = Poisson(df, depth = 4, iterations = 24, outputNormals = false,
      localNodes = 0L, tileSize = 6, blockIters = 5)
    val va = a.vertices.select("edge_key", "x", "y", "z").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val vb = b.vertices.select("edge_key", "x", "y", "z").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(va.keySet == vb.keySet, s"edge sets differ: ${va.size} vs ${vb.size}")
    for ((k, (x, y, z)) <- va; (x2, y2, z2) = vb(k)) {
      assert(math.abs(x - x2) < 1e-9 && math.abs(y - y2) < 1e-9 &&
        math.abs(z - z2) < 1e-9, s"edge $k moved")
    }
    // same faces through the SAME deterministic vertex ids
    val fa = a.faces.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fb = b.faces.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fa == fb, s"faces differ: ${fa.size} vs ${fb.size}")
  }

  /** edge_key -> vertex coordinates, and faces as vertex-id triples. */
  private def mesh(res: graft.operators.PoissonResult) = (
    res.vertices.select("edge_key", "x", "y", "z").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap,
    res.faces.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)

  test("hybrid regime (coarse levels dense, finest tiled) == whole pyramid == fully tiled") {
    // localNodes 9^3: levels 2-3 run as the dense driver cascade, level 4
    // by tiles — the split filters.poisson's default depth 8 runs
    // (129^3 <= 2^22 < 257^3)
    val df = sphere(800, 10.0, 5.0, 5.0, 5.0)
    def run(localNodes: Long) = mesh(Poisson(df, depth = 4, iterations = 24,
      outputNormals = false, localNodes = localNodes, tileSize = 6, blockIters = 5))
    val (vh, fh) = run(9L * 9 * 9)
    for ((other, name) <- Seq(Long.MaxValue -> "whole pyramid", 0L -> "fully tiled")) {
      val (vo, fo) = run(other)
      assert(vh.keySet == vo.keySet, s"$name: edge sets differ: ${vh.size} vs ${vo.size}")
      for ((k, (x, y, z)) <- vh; (x2, y2, z2) = vo(k)) {
        assert(math.abs(x - x2) < 1e-9 && math.abs(y - y2) < 1e-9 &&
          math.abs(z - z2) < 1e-9, s"$name: edge $k moved")
      }
      assert(fh == fo, s"$name: faces differ: ${fh.size} vs ${fo.size}")
    }
  }

  test("whole-pyramid regime: 9 Spark jobs, 17 with output normals") {
    // the driver path's job budget: a change that adds a Spark job to
    // the whole-pyramid regime (or routes it through the tiled stages)
    // fails here. A cached plan left by an earlier failed call would
    // serve a job's input, so start from an empty cache.
    spark.catalog.clearCache()
    val df = sphere(800, 10.0, 5.0, 5.0, 5.0)
    assert(jobsOf(Poisson(df, depth = 4, iterations = 24,
      outputNormals = false, localNodes = Long.MaxValue)) == 9)
    assert(jobsOf(Poisson(df, depth = 4, iterations = 24,
      localNodes = Long.MaxValue)) == 17)
  }

  test("q59 regime: 1000-point sphere invariants (euler 2, manifold, radius tolerance)") {
    // exactly the driver query's construction — proves the q59 oracle
    // constants (2, 0, 0, 0) hold at its sample count and depth
    val df = sphere(1000, 30.0, 100.0, 200.0, 50.0)
    val res = Poisson(df, depth = 5, outputNormals = false)
    val verts = res.vertices.collect().map(r =>
      r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val faces = res.faces.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (und, dir) = edgeUse(faces)
    assert(und.values.forall(_ == 2), "nonmanifold")
    assert(dir.values.forall(_ == 1), "orientation")
    assert(verts.size - und.size + faces.size == 2, "euler")
    val hs = 1.25 * 60.0 / 32.0
    for ((_, (x, y, z)) <- verts) {
      val rr = math.sqrt((x - 100) * (x - 100) + (y - 200) * (y - 200) +
        (z - 50) * (z - 50))
      assert(math.abs(rr - 30.0) < 1.5 * hs, s"vertex radius $rr")
    }
  }

  test("degenerate inputs: empty and single point do not crash") {
    val empty = Seq.empty[(Long, Double, Double, Double, Double, Double, Double)]
      .toDF("order_key", "x", "y", "z", "normal_x", "normal_y", "normal_z")
    val r0 = Poisson(empty, depth = 3)
    assert(r0.vertices.count() == 0 && r0.faces.count() == 0)
    val one = Seq((1L, 3.0, 4.0, 5.0, 0.0, 0.0, 1.0))
      .toDF("order_key", "x", "y", "z", "normal_x", "normal_y", "normal_z")
    val r1 = Poisson(one, depth = 3, outputNormals = false)
    r1.vertices.count(); r1.faces.count() // just must not throw
  }

  test("normals estimated when absent (implicit NormalFilter parity)") {
    // a plane WITHOUT normal columns: EigenFeatures estimates (0,0,1)
    // up-oriented normals (consistent here), reconstruction proceeds
    val pts = (for (i <- 0 until 30; j <- 0 until 30)
      yield ((i * 30 + j).toLong, i * 2.0, j * 2.0, 40.0))
      .toDF("order_key", "x", "y", "z")
    val res = Poisson(pts, depth = 4, outputNormals = false)
    val vs = res.vertices.select("x", "y", "z").collect()
    assert(vs.nonEmpty)
    val hs = 1.25 * 58.0 / 16.0
    val mid = vs.filter(r => r.getDouble(0) > 20 && r.getDouble(0) < 38 &&
      r.getDouble(1) > 20 && r.getDouble(1) < 38)
    assert(mid.exists(r => math.abs(r.getDouble(2) - 40.0) <= 1.5 * hs),
      "no sheet vertex near the samples")
  }
}
