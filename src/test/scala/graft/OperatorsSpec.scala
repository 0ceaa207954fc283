package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Fixtures, Synth}
import graft.expr.Where
import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  import TestSpark._
  lazy val docs = Fixtures.autzen1065(spark).cache()

  test("voxel downsize first: one point per voxel, keeps earliest order_key") {
    val out = Voxel.downsize(docs, cell = 100.0)
    val o = Voxel.firstPointOrigin(docs, 100.0)
    val n = out.count()
    assert(n > 0 && n < 1065)
    // voxel uniqueness
    val vox = out.select(floor((col("x") - o._1) / 100).as("vx"),
      floor((col("y") - o._2) / 100).as("vy"), floor((col("z") - o._3) / 100).as("vz"))
    assert(vox.distinct().count() == n)
    // "first" semantics: kept key is the min order_key of its voxel
    val all = docs.select(col("order_key"),
      floor((col("x") - o._1) / 100).as("vx"),
      floor((col("y") - o._2) / 100).as("vy"),
      floor((col("z") - o._3) / 100).as("vz"))
    val mins = all.groupBy("vx", "vy", "vz").agg(min("order_key").as("mk"))
      .select("mk").collect().map(_.getLong(0)).toSet
    val kept = out.select("order_key").collect().map(_.getLong(0)).toSet
    assert(kept == mins)
  }

  test("voxel downsize center mode snaps to voxel centers") {
    val out = Voxel.downsize(docs, cell = 100.0, mode = "center")
    val o = Voxel.firstPointOrigin(docs, 100.0)
    out.select("x").collect().foreach { r =>
      val rel = (r.getDouble(0) - o._1) / 100.0
      assert(math.abs(rel - math.floor(rel) - 0.5) < 1e-9)
    }
  }

  test("sample: poisson-disk greedy == sequential reference implementation") {
    val small = docs.limit(300).cache()
    val out = Sample(small, radius = 150.0)
    val kept = out.select("order_key").collect().map(_.getLong(0)).toSet
    // sequential greedy ground truth
    val pts = small.select("order_key", "x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val seqKept = scala.collection.mutable.ArrayBuffer[(Long, Double, Double, Double)]()
    pts.foreach { p =>
      val ok = seqKept.forall { q =>
        val d2 = (p._2 - q._2) * (p._2 - q._2) + (p._3 - q._3) * (p._3 - q._3) +
          (p._4 - q._4) * (p._4 - q._4)
        d2 >= 150.0 * 150.0
      }
      if (ok) seqKept += p
    }
    assert(kept == seqKept.map(_._1).toSet)
    // distributed fixpoint (localLimit = 0 pins it) == local greedy
    val dist = Sample(small, 150.0, localLimit = 0)
      .select("order_key").collect().map(_.getLong(0)).toSet
    assert(dist == kept)
  }

  test("fps picks spread-out points deterministically") {
    val out1 = Fps(docs.limit(200), 5).select("order_key").collect().map(_.getLong(0)).toSet
    val out2 = Fps(docs.limit(200), 5).select("order_key").collect().map(_.getLong(0)).toSet
    assert(out1 == out2 && out1.size == 5)
  }

  test("stats summary matches reference sample formulas (StatsFilter.hpp:60-131)") {
    val s = Stats.summary(docs, "z")
    val zs = docs.select("z").collect().map(_.getDouble(0))
    val n = zs.length.toDouble
    val mean = zs.sum / n
    val m2 = zs.map(v => (v - mean) * (v - mean)).sum
    val m3 = zs.map(v => math.pow(v - mean, 3)).sum
    val m4 = zs.map(v => math.pow(v - mean, 4)).sum
    val popSkew = math.sqrt(n) * m3 / math.pow(m2, 1.5)
    val sampleSkew = popSkew * math.sqrt(n) * math.sqrt(n - 1) / (n - 2)
    val popKurt = n * m4 / (m2 * m2)
    val sampleKurt = popKurt * (n + 1) * (n - 1) / ((n - 2) * (n - 3))
    val sampleExcess = sampleKurt - 3 * (n - 1) * (n - 1) / ((n - 2) * (n - 3))
    assert(s.count == 1065)
    assert(math.abs(s.avg - mean) < 1e-9)
    assert(math.abs(s.variance - m2 / (n - 1)) < 1e-6)
    assert(math.abs(s.skewness - sampleSkew) < 1e-6)
    assert(math.abs(s.kurtosis - sampleExcess) < 1e-6)
    val sorted = zs.sorted
    assert(math.abs(s.median - sorted((n / 2).toInt)) < 1.0) // exact median semantics
  }

  test("sort is stable; head/tail/decimation honor order (SortFilterTest/HeadFilter)") {
    val sorted = Sort(docs, "intensity")
    val rows = sorted.orderBy("order_key").select("intensity").collect().map(_.getInt(0))
    assert(rows.toSeq == rows.sorted.toSeq)
    assert(HeadTail.head(docs, 100).count() == 100)
    assert(HeadTail.tail(docs, 100).count() == 100)
    assert(HeadTail.head(docs, 100, invert = true).count() == 965)
    // head = lowest 100 order keys
    assert(HeadTail.head(docs, 100).agg(max("order_key")).head().getLong(0) == 99)
    assert(Decimation(docs, step = 10).count() == 107) // ceil(1065/10)
    val dec = Decimation(docs, step = 10, offset = 5)
    assert(dec.agg(min("order_key")).head().getLong(0) == 5)
  }

  test("randomize is a seeded deterministic permutation") {
    val a = Randomize(docs, seed = 99).orderBy("order_key")
      .select("doc_id").collect().map(_.getString(0)).toSeq
    val b = Randomize(docs, seed = 99).orderBy("order_key")
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(a == b)
    assert(a.toSet.size == 1065)
    val c = Randomize(docs, seed = 100).orderBy("order_key")
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(a != c)
  }

  test("divider round_robin and partition modes (DividerFilter.cpp:130-155)") {
    val rr = Divider(docs, roundRobin = true, count = Some(4))
    val counts = rr.groupBy("part_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.size == 4)
    assert(counts.values.sum == 1065)
    assert(counts.values.max - counts.values.min <= 1)
    val pt = Divider(docs, roundRobin = false, capacity = Some(300L))
    val pc = pt.groupBy("part_id").count().collect().map(_.getLong(1)).sorted
    assert(pc.sum == 1065 && pc.length == 4) // ceil(1065/300)=4 views
  }

  /** Rows of `df` as sorted JSON strings: an order-free canon. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(col): _*))).collect()
      .map(_.getString(0)).sorted.toSeq

  test("tail keeps the last count points (and invert the rest) with no " +
      "row-count job: as many jobs as sort") {
    val keys = docs.select("order_key").collect().map(_.getLong(0)).sorted
    val n = keys.length.toLong
    for (c <- Seq(0L, 1L, n - 1, n, n + 5); invert <- Seq(false, true)) {
      val last = keys.takeRight(math.min(c, n).toInt).toSet
      val exp = docs.filter(col("order_key").isin(
        keys.filter(k => last(k) != invert).toSeq: _*))
      assert(rowsOf(HeadTail.tail(docs, c, invert)) == rowsOf(exp),
        s"count=$c invert=$invert")
    }
    assert(jobsOf(HeadTail.tail(docs, 100)) == jobsOf(Sort(docs, "intensity")))
  }

  test("divider round_robin over count views runs no row count: the " +
      "count's jobs fewer, same rows, an int part_id on empty input") {
    val keys = docs.select("order_key").collect().map(_.getLong(0)).sorted
    val exp = keys.zipWithIndex.map { case (k, i) => k -> i % 4 }.toMap
    val rr = Divider(docs, roundRobin = true, count = Some(4))
    assert(rr.select("order_key", "part_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == exp)
    // the row count the partition mode still needs (a map stage and a
    // result job under AQE) is the whole difference; what is left is the rank
    val rrJobs = jobsOf(Divider(docs, roundRobin = true, count = Some(4)))
    assert(rrJobs + jobsOf(docs.count()) ==
      jobsOf(Divider(docs, roundRobin = false, count = Some(4))))
    assert(rrJobs == jobsOf(Sort(docs, "intensity")))
    val empty = Divider(docs.filter(lit(false)), roundRobin = true, count = Some(4))
    assert(empty.schema("part_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(empty.count() == 0)
  }

  test("groupby/returns produce per-view keys (GroupByFilter/ReturnsFilter)") {
    val g = GroupBy(docs, "classification")
    assert(g.select("view_id").distinct().count() ==
      docs.select("classification").distinct().count())
    val r = Returns(docs, Seq(Returns.First, Returns.Last, Returns.Only))
    val byView = r.groupBy("view_id").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val firsts = docs.filter(col("return_number") === 1 && col("number_of_returns") > 1).count()
    val onlys = docs.filter(col("number_of_returns") === 1).count()
    assert(byView.getOrElse("first", 0L) == firsts)
    assert(byView.getOrElse("only", 0L) == onlys)
  }

  test("assign/ferry/where (AssignFilter/FerryFilter/Stage where)") {
    val a = Assign(docs, "classification", lit(7), Some(col("intensity") > 200))
    assert(a.filter(col("intensity") > 200 && col("classification") =!= 7).count() == 0)
    assert(a.filter(col("intensity") <= 200).count() ==
      docs.filter(col("intensity") <= 200).count())
    val f = Ferry(docs, Seq("z" -> "z_copy"))
    assert(f.filter(col("z") =!= col("z_copy")).count() == 0)
    val w = Where(docs, "intensity > 100", d => Assign(d, "classification", lit(5)))
    assert(w.count() == 1065)
    assert(w.filter(col("intensity") > 100 && col("classification") =!= 5).count() == 0)
  }

  test("transformation 4x4 + scaling quantize (TransformationFilter)") {
    val t = Transformation(docs, Seq(
      2, 0, 0, 10,
      0, 1, 0, 0,
      0, 0, 1, -5,
      0, 0, 0, 1))
    val before = docs.orderBy("order_key").select("x", "z").head()
    val after = t.orderBy("order_key").select("x", "z").head()
    assert(math.abs(after.getDouble(0) - (before.getDouble(0) * 2 + 10)) < 1e-9)
    assert(math.abs(after.getDouble(1) - (before.getDouble(1) - 5)) < 1e-9)
    val q = Scaling.quantize(docs, "z", 0.5, 0.0)
    q.select("z").collect().foreach(r => assert(math.abs(r.getDouble(0) / 0.5 -
      math.round(r.getDouble(0) / 0.5)) < 1e-9))
  }

  test("reprojection: web mercator roundtrip + UTM sanity (ReprojectionFilter)") {
    import spark.implicits._
    val lonlat = Seq((-123.1, 44.05, 100.0, 0L), (0.0, 0.0, 0.0, 1L), (13.4, 52.5, 0.0, 2L))
      .toDF("x", "y", "z", "order_key")
    val merc = Reprojection.wgs84ToWebMercator(lonlat)
    val back = Reprojection.webMercatorToWgs84(merc)
    back.orderBy("order_key").collect().zip(lonlat.orderBy("order_key").collect())
      .foreach { case (b, o) =>
        assert(math.abs(b.getDouble(0) - o.getDouble(0)) < 1e-9)
        assert(math.abs(b.getDouble(1) - o.getDouble(1)) < 1e-9)
      }
    // UTM zone 10N, lon=-123.1 lat=44.05; ground truth computed with an
    // independent Snyder PP-1395 implementation: E=491989.325 N=4877431.116
    val utm = Reprojection.wgs84ToUtm(lonlat.filter(col("order_key") === 0), zone = 10)
    val r = utm.head()
    assert(math.abs(r.getDouble(0) - 491989.325) < 0.01)
    assert(math.abs(r.getDouble(1) - 4877431.116) < 0.01)
  }

  test("gpstime conversions incl. week unwrap (GpsTimeConvert.cpp:72-96)") {
    import spark.implicits._
    val wk = Seq((604000.0, 0L), (604700.0, 1L), (100.0, 2L), (500.0, 3L))
      .toDF("gps_time", "order_key")
    val out = GpsTimeConvert.gws2gt(wk, startDateWeekSeconds = 1000.0, wrapped = true)
      .orderBy("order_key").select("gps_time").collect().map(_.getDouble(0))
    assert(out(0) == 1000.0 + 604000.0)
    assert(out(2) == 1000.0 + 100.0 + 604800.0) // wrapped -> next week
    val gst = GpsTimeConvert.gt2gst(wk).orderBy("order_key").head().getDouble(0)
    assert(gst == 604000.0 - 1e9)
  }

  test("geomdistance: zero inside, positive outside (GeomDistanceFilter)") {
    val out = GeomDistance(docs, Fixtures.autzenSelectionWkt)
    val inside = Crop.polygon(docs, Fixtures.autzenSelectionWkt)
      .select("order_key").collect().map(_.getLong(0)).toSet
    out.select("order_key", "distance").collect().foreach { r =>
      if (inside(r.getLong(0))) assert(r.getDouble(1) == 0.0)
      else assert(r.getDouble(1) > 0.0)
    }
  }

  test("colorization joins raster bands onto points (ColorizationFilter)") {
    import spark.implicits._
    val grid = RasterGrid(635000, 848000, 500.0)
    val cells = for (cx <- 0 to 10; cy <- 0 to 12) yield (cx.toLong, cy.toLong, (cx * 100 + cy).toDouble)
    val raster = cells.toDF("cell_x", "cell_y", "band1")
    val out = Colorization(docs, raster, grid, Seq(("band1", "red", 1.0)))
    assert(out.count() == 1065)
    val sample = out.orderBy("order_key").select("x", "y", "red").head()
    val expCx = math.floor((sample.getDouble(0) - 635000) / 500).toLong
    val expCy = math.floor((sample.getDouble(1) - 848000) / 500).toLong
    assert(sample.getDouble(2) == (expCx * 100 + expCy).toDouble)
    TestSpark.assertSpansPreserved(docs, out)
  }

  test("rasterize: per-cell stats incl. idw (writers.gdal / GDALGrid.hpp:51-56)") {
    val out = Rasterize(docs, resolution = 500.0, valueCol = "z")
    assert(out.count() > 0)
    val r = out.agg(sum("count")).head().getLong(0)
    assert(r >= 1065) // radius spill duplicates points into neighbor cells
    out.select("min", "max", "mean", "idw").collect().foreach { row =>
      assert(row.getDouble(0) <= row.getDouble(2) && row.getDouble(2) <= row.getDouble(1))
      assert(row.getDouble(3) >= row.getDouble(0) - 1e-9 &&
        row.getDouble(3) <= row.getDouble(1) + 1e-9)
    }
  }

  test("overlay: first-match-wins polygon attribute assignment (OverlayFilter)") {
    val wkt = Fixtures.autzenSelectionWkt
    val out = Overlay(docs, Seq((wkt, 42)), "classification")
    val inside = Crop.polygon(docs, wkt).count()
    assert(out.filter(col("classification") === 42).count() == inside)
  }

  test("colorinterp maps value range onto ramp (ColorinterpFilter)") {
    val out = ColorInterp(docs, "z")
    assert(out.select("red").distinct().count() > 1)
    assert(out.filter(col("red").isNull).count() == 0)
  }

  test("merge unions views (MergeFilter); hexbin density sums to count") {
    val m = Merge(Seq(docs.limit(100), docs.limit(50)))
    assert(m.count() == 150)
    val hb = HexBin(docs)
    assert(hb.agg(sum("density")).head().getLong(0) == 1065)
  }

  test("locate finds argmin/argmax (LocateFilter)") {
    val mn = Locate(docs, "z", minimum = true).select("z").head().getDouble(0)
    val mx = Locate(docs, "z", minimum = false).select("z").head().getDouble(0)
    val agg = docs.agg(min("z"), max("z")).head()
    assert(mn == agg.getDouble(0) && mx == agg.getDouble(1))
  }

  test("morton order reorders spatially; same point set") {
    val out = MortonOrder(docs)
    assert(out.select("doc_id").distinct().count() == 1065)
    assert(out.agg(max("order_key")).head().getLong(0) == 1064)
  }

  test("chipper boundary accessor: exact below maxExact, closed form " +
      "bounded-divergent and mass-preserving above it") {
    val rnd = new scala.util.Random(77)
    for (_ <- 0 until 50) {
      val n = 1L + rnd.nextInt(2000000)
      val cap = 1L + rnd.nextInt(10000)
      val np = ChipperCore.numPartitions(n, cap).toInt
      val exact = ChipperCore.partitions(n, cap)
      // accessor IS the exact array below the threshold
      val fn = ChipperCore.boundaryFn(n, cap)
      assert(fn(0) == 0 && fn(np) == n && fn(np / 2) == exact(np / 2))
      // closed form (the >2^24-chip path): every boundary within 1 of
      // the reference's accumulated value, endpoints exact, monotone
      val cf = ChipperCore.boundaryFn(n, cap, maxExact = 0)
      assert(cf(0) == 0 && cf(np) == n)
      var i = 1
      val step = math.max(1, np / 64)
      var prev = 0L
      while (i <= np) {
        val b = cf(i)
        assert(math.abs(b - exact(i)) <= 1, s"n=$n cap=$cap i=$i")
        assert(b >= prev)
        prev = b
        i += step
      }
    }
  }

  test("hexbin boundary: single hex, shared-edge merge, donut hole " +
      "(HexBinFilter.cpp:137-232 boundary output)") {
    // one hex -> one 6-vertex ring
    val one = HexBoundary.fromCells(Array((0, 0)), edge = 2.0)
    assert(one.rings == 1 && one.vertices == 6)
    assert(one.wkt.startsWith("MULTIPOLYGON ((("))
    // two adjacent hexes share an edge -> one 10-vertex ring
    val two = HexBoundary.fromCells(Array((0, 0), (1, 0)), edge = 2.0)
    assert(two.rings == 1 && two.vertices == 10, s"$two")
    // 6-hex donut: outer shell + 6-vertex hole, nested in ONE polygon
    val ring = Array((1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1))
    val donut = HexBoundary.fromCells(ring, edge = 2.0)
    assert(donut.rings == 2, s"$donut")
    assert(donut.vertices == 18 + 6, s"$donut")
    assert(donut.wkt.count(_ == '(') == 4) // MULTIPOLYGON((shell),(hole)) nesting
    // end-to-end over a DataFrame: boundary of the autzen hexes is a
    // closed non-empty multipolygon consistent with densityInfo area
    val rep = HexBoundary.densityReport(docs, edge = 50.0)
    assert(rep.occupiedHexes > 0 && rep.rings >= 1 && rep.vertices >= 6)
    val (nHex, area) = HexBin.densityInfo(docs, edge = 50.0)
    assert(nHex == rep.occupiedHexes)
    assert(math.abs(area - rep.area) / area < 1e-9)
  }

  test("hexbin boundary: nested island (shell-hole-shell-hole) attaches " +
      "each hole to the SMALLEST enclosing shell, never duplicated") {
    // annulus at hex-distance {4,5} + island annulus at distance {1}:
    // 4 rings — outer shell, its hole, island shell, island's center hole
    def hdist(q: Int, r: Int) = (math.abs(q) + math.abs(r) + math.abs(q + r)) / 2
    val cells = (for (q <- -6 to 6; r <- -6 to 6;
      d = hdist(q, r) if d == 4 || d == 5 || d == 1) yield (q, r)).toArray
    val b = HexBoundary.fromCells(cells, edge = 2.0)
    assert(b.rings == 4, s"$b")
    // 2 polygons x (1 shell + 1 hole) -> paren count: 1 MULTIPOLYGON +
    // 2 polygons + 4 rings = 7. Duplicating the inner hole into the
    // outer shell (the all-enclosing-shells bug) would print 8.
    assert(b.wkt.count(_ == '(') == 7, b.wkt.take(120))
    // empty input stays total
    assert(HexBoundary.fromCells(Array.empty, edge = 2.0).rings == 0)
  }

  test("separatescanline: edge point stays with its own line " +
      "(SeparateScanLineFilter.cpp:74 append-then-check), groupby groups") {
    import spark.implicits._
    val edges = Seq(0, 1, 0, 0, 1, 1, 0) // lines: [0,1], [2,3,4], [5], [6]
    val df = edges.zipWithIndex
      .map { case (e, i) => (i.toLong, e) }
      .toDF("order_key", "edge_of_flight_line")
    // reference loop replica: append point, THEN on edge bump the line
    def ref(groupBy: Int): Map[Long, Long] = {
      var view = 0L; var lineNum = 1
      edges.zipWithIndex.map { case (e, i) =>
        val assigned = i.toLong -> view
        if (e == 1) { lineNum += 1
          if (lineNum > groupBy) { view += 1; lineNum = 1 } }
        assigned
      }.toMap
    }
    for (g <- Seq(1, 2)) {
      val got = SeparateScanLine(df, groupsOf = g)
        .select("order_key", "view_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref(g), s"groupsOf=$g: $got vs ${ref(g)}")
    }
  }

  test("fps: count past pool size keeps all points; empty input survives") {
    import spark.implicits._
    val five = Seq((0L, 0.0, 0.0, 0.0), (1L, 1.0, 0.0, 0.0), (2L, 2.0, 0.0, 0.0),
      (3L, 3.0, 0.0, 0.0), (4L, 9.0, 0.0, 0.0)).toDF("order_key", "x", "y", "z")
    assert(Fps(five, count = 100).count() == 5)
    assert(Fps(five.filter(lit(false)), count = 3).count() == 0)
    // farthest-first order still holds: first + farthest chosen at count=2
    val two = Fps(five, count = 2).select("order_key").collect()
      .map(_.getLong(0)).toSet
    assert(two == Set(0L, 4L))
  }

  test("splitter and voxel origin paths survive empty input") {
    val none = docs.filter(lit(false))
    assert(Splitter(none).count() == 0)
    assert(Voxel.downsize(none, cell = 10.0).count() == 0)
  }

  test("eigen degenerate neighborhoods still produce unit normals " +
      "(collinear -> perpendicular to the line; reference returns a unit " +
      "eigenvector always)") {
    // collinear along x: cov = diag(v, 0, 0); normal must be unit, ⊥ x
    val r = Eigen3.decompose(4.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val (nx, ny, nz) = (r(3), r(4), r(5))
    assert(math.abs(nx * nx + ny * ny + nz * nz - 1.0) < 1e-12)
    assert(math.abs(nx) < 1e-12) // orthogonal to the line direction
    // isotropic / all-identical: any unit vector; default is +z
    val iso = Eigen3.decompose(0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    assert(iso(3) == 0.0 && iso(4) == 0.0 && iso(5) == 1.0)
    // non-degenerate planar case unchanged: z-normal plane
    val pl = Eigen3.decompose(2.0, 0.0, 0.0, 3.0, 0.0, 1e-9)
    assert(math.abs(pl(5) - 1.0) < 1e-6)
  }

  test("morton codes: signed ordering is spatial across the origin " +
      "(cells left of the origin sort before cells right of it)") {
    import graft.functions.CellMath
    val left = CellMath.interleave(-1, 0)
    val right = CellMath.interleave(0, 0)
    val farRight = CellMath.interleave(1 << 10, 1 << 10)
    assert(left < right && right < farRight)
  }

  test("densityReport and densityInfo degrade to empty on empty input") {
    val empty = docs.filter(col("x") > 1e18)
    val rep = HexBoundary.densityReport(empty, edge = 50.0)
    assert(rep.boundaryWkt == "MULTIPOLYGON EMPTY" && rep.occupiedHexes == 0L
      && rep.rings == 0 && rep.area == 0.0)
    // auto-edge estimation path must survive empty input too
    val rep2 = HexBoundary.densityReport(empty)
    assert(rep2.occupiedHexes == 0L)
    assert(HexBin.densityInfo(empty, edge = 50.0) == (0L, 0.0))
  }

  test("Order.runningSums equals a single-partition window: exact long and " +
      "dyadic double sums, ungrouped and grouped (a null group, one group " +
      "across >= 3 partitions), at 1, 7 and 64 shuffle partitions") {
    import org.apache.spark.sql.expressions.Window
    // group 1 holds 70% of the rows, every 9th row has a null group, and
    // every 11th a null value; the sort key is not order_key order
    val base = spark.range(600).select(
      col("id").as("order_key"),
      when(col("id") % 9 === 4, lit(null))
        .otherwise(when(col("id") % 10 < 7, 1L).otherwise(col("id") % 5))
        .cast("int").as("g"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(col("id") * 7919 % 1000 - 500).as("lv"),
      when(col("id") % 11 === 3, lit(null))
        .otherwise((col("id") * 31 % 97 - 40) * 0.125).as("dv"),
      (col("id") * 2654435761L % 1009).as("s"))
    val sort = Seq(col("s").asc, col("order_key").asc)
    def sums(df: DataFrame): Map[Long, (Long, Double)] =
      df.select("order_key", "sl", "sd").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try for (parts <- Seq(1, 7, 64); group <- Seq(None, Some("g"))) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val got = Order.runningSums(base, sort,
        Seq(col("lv") -> "sl", col("dv") -> "sd"), group)
      assert(got.schema("sl").dataType == org.apache.spark.sql.types.LongType)
      val w = group.fold(Window.orderBy(sort: _*))(Window.partitionBy(_).orderBy(sort: _*))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ref = base.withColumn("sl", coalesce(sum("lv").over(w), lit(0L)))
        .withColumn("sd", coalesce(sum("dv").over(w), lit(0.0)))
      assert(sums(got) == sums(ref), s"parts=$parts group=$group")
      if (parts > 1) assert(base.repartitionByRange(parts, col("g") +: sort: _*)
        .filter(col("g") === 1).select(spark_partition_id()).distinct().count() >= 3)
      assert(Order.runningSums(base.filter(lit(false)), sort,
        Seq(col("lv") -> "sl"), group).count() == 0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("order stages are hash-equal at 1, 7 and 64 input partitions") {
    val pts = docs.withColumn("edge_of_flight_line",
      when(col("order_key") % 7 === 3, 1).otherwise(0))
    val stages = Seq[(String, DataFrame => DataFrame)](
      "sort" -> (Sort(_, "intensity", ascending = false)),
      "randomize" -> (Randomize(_, seed = 7)),
      "mortonorder" -> (MortonOrder(_)),
      "mortonorder reverse" -> (MortonOrder(_, reverse = true)),
      "decimation" -> (Decimation(_, step = 3, offset = 2, limit = 900)),
      "divider round_robin" -> (Divider(_, roundRobin = true, count = Some(5))),
      "divider partition" -> (Divider(_, roundRobin = false, capacity = Some(250L))),
      "head invert" -> (HeadTail.head(_, 100, invert = true)),
      "tail" -> (HeadTail.tail(_, 100)),
      "tail invert" -> (HeadTail.tail(_, 100, invert = true)),
      "separatescanline" -> (SeparateScanLine(_, groupsOf = 2)),
      "chipper" -> (Chipper(_, capacity = 15, localThreshold = 64)))
    for ((name, stage) <- stages) {
      val Seq(one, seven, many) = Seq(1, 7, 64).map(p => canon(stage(pts.repartition(p))))
      assert(one == seven && one == many, name)
    }
  }

  test("RadiusJoin == brute force on 2-D and 3-D clouds: negative, " +
      "coincident, exactly-r-apart and cell-boundary points") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for ((dims, r) <- Seq(2 -> 3.0, 3 -> 2.0)) {
      def rand() = Seq.fill(dims)(rnd.nextDouble() * 16 - 8)
      // an integer lattice holds many pairs exactly r apart (r is
      // integral) and puts points on cell boundaries at multiples of r
      val lattice = (0 until math.pow(7, dims).toInt).map(i =>
        Seq.tabulate(dims)(a => (i / math.pow(7, a).toInt % 7 - 3).toDouble))
      val random = Seq.fill(200)(rand())
      val coincident = random.take(30)
      val onBoundary = Seq.fill(60)(rand()).zipWithIndex.map { case (p, i) =>
        p.updated(i % dims, math.round(p(i % dims) / r) * r) }
      val pts = (lattice ++ random ++ coincident ++ onBoundary).zipWithIndex
        .map { case (p, k) => (k.toLong, p) }
      def side(p: String, rows: Seq[(Long, Seq[Double])]) =
        rows.map { case (k, c) => (k, c(0), c(1), c.lift(2).getOrElse(0.0)) }
          .toDF(s"${p}k", s"${p}x", s"${p}y", s"${p}z")
      def coords(p: String) = Seq("x", "y", "z").take(dims).map(p + _)
      // query and candidate sides differ: two in three points query
      val queries = pts.filter(_._1 % 3 != 0)
      val got = RadiusJoin(side("q", queries), coords("q"), side("c", pts), coords("c"), r)
        .select("qk", "ck", "__d2").as[(Long, Long, Double)].collect().toSeq.sortBy(t => (t._1, t._2))
      val want = (for ((qk, q) <- queries; (ck, c) <- pts;
          d2 = q.zip(c).map { case (a, b) => (a - b) * (a - b) }.reduce(_ + _)
          if d2 <= r * r) yield (qk, ck, d2)).sortBy(t => (t._1, t._2))
      assert(want.exists(_._3 == r * r), s"$dims-D: no pair exactly r apart")
      assert(want.exists(t => t._3 == 0.0 && t._1 != t._2), s"$dims-D: no coincident pair")
      assert(got == want, s"$dims-D: ${got.size} pairs vs brute force ${want.size}")
    }
  }

  test("radius operators are hash-equal at 1, 7 and 64 input partitions") {
    import spark.implicits._
    // two crowns and low vegetation, the LiTree scene of LiTreeSpec
    val rnd = new scala.util.Random(7)
    def crown(cx: Double, hmax: Double, n: Int, keyBase: Long) =
      (0 until n).map { i =>
        val ang = rnd.nextDouble() * 2 * math.Pi
        val r = rnd.nextDouble() * 4
        (keyBase + i, cx + r * math.cos(ang), r * math.sin(ang),
          math.max(0.5, hmax - 2 * r - rnd.nextDouble() * 0.3))
      }
    val veg = (0 until 20).map(i => (2000L + i, 100.0 + i * 3, 50.0, 0.5 + rnd.nextDouble()))
    val forest = (crown(0, 18, 40, 0L) ++ crown(200, 12, 30, 1000L) ++ veg)
      .toDF("order_key", "x", "y", "height_above_ground")
    // the distributed fixpoint on every sixth point: 178 points, 231
    // conflict edges at radius 300
    val sixth = docs.filter(col("order_key") % 6 === 0)
    val stages = Seq[(String, DataFrame, DataFrame => DataFrame)](
      ("radiuscount", docs, RadiusCount(_, 60.0)),
      ("outlier radius", docs, Outlier.radius(_, radius = 50.0, minK = 2)),
      ("radialdensity", docs, RadialDensity(_, 100.0)),
      ("cluster", docs, Cluster(_, 80.0)),
      ("dbscan", docs, Dbscan(_, eps = 80.0, minPoints = 3)),
      ("sample", docs, Sample(_, 150.0)),
      ("sample localLimit 0", sixth, Sample(_, 300.0, localLimit = 0)),
      ("zsmooth", docs, Zsmooth(_, radius = 60.0)),
      ("litree", forest, LiTree(_)))
    for ((name, in, stage) <- stages) {
      val Seq(one, seven, many) = Seq(1, 7, 64).map(p => canon(stage(in.repartition(p))))
      assert(one == seven && one == many, name)
    }
  }
}
