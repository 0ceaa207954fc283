package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 2D Delaunay triangulation core — a from-scratch Bowyer–Watson
  * incremental triangulator with triangle adjacency (walk point
  * location + BFS cavity), the engine behind filters.delaunay /
  * filters.hag_delaunay (the reference uses the delaunator port,
  * filters/private/delaunator.cpp; this is an independent algorithm,
  * not a translation).
  *
  * Determinism: points are inserted in caller order (HagDelaunay uses
  * (d2, cid) neighbor order; DelaunayMesh pre-sorts by Morton code of
  * the scaled coordinates, ties by index), and predicates are plain
  * double arithmetic with strict comparisons, so the triangle set is a
  * pure function of the input sequence at any parallelism. Exactly
  * cocircular quads pick the diagonal determined by insertion order —
  * both choices are valid Delaunay triangulations; tests assert the
  * empty-circumcircle property, not a specific diagonal.
  *
  * The bounding super-triangle is placed ~1e9 extents out, so
  * two-real-vertex circumcircles degenerate to half-plane tests at
  * double precision — the standard finite emulation of the
  * infinite-vertex rule; triangles touching super vertices are dropped
  * from the result. */
object DelaunayCore {

  /** Packed triangle vertex triples (3 ints per triangle), each triple
    * rotated so the smallest vertex index is first with CCW orientation
    * preserved, triples sorted lexicographically — a canonical form for
    * set comparison across partitionings. Duplicate (x,y) points keep
    * the first occurrence; fully collinear inputs yield no triangles
    * (the reference's delaunator throws on those; callers guard). */
  def triangulate(px: Array[Double], py: Array[Double]): Array[Int] = {
    val t = new Triangulator(px, py)
    t.run()
    t.realTriangles()
  }

  /** Indices of the convex hull of (px, py), CCW (Andrew monotone
    * chain, strict: collinear boundary points dropped). Degenerate
    * inputs (all collinear / < 3 points) return fewer than 3 indices. */
  def convexHull(px: Array[Double], py: Array[Double]): Array[Int] = {
    val n = px.length
    if (n < 3) return Array.range(0, n)
    val idx = Array.range(0, n).sortBy(i => (px(i), py(i)))
    @inline def cross(o: Int, a: Int, b: Int): Double =
      (px(a) - px(o)) * (py(b) - py(o)) - (py(a) - py(o)) * (px(b) - px(o))
    val h = new Array[Int](2 * n)
    var k = 0
    var i = 0
    while (i < n) { // lower chain
      val p = idx(i)
      while (k >= 2 && cross(h(k - 2), h(k - 1), p) <= 0) k -= 1
      h(k) = p; k += 1; i += 1
    }
    val lower = k + 1
    var j = n - 2
    while (j >= 0) { // upper chain
      val p = idx(j)
      while (k >= lower && cross(h(k - 2), h(k - 1), p) <= 0) k -= 1
      h(k) = p; k += 1; j -= 1
    }
    java.util.Arrays.copyOf(h, k - 1)
  }

  /** Circumcenter (x, y) and squared circumradius of triangle abc;
    * returns null for degenerate (collinear) triangles. */
  def circumcircle(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Array[Double] = {
    val dx = bx - ax; val dy = by - ay
    val ex = cx - ax; val ey = cy - ay
    val bl = dx * dx + dy * dy
    val cl = ex * ex + ey * ey
    val d = 2.0 * (dx * ey - dy * ex)
    if (d == 0.0) return null
    val ux = ax + (ey * bl - dy * cl) / d
    val uy = ay + (dx * cl - ex * bl) / d
    val r2 = (ux - ax) * (ux - ax) + (uy - ay) * (uy - ay)
    Array(ux, uy, r2)
  }

  /** Reference-parity barycentric interpolation
    * (pdal/private/MathUtils.cpp:407-443): z of (x, y) inside triangle
    * 1-2-3 inclusive of edges, else Double.PositiveInfinity. */
  def barycentricInterp(x1: Double, y1: Double, z1: Double,
      x2: Double, y2: Double, z2: Double,
      x3: Double, y3: Double, z3: Double, x: Double, y: Double): Double = {
    val detT = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
    if (detT != 0.0) {
      val l1 = ((y2 - y3) * (x - x3) + (x3 - x2) * (y - y3)) / detT
      val l2 = ((y3 - y1) * (x - x3) + (x1 - x3) * (y - y3)) / detT
      if (l1 >= 0 && l1 <= 1 && l2 >= 0 && l2 <= 1 && l1 + l2 <= 1)
        return l1 * z1 + l2 * z2 + (1 - l1 - l2) * z3
    }
    Double.PositiveInfinity
  }
}

/** One triangulation run. Triangles live in flat arrays: vertices
  * tv(3t..3t+2) in CCW order; tn(3t+j) is the neighbor across the edge
  * (tv(3t+j), tv(3t+(j+1)%3)), -1 at the boundary; dead triangles are
  * tombstoned. */
private[operators] final class Triangulator(px: Array[Double], py: Array[Double]) {
  private val n = px.length
  // super-triangle vertices are indices n, n+1, n+2
  private val sx = new Array[Double](3)
  private val sy = new Array[Double](3)

  private var cap = math.max(16, 2 * n + 16)
  private var tv = new Array[Int](cap * 3)
  private var tn = new Array[Int](cap * 3)
  private var alive = new Array[Boolean](cap)
  private var ntri = 0
  private var lastT = 0 // walk start hint

  @inline private def X(v: Int): Double = if (v < n) px(v) else sx(v - n)
  @inline private def Y(v: Int): Double = if (v < n) py(v) else sy(v - n)

  @inline private def orient(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  /** p strictly inside the circumcircle of CCW triangle (a, b, c). */
  private def inCircle(a: Int, b: Int, c: Int, ppx: Double, ppy: Double): Boolean = {
    val adx = X(a) - ppx; val ady = Y(a) - ppy
    val bdx = X(b) - ppx; val bdy = Y(b) - ppy
    val cdx = X(c) - ppx; val cdy = Y(c) - ppy
    val ad = adx * adx + ady * ady
    val bd = bdx * bdx + bdy * bdy
    val cd = cdx * cdx + cdy * cdy
    adx * (bdy * cd - bd * cdy) -
      ady * (bdx * cd - bd * cdx) +
      ad * (bdx * cdy - bdy * cdx) > 0.0
  }

  private def grow(): Unit = {
    val ncap = cap * 2
    tv = java.util.Arrays.copyOf(tv, ncap * 3)
    tn = java.util.Arrays.copyOf(tn, ncap * 3)
    alive = java.util.Arrays.copyOf(alive, ncap)
    cap = ncap
  }

  private def newTriangle(a: Int, b: Int, c: Int): Int = {
    if (ntri == cap) grow()
    val t = ntri; ntri += 1
    tv(3 * t) = a; tv(3 * t + 1) = b; tv(3 * t + 2) = c
    tn(3 * t) = -1; tn(3 * t + 1) = -1; tn(3 * t + 2) = -1
    alive(t) = true
    t
  }

  /** Walk from the hint to a triangle containing (x, y) (edge-inclusive).
    * Falls back to a linear scan if the walk cycles (degenerate data). */
  private def locate(x: Double, y: Double): Int = {
    var t = if (alive(lastT)) lastT else {
      var i = ntri - 1; while (i >= 0 && !alive(i)) i -= 1; i
    }
    var steps = 0
    val maxSteps = 4 * (ntri + 4)
    while (steps < maxSteps) {
      var j = 0
      var moved = false
      while (j < 3 && !moved) {
        val a = tv(3 * t + j); val b = tv(3 * t + (j + 1) % 3)
        if (orient(X(a), Y(a), X(b), Y(b), x, y) < 0.0) {
          val nb = tn(3 * t + j)
          if (nb >= 0) { t = nb; moved = true }
          else j += 1 // outside the super-triangle: shouldn't happen; keep probing
        } else j += 1
      }
      if (!moved) return t
      steps += 1
    }
    var i = 0 // degenerate fallback: first triangle with no negative edge
    while (i < ntri) {
      if (alive(i)) {
        var ok = true; var j = 0
        while (j < 3 && ok) {
          val a = tv(3 * i + j); val b = tv(3 * i + (j + 1) % 3)
          if (orient(X(a), Y(a), X(b), Y(b), x, y) < 0.0) ok = false
          j += 1
        }
        if (ok) return i
      }
      i += 1
    }
    throw new IllegalStateException("delaunay: point location failed")
  }

  def run(): Unit = {
    if (n == 0) return
    var minx = px(0); var maxx = px(0); var miny = py(0); var maxy = py(0)
    var i = 1
    while (i < n) {
      if (px(i) < minx) minx = px(i); if (px(i) > maxx) maxx = px(i)
      if (py(i) < miny) miny = py(i); if (py(i) > maxy) maxy = py(i)
      i += 1
    }
    val cx = (minx + maxx) / 2; val cy = (miny + maxy) / 2
    val d = math.max(math.max(maxx - minx, maxy - miny), 1e-9)
    val m = 1e9 * d
    sx(0) = cx - 3 * m; sy(0) = cy - m
    sx(1) = cx + 3 * m; sy(1) = cy - m
    sx(2) = cx; sy(2) = cy + 3 * m
    newTriangle(n, n + 1, n + 2)

    val badList = new java.util.ArrayDeque[Integer]()
    val bad = new scala.collection.mutable.HashSet[Int]
    // cavity-boundary-edge start vertex -> new fan triangle; the boundary
    // is a simple cycle, so each start vertex identifies one edge
    val startMap = new scala.collection.mutable.LongMap[Int]

    var p = 0
    while (p < n) {
      val x = px(p); val y = py(p)
      val t0 = locate(x, y)
      // skip exact duplicates of any vertex of the containing triangle
      var dup = false
      var j = 0
      while (j < 3 && !dup) {
        val v = tv(3 * t0 + j)
        if (X(v) == x && Y(v) == y) dup = true
        j += 1
      }
      if (!dup) {
        // cavity = BFS of circumcircle-violating triangles from t0
        bad.clear(); badList.clear()
        bad += t0; badList.add(t0)
        val cavity = new scala.collection.mutable.ArrayBuffer[Int]
        while (!badList.isEmpty) {
          val t = badList.poll().intValue()
          cavity += t
          var e = 0
          while (e < 3) {
            val nb = tn(3 * t + e)
            if (nb >= 0 && !bad.contains(nb)) {
              val a = tv(3 * t + e); val b = tv(3 * t + (e + 1) % 3)
              // p exactly on the shared edge must open both incident
              // triangles, or the fan would emit a zero-area triangle
              val onEdge =
                orient(X(a), Y(a), X(b), Y(b), x, y) == 0.0
              if (onEdge ||
                  inCircle(tv(3 * nb), tv(3 * nb + 1), tv(3 * nb + 2), x, y)) {
                bad += nb; badList.add(nb)
              }
            }
            e += 1
          }
        }
        // boundary edges (CCW around the cavity) -> fan to p
        startMap.clear()
        val newTris = new scala.collection.mutable.ArrayBuffer[Int]
        var ci = 0
        while (ci < cavity.length) {
          val t = cavity(ci)
          var e = 0
          while (e < 3) {
            val nb = tn(3 * t + e)
            if (nb < 0 || !bad.contains(nb)) {
              val a = tv(3 * t + e); val b = tv(3 * t + (e + 1) % 3)
              val nt = newTriangle(a, b, p)
              newTris += nt
              tn(3 * nt) = nb // outer neighbor across (a,b)
              if (nb >= 0) { // fix the outer triangle's back pointer
                var k = 0
                while (k < 3) {
                  if (tn(3 * nb + k) == t) tn(3 * nb + k) = nt
                  k += 1
                }
              }
              startMap.put(a.toLong, nt)
            }
            e += 1
          }
          ci += 1
        }
        // stitch fan adjacency: nt = (a, b, p) meets the fan triangle
        // starting at b across its (b, p) edge (edge 1); symmetrically
        // that triangle sees nt across its (p, b) edge (edge 2)
        var ti = 0
        while (ti < newTris.length) {
          val nt = newTris(ti)
          val b = tv(3 * nt + 1)
          startMap.get(b.toLong).foreach { right =>
            tn(3 * nt + 1) = right // across (b, p)
            tn(3 * right + 2) = nt // its (p, b) edge
          }
          ti += 1
        }
        cavity.foreach { t => alive(t) = false }
        if (newTris.nonEmpty) lastT = newTris.last
      }
      p += 1
    }
  }

  /** Real triangles (no super vertices), canonical packing. */
  def realTriangles(): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]
    var t = 0
    while (t < ntri) {
      if (alive(t)) {
        val a = tv(3 * t); val b = tv(3 * t + 1); val c = tv(3 * t + 2)
        if (a < n && b < n && c < n) {
          // rotate so the smallest index leads, orientation preserved
          val tri =
            if (a <= b && a <= c) (a, b, c)
            else if (b <= a && b <= c) (b, c, a)
            else (c, a, b)
          out += tri
        }
      }
      t += 1
    }
    val sorted = out.sortBy(identity)
    val arr = new Array[Int](sorted.length * 3)
    var i = 0
    while (i < sorted.length) {
      arr(3 * i) = sorted(i)._1; arr(3 * i + 1) = sorted(i)._2
      arr(3 * i + 2) = sorted(i)._3
      i += 1
    }
    arr
  }
}

/** filters.hag_delaunay analog (filters/HagDelaunayFilter.cpp:149-222):
  * ground points (classification 2) get height_above_ground 0; each
  * non-ground point takes its `count` nearest ground points in 2D,
  * triangulates that local neighborhood, and interpolates the ground
  * elevation barycentrically from the containing triangle
  * (HagDelaunayFilter.cpp:56-94); points outside every triangle fall
  * back to the nearest ground point's z, points outside the ground
  * bbox keep their own z (HAG 0) when extrapolation is off, and a
  * coincident-x/y nearest neighbor (or a single ground point) is used
  * directly.
  *
  * Scale: ONE grid-kNN join (supercell-halo shuffle, slim columns)
  * whose hits carry the ground points' coordinates, one per-row local
  * triangulation over <= `count` points on the kNN row, then one
  * (order_key, z1) attach — no global structure, no driver loop.
  * Neighbor order (and so cocircular tie-breaks) is pinned to (d2, cid);
  * a fully collinear neighborhood falls back to the nearest-z rule (the
  * reference's delaunator would throw there).
  */
object HagDelaunay {
  def apply(df: DataFrame, count: Int = 10,
      allowExtrapolation: Boolean = true,
      outDim: String = "height_above_ground"): DataFrame = {
    require(count >= 3, "Option 'count' must be at least 3")
    val ground = df.filter(col("classification") === 2)
    val nonGround = df.filter(!(col("classification") === 2))
    if (ground.isEmpty) // reference logs an error and leaves defaults
      return df.withColumn(outDim, lit(0.0))
    val b = ground.agg(min("x"), max("x"), min("y"), max("y")).head()
    val (mnx, mxx, mny, mxy) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))

    val q = nonGround.select(col("order_key"), col("x"), col("y"),
      lit(0.0).as("z"))
    val cand = ground.select(col("order_key"), col("x"), col("y"),
      lit(0.0).as("z"), col("z").as("gz"))
    // each hit is a ground neighbor: its x, y and v = ground z, already
    // in (d2, cid) order — the reference's kNN result order
    val hits = KnnJoin.knn(q, cand, count, valueCol = "gz")

    // None = the point keeps its own z
    val interp = udf { (x0: Double, y0: Double, nb: Seq[Row]) =>
      if (nb == null || nb.isEmpty) None
      else {
        val gx = nb.map(_.getAs[Double]("x")).toArray
        val gy = nb.map(_.getAs[Double]("y")).toArray
        val gz = nb.map(_.getAs[Double]("v")).toArray
        val inBounds = x0 >= mnx && x0 <= mxx && y0 >= mny && y0 <= mxy
        if ((gx(0) == x0 && gy(0) == y0) || nb.size == 1) Some(gz(0))
        else if (!inBounds && !allowExtrapolation) None
        else {
          val tris = DelaunayCore.triangulate(gx, gy)
          var z1 = Double.PositiveInfinity
          var i = 0
          while (i < tris.length && z1.isInfinity) {
            val a = tris(i); val bb = tris(i + 1); val c = tris(i + 2)
            z1 = DelaunayCore.barycentricInterp(gx(a), gy(a), gz(a),
              gx(bb), gy(bb), gz(bb), gx(c), gy(c), gz(c), x0, y0)
            i += 3
          }
          Some(if (z1.isInfinity) gz(0) else z1) // outside triangulation -> nearest
        }
      }
    }
    val ngOut = KnnJoin.attach(nonGround, hits.rows.select(col("order_key"),
        interp(col("qx"), col("qy"), col("knn")).as("__z1")), hits.queryRows)
      .withColumn(outDim, col("z") - coalesce(col("__z1"), col("z")))
      .select((nonGround.columns :+ outDim).distinct.map(col): _*)
    ngOut.unionByName(ground.withColumn(outDim, lit(0.0)))
  }
}

/** filters.delaunay analog (filters/DelaunayFilter.cpp:61-94): the 2D
  * Delaunay triangulation of the full view as a mesh-face table
  * (a, b, c) of order_keys, one row per triangle, vertices in CCW
  * order rotated so the smallest key leads, rows canonically sorted.
  * (The reference stores faces on the view as mesh "delaunay2d" in
  * reversed delaunator order; the face SET is what downstream stages
  * consume, and ours is a valid Delaunay triangulation of the same
  * points with deterministic cocircular tie-breaks.)
  *
  * Distributed design — certified tile triangulation with halo
  * escalation (the same shape as the kNN join's ring escalation):
  * points land in a coarse tile grid; each task triangulates its tile
  * plus a `halo`-wide margin and keeps exactly the triangles it OWNS
  * (circumcenter, clamped to the global bbox, inside the tile core)
  * whose circumcircle fits inside the examined rectangle — such a
  * triangle's circumcircle is provably empty of GLOBAL points, so it
  * is a triangle of the global triangulation, and ownership makes the
  * emission unique. A tile with any uncertified triangle whose
  * circumdisk intersects its core (circumcircle reaching past its
  * halo: hull slivers, sparse voids) re-runs next round with a 4x halo
  * — gathering strictly more points — until no such disk remains or
  * its examined region covers the whole bbox (local = global,
  * trivially certified). Intersects-core, not owned, is the sound
  * trigger: by the cavity lemma every yet-hidden global triangle's
  * circumdisk sits inside some current uncertified disk, and the
  * hidden triangle's clamped circumcenter lies inside its own disk.
  * Dense uniform data certifies in round 1; only degenerate boundary
  * geometry escalates, and the worst case degrades to the exact
  * single-task triangulation rather than to a wrong answer.
  * Insertion order is global Morton order (ties by order_key), so
  * overlapping tiles make identical cocircular choices and the owner's
  * emission equals the single-task result row-for-row. */
object DelaunayMesh {
  def apply(df: DataFrame, targetPerTile: Long = 500000L,
      haloCells: Double = 0.125): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col("order_key"), col("x"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = pts.agg(count(lit(1)), min("x"), max("x"), min("y"), max("y")).head()
    val n = e.getLong(0)
    if (n < 3) {
      pts.unpersist(false)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("a", LongType), StructField("b", LongType),
          StructField("c", LongType))))
    }
    val (mnx, mxx, mny, mxy) =
      (e.getDouble(1), e.getDouble(2), e.getDouble(3), e.getDouble(4))
    val gridN = math.max(1, math.ceil(math.sqrt(n.toDouble / targetPerTile)).toInt)
    val tw = math.max((mxx - mnx) / gridN, 1e-9)
    val th = math.max((mxy - mny) / gridN, 1e-9)
    // full-cover halo: examined region spans the bbox -> exact in 1 round
    val haloMax = math.max((mxx - mnx), (mxy - mny)) + tw + th

    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType), StructField("c", LongType)))
    var done = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // round 0: all tiles active
    var active: Set[(Int, Int)] =
      (for (i <- 0 until gridN; j <- 0 until gridN) yield (i, j)).toSet
    var halo = haloCells * math.max(tw, th)
    var round = 0
    while (active.nonEmpty && round < 32) {
      val h = math.min(halo, haloMax)
      val activeB = spark.sparkContext.broadcast(active)
      val tiles = pts
        .withColumn("__ti", explode(sequence(
          floor((col("x") - mnx - h) / tw).cast("int"),
          floor((col("x") - mnx + h) / tw).cast("int"))))
        .withColumn("__tj", explode(sequence(
          floor((col("y") - mny - h) / th).cast("int"),
          floor((col("y") - mny + h) / th).cast("int"))))
        .filter(col("__ti") >= 0 && col("__ti") < gridN &&
          col("__tj") >= 0 && col("__tj") < gridN)
        .as[(Long, Double, Double, Int, Int)]
        .filter(t => activeB.value.contains((t._4, t._5)))
      val res = tiles.groupByKey(t => (t._4, t._5)).flatMapGroups { (tk, it) =>
        val (ti, tj) = tk
        val rows = it.toArray
        // deterministic global insertion order: Morton of scaled coords
        val sorted = rows.sortBy { r =>
          (graft.functions.CellMath.interleave(
            ((r._2 - mnx) / math.max(mxx - mnx, 1e-9) * Int.MaxValue).toInt,
            ((r._3 - mny) / math.max(mxy - mny, 1e-9) * Int.MaxValue).toInt),
            r._1)
        }
        val px = sorted.map(_._2); val py = sorted.map(_._3)
        val keys = sorted.map(_._1)
        val tris = DelaunayCore.triangulate(px, py)
        // examined rectangle and core rectangle of this tile
        val ex0 = mnx + ti * tw - h; val ex1 = mnx + (ti + 1) * tw + h
        val ey0 = mny + tj * th - h; val ey1 = mny + (tj + 1) * th + h
        val c0x = mnx + ti * tw; val c1x = mnx + (ti + 1) * tw
        val c0y = mny + tj * th; val c1y = mny + (tj + 1) * th
        val fullCover = ex0 <= mnx && ex1 >= mxx && ey0 <= mny && ey1 >= mxy
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
        var incomplete = false
        var i = 0
        while (i < tris.length) {
          val a = tris(i); val b = tris(i + 1); val c = tris(i + 2)
          val cc = DelaunayCore.circumcircle(px(a), py(a), px(b), py(b),
            px(c), py(c))
          if (cc == null) {
            // degenerate local triangle: unbounded circumdisk, can never
            // be certified — escalate unless the tile already sees all
            if (!fullCover) incomplete = true
          } else {
            // ownership: circumcenter clamped into the bbox; half-open
            // core cells, right/top edges claimed by the last tile
            val ox = math.min(math.max(cc(0), mnx), mxx)
            val oy = math.min(math.max(cc(1), mny), mxy)
            val owned =
              (ox >= c0x && (ox < c1x || (ti == gridN - 1 && ox <= c1x))) &&
              (oy >= c0y && (oy < c1y || (tj == gridN - 1 && oy <= c1y)))
            val r = math.sqrt(cc(2))
            val certified = fullCover ||
              (cc(0) - r >= ex0 && cc(0) + r <= ex1 &&
               cc(1) - r >= ey0 && cc(1) + r <= ey1)
            if (certified) {
              if (owned) out += ((keys(a), keys(b), keys(c)))
            } else {
              // Escalate if the uncertified disk TOUCHES the core — not
              // just if we own it. By the cavity lemma, any global
              // triangle still hidden by unexamined points has its
              // circumdisk inside some current uncertified disk, and its
              // (clamped) circumcenter lies in that disk; so if no
              // uncertified disk intersects our core, every global
              // triangle we own is already present and certified. The
              // owned-only test missed global triangles whose local
              // stand-in is owned by a different tile.
              val qx = math.min(math.max(cc(0), c0x), c1x)
              val qy = math.min(math.max(cc(1), c0y), c1y)
              val dq = (cc(0) - qx) * (cc(0) - qx) + (cc(1) - qy) * (cc(1) - qy)
              if (dq <= cc(2)) incomplete = true
            }
          }
          i += 3
        }
        // The disk-escalation above walks the cavity lemma through REAL
        // local triangles only; a hidden global triangle whose chain
        // routes through a super-vertex (hull) facet escapes it — its
        // clamped circumcenter then lies (to the half-plane limit of the
        // ~1e9-extent super vertices) ON or BEYOND the local hull. So a
        // tile may certify complete only when its whole core is inside
        // the hull of the points it examined: 4 strictly-inside corners
        // of a convex rectangle imply the rectangle is. This also covers
        // <3-point and all-collinear tiles (degenerate hull).
        if (!fullCover && !incomplete) {
          val hull = DelaunayCore.convexHull(px, py)
          if (hull.length < 3) incomplete = true
          else {
            val cxs = Array(c0x, c1x, c1x, c0x)
            val cys = Array(c0y, c0y, c1y, c1y)
            var q = 0
            while (q < 4 && !incomplete) {
              var e2 = 0
              while (e2 < hull.length && !incomplete) {
                val a = hull(e2); val b = hull((e2 + 1) % hull.length)
                // cross <= 0: a core corner exactly ON a hull edge is NOT
                // strictly inside — bbox-clamped circumcenters of hidden
                // super-vertex-routed triangles land exactly on edge-tile
                // boundaries (ti==0 has c0x == mnx), so boundary contact
                // must escalate, never certify
                if ((px(b) - px(a)) * (cys(q) - py(a)) -
                    (py(b) - py(a)) * (cxs(q) - px(a)) <= 0) incomplete = true
                e2 += 1
              }
              q += 1
            }
          }
        }
        if (incomplete) Iterator((ti.toLong, tj.toLong, -1L)) // marker row
        else Iterator((ti.toLong, tj.toLong, -2L)) ++ // presence row
          out.iterator.map { t =>
            // rotate smallest ORDER KEY first (CCW preserved)
            val (ka, kb, kc) = t
            if (ka <= kb && ka <= kc) (ka, kb, kc)
            else if (kb <= ka && kb <= kc) (kb, kc, ka)
            else (kc, ka, kb)
          }
      }.toDF("a", "b", "c")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val status = res.filter(col("c") === -1L || col("c") === -2L)
        .select(col("a").cast("int"), col("b").cast("int"), col("c"))
        .collect()
      val markers = status.filter(_.getLong(2) == -1L)
        .map(r => (r.getInt(0), r.getInt(1))).toSet
      val present = status.map(r => (r.getInt(0), r.getInt(1))).toSet
      // an active tile with NO point in its examined region produces no
      // cogroup group at all — it must stay active and keep escalating
      // (it can still own triangles spanning its void; at fullCover it
      // receives every point and resolves), not silently drop out
      val missing = active -- present
      // keep `done` small-lineage across rounds
      done = graft.core.Mat(done.unionByName(
        res.filter(col("c") =!= -1L && col("c") =!= -2L)))
      res.unpersist(false)
      active = markers ++ missing
      halo = halo * 4
      round += 1
    }
    pts.unpersist(false)
    require(active.isEmpty, s"delaunay: tiles failed to certify: $active")
    done.orderBy("a", "b", "c")
  }
}
