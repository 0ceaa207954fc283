package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Smallest enclosing ball of a small 3D point set — Welzl's algorithm
  * with the standard 1/2/3/4-point ball constructions. Deterministic
  * (processes points in the given order; no randomized shuffle needed at
  * neighborhood sizes k <= a few dozen). */
object Seb3 {
  /** @return (cx, cy, cz, radius) */
  def ball(pts: Array[Array[Double]]): (Double, Double, Double, Double) = {
    def dist2(a: Array[Double], cx: Double, cy: Double, cz: Double): Double = {
      val dx = a(0) - cx; val dy = a(1) - cy; val dz = a(2) - cz
      dx * dx + dy * dy + dz * dz
    }
    def ballFrom(r: List[Array[Double]]): (Double, Double, Double, Double) = r match {
      case Nil => (0.0, 0.0, 0.0, -1.0)
      case a :: Nil => (a(0), a(1), a(2), 0.0)
      case a :: b :: Nil =>
        val cx = (a(0) + b(0)) / 2; val cy = (a(1) + b(1)) / 2; val cz = (a(2) + b(2)) / 2
        (cx, cy, cz, math.sqrt(dist2(a, cx, cy, cz)))
      case a :: b :: c :: Nil => circumsphere3(a, b, c)
      case a :: b :: c :: d :: Nil => circumsphere4(a, b, c, d)
      case _ => throw new IllegalStateException("support > 4")
    }
    // Welzl recursion, move-to-front flavor on an index list
    def welzl(ps: List[Array[Double]], r: List[Array[Double]]): (Double, Double, Double, Double) = {
      if (ps.isEmpty || r.size == 4) return ballFrom(r)
      val p = ps.head
      val b = welzl(ps.tail, r)
      if (b._4 >= 0 && dist2(p, b._1, b._2, b._3) <= b._4 * b._4 * (1 + 1e-12))
        b
      else welzl(ps.tail, p :: r)
    }
    if (pts.isEmpty) (0.0, 0.0, 0.0, 0.0)
    else {
      val b = welzl(pts.toList, Nil)
      if (b._4 < 0) (0.0, 0.0, 0.0, 0.0) else b
    }
  }

  /** Minimal ball with 3 boundary points: circumcircle of the triangle in
    * its plane (degenerate triangles fall back to the widest 2-point ball). */
  private def circumsphere3(a: Array[Double], b: Array[Double],
      c: Array[Double]): (Double, Double, Double, Double) = {
    val abx = b(0) - a(0); val aby = b(1) - a(1); val abz = b(2) - a(2)
    val acx = c(0) - a(0); val acy = c(1) - a(1); val acz = c(2) - a(2)
    val ab2 = abx * abx + aby * aby + abz * abz
    val ac2 = acx * acx + acy * acy + acz * acz
    // n = ab x ac
    val nx = aby * acz - abz * acy
    val ny = abz * acx - abx * acz
    val nz = abx * acy - aby * acx
    val n2 = nx * nx + ny * ny + nz * nz
    if (n2 < 1e-30) { // collinear: widest pair
      val pairs = Seq((a, b), (a, c), (b, c))
      val (p, q) = pairs.maxBy { case (p, q) =>
        val dx = p(0) - q(0); val dy = p(1) - q(1); val dz = p(2) - q(2)
        dx * dx + dy * dy + dz * dz
      }
      val cx = (p(0) + q(0)) / 2; val cy = (p(1) + q(1)) / 2; val cz = (p(2) + q(2)) / 2
      val dx = p(0) - cx; val dy = p(1) - cy; val dz = p(2) - cz
      return (cx, cy, cz, math.sqrt(dx * dx + dy * dy + dz * dz))
    }
    // center = a + (ab2 * (ac x n) + ac2 * (n x ab)) / (2 n.n)
    val v1x = acy * nz - acz * ny; val v1y = acz * nx - acx * nz; val v1z = acx * ny - acy * nx
    val v2x = ny * abz - nz * aby; val v2y = nz * abx - nx * abz; val v2z = nx * aby - ny * abx
    val ox = (ab2 * v1x + ac2 * v2x) / (2 * n2)
    val oy = (ab2 * v1y + ac2 * v2y) / (2 * n2)
    val oz = (ab2 * v1z + ac2 * v2z) / (2 * n2)
    (a(0) + ox, a(1) + oy, a(2) + oz, math.sqrt(ox * ox + oy * oy + oz * oz))
  }

  private def circumsphere4(a: Array[Double], b: Array[Double],
      c: Array[Double], d: Array[Double]): (Double, Double, Double, Double) = {
    // solve 2 * M [o - a] = rhs with rows (b-a, c-a, d-a)
    val m = Array(
      Array(b(0) - a(0), b(1) - a(1), b(2) - a(2)),
      Array(c(0) - a(0), c(1) - a(1), c(2) - a(2)),
      Array(d(0) - a(0), d(1) - a(1), d(2) - a(2)))
    val rhs = Array(
      (m(0)(0) * m(0)(0) + m(0)(1) * m(0)(1) + m(0)(2) * m(0)(2)) / 2,
      (m(1)(0) * m(1)(0) + m(1)(1) * m(1)(1) + m(1)(2) * m(1)(2)) / 2,
      (m(2)(0) * m(2)(0) + m(2)(1) * m(2)(1) + m(2)(2) * m(2)(2)) / 2)
    val det =
      m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
    if (math.abs(det) < 1e-30) return circumsphere3(a, b, c) // coplanar
    def solve(col: Int): Double = {
      val mm = m.map(_.clone())
      mm(0)(col) = rhs(0); mm(1)(col) = rhs(1); mm(2)(col) = rhs(2)
      (mm(0)(0) * (mm(1)(1) * mm(2)(2) - mm(1)(2) * mm(2)(1)) -
       mm(0)(1) * (mm(1)(0) * mm(2)(2) - mm(1)(2) * mm(2)(0)) +
       mm(0)(2) * (mm(1)(0) * mm(2)(1) - mm(1)(1) * mm(2)(0))) / det
    }
    val ox = solve(0); val oy = solve(1); val oz = solve(2)
    (a(0) + ox, a(1) + oy, a(2) + oz, math.sqrt(ox * ox + oy * oy + oz * oz))
  }
}

/** filters.miniball analog (filters/MiniballFilter.cpp:101-147, Kutz et
  * al. 2003): criterion d / (d + 2r/sqrt(3)) where d is the query's
  * distance to the center of its neighbors' (self excluded) smallest
  * enclosing ball of radius r.
  *
  * Spark shape: kNN join -> Welzl per kNN row in a typed map over the
  * row's hits (<= k structs carrying their coordinates, in (d2, cid)
  * order); a point with no neighbors gets no criterion. */
object MiniballFilter {
  def apply(df: DataFrame, knn: Int = 8, cellSize: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    val nn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, knn + 1,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    import spark.implicits._
    val out = nn.rows.select(col("order_key"), col("qx"), col("qy"), col("qz"),
        KnnJoin.selfExcluded.as("nbrs"))
      .filter(size(col("nbrs")) > 0)
      .as[(Long, Double, Double, Double, Seq[Hit])]
      .map { case (k, x, y, z, nbrs) =>
        val (cx, cy, cz, r) = Seb3.ball(nbrs.map(h => Array(h.x, h.y, h.z)).toArray)
        val d = math.sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz))
        val denom = d + 2 * r / math.sqrt(3.0)
        (k, if (denom <= 0) 0.0 else d / denom)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("order_key", "miniball")
    KnnJoin.attach(df, out, nn.queryRows)
  }
}
