package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Closed-form 3x3 symmetric eigen-decomposition (Smith's analytic
  * method) — static so codegen can call it. Input: the six distinct
  * covariance entries; output: eigenvalues desc + the eigenvector of the
  * SMALLEST eigenvalue (the surface normal). */
object Eigen3 {
  /** @return Array(l1, l2, l3, nx, ny, nz) with l1 >= l2 >= l3. */
  def decompose(xx: Double, xy: Double, xz: Double,
      yy: Double, yz: Double, zz: Double): Array[Double] = {
    val p1 = xy * xy + xz * xz + yz * yz
    var l1 = 0.0; var l2 = 0.0; var l3 = 0.0
    if (p1 < 1e-30) { // already diagonal
      val s = Array(xx, yy, zz).sorted
      l1 = s(2); l2 = s(1); l3 = s(0)
    } else {
      val q = (xx + yy + zz) / 3.0
      val p2 = (xx - q) * (xx - q) + (yy - q) * (yy - q) + (zz - q) * (zz - q) + 2 * p1
      val p = math.sqrt(p2 / 6.0)
      // B = (A - qI) / p; r = det(B) / 2 clamped to [-1, 1]
      val b11 = (xx - q) / p; val b22 = (yy - q) / p; val b33 = (zz - q) / p
      val b12 = xy / p; val b13 = xz / p; val b23 = yz / p
      val detB = b11 * (b22 * b33 - b23 * b23) - b12 * (b12 * b33 - b23 * b13) +
        b13 * (b12 * b23 - b22 * b13)
      val r = math.max(-1.0, math.min(1.0, detB / 2.0))
      val phi = math.acos(r) / 3.0
      l1 = q + 2 * p * math.cos(phi)
      l3 = q + 2 * p * math.cos(phi + 2.0 * math.Pi / 3.0)
      l2 = 3 * q - l1 - l3
    }
    // normal = eigenvector of l3: cross product of two rows of (A - l3 I)
    val r1 = Array(xx - l3, xy, xz)
    val r2 = Array(xy, yy - l3, yz)
    val r3 = Array(xz, yz, zz - l3)
    def cross(a: Array[Double], b: Array[Double]) = Array(
      a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2), a(0) * b(1) - a(1) * b(0))
    val cands = Array(cross(r1, r2), cross(r1, r3), cross(r2, r3))
    def n2(v: Array[Double]) = v(0) * v(0) + v(1) * v(1) + v(2) * v(2)
    var best = cands(0)
    if (n2(cands(1)) > n2(best)) best = cands(1)
    if (n2(cands(2)) > n2(best)) best = cands(2)
    var nx = 0.0; var ny = 0.0; var nz = 1.0
    if (n2(best) > 1e-280) {
      val nn = math.sqrt(n2(best))
      nx = best(0) / nn; ny = best(1) / nn; nz = best(2) / nn
    } else {
      // degenerate: l3's eigenspace is a plane (collinear neighborhood,
      // l2 == l3) so every row cross product of (A - l3 I) vanishes. The
      // reference's SelfAdjointEigenSolver still returns a unit vector;
      // match that contract: take the dominant direction (eigenvector of
      // l1 from (A - l1 I)) and cross it with the least-aligned axis.
      // Fully isotropic A (all eigenvalues equal) keeps the (0,0,1)
      // default — any unit vector is a valid eigenvector there.
      val s1 = Array(xx - l1, xy, xz)
      val s2 = Array(xy, yy - l1, yz)
      val s3 = Array(xz, yz, zz - l1)
      val dc = Array(cross(s1, s2), cross(s1, s3), cross(s2, s3))
      var d = dc(0)
      if (n2(dc(1)) > n2(d)) d = dc(1)
      if (n2(dc(2)) > n2(d)) d = dc(2)
      if (n2(d) > 1e-280) {
        val dn = math.sqrt(n2(d))
        val dx = d(0) / dn; val dy = d(1) / dn; val dz = d(2) / dn
        val (ex, ey, ez) =
          if (math.abs(dx) <= math.abs(dy) && math.abs(dx) <= math.abs(dz))
            (1.0, 0.0, 0.0)
          else if (math.abs(dy) <= math.abs(dz)) (0.0, 1.0, 0.0)
          else (0.0, 0.0, 1.0)
        val cx = dy * ez - dz * ey; val cy = dz * ex - dx * ez
        val cz = dx * ey - dy * ex
        val cn = math.sqrt(cx * cx + cy * cy + cz * cz)
        nx = cx / cn; ny = cy / cn; nz = cz / cn
      }
    }
    if (nz < 0) { nx = -nx; ny = -ny; nz = -nz } // PDAL orients normals up
    Array(l1, l2, l3, nx, ny, nz)
  }
}

/** Expression wrapper: 6 covariance entries -> struct(l1,l2,l3,nx,ny,nz).
  * CodegenFallback is fine here: it runs once per POINT on the already-
  * aggregated moment row, not in the per-neighbor hot loop. */
case class Eigen3Expr(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StructType(Seq("l1", "l2", "l3", "nx", "ny", "nz")
    .map(StructField(_, DoubleType)))
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val a = vs.map(_.asInstanceOf[Double]).toArray
      val r = Eigen3.decompose(a(0), a(1), a(2), a(3), a(4), a(5))
      org.apache.spark.sql.catalyst.InternalRow(r(0), r(1), r(2), r(3), r(4), r(5))
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Query-centred moments of a kNN row's neighbourhood, as array
  * expressions over its hits: n, the means mx, my, mz of (hit - query)
  * and the raw second moments sxx..szz, each summed in the hits'
  * (d2, cid) order. Centring on the query keeps the sums
  * O(neighbourhood extent): with UTM-scale raw coordinates (~6e5) the
  * uncentred E[xy]-E[x]E[y] cancels ~11 significant digits, and the
  * covariance is shift-invariant. `hits` must be non-empty. */
private[operators] object NbrMoments {
  def apply(hits: Column): Seq[Column] = {
    val n = size(hits)
    def mean(f: Column => Column): Column =
      aggregate(hits, lit(0.0), (a, h) => a + f(h)) / n.cast("double")
    def dx(h: Column) = h.getField("x") - col("qx")
    def dy(h: Column) = h.getField("y") - col("qy")
    def dz(h: Column) = h.getField("z") - col("qz")
    Seq(n.as("n"), mean(dx).as("mx"), mean(dy).as("my"), mean(dz).as("mz"),
      mean(h => dx(h) * dx(h)).as("sxx"), mean(h => dx(h) * dy(h)).as("sxy"),
      mean(h => dx(h) * dz(h)).as("sxz"), mean(h => dy(h) * dy(h)).as("syy"),
      mean(h => dy(h) * dz(h)).as("syz"), mean(h => dz(h) * dz(h)).as("szz"))
  }

  /** The six central covariance entries from the moment columns. */
  def covariance: Seq[Column] = Seq(
    col("sxx") - col("mx") * col("mx"), col("sxy") - col("mx") * col("my"),
    col("sxz") - col("mx") * col("mz"), col("syy") - col("my") * col("my"),
    col("syz") - col("my") * col("mz"), col("szz") - col("mz") * col("mz"))

  /** struct(l1, l2, l3, nx, ny, nz) of a covariance's six entries. */
  def eigen(cov: Seq[Column] = covariance): Column =
    GraftBridge.column(Eigen3Expr(cov.map(GraftBridge.expression)))
}

/** Shared normals-acquisition step for the surface-reconstruction stages
  * (Poisson, GreedyProjection): use provided Normal[XYZ] analogs when
  * present, else estimate them (the reference runs NormalFilter
  * implicitly in both filters); normalize to unit length and drop
  * degenerate zero normals. Output: order_key, x, y, z, nx, ny, nz. */
private[operators] object Normals {
  def ensureUnit(df: DataFrame, k: Int = 8): DataFrame = {
    val hasNormals = df.columns.contains("normal_x") &&
      df.columns.contains("normal_y") && df.columns.contains("normal_z")
    val withN =
      if (hasNormals) df.select(col("order_key"), col("x"), col("y"), col("z"),
        col("normal_x"), col("normal_y"), col("normal_z"))
      else df.select("order_key", "x", "y", "z")
        .join(EigenFeatures(df, k = k).select(col("order_key"),
          col("normal_x"), col("normal_y"), col("normal_z")), Seq("order_key"))
    val nlen = sqrt(col("normal_x") * col("normal_x") +
      col("normal_y") * col("normal_y") + col("normal_z") * col("normal_z"))
    withN.filter(nlen > 1e-12)
      .select(col("order_key"), col("x"), col("y"), col("z"),
        (col("normal_x") / nlen).as("nx"), (col("normal_y") / nlen).as("ny"),
        (col("normal_z") / nlen).as("nz"))
  }
}

/** Per-point neighborhood covariance/eigen features — the
  * filters.normal / filters.eigenvalues / filters.covariancefeatures /
  * filters.approximatecoplanar / filters.estimaterank family
  * (filters/NormalFilter.cpp:62, CovarianceFeaturesFilter.cpp:58,
  * EigenvaluesFilter.cpp:53, ApproximateCoplanarFilter.cpp:53).
  *
  * One kNN join (self included in the neighbourhood), the moment sums
  * as array expressions over each kNN row (its hits carry their
  * coordinates, the row its query's), then the closed-form eigensolver
  * as an expression — no re-join, no groupBy, no per-row JVM matrix
  * library.
  */
object EigenFeatures {
  def apply(df: DataFrame, k: Int = 8, cellSize: Double = 0.0): DataFrame = {
    val knn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, k + 1,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    val mom = knn.rows.filter(size(col("knn")) > 0)
      .select(col("order_key") +: NbrMoments(col("knn")): _*)
    val withEig = mom.withColumn("__e", NbrMoments.eigen())
    val l1 = col("__e.l1"); val l2 = col("__e.l2"); val l3 = col("__e.l3")
    val sum3 = greatest(l1 + l2 + l3, lit(1e-300))
    // reference parity for the raw eigenvalue outputs: computeCovariance
    // divides by n-1 (pdal/private/MathUtils.cpp:191 — the avg-based
    // moments here are the /n population form, corrected by n/(n-1)) and
    // Eigenvalue0 is the SMALLEST (SelfAdjointEigenSolver ascending,
    // EigenvaluesFilter.cpp:142). The scale-invariant ratio features
    // keep the conventional descending l1 >= l2 >= l3 internally.
    val corr = col("n").cast("double") /
      greatest(col("n").cast("double") - 1.0, lit(1.0))
    val features = withEig.select(col("order_key"),
      (l3 * corr).as("eigenvalue0"), (l2 * corr).as("eigenvalue1"),
      (l1 * corr).as("eigenvalue2"),
      col("__e.nx").as("normal_x"), col("__e.ny").as("normal_y"),
      col("__e.nz").as("normal_z"),
      ((l1 - l2) / greatest(l1, lit(1e-300))).as("linearity"),
      ((l2 - l3) / greatest(l1, lit(1e-300))).as("planarity"),
      (l3 / greatest(l1, lit(1e-300))).as("sphericity"),
      ((l1 - l3) / greatest(l1, lit(1e-300))).as("anisotropy"),
      pow(greatest(l1 * l2 * l3, lit(0.0)), 1.0 / 3.0).as("omnivariance"),
      (l3 / sum3).as("surface_variation"), // curvature
      // approximatecoplanar flag (thresholds per ApproximateCoplanarFilter)
      (l2 > lit(25.0) * l3 && lit(6.0) * l2 > l1).cast("int").as("coplanar"),
      // estimaterank: eigenvalues above a tolerance of the largest
      (when(l1 > 1e-9, 1).otherwise(0) +
        when(l2 > l1 * 1e-3, 1).otherwise(0) +
        when(l3 > l1 * 1e-3, 1).otherwise(0)).as("rank"))
    KnnJoin.attach(df, features, knn.queryRows)
  }
}

/** filters.optimalneighborhood analog
  * (filters/OptimalNeighborhoodFilter.cpp:72-165): per point, scan
  * neighborhood sizes k in [kMin, kMax], compute the eigenentropy
  * -sum(lambda_i ln lambda_i) of the sample covariance of the k nearest
  * (self included), and keep the k (and its radius) minimizing it.
  *
  * Spark shape: one kNN join at kMax, explode each kNN row's hits (with
  * their coordinates) and rank, per-point prefix moments via a window
  * over the (<= kMax)-row neighborhood — partitions are tiny by
  * construction, so the window is skew-free — then the closed-form eigensolver per (point, k) row and a
  * min_by. Ties pick the smallest k (reference: strict '<' keeps the
  * first minimum). */
object OptimalNeighborhood {
  def apply(df: DataFrame, kMin: Int = 10, kMax: Int = 14,
      cellSize: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val knn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, kMax,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    val nbr = knn.rows.select(col("order_key"), col("qx"), col("qy"), col("qz"),
        posexplode(col("knn")).as(Seq("pos", "h")))
      .select(col("order_key"), (col("pos") + 1).as("k"), col("h.d2").as("d2"),
        (col("h.x") - col("qx")).as("nx"), (col("h.y") - col("qy")).as("ny"),
        (col("h.z") - col("qz")).as("nz"))
    val w = Window.partitionBy("order_key").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, 0)
    def pm(c: Column) = avg(c).over(w) // prefix mean over first k neighbors
    val prefixed = nbr
      .withColumn("mx", pm(col("nx"))).withColumn("my", pm(col("ny")))
      .withColumn("mz", pm(col("nz")))
      .withColumn("sxx", pm(col("nx") * col("nx")))
      .withColumn("sxy", pm(col("nx") * col("ny")))
      .withColumn("sxz", pm(col("nx") * col("nz")))
      .withColumn("syy", pm(col("ny") * col("ny")))
      .withColumn("syz", pm(col("ny") * col("nz")))
      .withColumn("szz", pm(col("nz") * col("nz")))
      .filter(col("k").between(kMin, kMax) && col("k") > 1)
    // sample covariance: population moments * n/(n-1)
    val n = col("k").cast("double")
    val f = n / (n - 1)
    val withE = prefixed.withColumn("__e",
      NbrMoments.eigen(NbrMoments.covariance.map(_ * f)))
    val l1 = greatest(col("__e.l1"), lit(0.0))
    val l2 = greatest(col("__e.l2"), lit(0.0))
    val l3 = greatest(col("__e.l3"), lit(0.0))
    val sum3 = l1 + l2 + l3
    def term(l: Column) = {
      val lam = l / sum3
      when(lam > 0, -lam * log(lam)).otherwise(lit(0.0))
    }
    val scored = withE.withColumn("__ent", term(l1) + term(l2) + term(l3))
    val best = scored.groupBy("order_key").agg(
      min_by(struct(col("k"), sqrt(col("d2")).as("r")),
        struct(col("__ent"), col("k"))).as("b"))
      .select(col("order_key"), col("b.k").as("optimal_knn"),
        col("b.r").as("optimal_radius"))
    KnnJoin.attach(df, best, knn.queryRows)
  }
}

/** filters.planefit analog (filters/PlaneFitFilter.cpp:115-152, Kutz et
  * al. 2003): fit a plane to the k neighbors (self EXCLUDED), criterion
  * = d / (d + d_bar) where d is the query's absolute plane distance and
  * d_bar the neighbors' mean. Both are array expressions over each kNN
  * row: moments -> normal+centroid, then the neighbors' plane distances;
  * a point with no neighbors gets no criterion. */
object PlaneFit {
  def apply(df: DataFrame, knn: Int = 8, cellSize: Double = 0.0): DataFrame = {
    val nn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, knn + 1,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    // centred on the query point for numerical stability (shift-
    // invariant; plane distances computed in the same frame)
    val mom = nn.rows.select(col("order_key"), col("qx"), col("qy"), col("qz"),
        slice(col("knn"), lit(2), greatest(size(col("knn")) - 1, lit(0))).as("nbrs"))
      .filter(size(col("nbrs")) > 0)
      .select(Seq("order_key", "qx", "qy", "qz", "nbrs").map(col) ++
        NbrMoments(col("nbrs")): _*)
    val plane = mom.withColumn("__e", NbrMoments.eigen())
    val (px, py, pz) = (col("__e.nx"), col("__e.ny"), col("__e.nz"))
    // query sits at the frame origin: d = |n . (0 - centroid)|
    val dQuery = abs(px * col("mx") + py * col("my") + pz * col("mz"))
    val dbar = aggregate(col("nbrs"), lit(0.0), (a, h) => a +
      abs(px * (h.getField("x") - col("qx") - col("mx")) +
        py * (h.getField("y") - col("qy") - col("my")) +
        pz * (h.getField("z") - col("qz") - col("mz")))) / lit(knn)
    val crit = plane.select(col("order_key"),
      (dQuery / greatest(dQuery + dbar, lit(1e-300))).as("plane_fit"))
    KnnJoin.attach(df, crit, nn.queryRows)
  }
}
