package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** filters.icp analog (filters/IterativeClosestPoint.cpp:53): rigid
  * point-to-point ICP registration of a `moving` cloud onto a `fixed`
  * cloud.
  *
  * Loop shape mirrors the reference (:127-262): both clouds center on
  * the FIXED centroid; per iteration the centered moving cloud is
  * transformed by the cumulative matrix, each moving point finds its
  * nearest fixed point in 3D (correspondences beyond `maxDistance`
  * dropped), a rigid transform is estimated from the correspondence
  * set, and the cumulative transform is right-multiplied. Convergence:
  * |MSE - prevMSE| < mseAbs, or rotation cosine >= rt and squared
  * translation <= tt, with the `maxSimilar` streak counter.
  *
  * The per-iteration rotation comes from Horn's quaternion method (the
  * largest eigenvector of the 4x4 cross-covariance form, via a
  * driver-side Jacobi sweep) instead of the reference's Umeyama SVD —
  * both maximize the same correspondence objective and coincide
  * whenever the optimal transform is a proper rotation (Umeyama's
  * reflection correction only bites for degenerate, near-planar
  * correspondence sets).
  *
  * Scale shape: one grid-kNN join (k=1, slim columns) + ONE
  * map-side-combined aggregate per iteration, straight over the kNN
  * rows: each carries its moving point's coordinates and its hit the
  * matched fixed point's. The only driver-side state is the 4x4
  * matrix. The fixed cloud is persisted once across all iterations.
  */
object Icp {
  case class Result(df: DataFrame, transform: Array[Double],
      converged: Boolean, mse: Double, iterations: Int)

  /** Largest-eigenvalue eigenvector of a symmetric 4x4 via cyclic
    * Jacobi rotations (driver-side, ~1e-14 accuracy in <20 sweeps). */
  private[graft] def maxEigvec4(mIn: Array[Double]): Array[Double] = {
    val m = mIn.clone() // row-major 4x4
    val v = Array.tabulate(16)(i => if (i % 5 == 0) 1.0 else 0.0)
    @inline def at(a: Array[Double], r: Int, c: Int) = a(r * 4 + c)
    @inline def set(a: Array[Double], r: Int, c: Int, x: Double): Unit =
      a(r * 4 + c) = x
    var sweep = 0
    while (sweep < 50) {
      var off = 0.0
      for (p <- 0 until 4; q <- p + 1 until 4) off += math.abs(at(m, p, q))
      if (off < 1e-15) sweep = 50
      else {
        for (p <- 0 until 4; q <- p + 1 until 4) {
          val apq = at(m, p, q)
          if (math.abs(apq) > 1e-18) {
            val theta = (at(m, q, q) - at(m, p, p)) / (2 * apq)
            // smaller-magnitude root of t^2 + 2*theta*t - 1 = 0
            val t = if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
                    else -1.0 / (-theta + math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(t * t + 1); val s = t * c
            for (k <- 0 until 4) {
              val mkp = at(m, k, p); val mkq = at(m, k, q)
              set(m, k, p, c * mkp - s * mkq); set(m, k, q, s * mkp + c * mkq)
            }
            for (k <- 0 until 4) {
              val mpk = at(m, p, k); val mqk = at(m, q, k)
              set(m, p, k, c * mpk - s * mqk); set(m, q, k, s * mpk + c * mqk)
            }
            for (k <- 0 until 4) {
              val vkp = at(v, k, p); val vkq = at(v, k, q)
              set(v, k, p, c * vkp - s * vkq); set(v, k, q, s * vkp + c * vkq)
            }
          }
        }
        sweep += 1
      }
    }
    val best = (0 until 4).maxBy(i => at(m, i, i))
    Array.tabulate(4)(k => at(v, k, best))
  }

  /** Rigid transform (row-major 4x4) mapping points b -> a from the
    * correspondence moment sums: means + cross-covariance H = sum(b a^T)
    * - n mu_b mu_a^T, rotation from Horn's quaternion form of H. */
  private[graft] def rigidFromMoments(n: Double,
      sb: Array[Double], sa: Array[Double], sba: Array[Double])
      : Array[Double] = {
    val mb = sb.map(_ / n); val ma = sa.map(_ / n)
    // H(i)(j) = sum(b_i * a_j)/n - mb_i * ma_j
    val h = Array.tabulate(3, 3)((i, j) => sba(i * 3 + j) / n - mb(i) * ma(j))
    val (sxx, sxy, sxz) = (h(0)(0), h(0)(1), h(0)(2))
    val (syx, syy, syz) = (h(1)(0), h(1)(1), h(1)(2))
    val (szx, szy, szz) = (h(2)(0), h(2)(1), h(2)(2))
    val nMat = Array( // Horn 1987 eq. system, symmetric 4x4
      sxx + syy + szz, syz - szy,       szx - sxz,       sxy - syx,
      syz - szy,       sxx - syy - szz, sxy + syx,       szx + sxz,
      szx - sxz,       sxy + syx,       -sxx + syy - szz, syz + szy,
      sxy - syx,       szx + sxz,       syz + szy,       -sxx - syy + szz)
    val q = maxEigvec4(nMat)
    val (w, x, y, z) = (q(0), q(1), q(2), q(3))
    val r = Array(
      w * w + x * x - y * y - z * z, 2 * (x * y - w * z), 2 * (x * z + w * y),
      2 * (x * y + w * z), w * w - x * x + y * y - z * z, 2 * (y * z - w * x),
      2 * (x * z - w * y), 2 * (y * z + w * x), w * w - x * x - y * y + z * z)
    val t = Array.tabulate(3)(i =>
      ma(i) - (r(i * 3) * mb(0) + r(i * 3 + 1) * mb(1) + r(i * 3 + 2) * mb(2)))
    Array(
      r(0), r(1), r(2), t(0),
      r(3), r(4), r(5), t(1),
      r(6), r(7), r(8), t(2),
      0, 0, 0, 1)
  }

  private def mul4(a: Array[Double], b: Array[Double]): Array[Double] =
    Array.tabulate(16) { i =>
      val r = i / 4; val c = i % 4
      (0 until 4).map(k => a(r * 4 + k) * b(k * 4 + c)).sum
    }

  private def applyT(df: DataFrame, t: Array[Double]): DataFrame =
    df.select(col("order_key"),
      (lit(t(0)) * col("x") + lit(t(1)) * col("y") + lit(t(2)) * col("z") + lit(t(3))).as("x"),
      (lit(t(4)) * col("x") + lit(t(5)) * col("y") + lit(t(6)) * col("z") + lit(t(7))).as("y"),
      (lit(t(8)) * col("x") + lit(t(9)) * col("y") + lit(t(10)) * col("z") + lit(t(11))).as("z"))

  def apply(fixed: DataFrame, moving: DataFrame, maxIter: Int = 100,
      rotationThreshold: Double = 0.99999,
      translationThreshold: Double = 3e-4 * 3e-4, mseAbs: Double = 1e-12,
      maxSimilar: Int = 0, maxDistance: Double = 0.0,
      cellSize: Double = 0.0): Result = {
    val ctr = fixed.agg(avg("x"), avg("y"), avg("z")).head()
    val (cx, cy, cz) = (ctr.getDouble(0), ctr.getDouble(1), ctr.getDouble(2))
    def demean(df: DataFrame) = df.select(col("order_key"),
      (col("x") - cx).as("x"), (col("y") - cy).as("y"), (col("z") - cz).as("z"))
    val fixedC = demean(fixed.select("order_key", "x", "y", "z"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val movingC = demean(moving.select("order_key", "x", "y", "z"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    movingC.count() // materialize both once

    var tFinal = Array.tabulate(16)(i => if (i % 5 == 0) 1.0 else 0.0)
    var converged = false
    var prevMse = 0.0
    var numSimilar = 0
    var mse = 0.0
    var iter = 0
    val sqrMax = if (maxDistance > 0) maxDistance * maxDistance
                 else Double.MaxValue
    while (iter < maxIter && !converged) {
      val movingT = applyT(movingC, tFinal)
      // each correspondence is one kNN row: the moving point (x, y, z)
      // and its matched fixed point (fx, fy, fz); ONE aggregate for n,
      // means, cross sums and MSE
      val pairs = KnnJoin.knn(movingT, fixedC, 1, valueCol = "order_key",
          cellSize = cellSize).rows
        .select(col("qx").as("x"), col("qy").as("y"), col("qz").as("z"),
          element_at(col("knn"), 1).as("h"))
        .filter(col("h").isNotNull && col("h.d2") < sqrMax)
        .select(col("x"), col("y"), col("z"), col("h.x").as("fx"),
          col("h.y").as("fy"), col("h.z").as("fz"), col("h.d2").as("d2"))
      val a = pairs.agg(
        count(lit(1)).cast("double"),
        sum("x"), sum("y"), sum("z"),
        sum("fx"), sum("fy"), sum("fz"),
        sum(col("x") * col("fx")), sum(col("x") * col("fy")), sum(col("x") * col("fz")),
        sum(col("y") * col("fx")), sum(col("y") * col("fy")), sum(col("y") * col("fz")),
        sum(col("z") * col("fx")), sum(col("z") * col("fy")), sum(col("z") * col("fz")),
        sum(sqrt(col("d2")))).head()
      val n = a.getDouble(0)
      if (n == 0) { converged = false; iter = maxIter }
      else {
        mse = a.getDouble(16) / n
        val t = rigidFromMoments(n,
          Array(a.getDouble(1), a.getDouble(2), a.getDouble(3)),
          Array(a.getDouble(4), a.getDouble(5), a.getDouble(6)),
          Array.tabulate(9)(i => a.getDouble(7 + i)))
        // t maps the CURRENT transformed cloud onto fixed, so the update
        // pre-multiplies (reference: final_transformation =
        // transformation * final_transformation) — post-multiplying
        // would apply each correction in the original frame, rotating
        // later translation corrections off-axis
        tFinal = mul4(t, tFinal)
        val cosAngle = 0.5 * (t(0) + t(5) + t(10) - 1)
        val transSqr = t(3) * t(3) + t(7) * t(7) + t(11) * t(11)
        var isSimilar = false
        if (math.abs(mse - prevMse) < mseAbs) {
          if (numSimilar >= maxSimilar) converged = true else isSimilar = true
        }
        if (!converged && cosAngle >= rotationThreshold &&
            transSqr <= translationThreshold) {
          if (numSimilar >= maxSimilar) converged = true else isSimilar = true
        }
        numSimilar = if (isSimilar) numSimilar + 1 else 0
        prevMse = mse
        iter += 1
      }
    }
    // apply to the ORIGINAL moving cloud: x' = R(x - c) + t + c
    val out = moving.withColumn("__tx",
        lit(tFinal(0)) * (col("x") - cx) + lit(tFinal(1)) * (col("y") - cy) +
          lit(tFinal(2)) * (col("z") - cz) + lit(tFinal(3) + cx))
      .withColumn("__ty",
        lit(tFinal(4)) * (col("x") - cx) + lit(tFinal(5)) * (col("y") - cy) +
          lit(tFinal(6)) * (col("z") - cz) + lit(tFinal(7) + cy))
      .withColumn("__tz",
        lit(tFinal(8)) * (col("x") - cx) + lit(tFinal(9)) * (col("y") - cy) +
          lit(tFinal(10)) * (col("z") - cz) + lit(tFinal(11) + cz))
      .withColumn("x", col("__tx")).withColumn("y", col("__ty"))
      .withColumn("z", col("__tz")).drop("__tx", "__ty", "__tz")
    fixedC.unpersist(false); movingC.unpersist(false)
    Result(out, tFinal, converged, mse, iter)
  }
}
