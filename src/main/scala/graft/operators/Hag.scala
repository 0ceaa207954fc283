package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** filters.hag_nn analog (filters/HagNnFilter.cpp:78): height above
  * ground from the k nearest ground-classified points in 2D.
  *
  * Ground points (classification 2) get height_above_ground 0; each
  * non-ground point interpolates a ground elevation z1 from its `count`
  * nearest ground points (inverse-squared-distance weights, neighbors
  * beyond `maxDistance` excluded — the reference's sorted-order `break`
  * at :60-62 equals a d2 <= maxDistance^2 filter) and stores z - z1.
  * Special cases as HagNnFilter.cpp:175-198: a coincident-x/y nearest
  * ground point (or a single available neighbor) is used directly, and
  * a point outside the ground bbox keeps z (HAG 0) when extrapolation
  * is disabled. Nearest-neighbor ties break on (d2, order_key) — the
  * reference's nanoflann tie order is unspecified; ours is pinned, so
  * results are deterministic at any parallelism.
  *
  * Scale: one grid-kNN join (supercell-halo shuffle of slim columns),
  * z1 computed on each kNN row, and one (order_key, z1) attach back to
  * the full rows; no driver-side loops. */
object HagNn {
  def apply(df: DataFrame, count: Int = 1, maxDistance: Double = 0.0,
      allowExtrapolation: Boolean = true,
      outDim: String = "height_above_ground"): DataFrame = {
    val ground = df.filter(col("classification") === 2)
    val nonGround = df.filter(!(col("classification") === 2))
    if (ground.isEmpty) // HagNnFilter.cpp:148-153: bail, dim stays default
      return df.withColumn(outDim, lit(0.0))
    val b = ground.agg(min("x"), max("x"), min("y"), max("y")).head()
    val (mnx, mxx, mny, mxy) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))

    val cand = ground.select(col("order_key"), col("x"), col("y"),
      lit(0.0).as("z"), col("z").as("gz")) // z=0 -> 2D distances
    val q = nonGround.select(col("order_key"), col("x"), col("y"),
      lit(0.0).as("z"))
    val hits = KnnJoin.knn(q, cand, count, valueCol = "gz")

    val nearest = element_at(col("knn"), 1)
    val inBounds = col("qx") >= mnx && col("qx") <= mxx &&
      col("qy") >= mny && col("qy") <= mxy
    val filtered =
      if (maxDistance > 0)
        expr(s"filter(knn, h -> h.d2 <= ${maxDistance * maxDistance}D)")
      else col("knn")
    // left-to-right accumulation in (d2, order_key) order mirrors the
    // reference's running weights/z_accumulator loop
    val wsum = aggregate(filtered, lit(0.0), (a, h) => a + lit(1.0) / h.getField("d2"))
    val zsum = aggregate(filtered, lit(0.0),
      (a, h) => a + h.getField("v") / h.getField("d2"))
    // null = the point keeps its own z (a hit's v is never null)
    val ownZ = lit(null).cast("double")
    val z1 = when(size(col("knn")) === 0, ownZ)
      .when(nearest.getField("d2") === 0.0 || size(col("knn")) === 1,
        nearest.getField("v"))
      .otherwise(if (allowExtrapolation)
          when(wsum > 0, zsum / wsum).otherwise(ownZ)
        else when(!inBounds, ownZ)
          .when(wsum > 0, zsum / wsum).otherwise(ownZ))

    val ngOut = KnnJoin.attach(nonGround,
        hits.rows.select(col("order_key"), z1.as("__z1")), hits.queryRows)
      .withColumn(outDim, col("z") - coalesce(col("__z1"), col("z")))
      .select((nonGround.columns :+ outDim).distinct.map(col): _*)
    ngOut.unionByName(ground.withColumn(outDim, lit(0.0)))
  }
}

/** filters.hag_dem analog (filters/HagDemFilter.cpp:44): height above
  * ground from a DEM raster table — an equi-join on the pixel cell, the
  * same raster convention as Colorization. Points off the raster keep
  * the registered-dim default 0; ground-classified points get 0 when
  * `zeroGround` (the reference default). */
object HagDem {
  def apply(df: DataFrame, raster: DataFrame, grid: RasterGrid,
      band: String = "band1", zeroGround: Boolean = true,
      broadcastRaster: Boolean = true,
      outDim: String = "height_above_ground"): DataFrame = {
    val r0 = raster.select(col("cell_x"), col("cell_y"), col(band).as("__dem"))
    val r = if (broadcastRaster) broadcast(r0) else r0
    val joined = df
      .withColumn("__rcx", grid.cellX(col("x")))
      .withColumn("__rcy", grid.cellY(col("y")))
      .join(r, col("__rcx") === r("cell_x") && col("__rcy") === r("cell_y"),
        "left")
    val hag = coalesce(col("z") - col("__dem"), lit(0.0))
    joined.withColumn(outDim,
        if (zeroGround) when(col("classification") === 2, lit(0.0)).otherwise(hag)
        else hag)
      .drop("__rcx", "__rcy", "cell_x", "cell_y", "__dem")
  }
}

/** filters.zsmooth analog (filters/ZsmoothFilter.cpp:40): for every
  * point, the `medianPercent` percentile (linear interpolation between
  * closest ranks) of the z values of all OTHER points within `radius`
  * in the X/Y plane, stored in `outDim`; a point with no neighbors
  * keeps its own z.
  *
  * Distributed as one 2-D RadiusJoin of the points with themselves,
  * then one aggregation per point over its neighbor list. Shuffle
  * volume is O(n * avg neighbors) — the same work the reference's
  * kd-tree radius query does per point, here map-side parallel. The reference excludes only the query point
  * itself (ZsmoothFilter.cpp:103-105); coincident other points count,
  * which the order_key inequality reproduces exactly. */
object Zsmooth {
  def apply(df: DataFrame, radius: Double = 1.0,
      medianPercent: Double = 50.0, outDim: String = "z_smooth"): DataFrame = {
    require(medianPercent >= 0.0 && medianPercent <= 100.0,
      "'medianpercent' value must be in the range [0, 100]")
    val p = medianPercent / 100.0
    val cand = df.select(col("order_key").as("__cid"), col("x").as("__cx"),
      col("y").as("__cy"), col("z").as("__cz"))
    val nbrs = RadiusJoin(df.select("order_key", "x", "y"), Seq("x", "y"),
        cand, Seq("__cx", "__cy"), radius)
      .filter(col("__cid") =!= col("order_key"))
      .groupBy(col("order_key").as("__qid"))
      .agg(sort_array(collect_list(col("__cz"))).as("__zs"))
    val zs = col("__zs"); val cnt = size(zs)
    val interp =
      if (p == 0.0) element_at(zs, 1)
      else if (p == 1.0) element_at(zs, cnt)
      else {
        val pos = lit(p) * (cnt - 1).cast("double")
        val low = floor(pos).cast("int")
        val highfrac = pos - low.cast("double")
        element_at(zs, low + 1) * (lit(1.0) - highfrac) +
          element_at(zs, low + 2) * highfrac
      }
    val value = when(zs.isNull || cnt === 0, col("z"))
      .when(cnt === 1, element_at(zs, 1))
      .otherwise(interp)
    df.join(nbrs, col("order_key") === col("__qid"), "left")
      .withColumn(outDim, value)
      .drop("__qid", "__zs")
  }
}

/** filters.skewnessbalancing analog
  * (filters/SkewnessBalancingFilter.cpp:43, Bartels & Wei): walk points
  * in ascending-z order tracking running skewness; every prefix ending
  * just before an upcross of skewness through 0 is ground, the suffix
  * after the LAST upcross is unclassified (all points ground when the
  * walk never upcrosses and the final skewness is <= 0).
  *
  * Running skewness comes from prefix power sums S1..S3 of centered z
  * (skewness is shift-invariant; centering on (min+max)/2 keeps the
  * sums conditioned where the reference uses incremental M2/M3 —
  * semantic, not bitwise, parity) via the range-partitioned running sums
  * of `Order.runningSums` — no single-partition window. The previous
  * row's skewness is recovered by subtracting the row's own contribution
  * from the inclusive sums, so no lag() pass is needed. Ties in z keep
  * order_key order (the reference's stableSort). */
object SkewnessBalancing {
  def apply(df: DataFrame): DataFrame = {
    val e = df.agg(min("z"), max("z"), count(lit(1))).head()
    if (e.getLong(2) == 0L) return df
    val center = (e.getDouble(0) + e.getDouble(1)) / 2.0
    val w = col("z") - center
    val pre = Order.runningSums(df, Seq(col("z").asc, col("order_key").asc),
      Seq((lit(1.0), "__n"), (w, "__s1"), (w * w, "__s2"), (w * w * w, "__s3"))
        .map { case (v, name) => coalesce(v.cast("double"), lit(0.0)) -> name })

    def skewOf(n: Column, s1: Column, s2: Column, s3: Column): Column = {
      // division-free sign test: m2 > 0 iff s2*n - s1^2 > 0 (and the
      // latter forces n > 0), so no branch ever divides by zero under
      // ANSI mode; m2 <= 0 or n <= 1 -> null (the reference's NaN:
      // comparisons below stay false either way)
      val m2n = s2 * n - s1 * s1
      val m2 = s2 - s1 * s1 / n
      val m3 = s3 - lit(3.0) * s1 * s2 / n +
        lit(2.0) * s1 * s1 * s1 / (n * n)
      when(m2n > 0, sqrt(n) * m3 / pow(m2, 1.5))
    }
    val skew = skewOf(col("__n"), col("__s1"), col("__s2"), col("__s3"))
    val prevSkew = skewOf(col("__n") - 1, col("__s1") - w,
      col("__s2") - w * w, col("__s3") - w * w * w)
    val upcross = skew > 0 && prevSkew <= 0
    val marked = pre.withColumn("__skew", skew)
      .withColumn("__up", coalesce(upcross, lit(false)))
    val a = marked.agg(
      max(when(col("__up"), col("__n"))).as("lastT"),
      max_by(col("__skew"), col("__n")).as("finalSkew")).head()
    val lastT = if (a.isNullAt(0)) -1.0 else a.getDouble(0)
    val finalSkew = if (a.isNullAt(1)) Double.NaN else a.getDouble(1)
    val cls =
      if (lastT < 0) { // no upcross ever (SkewnessBalancingFilter.cpp:100-105)
        if (finalSkew <= 0) lit(2) else lit(1)
      } else when(col("__n") < lastT, lit(2)).otherwise(lit(1))
    marked.withColumn("classification", cls)
      .drop("__n", "__s1", "__s2", "__s3", "__skew", "__up")
  }
}
