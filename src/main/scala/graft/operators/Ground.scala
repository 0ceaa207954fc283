package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Mat
import graft.expr.DimRange

/** Dense ground-surface raster addressing for the morphological ground
  * filters (filters.pmf / filters.smrf): cell (c, r) covers
  * [minX + c*cell, minX + (c+1)*cell) x [minY + r*cell, ...), with
  * cols*rows cells spanning the point extent — the relational form of
  * the reference's `std::vector<double> ZImin` raster
  * (filters/SMRFilter.cpp:463-485, filters/PMFFilter.cpp:210-234).
  *
  * Both reference filters bin points with
  * floor((v - min) / cell) (SMRFilter.cpp:477, PMFFilter.cpp:338);
  * PMF's *surface build* additionally truncates floor(v - min) / cell
  * (PMFFilter.cpp:229 — precedence quirk, differs only for cell != 1
  * at non-integer offsets). We use the parenthesized form everywhere
  * and note the deviation.
  */
case class GroundGrid(minX: Double, minY: Double, cell: Double,
    cols: Int, rows: Int) {
  def colOf(x: Column): Column = floor((x - minX) / cell).cast("int")
  def rowOf(y: Column): Column = floor((y - minY) / cell).cast("int")
  def centerX(c: Column): Column = lit(minX) + (c + lit(0.5)) * lit(cell)
  def centerY(r: Column): Column = lit(minY) + (r + lit(0.5)) * lit(cell)
  /** Reference cell index `c * rows + r` (SMRFilter.cpp:480) — the
    * deterministic tie-break key for inpainting nearest-neighbor ties. */
  def key(c: Column, r: Column): Column = c.cast("long") * rows + r
}

/** Distributed raster surface operators over (c:int, r:int, z:double)
  * DataFrames. Morphology runs as tile+halo cogroups: each task gets a
  * TILE x TILE core plus an `iters`-cell halo and runs the iteration
  * sequence on a task-local dense array — one grid-sized shuffle per
  * morphology call instead of one per erosion step, and the grid is
  * orders of magnitude smaller than the point cloud (area / cell^2). */
object GridSurface {
  private val TILE = 256

  /** Grid metadata from the point extent, exactly like the reference:
    * cols = (maxx-minx)/cell + 1 (PMFFilter.cpp:213-216). */
  def gridOf(points: DataFrame, cell: Double): GroundGrid = {
    val e = points.agg(min("x"), max("x"), min("y"), max("y")).head()
    val (mnx, mxx, mny, mxy) =
      (e.getDouble(0), e.getDouble(1), e.getDouble(2), e.getDouble(3))
    GroundGrid(mnx, mny, cell,
      ((mxx - mnx) / cell + 1).toInt, ((mxy - mny) / cell + 1).toInt)
  }

  /** Sparse minimum surface: min z per populated cell. */
  def minSurface(points: DataFrame, g: GroundGrid): DataFrame =
    points.groupBy(g.colOf(col("x")).as("c"), g.rowOf(col("y")).as("r"))
      .agg(min("z").as("z"))

  /** Dense grid: every (c, r) in [0,cols) x [0,rows), z null where no
    * point fell (the reference's NaN cells). */
  def densify(sparse: DataFrame, g: GroundGrid): DataFrame = {
    val spark = sparse.sparkSession
    val all = spark.range(g.cols).select(col("id").cast("int").as("c"))
      .crossJoin(spark.range(g.rows).select(col("id").cast("int").as("r")))
    all.join(sparse, Seq("c", "r"), "left")
  }

  /** Inpaint null cells from populated ones via the grid kNN join —
    * `mode` nearest-1 (PMFFilter.cpp:257-274) or mean of the 8 nearest
    * (SMRFilter.cpp:590-651 knnfill, incremental mean in distance
    * order). Ties at equal distance break on the reference cell index
    * c*rows+r (nanoflann's tie order is unspecified; ours is pinned). */
  def inpaint(dense0: DataFrame, g: GroundGrid, k: Int): DataFrame = {
    // dense's lineage includes the point-cloud groupBy + the densify
    // crossJoin: persist it so the two emptiness probes and the kNN
    // join's two input scans don't re-run that chain four times
    val dense = dense0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = dense.agg(
      count(when(col("z").isNull, 1)).as("holes"),
      count(when(col("z").isNotNull, 1)).as("filled")).head()
    val filled = dense.filter(col("z").isNotNull)
    if (cnt.getLong(0) == 0 || cnt.getLong(1) == 0) {
      // no holes, or empty index (reference knnfill no-op). Materialize
      // the grid, then release the cache — returning the persisted frame
      // itself would leak its blocks for the session (caller has no
      // handle to unpersist).
      val out = graft.core.Mat(dense)
      dense.unpersist(false)
      return out
    }
    val holes = dense.filter(col("z").isNull)
    val cand = filled.select(g.key(col("c"), col("r")).as("order_key"),
      g.centerX(col("c")).as("x"), g.centerY(col("r")).as("y"),
      lit(0.0).as("z"), col("z").as("gz"))
    val q = holes.select(g.key(col("c"), col("r")).as("order_key"),
      g.centerX(col("c")).as("x"), g.centerY(col("r")).as("y"),
      lit(0.0).as("z"))
    val hits = KnnJoin.knn(q, cand, k, valueCol = "gz",
      cellSize = math.max(g.cell * 8, 1e-9)).rows
    // incremental mean in (d2, cid) order mirrors the reference's
    // running M1 over neighbors sorted by distance
    val zfill = expr(
      "aggregate(knn, named_struct('m1', 0.0D, 'j', 0D), " +
        "(a, h) -> named_struct('m1', a.m1 + (h.v - a.m1) / (a.j + 1), 'j', a.j + 1)," +
        " a -> a.m1)")
    val filledHoles = hits.select(col("order_key"), zfill.as("z"))
      .select((col("order_key") / g.rows).cast("int").as("c"),
        pmod(col("order_key"), lit(g.rows.toLong)).cast("int").as("r"), col("z"))
    // materialize before unpersisting the input cache so repeated
    // Pmf/Smrf invocations never accumulate leaked blocks
    val out = graft.core.Mat(filled.select("c", "r", "z").unionByName(filledHoles))
    dense.unpersist(false)
    out
  }

  /** `iters` steps of 4-neighbor (diamond) erosion (min) or dilation
    * (max) — pdal::math::erodeDiamond/dilateDiamond
    * (pdal/private/MathUtils.cpp:258-329), distributed: cells shuffle
    * once to every tile whose `iters`-halo contains them, each task
    * iterates its local dense array, and only core cells are emitted.
    * A core result after k steps depends on initial values within
    * Manhattan distance k <= iters — entirely inside the halo — so the
    * boundary corruption of halo cells never reaches a core cell.
    * Cells absent locally but outside the [0,cols)x[0,rows) grid are
    * simply not considered (the reference's edge clamping). */
  def morphDiamond(dense: DataFrame, g: GroundGrid, iters: Int,
      erode: Boolean, tile: Int = TILE): DataFrame = {
    if (iters <= 0) return dense
    val spark = dense.sparkSession
    import spark.implicits._
    val tiles = dense.select(col("c"), col("r"), col("z").cast("double"),
        explode(sequence(floor((col("c") - iters).cast("double") / tile).cast("int"),
          floor((col("c") + iters).cast("double") / tile).cast("int"))).as("tc"))
      .select(col("c"), col("r"), col("z"), col("tc"),
        explode(sequence(floor((col("r") - iters).cast("double") / tile).cast("int"),
          floor((col("r") + iters).cast("double") / tile).cast("int"))).as("tr"))
      .as[(Int, Int, Double, Int, Int)]
    val cols = g.cols; val rows = g.rows
    tiles.groupByKey(t => (t._4, t._5)).flatMapGroups { (tk, it) =>
      val (tc, tr) = tk
      val TILE = tile
      val c0 = tc * TILE - iters; val r0 = tr * TILE - iters
      val w = TILE + 2 * iters
      val cur = Array.fill(w * w)(Double.NaN)
      it.foreach { t =>
        val lc = t._1 - c0; val lr = t._2 - r0
        if (lc >= 0 && lc < w && lr >= 0 && lr < w) cur(lc * w + lr) = t._3
      }
      val next = new Array[Double](w * w)
      var step = 0
      while (step < iters) {
        var lc = 0
        while (lc < w) {
          var lr = 0
          while (lr < w) {
            val i = lc * w + lr
            var best = cur(i)
            @inline def consider(j: Int): Unit = {
              val v = cur(j)
              if (!v.isNaN && (best.isNaN ||
                (if (erode) v < best else v > best))) best = v
            }
            if (lr > 0) consider(i - 1)
            if (lr < w - 1) consider(i + 1)
            if (lc > 0) consider(i - w)
            if (lc < w - 1) consider(i + w)
            next(i) = best
            lr += 1
          }
          lc += 1
        }
        System.arraycopy(next, 0, cur, 0, w * w)
        step += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
      var lc = iters
      while (lc < iters + TILE) {
        val c = c0 + lc
        if (c >= 0 && c < cols && c >= tc * TILE && c < (tc + 1) * TILE) {
          var lr = iters
          while (lr < iters + TILE) {
            val r = r0 + lr
            if (r >= 0 && r < rows && r >= tr * TILE && r < (tr + 1) * TILE) {
              val v = cur(lc * w + lr)
              if (!v.isNaN) out += ((c, r, v))
            }
            lr += 1
          }
        }
        lc += 1
      }
      out.iterator
    }.toDF("c", "r", "z")
  }

  /** Morphological opening: erosion then dilation, both `iters` steps. */
  def open(dense: DataFrame, g: GroundGrid, iters: Int,
      tile: Int = TILE): DataFrame =
    morphDiamond(morphDiamond(dense, g, iters, erode = true, tile), g, iters,
      erode = false, tile)
}

/** filters.pmf — progressive morphological filter (Zhang et al. 2003;
  * filters/PMFFilter.cpp:54). Ground cells survive every progressive
  * opening's height threshold; surviving inlier points get
  * classification 2, the rest 1; ignored/outlier-return points pass
  * through untouched (PMFFilter.cpp:138-206).
  *
  * Scale shape: the surface evolution (erode/dilate rounds) never
  * depends on which points remain, so the reference's per-window point
  * re-scan collapses to ONE point-side join against the per-cell array
  * of per-window surfaces — the point cloud shuffles once, and all
  * iteration happens on the raster (area/cell^2 rows, ~10^4x smaller
  * than the cloud at lidar densities). */
object Pmf {
  /** Window sizes, height thresholds and erosion step counts exactly as
    * PMFFilter.cpp:284-315 (the terminating window IS included). */
  private[operators] def schedule(cellSize: Double, exponential: Boolean,
      initialDistance: Double, maxDistance: Double, maxWindowSize: Double,
      slope: Double): Seq[(Double, Double, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
    var iter = 0; var ws = 0.0; var ht = 0.0
    while (ws < maxWindowSize) {
      ws = if (exponential) cellSize * (2.0 * math.pow(2, iter) + 1.0)
           else cellSize * (2.0 * (iter + 1) * 2 + 1.0)
      ht = if (iter == 0) initialDistance
           else slope * (ws - out(iter - 1)._1) * cellSize + initialDistance
      if (ht > maxDistance) ht = maxDistance
      out += ((ws, ht, (0.5 * (ws - 1)).toInt))
      iter += 1
    }
    out.toSeq
  }

  def apply(df: DataFrame, cellSize: Double = 1.0, exponential: Boolean = true,
      initialDistance: Double = 0.15, maxDistance: Double = 2.5,
      maxWindowSize: Double = 33.0, slope: Double = 1.0,
      returns: Seq[String] = Seq(Returns.Last, Returns.Only),
      ignore: Option[String] = None): DataFrame = {
    val (inliers, passthrough) = GroundSeg.segment(df, returns, ignore)
    // all points ignored / segmented out: the reference no-ops on an
    // empty view — gridOf's min/max aggregate would NPE on nulls
    if (inliers.isEmpty) return inliers.unionByName(passthrough)
    val g = GridSurface.gridOf(inliers, cellSize)
    var surface = Mat(GridSurface.inpaint(
      GridSurface.densify(GridSurface.minSurface(inliers, g), g), g, k = 1))
    val sched = schedule(cellSize, exponential, initialDistance, maxDistance,
      maxWindowSize, slope)
    // per-window opened surfaces gathered per cell: s_j column per window
    var surfaces = surface.select(col("c"), col("r"))
    sched.zipWithIndex.foreach { case ((_, _, iters), j) =>
      surface = Mat(GridSurface.open(surface, g, iters))
      surfaces = surfaces.join(surface.withColumnRenamed("z", s"__s$j"),
        Seq("c", "r"))
    }
    val pts = inliers.withColumn("__gc", g.colOf(col("x")))
      .withColumn("__gr", g.rowOf(col("y")))
    val joined = pts.join(surfaces,
      pts("__gc") === surfaces("c") && pts("__gr") === surfaces("r"), "left")
    val groundCond = sched.zipWithIndex.map { case ((_, ht, _), j) =>
      (col("z") - col(s"__s$j")) < lit(ht)
    }.reduce(_ && _)
    val classified = joined.withColumn("classification",
        when(coalesce(groundCond, lit(false)), lit(2)).otherwise(lit(1)))
      .drop("__gc", "__gr", "c", "r")
      .drop(sched.indices.map(j => s"__s$j"): _*)
    classified.unionByName(passthrough)
  }
}

/** filters.smrf — simple morphological filter (Pingel et al. 2013;
  * filters/SMRFilter.cpp:67). Minimum surface -> low-outlier mask ->
  * optional net cut -> progressive opening object mask -> provisional
  * DEM (masked cells inpainted from the 8 nearest) -> slope-adaptive
  * threshold classification. All iteration is raster-side; points
  * shuffle once for binning and once for the final classify join. */
object Smrf {
  /** progressiveFilter (SMRFilter.cpp:656-722): cumulative 1-step
    * erosions with per-radius dilation; flags cells whose opening drops
    * more than slope*cell*radius below the previous surface. */
  private def progressiveFilter(surface0: DataFrame, g: GroundGrid,
      slope: Double, maxWindow: Double): DataFrame = {
    val maxRadius = math.ceil(maxWindow / g.cell).toInt
    var erosion = surface0
    var prev = surface0.withColumnRenamed("z", "__prev")
    var obj = surface0.select(col("c"), col("r"), lit(0).as("obj"))
    for (radius <- 1 to maxRadius) {
      erosion = Mat(GridSurface.morphDiamond(erosion, g, 1, erode = true))
      val opened = Mat(GridSurface.morphDiamond(erosion, g, radius, erode = false))
      val threshold = slope * g.cell * radius
      obj = Mat(obj.join(prev, Seq("c", "r"))
        .join(opened.withColumnRenamed("z", "__cur"), Seq("c", "r"))
        .select(col("c"), col("r"),
          greatest(col("obj"),
            when(abs(col("__prev") - col("__cur")) > threshold, lit(1))
              .otherwise(lit(0))).as("obj")))
      prev = opened.withColumnRenamed("z", "__prev")
    }
    obj
  }

  def apply(df: DataFrame, cell: Double = 1.0, slope: Double = 0.15,
      scalar: Double = 1.25, threshold: Double = 0.5, window: Double = 18.0,
      cut: Double = 0.0,
      returns: Seq[String] = Seq(Returns.Last, Returns.Only),
      ignore: Option[String] = None): DataFrame = {
    val (inliers, passthrough) = GroundSeg.segment(df, returns, ignore)
    if (inliers.isEmpty) return inliers.unionByName(passthrough) // as Pmf
    val g = GridSurface.gridOf(inliers, cell)
    val zimin = Mat(GridSurface.inpaint(
      GridSurface.densify(GridSurface.minSurface(inliers, g), g), g, k = 8))

    // low-outlier mask: the filter applied to the negated surface with
    // slope 500% and a one-cell window (SMRFilter.cpp:387-398)
    val low = progressiveFilter(
      zimin.withColumn("z", -col("z")), g, 5.0, g.cell)
      .withColumnRenamed("obj", "low")

    // net cutting (SMRFilter.cpp:411-441,510-549): grid lines every
    // ceil(cut/cell) cells take the value of a 2v-opened surface
    val v = if (cut > 0.0) math.ceil(cut / cell).toInt else 0
    // the one net-line predicate — used by both the cut surface and the
    // DEM voiding below, which must never disagree
    val netFlag =
      if (v == 0) lit(false)
      else pmod(col("c"), lit(v)) === 0 || pmod(col("r"), lit(v)) === 0
    val zinet =
      if (v == 0) zimin
      else {
        val opened = GridSurface.open(zimin, g, 2 * v)
        Mat(zimin.join(opened.withColumnRenamed("z", "__op"), Seq("c", "r"))
          .select(col("c"), col("r"),
            when(netFlag, col("__op")).otherwise(col("z")).as("z")))
      }

    val objMask = progressiveFilter(zinet, g, slope, window)

    // provisional DEM: object/low/net cells voided then inpainted from
    // the 8 nearest surviving cells (SMRFilter.cpp:551-588)
    val voided = zimin.join(low, Seq("c", "r")).join(objMask, Seq("c", "r"))
      .select(col("c"), col("r"),
        when(col("obj") === 1 || col("low") === 1 || netFlag, lit(null))
          .otherwise(col("z")).as("z"))
    val zipro = Mat(GridSurface.inpaint(voided, g, k = 8))

    // slope-adaptive threshold: gradient of ZIpro/cell via central
    // differences (MathUtils.hpp:254-300), one-sided at the edges;
    // thresh = threshold + scalar * |grad| (SMRFilter.cpp:296-313)
    val scaled = zipro.withColumn("__s", col("z") / g.cell)
    val wc = Window.partitionBy("r").orderBy("c")
    val wr = Window.partitionBy("c").orderBy("r")
    def grad(w: org.apache.spark.sql.expressions.WindowSpec, k: Column,
        last: Int): Column = {
      val prev = lag("__s", 1).over(w); val next = lead("__s", 1).over(w)
      when(k === 0, next - col("__s"))
        .when(k === last, col("__s") - prev)
        .otherwise((next - prev) * 0.5)
    }
    val withThresh = scaled
      .withColumn("__gx", grad(wc, col("c"), g.cols - 1))
      .withColumn("__gy", grad(wr, col("r"), g.rows - 1))
      .select(col("c"), col("r"), col("z").as("__zpro"),
        (lit(threshold) + lit(scalar) *
          sqrt(col("__gx") * col("__gx") + col("__gy") * col("__gy")))
          .as("__thresh"))

    val pts = inliers.withColumn("__gc", g.colOf(col("x")))
      .withColumn("__gr", g.rowOf(col("y")))
    val classified = pts.join(withThresh,
        pts("__gc") === withThresh("c") && pts("__gr") === withThresh("r"),
        "left")
      .withColumn("classification",
        when(col("__zpro").isNull || col("__thresh").isNull, lit(1))
          .when(abs(col("__zpro") - col("z")) > col("__thresh"), lit(1))
          .otherwise(lit(2)))
      .drop("__gc", "__gr", "c", "r", "__zpro", "__thresh")
    classified.unionByName(passthrough)
  }
}

/** Shared PMF/SMRF input segmentation (PMFFilter.cpp:138-206): ignored
  * dim-ranges and non-matching returns pass through with their original
  * classification; the inlier view is reset to Unclassified (1) before
  * ground marking. Return segmentation is skipped when both return dims
  * are entirely zero, mirroring Segmentation::segmentReturns. */
private[operators] object GroundSeg {
  def segment(df0: DataFrame, returns: Seq[String], ignore: Option[String])
      : (DataFrame, DataFrame) = {
    val df = if (df0.columns.contains("classification")) df0
             else df0.withColumn("classification", lit(0))
    val ignorePred = ignore.map(s => DimRange.predicate(DimRange.parseList(s)))
    val kept = ignorePred.map(p => df.filter(!coalesce(p, lit(false)))).getOrElse(df)
    val ignored = ignorePred.map(p => df.filter(coalesce(p, lit(false))))
    val groups = returns.map(_.trim).filter(_.nonEmpty)
    val hasReturnDims = df.columns.contains("return_number") &&
      df.columns.contains("number_of_returns")
    val (inliers, outliers) =
      if (groups.isEmpty || !hasReturnDims) (kept, None)
      else {
        val anyNonZero = kept.filter(col("return_number") =!= 0 ||
          col("number_of_returns") =!= 0).limit(1).count() > 0
        if (!anyNonZero) (kept, None)
        else {
          val p = returns.map(Returns.groupPredicate).reduce(_ || _)
          (kept.filter(p), Some(kept.filter(!p)))
        }
      }
    val pass = (outliers.toSeq ++ ignored.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        df.schema))
    (inliers.withColumn("classification", lit(1)),
      pass.withColumn("classification", col("classification").cast("int")))
  }
}
