package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Mat

/** Result of filters.poisson: a NEW point view of mesh vertices plus the
  * triangle mesh referencing them — the reference replaces the input
  * view with the reconstructed mesh's vertices and attaches the mesh
  * (filters/PoissonFilter.cpp:283-316).
  *
  * `vertices`: order_key, x, y, z [, density] [, normal_x/y/z],
  * plus `edge_key` (the grid-edge id the vertex lies on — stable
  * lineage, analogous to writers keeping point source ids).
  * `faces`: a, b, c (vertex order_keys), oriented with the outward
  * (positive-gradient) side as the front face. */
case class PoissonResult(vertices: DataFrame, faces: DataFrame)

/** filters.poisson — Poisson Surface Reconstruction
  * (filters/PoissonFilter.cpp:236-316; Kazhdan, Bolitho & Hoppe 2006).
  *
  * The reference wraps the vendored Kazhdan octree FEM solver: splat the
  * oriented-normal field V into a depth-d octree, solve the Poisson
  * equation for the smoothed indicator function chi with grad chi = V,
  * take the isovalue as the average of chi at the samples, extract the
  * isosurface, and re-run normal estimation on the output vertices
  * (PoissonFilter.cpp:262-313). Options: `depth` (default 8) and
  * `density` (emit per-vertex kernel-density estimates).
  *
  * This engine re-expresses the same equation on a REGULAR depth-d grid
  * instead of an adaptive octree — the Spark-native trade: a regular
  * grid tiles into independent dense patches with fixed-width halos, so
  * every stage below is an embarrassingly parallel stencil pass, where
  * the octree's adaptivity would serialize on its hierarchy. Cost is
  * memory O(8^depth) grid nodes (depth 10 ~ 1.1e9 rows — fine
  * distributed; the octree wins only past that), and the reconstruction
  * is the classic unscreened formulation:
  *
  *  1. splat unit normals trilinearly into grid nodes (one groupBy);
  *  2. smooth V with `smoothPasses` separable triangle-kernel passes
  *     (the B-spline kernel of the reference, truncated) and form
  *     f = div V by central differences — one tile+halo pass;
  *  3. solve  laplace(chi) = f  (Dirichlet 0 boundary) by CASCADIC
  *     multigrid (Bornemann & Deuflhard 1996): coarse-to-fine sweep,
  *     trilinear prolongation, weighted-Jacobi (omega = 2/3) smoothing
  *     with iteration counts doubling per coarser level. Jacobi is
  *     snapshot-pure, so k blocked iterations on a tile with halo k are
  *     EXACTLY k global iterations — the local fast path and the tiled
  *     path compute the same function (differential spec);
  *  4. isovalue = mean of trilinearly interpolated chi at the input
  *     samples (PoissonFilter.cpp: recon.evaluate());
  *  5. extract the isosurface by marching TETRAHEDRA over the Kuhn
  *     6-tet cube decomposition (translation-consistent face diagonals,
  *     so adjacent cells emit matching edges) — one tile+halo-1 pass;
  *     vertices live on grid edges, keyed by the canonical (min,max)
  *     node-id pair, computed bit-identically by every emitting tile;
  *  6. vertex ids by range-partitioned rank over edge keys; faces by
  *     three equi-joins; per the reference, normals are re-estimated on
  *     the output vertices (EigenFeatures k=8) unless disabled.
  *
  * With outward-oriented input normals chi approximates MINUS the
  * indicator (grad of -indicator points outward), so the front face of
  * each triangle — toward chi > isovalue — is the OUTSIDE.
  *
  * Scale: one size decision, `lc`, the finest level whose grid has
  * <= localNodes nodes (default 2^22: level 7, 129^3). Levels Lmin..lc
  * run as one dense driver cascade; each finer level is ceil(iters /
  * blockIters) tile passes of its nodes, and points are touched twice
  * (splat groupBy, isovalue join). When the finest level fits, the whole
  * pyramid runs driver-side. On a 1000-executor cluster only the finest
  * 1-2 levels are ever distributed. */
object Poisson extends Serializable {
  private val Omega = 2.0 / 3.0 // weighted-Jacobi smoothing factor
  private val Lmin = 2 // coarsest multigrid level (5^3 nodes)

  def apply(df: DataFrame, depth: Int = 8, density: Boolean = false,
      iterations: Int = 120, smoothPasses: Int = 2, tileSize: Int = 48,
      blockIters: Int = 12, localNodes: Long = 1L << 22,
      outputNormals: Boolean = true): PoissonResult = {
    // depth <= 10 keeps the packed edge key (linA * m^3 + linB) inside
    // a signed 64-bit long: (2^10+1)^3 squared ~ 1.2e18 < 2^63
    require(depth >= 2 && depth <= 10, "filters.poisson: depth must be in [2,10]")
    val spark = df.sparkSession

    // ---- normals: shared acquisition (provided or estimated, unit) —
    // the reference's implicit NormalFilter run (PoissonFilter.cpp:262-268)
    val pts = Normals.ensureUnit(df, k = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val bb = pts.agg(count(lit(1)), min("x"), max("x"), min("y"), max("y"),
      min("z"), max("z")).head()
    val n = bb.getLong(0)
    if (n == 0) { pts.unpersist(false); return emptyResult(spark, density, outputNormals) }
    val ext = math.max(math.max(bb.getDouble(2) - bb.getDouble(1),
      bb.getDouble(4) - bb.getDouble(3)), bb.getDouble(6) - bb.getDouble(5))
    // Kazhdan normalizes into a cube 1.25x the bbox extent centered on
    // the data; we keep world coordinates and size the grid the same way
    val side = if (ext > 0) 1.25 * ext else 1.0
    val cx = (bb.getDouble(1) + bb.getDouble(2)) / 2
    val cy = (bb.getDouble(3) + bb.getDouble(4)) / 2
    val cz = (bb.getDouble(5) + bb.getDouble(6)) / 2
    val ox = cx - side / 2; val oy = cy - side / 2; val oz = cz - side / 2
    val nCells = 1 << depth
    val hs = side / nCells
    val m = nCells + 1 // nodes per axis at the finest level

    // ---- 1. splat: trilinear scatter of unit normals to the 8
    // surrounding nodes (points sit >= 10% of the side from the
    // boundary, so base cells are always interior)
    val corners8 = cornerWeights(col("x"), col("y"), col("z"), ox, oy, oz, hs)
    val splat = pts
      .withColumn("__c", explode(corners8))
      .select(col("__c.i").as("i"), col("__c.j").as("j"), col("__c.k").as("k"),
        (col("__c.w") * col("nx")).as("vx"), (col("__c.w") * col("ny")).as("vy"),
        (col("__c.w") * col("nz")).as("vz"), col("__c.w").as("w"))
      .groupBy("i", "j", "k")
      .agg(sum("vx").as("vx"), sum("vy").as("vy"), sum("vz").as("vz"),
        sum("w").as("w"))

    // ---- the one size decision: lc is the finest level whose grid fits
    // one driver patch (Lmin - 1 when none does). Levels Lmin..lc run as
    // one dense driver cascade, finer levels as tile passes; when the
    // finest level fits, so does every stage. PoissonSpec pins all three
    // regimes (whole pyramid, hybrid, fully tiled) to the same output.
    val lc = (depth to Lmin by -1).find { l =>
      val ml = (1L << l) + 1; ml * ml * ml <= localNodes }.getOrElse(Lmin - 1)
    // persisted along the way, dropped once the outputs materialize
    val held = scala.collection.mutable.ArrayBuffer(pts)
    val (verts0, faces) =
      if (lc == depth) localPipeline(spark, pts, splat, depth, m, side, ox,
        oy, oz, hs, iterations, smoothPasses, density)
      else {
        // ---- 2. smooth + divergence (tile halo = smoothPasses + 1);
        // emits (i,j,k,f,w): f = div of the smoothed field, w = smoothed
        // splat weight (the kernel-density analog of the reference's
        // Density dimension)
        val fwFineP = stageSmoothDiv(spark, splat, m, hs, smoothPasses, tileSize)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val fFineP = fwFineP.select("i", "j", "k", "f").filter(col("f") =!= 0.0)

        // ---- 3. cascadic multigrid: levels Lmin..lc on the driver over
        // f collected once at level lc's stride (one job); each finer
        // level prolongs the coarser chi by tiles, adds its injected f
        // and runs blocked weighted-Jacobi tile rounds
        var chi: DataFrame = null
        if (lc >= Lmin) {
          val s = 1 << (depth - lc)
          val mc = (1 << lc) + 1
          val fc = new Array[Double](mc * mc * mc)
          fFineP.filter(col("i") % s === 0 && col("j") % s === 0 &&
              col("k") % s === 0).collect().foreach { r =>
            fc(((r.getInt(2) / s) * mc + r.getInt(1) / s) * mc + r.getInt(0) / s) =
              r.getDouble(3)
          }
          val chiC = cascade(fc, lc, depth, side, iterations)
          chi = spark.createDataFrame(for (c <- chiC.indices if chiC(c) != 0.0)
            yield (c % mc, (c / mc) % mc, c / (mc * mc), chiC(c)))
            .toDF("i", "j", "k", "chi")
        }
        var l = lc + 1
        while (l <= depth) {
          val s = 1 << (depth - l)
          val ml = (1 << l) + 1
          val hl = side / (1 << l)
          val fl =
            if (l == depth) fFineP
            else fFineP.filter(col("i") % s === 0 && col("j") % s === 0 &&
              col("k") % s === 0)
              .select((col("i") / s).cast("int").as("i"),
                (col("j") / s).cast("int").as("j"),
                (col("k") / s).cast("int").as("k"), col("f"))
          val init =
            if (l == Lmin) fl.select(col("i"), col("j"), col("k"),
              lit(0.0).as("chi"), col("f"))
            else stageProlong(spark, chi, (1 << (l - 1)) + 1, ml, tileSize)
              .join(fl, Seq("i", "j", "k"), "full_outer")
              .select(col("i"), col("j"), col("k"),
                coalesce(col("chi"), lit(0.0)).as("chi"),
                coalesce(col("f"), lit(0.0)).as("f"))
          chi = stageJacobi(spark, init, ml, hl * hl,
            sweeps(iterations, depth, l), tileSize, blockIters)
          l += 1
        }
        val chiP = Mat(chi, eager = false)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

        // ---- 4. isovalue: mean of chi interpolated at the samples
        val iso = pts.withColumn("__c", corners8)
          .select(col("order_key"), explode(col("__c")).as("c"))
          .select(col("order_key"), col("c.i").as("i"), col("c.j").as("j"),
            col("c.k").as("k"), col("c.w").as("w"))
          .join(chiP.select(col("i"), col("j"), col("k"), col("chi")),
            Seq("i", "j", "k"), "left")
          .groupBy("order_key")
          .agg(sum(col("w") * coalesce(col("chi"), lit(0.0))).as("v"))
          .agg(avg("v")).head().getDouble(0)

        // ---- 5. marching tetrahedra over the Kuhn 6-tet decomposition;
        // the smoothed weight field rides along for per-vertex density
        val chiW = chiP.select("i", "j", "k", "chi")
          .join(fwFineP.select(col("i"), col("j"), col("k"), col("w")),
            Seq("i", "j", "k"), "full_outer")
          .select(col("i"), col("j"), col("k"),
            coalesce(col("chi"), lit(0.0)).as("chi"),
            coalesce(col("w"), lit(0.0)).as("w"))
        val trisP = stageMarch(spark, chiW, m, ox, oy, oz, hs, iso, tileSize)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

        // vertices: one row per distinct grid edge (emissions from
        // different tiles are bit-identical — same node values, same
        // arithmetic)
        val slots = trisP.select(explode(array(
          struct(col("k0").as("edge_key"), col("x0").as("x"), col("y0").as("y"),
            col("z0").as("z"), col("d0").as("density")),
          struct(col("k1").as("edge_key"), col("x1").as("x"), col("y1").as("y"),
            col("z1").as("z"), col("d1").as("density")),
          struct(col("k2").as("edge_key"), col("x2").as("x"), col("y2").as("y"),
            col("z2").as("z"), col("d2").as("density")))).as("s"))
          .select(col("s.edge_key"), col("s.x"), col("s.y"), col("s.z"),
            col("s.density"))
          .groupBy("edge_key")
          .agg(min("x").as("x"), min("y").as("y"), min("z").as("z"),
            min("density").as("density"))
        val ranked = Order.globalRankBy(slots, Seq(col("edge_key")), "order_key")
        val baseCols = Seq(col("order_key"), col("x"), col("y"), col("z")) ++
          (if (density) Seq(col("density")) else Nil) :+ col("edge_key")
        val verts0 = ranked.select(baseCols: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        held ++= Seq(fwFineP, chiP, trisP, verts0)

        val vid = verts0.select(col("edge_key"), col("order_key"))
        val faces = trisP
          .join(vid.withColumnRenamed("edge_key", "k0")
            .withColumnRenamed("order_key", "a"), Seq("k0"))
          .join(vid.withColumnRenamed("edge_key", "k1")
            .withColumnRenamed("order_key", "b"), Seq("k1"))
          .join(vid.withColumnRenamed("edge_key", "k2")
            .withColumnRenamed("order_key", "c"), Seq("k2"))
          .select("a", "b", "c")
        (verts0, faces)
      }

    // ---- 6. reference parity: "Rerun normals as they may be expected"
    // (PoissonFilter.cpp:305-312)
    val verts =
      if (!outputNormals) verts0
      else {
        val nf = EigenFeatures(verts0.select("order_key", "x", "y", "z"), k = 8)
          .select(col("order_key"), col("normal_x"), col("normal_y"),
            col("normal_z"))
        verts0.join(nf, Seq("order_key"), "left")
      }
    // materialize BOTH outputs before dropping the intermediate persists —
    // a lazy checkpoint here would re-run the march/smooth/splat chain
    // from scratch on the caller's first action
    val out = PoissonResult(Mat(verts), Mat(faces))
    held.foreach(_.unpersist(false))
    out
  }

  /** Weighted-Jacobi sweeps at level l: iteration counts double per
    * coarser level (cascadic schedule), capped at 4000. */
  private def sweeps(iterations: Int, depth: Int, l: Int): Int =
    math.min(4000, iterations * (1 << (depth - l)))

  /** Cascadic multigrid on dense driver arrays: restrict the level-`lTop`
    * right-hand side `fTop` by injection to every level Lmin..lTop, then
    * sweep coarse to fine — trilinear prolongation of the coarser
    * solution, then `sweeps` weighted-Jacobi iterations. Returns chi at
    * level lTop. The kernels and their arithmetic order are the tiled
    * levels', so a level computes the same bits here as by tiles. */
  private def cascade(fTop: Array[Double], lTop: Int, depth: Int,
      side: Double, iterations: Int): Array[Double] = {
    val mTop = (1 << lTop) + 1
    var chi: Array[Double] = null
    var l = Lmin
    while (l <= lTop) {
      val s = 1 << (lTop - l)
      val ml = (1 << l) + 1
      val hl = side / (1 << l)
      val fl =
        if (l == lTop) fTop
        else {
          val a = new Array[Double](ml * ml * ml)
          var ck = 0
          while (ck < ml) { var cj = 0
            while (cj < ml) { var ci = 0
              while (ci < ml) {
                a((ck * ml + cj) * ml + ci) =
                  fTop(((ck * s) * mTop + cj * s) * mTop + ci * s)
                ci += 1 }
              cj += 1 }
            ck += 1 }
          a
        }
      val chi0 =
        if (l == Lmin) new Array[Double](ml * ml * ml)
        else {
          val mc = (1 << (l - 1)) + 1
          val fine = new Array[Double](ml * ml * ml)
          var gk = 0
          while (gk < ml) { var gj = 0
            while (gj < ml) { var gi = 0
              while (gi < ml) {
                fine((gk * ml + gj) * ml + gi) =
                  prolongInterp(chi, mc, mc, mc, 0, 0, 0, gi, gj, gk)
                gi += 1 }
              gj += 1 }
            gk += 1 }
          fine
        }
      chi = jacobiPatch(chi0, fl, ml, ml, ml, 0, 0, 0, ml, hl * hl,
        sweeps(iterations, depth, l))
      l += 1
    }
    chi
  }

  /** Whole-pyramid driver-side pipeline, for when the finest level fits:
    * the SAME dense kernels as the tiled stages (smoothPatch /
    * divergencePatch / `cascade` / marcher) run once over the full grid,
    * with two Spark jobs before the caller materializes the outputs —
    * the splat collect and the isovalue aggregate over the samples
    * (broadcast chi). Returns (vertices, faces) without normals. */
  private def localPipeline(spark: SparkSession, pts: DataFrame,
      splat: DataFrame, depth: Int, m: Int, side: Double, ox: Double,
      oy: Double, oz: Double, hs: Double, iterations: Int, smoothPasses: Int,
      density: Boolean): (DataFrame, DataFrame) = {
    import spark.implicits._
    val m3 = m * m * m

    // ---- 2. smooth + divergence on the dense grid (splat collect = job 1)
    val vx = new Array[Double](m3); val vy = new Array[Double](m3)
    val vz = new Array[Double](m3); val w = new Array[Double](m3)
    splat.collect().foreach { r =>
      val c = (r.getInt(2) * m + r.getInt(1)) * m + r.getInt(0)
      vx(c) = r.getDouble(3); vy(c) = r.getDouble(4); vz(c) = r.getDouble(5)
      w(c) = r.getDouble(6)
    }
    val sx = smoothPatch(vx, m, m, m, smoothPasses)
    val sy = smoothPatch(vy, m, m, m, smoothPasses)
    val sz = smoothPatch(vz, m, m, m, smoothPasses)
    val sw = smoothPatch(w, m, m, m, smoothPasses)
    // ---- 3. cascadic multigrid over every level
    val chi = cascade(divergencePatch(sx, sy, sz, m, m, m, 0, 0, 0, m, hs),
      depth, depth, side, iterations)

    // ---- 4. isovalue: mean of trilinearly interpolated chi at the
    // samples — ONE aggregate job over pts with the grid broadcast
    val chiB = spark.sparkContext.broadcast(chi)
    val mLoc = m; val oxL = ox; val oyL = oy; val ozL = oz; val hsL = hs
    val iso = pts.select("x", "y", "z").as[(Double, Double, Double)]
      .mapPartitions { it =>
        val cArr = chiB.value
        it.map { case (px, py, pz) =>
          val fx = (px - oxL) / hsL; val fy = (py - oyL) / hsL
          val fz = (pz - ozL) / hsL
          val bi = math.floor(fx).toInt; val bj = math.floor(fy).toInt
          val bk = math.floor(fz).toInt
          val sxr = fx - bi; val syr = fy - bj; val szr = fz - bk
          var v = 0.0
          var dz = 0
          while (dz <= 1) { var dy = 0
            while (dy <= 1) { var dx = 0
              while (dx <= 1) {
                val gi = bi + dx; val gj = bj + dy; val gk = bk + dz
                val cv =
                  if (gi < 0 || gi >= mLoc || gj < 0 || gj >= mLoc ||
                      gk < 0 || gk >= mLoc) 0.0
                  else cArr((gk * mLoc + gj) * mLoc + gi)
                val wx = if (dx == 0) 1.0 - sxr else sxr
                val wy = if (dy == 0) 1.0 - syr else syr
                val wz = if (dz == 0) 1.0 - szr else szr
                v += wx * wy * wz * cv
                dx += 1 }
              dy += 1 }
            dz += 1 }
          v
        }
      }.toDF("v").agg(avg("v")).head().getDouble(0)
    chiB.destroy()

    // ---- 5. march the whole grid driver-side
    val tris = marcher(m, ox, oy, oz, hs, iso)(
      chi, sw, m, m, m, 0, 0, 0, 0, 0, 0, m, m, m).toArray

    // vertices: distinct edge keys (emissions bit-identical), ids by
    // edge-key rank — the numbering globalRankBy(edge_key) produces
    val vmap = new java.util.TreeMap[Long, (Double, Double, Double, Double)]
    tris.foreach { t =>
      if (!vmap.containsKey(t._1)) vmap.put(t._1, (t._4, t._5, t._6, t._7))
      if (!vmap.containsKey(t._2)) vmap.put(t._2, (t._8, t._9, t._10, t._11))
      if (!vmap.containsKey(t._3)) vmap.put(t._3, (t._12, t._13, t._14, t._15))
    }
    val ids = new scala.collection.mutable.LongMap[Long](vmap.size * 2)
    val vrows = Vector.newBuilder[(Long, Double, Double, Double, Double, Long)]
    var idx = 0L
    val it = vmap.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      ids(e.getKey) = idx
      val (x, y, z, d) = e.getValue
      vrows += ((idx, x, y, z, d, e.getKey))
      idx += 1
    }
    val verts0 = vrows.result()
      .toDF("order_key", "x", "y", "z", "density", "edge_key")
    val faces = tris.toSeq
      .map(t => (ids(t._1), ids(t._2), ids(t._3)))
      .toDF("a", "b", "c")
    (if (density) verts0 else verts0.drop("density"), faces)
  }

  private def emptyResult(spark: SparkSession, density: Boolean,
      outputNormals: Boolean): PoissonResult = {
    val vfields = Seq(StructField("order_key", LongType),
      StructField("x", DoubleType), StructField("y", DoubleType),
      StructField("z", DoubleType)) ++
      (if (density) Seq(StructField("density", DoubleType)) else Nil) ++
      Seq(StructField("edge_key", LongType)) ++
      (if (outputNormals) Seq(StructField("normal_x", DoubleType),
        StructField("normal_y", DoubleType), StructField("normal_z", DoubleType))
      else Nil)
    PoissonResult(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(vfields)),
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("a", LongType), StructField("b", LongType),
        StructField("c", LongType)))))
  }

  /** The 8 trilinear corner contributions of a point as an array of
    * (i,j,k,w) structs. */
  private def cornerWeights(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, z: org.apache.spark.sql.Column,
      ox: Double, oy: Double, oz: Double, hs: Double) = {
    val fx = (x - ox) / hs; val fy = (y - oy) / hs; val fz = (z - oz) / hs
    val bi = floor(fx).cast("int"); val bj = floor(fy).cast("int")
    val bk = floor(fz).cast("int")
    val sx = fx - bi; val sy = fy - bj; val sz = fz - bk
    val cs = for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1) yield {
      val wx = if (dx == 0) lit(1.0) - sx else sx
      val wy = if (dy == 0) lit(1.0) - sy else sy
      val wz = if (dz == 0) lit(1.0) - sz else sz
      struct((bi + dx).as("i"), (bj + dy).as("j"), (bk + dz).as("k"),
        (wx * wy * wz).as("w"))
    }
    array(cs: _*)
  }

  // ===================== dense patch kernels =====================
  // All kernels are snapshot-pure per iteration: a node's new value is a
  // fixed-order expression over the previous iteration's values, so a
  // tiled evaluation with sufficient halo is bitwise equal to the
  // whole-grid evaluation.

  /** In-place separable triangle smoothing ([1/4,1/2,1/4] per axis per
    * pass) of one field on a dense patch; out-of-patch reads are 0
    * (matches the global field, which is 0 outside the splat support —
    * valid wherever the halo covers the kernel reach). */
  private[operators] def smoothPatch(a: Array[Double], pw: Int, ph: Int,
      pd: Int, passes: Int): Array[Double] = {
    var cur = a
    var buf = new Array[Double](a.length)
    var p = 0
    while (p < passes) {
      // x sweep
      var k = 0
      while (k < pd) { var j = 0
        while (j < ph) { var i = 0
          val row = (k * ph + j) * pw
          while (i < pw) {
            val l = if (i > 0) cur(row + i - 1) else 0.0
            val r = if (i < pw - 1) cur(row + i + 1) else 0.0
            buf(row + i) = 0.25 * l + 0.5 * cur(row + i) + 0.25 * r
            i += 1 }
          j += 1 }
        k += 1 }
      var t = cur; cur = buf; buf = t
      // y sweep
      k = 0
      while (k < pd) { var j = 0
        while (j < ph) { var i = 0
          while (i < pw) {
            val c = (k * ph + j) * pw + i
            val l = if (j > 0) cur(c - pw) else 0.0
            val r = if (j < ph - 1) cur(c + pw) else 0.0
            buf(c) = 0.25 * l + 0.5 * cur(c) + 0.25 * r
            i += 1 }
          j += 1 }
        k += 1 }
      t = cur; cur = buf; buf = t
      // z sweep
      k = 0
      while (k < pd) { var j = 0
        while (j < ph) { var i = 0
          while (i < pw) {
            val c = (k * ph + j) * pw + i
            val l = if (k > 0) cur(c - pw * ph) else 0.0
            val r = if (k < pd - 1) cur(c + pw * ph) else 0.0
            buf(c) = 0.25 * l + 0.5 * cur(c) + 0.25 * r
            i += 1 }
          j += 1 }
        k += 1 }
      t = cur; cur = buf; buf = t
      p += 1
    }
    cur
  }

  /** Central-difference divergence of (vx,vy,vz) on a dense patch.
    * Entries whose global node is on the grid boundary are 0 (chi is
    * pinned there anyway). Out-of-patch reads are 0 — valid wherever
    * the halo covers the +-1 reach. */
  private[operators] def divergencePatch(vx: Array[Double], vy: Array[Double],
      vz: Array[Double], pw: Int, ph: Int, pd: Int, gx0: Int, gy0: Int,
      gz0: Int, m: Int, hs: Double): Array[Double] = {
    val f = new Array[Double](vx.length)
    val inv2h = 1.0 / (2.0 * hs)
    var k = 0
    while (k < pd) { var j = 0
      while (j < ph) { var i = 0
        while (i < pw) {
          val gi = gx0 + i; val gj = gy0 + j; val gk = gz0 + k
          if (gi > 0 && gi < m - 1 && gj > 0 && gj < m - 1 &&
              gk > 0 && gk < m - 1) {
            val c = (k * ph + j) * pw + i
            val xm = if (i > 0) vx(c - 1) else 0.0
            val xp = if (i < pw - 1) vx(c + 1) else 0.0
            val ym = if (j > 0) vy(c - pw) else 0.0
            val yp = if (j < ph - 1) vy(c + pw) else 0.0
            val zm = if (k > 0) vz(c - pw * ph) else 0.0
            val zp = if (k < pd - 1) vz(c + pw * ph) else 0.0
            f(c) = (xp - xm) * inv2h + (yp - ym) * inv2h + (zp - zm) * inv2h
          }
          i += 1 }
        j += 1 }
      k += 1 }
    f
  }

  /** `iters` weighted-Jacobi sweeps of laplace(chi) = f on a dense
    * patch, double-buffered. Only nodes interior to BOTH the global
    * grid and the patch are updated; the valid region shrinks by one
    * node per iteration from the patch boundary inward (halo >= iters
    * keeps the core exact). */
  private[operators] def jacobiPatch(chi0: Array[Double], f: Array[Double],
      pw: Int, ph: Int, pd: Int, gx0: Int, gy0: Int, gz0: Int, m: Int,
      h2: Double, iters: Int): Array[Double] = {
    var cur = chi0
    var buf = chi0.clone()
    var it = 0
    while (it < iters) {
      var k = 0
      while (k < pd) { var j = 0
        while (j < ph) { var i = 0
          while (i < pw) {
            val c = (k * ph + j) * pw + i
            val gi = gx0 + i; val gj = gy0 + j; val gk = gz0 + k
            if (gi > 0 && gi < m - 1 && gj > 0 && gj < m - 1 &&
                gk > 0 && gk < m - 1 &&
                i > 0 && i < pw - 1 && j > 0 && j < ph - 1 &&
                k > 0 && k < pd - 1) {
              val s = cur(c - 1) + cur(c + 1) + cur(c - pw) + cur(c + pw) +
                cur(c - pw * ph) + cur(c + pw * ph)
              buf(c) = (1.0 - Omega) * cur(c) + Omega * ((s - h2 * f(c)) / 6.0)
            } else buf(c) = cur(c)
            i += 1 }
          j += 1 }
        k += 1 }
      val t = cur; cur = buf; buf = t
      it += 1
    }
    cur
  }

  // ===================== tiled stage drivers =====================

  /** Explode sparse node rows (i,j,k + values) into the 3D tiles whose
    * halo region contains them. */
  private def withTiles(df: DataFrame, m: Int, t: Int, halo: Int): DataFrame = {
    def axis(c: String) = sequence(
      greatest(lit(0), floor((col(c) - halo).cast("double") / t).cast("int")),
      least(lit((m - 1) / t), floor((col(c) + halo).cast("double") / t).cast("int")))
    df.withColumn("__tx", explode(axis("i")))
      .withColumn("__ty", explode(axis("j")))
      .withColumn("__tz", explode(axis("k")))
      .filter(col("i") >= col("__tx") * t - halo &&
        col("i") < (col("__tx") + 1) * t + halo &&
        col("j") >= col("__ty") * t - halo &&
        col("j") < (col("__ty") + 1) * t + halo &&
        col("k") >= col("__tz") * t - halo &&
        col("k") < (col("__tz") + 1) * t + halo)
  }

  /** Patch bounds of tile (tx,ty,tz): ((gx0,gy0,gz0), (pw,ph,pd),
    * core box in global coords). */
  private def patchBox(tx: Int, ty: Int, tz: Int, t: Int, halo: Int, m: Int) = {
    val gx0 = math.max(0, tx * t - halo); val gx1 = math.min(m, (tx + 1) * t + halo)
    val gy0 = math.max(0, ty * t - halo); val gy1 = math.min(m, (ty + 1) * t + halo)
    val gz0 = math.max(0, tz * t - halo); val gz1 = math.min(m, (tz + 1) * t + halo)
    ((gx0, gy0, gz0), (gx1 - gx0, gy1 - gy0, gz1 - gz0),
      (tx * t, ty * t, tz * t, math.min(m, (tx + 1) * t),
        math.min(m, (ty + 1) * t), math.min(m, (tz + 1) * t)))
  }

  /** Smooth the splat field and emit sparse rows (i,j,k,f,w): f = div of
    * the smoothed normal field, w = the smoothed splat weight. */
  private def stageSmoothDiv(spark: SparkSession, splat: DataFrame, m: Int,
      hs: Double, passes: Int, tileSize: Int): DataFrame = {
    import spark.implicits._
    val halo = passes + 1
    val t = tileSize
    withTiles(splat, m, t, halo)
      .select(col("__tx"), col("__ty"), col("__tz"), col("i"), col("j"),
        col("k"), col("vx"), col("vy"), col("vz"), col("w"))
      .as[(Int, Int, Int, Int, Int, Int, Double, Double, Double, Double)]
      .groupByKey(r => (r._1, r._2, r._3)).flatMapGroups { (tk, it) =>
        val ((gx0, gy0, gz0), (pw, ph, pd), (cx0, cy0, cz0, cx1, cy1, cz1)) =
          patchBox(tk._1, tk._2, tk._3, t, halo, m)
        val vx = new Array[Double](pw * ph * pd)
        val vy = new Array[Double](vx.length); val vz = new Array[Double](vx.length)
        val w = new Array[Double](vx.length)
        it.foreach { r =>
          val c = ((r._6 - gz0) * ph + (r._5 - gy0)) * pw + (r._4 - gx0)
          vx(c) = r._7; vy(c) = r._8; vz(c) = r._9; w(c) = r._10
        }
        val sx = smoothPatch(vx, pw, ph, pd, passes)
        val sy = smoothPatch(vy, pw, ph, pd, passes)
        val sz = smoothPatch(vz, pw, ph, pd, passes)
        val sw = smoothPatch(w, pw, ph, pd, passes)
        val f = divergencePatch(sx, sy, sz, pw, ph, pd, gx0, gy0, gz0, m, hs)
        for {
          gk <- (cz0 until cz1).iterator; gj <- (cy0 until cy1).iterator
          gi <- (cx0 until cx1).iterator
          c = ((gk - gz0) * ph + (gj - gy0)) * pw + (gi - gx0)
          if f(c) != 0.0 || sw(c) != 0.0
        } yield (gi, gj, gk, f(c), sw(c))
      }.toDF("i", "j", "k", "f", "w")
  }

  /** Run `iters` Jacobi sweeps on state rows (i,j,k,chi,f) at grid m,
    * blocked `blockIters` per tile round; emits sparse state rows. */
  private def stageJacobi(spark: SparkSession, state0: DataFrame, m: Int,
      h2: Double, iters: Int, tileSize: Int, blockIters: Int): DataFrame = {
    import spark.implicits._
    var cur = Mat(state0, eager = false)
    var used = 0
    val t = tileSize
    while (used < iters) {
      val k = math.min(blockIters, iters - used)
      val next = withTiles(cur, m, t, k)
        .select(col("__tx"), col("__ty"), col("__tz"), col("i"), col("j"),
          col("k"), col("chi"), col("f"))
        .as[(Int, Int, Int, Int, Int, Int, Double, Double)]
        .groupByKey(r => (r._1, r._2, r._3)).flatMapGroups { (tk, it) =>
          val ((gx0, gy0, gz0), (pw, ph, pd), (cx0, cy0, cz0, cx1, cy1, cz1)) =
            patchBox(tk._1, tk._2, tk._3, t, k, m)
          val chi = new Array[Double](pw * ph * pd)
          val f = new Array[Double](chi.length)
          it.foreach { r =>
            val c = ((r._6 - gz0) * ph + (r._5 - gy0)) * pw + (r._4 - gx0)
            chi(c) = r._7; f(c) = r._8
          }
          val out = jacobiPatch(chi, f, pw, ph, pd, gx0, gy0, gz0, m, h2, k)
          for {
            gk <- (cz0 until cz1).iterator; gj <- (cy0 until cy1).iterator
            gi <- (cx0 until cx1).iterator
            c = ((gk - gz0) * ph + (gj - gy0)) * pw + (gi - gx0)
            if out(c) != 0.0 || f(c) != 0.0
          } yield (gi, gj, gk, out(c), f(c))
        }.toDF("i", "j", "k", "chi", "f")
      cur = Mat(next)
      used += k
    }
    cur
  }

  /** Trilinear interpolation of one fine node from a dense coarse patch;
    * fine node -> coarse coords gi/2 etc; odd coords average the two
    * flanking coarse nodes per axis (fixed fold order: z, y, x). */
  private def prolongInterp(cc: Array[Double], pw: Int, ph: Int, pd: Int,
      gx0: Int, gy0: Int, gz0: Int, gi: Int, gj: Int, gk: Int): Double = {
    def rd(ci: Int, cj: Int, ck: Int): Double = {
      val x = ci - gx0; val y = cj - gy0; val z = ck - gz0
      if (x < 0 || x >= pw || y < 0 || y >= ph || z < 0 || z >= pd) 0.0
      else cc((z * ph + y) * pw + x)
    }
    val i0 = gi >> 1; val j0 = gj >> 1; val k0 = gk >> 1
    val ix = gi & 1; val jy = gj & 1; val kz = gk & 1
    var s = 0.0
    var dz = 0
    while (dz <= kz) { var dy = 0
      while (dy <= jy) { var dx = 0
        while (dx <= ix) {
          val w = (if (ix == 1) 0.5 else 1.0) * (if (jy == 1) 0.5 else 1.0) *
            (if (kz == 1) 0.5 else 1.0)
          s += w * rd(i0 + dx, j0 + dy, k0 + dz)
          dx += 1 }
        dy += 1 }
      dz += 1 }
    s
  }

  /** Trilinear prolongation of a coarse solution (grid mc) to the next
    * finer grid (mf = 2*(mc-1)+1); emits sparse (i,j,k,chi) rows. */
  private def stageProlong(spark: SparkSession, coarse: DataFrame, mc: Int,
      mf: Int, tileSize: Int): DataFrame = {
    import spark.implicits._
    // key coarse rows by DOUBLED coords so fine tile halo-2 covers the
    // coarse stencil of every fine core node
    val t = tileSize
    val doubled = coarse.select((col("i") * 2).as("i"), (col("j") * 2).as("j"),
      (col("k") * 2).as("k"), col("chi"))
    withTiles(doubled, mf, t, 2)
      .select(col("__tx"), col("__ty"), col("__tz"), col("i"), col("j"),
        col("k"), col("chi"))
      .as[(Int, Int, Int, Int, Int, Int, Double)]
      .groupByKey(r => (r._1, r._2, r._3)).flatMapGroups { (tk, it) =>
        val ((gx0, gy0, gz0), (pw0, ph0, pd0), (cx0, cy0, cz0, cx1, cy1, cz1)) =
          patchBox(tk._1, tk._2, tk._3, t, 2, mf)
        // coarse patch covering [gx0,gx0+pw0) in fine coords
        val px0 = gx0 >> 1; val py0 = gy0 >> 1; val pz0 = gz0 >> 1
        val pw = ((gx0 + pw0 - 1) >> 1) - px0 + 2
        val ph = ((gy0 + ph0 - 1) >> 1) - py0 + 2
        val pd = ((gz0 + pd0 - 1) >> 1) - pz0 + 2
        val cc = new Array[Double](pw * ph * pd)
        it.foreach { r =>
          val ci = (r._4 >> 1) - px0; val cj = (r._5 >> 1) - py0
          val ck = (r._6 >> 1) - pz0
          if (ci >= 0 && ci < pw && cj >= 0 && cj < ph && ck >= 0 && ck < pd)
            cc((ck * ph + cj) * pw + ci) = r._7
        }
        for {
          gk <- (cz0 until cz1).iterator; gj <- (cy0 until cy1).iterator
          gi <- (cx0 until cx1).iterator
          v = prolongInterp(cc, pw, ph, pd, px0, py0, pz0, gi, gj, gk) if v != 0.0
        } yield (gi, gj, gk, v)
      }.toDF("i", "j", "k", "chi")
  }

  // Kuhn 6-tet decomposition: each tet is (0, p1, p1|p2, 7) for a
  // permutation (p1,p2,p3) of the axis bits (1,2,4) — face diagonals are
  // translation-consistent, so adjacent cubes emit matching edges.
  private val KuhnTets: Array[Array[Int]] = {
    val perms = Seq(Seq(1, 2, 4), Seq(1, 4, 2), Seq(2, 1, 4), Seq(2, 4, 1),
      Seq(4, 1, 2), Seq(4, 2, 1))
    perms.map(p => Array(0, p(0), p(0) | p(1), 7)).toArray
  }

  private type Tri = (Long, Long, Long, Double, Double, Double, Double,
    Double, Double, Double, Double, Double, Double, Double, Double)

  /** Build the patch marcher for grid m / frame (ox,oy,oz,hs) / isovalue:
    * marches all core cubes of one dense (chi, density) patch. Shared by
    * the tiled stage and the whole-pyramid local fast path. */
  private def marcher(m: Int, ox: Double, oy: Double, oz: Double, hs: Double,
      iso: Double): (Array[Double], Array[Double], Int, Int, Int, Int, Int,
      Int, Int, Int, Int, Int, Int, Int) => Iterator[Tri] = {
    val m3 = m.toLong * m * m

    // march all core cubes of one dense patch
    def marchPatch(chi: Array[Double], dens: Array[Double], pw: Int, ph: Int,
        pd: Int, gx0: Int, gy0: Int, gz0: Int,
        cx0: Int, cy0: Int, cz0: Int, cx1: Int, cy1: Int, cz1: Int)
        : Iterator[Tri] = {
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long,
        Double, Double, Double, Double, Double, Double, Double, Double,
        Double, Double, Double, Double)]
      // corner offsets bit-coded: bit0=x, bit1=y, bit2=z
      val cgi = new Array[Int](8); val cgj = new Array[Int](8)
      val cgk = new Array[Int](8); val g = new Array[Double](8)
      val dv = new Array[Double](8); val lin = new Array[Long](8)
      var ck = math.max(cz0, 0)
      while (ck < math.min(cz1, m - 1)) {
        var cj = math.max(cy0, 0)
        while (cj < math.min(cy1, m - 1)) {
          var ci = math.max(cx0, 0)
          while (ci < math.min(cx1, m - 1)) {
            var c = 0
            var anyPos = false; var anyNeg = false
            while (c < 8) {
              val gi = ci + (c & 1); val gj = cj + ((c >> 1) & 1)
              val gk = ck + ((c >> 2) & 1)
              cgi(c) = gi; cgj(c) = gj; cgk(c) = gk
              val v = chi(((gk - gz0) * ph + (gj - gy0)) * pw + (gi - gx0)) - iso
              g(c) = v
              dv(c) = dens(((gk - gz0) * ph + (gj - gy0)) * pw + (gi - gx0))
              lin(c) = (gk.toLong * m + gj) * m + gi
              if (v >= 0) anyPos = true else anyNeg = true
              c += 1
            }
            if (anyPos && anyNeg) {
              var ti = 0
              while (ti < 6) {
                marchTet(KuhnTets(ti), g, dv, lin, cgi, cgj, cgk, out)
                ti += 1
              }
            }
            ci += 1
          }
          cj += 1
        }
        ck += 1
      }
      out.iterator
    }

    def marchTet(tet: Array[Int], g: Array[Double], dv: Array[Double],
        lin: Array[Long], cgi: Array[Int], cgj: Array[Int], cgk: Array[Int],
        out: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double,
          Double, Double, Double, Double, Double, Double, Double, Double,
          Double, Double, Double)]): Unit = {
      val pos = new Array[Int](4); val neg = new Array[Int](4)
      var np = 0; var nn = 0
      var s = 0
      while (s < 4) {
        val c = tet(s)
        if (g(c) >= 0) { pos(np) = c; np += 1 } else { neg(nn) = c; nn += 1 }
        s += 1
      }
      if (np == 0 || np == 4) return
      // edge vertex on (u,v): canonical (smaller lin id first) so every
      // emitting cube/tet computes the identical bits
      def edge(u: Int, v: Int): (Long, Double, Double, Double, Double) = {
        val (a, b) = if (lin(u) < lin(v)) (u, v) else (v, u)
        val t = g(a) / (g(a) - g(b))
        val x = (ox + cgi(a) * hs) + t * ((ox + cgi(b) * hs) - (ox + cgi(a) * hs))
        val y = (oy + cgj(a) * hs) + t * ((oy + cgj(b) * hs) - (oy + cgj(a) * hs))
        val z = (oz + cgk(a) * hs) + t * ((oz + cgk(b) * hs) - (oz + cgk(a) * hs))
        val d = dv(a) + t * (dv(b) - dv(a))
        (lin(a) * m3 + lin(b), x, y, z, d)
      }
      // orientation reference: from the negative side toward the positive
      var rx = 0.0; var ry = 0.0; var rz = 0.0
      var q = 0
      while (q < np) {
        rx += (ox + cgi(pos(q)) * hs) / np; ry += (oy + cgj(pos(q)) * hs) / np
        rz += (oz + cgk(pos(q)) * hs) / np; q += 1
      }
      q = 0
      while (q < nn) {
        rx -= (ox + cgi(neg(q)) * hs) / nn; ry -= (oy + cgj(neg(q)) * hs) / nn
        rz -= (oz + cgk(neg(q)) * hs) / nn; q += 1
      }
      def emit(v0: (Long, Double, Double, Double, Double),
          v1: (Long, Double, Double, Double, Double),
          v2: (Long, Double, Double, Double, Double)): Unit = {
        // front face toward the positive (outside) half-space
        val ux = v1._2 - v0._2; val uy = v1._3 - v0._3; val uz = v1._4 - v0._4
        val wx = v2._2 - v0._2; val wy = v2._3 - v0._3; val wz = v2._4 - v0._4
        val nx = uy * wz - uz * wy; val ny = uz * wx - ux * wz
        val nz = ux * wy - uy * wx
        // chi == iso EXACTLY at a node puts t = 0 on every edge from it:
        // three coincident vertices under distinct edge keys. Drop the
        // zero-area face (exact test — generic data never hits it).
        if (nx != 0.0 || ny != 0.0 || nz != 0.0) {
          val (a, b, c) =
            if (nx * rx + ny * ry + nz * rz >= 0) (v0, v1, v2) else (v0, v2, v1)
          out += ((a._1, b._1, c._1, a._2, a._3, a._4, a._5,
            b._2, b._3, b._4, b._5, c._2, c._3, c._4, c._5))
        }
      }
      if (np == 1) {
        emit(edge(pos(0), neg(0)), edge(pos(0), neg(1)), edge(pos(0), neg(2)))
      } else if (np == 3) {
        emit(edge(neg(0), pos(0)), edge(neg(0), pos(1)), edge(neg(0), pos(2)))
      } else { // 2-2: quad split into two triangles
        val q0 = edge(pos(0), neg(0)); val q1 = edge(pos(0), neg(1))
        val q2 = edge(pos(1), neg(1)); val q3 = edge(pos(1), neg(0))
        emit(q0, q1, q2); emit(q0, q2, q3)
      }
    }

    marchPatch
  }

  /** March the isosurface: emit one row per triangle with canonical
    * edge keys and bit-exact edge-vertex positions. `chiDf` carries
    * (i,j,k,chi,w): w is the smoothed splat weight, the kernel-density
    * analog — per-vertex density interpolates it along the crossing
    * edge. */
  private def stageMarch(spark: SparkSession, chiDf: DataFrame, m: Int,
      ox: Double, oy: Double, oz: Double, hs: Double, iso: Double,
      tileSize: Int): DataFrame = {
    import spark.implicits._
    val marchPatch = marcher(m, ox, oy, oz, hs, iso)
    val t = tileSize
    withTiles(chiDf, m, t, 1)
      .select(col("__tx"), col("__ty"), col("__tz"), col("i"), col("j"),
        col("k"), col("chi"), col("w"))
      .as[(Int, Int, Int, Int, Int, Int, Double, Double)]
      .groupByKey(r => (r._1, r._2, r._3)).flatMapGroups { (tk, it) =>
        val ((gx0, gy0, gz0), (pw, ph, pd), (cx0, cy0, cz0, cx1, cy1, cz1)) =
          patchBox(tk._1, tk._2, tk._3, t, 1, m)
        val chi = new Array[Double](pw * ph * pd)
        val dens = new Array[Double](chi.length)
        it.foreach { r =>
          val c = ((r._6 - gz0) * ph + (r._5 - gy0)) * pw + (r._4 - gx0)
          chi(c) = r._7; dens(c) = r._8
        }
        marchPatch(chi, dens, pw, ph, pd, gx0, gy0, gz0, cx0, cy0, cz0,
          cx1, cy1, cz1)
      }.toDF("k0", "k1", "k2", "x0", "y0", "z0", "d0", "x1", "y1", "z1",
        "d1", "x2", "y2", "z2", "d2")
  }
}
