package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Mat
import graft.expr.DimRange

/** filters.csf — Cloth Simulation Filter, Zhang et al. 2016
  * (filters/CSFilter.cpp; algorithm filters/private/csf/CSF.cpp:119-193,
  * Cloth.cpp, Particle.cpp, Rasterization.cpp, c2cdist.cpp). The point
  * cloud is inverted (cloth height coordinate = -z), a rigid cloth grid
  * starts 0.05 above the inverted surface and settles under gravity
  * (Verlet integration, damping 0.01, per-step gravity displacement
  * 0.2*dt^4), spring constraints to the 16 neighbors at grid distance
  * 1, sqrt2, 2 and 2*sqrt2 with the reference's rigidness-indexed
  * correction tables, and collision against the per-cell inverted
  * surface (clamp + freeze). Points within `threshold` of the bilinear
  * cloth height are ground (2), the rest 1.
  *
  * Determinism note: the reference's constraint pass mutates shared
  * particle state from an OpenMP parallel-for — its output is
  * thread-count and schedule dependent, so there is no reference bit
  * order to reproduce. This engine instead defines the pass as a
  * deterministic FROZEN-NEIGHBOR sequential relaxation: each particle
  * folds its 16 neighbor corrections (reference factors
  * doubleMove1/singleMove1[rigidness]) over a per-iteration snapshot of
  * positions and movability. Every update is a convex combination, so
  * the pass is unconditionally stable, and the result is a pure
  * function of the input at ANY parallelism and tiling.
  *
  * Scale design: points are touched exactly twice — one groupBy to
  * rasterize the inverted surface (argmin distance to the cell's
  * particle, Rasterization.cpp:101-144) and one join for the final
  * bilinear classification (c2cdist.cpp:21-60). Everything iterative
  * runs on the CLOTH GRID (area/resolution^2 rows, orders of magnitude
  * smaller): empty cells fill by the reference's 4-direction scanline
  * (ranged window functions per row/column), and the simulation runs
  * `blockIters` iterations per shuffle round on [[GridTiles]] tile+halo
  * patches (constraints reach 2 cells/iteration, so halo = 2*blockIters
  * + 2 certifies tile cores exactly); the slope post-processing's clamp
  * rounds (halo 1) and per-tile union-find (halo 0) tile the grid the
  * same way. Early stop (maxDiff < 0.005,
  * CSF.cpp:176-180) is evaluated at block granularity (bounded
  * drift: < 0.005 * blockIters of cloth travel past the
  * reference's stop point, well under the 0.5 classification
  * threshold). */
object Csf {
  def apply(df: DataFrame, smooth: Boolean = true, step: Double = 0.65,
      threshold: Double = 0.5, resolution: Double = 1.0, rigidness: Int = 3,
      iterations: Int = 500, returns: Seq[String] = Seq(Returns.Last, Returns.Only),
      ignore: Option[String] = None, tileSize: Int = 2048,
      blockIters: Int = 25): DataFrame = {
    val spark = df.sparkSession
    val (inliers0, passthrough) = GroundSeg.segment(df, returns, ignore)
    val inliersP = inliers0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inliers = Mat(inliersP, eager = false)
    val cl = inliers.select(col("order_key"), col("x"), col("y").as("cy"),
      (-col("z")).as("ch"))
    val b = cl.agg(count(lit(1)), min("x"), max("x"), min("cy"), max("cy"),
      max("ch")).head()
    require(b.getLong(0) > 0, "filters.csf: no returns to process")
    val (mnx, mxx, mny, mxy, mxh) = (b.getDouble(1), b.getDouble(2),
      b.getDouble(3), b.getDouble(4), b.getDouble(5))
    // CSF.cpp:127-142: 2-cell buffer all around, cloth 0.05 above the
    // inverted surface
    val res = resolution
    val w = math.floor((mxx - mnx) / res).toInt + 4
    val h = math.floor((mxy - mny) / res).toInt + 4
    val ox = mnx - 2 * res; val oy = mny - 2 * res
    val top = mxh + 0.05

    // ---- rasterize the inverted surface (Rasterization.cpp:101-144):
    // per cell, the inverted height of the point nearest to the cell's
    // particle position (round-to-nearest binning; first-minimum by
    // view order == lexicographic (d2, order_key))
    val gxc = ((col("x") - ox) / res + 0.5).cast("int")
    val gyc = ((col("cy") - oy) / res + 0.5).cast("int")
    val occ = cl
      .withColumn("gx", gxc).withColumn("gy", gyc)
      .withColumn("__d2",
        (col("x") - (col("gx") * res + ox)) * (col("x") - (col("gx") * res + ox)) +
        (col("cy") - (col("gy") * res + oy)) * (col("cy") - (col("gy") * res + oy)))
      .groupBy("gx", "gy")
      .agg(min_by(col("ch"), struct(col("__d2"), col("order_key"))).as("hv0"))

    // ---- full grid + scanline fill (Rasterization.cpp:21-54: first
    // occupied cell scanning +x, then -x, then -y, then +y)
    val grid0 = spark.range(0, w.toLong * h)
      .select((col("id") % w).cast("int").as("gx"),
        (col("id") / w).cast("int").as("gy"))
      .join(occ, Seq("gx", "gy"), "left")
    // all four scans as RUNNING frames (unboundedPreceding..-1): Spark
    // evaluates those in O(n) per partition, while a
    // (1, unboundedFollowing) frame re-scans the suffix per row —
    // O(n^2) on a 50k-cell grid row; "first non-null ahead" is the same
    // value as "last non-null behind" under the reversed ordering
    val wRow = Window.partitionBy("gy").orderBy("gx")
    val wRowD = Window.partitionBy("gy").orderBy(col("gx").desc)
    val wCol = Window.partitionBy("gx").orderBy("gy")
    val wColD = Window.partitionBy("gx").orderBy(col("gy").desc)
    val fillRight = last(col("hv0"), ignoreNulls = true)
      .over(wRowD.rowsBetween(Window.unboundedPreceding, -1))
    val fillLeft = last(col("hv0"), ignoreNulls = true)
      .over(wRow.rowsBetween(Window.unboundedPreceding, -1))
    val fillDown = last(col("hv0"), ignoreNulls = true)
      .over(wCol.rowsBetween(Window.unboundedPreceding, -1))
    val fillUp = last(col("hv0"), ignoreNulls = true)
      .over(wColD.rowsBetween(Window.unboundedPreceding, -1))
    val gridScan = grid0.withColumn("hv",
      coalesce(col("hv0"), fillRight, fillLeft, fillDown, fillUp))
    // cells whose entire row AND column are empty (reference: BFS to the
    // nearest occupied cell through the 16-neighbor constraint graph,
    // Rasterization.cpp:56-99): nearest occupied cell, ties by cell key —
    // same spirit, deterministic; rare enough to branch on
    val gridFilled =
      if (gridScan.filter(col("hv").isNull).limit(1).count() == 0) gridScan
      else {
        val empty = gridScan.filter(col("hv").isNull)
          .select((col("gy").cast("long") * w + col("gx")).as("order_key"),
            col("gx").cast("double").as("x"), col("gy").cast("double").as("y"),
            lit(0.0).as("z"))
        val cand = occ.select((col("gy").cast("long") * w + col("gx")).as("order_key"),
          col("gx").cast("double").as("x"), col("gy").cast("double").as("y"),
          lit(0.0).as("z"), col("hv0").as("v"))
        val nn = KnnJoin.knn(empty, cand, 1, valueCol = "v").rows
          .select(col("order_key"), element_at(col("knn"), 1).getField("v").as("hvn"))
        gridScan
          .join(nn.withColumnRenamed("order_key", "__ck"),
            col("gy").cast("long") * w + col("gx") === col("__ck"), "left")
          .withColumn("hv", coalesce(col("hv"), col("hvn")))
          .drop("__ck", "hvn")
      }
    val grid = gridFilled.select(col("gx"), col("gy"), col("hv"))
      .withColumn("pos", lit(top)).withColumn("old", lit(top))
      .withColumn("movable", lit(true))

    // ---- simulate + slope post-processing
    val settled = simulate(grid, w, h, step, rigidness, iterations,
      blockIters, tileSize)
    val smoothed =
      if (smooth) movableFilter(spark, settled, w, h, tileSize) else settled

    // ---- classify (c2cdist.cpp:21-60): bilinear cloth height at each
    // point (truncating corner cell, fractional weights), |fxy - ch| <
    // threshold => ground
    val pcl = inliers.withColumn("__dx", (col("x") - ox) / res)
      .withColumn("__dy", (col("y") - oy) / res)
      .withColumn("__c0", col("__dx").cast("int"))
      .withColumn("__r0", col("__dy").cast("int"))
      .withColumn("__sx", col("__dx") - col("__c0"))
      .withColumn("__sy", col("__dy") - col("__r0"))
    val corners = pcl.select(col("order_key").as("__k"), col("__c0"),
        col("__r0"), col("__sx"), col("__sy"))
      .withColumn("__cc", explode(array(
        struct((col("__c0")).as("gx"), (col("__r0")).as("gy"),
          ((lit(1.0) - col("__sx")) * (lit(1.0) - col("__sy"))).as("wt")),
        struct((col("__c0")).as("gx"), (col("__r0") + 1).as("gy"),
          ((lit(1.0) - col("__sx")) * col("__sy")).as("wt")),
        struct((col("__c0") + 1).as("gx"), (col("__r0") + 1).as("gy"),
          (col("__sx") * col("__sy")).as("wt")),
        struct((col("__c0") + 1).as("gx"), (col("__r0")).as("gy"),
          (col("__sx") * (lit(1.0) - col("__sy"))).as("wt")))))
      .select(col("__k"), col("__cc.gx").as("gx"), col("__cc.gy").as("gy"),
        col("__cc.wt").as("wt"))
      .join(smoothed.select(col("gx"), col("gy"), col("pos")), Seq("gx", "gy"))
      .groupBy("__k")
      // c2cdist sums the 4 corner terms in order 00, 01, 11, 10; exact
      // FP order is not reproducible through a commutative aggregate,
      // but the comparison below is a strict threshold on a continuous
      // value — sum order only matters at measure-zero boundaries
      .agg(sum(col("wt") * col("pos")).as("__fxy"))
    val classified = inliers
      .join(corners, col("order_key") === col("__k"), "left")
      .withColumn("classification",
        when(abs(col("__fxy") - (-col("z"))) < threshold, 2).otherwise(1))
      .drop("__k", "__fxy")
    val out = classified.unionByName(passthrough)
    // unpersist the DataFrame that was actually persisted — the Mat
    // wrapper has a different plan and would match no cache entry
    inliersP.unpersist(false)
    out
  }

  /** Run `iterations` cloth steps as tile+halo rounds of `blockIters`
    * steps. */
  private def simulate(grid0: DataFrame, w: Int, h: Int,
      step: Double, rigid: Int, iterations: Int, blockIters: Int,
      tileSize: Int): DataFrame = {
    var cur = Mat(grid0)
    var used = 0; var stop = false
    while (used < iterations && !stop) {
      val k = math.min(blockIters, iterations - used)
      val halo = 2 * k + 2
      val res = tileRound(cur, w, h, tileSize, halo) { (st, p) =>
        ClothSim.run(st, p, w, h, k, rigid, step)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one collect answers both stop tests: the per-iteration maxDiff
      // over all tiles, and whether any cell is still movable
      val markers = res.filter(col("gx") === -1).select("gy", "pos", "movable")
        .collect()
      val diffs = markers.groupBy(_.getInt(0)).values
        .map(_.map(_.getDouble(1)).reduce((a, b) => math.max(a, b)))
      if (diffs.exists(d => d != 0 && d < 0.005) || !markers.exists(_.getBoolean(2)))
        stop = true
      val next = Mat(res.filter(col("gx") >= 0))
      res.unpersist(false)
      cur = next
      used += k
    }
    cur
  }

  /** One tile+halo mapGroups round over the grid state. The kernel
    * mutates the dense patch and returns per-iteration core maxDiffs,
    * emitted as marker rows (gx = -1, gy = iteration index, pos = the
    * maxDiff, movable = any core cell still movable). */
  private def tileRound(cur: DataFrame, w: Int, h: Int, tileSize: Int,
      halo: Int)(kernel: (ClothSim.GridState, GridTiles.Patch) => Array[Double])
      : DataFrame = {
    val spark = cur.sparkSession
    import spark.implicits._
    val t = tileSize
    val tiles = GridTiles.explode(cur, Seq("gx" -> w, "gy" -> h), t, halo)
      .select(GridTiles.tileCols(2) ++ Seq(col("gx"), col("gy"), col("hv"),
        col("pos"), col("old"), col("movable")): _*)
      .as[(Int, Int, Int, Int, Double, Double, Double, Boolean)]
    tiles.groupByKey(r => (r._1, r._2)).flatMapGroups { (tk, it) =>
      val p = GridTiles.Patch(Seq(tk._1, tk._2), Seq(w, h), t, halo)
      val st = ClothSim.GridState(p.size(0), p.size(1))
      it.foreach { r =>
        val i = p.index(r._3, r._4)
        st.hv(i) = r._5; st.pos(i) = r._6; st.old(i) = r._7; st.movable(i) = r._8
      }
      val diffs = kernel(st, p)
      val coreMovable = (p.lo(1) until p.hi(1)).exists(gy =>
        (p.lo(0) until p.hi(0)).exists(gx => st.movable(p.index(gx, gy))))
      val core = for {
        gy <- (p.lo(1) until p.hi(1)).iterator; gx <- (p.lo(0) until p.hi(0)).iterator
      } yield {
        val i = p.index(gx, gy)
        (gx, gy, st.hv(i), st.pos(i), st.old(i), st.movable(i))
      }
      core ++ diffs.iterator.zipWithIndex.map { case (d, i) =>
        (-1, i, 0.0, d, 0.0, coreMovable)
      }
    }.toDF("gx", "gy", "hv", "pos", "old", "movable")
  }

  /** Slope post-processing (Cloth::movableFilter, Cloth.cpp:150-254):
    * 4-connected components of still-movable particles larger than 50
    * are clamped to the surface from their unmovable edges inward while
    * the surface is smooth (|hv step| < 0.3) and the height conditions
    * hold. The reference's scan is order-dependent (live mutation during
    * a single pass); this computes the order-independent monotone
    * CLOSURE of its seed and spread rules — clamping only ever adds
    * unmovable cells, so the closure contains every sequential outcome.
    * CC sizes come from per-tile union-find + driver root merge (the
    * movable mask is a raster, borders are O(perimeter)); the spread
    * runs as per-tile fixpoints with frozen halo-1 edges, iterated until
    * no tile changes. */
  private def movableFilter(spark: SparkSession, settled: DataFrame,
      w: Int, h: Int, tileSize: Int): DataFrame = {
    import spark.implicits._
    // component sizes: per-tile union-find over the movable mask,
    // border adjacencies merged on the driver (two-phase CC)
    val t = tileSize
    val axes = Seq("gx" -> w, "gy" -> h)
    val cells = GridTiles.explode(settled.filter(col("movable")), axes, t, 0)
      .select(GridTiles.tileCols(2) ++ Seq(col("gx"), col("gy")): _*)
      .as[(Int, Int, Int, Int)]
    val perTile = cells.groupByKey(r => (r._1, r._2)).flatMapGroups { (tk, it) =>
      val p = GridTiles.Patch(Seq(tk._1, tk._2), Seq(w, h), t, 0)
      val arr = it.map(r => (r._3, r._4)).toArray
      val idx = arr.zipWithIndex.toMap
      val uf = new ClothSim.UnionFind(arr.length)
      for (((gx, gy), i) <- idx) {
        idx.get((gx + 1, gy)).foreach(uf.union(i, _))
        idx.get((gx, gy + 1)).foreach(uf.union(i, _))
      }
      // (cell key, tile-local root key); cells on the tile's edge
      // additionally emit (rootKey, borderKey) pairs for the driver merge
      arr.indices.iterator.map { i =>
        val (gx, gy) = arr(i); val (rx, ry) = arr(uf.find(i))
        (gx.toLong * h + gy, rx.toLong * h + ry,
          gx == p.lo(0) || gx == p.hi(0) - 1 || gy == p.lo(1) || gy == p.hi(1) - 1)
      }
    }.toDF("cell", "root", "border").persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // driver merge of cross-tile adjacencies between border cells
    val borders = perTile.filter(col("border"))
      .select("cell", "root").as[(Long, Long)].collect().toMap
    val bUf = new scala.collection.mutable.HashMap[Long, Long]
    def bFind(x: Long): Long = {
      val p = bUf.getOrElse(x, x)
      if (p == x) x else { val r = bFind(p); bUf(x) = r; r }
    }
    for ((cell, root) <- borders) {
      val gx = (cell / h).toInt; val gy = (cell % h).toInt
      for ((nx, ny) <- Seq((gx + 1, gy), (gx, gy + 1))
           if nx / t != gx / t || ny / t != gy / t) {
        borders.get(nx.toLong * h + ny).foreach { nroot =>
          val (a, b) = (bFind(root), bFind(nroot))
          if (a != b) bUf(math.max(a, b)) = math.min(a, b)
        }
      }
    }
    val rootMap = borders.values.toSet.map((r: Long) => r -> bFind(r)).toMap
    // driver-merged (root -> global label) relabeling as a broadcast
    // join (codegen'd hash lookup) rather than a per-row UDF; roots
    // absent from the border merge keep their tile-local label.
    val rootMapDf = rootMap.toSeq.toDF("root", "mlabel")
    val labeled = perTile
      .join(broadcast(rootMapDf), Seq("root"), "left")
      .withColumn("label", coalesce(col("mlabel"), col("root")))
    val bigLabels = labeled.groupBy("label").agg(count(lit(1)).as("n"))
      .filter(col("n") > 50).select("label")
    val inBig = labeled
      .join(broadcast(bigLabels), Seq("label"), "left_semi")
      .select((col("cell") / h).cast("int").as("gx"),
        (col("cell") % h).cast("int").as("gy"), lit(true).as("big"))
    // iterate per-tile clamp fixpoints (frozen halo) until stable
    var cur = Mat(settled.join(inBig, Seq("gx", "gy"), "left")
      .withColumn("big", coalesce(col("big"), lit(false))))
    var changedTotal = 1L
    while (changedTotal > 0) {
      val round = GridTiles.explode(cur, axes, t, 1)
        .select(GridTiles.tileCols(2) ++ Seq(col("gx"), col("gy"), col("hv"),
          col("pos"), col("old"), col("movable"), col("big")): _*)
        .as[(Int, Int, Int, Int, Double, Double, Double, Boolean, Boolean)]
        .groupByKey(r => (r._1, r._2)).flatMapGroups { (tk, it) =>
          val p = GridTiles.Patch(Seq(tk._1, tk._2), Seq(w, h), t, 1)
          val (pw, ph) = (p.size(0), p.size(1))
          val st = ClothSim.GridState(pw, ph)
          val big = new Array[Boolean](p.length)
          it.foreach { r =>
            val i = p.index(r._3, r._4)
            st.hv(i) = r._5; st.pos(i) = r._6; st.old(i) = r._7
            st.movable(i) = r._8; big(i) = r._9
          }
          val changed = ClothSim.clampFixpoint(st, big, pw, ph)
          for {
            gy <- (p.lo(1) until p.hi(1)).iterator; gx <- (p.lo(0) until p.hi(0)).iterator
          } yield {
            val i = p.index(gx, gy)
            (gx, gy, st.hv(i), st.pos(i), st.old(i), st.movable(i), big(i),
              changed.contains(i))
          }
        }.toDF("gx", "gy", "hv", "pos", "old", "movable", "big", "changed")
      val (mat, n) = Mat.withChangedCount(round, col("changed"))
      changedTotal = n
      cur = mat.drop("changed")
    }
    perTile.unpersist(false)
    cur.drop("big")
  }
}

/** Dense-array cloth kernel of one tile+halo patch. */
private[operators] object ClothSim {
  // Particle.h:29-30 correction tables, indexed by rigidness (<= 14)
  val doubleMove = Array(0.0, 0.3, 0.42, 0.468, 0.4872, 0.4949, 0.498,
    0.4992, 0.4997, 0.4999, 0.4999, 0.5, 0.5, 0.5, 0.5)
  val singleMove = Array(0.0, 0.3, 0.51, 0.657, 0.7599, 0.83193, 0.88235,
    0.91765, 0.94235, 0.95965, 0.97175, 0.98023, 0.98616, 0.99031, 0.99322)
  // the 16 constraint offsets (Cloth.cpp:68-101), canonical fold order
  val offs: Array[Int] = Array(-1, 0, 1, 0, 0, -1, 0, 1, -1, -1, 1, 1, 1, -1,
    -1, 1, -2, 0, 2, 0, 0, -2, 0, 2, -2, -2, 2, 2, 2, -2, -2, 2)

  final case class GridState(pw: Int, ph: Int) {
    val hv = new Array[Double](pw * ph)
    val pos = new Array[Double](pw * ph)
    val old = new Array[Double](pw * ph)
    val movable = new Array[Boolean](pw * ph)
  }

  /** k iterations of verlet + frozen-neighbor constraints + collision
    * over the patch `p`; per-iteration max |pos change| over the core
    * movable cells (measured after the constraint pass, matching
    * Cloth::timeStep's read point). Neighbors outside the GLOBAL
    * [0,W)x[0,H) grid do not exist (true cloth boundary), neighbors
    * outside the patch but inside the global grid are treated as absent
    * — only halo cells ever see that, and the halo width keeps the core
    * exact. */
  def run(st: GridState, p: GridTiles.Patch, w: Int, h: Int, k: Int,
      rigid: Int, step: Double): Array[Double] = {
    val pw = p.size(0); val ph = p.size(1)
    val gx0 = p.origin(0); val gy0 = p.origin(1)
    // the core box in patch coordinates
    val cx0 = p.lo(0) - gx0; val cx1 = p.hi(0) - gx0
    val cy0 = p.lo(1) - gy0; val cy1 = p.hi(1) - gy0
    val g = -0.2 * step * step * step * step // addForce(dt^2) * dt^2
    // each constraint is stored on both endpoints (Cloth::makeConstraint),
    // so the reference pass applies every edge twice per sweep; the
    // frozen fold emulates the double application as f' = 1-(1-f)^2
    val dm0 = if (rigid > 14) 0.5 else doubleMove(rigid)
    val sm0 = if (rigid > 14) 1.0 else singleMove(rigid)
    val dm = 2 * dm0 - dm0 * dm0
    val sm = 2 * sm0 - sm0 * sm0
    val snapPos = new Array[Double](pw * ph)
    val snapMov = new Array[Boolean](pw * ph)
    val prev = new Array[Double](pw * ph)
    val diffs = new Array[Double](k)
    var it = 0
    while (it < k) {
      // verlet (Particle::timeStep, damping 0.01)
      System.arraycopy(st.pos, 0, prev, 0, pw * ph)
      var i = 0
      while (i < pw * ph) {
        if (st.movable(i)) {
          val p = st.pos(i)
          st.pos(i) = p + (p - st.old(i)) * 0.99 + g
          st.old(i) = p
        }
        i += 1
      }
      // frozen-neighbor constraint relaxation, symmetric normalized
      // form: total pull W = 1 - prod(1 - f_i) toward the f-weighted
      // neighbor mean — neighbor-order independent (no fold-order
      // anisotropy), convex (r stays inside the neighborhood envelope),
      // equal to the sequential fold when all factors agree. The
      // constraint displacement only half-enters the Verlet velocity
      // (old is shifted by the other half): an undamped frozen pass
      // slingshots clamp-adjacent particles (fold jump -> momentum ->
      // overshoot past the collision surface), while full damping makes
      // hanging regions integrate gravity unboundedly; 0.5 kills the
      // ring and leaves free-fall descent (fold = no-op) at full speed.
      System.arraycopy(st.pos, 0, snapPos, 0, pw * ph)
      System.arraycopy(st.movable, 0, snapMov, 0, pw * ph)
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          val i2 = y * pw + x
          if (snapMov(i2)) {
            var sumF = 0.0; var sumFq = 0.0; var prod = 1.0
            var o = 0
            while (o < 32) {
              val nx = x + offs(o); val ny = y + offs(o + 1)
              val agx = gx0 + nx; val agy = gy0 + ny
              if (nx >= 0 && nx < pw && ny >= 0 && ny < ph &&
                  agx >= 0 && agx < w && agy >= 0 && agy < h) {
                val j = ny * pw + nx
                val f = if (snapMov(j)) dm else sm
                sumF += f; sumFq += f * snapPos(j); prod *= 1.0 - f
              }
              o += 2
            }
            if (sumF > 0) {
              val r0 = snapPos(i2)
              val r1 = r0 + (1.0 - prod) * (sumFq / sumF - r0)
              st.pos(i2) = r1
              st.old(i2) += 0.5 * (r1 - r0)
            }
          }
          x += 1
        }
        y += 1
      }
      // core maxDiff (pre-collision, like the reference)
      var md = 0.0
      var cy = cy0
      while (cy < cy1) {
        var cx = cx0
        while (cx < cx1) {
          val i3 = cy * pw + cx
          if (st.movable(i3)) {
            val d = math.abs(st.pos(i3) - prev(i3))
            if (d > md) md = d
          }
          cx += 1
        }
        cy += 1
      }
      diffs(it) = md
      // collision (Cloth::terrCollision): clamp + freeze
      i = 0
      while (i < pw * ph) {
        if (st.movable(i) && st.pos(i) < st.hv(i)) {
          st.pos(i) = st.hv(i); st.movable(i) = false
        }
        i += 1
      }
      it += 1
    }
    diffs
  }

  /** Seed + spread clamp closure inside one patch (frozen halo edges);
    * returns the patch indices that changed. Seed (findUnmovablePoint,
    * Cloth.cpp:246-332): movable big-component cell with an unmovable
    * 4-neighbor, |hv - hv_nbr| < 0.3 and pos - hv < 9999. Spread
    * (handle_slop_connected :335-365): from a clamped cell c to a
    * movable big 4-neighbor n when |hv_c - hv_n| < 0.3 and
    * |pos_n - hv_n| < 9999. */
  def clampFixpoint(st: GridState, big: Array[Boolean], pw: Int, ph: Int)
      : scala.collection.mutable.Set[Int] = {
    val changed = scala.collection.mutable.Set[Int]()
    var dirty = true
    while (dirty) {
      dirty = false
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          val i = y * pw + x
          if (st.movable(i) && big(i)) {
            var clamp = false
            var d = 0
            val nb = Array(-1, 0, 1, 0, 0, -1, 0, 1)
            while (d < 8 && !clamp) {
              val nx = x + nb(d); val ny = y + nb(d + 1)
              if (nx >= 0 && nx < pw && ny >= 0 && ny < ph) {
                val j = ny * pw + nx
                if (!st.movable(j)) {
                  // the seed rule compares this cell's hv to the
                  // unmovable neighbor's; the spread rule (neighbor was
                  // clamped by this pass) is the same comparison seen
                  // from the clamped side
                  if (math.abs(st.hv(i) - st.hv(j)) < 0.3 &&
                      st.pos(i) - st.hv(i) < 9999 &&
                      math.abs(st.pos(i) - st.hv(i)) < 9999) clamp = true
                }
              }
              d += 2
            }
            if (clamp) {
              st.pos(i) = st.hv(i); st.movable(i) = false
              changed += i; dirty = true
            }
          }
          x += 1
        }
        y += 1
      }
    }
    changed
  }

  final class UnionFind(n: Int) {
    private val p = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (p(x) != x) p(x) = find(p(x)); p(x) }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) p(rb) = ra else p(ra) = rb }
    }
  }
}
