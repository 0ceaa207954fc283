package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** filters.cluster analog (filters/ClusterFilter.cpp:48): Euclidean
  * connected components within `tolerance` -> ClusterID.
  *
  * TWO-PHASE CC (local contraction + global propagation):
  *
  * 1. LOCAL: points group by their tolerance-grid cell; a per-cell
  *    union-find resolves every in-cell component inside the task. The
  *    O(m^2) in-cell pair candidates are generated AND consumed locally
  *    — they never shuffle (round 1 shuffled the full edge list; the
  *    dominant cost of CC at scale is exactly that edge shuffle).
  * 2. CONTRACT: only pairs that CROSS a cell boundary (half-shell halo
  *    join, 13 directions) survive, mapped to their local roots — the
  *    contracted graph has one node per (cell, local component), orders
  *    of magnitude smaller than the point set.
  * 3. GLOBAL: when the contracted edge list fits the driver (the common
  *    case — one node per (cell, local component)), a single driver
  *    union-find labels it and the map is broadcast back; past
  *    [[Components.localEdgeLimit]] the scale path is distributed min-label
  *    propagation with pointer jumping (path halving): each round a root
  *    takes the min label of its neighborhood, then labels chase their
  *    own parents one hop (lbl <- lbl(lbl)), so convergence is O(log
  *    diameter) rounds — and every round now touches roots, not points.
  *    The changed-row count rides the materialization job
  *    (Mat.withChangedCount): one job per round. Both paths converge to
  *    the min node id per component — identical output.
  *
  * Labels are point keys; the local root is the min key of its cell
  * component, so the converged global label is the min point key of the
  * whole component — identical output to a flat min-label CC.
  *
  * Dense-cell caveat: a blob of m points in one cell still costs O(m^2)
  * distance checks inside its task (with union-find early-exit once
  * connected), but no longer O(m^2) shuffled edge rows. Cap the residual
  * compute upstream with voxel downsampling at cell ~= tolerance.
  */
object Cluster {
  /** The global phase runs as a driver union-find over the collected root
    * edges while they number at most [[Components.localEdgeLimit]]
    * (~16 bytes/edge -> ~32 MB) instead of the distributed
    * label-propagation loop — the same honest local fast path as
    * KnnJoin's broadcast index: the CONTRACTED graph is usually orders of
    * magnitude smaller than the point set, and each propagation round is
    * a fixed-cost Spark job, so small graphs are pure job overhead.
    * `edgeLimit` 0 pins the distributed loop. */
  def apply(df: DataFrame, tolerance: Double, minPoints: Long = 1,
      outCol: String = "cluster_id"): DataFrame =
    apply(df, tolerance, minPoints, outCol, Components.localEdgeLimit)

  private[graft] def apply(df: DataFrame, tolerance: Double, minPoints: Long,
      outCol: String, edgeLimit: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val r2 = tolerance * tolerance
    def cellC(c: Column) = floor(c / tolerance).cast("long")
    val withCell = df.select(col("order_key").as("k"),
      col("x"), col("y"), col("z"),
      cellC(col("x")).as("cx"), cellC(col("y")).as("cy"), cellC(col("z")).as("cz"))
    // 1. local union-find per cell -> (k, x, y, z, cell..., lroot)
    val local = graft.core.Mat(withCell
      .as[(Long, Double, Double, Double, Long, Long, Long)]
      .groupByKey(t => (t._5, t._6, t._7))
      .flatMapGroups { (_, it) =>
        val arr = it.toArray
        val n = arr.length
        val parent = Array.tabulate(n)(identity)
        def find(i: Int): Int = {
          var x = i
          while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
          x
        }
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val ri = find(i); val rj = find(j)
            if (ri != rj) { // skip the distance once already connected
              val dx = arr(i)._2 - arr(j)._2
              val dy = arr(i)._3 - arr(j)._3
              val dz = arr(i)._4 - arr(j)._4
              if (dx * dx + dy * dy + dz * dz <= r2) parent(ri) = rj
            }
            j += 1
          }
          i += 1
        }
        val minKey = new scala.collection.mutable.HashMap[Int, Long]()
        i = 0
        while (i < n) {
          val r = find(i)
          val k = arr(i)._1
          if (!minKey.contains(r) || k < minKey(r)) minKey(r) = k
          i += 1
        }
        arr.indices.iterator.map { i =>
          val t = arr(i)
          (t._1, t._2, t._3, t._4, t._5, t._6, t._7, minKey(find(i)))
        }
      }.toDF("k", "x", "y", "z", "cx", "cy", "cz", "lroot"))
    // 2. cross-cell pairs via half-shell halo (each unordered cell pair
    //    joined once), contracted to root edges; both directions emitted
    //    so min labels flow symmetrically in the loop
    val halfShell = (for (dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1
      if dx > 0 || (dx == 0 && dy > 0) || (dx == 0 && dy == 0 && dz > 0))
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"), lit(dz).as("dz")))
    val a = local.select(col("x").as("ax"), col("y").as("ay"), col("z").as("az"),
        col("lroot").as("ra"), col("cx").as("cx0"), col("cy").as("cy0"),
        col("cz").as("cz0"))
      .withColumn("__o", explode(array(halfShell: _*)))
      .select(col("ax"), col("ay"), col("az"), col("ra"),
        (col("cx0") + col("__o.dx")).as("cx"),
        (col("cy0") + col("__o.dy")).as("cy"),
        (col("cz0") + col("__o.dz")).as("cz"))
    val b = local.select(col("x").as("bx"), col("y").as("by"), col("z").as("bz"),
      col("lroot").as("rb"), col("cx"), col("cy"), col("cz"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by")) +
      (col("az") - col("bz")) * (col("az") - col("bz"))
    // 3. global labels over the CONTRACTED graph only (Components: driver
    //    union-find fast path under edgeLimit, min-label propagation with
    //    pointer jumping past it). Node ids are point keys and every
    //    local root is the MIN key of its cell component, so the
    //    converged global label (min point key of the whole component)
    //    equals the min node id of the connected root graph.
    val (labels, labelsSmall) = Components.minLabels(
      a.join(b, Seq("cx", "cy", "cz")).filter(d2 <= r2)
        .select(col("ra"), col("rb")), edgeLimit)
    // 4. point label = its local root's global label (roots without any
    //    cross-cell edge keep themselves)
    val lblSide = labels.select(col("k").as("lroot"), col("lbl"))
    val pointLabels = local.select(col("k"), col("lroot"))
      .join(if (labelsSmall) broadcast(lblSide) else lblSide, Seq("lroot"), "left")
      .select(col("k"), coalesce(col("lbl"), col("lroot")).as("lbl"))
    // densify: cluster id = 1-based rank of the root label, computed with
    // the range-partitioned global rank (roots only — small, but never a
    // single-partition window even when they aren't)
    val roots = pointLabels.select("lbl").distinct()
    val dense = Order.globalRankBy(roots, Seq(col("lbl").asc), "__r")
      .select(col("lbl"), (col("__r") + 1).as("cid"))
    val sized = pointLabels.groupBy("lbl").agg(count(lit(1)).as("__sz"))
    val withId = pointLabels.join(dense, Seq("lbl")).join(sized, Seq("lbl"))
      .select(col("k").as("order_key"),
        when(col("__sz") >= minPoints, col("cid")).otherwise(lit(0L)).as(outCol))
    df.join(withId, Seq("order_key"), "left")
  }
}

/** filters.dbscan analog (filters/DBSCANFilter.cpp:51): core points have
  * >= min_points neighbors (self included) within eps; clusters = CC over
  * core points; border points join a neighboring core's cluster; noise
  * gets -1. */
object Dbscan {
  def apply(df: DataFrame, eps: Double, minPoints: Long,
      outCol: String = "cluster_id"): DataFrame = {
    // Two LAZY radius joins beat one materialized pair set: in-eps pairs
    // are quadratic in local density (near-clique clusters make millions
    // of them), but both consumers aggregate in place — the 27-cell join
    // streams through a partial agg and nothing pair-shaped is ever
    // persisted. A Mat(pairs) variant measured 2.7x SLOWER at sf0.1
    // purely on the cache write of the ~20M-row pair set.
    val counts = RadiusCount(df, eps)
    val core = df.join(counts, Seq("order_key"), "left")
      .filter(coalesce(col("__rc"), lit(1L)) >= minPoints)
      .drop("__rc")
      .transform(d => graft.core.Mat(d))
    val coreClusters = Cluster(core, eps, outCol = "__ccid")
      .select(col("order_key").as("ck"), col("__ccid"))
    // border points: smallest cluster id among in-eps cores (deterministic
    // tie-break on the id, matching the oracle/test contract)
    val pairs = RadiusCount.pairs(df, eps)
    val toCore = pairs.join(coreClusters, pairs("qk") === coreClusters("ck"))
      .groupBy(col("pk")).agg(min("__ccid").as("__bcid"))
    df.join(coreClusters.select(col("ck").as("order_key"), col("__ccid")),
        Seq("order_key"), "left")
      .join(toCore.select(col("pk").as("order_key"), col("__bcid")),
        Seq("order_key"), "left")
      .withColumn(outCol,
        coalesce(col("__ccid"), col("__bcid"), lit(-1L)))
      .drop("__ccid", "__bcid")
  }
}

/** filters.lloydkmeans analog (filters/LloydKMeansFilter.cpp:46): Lloyd
  * iterations entirely as DataFrame aggregates; deterministic init = the
  * k lowest order_key points (the reference seeds from the view — we pin
  * the deterministic variant). */
object KMeans {
  def apply(df: DataFrame, k: Int, maxIters: Int = 10,
      outCol: String = "cluster_id"): DataFrame = {
    var centroids = df.orderBy("order_key").limit(k)
      .select("x", "y", "z").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    var iter = 0
    while (iter < maxIters) {
      val next = df.withColumn("__c", assignCol(centroids))
        .groupBy("__c").agg(avg("x"), avg("y"), avg("z"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      val updated = centroids.indices.map(i => next.getOrElse(i, centroids(i))).toArray
      if (updated.sameElements(centroids)) iter = maxIters
      else { centroids = updated; iter += 1 }
    }
    df.withColumn(outCol, assignCol(centroids).cast("long"))
  }

  private def assignCol(cs: Array[(Double, Double, Double)]): Column = {
    val dists = cs.zipWithIndex.map { case ((cx, cy, cz), i) =>
      struct(((col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy) +
        (col("z") - cz) * (col("z") - cz)).as("d"), lit(i).as("i"))
    }
    array_min(array(dists: _*)).getField("i")
  }
}
