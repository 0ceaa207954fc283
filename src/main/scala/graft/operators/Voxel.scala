package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Voxel-grid dedup/thinning family. All "first point" semantics use
  * min(order_key) per voxel — the distributed-exact analog of PDAL's
  * insertion-order "first" (SURVEY §7.4.1).
  */
object Voxel {
  /** Voxel coordinates per VoxelDownsizeFilter.cpp:122-157: origin =
    * first point - cell/2, then floor((v-origin)/cell). */
  private def voxelCols(df: DataFrame, cell: Double,
      origin: (Double, Double, Double)): (Column, Column, Column) = {
    val (ox, oy, oz) = origin
    (floor((col("x") - ox) / cell).cast("long"),
     floor((col("y") - oy) / cell).cast("long"),
     floor((col("z") - oz) / cell).cast("long"))
  }

  /** Voxel keys as the aggregate side of a voxel self-join names them,
    * and the predicate pairing them with a row's own. */
  private val aggKeys = Seq(col("__vx").as("__bx"), col("__vy").as("__by"), col("__vz").as("__bz"))
  private val sameVoxel =
    col("__vx") === col("__bx") && col("__vy") === col("__by") && col("__vz") === col("__bz")

  /** Origin from the minimum-order_key row: first-point coords - cell/2
    * (VoxelDownsizeFilter.cpp:131-136). */
  def firstPointOrigin(df: DataFrame, cell: Double): (Double, Double, Double) = {
    val r = df.agg(min_by(col("x"), col("order_key")),
      min_by(col("y"), col("order_key")),
      min_by(col("z"), col("order_key"))).head()
    if (r.isNullAt(0)) (0.0, 0.0, 0.0) // empty input: any origin works
    else (r.getDouble(0) - cell / 2, r.getDouble(1) - cell / 2,
      r.getDouble(2) - cell / 2)
  }

  /** filters.voxeldownsize (filters/VoxelDownsizeFilter.cpp:44): keep the
    * first point of each voxel; mode "center" snaps kept coords to the
    * voxel center. */
  def downsize(df: DataFrame, cell: Double, mode: String = "first",
      origin: Option[(Double, Double, Double)] = None): DataFrame = {
    val o = origin.getOrElse(firstPointOrigin(df, cell))
    val (vx, vy, vz) = voxelCols(df, cell, o)
    val keyed = df.withColumn("__vx", vx).withColumn("__vy", vy).withColumn("__vz", vz)
    val firsts = keyed.groupBy(aggKeys: _*).agg(min("order_key").as("__keep"))
    val kept = keyed.join(firsts, sameVoxel && col("order_key") === col("__keep"),
      "left_semi")
    val out =
      if (mode == "center") kept
        .withColumn("x", (col("__vx") + 0.5) * cell + o._1)
        .withColumn("y", (col("__vy") + 0.5) * cell + o._2)
        .withColumn("z", (col("__vz") + 0.5) * cell + o._3)
      else kept
    out.drop("__vx", "__vy", "__vz")
  }

  /** filters.voxelcenternearestneighbor
    * (filters/VoxelCenterNearestNeighborFilter.cpp:49): keep the point
    * nearest each voxel center; ties -> first (min order_key). */
  def centerNearestNeighbor(df: DataFrame, cell: Double,
      origin: Option[(Double, Double, Double)] = None): DataFrame = {
    val o = origin.getOrElse(firstPointOrigin(df, cell))
    val (vx, vy, vz) = voxelCols(df, cell, o)
    val dx = col("x") - ((col("__vx") + 0.5) * cell + o._1)
    val dy = col("y") - ((col("__vy") + 0.5) * cell + o._2)
    val dz = col("z") - ((col("__vz") + 0.5) * cell + o._3)
    val keyed = df.withColumn("__vx", vx).withColumn("__vy", vy).withColumn("__vz", vz)
      .withColumn("__d2", dx * dx + dy * dy + dz * dz)
    val best = keyed.groupBy(aggKeys: _*)
      .agg(min_by(col("order_key"), struct(col("__d2"), col("order_key"))).as("__keep"))
    keyed.join(best, sameVoxel && col("order_key") === col("__keep"), "left_semi")
      .drop("__vx", "__vy", "__vz", "__d2")
  }

  /** filters.voxelcentroidnearestneighbor
    * (filters/VoxelCentroidNearestNeighborFilter.cpp:51): two-pass — voxel
    * centroid aggregate, then keep the point nearest its centroid. */
  def centroidNearestNeighbor(df: DataFrame, cell: Double,
      origin: Option[(Double, Double, Double)] = None): DataFrame = {
    val o = origin.getOrElse(firstPointOrigin(df, cell))
    val (vx, vy, vz) = voxelCols(df, cell, o)
    val keyed = df.withColumn("__vx", vx).withColumn("__vy", vy).withColumn("__vz", vz)
    val cent = keyed.groupBy("__vx", "__vy", "__vz")
      .agg(avg("x").as("__cx"), avg("y").as("__cy"), avg("z").as("__cz"))
    val d2 = (col("x") - col("__cx")) * (col("x") - col("__cx")) +
      (col("y") - col("__cy")) * (col("y") - col("__cy")) +
      (col("z") - col("__cz")) * (col("z") - col("__cz"))
    val withC = keyed.join(cent, Seq("__vx", "__vy", "__vz"))
      .withColumn("__d2", d2)
    val best = withC.groupBy(aggKeys: _*)
      .agg(min_by(col("order_key"), struct(col("__d2"), col("order_key"))).as("__keep"))
    withC.join(best, sameVoxel && col("order_key") === col("__keep"), "left_semi")
      .drop("__vx", "__vy", "__vz", "__cx", "__cy", "__cz", "__d2")
  }
}

/** filters.sample analog (filters/SampleFilter.cpp:47): Poisson-disk
  * thinning — keep point p iff no already-kept point within `radius`,
  * scanning in insertion order. The sequential greedy is reproduced
  * exactly by a fixpoint: p is decidable once every earlier point within
  * radius is decided; kept iff none of them kept. Expected rounds are
  * O(log n) for shuffled order (dependency-chain depth).
  */
object Sample {
  /** Conflict-edge count at or below which the greedy runs on the
    * driver; `localLimit` 0 pins the distributed fixpoint. */
  private[graft] val localEdgeLimit: Long = 1L << 21

  def apply(df: DataFrame, radius: Double): DataFrame =
    apply(df, radius, localEdgeLimit)

  def apply(df: DataFrame, radius: Double, localLimit: Long): DataFrame = {
    val spark = df.sparkSession
    val pts = df.select("order_key", "x", "y", "z")
    // conflict pairs: earlier bk conflicts with later ak strictly inside radius
    val pairs = RadiusJoin.self(df, radius)
      .filter(col("bk") < col("ak") && col("__d2") < radius * radius)
      .select(col("ak"), col("bk"))
      .transform(d => graft.core.Mat(d))

    // Local fast path: when the CONFLICT EDGE list fits the driver, run
    // the sequential greedy directly over it — it IS the reference
    // semantics (SampleFilter.cpp processes points in order), and only
    // edge-endpoint keys matter: a point with no conflict edge is kept
    // unconditionally and never collected. The distributed fixpoint below
    // stays as the scale path (round count = dependency-chain depth).
    if (pairs.count() <= localLimit) {
      import spark.implicits._
      val edges = pairs.select(col("ak"), col("bk")).as[(Long, Long)].collect()
      // group earlier-conflicts by the later endpoint, walk keys ascending
      val byLater = new scala.collection.mutable.LongMap[List[Long]]()
      edges.foreach { case (ak, bk) =>
        byLater(ak) = bk :: byLater.getOrElse(ak, Nil)
      }
      val keys = edges.iterator.flatMap(e => Iterator(e._1, e._2))
        .toArray.distinct.sorted
      val kept = scala.collection.mutable.HashSet.empty[Long]
      val rejected = Array.newBuilder[Long]
      keys.foreach { k =>
        if (byLater.getOrElse(k, Nil).exists(kept.contains)) rejected += k
        else kept.add(k)
      }
      val rej = spark.createDataset(rejected.result().toSeq)
        .toDF("order_key")
      return df.join(broadcast(rej), Seq("order_key"), "left_anti")
    }

    // fixpoint: decided(k) with kept flag
    var decided = pts.select(col("order_key").as("k"))
      .join(pairs.select(col("ak").as("k")).distinct(), Seq("k"), "left_anti")
      .withColumn("kept", lit(true)) // no earlier conflict at all -> kept
      .transform(d => graft.core.Mat(d))
    var remaining = pts.select(col("order_key").as("k"))
      .join(decided.select("k"), Seq("k"), "left_anti")
      .transform(d => graft.core.Mat(d))
    while (!remaining.isEmpty) {
      // p decidable when all earlier conflicts are decided
      val pend = pairs.join(remaining, pairs("ak") === remaining("k"), "left_semi")
      val undecidedDep = pend.join(decided, pend("bk") === decided("k"), "left_anti")
        .select(col("ak")).distinct()
      val decidable = remaining.join(undecidedDep,
        remaining("k") === undecidedDep("ak"), "left_anti")
      val keptEarlier = pend.join(decided.filter(col("kept")),
          pend("bk") === decided("k"), "left_semi")
        .select(col("ak")).distinct()
      val newly = decidable.join(keptEarlier, decidable("k") === keptEarlier("ak"), "left")
        .select(col("k"), col("ak").isNull.as("kept"))
      decided = decided.unionByName(newly).transform(d => graft.core.Mat(d))
      remaining = remaining.join(newly.select("k"), Seq("k"), "left_anti")
        .transform(d => graft.core.Mat(d))
    }
    df.join(decided.filter(col("kept")).select(col("k").as("order_key")),
      Seq("order_key"), "left_semi")
  }
}

/** filters.relaxationdartthrowing analog
  * (filters/RelaxationDartThrowing.cpp:51): shrink the poisson-disk
  * radius by `decay` until at least `count` points survive. */
object RelaxationDartThrowing {
  def apply(df: DataFrame, targetCount: Long, startRadius: Double,
      decay: Double = 0.9, maxIters: Int = 20): DataFrame = {
    var r = startRadius
    var out = Sample(df, r)
    var iters = 1
    while (out.count() < targetCount && iters < maxIters) {
      r *= decay
      out = Sample(df, r)
      iters += 1
    }
    out
  }
}

/** filters.fps analog (filters/FarthestPointSamplingFilter.cpp:51):
  * iterative farthest-point sampling; first pick = first point in order
  * (reference picks point 0), then argmax of min-distance to the chosen
  * set. k driver iterations, each one scan. */
object Fps {
  def apply(df: DataFrame, count: Int): DataFrame = {
    val spark = df.sparkSession
    var pts = df.select("order_key", "x", "y", "z")
      .withColumn("__mind", lit(Double.MaxValue))
      .transform(d => graft.core.Mat(d))
    val firstArr = pts.orderBy("order_key")
      .select("order_key", "x", "y", "z").take(1)
    if (firstArr.isEmpty) return df // empty input
    val first = firstArr(0)
    var chosen = List(first.getLong(0))
    var (cx, cy, cz) = (first.getDouble(1), first.getDouble(2), first.getDouble(3))
    var lastId = first.getLong(0)
    var i = 1
    var exhausted = false
    while (i < count && !exhausted) {
      val d2 = (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy) +
        (col("z") - cz) * (col("z") - cz)
      // drop the just-chosen point from the working set (a growing
      // chosen-id IN-list would re-plan O(count) literals per round)
      pts = pts.filter(col("order_key") =!= lastId)
        .withColumn("__mind", least(col("__mind"), d2))
        .transform(d => graft.core.Mat(d))
      val nextArr = pts.orderBy(col("__mind").desc, col("order_key").asc).take(1)
      if (nextArr.isEmpty) exhausted = true // count > |points|: keep all
      else {
        val next = nextArr(0)
        lastId = next.getLong(0)
        chosen = lastId :: chosen
        cx = next.getDouble(1); cy = next.getDouble(2); cz = next.getDouble(3)
        i += 1
      }
    }
    df.filter(col("order_key").isInCollection(chosen))
  }
}
