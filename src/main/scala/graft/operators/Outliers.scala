package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Noise/outlier classification family. The neighborhood members ride on
  * the KnnJoin primitive; the global thresholds are single aggregates. */
object Outlier {
  /** filters.outlier method=statistical (filters/OutlierFilter.cpp:103-155):
    * per point, mean distance to its mean_k nearest (self excluded);
    * threshold = mean + multiplier * sample-stddev of those means; points
    * at/above threshold get `noiseClass` (default LowPoint=7), or are
    * dropped with `removeOutliers`. */
  def statistical(df: DataFrame, meanK: Int = 8, multiplier: Double = 2.0,
      noiseClass: Int = 7, remove: Boolean = false, cellSize: Double = 0.0): DataFrame = {
    val knn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, meanK + 1,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    val nbrs = KnnJoin.selfExcluded
    val meanDist = knn.rows.select(col("order_key"),
      (aggregate(nbrs, lit(0.0), (acc, h) => acc + sqrt(h.getField("d2"))) /
        greatest(size(nbrs), lit(1))).as("__md"))
    val t = meanDist.agg(coalesce(avg("__md"), lit(0.0)),
      coalesce(stddev_samp(col("__md")), lit(0.0))).head() // null stddev at n=1
    val threshold = t.getDouble(0) + multiplier * t.getDouble(1)
    val flagged = KnnJoin.attach(df, meanDist, knn.queryRows)
    if (remove) flagged.filter(col("__md") < threshold).drop("__md")
    else flagged.withColumn("classification",
      when(col("__md") >= threshold, lit(noiseClass)).otherwise(col("classification")))
      .drop("__md")
  }

  /** filters.outlier method=radius (:80-101): outlier when the number of
    * neighbors within `radius` (self included) is <= min_k. */
  def radius(df: DataFrame, radius: Double, minK: Int = 2,
      noiseClass: Int = 7, remove: Boolean = false): DataFrame = {
    val counts = RadiusCount(df, radius)
    val flagged = df.join(counts, Seq("order_key"), "left")
    val isIn = col("__rc") > minK
    if (remove) flagged.filter(isIn).drop("__rc")
    else flagged.withColumn("classification",
      when(!isIn, lit(noiseClass)).otherwise(col("classification"))).drop("__rc")
  }
}

/** The fixed-radius neighbour join: every (query, candidate) pair whose
  * squared distance over the named coordinate columns, (x, y) or
  * (x, y, z) and summed in that order, is <= radius^2. One cell join at
  * cell side `radius`: each query row is exploded over its 3^d
  * neighbour cells and meets the candidates binned in the cell it lands
  * on, so every pair within radius meets exactly once. Returns the
  * columns of both sides (their names must differ) plus the squared
  * distance `__d2`; self-exclusion, strictness and aggregation stay with
  * the caller. */
object RadiusJoin {
  def apply(query: DataFrame, queryCoords: Seq[String], cand: DataFrame,
      candCoords: Seq[String], radius: Double): DataFrame = {
    val dims = queryCoords.size
    require((dims == 2 || dims == 3) && candCoords.size == dims,
      s"RadiusJoin: need 2 or 3 coordinates per side, got $queryCoords / $candCoords")
    val keys = (0 until dims).map(i => s"__rj$i")
    def cell(c: String) = floor(col(c) / radius).cast("long")
    val offs = (1 until dims).foldLeft((-1 to 1).map(Seq(_)))((acc, _) =>
      for (o <- acc; d <- -1 to 1) yield o :+ d)
    val q = query
      .withColumn("__rjo", explode(array(offs.map(o => array(o.map(lit): _*)): _*)))
      .select(col("*") +: keys.indices.map(i =>
        (cell(queryCoords(i)) + col("__rjo")(i)).as(keys(i))): _*)
      .drop("__rjo")
    val c = cand.select(col("*") +: keys.indices.map(i =>
      cell(candCoords(i)).as(keys(i))): _*)
    val d2 = queryCoords.zip(candCoords)
      .map { case (a, b) => (col(a) - col(b)) * (col(a) - col(b)) }
      .reduce(_ + _)
    q.join(c, keys).drop(keys: _*)
      .withColumn("__d2", d2).filter(col("__d2") <= radius * radius)
  }

  /** The 3-D self join of `df`'s points: the query's order_key, x, y, z
    * as ak, ax, ay, az and the candidate's as bk, bx, by, bz. */
  def self(df: DataFrame, radius: Double): DataFrame = {
    def side(p: String) = df.select(col("order_key").as(s"${p}k"),
      col("x").as(s"${p}x"), col("y").as(s"${p}y"), col("z").as(s"${p}z"))
    def xyz(p: String) = Seq("x", "y", "z").map(p + _)
    apply(side("a"), xyz("a"), side("b"), xyz("b"), radius)
  }
}

/** Count of points within `radius` of each point (self included), over
  * RadiusJoin; the shared primitive for radius outlier, radialdensity
  * and dbscan. */
object RadiusCount {
  def apply(df: DataFrame, radius: Double, outCol: String = "__rc"): DataFrame =
    RadiusJoin.self(df, radius)
      .groupBy(col("ak").as("order_key")).agg(count(lit(1)).as(outCol))

  /** All (p, q) pairs within radius, p != q, with distance. */
  def pairs(df: DataFrame, radius: Double): DataFrame =
    RadiusJoin.self(df, radius).filter(col("ak") =!= col("bk"))
      .select(col("ak").as("pk"), col("bk").as("qk"), sqrt(col("__d2")).as("dist"))
}

/** filters.radialdensity (filters/RadialDensityFilter.cpp:48): neighbor
  * count within radius / sphere volume -> RadialDensity dim. */
object RadialDensity {
  def apply(df: DataFrame, radius: Double): DataFrame = {
    val vol = 4.0 / 3.0 * math.Pi * radius * radius * radius
    df.join(RadiusCount(df, radius), Seq("order_key"), "left")
      .withColumn("radial_density", coalesce(col("__rc"), lit(0L)).cast("double") / vol)
      .drop("__rc")
  }
}

/** filters.iqr (filters/IQRFilter.cpp:71-97): keep values within
  * [Q1 - k*IQR, Q3 + k*IQR] of a dimension (exact quantiles). */
object Iqr {
  def apply(df: DataFrame, dim: String, k: Double = 1.5): DataFrame = {
    val q = df.agg(percentile(col(dim).cast("double"), lit(0.25)),
      percentile(col(dim).cast("double"), lit(0.75))).head()
    val (q1, q3) = (q.getDouble(0), q.getDouble(1))
    val iqr = q3 - q1
    df.filter(col(dim) >= q1 - k * iqr && col(dim) <= q3 + k * iqr)
  }
}

/** filters.mad (filters/MADFilter.cpp:73-105): keep |v - median| <
  * k * (MAD * mad_multiplier), default multiplier 1.4862. */
object Mad {
  def apply(df: DataFrame, dim: String, k: Double = 2.0,
      madMultiplier: Double = 1.4862): DataFrame = {
    val v = col(dim).cast("double")
    val med = df.agg(median(v)).head().getDouble(0)
    val mad = df.agg(median(abs(v - med))).head().getDouble(0) * madMultiplier
    df.filter(abs(v - med) < k * mad)
  }
}

/** filters.lof (filters/LOFFilter.cpp:49): local outlier factor —
  * NNDistance (k-distance), local reachability density and LOF dims. */
object Lof {
  def apply(df: DataFrame, minPts: Int = 10, cellSize: Double = 0.0): DataFrame = {
    val knn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, minPts + 1,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    val nbrs = knn.rows.select(col("order_key"), KnnJoin.selfExcluded.as("nbrs"))
      // greatest(..., 1): a point with no neighbors (single-row input)
      // probes index 1 for a null k-distance — index 0 throws
      .withColumn("kdist", sqrt(try_element_at(col("nbrs"),
        greatest(size(col("nbrs")), lit(1))).getField("d2")))
    val edges = nbrs.select(col("order_key"), col("kdist"), explode(col("nbrs")).as("h"))
      .select(col("order_key"), col("kdist"),
        col("h.cid").as("nbr"), sqrt(col("h.d2")).as("dist"))
    val nbrK = nbrs.select(col("order_key").as("nbr"), col("kdist").as("nbr_kdist"))
    val reach = edges.join(nbrK, Seq("nbr"))
      .withColumn("rdist", greatest(col("dist"), col("nbr_kdist")))
    val lrd = reach.groupBy("order_key")
      .agg((count(lit(1)).cast("double") / sum("rdist")).as("lrd"))
    val nbrLrd = lrd.select(col("order_key").as("nbr"), col("lrd").as("nbr_lrd"))
    val lof = edges.join(nbrLrd, Seq("nbr"))
      .groupBy("order_key").agg(avg("nbr_lrd").as("avg_nbr_lrd"))
      .join(lrd, Seq("order_key"))
      .select(col("order_key"), (col("avg_nbr_lrd") / col("lrd")).as("lof"))
    // the three dims meet on the slim order_key side, then attach once
    KnnJoin.attach(df, nbrs.select(col("order_key"), col("kdist").as("nn_distance"))
      .join(lrd.select(col("order_key"),
        col("lrd").as("local_reachability_distance")), Seq("order_key"), "left")
      .join(lof, Seq("order_key"), "left"), knn.queryRows)
  }
}

/** filters.reciprocity (filters/ReciprocityFilter.cpp:56): percentage of a
  * point's k neighbors that do NOT count it among their own k. */
object Reciprocity {
  def apply(df: DataFrame, k: Int = 8, cellSize: Double = 0.0): DataFrame = {
    val knn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, k + 1,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    val edges = knn.rows.select(col("order_key").as("src"),
        explode(KnnJoin.selfExcluded).as("h"))
      .select(col("src"), col("h.cid").as("dst"))
    val back = edges.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("__rec", lit(1))
    val rec = edges.join(back, Seq("src", "dst"), "left")
      .groupBy(col("src").as("order_key"))
      .agg((lit(100.0) * sum(when(col("__rec").isNull, 1).otherwise(0)) /
        count(lit(1))).as("reciprocity"))
    KnnJoin.attach(df, rec, knn.queryRows)
  }
}

/** filters.elm analog (filters/ELMFilter.cpp:50): extended local minimum —
  * walk each cell's z-ascending list from the bottom, flagging SUCCESSIVE
  * low points while the gap to the next point is >= threshold; the first
  * sub-threshold gap stops the walk (so stacked low outliers are all
  * flagged, and the topmost point never is). */
object Elm {
  def apply(df: DataFrame, cell: Double = 10.0, threshold: Double = 1.0,
      noiseClass: Int = 7): DataFrame = {
    val cx = floor(col("x") / cell).cast("long")
    val cy = floor(col("y") / cell).cast("long")
    val keyed = df.withColumn("__cx", cx).withColumn("__cy", cy)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__cx", "__cy")
      .orderBy(col("z").asc, col("order_key").asc)
    // gap(i) = z(i+1) - z(i); point i is noise iff every gap up to and
    // including its own is >= threshold -> running AND via running min
    val gapOk = when(lead(col("z"), 1).over(w).isNotNull &&
      lead(col("z"), 1).over(w) - col("z") >= threshold, 1).otherwise(0)
    val ranked = keyed.withColumn("__ok", gapOk)
      .withColumn("__allOk",
        min(col("__ok")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    ranked.withColumn("classification",
      when(col("__allOk") === 1, lit(noiseClass)).otherwise(col("classification")))
      .drop("__cx", "__cy", "__ok", "__allOk")
  }
}
