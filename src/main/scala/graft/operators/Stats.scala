package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.F

/** filters.stats analog (filters/StatsFilter.cpp:50, accumulators
  * StatsFilter.hpp:48-208).
  *
  * All moments map to Spark's built-in central-moment aggregates (their
  * partial/merge math is the same Pébay update the reference uses,
  * StatsFilter.hpp:130-196), with the reference's SAMPLE corrections
  * applied on top:
  *   skewness()  = sampleSkewness  = popSkew * sqrt(n)*sqrt(n-1)/(n-2)
  *   kurtosis()  = sampleExcessKurtosis
  *               = popKurt*(n+1)(n-1)/((n-2)(n-3)) - 3(n-1)^2/((n-2)(n-3))
  * where Spark `skewness` == populationSkewness (sqrt(n)M3/M2^1.5) and
  * Spark `kurtosis` == populationExcessKurtosis (nM4/M2^2 - 3).
  * Median/MAD are exact (the reference buffers all values,
  * StatsFilter.cpp:115-128; we sort distributed).
  */
object Stats {
  case class Summary(count: Long, min: Double, max: Double, avg: Double,
      stddev: Double, variance: Double, skewness: Double, kurtosis: Double,
      median: Double, mad: Double)

  def summaryCols(dim: String): Seq[Column] = {
    val v = col(dim).cast("double")
    val n = count(v).cast("double")
    val popSkew = skewness(v)
    val popKurtEx = kurtosis(v)
    val sampleSkew = when(n > 2, popSkew * sqrt(n) * sqrt(n - 1) / (n - 2)).otherwise(0.0)
    val sampleKurtEx = when(n > 3,
      (popKurtEx + 3.0) * (n + 1) * (n - 1) / ((n - 2) * (n - 3))
        - lit(3.0) * (n - 1) * (n - 1) / ((n - 2) * (n - 3))).otherwise(0.0)
    Seq(count(v).as(s"${dim}_count"), min(v).as(s"${dim}_min"),
      max(v).as(s"${dim}_max"), avg(v).as(s"${dim}_avg"),
      coalesce(stddev_samp(v), lit(0.0)).as(s"${dim}_stddev"),
      coalesce(var_samp(v), lit(0.0)).as(s"${dim}_variance"),
      coalesce(sampleSkew, lit(0.0)).as(s"${dim}_skewness"),
      coalesce(sampleKurtEx, lit(0.0)).as(s"${dim}_kurtosis"))
  }

  /** One row with the full summary of each requested dimension. */
  def apply(df: DataFrame, dims: Seq[String]): DataFrame = {
    val cols = dims.flatMap(summaryCols)
    df.agg(cols.head, cols.tail: _*)
  }

  def summary(df: DataFrame, dim: String, advanced: Boolean = true): Summary = {
    val r = df.agg(summaryCols(dim).head, summaryCols(dim).tail: _*).head()
    if (r.getLong(0) == 0L) // empty input: all-zero summary, no null unboxing
      return Summary(0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val base = Summary(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), 0.0, 0.0)
    if (!advanced) base
    else {
      val med = df.agg(median(col(dim).cast("double"))).head().getDouble(0)
      val madv = df.agg(median(abs(col(dim).cast("double") - med))).head().getDouble(0)
      base.copy(median = med, mad = madv)
    }
  }

  /** Distinct values (enumerate mode). */
  def enumerate(df: DataFrame, dim: String): DataFrame =
    df.select(dim).distinct().orderBy(dim)

  /** bbox metadata (StatsFilter::extractMetadata bbox). */
  def bbox(df: DataFrame): (Double, Double, Double, Double, Double, Double) = {
    val r = df.agg(min("x"), min("y"), min("z"), max("x"), max("y"), max("z")).head()
    if (r.isNullAt(0)) (0.0, 0.0, 0.0, 0.0, 0.0, 0.0) // empty input
    else (r.getDouble(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
  }
}

/** filters.info analog (filters/InfoFilter.cpp:47): schema + bbox + count
  * + nearest point list to a query location. */
object Info {
  def apply(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("num_points"),
      min("x").as("minx"), min("y").as("miny"), min("z").as("minz"),
      max("x").as("maxx"), max("y").as("maxy"), max("z").as("maxz"))

  /** InfoFilter `query` option (filters/InfoFilter.cpp:58-64,
    * parsePointSpec): the `count` points nearest to (qx, qy[, qz]),
    * nearest first. orderBy+limit compiles to TakeOrderedAndProject —
    * no global sort materializes. */
  def nearest(df: DataFrame, qx: Double, qy: Double,
      qz: Option[Double] = None, count: Int = 10): DataFrame = {
    val d2 = qz match {
      case Some(z) => (col("x") - qx) * (col("x") - qx) +
        (col("y") - qy) * (col("y") - qy) + (col("z") - z) * (col("z") - z)
      case None => (col("x") - qx) * (col("x") - qx) +
        (col("y") - qy) * (col("y") - qy)
    }
    df.withColumn("__d2", d2)
      .orderBy(col("__d2"), col("order_key"))
      .limit(count)
      .withColumn("distance", sqrt(col("__d2"))).drop("__d2")
  }
}

/** filters.hexbin analog (filters/HexBinFilter.cpp:47): hexagonal
  * tessellation density via the codegen'd HexIdExpr; edge auto-estimated
  * from the bbox when not given (reference estimates from a sample,
  * :96-100 — we use the deterministic bbox heuristic). */
object HexBin {
  def apply(df: DataFrame, edge: Double = 0.0, threshold: Int = 1): DataFrame = {
    val e =
      if (edge > 0) edge
      else {
        // null-safe extremes: empty input estimates over a unit box
        // instead of NPE-ing, and yields an empty hex frame downstream
        val r = df.agg(coalesce(min("x"), lit(0.0)), coalesce(max("x"), lit(1.0)),
          coalesce(min("y"), lit(0.0)), coalesce(max("y"), lit(1.0)),
          count(lit(1))).head()
        val area = math.max((r.getDouble(1) - r.getDouble(0)) *
          (r.getDouble(3) - r.getDouble(2)), 1e-9)
        // ~ one hex per 16 points on average
        math.sqrt(area / math.max(r.getLong(4) / 16.0, 1.0) / 2.598)
      }
    df.withColumn("hex_id", F.hexId(col("x"), col("y"), e))
      .groupBy("hex_id").agg(count(lit(1)).as("density"))
      .filter(col("density") >= threshold)
      .withColumn("hex_edge", lit(e))
  }

  /** Density surface + boundary metadata analog: occupied-hex count and
    * total area (the reference emits a smoothed boundary polygon; the
    * equivalent coverage info derives from the occupied hex set). */
  def densityInfo(df: DataFrame, edge: Double = 0.0): (Long, Double) = {
    val hexes = apply(df, edge).cache() // take(1) + count() read it twice
    try {
      val first = hexes.select("hex_edge").take(1)
      if (first.isEmpty) return (0L, 0.0) // empty input: no occupied hexes
      val e = first(0).getDouble(0)
      val n = hexes.count()
      (n, n * 3.0 * math.sqrt(3.0) / 2.0 * e * e) // hex area = 3*sqrt(3)/2 * edge^2
    } finally hexes.unpersist()
  }
}
