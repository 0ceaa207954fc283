package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** CLI verbs (kernels.* analogs, apps/pdal.cpp:357-380): each a
  * spark-submit-able main assembling the same stage graph. */
object PipelineKernel {
  /** `pdal pipeline spec.json` (kernels/PipelineKernel.cpp:51). */
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(args(0)))
    val out = PipelineBuilder.run(spark, json)
    println(s"[pipeline] rows=${out.count()}")
    spark.stop()
  }
}

object TileKernel {
  /** `pdal tile` (kernels/TileKernel.cpp:47): read -> cell id ->
    * partitionBy(tile) write — the FlexWriter '#' analog
    * (pdal/FlexWriter.hpp:45-58). */
  def main(args: Array[String]): Unit = {
    val Array(inPath, outPath) = args.take(2)
    val length = args.lift(2).map(_.toDouble).getOrElse(1000.0)
    val spark = graft.core.GraftSession.local()
    val docs = spark.read.parquet(inPath)
    Splitter(docs, length)
      .write.mode("overwrite").partitionBy("tile_id").parquet(outPath)
    spark.stop()
  }
}

/** `pdal translate in out [filters-json]` (kernels/TranslateKernel.cpp:
  * 77-193): assembles reader -> optional filter chain -> writer and runs
  * it. The third argument is a JSON array of filter stage nodes in the
  * same pipeline dialect. */
object TranslateKernel {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    println(s"[translate] rows=${run(spark, args(0), args(1), args.lift(2)).count()}")
    spark.stop()
  }

  def run(spark: SparkSession, in: String, out: String,
      filtersJson: Option[String]): DataFrame = {
    val filters = filtersJson.map(_.trim).filter(_.nonEmpty)
      .map(f => f.stripPrefix("[").stripSuffix("]")).filter(_.nonEmpty)
      .map(body => s"$body,").getOrElse("")
    // paths must be JSON-encoded: raw interpolation breaks on
    // backslashes/quotes (e.g. Windows paths -> illegal \d escapes)
    def js(s: String) =
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))
    val json =
      s"""{"pipeline":[{"type":"readers.parquet","filename":${js(in)}},
          $filters
          {"type":"writers.parquet","filename":${js(out)}}]}"""
    PipelineBuilder.run(spark, json)
  }
}

/** `pdal ground` (kernels/GroundKernel.cpp:75,113-148): reset
  * classification to 0, optionally strip outliers, run filters.smrf with
  * the kernel's window/threshold/slope/cell/cut/scalar switches, and —
  * with `extract` — keep only the ground returns (Classification[2:2]). */
object GroundKernel {
  def run(spark: SparkSession, in: DataFrame, maxWindowSize: Double = 18.0,
      threshold: Double = 0.5, slope: Double = 0.15, cellSize: Double = 1.0,
      cut: Double = 0.0, scalar: Double = 1.25, extract: Boolean = false,
      removeOutliers: Boolean = false,
      returns: Seq[String] = Seq("last", "only")): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val reset = in.withColumn("classification", lit(0))
    val cleaned = if (removeOutliers)
      graft.operators.Outlier.statistical(reset, meanK = 8, multiplier = 3.0,
        remove = true)
    else reset
    val classified = graft.operators.Smrf(cleaned, cell = cellSize,
      slope = slope, scalar = scalar, threshold = threshold,
      window = maxWindowSize, cut = cut, returns = returns)
    if (extract) classified.filter(col("classification") === 2) else classified
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    val in = spark.read.parquet(args(0))
    val out = run(spark, in, extract = args.lift(2).contains("--extract"))
    out.write.mode("overwrite").parquet(args(1))
    println(s"[ground] rows=${spark.read.parquet(args(1)).count()}")
    spark.stop()
  }
}

/** `pdal tindex create/merge` (kernels/TIndexKernel.cpp:72): a tile
  * index is a small table (path, bbox, count) over many point files;
  * `merge` reads back only the files whose bbox intersects the query
  * bounds — manifest pruning for unpartitioned file sets. */
object TIndexKernel {
  def create(spark: SparkSession, indexPath: String, files: Seq[String]): Unit = {
    import spark.implicits._
    val rows = files.map { f =>
      val df = spark.read.parquet(f)
      val r = df.agg(count(lit(1)), min("x"), min("y"), max("x"), max("y")).head()
      (f, r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }
    rows.toDF("path", "num_points", "minx", "miny", "maxx", "maxy")
      .repartition(1).write.mode("overwrite").parquet(indexPath)
  }

  /** Union of the indexed files intersecting the bounds — non-matching
    * files are never opened. */
  def merge(spark: SparkSession, indexPath: String,
      minx: Double, miny: Double, maxx: Double, maxy: Double): DataFrame = {
    val hits = spark.read.parquet(indexPath)
      .filter(col("minx") <= maxx && col("maxx") >= minx &&
        col("miny") <= maxy && col("maxy") >= miny)
      .select("path").collect().map(_.getString(0))
    require(hits.nonEmpty, "no indexed file intersects the bounds")
    spark.read.parquet(hits.toIndexedSeq: _*)
      .filter(col("x") >= minx && col("x") <= maxx &&
        col("y") >= miny && col("y") <= maxy)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    args(0) match {
      case "create" => create(spark, args(1), args.drop(2).toIndexedSeq)
      case "merge" =>
        val out = merge(spark, args(1), args(2).toDouble, args(3).toDouble,
          args(4).toDouble, args(5).toDouble)
        println(s"[tindex] rows=${out.count()}")
    }
    spark.stop()
  }
}

object InfoKernel {
  /** `pdal info` (kernels/InfoKernel.cpp:53): metadata-only fast path via
    * parquet footer statistics when no point data is needed (QuickInfo,
    * pdal/Stage.cpp:149-157), else the stats aggregate. A GraftTable root
    * (has a VERSION pointer) answers the QuickInfo path purely from
    * MANIFEST stats — rows + exact bbox with zero data files opened, the
    * table-scale analog of PDAL reading only the LAS header. */
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    val isTable = java.nio.file.Files.exists(
      java.nio.file.Paths.get(args(0), "VERSION"))
    if (isTable && !args.contains("--stats")) {
      val rows = graft.sources.GraftTable.countRows(spark, args(0))
      // a valid non-spatial table has no x/y stats and extent refuses to
      // answer (same for the NaN-suppressed infinite sentinel): QuickInfo
      // still reports the metadata row count, then falls back to the
      // Info scan path instead of crashing
      scala.util.Try(graft.sources.GraftTable.extent(spark, args(0))) match {
        case scala.util.Success((mnx, mxx, mny, mxy)) =>
          println(s"[info] table=${args(0)} v=${
            graft.sources.GraftTable.currentVersion(args(0))} rows=$rows " +
            s"bbox=([$mnx,$mxx],[$mny,$mxy]) (manifest metadata only)")
        case scala.util.Failure(_) =>
          println(s"[info] table=${args(0)} v=${
            graft.sources.GraftTable.currentVersion(args(0))} rows=$rows " +
            "bbox=unavailable (no usable x/y stats — scanning)")
          Info(graft.sources.GraftTable.read(spark, args(0))).show(false)
      }
    } else {
      val df = if (isTable) graft.sources.GraftTable.read(spark, args(0))
               else spark.read.parquet(args(0))
      if (args.contains("--stats"))
        Stats(df, Seq("x", "y", "z", "intensity", "classification")).show(false)
      else Info(df).show(false)
    }
    spark.stop()
  }
}

/** kernels.delta / hausdorff / chamfer (DeltaKernel.cpp:45,
  * HausdorffKernel.cpp:48, ChamferKernel.cpp:46): nearest-neighbor
  * difference metrics between two clouds — one kNN join each way. */
object CloudMetrics {
  private def nnD2(a: DataFrame, b: DataFrame): DataFrame =
    KnnJoin.knn(a.select("order_key", "x", "y", "z"), b, 1, valueCol = "order_key").rows
      .select(col("order_key"),
        try_element_at(col("knn"), lit(1)).getField("d2").as("nn_d2"))

  /** Per-point deltas of src vs candidate (kernels.delta). A source point
    * with no candidate (an empty candidate cloud) has no row. */
  def delta(src: DataFrame, cand: DataFrame): DataFrame =
    nnD2(src, cand).filter(col("nn_d2").isNotNull)
      .select(col("order_key"), sqrt(col("nn_d2")).as("nn_dist"))

  /** `f` over the nearest-neighbor d2 of a -> b and of b -> a. Either
    * cloud empty fails, naming it: a distance to nothing has no value. */
  private def bothWays(kernel: String, a: DataFrame, b: DataFrame,
      f: Column => Column): (Double, Double) = {
    def directed(x: DataFrame, y: DataFrame) =
      nnD2(x, y).agg(count(lit(1)), f(col("nn_d2"))).head()
    val ab = directed(a, b)
    require(ab.getLong(0) > 0, s"$kernel: cloud a is empty")
    require(!ab.isNullAt(1), s"$kernel: cloud b is empty")
    (ab.getDouble(1), directed(b, a).getDouble(1))
  }

  /** Hausdorff = max over both directed nearest-neighbor distances.
    * sqrt is monotone, so max commutes with it exactly. */
  def hausdorff(a: DataFrame, b: DataFrame): Double = {
    val (d1, d2) = bothWays("hausdorff", a, b, max(_))
    math.sqrt(math.max(d1, d2))
  }

  /** Chamfer = sum of mean squared NN distances both ways — averaged on
    * the raw squared distances (no sqrt-then-square rounding). */
  def chamfer(a: DataFrame, b: DataFrame): Double = {
    val (d1, d2) = bothWays("chamfer", a, b, avg(_))
    d1 + d2
  }
}

/** kernels.density (DensityKernel.cpp:51): hexbin density table plus the
  * boundary MULTIPOLYGON of the occupied area — the reference's primary
  * density output. */
object DensityKernel {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    val df = spark.read.parquet(args(0))
    val edge = args.lift(1).map(_.toDouble).getOrElse(0.0)
    val r = HexBoundary.densityReport(df, edge)
    println(s"[density] hexes=${r.occupiedHexes} area=${r.area} " +
      s"density=${r.density} rings=${r.rings} vertices=${r.vertices}")
    println(r.boundaryWkt)
    spark.stop()
  }
}

/** kernels.eval (EvalKernel.cpp:48): classification accuracy metrics vs a
  * truth cloud joined on order_key. */
object EvalKernel {
  def metrics(pred: DataFrame, truth: DataFrame,
      dim: String = "classification"): DataFrame = {
    val p = pred.select(col("order_key"), col(dim).as("pred"))
    val t = truth.select(col("order_key"), col(dim).as("truth"))
    val j = p.join(t, "order_key") // single action downstream — no cache
    j.groupBy("truth").agg(
      count(lit(1)).as("support"),
      sum(when(col("pred") === col("truth"), 1).otherwise(0)).as("correct"),
      (sum(when(col("pred") === col("truth"), 1).otherwise(0)).cast("double") /
        count(lit(1))).as("recall"))
  }
}
