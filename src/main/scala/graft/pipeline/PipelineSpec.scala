package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** PDAL pipeline-JSON dialect parser (pdal/PipelineReaderJSON.cpp:58-181):
  * a JSON array (or {"pipeline": [...]}) of stage nodes; bare strings are
  * filenames; `type` is inferred reader-if-first / writer-if-last
  * (:89-130); `inputs` tags express a DAG, default is linear chaining.
  * Stage types use the PDAL names (readers.*, filters.*, writers.*).
  */
case class StageSpec(tag: String, stageType: String,
    options: Map[String, JValue], inputs: Seq[String])

object PipelineSpec {
  def parse(json: String): Seq[StageSpec] = {
    implicit val fmts: Formats = DefaultFormats
    val root = JsonMethods.parse(json) match {
      case JObject(fields) => fields.toMap.getOrElse("pipeline",
        throw new IllegalArgumentException("missing 'pipeline' key"))
      case arr: JArray => arr
      case other => throw new IllegalArgumentException(s"bad pipeline json: $other")
    }
    val nodes = root.asInstanceOf[JArray].arr
    nodes.zipWithIndex.map {
      case (JString(filename), i) =>
        // bare string: reader unless last (then writer) — :89-104
        val isLast = i == nodes.length - 1 && nodes.length > 1
        StageSpec(s"stage$i",
          if (isLast) "writers.auto" else "readers.auto",
          Map("filename" -> JString(filename)), Seq.empty)
      case (JObject(fields), i) =>
        val m = fields.toMap
        val typ = m.get("type").collect { case JString(t) => t }.getOrElse {
          val fname = m.get("filename").collect { case JString(f) => f }
          if (fname.isEmpty) throw new IllegalArgumentException(s"stage $i: no type")
          if (i == nodes.length - 1 && nodes.length > 1) "writers.auto" else "readers.auto"
        }
        val tag = m.get("tag").collect { case JString(t) => t }.getOrElse(s"stage$i")
        val inputs = m.get("inputs") match {
          case Some(JArray(is)) => is.collect { case JString(s) => s }
          case Some(JString(s)) => Seq(s)
          case _ => Seq.empty
        }
        StageSpec(tag, typ, m - "type" - "tag" - "inputs", inputs)
      case (other, i) =>
        throw new IllegalArgumentException(s"stage $i: unsupported node $other")
    }.toSeq
  }

  def optStr(o: Map[String, JValue], k: String): Option[String] =
    o.get(k).collect { case JString(s) => s
                       case JInt(i) => i.toString
                       case JDouble(d) => d.toString }
  /** A malformed or missing option, naming its key; applyStage adds the
    * stage. */
  final class BadOption(message: String) extends IllegalArgumentException(message) {
    def this(k: String, v: JValue, want: String) = this(
      s"option '$k' must be $want, got ${JsonMethods.compact(JsonMethods.render(v))}")
  }

  /** A required string option: the first of `keys` that is set (the
    * alternatives a stage accepts, e.g. "view" or "table"). Fails with a
    * [[BadOption]] naming the option when none is set, or when the one
    * set is not a JSON string or number. */
  def reqStr(o: Map[String, JValue], keys: String*): String =
    keys.find(o.contains).map(k => optStr(o, k).getOrElse(
      throw new BadOption(k, o(k), "a string"))).getOrElse(throw missing(o, keys))
  /** A required number option; as [[reqStr]]. */
  def reqDouble(o: Map[String, JValue], k: String): Double =
    optDouble(o, k).getOrElse(throw missing(o, Seq(k)))
  private def missing(o: Map[String, JValue], keys: Seq[String]) = new BadOption(
    s"required option ${keys.map(k => s"'$k'").mkString(" or ")} is missing " +
      s"(options given: ${if (o.isEmpty) "none" else o.keys.toSeq.sorted.mkString(", ")})")

  def optDouble(o: Map[String, JValue], k: String): Option[Double] =
    o.get(k).map {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case v @ JString(s) =>
        scala.util.Try(s.toDouble).getOrElse(throw new BadOption(k, v, "a number"))
      case v => throw new BadOption(k, v, "a number")
    }
  def optLong(o: Map[String, JValue], k: String): Option[Long] =
    o.get(k).map {
      case JInt(i) if i.isValidLong => i.toLong
      case JDouble(d) if d.isWhole && d.abs < 9.0e18 => d.toLong
      case v @ JString(s) =>
        scala.util.Try(s.toLong).getOrElse(throw new BadOption(k, v, "an integer"))
      case v => throw new BadOption(k, v, "an integer")
    }
  /** PDAL list options accept a JSON array or a comma-joined string
    * (Options::getValues, pdal/Options.hpp); empty when absent. */
  def optStrList(o: Map[String, JValue], k: String): Seq[String] =
    o.get(k) match {
      case Some(JArray(vs)) => vs.collect { case JString(s) => s }
      case Some(JString(s)) => s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case _ => Seq.empty
    }
  def optBool(o: Map[String, JValue], k: String): Option[Boolean] =
    o.get(k).map {
      case JBool(b) => b
      case JString(s) if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") =>
        s.toBoolean
      case v => throw new BadOption(k, v, "true or false")
    }
}

/** Builds and executes the stage graph over DataFrames. Readers produce
  * the doc table; filters transform; writers act. Linear chaining by
  * default; `inputs` DAG supported with `filters.merge` unioning. */
object PipelineBuilder {
  import PipelineSpec._
  import graft.operators._

  def run(spark: SparkSession, json: String): DataFrame = {
    val specs = PipelineSpec.parse(json)
    val built = scala.collection.mutable.LinkedHashMap[String, DataFrame]()

    def inputsOf(spec: StageSpec, idx: Int): Seq[DataFrame] =
      if (spec.inputs.nonEmpty) spec.inputs.map(built(_))
      else if (idx == 0) Seq.empty
      else Seq(built.last._2)

    specs.zipWithIndex.foreach { case (spec, idx) =>
      val ins = inputsOf(spec, idx)
      // per-stage where/where_merge (pdal/Stage.cpp:61-76, Stage.hpp:86-91
      // — every stage supports it): the stage sees only rows passing
      // `where`; skipped rows merge back unless where_merge=false. For
      // writers this writes the passing subset and the stream continues
      // with the merged (= full) input. Readers have no input.
      val out = (optStr(spec.options, "where"), ins.headOption) match {
        case (Some(w), Some(_)) if spec.stageType.startsWith("filters.") ||
            spec.stageType.startsWith("writers.") =>
          // PDAL's where_merge "auto" is the default: merge
          val merge = spec.options.get("where_merge").contains(JString("auto")) ||
            optBool(spec.options, "where_merge").getOrElse(true) ||
            spec.stageType.startsWith("writers.")
          graft.expr.Where(ins.head, w,
            d => applyStage(spark, spec.copy(options = spec.options - "where" - "where_merge"),
              d +: ins.tail), merge)
        case _ => applyStage(spark, spec, ins)
      }
      // PDAL rejects duplicate tags; a silent LinkedHashMap update would
      // keep the FIRST insertion position and corrupt implicit chaining
      require(!built.contains(spec.tag),
        s"duplicate stage tag '${spec.tag}'")
      built(spec.tag) = out
    }
    built.last._2
  }

  def applyStage(spark: SparkSession, spec: StageSpec, ins: Seq[DataFrame]): DataFrame = {
    val o = spec.options
    def in: DataFrame = ins.headOption.getOrElse(
      throw new IllegalArgumentException(s"${spec.stageType} needs an input"))
    // reader base options (pdal/Reader.cpp:56-64): `count` caps points
    // read (first N in point order — orderBy+limit, never a global
    // rank); override_srs/default_srs tag the CRS as column metadata
    def readerOpts(df: DataFrame): DataFrame = {
      val capped = optLong(o, "count") match {
        case Some(n) if df.columns.contains("order_key") => HeadTail.head(df, n)
        case Some(n) => df.limit(n.toInt)
        case None => df
      }
      if (capped.columns.contains("x"))
        Srs.applyReaderOptions(capped, optStr(o, "override_srs"),
          optStr(o, "default_srs"))
      else capped
    }
    // a malformed or missing option throws a BadOption naming it;
    // rethrown with the stage type (PDAL names both in its error)
    try spec.stageType match {
      // ---- readers ----
      case "readers.auto" | "readers.parquet" | "readers.las" =>
        readerOpts(spark.read.parquet(reqStr(o, "filename")))
      case "readers.faux" =>
        val count = optLong(o, "count").getOrElse(1000L)
        val mode = optStr(o, "mode").getOrElse("ramp")
        val b = optStr(o, "bounds").map(parseBounds).getOrElse(
          ((0.0, 0.0, 0.0), (1.0, 1.0, 1.0)))
        val df = mode match {
          case "ramp" => graft.core.Synth.ramp(spark, count, b._1, b._2)
          case _ => graft.core.Synth.docs(spark, count,
            seed = optLong(o, "seed").getOrElse(42L))
        }
        Srs.applyReaderOptions(df, optStr(o, "override_srs"), optStr(o, "default_srs"))
      case "readers.text" =>
        readerOpts(spark.read.option("header", "true").option("inferSchema", "true")
          .csv(reqStr(o, "filename")))
      case "readers.view" | "readers.table" =>
        // readers.memoryview analog (io/MemoryViewReader.cpp:50): read a
        // registered temp view / catalog table by name
        readerOpts(spark.table(reqStr(o, "view", "table")))
      case "readers.graft" =>
        // snapshot-table read (the Iceberg-style GraftTable layer):
        // `asof` time-travels to a version; `bounds` (PDAL 2D grammar)
        // prunes FILES via manifest stats before any data is opened,
        // with the exact predicate left as a pushed-down residual;
        // `since_version` reads the incremental APPEND delta
        // (since, asof] instead of a full snapshot — with `bounds` then
        // applied as a plain residual over the delta
        val root = reqStr(o, "root", "filename")
        val asOf = optLong(o, "asof").map(_.toInt)
        val since = optLong(o, "since_version").map(_.toInt)
        val df = (since, optStr(o, "bounds")) match {
          case (Some(fv), b) =>
            val inc = graft.sources.GraftTable.readIncremental(
              spark, root, fv, asOf.getOrElse(-1))
            b.map { s =>
              val n = boundsNums(s)
              inc.filter(col("x") >= n(0) && col("x") <= n(1) &&
                col("y") >= n(2) && col("y") <= n(3))
            }.getOrElse(inc)
          case (None, Some(s)) =>
            val n = boundsNums(s)
            graft.sources.GraftTable.readBox(
              spark, root, n(0), n(2), n(1), n(3), asOf)._1
          case (None, None) => graft.sources.GraftTable.read(spark, root, asOf)
        }
        readerOpts(df)
      case "readers.jdbc" =>
        // DB connector analog (pdal/DbReader.cpp base; SURVEY §2.11):
        // delegates to Spark's own JDBC source with the PARALLEL-read
        // contract surfaced — partition_column + lower/upper bounds +
        // num_partitions shard the table across executors (without
        // them a JDBC read is ONE task, wrong at any scale; requiring
        // them together mirrors spark.read.jdbc's own contract). Any
        // JDBC driver on the classpath serves: Spark's jars include
        // Derby's embedded driver, so `jdbc:derby:memory:` URLs run
        // in-process; a URL with no driver fails with Spark's own
        // CANNOT_FIND_JDBC_DRIVER error.
        val url = optStr(o, "connection").orElse(optStr(o, "url"))
          .getOrElse(throw new IllegalArgumentException(
            "readers.jdbc: 'connection' (or 'url') is required"))
        val table = optStr(o, "table")
          .orElse(optStr(o, "query").map(q => s"($q) pushed"))
          .getOrElse(throw new IllegalArgumentException(
            "readers.jdbc: 'table' (or 'query') is required"))
        val r0 = spark.read.format("jdbc")
          .option("url", url).option("dbtable", table)
        val r1 = optStr(o, "driver")
          .map(d => r0.option("driver", d)).getOrElse(r0)
        val r2 = (optStr(o, "partition_column"),
            optLong(o, "num_partitions")) match {
          case (Some(pc), Some(np)) =>
            r1.option("partitionColumn", pc)
              .option("lowerBound",
                optLong(o, "lower_bound").getOrElse(0L).toString)
              .option("upperBound", optLong(o, "upper_bound").getOrElse(
                throw new IllegalArgumentException("readers.jdbc: " +
                  "'upper_bound' is required with partition_column")).toString)
              .option("numPartitions", np.toString)
          case (None, None) => r1
          case _ => throw new IllegalArgumentException(
            "readers.jdbc: partition_column and num_partitions must be " +
              "set together (plus upper_bound) for a parallel read")
        }
        // Derby, DB2 and Oracle fold unquoted identifiers to upper case;
        // the engine's dims are lower case, and readerOpts (count,
        // override_srs) looks them up by exact name
        val df = r2.load()
        readerOpts(df.toDF(df.columns.map(c =>
          if (c == c.toUpperCase(java.util.Locale.ROOT)) c.toLowerCase(java.util.Locale.ROOT)
          else c): _*))
      case "readers.stac" =>
        // io/StacReader.cpp:126-151 option surface; bounds uses the PDAL
        // 2D bounds grammar and prunes items before any data read
        val b = optStr(o, "bounds").map { s =>
          val n = boundsNums(s)
          (n(0), n(2), n(1), n(3))
        }
        val props = o.get("properties") match {
          case Some(JObject(fs)) => fs.collect {
            case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty[String, String]
        }
        readerOpts(graft.sources.StacReader.read(spark,
          reqStr(o, "filename"), b,
          itemIds = optStrList(o, "item_ids"),
          catalogIds = optStrList(o, "catalog_ids"),
          assetNames = {
            val a = optStrList(o, "asset_names")
            if (a.isEmpty) Seq("data") else a
          },
          properties = props))
      // ---- filters ----
      case "filters.crop" =>
        val outside = optBool(o, "outside").getOrElse(false)
        (optStr(o, "polygon"), optStr(o, "bounds")) match {
          case (Some(wkt), _) => Crop.polygon(in, wkt, outside)
          case (_, Some(b)) =>
            // 2D vs 3D by ARITY, not by z==[0,0] (a real z-range of
            // exactly [0,0] must still filter on z)
            val nums = boundsNums(b)
            if (nums.length == 4)
              Crop.box2d(in, nums(0), nums(2), nums(1), nums(3), outside)
            else Crop.box3d(in, nums(0), nums(2), nums(4),
              nums(1), nums(3), nums(5), outside)
          case _ => throw new IllegalArgumentException("crop needs bounds|polygon")
        }
      case "filters.range" => graft.expr.RangeFilter(in, reqStr(o, "limits"))
      case "filters.expression" =>
        graft.expr.ExpressionFilter(in, reqStr(o, "expression"))
      case "filters.mongo" =>
        graft.expr.MongoFilter(in, reqStr(o, "expression"))
      case "filters.assign" =>
        // "Dim = value [WHERE expr]" statement form
        val stmt = reqStr(o, "value", "assignment")
        val (lhs, rest) = stmt.span(_ != '=')
        val whereIdx = rest.toUpperCase.indexOf("WHERE")
        val (valueS, cond) =
          if (whereIdx >= 0) (rest.substring(1, whereIdx).trim,
            Some(graft.expr.ExprLang.compile(rest.substring(whereIdx + 5))))
          else (rest.drop(1).trim, None)
        Assign(in, lhs.trim, lit(valueS.toDouble), cond)
      case "filters.ferry" =>
        val copies = reqStr(o, "dimensions").split(',').map { spec =>
          val Array(a, b) = spec.split("=>").map(_.trim); (a, b)
        }
        Ferry(in, copies.toSeq)
      case "filters.splitter" =>
        Splitter(in, optDouble(o, "length").getOrElse(1000.0),
          for (x <- optDouble(o, "origin_x"); y <- optDouble(o, "origin_y")) yield (x, y),
          optDouble(o, "buffer").getOrElse(0.0))
      case "filters.chipper" =>
        Chipper(in, optLong(o, "capacity").getOrElse(5000L))
      case "filters.divider" =>
        val mode = optStr(o, "mode").getOrElse("partition")
        require(Seq("partition", "round_robin").exists(_.equalsIgnoreCase(mode)),
          s"filters.divider: mode must be partition or round_robin, got '$mode'")
        Divider(in, mode.equalsIgnoreCase("round_robin"),
          optLong(o, "count").map(_.toInt), optLong(o, "capacity"))
      case "filters.groupby" => GroupBy(in, reqStr(o, "dimension"))
      case "filters.separatescanline" =>
        SeparateScanLine(in, groupsOf = optLong(o, "groupby").getOrElse(1L).toInt)
      case "filters.merge" => Merge(ins)
      case "filters.returns" =>
        Returns(in, optStr(o, "groups").getOrElse("first,last").split(',').map(_.trim).toSeq)
      case "filters.sort" =>
        val order = optStr(o, "order").getOrElse("ASC")
        require(Seq("ASC", "DESC").exists(_.equalsIgnoreCase(order)),
          s"filters.sort: order must be ASC or DESC, got '$order'")
        Sort(in, reqStr(o, "dimension"), order.equalsIgnoreCase("ASC"))
      case "filters.head" => HeadTail.head(in, optLong(o, "count").getOrElse(10L))
      case "filters.tail" => HeadTail.tail(in, optLong(o, "count").getOrElse(10L))
      case "filters.decimation" =>
        Decimation(in, optLong(o, "step").getOrElse(1L),
          optLong(o, "offset").getOrElse(0L),
          optLong(o, "limit").getOrElse(Long.MaxValue))
      case "filters.randomize" => Randomize(in, optLong(o, "seed").getOrElse(0L))
      case "filters.voxeldownsize" =>
        Voxel.downsize(in, optDouble(o, "cell").getOrElse(0.001),
          optStr(o, "mode").getOrElse("first"))
      case "filters.voxelcenternearestneighbor" =>
        Voxel.centerNearestNeighbor(in, optDouble(o, "cell").getOrElse(0.001))
      case "filters.sample" => Sample(in, optDouble(o, "radius").getOrElse(1.0))
      case "filters.fps" => Fps(in, optLong(o, "count").getOrElse(10L).toInt)
      case "filters.neighborclassifier" =>
        NeighborClassifier(in, optLong(o, "k").getOrElse(1L).toInt,
          optStr(o, "dimension").getOrElse("classification"),
          optStr(o, "domain"))
      case "filters.outlier" =>
        if (optStr(o, "method").getOrElse("statistical") == "radius")
          Outlier.radius(in, optDouble(o, "radius").getOrElse(1.0),
            optLong(o, "min_k").getOrElse(2L).toInt)
        else Outlier.statistical(in, optLong(o, "mean_k").getOrElse(8L).toInt,
          optDouble(o, "multiplier").getOrElse(2.0))
      case "filters.iqr" => Iqr(in, reqStr(o, "dimension"),
        optDouble(o, "k").getOrElse(1.5))
      case "filters.mad" => Mad(in, reqStr(o, "dimension"),
        optDouble(o, "k").getOrElse(2.0))
      case "filters.cluster" => Cluster(in, optDouble(o, "tolerance").getOrElse(1.0))
      case "filters.dbscan" => Dbscan(in, optDouble(o, "eps").getOrElse(1.0),
        optLong(o, "min_points").getOrElse(6L))
      case "filters.lloydkmeans" => KMeans(in, optLong(o, "k").getOrElse(10L).toInt,
        optLong(o, "maxiters").getOrElse(10L).toInt)
      case "filters.transformation" =>
        Transformation(in, reqStr(o, "matrix").trim.split("\\s+").map(_.toDouble).toSeq)
      case "filters.reprojection" =>
        // in_srs falls back to the view's CRS tag (ReprojectionFilter.cpp:
        // srsFoundOrThrow — the reader's SRS when the option is absent)
        val inSrs = optStr(o, "in_srs").orElse(Srs.of(in)).getOrElse(
          throw new IllegalArgumentException(
            "reprojection: no in_srs option and the input carries no CRS tag"))
        Reprojection.convert(in, inSrs, reqStr(o, "out_srs"))
      case "filters.projpipeline" =>
        ProjPipeline(in, reqStr(o, "coord_op"),
          reverse = optBool(o, "reverse_transfo").getOrElse(false),
          outSrs = optStr(o, "out_srs"))
      case "filters.mortonorder" => MortonOrder(in,
        optBool(o, "reverse").getOrElse(false))
      case "filters.gpstimeconvert" =>
        // `conversion` = "gws2gt" legacy form, or in_time/out_time pair
        val (it, ot) = optStr(o, "conversion") match {
          case Some(c) => val Array(a, b) = c.split("2"); (a, b)
          case None => (reqStr(o, "in_time"), reqStr(o, "out_time"))
        }
        GpsTimeConvert.convert(in, it, ot,
          optDouble(o, "start_date_ws").getOrElse(0.0),
          wrapped = optBool(o, "wrapped_tows").getOrElse(false),
          wrap = optBool(o, "wrap_tows").getOrElse(false))
      case "filters.hexbin" => HexBin(in, optDouble(o, "edge_size").getOrElse(0.0))
      case "filters.stats" => Stats(in,
        optStr(o, "dimensions").map(_.split(',').map(_.trim).toSeq)
          .getOrElse(Seq("x", "y", "z")))
      case "filters.info" => Info(in)
      case "filters.colorinterp" => ColorInterp(in,
        optStr(o, "dimension").getOrElse("z"),
        minValue = optDouble(o, "minimum"), maxValue = optDouble(o, "maximum"))
      case "filters.geomdistance" => GeomDistance(in, reqStr(o, "geometry"))
      case "filters.overlay" =>
        Overlay(in, Seq((reqStr(o, "polygon"),
          optDouble(o, "value").getOrElse(1.0))), reqStr(o, "dimension"))
      case "filters.pmf" => Pmf(in,
        cellSize = optDouble(o, "cell_size").getOrElse(1.0),
        exponential = optBool(o, "exponential").getOrElse(true),
        initialDistance = optDouble(o, "initial_distance").getOrElse(0.15),
        maxDistance = optDouble(o, "max_distance").getOrElse(2.5),
        maxWindowSize = optDouble(o, "max_window_size").getOrElse(33.0),
        slope = optDouble(o, "slope").getOrElse(1.0),
        returns = optStr(o, "returns").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq(Returns.Last, Returns.Only)),
        ignore = optStr(o, "ignore"))
      case "filters.smrf" => Smrf(in,
        cell = optDouble(o, "cell").getOrElse(1.0),
        slope = optDouble(o, "slope").getOrElse(0.15),
        scalar = optDouble(o, "scalar").getOrElse(1.25),
        threshold = optDouble(o, "threshold").getOrElse(0.5),
        window = optDouble(o, "window").getOrElse(18.0),
        cut = optDouble(o, "cut").getOrElse(0.0),
        returns = optStr(o, "returns").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq(Returns.Last, Returns.Only)),
        ignore = optStr(o, "ignore"))
      case "filters.hag_nn" => HagNn(in,
        count = optLong(o, "count").getOrElse(1L).toInt,
        maxDistance = optDouble(o, "max_distance").getOrElse(0.0),
        allowExtrapolation = optBool(o, "allow_extrapolation").getOrElse(true))
      case "filters.hag_delaunay" => HagDelaunay(in,
        count = optLong(o, "count").getOrElse(10L).toInt,
        allowExtrapolation = optBool(o, "allow_extrapolation").getOrElse(true))
      case "filters.delaunay" => DelaunayMesh(in)
      case "filters.faceraster" =>
        // PDAL rasterizes the mesh attached by a prior filters.delaunay;
        // stages here pass DataFrames, so the TIN is (re)built from the
        // incoming points and rasterized in one stage. Output is the
        // raster table (cell_x, cell_y, band1) plus constant grid-limit
        // columns (__edge/__ox/__oy — the reference's RasterLimits riding
        // on the view) so a downstream writers.raster emits the right
        // georeferencing without re-specifying it.
        // the reference accepts both names: RasterLimits registers
        // "resolution" (Raster.hpp:57), FaceRasterFilter adds the
        // "edge_length" alias (FaceRasterFilter.cpp:70)
        val edge = optDouble(o, "edge_length")
          .orElse(optDouble(o, "resolution")).getOrElse(1.0)
        val lim = (for (x <- optDouble(o, "origin_x"); y <- optDouble(o, "origin_y");
            w <- optLong(o, "width"); h <- optLong(o, "height"))
          yield (x, y, w, h)).getOrElse {
            val b = in.agg(min("x"), max("x"), min("y"), max("y")).head()
            val x0 = b.getDouble(0) - edge / 2; val y0 = b.getDouble(2) - edge / 2
            (x0, y0, ((b.getDouble(1) - x0) / edge).toLong + 1L,
              ((b.getDouble(3) - y0) / edge).toLong + 1L)
          }
        FaceRaster(in, DelaunayMesh(in), edge,
            origin = Some((lim._1, lim._2)), widthHeight = Some((lim._3, lim._4)))
          .withColumn("__edge", lit(edge))
          .withColumn("__ox", lit(lim._1)).withColumn("__oy", lit(lim._2))
      case "filters.zsmooth" => Zsmooth(in,
        radius = optDouble(o, "radius").getOrElse(1.0),
        medianPercent = optDouble(o, "medianpercent").getOrElse(50.0),
        outDim = optStr(o, "dim").getOrElse("z_smooth"))
      case "filters.skewnessbalancing" => SkewnessBalancing(in)
      case "filters.csf" => Csf(in,
        smooth = optBool(o, "smooth").getOrElse(true),
        step = optDouble(o, "step").getOrElse(0.65),
        threshold = optDouble(o, "threshold").getOrElse(0.5),
        resolution = optDouble(o, "resolution").getOrElse(1.0),
        rigidness = optLong(o, "rigidness").getOrElse(3L).toInt,
        iterations = optLong(o, "iterations").getOrElse(500L).toInt,
        returns = optStr(o, "returns").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq(Returns.Last, Returns.Only)),
        ignore = optStr(o, "ignore"))
      case "filters.icp" =>
        require(ins.size == 2,
          "filters.icp must have two point view inputs, no more, no less")
        Icp(ins(0), ins(1),
          maxIter = optLong(o, "max_iter").getOrElse(100L).toInt,
          rotationThreshold = optDouble(o, "rt").getOrElse(0.99999),
          translationThreshold = optDouble(o, "tt").getOrElse(3e-4 * 3e-4),
          mseAbs = optDouble(o, "mse_abs").getOrElse(1e-12),
          maxSimilar = optLong(o, "max_similar").getOrElse(0L).toInt,
          maxDistance = optDouble(o, "max_distance").getOrElse(0.0)).df
      case "filters.litree" => LiTree(in,
        minPoints = optLong(o, "min_points").getOrElse(10L).toInt,
        minHag = optDouble(o, "min_height").getOrElse(3.0),
        dummyRadius = optDouble(o, "radius").getOrElse(100.0))
      case "filters.greedyprojection" =>
        // like filters.delaunay, the mesh is the stage output here
        GreedyProjection(in,
          radius = reqDouble(o, "radius"),
          multiplier = reqDouble(o, "multiplier"),
          numNeighbors = optLong(o, "num_neighbors").getOrElse(100L).toInt,
          minAngle = optDouble(o, "min_angle").getOrElse(math.Pi / 18),
          maxAngle = optDouble(o, "max_angle").getOrElse(2 * math.Pi / 3),
          epsAngle = optDouble(o, "eps_angle").getOrElse(math.Pi / 4))
      case "filters.poisson" =>
        // reference replaces the view with the reconstructed mesh's
        // vertices and attaches the mesh (PoissonFilter.cpp:283-316);
        // stages here pass DataFrames, so the vertex view flows on by
        // default and emit=faces selects the triangle mesh instead
        val pr = Poisson(in,
          depth = optLong(o, "depth").getOrElse(8L).toInt,
          density = optBool(o, "density").getOrElse(false))
        if (optStr(o, "emit").contains("faces")) pr.faces else pr.vertices
      case "filters.streamcallback" =>
        CallbackRegistry(reqStr(o, "name"))(in)
      case "filters.shell" =>
        ShellStage.run(in, reqStr(o, "command"))
      // ---- writers ----
      case "writers.ply" | "writers.gltf" =>
        // the reference writes the mesh ATTACHED to the incoming view
        // (PlyWriter.cpp:48, GltfWriter.cpp:55); stages here pass
        // DataFrames, so either give the writer two inputs — [vertices,
        // faces] tags — or one point view and the TIN is (re)built like
        // filters.faceraster does
        val (verts, faces) =
          if (ins.size == 2) (ins(0), ins(1))
          else (in, DelaunayMesh(in))
        val fname = reqStr(o, "filename")
        if (spec.stageType == "writers.gltf")
          graft.sources.MeshWriters.writeGlb(verts, faces, fname)
        else {
          // reference spellings (PlyWriter.hpp:92-99), unknown fails loudly
          val byteOrder = optStr(o, "storage_mode")
            .map(_.trim.toLowerCase) match {
            case None | Some("ascii") => None
            case Some("little endian") | Some("binary_little_endian") =>
              Some(java.nio.ByteOrder.LITTLE_ENDIAN)
            case Some("big endian") | Some("binary_big_endian") =>
              Some(java.nio.ByteOrder.BIG_ENDIAN)
            case Some(other) => throw new IllegalArgumentException(
              s"writers.ply: unknown storage_mode '$other' (expected ascii, " +
              "little endian/binary_little_endian, or big endian/binary_big_endian)")
          }
          graft.sources.MeshWriters.writePly(verts, faces, fname,
            binary = byteOrder.isDefined,
            precision = optLong(o, "precision").getOrElse(3L).toInt,
            dims = {
              val d = optStrList(o, "dims")
              if (d.isEmpty) Seq("x", "y", "z") else d
            },
            byteOrder = byteOrder.getOrElse(java.nio.ByteOrder.LITTLE_ENDIAN))
        }
        in
      case "writers.ogr" =>
        graft.sources.OgrWriter.writeGeoJson(in, reqStr(o, "filename"),
          optStr(o, "attr_dims").map(_.split(',').map(_.trim).toSeq).getOrElse(Nil),
          optStr(o, "measure_dim"),
          optLong(o, "multicount").getOrElse(1L).toInt)
        in
      case "writers.raster" | "writers.faceraster" | "writers.gdal"
          if in.columns.contains("cell_x") =>
        // input is already a raster table (e.g. from filters.faceraster):
        // write it as-is, like the reference's writers.raster consuming
        // the view's attached raster (io/RasterWriter.cpp:66-79); grid
        // limits ride on the __edge/__ox/__oy constant columns
        val lim = if (in.columns.contains("__edge"))
          Some(in.select("__edge", "__ox", "__oy").head()) else None
        graft.sources.AscWriter.writeAsc(
          in.drop("__edge", "__ox", "__oy"), reqStr(o, "filename"),
          optStr(o, "band").getOrElse("band1"),
          optDouble(o, "nodata").getOrElse(-9999.0),
          optDouble(o, "resolution")
            .orElse(lim.map(_.getDouble(0))).getOrElse(1.0),
          (optDouble(o, "origin_x")
            .orElse(lim.map(_.getDouble(1))).getOrElse(0.0),
           optDouble(o, "origin_y")
            .orElse(lim.map(_.getDouble(2))).getOrElse(0.0)))
        in
      case "writers.raster" | "writers.faceraster" | "writers.gdal" =>
        val res = optDouble(o, "resolution").getOrElse(1.0)
        val nodata = optDouble(o, "nodata").getOrElse(-9999.0)
        // PDAL output_type values: min|max|mean|idw|count|stdev|all —
        // 'stdev' maps to our stddev column, 'all' fans out one single-
        // band .asc per statistic (the format is single-band)
        val bands = optStr(o, "output_type").getOrElse("mean").toLowerCase match {
          case "all" => Seq("min", "max", "mean", "idw", "count", "stddev")
          case "stdev" => Seq("stddev")
          case b => Seq(b)
        }
        val origin = (for (x <- optDouble(o, "origin_x");
          y <- optDouble(o, "origin_y")) yield (x, y)).getOrElse {
          val r = in.agg(min("x"), min("y")).head()
          (r.getDouble(0), r.getDouble(1))
        }
        val grid = Rasterize(in, res, optStr(o, "dimension").getOrElse("z"),
          optDouble(o, "radius").getOrElse(0.0), Some(origin))
        val fn = reqStr(o, "filename")
        if (bands.length == 1)
          graft.sources.AscWriter.writeAsc(grid, fn, bands.head, nodata, res, origin)
        else {
          val cached = grid.cache()
          try bands.foreach { b =>
            val bfn = // out.asc -> out.min.asc etc.
              if (fn.contains('.')) fn.patch(fn.lastIndexOf('.'), s".$b", 0)
              else s"$fn.$b"
            graft.sources.AscWriter.writeAsc(cached, bfn, b, nodata, res, origin)
          } finally cached.unpersist()
        }
        in
      case "writers.auto" | "writers.parquet" | "writers.las" =>
        val path = reqStr(o, "filename")
        val w = in.write.mode("overwrite")
        val parted = optStr(o, "partition_by")
        parted.fold(w)(p => w.partitionBy(p)).parquet(path)
        in
      case "writers.null" => in.count(); in
      case "writers.text" =>
        in.write.mode("overwrite").option("header", "true")
          .csv(reqStr(o, "filename")); in
      case "writers.graft" =>
        // snapshot-table commit: append (default) stacks a new version,
        // mode=overwrite starts history over, mode=upsert merges by
        // `key` (default order_key) rewriting only key-interval-touched
        // files; `commit_tag` makes append and upsert idempotent (a
        // rerun with the same tag commits nothing). Named commit_tag
        // because bare `tag` is PDAL's stage-tag option and is consumed
        // by the pipeline parser before stages see it.
        val root = reqStr(o, "root", "filename")
        val mode = optStr(o, "mode").getOrElse("append")
        val tg = optStr(o, "commit_tag")
        mode match {
          case "upsert" =>
            graft.sources.GraftTable.upsert(in.sparkSession, root, in,
              keyCol = optStr(o, "key").getOrElse("order_key"), tag = tg)
          case "overwrite" =>
            require(tg.isEmpty, "writers.graft: commit_tag implies append mode")
            graft.sources.GraftTable.commit(in, root, overwrite = true)
          case "append" => tg match {
            case Some(t) => graft.sources.GraftTable.commitIfAbsent(in, root, t)
            case None => graft.sources.GraftTable.commit(in, root)
          }
          case other => throw new IllegalArgumentException(
            s"writers.graft: unknown mode '$other' (append|overwrite|upsert)")
        }
        in
      case other => throw new IllegalArgumentException(s"unknown stage type: $other")
    } catch {
      case e: BadOption =>
        throw new IllegalArgumentException(s"${spec.stageType}: ${e.getMessage}", e)
    }
  }

  /** PDAL bounds grammar "([minx,maxx],[miny,maxy],[minz,maxz])". */
  def boundsNums(s: String): Array[Double] = {
    val nums = "-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?".r.findAllIn(s).map(_.toDouble).toArray
    if (nums.length != 4 && nums.length != 6)
      throw new IllegalArgumentException(s"bad bounds '$s' (${nums.length} numbers)")
    nums
  }

  def parseBounds(s: String): ((Double, Double, Double), (Double, Double, Double)) = {
    val nums = boundsNums(s)
    nums.length match {
      case 4 => ((nums(0), nums(2), 0.0), (nums(1), nums(3), 0.0))
      case _ => ((nums(0), nums(2), nums(4)), (nums(1), nums(3), nums(5)))
    }
  }
}
