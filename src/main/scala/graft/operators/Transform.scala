package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** filters.transformation analog (filters/TransformationFilter.cpp:47):
  * 4x4 row-major affine matrix applied to (x, y, z, 1) — pure codegen'd
  * column arithmetic. */
object Transformation {
  def apply(df: DataFrame, m: Seq[Double]): DataFrame = {
    require(m.length == 16, "expects a 4x4 row-major matrix")
    val x = col("x"); val y = col("y"); val z = col("z")
    val out = df
      .withColumn("__nx", lit(m(0)) * x + lit(m(1)) * y + lit(m(2)) * z + lit(m(3)))
      .withColumn("__ny", lit(m(4)) * x + lit(m(5)) * y + lit(m(6)) * z + lit(m(7)))
      .withColumn("__nz", lit(m(8)) * x + lit(m(9)) * y + lit(m(10)) * z + lit(m(11)))
      .withColumn("x", col("__nx")).withColumn("y", col("__ny"))
      .withColumn("z", col("__nz")).drop("__nx", "__ny", "__nz")
    Srs.preserve(df, out) // an affine transform does not change the CRS
  }
}

/** filters.scaling analog (pdal/Scaling.cpp): scale/offset quantization. */
object Scaling {
  def quantize(df: DataFrame, dim: String, scale: Double, offset: Double): DataFrame =
    Srs.preserve(df,
      df.withColumn(dim, round((col(dim) - offset) / scale) * scale + offset))
}

/** filters.reprojection analog (filters/ReprojectionFilter.cpp:48) for the
  * CRS pairs the test suite exercises, as pure column math (codegen'd, no
  * UDF): WGS84 lon/lat <-> Web Mercator, WGS84 <-> UTM (Karney-style
  * series, standard public formulas, ~1e-6 m grade). No PROJ database —
  * datum-grid cases are out of scope (SURVEY §7.4.7). */
/** The one WGS84 ellipsoid definition — shared by every projection path
  * (Reprojection's UTM/webmercator and ProjPipeline's cart/webmerc/utm
  * steps), so a datum fix can never diverge them. */
private[operators] object Wgs84 {
  val A = 6378137.0 // semi-major
  val F_INV = 298.257223563 // inverse flattening
  val E2: Double = (2 - 1 / F_INV) / F_INV // first eccentricity^2
  val B: Double = A * math.sqrt(1 - E2) // semi-minor
  val EP2: Double = E2 / (1 - E2) // second eccentricity^2
}

object Reprojection {
  private val R = Wgs84.A
  private val F_INV = Wgs84.F_INV
  private val E2 = Wgs84.E2
  private val K0 = 0.9996

  def wgs84ToWebMercator(df: DataFrame): DataFrame = Srs.tag(df
    .withColumn("__x", lit(R) * radians(col("x")))
    .withColumn("y", lit(R) * log(tan(lit(math.Pi / 4) + radians(col("y")) / 2)))
    .withColumn("x", col("__x")).drop("__x"), "EPSG:3857")

  def webMercatorToWgs84(df: DataFrame): DataFrame = Srs.tag(df
    .withColumn("__lon", degrees(col("x") / R))
    .withColumn("y", degrees(lit(2.0) * atan(exp(col("y") / R)) - lit(math.Pi / 2)))
    .withColumn("x", col("__lon")).drop("__lon"), "EPSG:4326")

  /** UTM forward (lon/lat degrees -> easting/northing), fixed zone.
    * Kruger series to n^4 — standard public formulation. */
  def wgs84ToUtm(df: DataFrame, zone: Int, southern: Boolean = false): DataFrame = {
    val lon0 = (zone - 1) * 6 - 180 + 3
    val phi = radians(col("y"))
    val lam = radians(col("x") - lon0)
    val ep2 = E2 / (1 - E2)
    val nu = lit(R) / sqrt(lit(1.0) - lit(E2) * pow(sin(phi), 2))
    val t = tan(phi); val t2 = t * t
    val c = lit(ep2) * pow(cos(phi), 2)
    val a = lam * cos(phi)
    // meridian arc
    val m = lit(R) * ((lit(1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256)) * phi
      - lit(3 * E2 / 8 + 3 * E2 * E2 / 32 + 45 * E2 * E2 * E2 / 1024) * sin(phi * 2)
      + lit(15 * E2 * E2 / 256 + 45 * E2 * E2 * E2 / 1024) * sin(phi * 4)
      - lit(35 * E2 * E2 * E2 / 3072) * sin(phi * 6))
    val east = lit(K0) * nu * (a + (lit(1.0) - t2 + c) * pow(a, 3) / 6
      + (lit(5.0) - lit(18.0) * t2 + t2 * t2 + lit(72.0) * c - lit(58.0 * ep2)) * pow(a, 5) / 120) + lit(500000.0)
    val north0 = lit(K0) * (m + nu * t * (pow(a, 2) / 2
      + (lit(5.0) - t2 + lit(9.0) * c + lit(4.0) * c * c) * pow(a, 4) / 24
      + (lit(61.0) - lit(58.0) * t2 + t2 * t2 + lit(600.0) * c - lit(330.0 * ep2)) * pow(a, 6) / 720))
    val north = if (southern) north0 + 10000000.0 else north0
    Srs.tag(df.withColumn("__e", east).withColumn("y", north)
      .withColumn("x", col("__e")).drop("__e"),
      f"EPSG:${if (southern) 327 else 326}%d$zone%02d")
  }

  /** UTM inverse (easting/northing -> lon/lat degrees), fixed zone —
    * standard footpoint-latitude series. */
  def utmToWgs84(df: DataFrame, zone: Int, southern: Boolean = false): DataFrame = {
    val lon0 = (zone - 1) * 6 - 180 + 3
    val ep2 = E2 / (1 - E2)
    val e1 = (1 - math.sqrt(1 - E2)) / (1 + math.sqrt(1 - E2))
    val x = col("x") - 500000.0
    val y = if (southern) col("y") - 10000000.0 else col("y")
    val m = y / K0
    val mu = m / (R * (1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256))
    val phi1 = mu +
      lit(3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * sin(mu * 2) +
      lit(21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * sin(mu * 4) +
      lit(151 * math.pow(e1, 3) / 96) * sin(mu * 6) +
      lit(1097 * math.pow(e1, 4) / 512) * sin(mu * 8)
    val c1 = lit(ep2) * pow(cos(phi1), 2)
    val t1 = pow(tan(phi1), 2)
    val n1 = lit(R) / sqrt(lit(1.0) - lit(E2) * pow(sin(phi1), 2))
    val r1 = lit(R) * (1 - E2) / pow(lit(1.0) - lit(E2) * pow(sin(phi1), 2), 1.5)
    val d0 = x / (n1 * K0)
    val lat = phi1 - (n1 * tan(phi1) / r1) * (pow(d0, 2) / 2
      - (lit(5.0) + lit(3.0) * t1 + lit(10.0) * c1 - lit(4.0) * c1 * c1 - lit(9.0 * ep2)) * pow(d0, 4) / 24
      + (lit(61.0) + lit(90.0) * t1 + lit(298.0) * c1 + lit(45.0) * t1 * t1
        - lit(252.0 * ep2) - lit(3.0) * c1 * c1) * pow(d0, 6) / 720)
    val lon = (d0 - (lit(1.0) + lit(2.0) * t1 + c1) * pow(d0, 3) / 6
      + (lit(5.0) - lit(2.0) * c1 + lit(28.0) * t1 - lit(3.0) * c1 * c1
        + lit(8.0 * ep2) + lit(24.0) * t1 * t1) * pow(d0, 5) / 120) / cos(phi1)
    Srs.tag(df.withColumn("__lon", lit(lon0.toDouble) + degrees(lon))
      .withColumn("y", degrees(lat))
      .withColumn("x", col("__lon")).drop("__lon"), "EPSG:4326")
  }

  private object UtmCode {
    /** EPSG:326xx (north) / 327xx (south) -> (zone, southern). */
    def unapply(srs: String): Option[(Int, Boolean)] = {
      val m = "EPSG:32([67])(\\d\\d)".r
      srs match {
        case m(ns, z) if z.toInt >= 1 && z.toInt <= 60 =>
          Some((z.toInt, ns == "7"))
        case _ => None
      }
    }
  }

  /** in_srs/out_srs dispatcher for the pipeline dialect
    * (filters/ReprojectionFilter.cpp:48 options) over the supported CRS
    * pairs, routing through EPSG:4326 as the hub. */
  def convert(df: DataFrame, inSrs: String, outSrs: String): DataFrame = {
    def norm(s: String) = s.trim.toUpperCase
    (norm(inSrs), norm(outSrs)) match {
      case (a, b) if a == b => Srs.tag(df, b)
      case ("EPSG:4326", "EPSG:3857") => wgs84ToWebMercator(df)
      case ("EPSG:3857", "EPSG:4326") => webMercatorToWgs84(df)
      case ("EPSG:4326", UtmCode(z, s)) => wgs84ToUtm(df, z, s)
      case (UtmCode(z, s), "EPSG:4326") => utmToWgs84(df, z, s)
      case (UtmCode(z, s), "EPSG:3857") =>
        wgs84ToWebMercator(utmToWgs84(df, z, s))
      case ("EPSG:3857", UtmCode(z, s)) =>
        wgs84ToUtm(webMercatorToWgs84(df), z, s)
      case (UtmCode(z1, s1), UtmCode(z2, s2)) =>
        wgs84ToUtm(utmToWgs84(df, z1, s1), z2, s2)
      case other => throw new IllegalArgumentException(
        s"reprojection pair $other unsupported without a PROJ database — " +
        "supported: EPSG:4326, EPSG:3857, EPSG:326xx/327xx (UTM); " +
        "arbitrary operations go through filters.projpipeline")
    }
  }
}

/** filters.gpstimeconvert analog (filters/GpsTimeConvert.cpp:42):
  * conversions among gps week seconds (gws), gps standard time (gst =
  * gps time - 1e9) and gps time (gt); week wrap/unwrap is a stateful
  * scan in point order -> lag window over order_key (conversions :72-96). */
object GpsTimeConvert {
  private val WEEK = 604800.0
  private val GST_OFFSET = 1e9

  def gws2gt(df: DataFrame, startDateWeekSeconds: Double, wrapped: Boolean): DataFrame = {
    val base = lit(startDateWeekSeconds)
    if (!wrapped) return df.withColumn("gps_time", base + col("gps_time"))
    // unwrap: every negative jump in week-seconds bumps the week count.
    // Distributed scan: range-partition on order_key, within-partition
    // running bumps, plus driver-computed per-partition offsets from one
    // collected row per partition (bump total, first and last value). Not
    // Order.runningSums: a bump compares with the previous row's value,
    // which crosses partition boundaries, and a sum carry cannot carry it.
    val parts = math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val ranged = graft.core.Mat(df.repartitionByRange(parts, col("order_key"))
      .withColumn("__pid", spark_partition_id()))
    val w = Window.partitionBy("__pid").orderBy("order_key")
    val prev = lag(col("gps_time"), 1).over(w)
    val bump = when(prev.isNotNull && col("gps_time") < prev, 1L).otherwise(0L)
    val withBump = ranged.withColumn("__wb",
      sum(bump).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val stats = withBump.groupBy("__pid").agg(
        min_by(col("gps_time"), col("order_key")).as("first"),
        max_by(col("gps_time"), col("order_key")).as("last"),
        max("__wb").as("tb"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    val maxPid = if (stats.isEmpty) 0 else stats.keys.max
    val offsetIncl = new Array[Long](maxPid + 1)
    var cum = 0L
    var prevLast: Option[Double] = None
    for (pid <- 0 to maxPid) stats.get(pid).foreach { case (first, last, bumps) =>
      val boundary = if (prevLast.exists(first < _)) 1L else 0L
      offsetIncl(pid) = cum + boundary
      cum = offsetIncl(pid) + bumps
      prevLast = Some(last)
    }
    val offCol = element_at(array(offsetIncl.map(lit).toSeq: _*), col("__pid") + 1)
    withBump
      .withColumn("gps_time", base + col("gps_time") + (offCol + col("__wb")) * WEEK)
      .drop("__pid", "__wb")
  }

  /** Reference semantics (GpsTimeConvert.cpp:216-236): subtract the FIRST
    * point's containing-week start — the GPS epoch is a Sunday and GPS
    * weeks are exactly 604800 s, so the calendar week start equals
    * floor(t/WEEK)*WEEK — then optionally wrap each value into [0, WEEK).
    * (With wrap the week-multiple shift vanishes under pmod, so wrap=true
    * output is unchanged by the shift; wrap=false was previously a
    * silent no-op.) */
  def gt2gws(df: DataFrame, wrap: Boolean): DataFrame = {
    val firstArr = df.orderBy("order_key").select("gps_time").take(1)
    if (firstArr.isEmpty) return df // empty input
    val weekStart = math.floor(firstArr(0).getDouble(0) / WEEK) * WEEK
    val shifted = df.withColumn("gps_time", col("gps_time") - weekStart)
    if (wrap) shifted.withColumn("gps_time", pmod(col("gps_time"), lit(WEEK)))
    else shifted
  }

  def gt2gst(df: DataFrame): DataFrame =
    df.withColumn("gps_time", col("gps_time") - GST_OFFSET)

  def gst2gt(df: DataFrame): DataFrame =
    df.withColumn("gps_time", col("gps_time") + GST_OFFSET)

  /** The full conversion matrix (GpsTimeConvert.cpp:72-96: in_time x
    * out_time over {gws, gst, gt}), composed from the four primitives. */
  def convert(df: DataFrame, inTime: String, outTime: String,
      startDateWeekSeconds: Double = 0.0, wrapped: Boolean = false,
      wrap: Boolean = false): DataFrame = (inTime, outTime) match {
    case (a, b) if a == b => df
    case ("gws", "gt") => gws2gt(df, startDateWeekSeconds, wrapped)
    case ("gws", "gst") => gt2gst(gws2gt(df, startDateWeekSeconds, wrapped))
    case ("gt", "gws") => gt2gws(df, wrap)
    case ("gst", "gws") => gt2gws(gst2gt(df), wrap)
    case ("gt", "gst") => gt2gst(df)
    case ("gst", "gt") => gst2gt(df)
    case other => throw new IllegalArgumentException(s"bad conversion $other")
  }
}

/** SRS bookkeeping (pdal/Reader.cpp:56-64 override_srs/default_srs;
  * pdal/SpatialReference): the CRS tag rides as column metadata on `x`,
  * surviving projections and writes — the Spark-native place for
  * view-level metadata. */
object Srs {
  import org.apache.spark.sql.types.MetadataBuilder

  def tag(df: DataFrame, srs: String): DataFrame =
    df.withColumn("x", col("x").as("x",
      new MetadataBuilder().putString("srs", srs).build()))

  def of(df: DataFrame): Option[String] =
    df.schema.find(_.name == "x")
      .filter(_.metadata.contains("srs")).map(_.metadata.getString("srs"))

  /** Carry `from`'s CRS tag onto `to` — withColumn("x", ...) rebuilds the
    * attribute with empty metadata, so every CRS-preserving transform
    * must re-tag explicitly or the documented contract ("surviving
    * projections") breaks. */
  def preserve(from: DataFrame, to: DataFrame): DataFrame =
    of(from).map(tag(to, _)).getOrElse(to)

  /** override_srs forces the tag; default_srs fills only when absent. */
  def applyReaderOptions(df: DataFrame, overrideSrs: Option[String],
      defaultSrs: Option[String]): DataFrame = (overrideSrs, defaultSrs) match {
    case (Some(s), _) => tag(df, s)
    case (None, Some(s)) if of(df).isEmpty => tag(df, s)
    case _ => df
  }
}

/** filters.geomdistance analog (filters/GeomDistanceFilter.cpp:50):
  * planar distance from each point to a polygon (0 inside — GEOS
  * semantics). */
object GeomDistance {
  def apply(df: DataFrame, wkt: String, outCol: String = "distance"): DataFrame = {
    val polys = graft.functions.Wkt.parse(wkt)
    val grid = new graft.functions.PnpGrid(polys)
    val distExpr = org.apache.spark.sql.GraftBridge.column(
      graft.functions.GeomDistExpr(
        org.apache.spark.sql.GraftBridge.expression(col("x")),
        org.apache.spark.sql.GraftBridge.expression(col("y")), grid))
    df.withColumn(outCol, distExpr)
  }
}

/** filters.colorinterp analog (filters/ColorinterpFilter.cpp:59): map a
  * dim's [min, max] linearly onto an RGB ramp (broadcast literal arrays,
  * pure columns). */
object ColorInterp {
  def apply(df: DataFrame, dim: String = "z",
      ramp: Seq[(Int, Int, Int)] = defaultRamp,
      minValue: Option[Double] = None, maxValue: Option[Double] = None): DataFrame = {
    val (lo, hi) = (minValue, maxValue) match {
      case (Some(a), Some(b)) => (a, b)
      case _ =>
        val r = df.agg(min(col(dim)), max(col(dim))).head()
        (minValue.getOrElse(r.getDouble(0)), maxValue.getOrElse(r.getDouble(1)))
    }
    val n = ramp.length
    val idx = least(greatest(
      floor((col(dim) - lo) / math.max(hi - lo, 1e-12) * n).cast("int"), lit(0)), lit(n - 1))
    val rs = array(ramp.map(c => lit(c._1)): _*)
    val gs = array(ramp.map(c => lit(c._2)): _*)
    val bs = array(ramp.map(c => lit(c._3)): _*)
    df.withColumn("red", element_at(rs, idx + 1))
      .withColumn("green", element_at(gs, idx + 1))
      .withColumn("blue", element_at(bs, idx + 1))
  }

  /** "pestel_shades"-like 5-stop ramp (any fixed ramp works; PDAL embeds
    * GDAL color tables). */
  val defaultRamp: Seq[(Int, Int, Int)] = Seq(
    (0, 47, 115), (60, 120, 180), (140, 190, 150), (230, 200, 100), (200, 60, 40))
}
