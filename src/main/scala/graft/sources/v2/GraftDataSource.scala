package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.GraftTable

/** DataSource V2 surface for the graft snapshot table:
  *
  * {{{
  *   spark.read.format("graft").option("asof", 3).load(root)
  * }}}
  *
  * is the idiomatic Spark spelling of `GraftTable.read(spark, root,
  * asOf)` — and, unlike the object API, filters and column pruning
  * arrive through the V2 pushdown path:
  *
  *   - `SupportsPushDownFilters`: comparison predicates on x / y
  *     (double bbox) and order_key (long interval) prune DATA FILES via
  *     the manifest footer stats before any file opens — the same exact
  *     null-fails-the-predicate contract readBox proves (a file whose
  *     commit lacked the column holds no row that can satisfy a
  *     comparison on it). Every filter is also re-applied by Spark above
  *     the scan, so unsupported or partially-pushed predicates stay
  *     correct.
  *   - `SupportsPushDownRequiredColumns`: the projected schema reaches
  *     the inner parquet scan (ReadSchema shows only the survivors).
  *
  * The Scan implements Spark's `V1Scan` bridge (the same shape the
  * built-in JDBC V2 source uses): planning, pruning and pushdown are V2;
  * row production delegates to the native parquet reader over exactly
  * the pruned file set, so the hot path stays Spark's vectorized scan
  * rather than a hand-rolled PartitionReader. Writes stay on the object
  * API (`GraftTable.commit/upsert/...`) — commit protocols are
  * transactional table maintenance, not a V2 append.
  *
  * Reference analog: this is the `readers.copc`/`readers.ept` bounds
  * pushdown (io/EptReader.cpp:200-269) lifted onto Spark's V2 connector
  * contract, over the Iceberg-shaped snapshot layer.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (root, asof) = GraftDataSource.rootAsof(options)
    // file sources report every column nullable (a later commit may add
    // the column, surfacing nulls in older files) — relax the pinned
    // schema's nullability recursively so the V2 schema matches the
    // object API's read schema exactly
    GraftDataSource.relaxNullability(
      GraftTable.tableSchema(SparkSession.active, root, asof))
      .asInstanceOf[StructType]
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (root, asof) = GraftDataSource.rootAsof(
      new CaseInsensitiveStringMap(properties))
    new GraftV2Table(root, asof, schema)
  }
}

object GraftDataSource {
  private[v2] def rootAsof(options: CaseInsensitiveStringMap)
      : (String, Option[Int]) = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft: missing path — spark.read.format(\"graft\").load(<tableRoot>)"))
    val asof = Option(options.get("asof")).map(_.toInt)
    (root, asof)
  }

  /** (filesRead, filesTotal) of every graft scan in `df`'s physical
    * plan. Each scan prunes once, on the driver, when the query is
    * planned; the same counts show in the plan's text as
    * `files=read/total`. */
  def pruneOf(df: DataFrame): Seq[(Long, Long)] =
    df.queryExecution.sparkPlan.collect {
      case s: RowDataSourceScanExec => s.relation
    }.collect { case g: GraftV1Relation => (g.files.size.toLong, g.filesTotal) }

  private[v2] def relaxNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(relaxNullability(a.elementType), containsNull = true)
      case m: MapType => MapType(relaxNullability(m.keyType),
        relaxNullability(m.valueType), valueContainsNull = true)
      case other => other
    }
  }
}

private[v2] class GraftV2Table(root: String, asof: Option[Int],
    tschema: StructType) extends Table with SupportsRead {
  override def name(): String =
    s"graft:$root" + asof.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, asof, tschema)
}

private[v2] class GraftScanBuilder(root: String, asof: Option[Int],
    full: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftFilterPush.supported)
    // every filter is returned as a residual: Spark re-applies them all
    // above the scan, so pruning can stay best-effort-but-exact
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  // nested schema pruning can ask for part of a struct (s{b} of s{a, b}),
  // but buildScan emits whole top-level columns: keep the full type of
  // every requested top-level field so readSchema describes those rows
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.map(full(_)))
  override def build(): Scan = new GraftScan(root, asof, required, pushed)
}

private[v2] class GraftScan(root: String, asof: Option[Int],
    required: StructType, pushed: Array[Filter]) extends Scan with V1Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftScan root=$root asof=${asof.getOrElse(-1)} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftV1Relation(context, root, asof, required, pushed)
      .asInstanceOf[T]
}

private[v2] class GraftV1Relation(ctx: SQLContext, root: String,
    asof: Option[Int], required: StructType, pushed: Array[Filter])
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = required

  // the snapshot this scan reads: head is resolved once, so the prune and
  // the file read cannot straddle a concurrent commit
  private val version = Some(asof.getOrElse(GraftTable.currentVersion(root)))

  /** Manifest pruning, planned on the driver once per scan: the data
    * files no pushed filter rules out, and the snapshot's file count. */
  lazy val (files, filesTotal): (IndexedSeq[String], Long) = {
    val es = GraftTable.entriesAt(ctx.sparkSession, root, version)
    (GraftTable.manifestFrame(ctx.sparkSession, es)
      .filter(GraftFilterPush.manifestPredicate(pushed)).select("path")
      .collect().map(_.getString(0)).toIndexedSeq, es.size.toLong)
  }

  override def toString: String =
    s"GraftScan root=$root asof=${asof.getOrElse(-1)} " +
      s"files=${files.size}/$filesTotal"

  override def buildScan(): RDD[Row] = {
    var df = GraftTable.readFiles(ctx.sparkSession, root, version, files)
    // push the accepted filters into the inner parquet scan too (row
    // group / page pruning below the file-level manifest prune)
    for (f <- pushed; c <- GraftFilterPush.toColumn(f)) df = df.filter(c)
    if (required.isEmpty)
      // count(*)-style scans: no columns survive pruning; emit empty rows
      df.select().rdd
    else
      df.select(required.fieldNames.toIndexedSeq.map(col): _*).rdd
  }
}

/** The filter subset the graft scan understands, and its two uses:
  * manifest-level FILE pruning (x / y / order_key footer stats) and
  * re-expression as Columns for the inner parquet scan. */
private[v2] object GraftFilterPush {

  private val statCols: Map[String, (String, String)] = Map(
    "x" -> ("min_x", "max_x"),
    "y" -> ("min_y", "max_y"),
    "order_key" -> ("min_key", "max_key"))

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, v) => atomic(a, v)
    case GreaterThan(a, v) => atomic(a, v)
    case GreaterThanOrEqual(a, v) => atomic(a, v)
    case LessThan(a, v) => atomic(a, v)
    case LessThanOrEqual(a, v) => atomic(a, v)
    case IsNotNull(a) => !a.contains(".")
    case In(a, vs) => vs.nonEmpty && vs.forall(atomic(a, _))
    case And(l, r) => supported(l) && supported(r)
    case _ => false
  }

  private def atomic(attr: String, v: Any): Boolean =
    !attr.contains(".") && (v match {
      case _: Number | _: String | _: Boolean | _: java.sql.Timestamp |
           _: java.sql.Date | _: java.time.Instant | _: java.time.LocalDate =>
        true
      case _ => false
    })

  /** Manifest predicate: a file survives unless some pushed filter's
    * stats interval proves no row in it can match. Comparisons on a
    * stat-covered column tighten the interval; null stats fail the
    * predicate, which is exact (the commit lacked the column, so no row
    * of the file satisfies a comparison on it). Columns without footer
    * stats never prune. Values stay typed literals, so key stats compare
    * as longs (a double would round keys above 2^53). An upper stat of
    * +Inf bounds nothing: it is also the sentinel of a file whose NaNs
    * suppressed its stats, and Spark orders NaN above +Inf. */
  def manifestPredicate(pushed: Array[Filter])
      : org.apache.spark.sql.Column = {
    def reaches(hi: String, v: Any) =
      col(hi) >= lit(v) || col(hi) === Double.PositiveInfinity
    def pred(f: Filter): Option[org.apache.spark.sql.Column] = f match {
      case EqualTo(a, v: Number) => statCols.get(a).map { case (lo, hi) =>
        col(lo) <= lit(v) && reaches(hi, v) }
      case GreaterThan(a, v: Number) => statCols.get(a).map { case (_, hi) =>
        col(hi) > lit(v) || col(hi) === Double.PositiveInfinity }
      case GreaterThanOrEqual(a, v: Number) => statCols.get(a).map {
        case (_, hi) => reaches(hi, v) }
      case LessThan(a, v: Number) => statCols.get(a).map { case (lo, _) =>
        col(lo) < lit(v) }
      case LessThanOrEqual(a, v: Number) => statCols.get(a).map {
        case (lo, _) => col(lo) <= lit(v) }
      case In(a, vs) if vs.forall(_.isInstanceOf[Number]) =>
        statCols.get(a).map { case (lo, hi) =>
          vs.map(v => col(lo) <= lit(v) && reaches(hi, v)).reduce(_ || _) }
      case And(l, r) => (pred(l), pred(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b)
      }
      case _ => None
    }
    pushed.flatMap(pred(_)).foldLeft(lit(true))(_ && _)
  }

  /** Column re-expression for the inner parquet scan (only called on
    * filters `supported` accepted). */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case IsNotNull(a) => Some(col(a).isNotNull)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq.map(lit): _*))
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case _ => None
  }
}
