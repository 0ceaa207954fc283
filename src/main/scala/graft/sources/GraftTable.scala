package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot table over plain parquet — the table format the
  * north rule's "Iceberg table of interleaved documents" reduces to with
  * the jars available offline (no Iceberg runtime; the layout mirrors its
  * metadata tree 1:1 so a real catalog can adopt the same shape):
  *
  *   <root>/data/<uuid>-N.parquet        immutable data files
  *   <root>/manifests/m-<uuid>.parquet   per-commit file list + stats
  *                                       (rows, bbox, order_key interval)
  *   <root>/snapshots/v<N>.json          manifest list + parent pointer
  *   <root>/VERSION                      current-version pointer (atomic
  *                                       rename commit)
  *
  * Commit protocol (crash-safe, optimistic):
  *   1. stage data files, move them under data/ (new names, never reused)
  *   2. write the manifest parquet (per-file stats read on the driver
  *      from the staged files' parquet FOOTERS — no job, no data scan)
  *   3. allocate the next version with an EXCLUSIVE create of
  *      snapshots/v<N>.json — two racing committers cannot both win N;
  *      the loser re-reads the head and retries on the parent it lost to
  *   4. flip VERSION via atomic temp-write + rename
  * A crash before (3) leaves orphan data/manifest files that no snapshot
  * references — invisible to readers, never a corrupt table.
  *
  * Reads resolve a snapshot (head or explicit time-travel version), union
  * its manifests, prune FILES by bbox/rows stats against the predicate,
  * and scan only survivors — manifest-level pruning one level below
  * CellStore's partition-value pruning (EptReader.cpp:200-269 page walk).
  * Manifests are small parquet files (one row per data file) that the
  * DRIVER reads and writes directly, as Iceberg plans scans from its
  * manifest files: metadata questions (file lists, box prunes, counts,
  * keep-manifests) are plain Scala over `FileEntry`s and launch no Spark
  * job; only data files are scanned by Spark.
  */
object GraftTable {

  /** `schema` is the path of the committed DataFrame's schema json —
    * the snapshot PINS its schema (Iceberg semantics): a head read
    * applies the latest commit's schema to every data file, so files
    * from before a column was added surface it as nulls, and time
    * travel reads with the schema of its era. Absent in pre-evolution
    * tables: those fall back to parquet inference. */
  case class Snapshot(version: Int, parent: Int, manifests: Seq[String],
      schema: Option[String] = None)

  private def versionFile(root: String) = Paths.get(root, "VERSION")

  /** NIO directory streams must be closed — unclosed ones leak a file
    * descriptor per call until finalization (streaming sinks commit once
    * per microbatch, so the leak compounds fast). */
  private def withStream[S <: java.util.stream.BaseStream[_, _], R](s: S)(f: S => R): R =
    try f(s) finally s.close()

  /** Current head version, or 0 when the table is empty/new. */
  def currentVersion(root: String): Int = {
    val vf = versionFile(root)
    if (Files.exists(vf)) new String(Files.readAllBytes(vf), "UTF-8").trim.toInt
    else 0
  }

  def snapshot(root: String, version: Int): Snapshot = {
    val f = Paths.get(root, "snapshots", s"v$version.json")
    require(Files.exists(f), s"graft table $root has no snapshot v$version")
    val txt = new String(Files.readAllBytes(f), "UTF-8")
    // flat, self-written JSON — parse with the same tiny scanner style the
    // pipeline dialect uses rather than a full parser dependency
    val parent = "\"parent\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).get.group(1).toInt
    val ms = "\"manifests\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt).get.group(1)
    val paths = "\"([^\"]+)\"".r.findAllMatchIn(ms).map(_.group(1)).toSeq
    val schema = "\"schema\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(txt).map(_.group(1))
    Snapshot(version, parent, paths, schema)
  }

  /** Append `df` as a new snapshot (overwrite = drop parent manifests).
    * Returns the committed version.
    *
    * Appends EVOLVE the pinned schema, never narrow it: the snapshot pins
    * parent-schema ∪ df-schema (a df missing a base column must not make
    * that column vanish from head reads; its own files just read it as
    * nulls), re-merged inside the CAS loop against the parent actually
    * committed on, so racing committers adding different columns each
    * merge against the true head. A shared column name with a different
    * type fails loudly before the CAS — staged files stay invisible
    * orphans. Overwrite pins df's schema exactly (a replace defines the
    * table anew). */
  /** A snapshot accumulating more manifests than this triggers an inline
    * metadata-only manifest merge at commit time: every append adds a
    * manifest, so after 10^4 small appends a head read would union 10^4
    * tiny manifest parquets and read planning degrades to manifest-file
    * I/O. Iceberg bounds this with rewrite_manifests; the same merge
    * here runs automatically past the threshold (and on demand via
    * rewriteManifests). Data files are never touched. */
  val autoMergeManifestsAbove = 64

  def commit(df: DataFrame, root: String, overwrite: Boolean = false,
      tag: Option[String] = None,
      mergeAbove: Int = autoMergeManifestsAbove): Int = {
    require(mergeAbove >= 1, s"mergeAbove must be >= 1 (got $mergeAbove)")
    val commitId = UUID.randomUUID().toString.take(8)
    val (manifest, schemaPath) = stageCommit(df, root, commitId)
    allocate(root, commitId, schemaPath, tag, parent => {
      if (overwrite || parent == 0) Seq(manifest)
      else {
        pinnedSchema(root, parent).foreach(ps => Files.write(Paths.get(schemaPath),
          mergeSchema(ps, df.schema).json.getBytes("UTF-8")))
        val all = snapshot(root, parent).manifests :+ manifest
        // parent-suffixed path: a CAS retry merges against a DIFFERENT
        // head's manifest list and must not overwrite the losing attempt
        // (which stays an invisible orphan until vacuum)
        if (all.size > mergeAbove)
          Seq(mergeManifestFiles(df.sparkSession, root, all,
            s"$commitId-p$parent"))
        else all
      }
    })
  }

  /** Metadata-only manifest maintenance (Iceberg's rewrite_manifests):
    * coalesce the head snapshot's manifest list into ONE manifest parquet
    * WITHOUT touching any data file, committed as a new snapshot that
    * carries the head's pinned schema forward. History stays intact —
    * prior snapshots keep referencing the old manifests until
    * expireSnapshots drops them. Returns the committed version (the
    * unchanged head when there is nothing to merge). */
  def rewriteManifests(spark: SparkSession, root: String): Int = {
    val base = currentVersion(root)
    require(base > 0, s"graft table $root is empty (no committed snapshot)")
    val snap = snapshot(root, base)
    if (snap.manifests.size <= 1) return base
    val commitId = UUID.randomUUID().toString.take(8)
    val merged = mergeManifestFiles(spark, root, snap.manifests, commitId)
    allocate(root, commitId, snap.schema.getOrElse(""), None, parent => {
      if (parent != base) throw new java.util.ConcurrentModificationException(
        s"graft table $root advanced v$base -> v$parent during " +
        "rewriteManifests; retry on the new head")
      Seq(merged)
    })
  }

  private def mergeManifestFiles(spark: SparkSession, root: String,
      manifests: Seq[String], commitId: String): String = {
    val merged = s"$root/manifests/m-$commitId-merged.parquet"
    writeManifest(spark, merged, entries(spark, manifests))
    merged
  }

  /** Parent ∪ append schema: parent fields keep their positions, new
    * fields append in df order; a shared name whose type differs (up to
    * nullability) is a real conflict and fails loudly. */
  private def mergeSchema(parent: StructType, df: StructType): StructType = {
    df.fields.foreach { f =>
      parent.fields.find(_.name == f.name).foreach { pf =>
        // simpleString renders the type without nullability flags, which
        // is exactly the "same type up to nullability" comparison wanted
        // (DataType.sameType is private[sql])
        require(pf.dataType.simpleString == f.dataType.simpleString,
          s"append column '${f.name}' has type ${f.dataType.simpleString} " +
          s"but the table pins ${pf.dataType.simpleString} — schema " +
          "evolution is by column addition, not type change")
      }
    }
    val newFields = df.fields.filterNot(f => parent.fieldNames.contains(f.name))
    StructType(parent.fields ++ newFields)
  }

  /** Steps 1+2 of the commit protocol: stage `df`'s rows as immutable
    * data files, derive their manifest from their parquet footers on the
    * driver (as CheckpointRunner derives a stage's lineage), and write
    * the pinned-schema json. The write's own jobs are the only jobs.
    * Returns (manifestPath, schemaPath). Until a snapshot references
    * them, everything written here is invisible orphan data —
    * crash-safe by construction. */
  private def stageCommit(df: DataFrame, root: String, commitId: String)
      : (String, String) = {
    val spark = df.sparkSession
    Files.createDirectories(Paths.get(root, "data"))
    Files.createDirectories(Paths.get(root, "manifests"))
    Files.createDirectories(Paths.get(root, "snapshots"))

    // 1. stage + adopt data files under never-reused names
    val staging = s"$root/.staging-$commitId"
    df.write.mode("overwrite").parquet(staging)
    val adopted = partFiles(staging).zipWithIndex.map { case (p, i) =>
      val dst = Paths.get(root, "data", s"$commitId-$i.parquet")
      Files.move(p, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toString
    }
    withStream(Files.walk(Paths.get(staging)))(
      _.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p)))

    // 2. per-file stats come from the adopted files' parquet FOOTERS,
    //    read on the driver: row-group min/max/count cover exactly what
    //    the manifest needs, so nothing rescans the data just written.
    //    This is what Iceberg's writer-side stat collection reduces to
    //    after the fact.
    val conf = spark.sessionState.newHadoopConf()
    val manifest = s"$root/manifests/m-$commitId.parquet"
    writeManifest(spark, manifest, adopted.map(footerStats(_, conf)))
    // the committed schema rides in its own file (schema json contains
    // quotes; the snapshot json stays regex-parsable by referencing it)
    val schemaPath = s"$root/manifests/m-$commitId.schema.json"
    Files.write(Paths.get(schemaPath), df.schema.json.getBytes("UTF-8"))
    (manifest, schemaPath)
  }

  /** Steps 3+4: optimistic snapshot allocation + pointer flip.
    * `manifestsFor(parent)` yields the new snapshot's manifest list given
    * the parent it will be committed on — re-evaluated on every CAS
    * retry so losers rebuild against the head they actually lost to
    * (and can throw if their work is invalid on the new head). */
  private def allocate(root: String, commitId: String, schemaPath: String,
      tag: Option[String], manifestsFor: Int => Seq[String]): Int = {
    // the tag is interpolated into regex-parsed JSON: quotes or brackets
    // would corrupt the snapshot's manifests parse SILENTLY (the [^\]]*
    // manifest regex would match the tag's bracket), so reject anything
    // outside a safe charset up front
    tag.foreach(t => require(
      t.nonEmpty && t.forall(c => c > ' ' && "\"[]\\{}".indexOf(c) < 0),
      s"commit tag must be non-empty printable text without " +
        s"quotes/brackets/backslashes (got '$t')"))
    var committed = -1
    while (committed < 0) {
      val parent = currentVersion(root)
      val next = parent + 1
      val manifests = manifestsFor(parent)
      val tagField = tag.map(t => s""", "tag": "$t"""").getOrElse("")
      val json =
        s"""{"version": $next, "parent": $parent$tagField, "schema": "$schemaPath", "manifests": [${
          manifests.map("\"" + _ + "\"").mkString(", ")}]}"""
      val snapPath = Paths.get(root, "snapshots", s"v$next.json")
      try {
        // CREATE_NEW is the CAS: exactly one committer owns version `next`
        Files.write(snapPath, json.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        val tmp = Paths.get(root, s".VERSION-$commitId")
        Files.write(tmp, next.toString.getBytes("UTF-8"))
        Files.move(tmp, versionFile(root), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        committed = next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => // lost the race
          // the winner's VERSION flip may still be in flight; wait for the
          // pointer to reach (or pass) the contested version before
          // retrying — but BOUNDED: a winner that died between snapshot
          // allocation and pointer flip must not livelock every later
          // committer. Recovery is a manual roll-forward (validate
          // snapshots/v<next>.json, then write VERSION), never automatic:
          // the orphan json may be a partial write.
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (currentVersion(root) < next) {
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"graft table $root: snapshot v$next exists but VERSION " +
                s"never advanced (committer died mid-flip?) — validate " +
                s"snapshots/v$next.json and roll VERSION forward manually")
            Thread.sleep(1)
          }
      }
    }
    committed
  }

  /** The `part-` files a Spark write left in directory `dir`, sorted by
    * name: the data files of a commit's staging directory or of a
    * checkpoint stage. */
  private[graft] def partFiles(dir: String): IndexedSeq[Path] =
    withStream(Files.list(Paths.get(dir)))(_.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector.sortBy(_.toString))

  /** Manifest stats for one data file, read on the driver from its
    * parquet footer, with `conf` the session's Hadoop conf (so
    * spark.hadoop.* filesystem settings apply); commits and checkpoint
    * stages derive their manifests this way, and no job runs. Column
    * absent -> None (a bbox can PRUNE such files exactly: the
    * commit had no such column, so no row can match). Column present
    * but a chunk lacks usable stats (e.g. doubles with NaNs — parquet
    * omits min/max) -> the infinite interval, which intersects every
    * box: such files are always read, never wrongly pruned. */
  private[graft] def footerStats(path: String,
      conf: org.apache.hadoop.conf.Configuration): FileEntry = {
    val r = openParquet(new org.apache.hadoop.fs.Path(path), conf)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // Number-valued so long stats stay exact (no double round trip for
      // keys past 2^53); ±Inf narrows to Long.Min/MaxValue per the JLS,
      // which is exactly the always-read sentinel a long range wants
      def range(name: String): Option[(Number, Number)] = {
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == name)
        if (chunks.isEmpty) None // column absent from the file
        else {
          val ss = chunks.map(_.getStatistics)
          val nums = scala.util.Try {
            require(ss.forall(s => s != null && s.hasNonNullValue))
            (ss.map(_.genericGetMin.asInstanceOf[Number]), // CCE if non-numeric
             ss.map(_.genericGetMax.asInstanceOf[Number]))
          }.toOption
          nums match {
            case Some((mins, maxs)) if mins.head.isInstanceOf[java.lang.Long] =>
              Some((mins.map(_.longValue).min: java.lang.Long,
                    maxs.map(_.longValue).max: java.lang.Long))
            case Some((mins, maxs)) =>
              Some((mins.map(_.doubleValue).min: java.lang.Double,
                    maxs.map(_.doubleValue).max: java.lang.Double))
            case None => // NaN-suppressed or non-numeric stats: never prune
              Some((Double.NegativeInfinity: java.lang.Double,
                    Double.PositiveInfinity: java.lang.Double))
          }
        }
      }
      // combined x/y null count, used by the countBox metadata fast path:
      // a file counts from its manifest `rows` alone only when PROVABLY
      // free of null coordinates (a null-x row fails the bbox residual a
      // scan would apply, so counting it via metadata would overcount).
      // Column absent -> 0 nulls of it can exist among zero values, but
      // such files have None ranges and never take the fast path anyway;
      // any chunk without a null count -> unknown (None) -> scan path.
      def nullsOf(name: String): Option[Long] = {
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == name)
        if (chunks.isEmpty) Some(0L)
        else {
          val ss = chunks.map(_.getStatistics)
          if (ss.forall(s => s != null && s.isNumNullsSet))
            Some(ss.map(_.getNumNulls).sum)
          else None
        }
      }
      val (x, y, k) = (range("x"), range("y"), range("order_key"))
      val nxy = for (a <- nullsOf("x"); b <- nullsOf("y")) yield a + b
      FileEntry(path, rows,
        x.map(_._1.doubleValue), x.map(_._2.doubleValue),
        y.map(_._1.doubleValue), y.map(_._2.doubleValue),
        k.map(_._1.longValue), k.map(_._2.longValue), nxy)
    } finally r.close()
  }

  /** One data file of a snapshot, as its manifest row lists it. A stat is
    * None where the manifest holds null: the commit had no such column
    * (x/y/order_key), or, for `nullsXy`, the count is unknown (a legacy
    * 8-column manifest). */
  case class FileEntry(path: String, rows: Long,
      minX: Option[Double], maxX: Option[Double],
      minY: Option[Double], maxY: Option[Double],
      minKey: Option[Long], maxKey: Option[Long], nullsXy: Option[Long]) {

    /** The stats rectangle meets the closed box. Null stats never do: the
      * commit had no x/y, so none of its rows can pass a bbox residual. */
    def intersects(minx: Double, miny: Double, maxx: Double, maxy: Double)
        : Boolean = bbox.exists { case (a, b, c, d) =>
      le(a, maxx) && le(minx, b) && le(c, maxy) && le(miny, d) }

    /** The stats rectangle lies inside the closed box and the file
      * provably holds no null coordinate, so every row counts. */
    def containedIn(minx: Double, miny: Double, maxx: Double, maxy: Double)
        : Boolean = nullsXy.contains(0L) && bbox.exists { case (a, b, c, d) =>
      le(minx, a) && le(b, maxx) && le(miny, c) && le(d, maxy) }

    private def bbox = for (a <- minX; b <- maxX; c <- minY; d <- maxY)
      yield (a, b, c, d)

    def toRow: Row = Row.fromSeq(path +: rows +: Seq(minX, maxX, minY, maxY,
      minKey, maxKey, nullsXy).map(_.getOrElse(null)))
  }

  /** Spark SQL's double order, which the manifest prunes have always used:
    * NaN equals NaN and sorts above +Inf (IEEE comparisons with NaN are
    * all false), and -0.0 equals 0.0. */
  private def le(a: Double, b: Double): Boolean =
    a == b || java.lang.Double.compare(a, b) <= 0

  /** The manifest columns, as `manifests` returns them. Older manifests
    * have 8 columns (no nulls_xy); their entries read it as None, which
    * every consumer routes to the exact scan path. */
  val manifestSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType), StructField("rows", LongType),
      StructField("min_x", DoubleType), StructField("max_x", DoubleType),
      StructField("min_y", DoubleType), StructField("max_y", DoubleType),
      StructField("min_key", LongType), StructField("max_key", LongType),
      StructField("nulls_xy", LongType)))
  }

  private val manifestType = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("""message manifest {
      optional binary path (STRING); required int64 rows;
      optional double min_x; optional double max_x;
      optional double min_y; optional double max_y;
      optional int64 min_key; optional int64 max_key;
      optional int64 nulls_xy; }""")

  /** The entries of manifest files `paths`, read on the driver with
    * parquet-mr: no Spark job. A path may be one parquet file (written by
    * `writeManifest`) or a Spark-written directory of part files (tables
    * committed before manifests moved to the driver). */
  def entries(spark: SparkSession, paths: Seq[String]): IndexedSeq[FileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.toIndexedSeq.flatMap { m =>
      val p = new org.apache.hadoop.fs.Path(m)
      val fs = p.getFileSystem(conf)
      val files =
        if (!fs.getFileStatus(p).isDirectory) Seq(p)
        else fs.listStatus(p).toSeq.map(_.getPath).filterNot(f =>
          f.getName.startsWith("_") || f.getName.startsWith(".")).sortBy(_.getName)
      files.flatMap { f =>
        val r = openParquet(f, conf)
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
          Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).flatMap { rg =>
            val rows = io.getRecordReader(rg, new GroupRecordConverter(schema))
            Iterator.fill(rg.getRowCount.toInt)(entryOf(rows.read()))
          }.toVector
        } finally r.close()
      }
    }
  }

  /** Read options come from `conf`: without them parquet-mr builds a
    * default Hadoop Configuration per file, which re-parses its XML
    * resources (about 15 ms, more than reading a manifest). */
  private def openParquet(f: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf).build())

  private def entryOf(g: Group): FileEntry = {
    def has(n: String) = g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0
    def d(n: String) = if (has(n)) Some(g.getDouble(n, 0)) else None
    def l(n: String) = if (has(n)) Some(g.getLong(n, 0)) else None
    FileEntry(g.getString("path", 0), g.getLong("rows", 0), d("min_x"),
      d("max_x"), d("min_y"), d("max_y"), l("min_key"), l("max_key"), l("nulls_xy"))
  }

  /** Writes `es` from the driver as the single parquet file `path` (the
    * session conf spares parquet-mr a default Configuration, as in
    * `openParquet`). */
  private[graft] def writeManifest(spark: SparkSession, path: String,
      es: Seq[FileEntry]): Unit = {
    val w = ExampleParquetWriter.builder(
        new org.apache.parquet.io.LocalOutputFile(Paths.get(path)))
      .withConf(spark.sessionState.newHadoopConf()).withType(manifestType)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(manifestType)
    try es.foreach { e =>
      val g = groups.newGroup().append("path", e.path).append("rows", e.rows)
      Seq("min_x" -> e.minX, "max_x" -> e.maxX, "min_y" -> e.minY,
        "max_y" -> e.maxY).foreach { case (n, v) => v.foreach(g.append(n, _)) }
      Seq("min_key" -> e.minKey, "max_key" -> e.maxKey, "nulls_xy" -> e.nullsXy)
        .foreach { case (n, v) => v.foreach(g.append(n, _)) }
      w.write(g)
    } finally w.close()
  }

  /** `asOf`, or the head version; fails on an empty table. */
  private def resolve(root: String, asOf: Option[Int]): Int = {
    val v = asOf.getOrElse(currentVersion(root))
    require(v > 0, s"graft table $root is empty (no committed snapshot)")
    v
  }

  /** The data files of snapshot `asOf` (default: head). */
  private[sources] def entriesAt(spark: SparkSession, root: String,
      asOf: Option[Int]): IndexedSeq[FileEntry] =
    entries(spark, snapshot(root, resolve(root, asOf)).manifests)

  /** `es` as a local (LocalRelation) frame with `manifestSchema`:
    * filtering and collecting it launches no job. */
  private[sources] def manifestFrame(spark: SparkSession,
      es: Seq[FileEntry]): DataFrame =
    spark.createDataFrame(es.map(_.toRow).asJava, manifestSchema)

  /** The manifest table of a snapshot (default: head). */
  def manifests(spark: SparkSession, root: String,
      asOf: Option[Int] = None): DataFrame =
    manifestFrame(spark, entriesAt(spark, root, asOf))

  private def pinnedSchema(root: String, v: Int): Option[StructType] =
    snapshot(root, v).schema.filter(p => Files.exists(Paths.get(p))).map(p =>
      DataType.fromJson(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
        .asInstanceOf[StructType])

  /** Reader with the snapshot's pinned schema applied (files predating
    * a column addition surface it as nulls; time travel reads with the
    * schema of its era). Pre-evolution snapshots fall back to parquet
    * schema inference. */
  private def readerFor(spark: SparkSession, root: String,
      asOf: Option[Int]): org.apache.spark.sql.DataFrameReader =
    pinnedSchema(root, resolve(root, asOf)).fold(spark.read)(spark.read.schema)

  /** Snapshot schema as a StructType without building a DataFrame: the
    * pinned schema json when the snapshot carries one, otherwise parquet
    * inference over the snapshot's files (pre-evolution tables). Used by
    * the DataSource V2 surface's inferSchema. */
  def tableSchema(spark: SparkSession, root: String,
      asOf: Option[Int] = None): StructType =
    pinnedSchema(root, resolve(root, asOf))
      .getOrElse(read(spark, root, asOf).schema)

  /** Read an explicit file subset of a snapshot with the snapshot's
    * pinned schema: every pruned read (readBox, countBox, deleteBox,
    * upsert, readIncremental, the V2 scan) opens its files here. No files
    * gives an empty local frame with the pinned schema; a pre-evolution
    * snapshot (no schema json) infers it from a lazy full read. */
  private[sources] def readFiles(spark: SparkSession, root: String,
      asOf: Option[Int], files: Seq[String]): DataFrame = {
    val v = resolve(root, asOf)
    if (files.nonEmpty) readerFor(spark, root, Some(v)).parquet(files: _*)
    else pinnedSchema(root, v).fold(read(spark, root, Some(v)).filter(lit(false)))(
      s => spark.createDataFrame(java.util.List.of[Row](), s))
  }

  /** Full-table read of a snapshot. A snapshot referencing zero data
    * files (e.g. an empty first streaming microbatch was committed) is a
    * valid empty table, not a schema-inference error. */
  def read(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame = {
    val v = resolve(root, asOf)
    val files = entriesAt(spark, root, Some(v)).map(_.path)
    if (files.isEmpty && pinnedSchema(root, v).isEmpty)
      throw new IllegalStateException(
        s"graft table $root v$v references no data files and pins no " +
        "schema (pre-evolution empty table) — nothing to infer a schema from")
    readFiles(spark, root, Some(v), files)
  }

  /** Incremental read: exactly the rows APPENDED after `fromVersion`, up
    * to and including `toVersion` (default: head) — Iceberg's incremental
    * scan. At 10^12 rows this is what downstream consumers actually run:
    * process the delta since the last checkpointed version, never a full
    * re-read. Append commits carry the parent's manifests forward, so the
    * delta is precisely the manifest-set difference; when a metadata-only
    * manifest merge broke that identity, the DATA-file-set difference is
    * still exact (merges never touch data files) and the delta falls back
    * to it. Only a history that dropped or rewrote data files in
    * (from, to] (overwrite / compaction / deleteBox / upsert) FAILS
    * LOUDLY instead of returning rows that were merely reshuffled between
    * files — resolve such boundaries with a full read of the target
    * snapshot. fromVersion = 0 reads everything up to `toVersion`. */
  def readIncremental(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Int = -1): DataFrame = {
    val to = if (toVersion < 0) currentVersion(root) else toVersion
    require(to > 0, s"graft table $root is empty (no committed snapshot)")
    require(fromVersion >= 0 && fromVersion <= to,
      s"incremental range v$fromVersion -> v$to is not a forward range")
    val fromM: Set[String] =
      if (fromVersion == 0) Set.empty
      else snapshot(root, fromVersion).manifests.toSet
    val toS = snapshot(root, to)
    val files =
      if ((fromM -- toS.manifests).isEmpty)
        entries(spark, toS.manifests.filterNot(fromM)).map(_.path)
      else {
        // the manifest-set identity broke — but a metadata-only manifest
        // merge (rewriteManifests / commit auto-merge) carries every DATA
        // file forward, so the append delta is still exactly the file-set
        // difference. Only a history that DROPPED data files (overwrite,
        // compaction, deleteBox, upsert — all rewrite rows between files)
        // makes the incremental read undefined, and that stays loud.
        val fromFiles = entries(spark, fromM.toSeq).map(_.path).toSet
        val toFiles = entries(spark, toS.manifests).map(_.path).toSet
        val dropped = fromFiles -- toFiles
        if (dropped.nonEmpty) throw new IllegalStateException(
          s"graft table $root: history v$fromVersion -> v$to is not append-only " +
          s"(${dropped.size} data file(s) of v$fromVersion were dropped/rewritten " +
          "by an overwrite, compaction, delete or upsert) — incremental read " +
          "is undefined across that boundary; full-read the target snapshot")
        (toFiles -- fromFiles).toIndexedSeq.sorted
      }
    // an empty delta (same-version range, or appended manifests listing
    // zero files) is the pinned-schema empty frame
    readFiles(spark, root, Some(to), files)
  }

  /** Checkpointed incremental consumption — the table-level resume loop a
    * downstream pipeline runs forever: read the append delta since the
    * version recorded in `checkpointFile`, hand it to `f(delta, fromV,
    * toV)`, and advance the checkpoint (atomic temp+rename) only after
    * `f` returns. A crash inside `f` or before the flip replays the SAME
    * delta next call — at-least-once for arbitrary side effects,
    * exactly-once when `f`'s sink is idempotent on (fromV, toV] (e.g.
    * commitIfAbsent tagged with the version range). Returns (fromV, toV);
    * fromV == toV means no new data and `f` was not called. */
  def processDelta(spark: SparkSession, root: String, checkpointFile: String)
      (f: (DataFrame, Int, Int) => Unit): (Int, Int) = {
    val cp = Paths.get(checkpointFile)
    val from =
      if (Files.exists(cp)) new String(Files.readAllBytes(cp), "UTF-8").trim.toInt
      else 0
    val to = currentVersion(root)
    require(to >= from,
      s"checkpoint $checkpointFile is at v$from but $root's head is v$to — " +
      "the checkpoint belongs to a different (or rolled-back) table")
    if (to > from) {
      f(readIncremental(spark, root, from, to), from, to)
      val tmp = Paths.get(checkpointFile + ".tmp")
      if (cp.getParent != null) Files.createDirectories(cp.getParent)
      Files.write(tmp, to.toString.getBytes("UTF-8"))
      Files.move(tmp, cp, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    (from, to)
  }

  /** Idempotent commit keyed by `tag` (e.g. a streaming batch id): if a
    * snapshot already carries the tag, return its version without
    * writing — the exactly-once hook for foreachBatch sinks, where a
    * failed microbatch is replayed with the same batchId. Retries are
    * serial per sink by Structured Streaming's contract; concurrent
    * DISTINCT-tag committers stay safe via the usual CAS. */
  def commitIfAbsent(df: DataFrame, root: String, tag: String): Int = {
    require(!tag.contains('"'), s"tag must not contain quotes: $tag")
    taggedVersion(root, tag).getOrElse(commit(df, root, tag = Some(tag)))
  }

  /** Linear scan over snapshot jsons — fine for the microbatch cadence
    * this backs (hundreds of versions); a tag->version index file would
    * amortize it if commit volume ever grows past that. */
  private def taggedVersion(root: String, tag: String): Option[Int] = {
    val dir = Paths.get(root, "snapshots")
    if (!Files.exists(dir)) return None
    val needle = s""""tag": "$tag""""
    withStream(Files.list(dir))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .find(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.getFileName.toString.stripPrefix("v").stripSuffix(".json").toInt))
  }

  /** Compaction: rewrite the head snapshot's rows into `numFiles` data
    * files and commit the result as a NEW snapshot (overwrite manifests,
    * rows identical). History is preserved — prior versions still
    * time-travel until expireSnapshots drops them. */
  def compact(spark: SparkSession, root: String, numFiles: Int = 1): Int =
    commit(read(spark, root).repartition(numFiles), root, overwrite = true)

  /** Commit with Z-order clustering: rows are range-partitioned and
    * sorted on the Morton code of their (x, y) cell, so each data file
    * covers a spatially tight range and its FOOTER bbox becomes a sharp
    * pruning predicate. This is the Iceberg write pattern a 100-TB
    * spatial table needs — without it, every file's bbox is the whole
    * extent and readBox degenerates to a full scan. One extra range
    * shuffle (sampled bounds) per commit; the Morton key is the
    * codegen'd CellIdExpr, never a UDF. */
  def commitClustered(df: DataFrame, root: String, cellSize: Double,
      numFiles: Int, tag: Option[String] = None): Int = {
    require(cellSize > 0 && numFiles >= 1,
      s"commitClustered needs cellSize > 0 and numFiles >= 1")
    val key = graft.functions.F.cellId(col("x"), col("y"), 0.0, 0.0,
      cellSize, morton = true)
    commit(df.repartitionByRange(numFiles, key).sortWithinPartitions(key),
      root, tag = tag)
  }

  /** Copy-on-write row-level delete: remove every row inside the closed
    * box and commit the result as a new snapshot. Only files whose
    * manifest stats INTERSECT the box are rewritten; untouched files
    * carry their manifest rows forward verbatim (data files are
    * immutable, so their stats stay exact — no footer re-read, no data
    * re-scan). Null-stat files (their commit had no x/y columns) cannot
    * hold a row inside the box and are kept as-is. At 10^12 rows this
    * is the difference between rewriting a handful of files and
    * rewriting the table. Serializable isolation: if another commit
    * lands between planning and the CAS, the delete aborts with
    * ConcurrentModificationException rather than silently dropping the
    * concurrent append's files — the caller retries on the new head.
    * Returns (version, filesRewritten, filesTotal); a delete touching
    * nothing returns the head unchanged with filesRewritten = 0. */
  def deleteBox(spark: SparkSession, root: String, minx: Double,
      miny: Double, maxx: Double, maxy: Double): (Int, Long, Long) = {
    val base = resolve(root, None)
    val es = entriesAt(spark, root, Some(base))
    val (touched, kept) = es.partition(_.intersects(minx, miny, maxx, maxy))
    if (touched.isEmpty) return (base, 0L, es.size.toLong)
    // survivors of the touched files; rows with null x/y cannot be
    // inside the box, so a null predicate keeps them (coalesce false)
    val inside = col("x") >= minx && col("x") <= maxx &&
      col("y") >= miny && col("y") <= maxy
    val survivors = readFiles(spark, root, Some(base), touched.map(_.path))
      .filter(not(coalesce(inside, lit(false))))
    val v = commitRewrite(root, base, kept, survivors, None,
      "deleteBox; retry the delete on the new head")
    (v, touched.size.toLong, es.size.toLong)
  }

  /** Copy-on-write upsert by key — the CDC write path that completes the
    * DML triple (append / deleteBox / upsert): rows of `updates` REPLACE
    * existing rows with the same `keyCol` value; keys not present insert.
    * Only data files that provably may hold an updated key are rewritten:
    * each file's (min_key, max_key) interval is range-joined against the
    * update keys (the driver's entries, broadcast as a local relation —
    * the small side of a theta join), so on a key-banded layout the
    * rewrite set is the files the delta actually touches, not the table. Manifest key stats exist
    * for order_key only, so the prune applies ONLY when keyCol is
    * order_key; any other key rewrites all files (degraded, never
    * wrong). Pruning is conservative and exact: a file is untouched only
    * when NO update key falls in its key interval, and null-key rows
    * inside touched files survive the equality anti-join (SQL null
    * semantics), so they are never lost. Files whose commit lacked the
    * key column cannot match and are kept; the all-null-stats sentinel
    * widens to [Long.Min, Long.Max] and forces a rewrite. Duplicate or
    * null keys inside `updates` are rejected loudly (last-wins would be
    * write-order nondeterminism; null keys cannot merge by key). A delta
    * column whose type conflicts with the pinned base schema fails
    * loudly (same guard as append). Same serializable isolation as
    * deleteBox: a
    * concurrent commit aborts the upsert rather than losing its files.
    * A `tag` makes the merge idempotent for replay (the CDC consumer
    * crash path, like commitIfAbsent): a tag already in history returns
    * its version immediately — (version, 0, 0), nothing re-merged.
    * Returns (version, filesRewritten, filesTotal). */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
      keyCol: String = "order_key", tag: Option[String] = None)
      : (Int, Long, Long) = {
    tag.flatMap(taggedVersion(root, _)) match {
      case Some(v) => return (v, 0L, 0L) // replayed: already committed
      case None =>
    }
    val base = resolve(root, None)
    // type-conflict guard, same check the append path runs in
    // mergeSchema: the union below applies Spark's set-operation type
    // coercion, so a delta whose shared column differs in type (int vs
    // double, numeric vs string) would otherwise silently widen and
    // re-pin the table's column type
    mergeSchema(tableSchema(spark, root, Some(base)), updates.schema)
    // three downstream actions read the key set (null/distinctness gate,
    // file prune join, survivor anti-join) — persist so an expensive
    // update source computes once; unpersisted before returning
    val keys = updates.select(col(keyCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val (nTotal, nKeys, nDistinct) = {
      val r = keys.agg(count(lit(1)), count(col(keyCol)),
        count_distinct(col(keyCol))).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // null keys would bypass the one-row-per-key contract entirely: a
    // null never equality-matches in the anti-join, so repeated upserts
    // of the same delta would accumulate duplicate null-key rows
    require(nTotal == nKeys,
      s"upsert updates carry ${nTotal - nKeys} null $keyCol value(s) — " +
      "null-key rows cannot merge by key; assign keys or append them " +
      "with commit()")
    require(nKeys == nDistinct,
      s"upsert updates carry duplicate $keyCol values ($nKeys rows, " +
      s"$nDistinct distinct) — resolve to one row per key first")
    val es = entriesAt(spark, root, Some(base))
    // file-level prune: one broadcast theta join of the driver's entries
    // against the delta's keys, never a key collect.
    // Manifest min_key/max_key are ORDER_KEY footer stats (footerStats
    // stats x/y/order_key only), so interval pruning is sound ONLY for
    // keyCol == order_key — any other key column falls back to rewriting
    // every file, because pruning on the wrong column's interval could
    // skip files holding stale versions of updated keys and silently
    // leave duplicate rows. Degraded, never wrong.
    val touchedPaths: Set[String] =
      if (keyCol == "order_key")
        keys.join(
            broadcast(manifestFrame(spark, es)
              .select(col("path"), col("min_key"), col("max_key"))),
            col(keyCol) >= col("min_key") && col(keyCol) <= col("max_key"))
          .select("path").distinct().collect().map(_.getString(0)).toSet
      else es.map(_.path).toSet
    val (touched, kept) = es.partition(e => touchedPaths(e.path))
    // survivors always union against the BASE schema (via the touched
    // files, or the pinned-schema empty frame when nothing is touched):
    // the new snapshot's pinned schema must be base ∪ delta — a
    // pure-insert delta missing a base column must not narrow the
    // table's schema (columns evolve by addition, never silent drop)
    val scan = readFiles(spark, root, Some(base), touched.map(_.path))
    val survivors = (if (touched.isEmpty) scan
       else scan.join(keys, Seq(keyCol), "left_anti"))
      .unionByName(updates, allowMissingColumns = true)
    val v = commitRewrite(root, base, kept, survivors, tag,
      "upsert; retry on the new head")
    (v, touched.size.toLong, es.size.toLong)
    } finally keys.unpersist(false)
  }

  /** The copy-on-write tail of deleteBox and upsert: the snapshot after
    * `base` keeps the `kept` files' manifest rows verbatim and stages
    * `rewritten` beside them. Serializable isolation: a commit that moved
    * the head since `base` aborts this one with a
    * ConcurrentModificationException whose message ends "during $during". */
  private def commitRewrite(root: String, base: Int, kept: Seq[FileEntry],
      rewritten: DataFrame, tag: Option[String], during: String): Int = {
    val commitId = UUID.randomUUID().toString.take(8)
    val keepManifest = s"$root/manifests/m-$commitId-keep.parquet"
    writeManifest(rewritten.sparkSession, keepManifest, kept)
    val (newManifest, schemaPath) = stageCommit(rewritten, root, commitId)
    allocate(root, commitId, schemaPath, tag, parent => {
      if (parent != base) throw new java.util.ConcurrentModificationException(
        s"graft table $root advanced v$base -> v$parent during $during")
      Seq(keepManifest, newManifest)
    })
  }

  /** Expire all snapshots older than the newest `keepLast`, then delete
    * every data/manifest file no surviving snapshot references (Iceberg's
    * expire_snapshots + remove_orphan_files). Returns the number of
    * physical files deleted. Crash-safe in the same way as commit:
    * snapshot jsons are deleted first, so a crash mid-vacuum leaves only
    * unreferenced-but-present files — invisible to readers. */
  def expireSnapshots(spark: SparkSession, root: String, keepLast: Int = 1,
      orphanGraceMs: Long = 3600L * 1000): Int = {
    require(keepLast >= 1, "must keep at least the head snapshot")
    val head = currentVersion(root)
    // keep only versions whose snapshot STILL EXISTS: an earlier expiry
    // may have dropped part of the nominal keep window, and calling
    // snapshot() on a dropped version would throw (vacuum must never be
    // wedged by its own past runs)
    val keep = (((head - keepLast + 1) max 1) to head).filter(v =>
      Files.exists(Paths.get(root, "snapshots", s"v$v.json")))
    val snapDir = Paths.get(root, "snapshots")
    withStream(Files.list(snapDir))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .filter(p => !keep.contains(
        p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toInt))
      .toSeq).foreach(Files.delete(_))
    // live set = every manifest of every surviving snapshot + every data
    // path those manifests list
    def canon(s: String): String = {
      // manifest `path` values are input_file_name() URIs; snapshot
      // manifest entries are plain paths — normalize both to one form
      val raw = if (s.startsWith("file:")) new java.net.URI(s).getPath else s
      Paths.get(raw).toAbsolutePath.normalize.toString
    }
    val keptSnaps = keep.map(v => snapshot(root, v))
    val liveManifestSeq = keptSnaps.flatMap(_.manifests)
    // schema jsons live under manifests/ too — referenced ones are live
    val liveManifests =
      (liveManifestSeq ++ keptSnaps.flatMap(_.schema)).map(canon).toSet
    val liveData = entries(spark, liveManifestSeq.distinct).map(e => canon(e.path)).toSet
    var deleted = 0
    // orphanGraceMs: a file younger than the grace window is NEVER swept
    // even when unreferenced — it may belong to a commit that has staged
    // its data (steps 1-2) but not yet won the snapshot CAS (step 3);
    // deleting it would corrupt that commit the moment its CAS lands.
    // Iceberg's remove_orphan_files has the same older-than guard. Tests
    // pass 0 to observe immediate deletion in a quiesced table.
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    def oldEnough(p: Path): Boolean =
      scala.util.Try(Files.getLastModifiedTime(p).toMillis <= cutoff)
        .getOrElse(false)
    def sweep(dir: Path, live: Set[String]): Unit =
      if (Files.exists(dir)) withStream(Files.list(dir))(_.iterator().asScala
        .filterNot(p => live.contains(canon(p.toString)))
        .filter(oldEnough).toSeq).foreach { p =>
          if (Files.isDirectory(p))
            withStream(Files.walk(p))(_.sorted(java.util.Comparator.reverseOrder())
              .forEach(q => { Files.deleteIfExists(q); deleted += 1 }))
          else { Files.delete(p); deleted += 1 }
        }
    sweep(Paths.get(root, "data"), liveData)
    sweep(Paths.get(root, "manifests"), liveManifests)
    deleted
  }

  /** Bbox read with manifest-level FILE pruning: only files whose stats
    * rectangle intersects the box are opened; the exact predicate stays
    * as a residual. The prune runs on the driver's entries, so the call
    * launches no job. Returns (df, filesRead, filesTotal) so callers can
    * assert the pruning actually happened. */
  def readBox(spark: SparkSession, root: String, minx: Double, miny: Double,
      maxx: Double, maxy: Double, asOf: Option[Int] = None)
      : (DataFrame, Long, Long) = {
    val v = resolve(root, asOf)
    val es = entriesAt(spark, root, Some(v))
    val hits = es.filter(_.intersects(minx, miny, maxx, maxy)).map(_.path)
    val scan = readFiles(spark, root, Some(v), hits)
    val df = if (hits.isEmpty) scan
      else scan.filter(col("x") >= minx && col("x") <= maxx &&
        col("y") >= miny && col("y") <= maxy)
    (df, hits.length.toLong, es.size.toLong)
  }

  /** Metadata-only exact row count: the sum of manifest `rows` — O(manifest
    * files) of I/O, zero data files opened. Manifest rows come from parquet
    * footers at commit time and data files are immutable, so this is exact,
    * not an estimate; at 10^12 rows it answers count(*) from kilobytes of
    * metadata (Iceberg answers the same query from its manifest stats). */
  def countRows(spark: SparkSession, root: String,
      asOf: Option[Int] = None): Long =
    entriesAt(spark, root, asOf).map(_.rows).sum

  /** Exact count of rows inside the closed box, scanning only the files
    * the manifest cannot decide: files fully CONTAINED in the box (and
    * provably free of null coordinates — nulls_xy == 0) count from their
    * manifest `rows` with no I/O; files DISJOINT from the box contribute
    * zero; only boundary-straddling files are read, with the exact
    * predicate as residual. On a z-order-clustered table the boundary set
    * is O(perimeter/cellSize) of the files, so a 100-TB table answers a
    * box count from metadata plus a thin shell of data. Files whose
    * commit lacked x/y (null stats) hold no matching row and prune
    * exactly, like readBox; the NaN-suppressed infinite sentinel is
    * never "contained", so such files fall to the scan path — degraded,
    * never wrong. Returns (count, filesScanned, filesTotal). */
  def countBox(spark: SparkSession, root: String, minx: Double, miny: Double,
      maxx: Double, maxy: Double, asOf: Option[Int] = None)
      : (Long, Long, Long) = {
    val v = resolve(root, asOf)
    val es = entriesAt(spark, root, Some(v))
    val (contained, rest) = es.partition(_.containedIn(minx, miny, maxx, maxy))
    val boundary = rest.filter(_.intersects(minx, miny, maxx, maxy)).map(_.path)
    val scanned =
      if (boundary.isEmpty) 0L
      else readFiles(spark, root, Some(v), boundary)
        .filter(col("x") >= minx && col("x") <= maxx &&
          col("y") >= miny && col("y") <= maxy).count()
    (contained.map(_.rows).sum + scanned, boundary.length.toLong, es.size.toLong)
  }

  /** Metadata-only exact spatial extent (min/max over non-null x/y — SQL
    * aggregate semantics). Footer min/max are exact for NaN-free doubles,
    * so the union of manifest bboxes IS the extent; a table carrying the
    * NaN-suppressed infinite sentinel cannot answer from metadata and
    * FAILS LOUDLY (compute the extent with a scan there) rather than
    * reporting an infinite bound as data. */
  def extent(spark: SparkSession, root: String,
      asOf: Option[Int] = None): (Double, Double, Double, Double) = {
    val es = entriesAt(spark, root, asOf)
    // parquet-mr normalizes a zero double min to -0.0 (IEEE-safe ordering
    // sentinel); +0.0 is what SQL min/max over the data reports, and
    // -0.0 == 0.0 for every comparison, so fold the sign out
    def fold(stat: FileEntry => Option[Double], pick: (Double, Double) => Double) =
      es.flatMap(stat).reduceOption(pick).map(_ + 0.0)
    val r = Seq(fold(_.minX, math.min), fold(_.maxX, math.max),
      fold(_.minY, math.min), fold(_.maxY, math.max))
    require(r.forall(_.isDefined),
      s"graft table $root has no x/y stats in any file — no spatial extent")
    val Seq(a, b, c, d) = r.flatten
    require(!a.isInfinite && !b.isInfinite && !c.isInfinite && !d.isInfinite,
      s"graft table $root carries NaN-suppressed footer stats — the exact " +
      "extent requires a data scan, refusing to report an infinite bound")
    (a, b, c, d)
  }
}
