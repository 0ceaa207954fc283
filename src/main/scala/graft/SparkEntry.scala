package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Synth
import graft.expr.RangeFilter
import graft.operators._
import graft.dedup.Dedup
import graft.ann.Ann
import graft.text.TextAnalysis

/** Driver contract — `gates` is the one list of driver gates, one per
  * implemented operator family (SURVEY.md §2). Each gate holds its Spark
  * query and, where the semantics are ANSI-SQL-expressible, the
  * DuckDB-runnable oracle that must reproduce its rows; Verify, Bench and
  * the plan tests all read it. Coordinates for the spatial operators are
  * derived deterministically from `events` integer columns so Spark and
  * DuckDB compute bit-identical doubles. */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Fresh /tmp root for a table-backed query: wiped per run so reruns
    * never see a prior run's snapshots. Closes the walk stream. */
  private def freshTmp(prefix: String, dir: String): String = {
    val root = s"/tmp/$prefix-${Integer.toHexString(dir.hashCode)}"
    val rp = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rp)) {
      val s = java.nio.file.Files.walk(rp)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
    root
  }

  /** events -> point table: integer-derived coords (exact in any engine),
    * order_key = event_id. */
  private def pts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id").as("order_key"),
      ((col("event_id") * 7919) % 10000).cast("double").as("x"),
      ((col("event_id") * 104729) % 10000).cast("double").as("y"),
      lit(0.0).as("z"),
      col("event_type"), col("value"))

  private val ptsSql =
    """SELECT event_id AS order_key,
       CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
       CAST((event_id * 104729) % 10000 AS DOUBLE) AS y,
       CAST(0.0 AS DOUBLE) AS z, event_type, value FROM events"""

  /** 3D variant: z derived like x/y so neighborhood operators see real
    * volumetric structure. */
  private def pts3(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id").as("order_key"),
      ((col("event_id") * 7919) % 10000).cast("double").as("x"),
      ((col("event_id") * 104729) % 10000).cast("double").as("y"),
      ((col("event_id") * 131) % 1000).cast("double").as("z"))

  /** Sheared two-row lattice (q55/q56 regime): bottom row y=0 at x=i
    * (odd event_ids), top row y=1 shifted +0.5 (even event_ids) — the
    * Delaunay triangulation of this set is unique. */
  private def latticePts(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").filter(col("event_id").between(1, 1000))
      .select(col("event_id").as("order_key"),
        (floor((col("event_id") - 1) / 2).cast("double") +
          when((col("event_id") - 1) % 2 === 1, 0.5).otherwise(0.0)).as("x"),
        ((col("event_id") - 1) % 2).cast("double").as("y"))

  /** q52/q57 shared scene: flat ground on a complete 21x21 cell grid,
    * 16 isolated single-cell roofs 50 up (i,j == 2 mod 5). */
  private def roofScene(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").filter(col("event_id").between(1, 441))
      .select(col("event_id").as("order_key"),
        ((col("event_id") - 1) % 21).cast("double").as("x"),
        floor((col("event_id") - 1) / 21).cast("double").as("y"))
      .withColumn("z",
        when((col("x") % 5 === 2) && (col("y") % 5 === 2), 50.0)
          .otherwise(0.0))

  private val roofSceneOracle =
    """SELECT event_id AS order_key,
          CASE WHEN ((event_id - 1) % 21) % 5 = 2
                AND (((event_id - 1) // 21)) % 5 = 2
               THEN 1 ELSE 2 END AS classification
        FROM events WHERE event_id BETWEEN 1 AND 441"""

  private val pts3Sql =
    """SELECT event_id AS order_key,
       CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
       CAST((event_id * 104729) % 10000 AS DOUBLE) AS y,
       CAST((event_id * 131) % 1000 AS DOUBLE) AS z FROM events"""

  /** Oracle for the spans flagship (q62 direct / q104 via GraftTable). */
  private val spansFlagshipSql =
    """WITH docs AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y,
            event_id % 4 AS cls0 FROM events),
          cropped AS (SELECT * FROM docs
            WHERE x >= 2000.5 AND x <= 7000.5 AND y >= 2000.5 AND y <= 7000.5),
          cand AS (SELECT * FROM cropped WHERE order_key % 3 = 0),
          pairs AS (SELECT q.order_key AS qid, c.order_key AS cid, c.cls0 AS v,
            (q.x - c.x) * (q.x - c.x) + (q.y - c.y) * (q.y - c.y) AS d2
            FROM cropped q CROSS JOIN cand c),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM pairs),
          hits AS (SELECT * FROM ranked WHERE rnk <= 3),
          votes AS (SELECT qid, v, COUNT(*) AS c FROM hits GROUP BY qid, v),
          best AS (SELECT qid, v, c, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY c DESC, v ASC) AS rn FROM votes),
          win AS (SELECT qid, v AS newcls FROM best WHERE rn = 1 AND c > 1.5),
          spansq AS (SELECT event_id AS order_key,
            array_to_string(list_transform(generate_series(0, event_id % 5), i ->
              (CASE ((event_id * 31 + i * 7) % 4) WHEN 0 THEN 'text'
                 WHEN 1 THEN 'image' WHEN 2 THEN 'audio' ELSE 'table' END)
              || ':' ||
              (CASE WHEN ((event_id * 31 + i * 7) % 4) = 0
                 THEN 'tok' || CAST((event_id * 31 + i * 7) % 101 AS VARCHAR)
                 ELSE '' END)
              || ':' ||
              (CASE WHEN ((event_id * 31 + i * 7) % 4) <> 0
                 THEN 'm/' || CAST((event_id * 31 + i * 7) % 997 AS VARCHAR)
                 ELSE '' END)
              || ':' || CAST(i * 97 + (event_id * 31 + i * 7) % 97 AS VARCHAR)
            ), '|') AS span_seq FROM events)
          SELECT c.order_key, CAST(FLOOR(c.x / 1000) AS INT) AS tx,
            CAST(FLOOR(c.y / 1000) AS INT) AS ty,
            CAST(COALESCE(w.newcls, c.cls0) AS BIGINT) AS cls, s.span_seq
          FROM cropped c LEFT JOIN win w ON w.qid = c.order_key
          JOIN spansq s ON s.order_key = c.order_key"""

  /** Spans-bearing doc table (the BASELINE input_hint shape): span payload
    * is a pure integer function of order_key so DuckDB rebuilds it exactly
    * — 1..5 spans/doc, kinds cycling {text,image,audio,table}, strictly
    * increasing offsets. Drives the q62 end-to-end invariant. */
  private def spansDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(
      col("event_id").as("order_key"),
      ((col("event_id") * 7919) % 10000).cast("double").as("x"),
      ((col("event_id") * 104729) % 10000).cast("double").as("y"),
      lit(0.0).as("z"),
      (col("event_id") % 4).cast("int").as("classification"))
    .withColumn("spans", transform(sequence(lit(0L), col("order_key") % 5), i => {
      val h = col("order_key") * 31 + i * 7
      val kind = element_at(
        array(lit("text"), lit("image"), lit("audio"), lit("table")),
        (h % 4 + 1).cast("int"))
      struct(
        kind.as("kind"),
        when(kind === "text", concat(lit("tok"), (h % 101).cast("string")))
          .otherwise(lit("")).as("text"),
        when(kind =!= "text", concat(lit("m/"), (h % 997).cast("string")))
          .otherwise(lit("")).as("media_ref"),
        (i * 97 + h % 97).cast("int").as("offset"))
    }))

  /** The north-rule flagship over a spans-bearing doc table: crop ->
    * splitter -> kNN-classify (candidates = every 3rd cropped doc),
    * serializing the span sequence for the byte-for-byte invariant.
    * Shared by q62 (direct) and q104 (through the GraftTable layer). */
  private def spansFlagship(docs: DataFrame): DataFrame = {
    val cropped = Crop.box2d(docs, 2000.5, 2000.5, 7000.5, 7000.5)
    val tiled = Splitter(cropped, length = 1000.0, origin = Some((0.0, 0.0)))
    val cand = cropped.filter(col("order_key") % 3 === 0)
    val cls = NeighborClassifier(tiled, k = 3, candidates = Some(cand),
      cellSize = 500.0)
    cls.select(col("order_key"),
      graft.functions.F.cellX(col("tile_id")).as("tx"),
      graft.functions.F.cellY(col("tile_id")).as("ty"),
      col("classification").cast("long").as("cls"),
      concat_ws("|", transform(col("spans"), sp => concat_ws(":",
        sp.getField("kind"), sp.getField("text"), sp.getField("media_ref"),
        sp.getField("offset").cast("string")))).as("span_seq"))
  }

  /** Flagship: crop -> splitter -> kNN-classify over a synthesized doc
    * table (the BASELINE.json pipeline at smoke scale). */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Synth.docs(spark, 20000, seed = 42)
    val cropped = Crop.box2d(docs, 635500, 848500, 638500, 853500)
    val tiled = Splitter(cropped, length = 1000.0, origin = Some((635000.0, 848000.0)))
    val classified = NeighborClassifier(tiled, k = 5, cellSize = 200.0)
    classified.groupBy("tile_id").agg(count(lit(1)).as("n"),
      sum("classification").as("cls_sum"))
  }

  val gates: Seq[Gate] = Gate.registry(
    // ---- relational core --------------------------------------------
    Gate("q01_agg_pricing", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          count(lit(1)).as("count_order"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus""")),
    Gate("q02_join_revenue_by_nation", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }, Some(
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""")),
    Gate("q03_topk_parts", (s, d) => {
      t(s, d, "lineitem").groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
        .orderBy(col("total_qty").desc, col("l_partkey").asc).limit(10)
    }, Some(
      """SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         FROM lineitem GROUP BY l_partkey
         ORDER BY total_qty DESC, l_partkey ASC LIMIT 10""")),
    Gate("q04_window_nth_shipment", (s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, d, "lineitem").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 3)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
           FROM lineitem) WHERE rn = 3""")),
    Gate("q05_anti_join", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_inactive"))
    }, Some(
      """SELECT c_mktsegment, COUNT(*) AS n_inactive FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         GROUP BY c_mktsegment""")),
    Gate("q06_events_daily", (s, d) => {
      t(s, d, "events").groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000000).cast("long")).as("value_micros"))
    }, Some(
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micros
         FROM events GROUP BY 1, 2""")),
    Gate("q07_sessionize", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev")) > 1800, 1)
            .otherwise(0))
        .groupBy("user_id").agg(sum("new_sess").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }, Some(
      """SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events FROM (
           SELECT user_id,
             CASE WHEN prev IS NULL OR EPOCH(ts) - EPOCH(prev) > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                 FROM events))
         GROUP BY user_id""")),
    // ---- spatial core (filters.crop / splitter / voxel / range) ------
    Gate("q08_crop_box", (s, d) =>
      Crop.box2d(pts(s, d), 2000, 1000, 5000, 8000).select("order_key"), Some(
      s"""SELECT order_key FROM ($ptsSql)
          WHERE x >= 2000 AND x <= 5000 AND y >= 1000 AND y <= 8000""")),
    Gate("q09_splitter_tiles", (s, d) =>
      Splitter(pts(s, d), length = 500.0, origin = Some((0.0, 0.0)))
        .groupBy(col("tile_id")).agg(count(lit(1)).as("n"))
        .select(graft.functions.F.cellX(col("tile_id")).as("tx"),
          graft.functions.F.cellY(col("tile_id")).as("ty"), col("n")), Some(
      s"""SELECT CAST(FLOOR(x / 500) AS BIGINT) AS tx,
          CAST(FLOOR(y / 500) AS BIGINT) AS ty, COUNT(*) AS n
          FROM ($ptsSql) GROUP BY 1, 2""")),
    Gate("q10_voxel_first", (s, d) =>
      Voxel.downsize(pts(s, d), cell = 250.0, origin = Some((0.0, 0.0, 0.0)))
        .select(floor(col("x") / 250).cast("long").as("vx"),
          floor(col("y") / 250).cast("long").as("vy"),
          col("order_key").as("kept_id")), Some(
      s"""SELECT CAST(FLOOR(x / 250) AS BIGINT) AS vx,
          CAST(FLOOR(y / 250) AS BIGINT) AS vy,
          MIN(order_key) AS kept_id
          FROM ($ptsSql) GROUP BY 1, 2""")),
    Gate("q11_range_filter", (s, d) =>
      RangeFilter(pts(s, d), "x[2000:8000), y!(3000:7000)").select("order_key"), Some(
      s"""SELECT order_key FROM ($ptsSql)
          WHERE (x >= 2000 AND x < 8000) AND NOT (y > 3000 AND y < 7000)""")),
    Gate("q12_knn", (s, d) => {
      val p = pts(s, d)
      val cand = p.filter(col("order_key") % 3 === 0)
      val q = p.filter(col("order_key") % 97 === 0)
      KnnJoin.knn(q.select("order_key", "x", "y", "z"), cand, 3,
          valueCol = "order_key", cellSize = 500.0).rows
        .select(col("order_key").as("qid"), posexplode(col("knn")).as(Seq("pos", "h")))
        .select(col("qid"), col("h.cid").as("cid"), (col("pos") + 1).cast("long").as("rnk"))
    }, Some(
      s"""WITH p AS ($ptsSql),
          cand AS (SELECT * FROM p WHERE order_key % 3 = 0),
          q AS (SELECT * FROM p WHERE order_key % 97 = 0),
          pairs AS (SELECT q.order_key AS qid, c.order_key AS cid,
            (q.x - c.x) * (q.x - c.x) + (q.y - c.y) * (q.y - c.y) AS d2
            FROM q CROSS JOIN cand c),
          ranked AS (SELECT qid, cid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk
            FROM pairs)
          SELECT qid, cid, rnk FROM ranked WHERE rnk <= 3""")),
    Gate("q13_crop_polygon", (s, d) => {
      val wkt = "POLYGON ((5000.3 500.7, 9500.1 5000.2, 5000.4 9499.8, 500.2 5000.1, 5000.3 500.7))"
      Crop.polygon(pts(s, d), wkt).select("order_key")
    }, Some(
      s"""WITH p AS ($ptsSql),
          v(x1, y1, x2, y2) AS (VALUES
            (5000.3, 500.7, 9500.1, 5000.2),
            (9500.1, 5000.2, 5000.4, 9499.8),
            (5000.4, 9499.8, 500.2, 5000.1),
            (500.2, 5000.1, 5000.3, 500.7))
          SELECT order_key FROM p WHERE NOT EXISTS (
            SELECT 1 FROM v
            WHERE (x2 - x1) * (p.y - y1) - (y2 - y1) * (p.x - x1) < 0)""")),
    Gate("q14_chipper", (s, d) => {
      // rank-recursive equal-count tiling. Chip ids are partition-array
      // indices and chip sizes are fully determined by the
      // cumulate-and-round partition array (ChipperFilter.cpp:161-181)
      // regardless of geometry — so (chip_id, n) IS oracle-checkable.
      Chipper(pts(s, d), capacity = 500).groupBy("chip_id")
        .agg(count(lit(1)).as("n"))
    }, Some(
      // chip sizes are a pure function of the cumulate-and-round partition
      // array (ChipperCore.partitions); chip ids are its indices. psize is
      // exactly representable at this (n, capacity) so the accumulated
      // boundary equals the multiplied one.
      s"""WITH t AS (SELECT COUNT(*) AS cnt FROM ($ptsSql)),
          m AS (SELECT cnt,
            CAST(cnt / 500 + CASE WHEN cnt % 500 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS np
            FROM t),
          i AS (SELECT np, cnt, UNNEST(RANGE(np)) AS chip FROM m)
          SELECT chip AS chip_id,
            CAST(FLOOR((chip + 1) * (cnt * 1.0 / np) + 0.5)
               - FLOOR(chip * (cnt * 1.0 / np) + 0.5) AS BIGINT) AS n
          FROM i""")),
    Gate("q15_geomdistance", (s, d) => {
      val wkt = "POLYGON ((2000 2000, 7000 2000, 7000 6000, 2000 6000, 2000 2000))"
      GeomDistance(pts(s, d), wkt)
        .select(col("order_key"), round(col("distance"), 4).as("dist"))
    }, Some(
      s"""SELECT order_key, ROUND(SQRT(
            GREATEST(2000 - x, 0, x - 7000) * GREATEST(2000 - x, 0, x - 7000) +
            GREATEST(2000 - y, 0, y - 6000) * GREATEST(2000 - y, 0, y - 6000)), 4) AS dist
          FROM ($ptsSql)""")),
    // ---- order-dependent ops ---------------------------------------
    Gate("q16_head", (s, d) =>
      HeadTail.head(pts(s, d), 100).select("order_key"), Some(
      s"SELECT order_key FROM ($ptsSql) ORDER BY order_key LIMIT 100")),
    Gate("q17_decimation", (s, d) =>
      Decimation(pts(s, d), step = 7).select("order_key"), Some(
      s"""SELECT order_key FROM (
            SELECT order_key, ROW_NUMBER() OVER (ORDER BY order_key) - 1 AS rn
            FROM ($ptsSql)) WHERE rn % 7 = 0""")),
    Gate("q18_sort_stable", (s, d) =>
      Sort(pts(s, d), "event_type")
        .select(col("order_key").as("new_order"), col("event_type"),
          col("x").as("px")), Some(
      s"""SELECT ROW_NUMBER() OVER (ORDER BY event_type, order_key) - 1 AS new_order,
          event_type, x AS px FROM ($ptsSql)""")),
    // ---- stats ------------------------------------------------------
    Gate("q19_stats_summary", (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          round(stddev_samp(col("l_quantity")), 3).as("sd_qty")), Some(
      """SELECT l_returnflag, COUNT(*) AS n, MIN(l_quantity) AS min_qty,
         MAX(l_quantity) AS max_qty,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         ROUND(STDDEV_SAMP(l_quantity), 3) AS sd_qty
         FROM lineitem GROUP BY l_returnflag""")),
    Gate("q20_value_counts", (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n")), Some(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
         FROM lineitem GROUP BY 1, 2""")),
    // ---- documents: text analysis + dedup ---------------------------
    Gate("q21_token_stats", (s, d) => {
      val docs = t(s, d, "documents")
      val tokenCount = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
      docs.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum(tokenCount.cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
    }, Some(
      """SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)) AS BIGINT)
           AS total_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang""")),
    Gate("q22_exact_dedup", (s, d) => {
      // group on the 8-byte hash of the normalized text (what Dedup.exact
      // shuffles at scale), not the full text; the oracle groups by the
      // text itself — same partition of doc ids absent hash collisions
      val docs = t(s, d, "documents")
        .withColumn("fp", xxhash64(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
      docs.groupBy("fp").agg(min("doc_id").as("kept_id"))
        .select(col("kept_id"))
    }, Some(
      """SELECT MIN(doc_id) AS kept_id FROM (
           SELECT doc_id, REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g') AS norm
           FROM documents) GROUP BY norm""")),
    Gate("q23_quality_bands", (s, d) => {
      val docs = t(s, d, "documents")
      val nWords = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
        .cast("double")
      val alpha = length(regexp_replace(lower(col("text")), "[^a-z ]", ""))
        .cast("double") / greatest(length(col("text")).cast("double"), lit(1.0))
      docs.withColumn("band",
          when(nWords >= 50 && alpha > 0.9, "high")
            .when(nWords >= 20, "mid").otherwise("low"))
        .groupBy("band", "lang").agg(count(lit(1)).as("n"))
    }, Some(
      """SELECT band, lang, COUNT(*) AS n FROM (
           SELECT lang,
             CASE WHEN CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS DOUBLE) >= 50
                   AND CAST(LENGTH(REGEXP_REPLACE(LOWER(text), '[^a-z ]', '', 'g')) AS DOUBLE)
                     / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) > 0.9
                  THEN 'high'
                  WHEN CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS DOUBLE) >= 20
                  THEN 'mid' ELSE 'low' END AS band
           FROM documents) GROUP BY 1, 2""")),
    Gate("q24_minhash_dedup", (s, d) => {
      // hash functions are engine-specific -> rows-only oracle
      val docs = t(s, d, "documents").withColumn("doc_id", col("doc_id").cast("string"))
      // 8-row bands: (1/8)^(1/8) ~ 0.77 collision threshold — tight bands
      // keep candidate volume linear on shared-vocabulary corpora
      Dedup.minhashLsh(docs, threshold = 0.7, numHashes = 64, bands = 8)
        .select(col("id_a"), col("id_b"), round(col("jaccard_est"), 4).as("j"))
    }, None),
    Gate("q25_embedding_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0)
      Ann.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rnk"))
    }, Some(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                    WHERE vec_id % 100 = 0),
          pairs AS (SELECT q.query_id, e.vec_id,
            list_cosine_similarity(q.qv, e.embedding) AS cos
            FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
          ranked AS (SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
            FROM pairs)
          SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= 5""")),
    Gate("q26_simhash", (s, d) => {
      // engine-specific hash -> rows-only oracle; maxHamming=3 is inside
      // the chunk-bucket recall guarantee (4 chunks, pigeonhole)
      val docs = t(s, d, "documents").withColumn("doc_id", col("doc_id").cast("string"))
      Dedup.simhashPairs(docs, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }, None),
    Gate("q27_langid", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")), Some(
      """WITH t AS (SELECT doc_id,
           string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','that','it','on','for','with','as','was','at','by'))) AS en,
           len(list_filter(toks, w -> w IN ('der','die','das','und','ist','von','mit','zu','im','den','ein','eine','nicht','auf'))) AS de,
           len(list_filter(toks, w -> w IN ('le','la','les','et','est','de','des','un','une','dans','que','pour','pas','sur'))) AS fr,
           len(list_filter(toks, w -> w IN ('el','la','los','las','y','es','de','un','una','en','que','por','para','no'))) AS es
         FROM t)
         SELECT doc_id,
           CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
                WHEN fr = GREATEST(en, de, fr, es) THEN 'fr'
                WHEN es = GREATEST(en, de, fr, es) THEN 'es'
                WHEN en = GREATEST(en, de, fr, es) THEN 'en'
                ELSE 'de' END AS lang_pred
         FROM s""")),
    // ---- raster + hexbin + cluster (engine-specific -> selected SQL) -
    Gate("q28_rasterize", (s, d) =>
      // raw min/max: both engines read the same parquet doubles, so the
      // comparison is exact without rounding
      Rasterize(pts(s, d), resolution = 1000.0, valueCol = "value",
          radius = 0.1, origin = Some((0.0, 0.0)))
        .select(col("cell_x"), col("cell_y"), col("count"),
          col("min").as("vmin"), col("max").as("vmax")), Some(
      // every point sits on integer coords, so a cell center is within
      // radius 0.1 only for points exactly at the center — the same float
      // predicate the engine evaluates
      s"""SELECT CAST(FLOOR(x / 1000) AS BIGINT) AS cell_x,
            CAST(FLOOR(y / 1000) AS BIGINT) AS cell_y,
            COUNT(*) AS "count", MIN(value) AS vmin, MAX(value) AS vmax
          FROM ($ptsSql)
          WHERE SQRT(POWER(x - (FLOOR(x / 1000) + 0.5) * 1000, 2)
                   + POWER(y - (FLOOR(y / 1000) + 0.5) * 1000, 2)) <= 0.1
          GROUP BY 1, 2""")),
    Gate("q29_hexbin", (s, d) =>
      // axial hex coords unpacked so the oracle can replicate the
      // cube-rounding assignment in plain SQL
      HexBin(pts(s, d), edge = 400.0)
        .select(graft.functions.F.cellX(col("hex_id")).as("hq"),
          graft.functions.F.cellY(col("hex_id")).as("hr"), col("density")), Some(
      // axial hex assignment with cube rounding, replicated operation-for-
      // operation (FLOOR(v+0.5) = Java Math.round); edge 400
      s"""WITH h AS (SELECT
            (sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / 400.0 AS q,
            (2.0 / 3.0 * y) / 400.0 AS r FROM ($ptsSql)),
          c AS (SELECT q, r, -q - r AS s,
            FLOOR(q + 0.5) AS rq, FLOOR(r + 0.5) AS rr, FLOOR(-q - r + 0.5) AS rs
            FROM h),
          f AS (SELECT
            CASE WHEN ABS(rq - q) > ABS(rr - r) AND ABS(rq - q) > ABS(rs - s)
                 THEN -rr - rs ELSE rq END AS fq,
            CASE WHEN NOT (ABS(rq - q) > ABS(rr - r) AND ABS(rq - q) > ABS(rs - s))
                  AND ABS(rr - r) > ABS(rs - s)
                 THEN -rq - rs ELSE rr END AS fr
            FROM c)
          SELECT CAST(fq AS BIGINT) AS hq, CAST(fr AS BIGINT) AS hr,
            COUNT(*) AS density FROM f GROUP BY 1, 2""")),
    Gate("q30_cluster", (s, d) =>
      Cluster(pts(s, d).filter(col("order_key") < 2000), tolerance = 120.0)
        .groupBy("cluster_id").agg(count(lit(1)).as("n")), Some(
      // connected components via transitive label closure (recursive CTE),
      // roots densified by rank — mirrors min-label propagation + densify
      s"""WITH RECURSIVE p AS (
            SELECT order_key AS k, x, y FROM ($ptsSql) WHERE order_key < 2000),
          e AS (SELECT a.k AS pk, b.k AS qk FROM p a JOIN p b
            ON a.k <> b.k AND
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 14400.0),
          lbl(k, l) AS (
            SELECT k, k FROM p
            UNION
            SELECT e.pk, lbl.l FROM e JOIN lbl ON lbl.k = e.qk),
          r AS (SELECT k, MIN(l) AS root FROM lbl GROUP BY k),
          d AS (SELECT root, DENSE_RANK() OVER (ORDER BY root) AS cid
            FROM (SELECT DISTINCT root FROM r) t)
          SELECT CAST(cid AS BIGINT) AS cluster_id, COUNT(*) AS n
          FROM r JOIN d USING (root) GROUP BY cid""")),
    Gate("q31_returns_groups", (s, d) => {
      val p = pts(s, d)
        .withColumn("return_number", (col("order_key") % 3 + 1).cast("int"))
        .withColumn("number_of_returns", lit(3).cast("int"))
      Returns(p, Seq(Returns.First, Returns.Intermediate, Returns.Last))
        .groupBy("view_id").agg(count(lit(1)).as("n"))
    }, Some(
      s"""WITH p AS (SELECT order_key, (order_key % 3 + 1) AS rn, 3 AS nr FROM ($ptsSql))
          SELECT view_id, COUNT(*) AS n FROM (
            SELECT CASE WHEN rn = 1 THEN 'first' END AS view_id FROM p WHERE rn = 1
            UNION ALL
            SELECT 'intermediate' FROM p WHERE rn > 1 AND rn < nr
            UNION ALL
            SELECT 'last' FROM p WHERE rn = nr) GROUP BY view_id""")),
    Gate("q32_assign_where", (s, d) => {
      val p = pts(s, d).withColumn("classification", lit(0))
      Assign(p, "classification", lit(5), Some(col("x") > 5000))
        .groupBy("classification").agg(count(lit(1)).as("n"))
    }, Some(
      s"""SELECT CASE WHEN x > 5000 THEN 5 ELSE 0 END AS classification,
          COUNT(*) AS n FROM ($ptsSql) GROUP BY 1""")),
    Gate("q33_divider", (s, d) =>
      Divider(pts(s, d), roundRobin = true, count = Some(5))
        .groupBy("part_id").agg(count(lit(1)).as("n")), Some(
      s"""SELECT part_id, COUNT(*) AS n FROM (
            SELECT CAST((ROW_NUMBER() OVER (ORDER BY order_key) - 1) % 5 AS INT)
              AS part_id FROM ($ptsSql)) GROUP BY part_id""")),
    Gate("q34_transformation", (s, d) =>
      Transformation(pts(s, d), Seq(
        2, 0, 0, 100,
        0, 0.5, 0, -50,
        0, 0, 1, 0,
        0, 0, 0, 1))
        .select(col("order_key"), col("x").as("tx"), col("y").as("ty")), Some(
      s"""SELECT order_key, x * 2 + 100 AS tx, y * 0.5 - 50 AS ty FROM ($ptsSql)""")),
    Gate("q35_mad_filter", (s, d) =>
      Mad(pts(s, d), "x", k = 2.0).select("order_key"), Some(
      s"""WITH p AS ($ptsSql),
          m AS (SELECT MEDIAN(x) AS med FROM p),
          d AS (SELECT MEDIAN(ABS(x - med)) * 1.4862 AS mad FROM p, m)
          SELECT order_key FROM p, m, d WHERE ABS(x - med) < 2.0 * mad""")),
    Gate("q36_eigen_features", (s, d) => {
      // neighborhood covariance features (filters.normal family) on a
      // deterministic subset; the oracle replicates the closed-form
      // Smith eigensolver operation-for-operation in SQL. `+ 0.0`
      // normalizes IEEE -0.0 on both sides.
      val p = pts(s, d).filter(col("order_key") < 2000)
        .withColumn("classification", lit(0))
      EigenFeatures(p, k = 8)
        .select(col("order_key"), (round(col("planarity"), 3) + lit(0.0)).as("pl"),
          (round(col("sphericity"), 3) + lit(0.0)).as("sp"))
    }, Some(
      // exact 9-NN (self included) per query, query-centered covariance,
      // Smith's closed-form symmetric eigensolver replicated operation-
      // for-operation (Eigen3.decompose); z == 0 so the diagonal fallback
      // never fires. `+ 0.0` folds IEEE -0.0 into 0.0 on both engines.
      s"""WITH p AS ($ptsSql),
          q AS (SELECT order_key, x, y, z FROM p WHERE order_key < 2000),
          pairs AS (SELECT a.order_key AS qid, b.order_key AS cid,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2,
            b.x - a.x AS nx, b.y - a.y AS ny, b.z - a.z AS nz
            FROM q a JOIN q b ON true),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM pairs),
          nbr AS (SELECT * FROM ranked WHERE rnk <= 9),
          mom AS (SELECT qid, AVG(nx) AS mx, AVG(ny) AS my, AVG(nz) AS mz,
            AVG(nx*nx) AS sxx, AVG(nx*ny) AS sxy, AVG(nx*nz) AS sxz,
            AVG(ny*ny) AS syy, AVG(ny*nz) AS syz, AVG(nz*nz) AS szz
            FROM nbr GROUP BY qid),
          cov AS (SELECT qid, sxx - mx*mx AS xx, sxy - mx*my AS xy,
            sxz - mx*mz AS xz, syy - my*my AS yy, syz - my*mz AS yz,
            szz - mz*mz AS zz FROM mom),
          eig AS (SELECT qid, xx, xy, xz, yy, yz, zz,
            xy*xy + xz*xz + yz*yz AS p1, (xx + yy + zz) / 3.0 AS qq FROM cov),
          eig2 AS (SELECT *, (xx-qq)*(xx-qq) + (yy-qq)*(yy-qq) + (zz-qq)*(zz-qq)
            + 2*p1 AS p2 FROM eig),
          eig3 AS (SELECT *, SQRT(p2 / 6.0) AS pp FROM eig2),
          eig4 AS (SELECT *, (xx-qq)/pp AS b11, (yy-qq)/pp AS b22,
            (zz-qq)/pp AS b33, xy/pp AS b12, xz/pp AS b13, yz/pp AS b23
            FROM eig3 WHERE p1 >= 1e-30),
          eig5 AS (SELECT *, b11*(b22*b33 - b23*b23) - b12*(b12*b33 - b23*b13)
            + b13*(b12*b23 - b22*b13) AS detB FROM eig4),
          eig6 AS (SELECT *, ACOS(GREATEST(-1.0, LEAST(1.0, detB / 2.0))) / 3.0
            AS phi FROM eig5),
          lam AS (SELECT qid, qq, pp, qq + 2*pp*COS(phi) AS l1,
            qq + 2*pp*COS(phi + 2.0943951023931953) AS l3 FROM eig6),
          lam2 AS (SELECT qid, l1, 3*qq - l1 - l3 AS l2, l3 FROM lam)
          SELECT qid AS order_key,
            ROUND((l2 - l3) / GREATEST(l1, 1e-300), 3) + 0.0 AS pl,
            ROUND(l3 / GREATEST(l1, 1e-300), 3) + 0.0 AS sp
          FROM lam2""")),
    Gate("q37_density_boundary", (s, d) => {
      // hexbin boundary polygon (kernels.density primary output). The
      // tracing is driver-side over the occupied-hex set, but its
      // metadata is SQL-checkable: every ring of n vertices has n edges,
      // so total vertices == boundary-edge count == sum over occupied
      // hexes of (6 - occupied neighbors); area == occupied * hex area.
      // (Ring count stays ScalaTest-only — component counting isn't
      // expressible without recursion over the engine-traced rings.)
      val r = HexBoundary.densityReport(pts(s, d), edge = 400.0)
      import s.implicits._
      Seq((r.vertices, r.occupiedHexes,
        math.round(r.area))).toDF("vertices", "occupied", "area_rnd")
    }, Some(
      // boundary metadata without tracing: vertices == boundary-edge count
      // (each traced ring of n vertices has n edges; rings consume every
      // boundary edge exactly once, pinch vertices included) == sum over
      // occupied hexes of (6 - occupied axial neighbors); area is
      // occupied * hex area with the same left-assoc IEEE multiply chain.
      s"""WITH h AS (SELECT
            (sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / 400.0 AS q,
            (2.0 / 3.0 * y) / 400.0 AS r FROM ($ptsSql)),
          c AS (SELECT q, r, -q - r AS s,
            FLOOR(q + 0.5) AS rq, FLOOR(r + 0.5) AS rr, FLOOR(-q - r + 0.5) AS rs
            FROM h),
          f AS (SELECT
            CASE WHEN ABS(rq - q) > ABS(rr - r) AND ABS(rq - q) > ABS(rs - s)
                 THEN -rr - rs ELSE rq END AS fq,
            CASE WHEN NOT (ABS(rq - q) > ABS(rr - r) AND ABS(rq - q) > ABS(rs - s))
                  AND ABS(rr - r) > ABS(rs - s)
                 THEN -rq - rs ELSE rr END AS fr
            FROM c),
          hex AS (SELECT CAST(fq AS BIGINT) AS hq, CAST(fr AS BIGINT) AS hr
            FROM f GROUP BY 1, 2),
          nbr AS (SELECT a.hq, a.hr,
            (SELECT COUNT(*) FROM hex b WHERE
               (b.hq = a.hq + 1 AND b.hr = a.hr) OR
               (b.hq = a.hq - 1 AND b.hr = a.hr) OR
               (b.hq = a.hq AND b.hr = a.hr + 1) OR
               (b.hq = a.hq AND b.hr = a.hr - 1) OR
               (b.hq = a.hq + 1 AND b.hr = a.hr - 1) OR
               (b.hq = a.hq - 1 AND b.hr = a.hr + 1)) AS nn
            FROM hex a)
          SELECT CAST(SUM(6 - nn) AS INT) AS vertices,
            COUNT(*) AS occupied,
            CAST(ROUND(COUNT(*) * 3.0 * SQRT(3.0) / 2.0 * 400.0 * 400.0)
              AS BIGINT) AS area_rnd
          FROM nbr""")),
    Gate("q38_optimal_neighborhood", (s, d) => {
      // eigenentropy-minimizing neighborhood size (optimal_radius is
      // bit-identical across engines: same d2 arithmetic, IEEE sqrt)
      val p = pts3(s, d).filter(col("order_key") < 2000)
      OptimalNeighborhood(p, kMin = 6, kMax = 12)
        .select(col("order_key"), col("optimal_knn"), col("optimal_radius"))
    }, Some(
      // per-k prefix covariances via an expanding window, Smith eigen,
      // eigenentropy argmin (ties -> smallest k). optimal_radius compares
      // exactly: same d2 arithmetic and IEEE sqrt on both engines.
      s"""WITH p AS ($pts3Sql),
          q AS (SELECT * FROM p WHERE order_key < 2000),
          pairs AS (SELECT a.order_key AS qid, b.order_key AS cid,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2,
            b.x - a.x AS nx, b.y - a.y AS ny, b.z - a.z AS nz
            FROM q a JOIN q b ON true),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM pairs),
          nbr AS (SELECT * FROM ranked WHERE rnk <= 12),
          pref AS (SELECT qid, rnk AS k, d2,
            AVG(nx) OVER w AS mx, AVG(ny) OVER w AS my, AVG(nz) OVER w AS mz,
            AVG(nx*nx) OVER w AS pxx, AVG(nx*ny) OVER w AS pxy,
            AVG(nx*nz) OVER w AS pxz, AVG(ny*ny) OVER w AS pyy,
            AVG(ny*nz) OVER w AS pyz, AVG(nz*nz) OVER w AS pzz
            FROM nbr
            WINDOW w AS (PARTITION BY qid ORDER BY rnk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          cov AS (SELECT qid, k, d2,
            (pxx - mx*mx) * (k / (k - 1.0)) AS xx,
            (pxy - mx*my) * (k / (k - 1.0)) AS xy,
            (pxz - mx*mz) * (k / (k - 1.0)) AS xz,
            (pyy - my*my) * (k / (k - 1.0)) AS yy,
            (pyz - my*mz) * (k / (k - 1.0)) AS yz,
            (pzz - mz*mz) * (k / (k - 1.0)) AS zz
            FROM pref WHERE k BETWEEN 6 AND 12),
          eig AS (SELECT *, xy*xy + xz*xz + yz*yz AS p1,
            (xx + yy + zz) / 3.0 AS qq FROM cov),
          eig2 AS (SELECT *, (xx-qq)*(xx-qq) + (yy-qq)*(yy-qq) + (zz-qq)*(zz-qq)
            + 2*p1 AS p2 FROM eig),
          eig3 AS (SELECT *, SQRT(p2 / 6.0) AS pp FROM eig2),
          eig5 AS (SELECT *, ((xx-qq)/pp)*(((yy-qq)/pp)*((zz-qq)/pp) - (yz/pp)*(yz/pp))
            - (xy/pp)*((xy/pp)*((zz-qq)/pp) - (yz/pp)*(xz/pp))
            + (xz/pp)*((xy/pp)*(yz/pp) - ((yy-qq)/pp)*(xz/pp)) AS detB
            FROM eig3),
          eig6 AS (SELECT *, ACOS(GREATEST(-1.0, LEAST(1.0, detB / 2.0))) / 3.0
            AS phi FROM eig5),
          lam AS (SELECT qid, k, d2,
            CASE WHEN p1 < 1e-30 THEN GREATEST(xx, yy, zz)
                 ELSE qq + 2*pp*COS(phi) END AS l1,
            CASE WHEN p1 < 1e-30 THEN xx + yy + zz
                   - GREATEST(xx, yy, zz) - LEAST(xx, yy, zz)
                 ELSE 3*qq - (qq + 2*pp*COS(phi))
                   - (qq + 2*pp*COS(phi + 2.0943951023931953)) END AS l2,
            CASE WHEN p1 < 1e-30 THEN LEAST(xx, yy, zz)
                 ELSE qq + 2*pp*COS(phi + 2.0943951023931953) END AS l3
            FROM eig6),
          ent AS (SELECT qid, k, d2,
            -(CASE WHEN GREATEST(l1,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0)) > 0
                THEN GREATEST(l1,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0))
                  * LN(GREATEST(l1,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0))) ELSE 0 END
             + CASE WHEN GREATEST(l2,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0)) > 0
                THEN GREATEST(l2,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0))
                  * LN(GREATEST(l2,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0))) ELSE 0 END
             + CASE WHEN GREATEST(l3,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0)) > 0
                THEN GREATEST(l3,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0))
                  * LN(GREATEST(l3,0)/(GREATEST(l1,0)+GREATEST(l2,0)+GREATEST(l3,0))) ELSE 0 END)
            AS e FROM lam),
          sel AS (SELECT qid, k, d2,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY e, k) AS r FROM ent)
          SELECT qid AS order_key, CAST(k AS INT) AS optimal_knn,
            SQRT(d2) AS optimal_radius FROM sel WHERE r = 1""")),
    Gate("q39_planefit", (s, d) => {
      // plane-fit criterion needs 3D structure: derive z like x/y
      val p = pts3(s, d).filter(col("order_key") < 2000)
      PlaneFit(p, knn = 8)
        .select(col("order_key"), (round(col("plane_fit"), 3) + lit(0.0)).as("pf"))
    }, Some(
      // PlaneFit replicated operation-for-operation: k=8 neighborhood
      // (self excluded: rnk 2..9 under the same (d2, cid) order the knn
      // array uses), query-centered covariance, Smith eigenvalues, normal
      // = largest-norm cross product of rows of (A - l3*I) — first-wins
      // on ties like the sequential argmax — then the distance ratio
      // d(query)/(d(query)+mean |d(nbr)|). The orientation flip (nz<0) is
      // skipped: IEEE negation is exact, so ABS() cancels it bit-for-bit.
      s"""WITH p AS ($pts3Sql),
          q AS (SELECT order_key, x, y, z FROM p WHERE order_key < 2000),
          pairs AS (SELECT a.order_key AS qid, b.order_key AS cid,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2,
            b.x - a.x AS nx, b.y - a.y AS ny, b.z - a.z AS nz
            FROM q a JOIN q b ON true),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM pairs),
          nbr AS (SELECT * FROM ranked WHERE rnk BETWEEN 2 AND 9),
          mom AS (SELECT qid, AVG(nx) AS mx, AVG(ny) AS my, AVG(nz) AS mz,
            AVG(nx*nx) AS sxx, AVG(nx*ny) AS sxy, AVG(nx*nz) AS sxz,
            AVG(ny*ny) AS syy, AVG(ny*nz) AS syz, AVG(nz*nz) AS szz
            FROM nbr GROUP BY qid),
          cov AS (SELECT qid, mx, my, mz, sxx - mx*mx AS xx, sxy - mx*my AS xy,
            sxz - mx*mz AS xz, syy - my*my AS yy, syz - my*mz AS yz,
            szz - mz*mz AS zz FROM mom),
          eig AS (SELECT *, xy*xy + xz*xz + yz*yz AS p1,
            (xx + yy + zz) / 3.0 AS qq FROM cov),
          eig2 AS (SELECT *, (xx-qq)*(xx-qq) + (yy-qq)*(yy-qq) + (zz-qq)*(zz-qq)
            + 2*p1 AS p2 FROM eig),
          eig3 AS (SELECT *, SQRT(p2 / 6.0) AS pp FROM eig2),
          eig5 AS (SELECT *, ((xx-qq)/pp)*(((yy-qq)/pp)*((zz-qq)/pp) - (yz/pp)*(yz/pp))
            - (xy/pp)*((xy/pp)*((zz-qq)/pp) - (yz/pp)*(xz/pp))
            + (xz/pp)*((xy/pp)*(yz/pp) - ((yy-qq)/pp)*(xz/pp)) AS detB
            FROM eig3),
          eig6 AS (SELECT *, ACOS(GREATEST(-1.0, LEAST(1.0, detB / 2.0))) / 3.0
            AS phi FROM eig5),
          lam AS (SELECT qid, mx, my, mz, xx, xy, xz, yy, yz, zz,
            CASE WHEN p1 < 1e-30 THEN LEAST(xx, yy, zz)
                 ELSE qq + 2*pp*COS(phi + 2.0943951023931953) END AS l3
            FROM eig6),
          rows3 AS (SELECT qid, mx, my, mz, xx - l3 AS r1x, xy AS r1y, xz AS r1z,
            xy AS r2x, yy - l3 AS r2y, yz AS r2z,
            xz AS r3x, yz AS r3y, zz - l3 AS r3z FROM lam),
          crs AS (SELECT qid, mx, my, mz,
            r1y*r2z - r1z*r2y AS c1x, r1z*r2x - r1x*r2z AS c1y,
            r1x*r2y - r1y*r2x AS c1z,
            r1y*r3z - r1z*r3y AS c2x, r1z*r3x - r1x*r3z AS c2y,
            r1x*r3y - r1y*r3x AS c2z,
            r2y*r3z - r2z*r3y AS c3x, r2z*r3x - r2x*r3z AS c3y,
            r2x*r3y - r2y*r3x AS c3z FROM rows3),
          crs2 AS (SELECT *, c1x*c1x + c1y*c1y + c1z*c1z AS n21,
            c2x*c2x + c2y*c2y + c2z*c2z AS n22,
            c3x*c3x + c3y*c3y + c3z*c3z AS n23 FROM crs),
          sel1 AS (SELECT qid, mx, my, mz, n23,
            CASE WHEN n22 > n21 THEN c2x ELSE c1x END AS bx,
            CASE WHEN n22 > n21 THEN c2y ELSE c1y END AS by,
            CASE WHEN n22 > n21 THEN c2z ELSE c1z END AS bz,
            CASE WHEN n22 > n21 THEN n22 ELSE n21 END AS bn2,
            c3x, c3y, c3z FROM crs2),
          sel2 AS (SELECT qid, mx, my, mz,
            CASE WHEN n23 > bn2 THEN c3x ELSE bx END AS bx,
            CASE WHEN n23 > bn2 THEN c3y ELSE by END AS by,
            CASE WHEN n23 > bn2 THEN c3z ELSE bz END AS bz,
            CASE WHEN n23 > bn2 THEN n23 ELSE bn2 END AS bn2 FROM sel1),
          nrm AS (SELECT qid, mx, my, mz,
            bx / SQRT(GREATEST(bn2, 1e-300)) AS px,
            by / SQRT(GREATEST(bn2, 1e-300)) AS py,
            bz / SQRT(GREATEST(bn2, 1e-300)) AS pz FROM sel2),
          dq AS (SELECT qid, ABS(px*mx + py*my + pz*mz) AS dquery FROM nrm),
          dbar AS (SELECT n.qid,
            SUM(ABS(px*(n.nx - mx) + py*(n.ny - my) + pz*(n.nz - mz))) / 8.0
            AS db FROM nbr n JOIN nrm ON n.qid = nrm.qid GROUP BY n.qid)
          SELECT dq.qid AS order_key,
            ROUND(dquery / GREATEST(dquery + db, 1e-300), 3) + 0.0 AS pf
          FROM dq JOIN dbar ON dq.qid = dbar.qid""")),
    Gate("q40_miniball", (s, d) => {
      val p = pts3(s, d).filter(col("order_key") < 2000)
      MiniballFilter(p, knn = 8)
        .select(col("order_key"), (round(col("miniball"), 3) + lit(0.0)).as("mb"))
    }, Some(
      // Welzl's recursion isn't SQL-expressible, but its RESULT is: the
      // minimal enclosing ball of a finite set is determined by an
      // affinely independent support of <= 4 boundary points, so brute
      // force enumerates every 2/3/4-subset's boundary ball (midpoint /
      // circumcircle-in-plane / circumsphere via Cramer — the engine's own
      // constructions, Miniball.scala), keeps balls containing all 8
      // neighbors (relative 1e-9 slack ≫ float noise, ≪ the 3-decimal
      // rounding), and takes the min radius. Same k=8 (d2, cid)-ordered
      // neighborhood as q39.
      s"""WITH p AS ($pts3Sql),
          q AS (SELECT order_key, x, y, z FROM p WHERE order_key < 2000),
          prs AS (SELECT a.order_key AS qid, b.order_key AS cid,
            b.x AS px, b.y AS py, b.z AS pz,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2
            FROM q a JOIN q b ON true),
          rkd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM prs),
          nbr AS (SELECT qid, rnk, px, py, pz FROM rkd WHERE rnk BETWEEN 2 AND 9),
          b2 AS (SELECT n1.qid, (n1.px+n2.px)/2 AS cx, (n1.py+n2.py)/2 AS cy,
            (n1.pz+n2.pz)/2 AS cz,
            ((n1.px-n2.px)*(n1.px-n2.px) + (n1.py-n2.py)*(n1.py-n2.py)
             + (n1.pz-n2.pz)*(n1.pz-n2.pz)) / 4.0 AS r2
            FROM nbr n1 JOIN nbr n2 ON n1.qid = n2.qid AND n1.rnk < n2.rnk),
          t0 AS (SELECT n1.qid, n1.px AS ax, n1.py AS ay, n1.pz AS az,
            n2.px - n1.px AS abx, n2.py - n1.py AS aby, n2.pz - n1.pz AS abz,
            n3.px - n1.px AS acx, n3.py - n1.py AS acy, n3.pz - n1.pz AS acz
            FROM nbr n1 JOIN nbr n2 ON n1.qid = n2.qid AND n1.rnk < n2.rnk
            JOIN nbr n3 ON n2.qid = n3.qid AND n2.rnk < n3.rnk),
          t1 AS (SELECT *, abx*abx + aby*aby + abz*abz AS ab2,
            acx*acx + acy*acy + acz*acz AS ac2,
            aby*acz - abz*acy AS nx, abz*acx - abx*acz AS ny,
            abx*acy - aby*acx AS nz FROM t0),
          t2 AS (SELECT *,
            (ab2*(acy*nz - acz*ny) + ac2*(ny*abz - nz*aby))
              / (2*(nx*nx + ny*ny + nz*nz)) AS ox,
            (ab2*(acz*nx - acx*nz) + ac2*(nz*abx - nx*abz))
              / (2*(nx*nx + ny*ny + nz*nz)) AS oy,
            (ab2*(acx*ny - acy*nx) + ac2*(nx*aby - ny*abx))
              / (2*(nx*nx + ny*ny + nz*nz)) AS oz
            FROM t1 WHERE nx*nx + ny*ny + nz*nz > 1e-30),
          b3 AS (SELECT qid, ax + ox AS cx, ay + oy AS cy, az + oz AS cz,
            ox*ox + oy*oy + oz*oz AS r2 FROM t2),
          f0 AS (SELECT n1.qid, n1.px AS ax, n1.py AS ay, n1.pz AS az,
            n2.px - n1.px AS m11, n2.py - n1.py AS m12, n2.pz - n1.pz AS m13,
            n3.px - n1.px AS m21, n3.py - n1.py AS m22, n3.pz - n1.pz AS m23,
            n4.px - n1.px AS m31, n4.py - n1.py AS m32, n4.pz - n1.pz AS m33
            FROM nbr n1 JOIN nbr n2 ON n1.qid = n2.qid AND n1.rnk < n2.rnk
            JOIN nbr n3 ON n2.qid = n3.qid AND n2.rnk < n3.rnk
            JOIN nbr n4 ON n3.qid = n4.qid AND n3.rnk < n4.rnk),
          f1 AS (SELECT *, (m11*m11 + m12*m12 + m13*m13)/2 AS h1,
            (m21*m21 + m22*m22 + m23*m23)/2 AS h2,
            (m31*m31 + m32*m32 + m33*m33)/2 AS h3,
            m11*(m22*m33 - m23*m32) - m12*(m21*m33 - m23*m31)
              + m13*(m21*m32 - m22*m31) AS det FROM f0),
          f2 AS (SELECT *,
            (h1*(m22*m33 - m23*m32) - m12*(h2*m33 - m23*h3)
              + m13*(h2*m32 - m22*h3)) / det AS ox,
            (m11*(h2*m33 - m23*h3) - h1*(m21*m33 - m23*m31)
              + m13*(m21*h3 - h2*m31)) / det AS oy,
            (m11*(m22*h3 - h2*m32) - m12*(m21*h3 - h2*m31)
              + h1*(m21*m32 - m22*m31)) / det AS oz
            FROM f1 WHERE ABS(det) > 1e-30),
          b4 AS (SELECT qid, ax + ox AS cx, ay + oy AS cy, az + oz AS cz,
            ox*ox + oy*oy + oz*oz AS r2 FROM f2),
          balls AS (SELECT * FROM b2 UNION ALL SELECT * FROM b3
            UNION ALL SELECT * FROM b4),
          valid AS (SELECT bl.* FROM balls bl WHERE NOT EXISTS (
            SELECT 1 FROM nbr n WHERE n.qid = bl.qid AND
              (n.px-bl.cx)*(n.px-bl.cx) + (n.py-bl.cy)*(n.py-bl.cy)
              + (n.pz-bl.cz)*(n.pz-bl.cz) > bl.r2 * (1 + 1e-9))),
          best AS (SELECT qid, cx, cy, cz, r2, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY r2, cx, cy, cz) AS rn FROM valid),
          dd AS (SELECT q.order_key,
            SQRT((q.x-b.cx)*(q.x-b.cx) + (q.y-b.cy)*(q.y-b.cy)
              + (q.z-b.cz)*(q.z-b.cz)) AS dq, SQRT(b.r2) AS r
            FROM q JOIN best b ON b.qid = q.order_key AND b.rn = 1)
          SELECT order_key,
            ROUND(CASE WHEN dq + 2*r/SQRT(3.0) <= 0 THEN 0.0
              ELSE dq / (dq + 2*r/SQRT(3.0)) END, 3) + 0.0 AS mb
          FROM dd""")),
    Gate("q41_ngram_jaccard", (s, d) => {
      // exact n-gram Jaccard verification over a deterministic pair set
      // (doc rank 2k vs 2k+1 — range-partitioned rank, no global window);
      // the oracle rebuilds shingle sets and set-jaccard in SQL
      val docs = t(s, d, "documents").select("doc_id", "text")
      val ranked = Order.globalRankBy(docs, Seq(col("doc_id").asc), "__rn")
      val a = ranked.filter(col("__rn") % 2 === 0)
        .select(floor(col("__rn") / 2).as("g"), col("doc_id").as("id_a"))
      val b = ranked.filter(col("__rn") % 2 === 1)
        .select(floor(col("__rn") / 2).as("g"), col("doc_id").as("id_b"))
      val pairs = a.join(b, "g").select("id_a", "id_b")
      Dedup.ngramJaccard(t(s, d, "documents"), pairs, n = 3)
        .select(col("id_a"), col("id_b"),
          (round(col("jaccard"), 3) + lit(0.0)).as("j"))
    }, Some(
      // shingle construction parity: Spark slice(tokens, i+1, 3) for
      // i in 0..max(len-3,0)  ==  DuckDB words[i:least(i+2,len)] for
      // i in 1..greatest(len-3,0)+1 (whole list when len < 3)
      """WITH r AS (SELECT doc_id, text,
            ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn FROM documents),
          a AS (SELECT rn // 2 AS g, doc_id AS id_a, text AS ta FROM r WHERE rn % 2 = 0),
          b AS (SELECT rn // 2 AS g, doc_id AS id_b, text AS tb FROM r WHERE rn % 2 = 1),
          p AS (SELECT id_a, id_b, ta, tb FROM a JOIN b USING (g)),
          w AS (SELECT id_a, id_b,
            string_split_regex(trim(lower(ta)), '\s+') AS wa,
            string_split_regex(trim(lower(tb)), '\s+') AS wb FROM p),
          sh AS (SELECT id_a, id_b,
            list_distinct(list_transform(generate_series(1, greatest(len(wa)-3,0)+1),
              i -> array_to_string(wa[i:least(i+2, len(wa))], ' '))) AS sa,
            list_distinct(list_transform(generate_series(1, greatest(len(wb)-3,0)+1),
              i -> array_to_string(wb[i:least(i+2, len(wb))], ' '))) AS sb FROM w)
          SELECT id_a, id_b,
            ROUND(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
              GREATEST(len(list_distinct(list_concat(sa, sb))), 1), 3) + 0.0 AS j
          FROM sh""")),
    Gate("q42_embedding_neardup", (s, d) => {
      // embedding-cosine near-dup over the embeddings table with
      // deterministic planted duplicates (same direction, 2x scale ->
      // cosine 1.0). At threshold 0.999 the verified pair set is exactly
      // {pairs at cosine ~1.0}: 2x scaling is a binary-exponent shift, so
      // the unit vectors are bit-identical and collide in EVERY LSH band
      // (recall deterministically 1), while the max random-pair cosine in
      // this data is ~0.51 — so a brute-force DuckDB oracle hash-matches.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val dups = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => (x * 2.0).cast("float")).as("embedding"))
      Dedup.embeddingNearDup(emb.unionByName(dups), threshold = 0.999)
        .select(col("id_a"), col("id_b"),
          (round(col("cosine"), 3) + lit(0.0)).as("cos"))
    }, Some(
      """WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding
                       FROM embeddings),
          dups AS (SELECT vec_id + 1000000 AS vec_id,
            list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding
            FROM base WHERE vec_id < 20),
          allv AS (SELECT * FROM base UNION ALL SELECT * FROM dups)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            ROUND(list_cosine_similarity(a.embedding, b.embedding), 3) + 0.0 AS cos
          FROM allv a JOIN allv b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999""")),
    Gate("q43_ann_ivf_exact", (s, d) => {
      // IVF with nprobe = nlist probes every cell: the bucketed rerank
      // machinery must reproduce the exact brute-force top-k, so the
      // same list_cosine oracle hash-verifies the whole IVF path
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0)
      Ann.ivfTopK(emb, q, k = 5, nlist = 16, nprobe = 16, iters = 1)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rnk"))
    }, Some(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                    WHERE vec_id % 100 = 0),
          pairs AS (SELECT q.query_id, e.vec_id,
            list_cosine_similarity(q.qv, e.embedding) AS cos
            FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
          ranked AS (SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
            FROM pairs)
          SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= 5""")),
    Gate("q44_ann_ivfpq_exact", (s, d) => {
      // IVF-PQ exact path: every cell probed AND the ADC top-rerank
      // covers every candidate, so codebook training, byte-code encode,
      // per-cell LUT scan, and the exact float rerank must together
      // reproduce brute force — hash-verified by the same oracle as q43
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0)
      Ann.ivfPqTopK(emb, q, k = 5, nlist = 16, nprobe = 16, m = 8,
        ksub = 16, rerank = 1000000, iters = 1)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rnk"))
    }, Some(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                    WHERE vec_id % 100 = 0),
          pairs AS (SELECT q.query_id, e.vec_id,
            list_cosine_similarity(q.qv, e.embedding) AS cos
            FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
          ranked AS (SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
            FROM pairs)
          SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= 5""")),
    Gate("q45_minhash_lsh_exact", (s, d) => {
      // MinHash-LSH end-to-end in the deterministic regime (the q42
      // trick): planted exact duplicates have identical shingle sets ->
      // identical 64-hash signatures -> they collide in EVERY band
      // (recall deterministically 1). Candidates from the banded LSH
      // machinery are verified with TRUE set-jaccard and kept only at
      // jaccard = 1.0, so the output pair set is exactly {pairs with
      // identical shingle sets} — brute-force SQL-expressible. Any pair
      // the signature/band/bucket machinery dropped would hash-mismatch.
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id").cast("long") % 50 === 0)
        .select(concat(col("doc_id"), lit("_d")).as("doc_id"), col("text"))
      val all = docs.unionByName(dups)
      val cand = Dedup.minhashLsh(all, threshold = 1.0, numHashes = 64,
          bands = 8).select("id_a", "id_b")
      Dedup.ngramJaccard(all, cand, n = 3)
        .filter(col("jaccard") >= 1.0)
        .select("id_a", "id_b")
    }, Some(
      // deterministic-regime LSH oracles: output = {identical-shingle-set /
      // normalized-equal pairs}, which the LSH paths are GUARANTEED to
      // surface (identical keys collide in every band/chunk); DuckDB
      // groups by the canonical key instead of running the LSH
      """WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
                       FROM documents),
          dups AS (SELECT CAST(doc_id AS VARCHAR) || '_d' AS doc_id, text
                   FROM documents WHERE doc_id % 50 = 0),
          allv AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
          w AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS wa FROM allv),
          sh AS (SELECT doc_id, list_sort(list_distinct(
            list_transform(generate_series(1, greatest(len(wa)-3,0)+1),
              i -> array_to_string(wa[i:least(i+2, len(wa))], ' ')))) AS key
            FROM w)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.key = b.key AND a.doc_id < b.doc_id""")),
    Gate("q46_simhash_exact", (s, d) => {
      // simhash chunk-bucket machinery in the deterministic regime:
      // identical normalized token streams -> identical 64-bit
      // fingerprints -> hamming 0 -> same key in every chunk bucket.
      // Candidates verified with exact normalized-text equality, so the
      // output pair set is exactly {normalized-equal pairs} — SQL-
      // expressible; a candidate dropped by the fingerprint or bucket
      // join would hash-mismatch.
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id").cast("long") % 50 === 0)
        .select(concat(col("doc_id"), lit("_d")).as("doc_id"), col("text"))
      val all = docs.unionByName(dups)
      val pairs = Dedup.simhashPairs(all, maxHamming = 0)
        .select("id_a", "id_b")
      val nrm = all.select(col("doc_id"),
        regexp_replace(trim(lower(col("text"))), "\\s+", " ").as("nt"))
      pairs
        .join(nrm.select(col("doc_id").as("id_a"), col("nt").as("na")), Seq("id_a"))
        .join(nrm.select(col("doc_id").as("id_b"), col("nt").as("nb")), Seq("id_b"))
        .filter(col("na") === col("nb"))
        .select("id_a", "id_b")
    }, Some(
      """WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
                       FROM documents),
          dups AS (SELECT CAST(doc_id AS VARCHAR) || '_d' AS doc_id, text
                   FROM documents WHERE doc_id % 50 = 0),
          allv AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
          n AS (SELECT doc_id,
            regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nt
            FROM allv)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM n a JOIN n b ON a.nt = b.nt AND a.doc_id < b.doc_id""")),
    Gate("q47_hag_nn", (s, d) => {
      // filters.hag_nn: every 5th point is ground; IDW over the 3
      // nearest ground points in 2D (ties pinned on (d2, order_key))
      val p = pts3(s, d).withColumn("classification",
        when(col("order_key") % 5 === 0, lit(2)).otherwise(lit(1)))
      HagNn(p, count = 3)
        .select(col("order_key"),
          (round(col("height_above_ground"), 6) + lit(0.0)).as("hag"))
    }, Some(
      s"""WITH p AS ($pts3Sql),
          pc AS (SELECT *, CASE WHEN order_key % 5 = 0 THEN 2 ELSE 1 END AS cls
                 FROM p),
          g AS (SELECT * FROM pc WHERE cls = 2),
          ng AS (SELECT * FROM pc WHERE cls <> 2),
          pairs AS (SELECT ng.order_key AS qid, ng.z AS z0, g.z AS gz,
            g.order_key AS cid,
            (ng.x - g.x) * (ng.x - g.x) + (ng.y - g.y) * (ng.y - g.y) AS d2
            FROM ng CROSS JOIN g),
          ranked AS (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY qid ORDER BY d2, cid) AS rn FROM pairs),
          hits AS (SELECT * FROM ranked WHERE rn <= 3),
          agg AS (SELECT qid, MIN(z0) AS z0, COUNT(*) AS k,
            MIN(CASE WHEN rn = 1 THEN d2 END) AS d2_1,
            MIN(CASE WHEN rn = 1 THEN gz END) AS gz_1,
            SUM(1.0 / d2) AS wsum, SUM(gz / d2) AS zsum
            FROM hits GROUP BY qid)
          SELECT qid AS order_key,
            ROUND(z0 - (CASE WHEN d2_1 = 0 OR k = 1 THEN gz_1
              WHEN wsum > 0 THEN zsum / wsum ELSE z0 END), 6) + 0.0 AS hag
          FROM agg
          UNION ALL SELECT order_key, 0.0 AS hag FROM g""")),
    Gate("q48_zsmooth", (s, d) =>
      Zsmooth(pts3(s, d), radius = 300.0, medianPercent = 50.0)
        .select(col("order_key"),
          (round(col("z_smooth"), 6) + lit(0.0)).as("zsm")), Some(
      s"""WITH p AS ($pts3Sql),
          n AS (SELECT a.order_key AS k2, list(b.z ORDER BY b.z) AS zs
            FROM p a JOIN p b ON b.order_key <> a.order_key
              AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                <= 300.0 * 300.0
            GROUP BY a.order_key)
          SELECT p.order_key,
            ROUND(CASE WHEN zs IS NULL OR len(zs) = 0 THEN p.z
              WHEN len(zs) = 1 THEN zs[1]
              ELSE zs[CAST(FLOOR(0.5 * (len(zs) - 1)) AS INT) + 1]
                     * (1.0 - (0.5 * (len(zs) - 1)
                        - FLOOR(0.5 * (len(zs) - 1))))
                 + zs[CAST(FLOOR(0.5 * (len(zs) - 1)) AS INT) + 2]
                     * (0.5 * (len(zs) - 1) - FLOOR(0.5 * (len(zs) - 1)))
              END, 6) + 0.0 AS zsm
          FROM p LEFT JOIN n ON n.k2 = p.order_key""")),
    Gate("q49_pmf", (s, d) => {
      // filters.pmf in its one-window regime (max_window_size = 3 stops
      // the schedule after the first opening): min-surface -> nearest
      // inpaint -> 1-step diamond erode+dilate -> height threshold, all
      // SQL-expressible. Coordinates scaled to a ~21x21-cell grid.
      val p = pts3(s, d).select(col("order_key"),
        (col("x") / 500.0).as("x"), (col("y") / 500.0).as("y"), col("z"))
      Pmf(p, cellSize = 1.0, initialDistance = 50.0, maxDistance = 50.0,
          maxWindowSize = 3.0, slope = 1.0, returns = Seq.empty)
        .select(col("order_key"), col("classification"))
    }, Some(
      s"""WITH p AS (SELECT order_key, x / 500.0 AS x, y / 500.0 AS y, z
            FROM ($pts3Sql)),
          ext AS (SELECT MIN(x) AS mnx, MIN(y) AS mny,
            CAST(FLOOR((MAX(x) - MIN(x)) / 1.0 + 1) AS INT) AS cols,
            CAST(FLOOR((MAX(y) - MIN(y)) / 1.0 + 1) AS INT) AS rws FROM p),
          pc AS (SELECT order_key, z,
            CAST(FLOOR((x - (SELECT mnx FROM ext)) / 1.0) AS INT) AS c,
            CAST(FLOOR((y - (SELECT mny FROM ext)) / 1.0) AS INT) AS r FROM p),
          zmin AS (SELECT c, r, MIN(z) AS z FROM pc GROUP BY c, r),
          grid AS (SELECT gc.c, gr.r FROM
            (SELECT CAST(range AS INT) AS c FROM range(1024)
             WHERE range < (SELECT cols FROM ext)) gc CROSS JOIN
            (SELECT CAST(range AS INT) AS r FROM range(1024)
             WHERE range < (SELECT rws FROM ext)) gr),
          dense AS (SELECT g.c, g.r, m.z FROM grid g
            LEFT JOIN zmin m USING (c, r)),
          fillsrc AS (SELECT c, r, z FROM dense WHERE z IS NOT NULL),
          filled AS (SELECT h.c, h.r,
            (SELECT f.z FROM fillsrc f ORDER BY
              (((SELECT mnx FROM ext) + (h.c + 0.5))
                 - ((SELECT mnx FROM ext) + (f.c + 0.5)))
              * (((SELECT mnx FROM ext) + (h.c + 0.5))
                 - ((SELECT mnx FROM ext) + (f.c + 0.5)))
              + (((SELECT mny FROM ext) + (h.r + 0.5))
                 - ((SELECT mny FROM ext) + (f.r + 0.5)))
              * (((SELECT mny FROM ext) + (h.r + 0.5))
                 - ((SELECT mny FROM ext) + (f.r + 0.5))),
              CAST(f.c AS BIGINT) * (SELECT rws FROM ext) + f.r
             LIMIT 1) AS z
            FROM dense h WHERE h.z IS NULL),
          surf0 AS (SELECT * FROM fillsrc UNION ALL SELECT * FROM filled),
          off AS (SELECT * FROM (VALUES (0, 0), (1, 0), (-1, 0), (0, 1),
            (0, -1)) o(dc, dr)),
          er AS (SELECT s.c, s.r, MIN(n.z) AS z FROM surf0 s
            CROSS JOIN off o
            JOIN surf0 n ON n.c = s.c + o.dc AND n.r = s.r + o.dr
            GROUP BY s.c, s.r),
          di AS (SELECT s.c, s.r, MAX(n.z) AS z FROM er s
            CROSS JOIN off o
            JOIN er n ON n.c = s.c + o.dc AND n.r = s.r + o.dr
            GROUP BY s.c, s.r)
          SELECT pc.order_key,
            CASE WHEN d.z IS NULL THEN 1
                 WHEN pc.z - d.z < 50.0 THEN 2 ELSE 1 END AS classification
          FROM pc LEFT JOIN di d USING (c, r)""")),
    Gate("q50_skewness", (s, d) => {
      // filters.skewnessbalancing: integer-valued z keeps the centered
      // power sums FP-exact in any summation order, so the engine's
      // range-partitioned prefix sums and the oracle's window sums
      // produce bit-identical running skewness
      val p = t(s, d, "events").select(col("event_id").as("order_key"),
        ((col("event_id") * 13) % 1000).cast("double").as("z"))
      SkewnessBalancing(p).select(col("order_key"), col("classification"))
    }, Some(
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 13) % 1000 AS DOUBLE) AS z FROM events),
          ctr AS (SELECT (MIN(z) + MAX(z)) / 2 AS ctr FROM p),
          s AS (SELECT order_key, z, z - (SELECT ctr FROM ctr) AS w FROM p),
          pre AS (SELECT order_key, z, w,
            CAST(ROW_NUMBER() OVER ord AS DOUBLE) AS n,
            SUM(w) OVER cum AS s1, SUM(w * w) OVER cum AS s2,
            SUM(w * w * w) OVER cum AS s3
            FROM s WINDOW ord AS (ORDER BY z, order_key),
            cum AS (ORDER BY z, order_key
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          sk AS (SELECT *,
            CASE WHEN (s2 * n - s1 * s1) > 0 THEN
              SQRT(n) * (s3 - 3.0 * s1 * s2 / n + 2.0 * s1 * s1 * s1 / (n * n))
                / POW(s2 - s1 * s1 / n, 1.5) END AS skew,
            CASE WHEN ((s2 - w * w) * (n - 1) - (s1 - w) * (s1 - w)) > 0 THEN
              SQRT(n - 1) * ((s3 - w * w * w)
                - 3.0 * (s1 - w) * (s2 - w * w) / (n - 1)
                + 2.0 * (s1 - w) * (s1 - w) * (s1 - w) / ((n - 1) * (n - 1)))
                / POW((s2 - w * w) - (s1 - w) * (s1 - w) / (n - 1), 1.5)
              END AS pskew
            FROM pre),
          m AS (SELECT MAX(CASE WHEN skew > 0 AND pskew <= 0 THEN n END)
              AS lastT,
            MAX(CASE WHEN n = (SELECT COUNT(*) FROM p) THEN skew END)
              AS finalSkew FROM sk)
          SELECT order_key, CASE
            WHEN (SELECT lastT FROM m) IS NULL THEN
              (CASE WHEN (SELECT finalSkew FROM m) <= 0 THEN 2 ELSE 1 END)
            WHEN n < (SELECT lastT FROM m) THEN 2 ELSE 1 END AS classification
          FROM sk""")),
    Gate("q51_hag_dem", (s, d) => {
      // filters.hag_dem: DEM raster built as the per-cell min-z table;
      // integer-valued z makes z - dem exact, no rounding needed
      val p = pts3(s, d).withColumn("classification",
        when(col("order_key") % 7 === 0, lit(2)).otherwise(lit(1)))
      val raster = p.groupBy(floor(col("x") / 500.0).cast("long").as("cell_x"),
          floor(col("y") / 500.0).cast("long").as("cell_y"))
        .agg(min("z").as("band1"))
      HagDem(p, raster, RasterGrid(0, 0, 500.0))
        .select(col("order_key"), col("height_above_ground").as("hag"))
    }, Some(
      s"""WITH p AS (SELECT *, CASE WHEN order_key % 7 = 0 THEN 2 ELSE 1 END
            AS cls FROM ($pts3Sql)),
          r AS (SELECT CAST(FLOOR(x / 500.0) AS BIGINT) AS cx,
            CAST(FLOOR(y / 500.0) AS BIGINT) AS cy, MIN(z) AS dem
            FROM p GROUP BY 1, 2)
          SELECT p.order_key,
            CASE WHEN p.cls = 2 THEN 0.0
                 ELSE COALESCE(p.z - r.dem, 0.0) END AS hag
          FROM p LEFT JOIN r ON CAST(FLOOR(p.x / 500.0) AS BIGINT) = r.cx
            AND CAST(FLOOR(p.y / 500.0) AS BIGINT) = r.cy""")),
    Gate("q53_icp", (s, d) => {
      // filters.icp: moving = fixed under a small rigid motion chosen
      // INSIDE the NN-correspondence basin (0.1 deg about z + (8, -5,
      // 4): max displacement ~25 units, well under the ~140-unit point
      // spacing, so nearest-neighbor correspondences are exact from
      // iteration 1 and ICP converges to the identity registration to
      // ~1e-6). Fixed coords are integers, so round(*, 1) makes the
      // registered output EQUAL the fixed coordinates — a plain SQL
      // oracle. (Transform recovery at tight tolerances is further
      // asserted in IcpSpec.)
      val fixed = pts3(s, d).filter(col("order_key") % 20 === 0)
      val th = math.toRadians(0.1)
      val (c0, s0) = (math.cos(th), math.sin(th))
      val movingAway = fixed.select(col("order_key"),
        (lit(c0) * col("x") - lit(s0) * col("y") + 8.0).as("x"),
        (lit(s0) * col("x") + lit(c0) * col("y") - 5.0).as("y"),
        (col("z") + 4.0).as("z"))
      val res = Icp(fixed, movingAway, maxIter = 10, cellSize = 500.0)
      res.df.select(col("order_key"),
        (round(col("x"), 1) + lit(0.0)).as("rx"),
        (round(col("y"), 1) + lit(0.0)).as("ry"))
    }, Some(
      // icp convergent regime: exact NN correspondences from iteration 1,
      // registration recovers the integer fixed coordinates within round(1)
      s"""WITH p AS ($pts3Sql)
          SELECT order_key, ROUND(x, 1) + 0.0 AS rx, ROUND(y, 1) + 0.0 AS ry
          FROM p WHERE order_key % 20 = 0""")),
    Gate("q54_hag_delaunay", (s, d) => {
      // filters.hag_delaunay in a deterministic regime: ground is a
      // complete 21x21 grid (spacing 100) on the exact plane
      // z = 100 + 0.25x - 0.125y; queries sit >= 100 inside the grid
      // with +0.25 lattice offset (no coincident-xy path), and with
      // count=16 the containing cell's 4 corners are always among the
      // neighbors, so the query is inside its local triangulation and
      // ANY Delaunay triangle of plane samples interpolates the plane
      // -> hag = z - plane(x, y), plain SQL. Plane values have <= 5
      // fractional decimal digits, so round(6) absorbs barycentric FP.
      val ev = t(s, d, "events").select(col("event_id"))
      val g = ev.filter(col("event_id").between(1, 441)).select(
          col("event_id").as("order_key"),
          (((col("event_id") - 1) % 21) * 100).cast("double").as("x"),
          (floor((col("event_id") - 1) / 21) * 100).cast("double").as("y"))
        .withColumn("z", lit(100.0) + col("x") * 0.25 - col("y") * 0.125)
        .withColumn("classification", lit(2))
      val q = ev.filter(col("event_id") > 441).select(
          col("event_id").as("order_key"),
          (((col("event_id") * 7919) % 1700).cast("double") + 100.25).as("x"),
          (((col("event_id") * 104729) % 1700).cast("double") + 100.25).as("y"),
          ((col("event_id") * 131) % 1000).cast("double").as("z"))
        .withColumn("classification", lit(1))
      HagDelaunay(g.unionByName(q), count = 16)
        .select(col("order_key"),
          (round(col("height_above_ground"), 6) + lit(0.0)).as("hag"))
    }, Some(
      // planar-ground regime: any Delaunay triangle of exact plane samples
      // interpolates the plane, so hag = z - (100 + 0.25x - 0.125y)
      """WITH g AS (SELECT event_id AS order_key FROM events
            WHERE event_id BETWEEN 1 AND 441),
          q AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 1700 AS DOUBLE) + 100.25 AS x,
            CAST((event_id * 104729) % 1700 AS DOUBLE) + 100.25 AS y,
            CAST((event_id * 131) % 1000 AS DOUBLE) AS z
            FROM events WHERE event_id > 441)
          SELECT order_key,
            ROUND(z - (100.0 + 0.25 * x - 0.125 * y), 6) + 0.0 AS hag FROM q
          UNION ALL SELECT order_key, 0.0 AS hag FROM g""")),
    Gate("q55_delaunay", (s, d) => {
      // filters.delaunay in a deterministic regime: two rows y=0/y=1,
      // the top row shifted +0.5 (sheared lattice). The Delaunay
      // triangulation is UNIQUE (no cocircular empty-circle quads: the
      // only concyclic 4-subsets have a 5th point strictly inside), so
      // the face table is enumerable in SQL: up (b_i, b_{i+1}, t_i) and
      // down (b_{i+1}, t_{i+1}, t_i) triangles, canonically rotated.
      DelaunayMesh(latticePts(s, d))
    }, Some(
      // sheared two-row lattice: the unique Delaunay face set is the
      // up/down triangle enumeration, canonically rotated (min key first,
      // CCW preserved): up (2i+1, 2i+3, 2i+2), down (2i+2, 2i+3, 2i+4)
      """WITH i AS (SELECT (event_id - 1) // 2 AS i FROM events
            WHERE event_id BETWEEN 1 AND 998 AND (event_id - 1) % 2 = 0)
          SELECT 2 * i + 1 AS a, 2 * i + 3 AS b, 2 * i + 2 AS c FROM i
          UNION ALL
          SELECT 2 * i + 2 AS a, 2 * i + 3 AS b, 2 * i + 4 AS c FROM i""")),
    Gate("q56_faceraster", (s, d) => {
      // filters.faceraster over the q55 lattice TIN: every quantity in
      // the bbox-loop + barycentric chain is a dyadic rational (grid
      // positions are multiples of 0.25, detT = 1, l's are multiples of
      // 0.125, z integer), so engine and DuckDB agree bit-for-bit
      val pts = latticePts(s, d)
        .withColumn("z", ((col("order_key") * 131) % 7).cast("double"))
      FaceRaster(pts, DelaunayMesh(pts), edgeLength = 0.5,
          origin = Some((0.0, 0.0)), widthHeight = Some((1000L, 2L)))
        .select(col("cell_x"), col("cell_y"),
          (round(col("band1"), 6) + lit(0.0)).as("band1"))
    }, Some(
      // faceraster over the lattice TIN: the reference's clamped bbox loop
      // + barycentric interp replicated in SQL; every value is dyadic so
      // the comparison is bit-exact
      """WITH p AS (SELECT event_id AS k,
            CAST((event_id - 1) // 2 AS DOUBLE)
              + CASE WHEN (event_id - 1) % 2 = 1 THEN 0.5 ELSE 0.0 END AS x,
            CAST((event_id - 1) % 2 AS DOUBLE) AS y,
            CAST((event_id * 131) % 7 AS DOUBLE) AS z
            FROM events WHERE event_id BETWEEN 1 AND 1000),
          i AS (SELECT (event_id - 1) // 2 AS i FROM events
            WHERE event_id BETWEEN 1 AND 998 AND (event_id - 1) % 2 = 0),
          f0 AS (SELECT 2 * i + 1 AS a, 2 * i + 3 AS b, 2 * i + 2 AS c FROM i
            UNION ALL
            SELECT 2 * i + 2 AS a, 2 * i + 3 AS b, 2 * i + 4 AS c FROM i),
          f AS (SELECT pa.x AS xa, pa.y AS ya, pa.z AS za,
              pb.x AS xb, pb.y AS yb, pb.z AS zb,
              pc.x AS xc, pc.y AS yc, pc.z AS zc
            FROM f0 JOIN p pa ON pa.k = f0.a JOIN p pb ON pb.k = f0.b
              JOIN p pc ON pc.k = f0.c),
          fb AS (SELECT *,
            GREATEST(0, LEAST(1000, CAST(FLOOR(
              (LEAST(xa, xb, xc) + 0.25 - 0.0000005 - 0.0) / 0.5) AS BIGINT))) AS ax,
            GREATEST(0, LEAST(1000, CAST(FLOOR(
              (GREATEST(xa, xb, xc) + 0.25 - 0.0) / 0.5) AS BIGINT))) AS bx,
            GREATEST(0, LEAST(2, CAST(FLOOR(
              (LEAST(ya, yb, yc) + 0.25 - 0.0000005 - 0.0) / 0.5) AS BIGINT))) AS ay,
            GREATEST(0, LEAST(2, CAST(FLOOR(
              (GREATEST(ya, yb, yc) + 0.25 - 0.0) / 0.5) AS BIGINT))) AS by
            FROM f),
          cx AS (SELECT fb.*, unnest(generate_series(ax, bx - 1)) AS xi
            FROM fb WHERE bx > ax),
          cy AS (SELECT cx.*, unnest(generate_series(ay, by - 1)) AS yi
            FROM cx WHERE by > ay),
          e AS (SELECT *, (xi + 0.5) * 0.5 + 0.0 AS px,
              (yi + 0.5) * 0.5 + 0.0 AS py,
              (yb - yc) * (xa - xc) + (xc - xb) * (ya - yc) AS dt FROM cy),
          l AS (SELECT *,
              ((yb - yc) * (px - xc) + (xc - xb) * (py - yc)) / dt AS l1,
              ((yc - ya) * (px - xc) + (xa - xc) * (py - yc)) / dt AS l2
            FROM e WHERE dt <> 0.0)
          SELECT xi AS cell_x, yi AS cell_y,
            ROUND(l1 * za + l2 * zb + (1 - l1 - l2) * zc, 6) + 0.0 AS band1
          FROM l WHERE l1 >= 0 AND l1 <= 1 AND l2 >= 0 AND l2 <= 1
            AND l1 + l2 <= 1""")),
    Gate("q57_csf", (s, d) => {
      // filters.csf in a margin-robust regime: flat ground covering a
      // complete 21x21 cell grid except 16 isolated single-cell "roof"
      // returns 50 up. Ground clamps the cloth at the surface in 2
      // iterations; each roof particle hovers within ~0.04 of ground
      // level held by its 16 clamped neighbors, so the classification
      // is exactly roof -> 1 (|cloth - (-50)| ~ 50 >> 0.5) and ground
      // -> 2 (|0 - 0| = 0), independent of exact cloth positions.
      Csf(roofScene(s, d), iterations = 200)
        .select(col("order_key"), col("classification"))
    }, Some(
      // csf margin-robust regime: classification is determined by scene
      // construction (roof cells 1, ground 2), not by exact cloth FP
      roofSceneOracle)),
    Gate("q58_litree", (s, d) => {
      // filters.litree in a provable regime: 16 collinear "crowns" 150
      // apart (> the 130 dominance radius -> one round, contexts pure),
      // each 21 points at increasing gaps p_k = 0.02k^2 with strictly
      // decreasing hag. In key order every interior point's nearest-Pi
      // gap (0.02(2k-1)) stays below its distance to the dummy point
      // n0 = the outermost point (0.02(400-k^2)), so Pi = the first 20
      // points exactly; n0 itself stays unsegmented. cluster_id = tree
      // rank by height = t + 1.
      val ev = t(s, d, "events").filter(col("event_id").between(1, 336))
      val p = ev.select(col("event_id").as("order_key"),
        (floor((col("event_id") - 1) / 21) * 150.0 +
          pow((col("event_id") - 1) % 21, 2) * 0.02).as("x"),
        lit(0.0).as("y"),
        (lit(20.0) - floor((col("event_id") - 1) / 21) * 0.5 -
          ((col("event_id") - 1) % 21) * 0.1).as("height_above_ground"))
      LiTree(p).select(col("order_key"), col("cluster_id"))
    }, Some(
      // litree provable regime: Pi = first 20 points of each crown, the
      // outermost point is the Ni dummy; ids rank trees by height
      """SELECT event_id AS order_key,
            CASE WHEN (event_id - 1) % 21 = 20 THEN 0
                 ELSE (event_id - 1) // 21 + 1 END AS cluster_id
          FROM events WHERE event_id BETWEEN 1 AND 336""")),
    Gate("q52_smrf", (s, d) => {
      // filters.smrf end-to-end (low mask, progressive opening 1..2,
      // provisional DEM inpaint, slope-adaptive threshold) in a provable
      // regime: flat ground over a complete 21x21 cell grid with 16
      // isolated 50-high roof cells. The opening removes each isolated
      // peak at window 1 (50 >> slope*cell) so roof cells are voided;
      // the 8-NN inpaint then averages SURVIVING cells which are all
      // exactly 0 — the mean is 0 whichever 8 the tie order picks — so
      // ZIpro == 0 everywhere, the gradient is 0, and classification is
      // exactly roof -> 1, ground -> 2 (margins 50 vs threshold 0.5).
      // Realistic-terrain behavior is covered by GroundSpec's planted
      // scenes.
      Smrf(roofScene(s, d), cell = 1.0, slope = 1.0, scalar = 1.25, threshold = 0.5,
          window = 2.0, returns = Seq.empty)
        .select(col("order_key"), col("classification"))
    }, Some(
      // smrf provable regime: same scene as q57 (ZIpro == 0 everywhere by
      // the all-zero-survivors inpaint argument)
      roofSceneOracle)),
    Gate("q59_poisson", (s, d) => {
      import s.implicits._
      // filters.poisson on a Fibonacci sphere (R=30) with exact outward
      // normals. The oracle checks provable invariants of the extracted
      // level set rather than FP-dependent coordinates: marching
      // tetrahedra on a generic grid field yields a CLOSED ORIENTED
      // 2-manifold (every undirected edge on exactly 2 faces, every
      // directed edge used exactly once), sphere topology gives Euler
      // characteristic V - E + F = 2, and a well-sampled sphere keeps
      // every vertex within 1.5 grid cells of the true radius
      // (PoissonSpec proves the same invariants with margin).
      val n = 1000
      val ga = math.Pi * (3.0 - math.sqrt(5.0))
      val ev = t(s, d, "events").filter(col("event_id").between(0, n - 1))
      val zu = lit(1.0) - (col("event_id") * 2.0 + 1.0) / n
      val ru = sqrt(greatest(lit(0.0), lit(1.0) - zu * zu))
      val th = col("event_id") * ga
      val pts = ev.select(col("event_id").as("order_key"),
        (lit(100.0) + lit(30.0) * ru * cos(th)).as("x"),
        (lit(200.0) + lit(30.0) * ru * sin(th)).as("y"),
        (lit(50.0) + lit(30.0) * zu).as("z"),
        (ru * cos(th)).as("normal_x"), (ru * sin(th)).as("normal_y"),
        zu.as("normal_z"))
      val res = Poisson(pts, depth = 5, outputNormals = false)
      val faces = res.faces.persist()
      val dirEdges = faces.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("c").as("v")),
          struct(col("c").as("u"), col("a").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      // one aggregate per table instead of one count per invariant: the
      // depth-5 mesh is tiny, so the invariant chain is job-overhead-bound
      val undAgg = dirEdges.select(least(col("u"), col("v")).as("p"),
          greatest(col("u"), col("v")).as("q"))
        .groupBy("p", "q").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("e"), coalesce(sum(
          when(col("cnt") =!= 2, 1L).otherwise(0L)), lit(0L)).as("nonman"))
        .head()
      val (e, nonman) = (undAgg.getLong(0), undAgg.getLong(1))
      val dirAgg = dirEdges.groupBy("u", "v").agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("tot"), coalesce(sum(
          when(col("cnt") =!= 1, 1L).otherwise(0L)), lit(0L)).as("dup"))
        .head()
      val (f, dirDup) = (dirAgg.getLong(0) / 3, dirAgg.getLong(1))
      val hs = 1.25 * 60.0 / 32.0
      val vAgg = res.vertices.agg(count(lit(1)).as("v"), coalesce(sum(
          when(abs(sqrt(pow(col("x") - 100.0, 2) + pow(col("y") - 200.0, 2) +
            pow(col("z") - 50.0, 2)) - 30.0) >= 1.5 * hs, 1L)
            .otherwise(0L)), lit(0L)).as("outTol")).head()
      val (v, outTol) = (vAgg.getLong(0), vAgg.getLong(1))
      faces.unpersist(false)
      Seq((v - e + f, nonman, dirDup, outTol)).toDF("euler",
        "nonmanifold_edges", "orientation_violations", "out_of_tolerance")
    }, Some(
      // poisson provable-invariant regime: marching tetrahedra over a
      // generic grid field is a closed oriented 2-manifold; the
      // reconstructed sphere has Euler characteristic 2 and every vertex
      // within 1.5 cells of the true radius (see q59 comment + PoissonSpec)
      """SELECT CAST(2 AS BIGINT) AS euler,
            CAST(0 AS BIGINT) AS nonmanifold_edges,
            CAST(0 AS BIGINT) AS orientation_violations,
            CAST(0 AS BIGINT) AS out_of_tolerance""")),
    Gate("q60_greedyprojection", (s, d) => {
      // filters.greedyprojection on the q55 sheared lattice with explicit
      // +z normals: every gate passes (corner angles 53.1/63.4 deg in
      // [min,max], all edges <= 1.118 < radius, coplanar normals), the
      // local projections are the identity on xy, and the lattice's DT is
      // unique — so the Gopi consensus mesh equals the q55 face
      // enumeration exactly, orientation CCW from the +z normals.
      // num_neighbors=8 suffices: every point has exactly <= 4 neighbors
      // inside the 1.2 gate radius (next nearest are at 1.8+), and the
      // consensus mesh depends only on the gate-surviving set — k merely
      // has to cover it, and a small k avoids wide kNN ring escalation
      // over the 500x1 anisotropic extent.
      GreedyProjection(latticePts(s, d).withColumn("z", lit(0.0))
          .withColumn("normal_x", lit(0.0)).withColumn("normal_y", lit(0.0))
          .withColumn("normal_z", lit(1.0)),
        radius = 1.2, multiplier = 1.2, numNeighbors = 8, cellSize = 1.2)
    }, Some(
      // greedyprojection in the q55 unique-DT regime: the consensus mesh
      // equals the global Delaunay enumeration, same canonical rotation
      // (min key first, CCW under the +z normals)
      """WITH i AS (SELECT (event_id - 1) // 2 AS i FROM events
            WHERE event_id BETWEEN 1 AND 998 AND (event_id - 1) % 2 = 0)
          SELECT 2 * i + 1 AS a, 2 * i + 3 AS b, 2 * i + 2 AS c FROM i
          UNION ALL
          SELECT 2 * i + 2 AS a, 2 * i + 3 AS b, 2 * i + 4 AS c FROM i""")),
    Gate("q61_projpipeline", (s, d) =>
      // filters.projpipeline in a pure-arithmetic regime (axisswap +
      // unitconvert + affine compile to the same IEEE ops DuckDB runs);
      // the utm/cart/helmert steps are covered by ProjPipelineSpec
      // roundtrips — their series aren't ANSI-SQL-expressible.
      ProjPipeline(pts(s, d),
        "+proj=pipeline +step +proj=axisswap +order=2,1 " +
        "+step +proj=unitconvert +xy_in=m +xy_out=km " +
        "+step +proj=affine +s11=2 +xoff=10 +s22=0.5 +yoff=-5")
        .select(col("order_key"), col("x").as("px"), col("y").as("py")), Some(
      // projpipeline arithmetic steps replicated op-for-op (axisswap swaps
      // x/y, unitconvert multiplies by 0.001, affine is k*v + off with the
      // same association order as the built columns)
      s"""SELECT order_key,
          (CAST(2.0 AS DOUBLE) * (y * CAST(0.001 AS DOUBLE))) + CAST(10.0 AS DOUBLE) AS px,
          (CAST(0.5 AS DOUBLE) * (x * CAST(0.001 AS DOUBLE))) + CAST(-5.0 AS DOUBLE) AS py
          FROM ($ptsSql)""")),
    // ---- round 3: spans invariant + formerly-ScalaTest-only ops ------
    Gate("q62_spans_pipeline", (s, d) => {
      // the BASELINE north-rule invariant end-to-end: crop -> splitter ->
      // kNN-classify over a spans-bearing doc table; the serialized span
      // sequence (kind, text, media_ref, offset in order) must survive
      // every stage byte-for-byte. Spans are pure integer functions of
      // order_key so the DuckDB oracle rebuilds them exactly.
      spansFlagship(spansDocs(s, d))
    }, Some(
      // crop -> splitter -> kNN-vote replicated relationally; spans rebuilt
      // from the same integer recurrence (kind cycle, tok/media payloads,
      // offset affine) and serialized with the same ':'/'|' separators
      spansFlagshipSql)),
    Gate("q104_table_pipeline", (s, d) => {
      // The same north-rule flagship, but THROUGH the snapshot-table
      // layer: the spans-bearing doc table is committed to a GraftTable
      // in four x-banded snapshots, read back at head with
      // manifest-level file pruning (the crop bbox never opens the
      // x>=7500 band's files — required below), then crop -> splitter
      // -> kNN runs over the table read. Emits exactly q62's rows: the
      // span-sequence invariant survives the table layer
      // byte-for-byte, so the two queries share one oracle.
      val root = freshTmp("graft-table-pipe", d)
      val docs = spansDocs(s, d)
      for (b <- 0 until 4)
        graft.sources.GraftTable.commit(
          docs.filter(col("x") >= b * 2500.0 && col("x") < (b + 1) * 2500.0), root)
      val (tbl, filesRead, filesTotal) = graft.sources.GraftTable.readBox(
        s, root, 2000.5, 2000.5, 7000.5, 7000.5)
      require(filesRead < filesTotal,
        s"manifest pruning expected: read $filesRead of $filesTotal files")
      spansFlagship(tbl)
    }, Some(
      // q104 = q62 through the GraftTable snapshot layer: same emit set,
      // same oracle — the table round trip must be invisible to the rows
      spansFlagshipSql)),
    Gate("q63_overlay", (s, d) => {
      // first-match-wins polygon dim assignment; .5 bounds vs integer
      // coords -> no boundary ties, so plain SQL half-plane tests match
      val p = pts(s, d).withColumn("classification", lit(0))
      Overlay(p, Seq(
        ("POLYGON ((1000.5 1000.5, 6000.5 1000.5, 6000.5 6000.5, 1000.5 6000.5, 1000.5 1000.5))", 10),
        ("POLYGON ((4000.5 4000.5, 9000.5 4000.5, 9000.5 9000.5, 4000.5 9000.5, 4000.5 4000.5))", 20)),
        "classification")
        .select(col("order_key"), col("classification").cast("long").as("cls"))
    }, Some(
      // .5 polygon bounds vs integer coords: no boundary ties, so the
      // first-match-wins cascade is two half-plane CASE arms
      s"""SELECT order_key, CAST(CASE
            WHEN x > 1000.5 AND x < 6000.5 AND y > 1000.5 AND y < 6000.5 THEN 10
            WHEN x > 4000.5 AND x < 9000.5 AND y > 4000.5 AND y < 9000.5 THEN 20
            ELSE 0 END AS BIGINT) AS cls
          FROM ($ptsSql)""")),
    Gate("q64_colorization", (s, d) => {
      // raster = per-1000-cell min(value) built from the same points ->
      // both engines derive identical band values; join + scale is exact
      val p = pts(s, d)
      val g = RasterGrid(0.0, 0.0, 1000.0)
      val raster = p.groupBy(g.cellX(col("x")).as("cell_x"),
        g.cellY(col("y")).as("cell_y")).agg(min("value").as("band1"))
      Colorization(p, raster, g, Seq(("band1", "red", 2.0)))
        .select(col("order_key"), round(col("red"), 6).as("red"))
    }, Some(
      s"""WITH p AS ($ptsSql),
          r AS (SELECT CAST(FLOOR(x / 1000) AS BIGINT) AS cx,
            CAST(FLOOR(y / 1000) AS BIGINT) AS cy, MIN(value) AS b
            FROM p GROUP BY 1, 2)
          SELECT p.order_key, ROUND(r.b * 2.0, 6) + 0.0 AS red
          FROM p JOIN r ON CAST(FLOOR(p.x / 1000) AS BIGINT) = r.cx
            AND CAST(FLOOR(p.y / 1000) AS BIGINT) = r.cy""")),
    Gate("q65_dem", (s, d) => {
      // filters.dem: keep points with z within [dem-50, dem+300] of the
      // per-cell min-z surface (integer-exact on both engines)
      val p = pts3(s, d)
      val g = RasterGrid(0.0, 0.0, 1000.0)
      val raster = p.groupBy(g.cellX(col("x")).as("cell_x"),
        g.cellY(col("y")).as("cell_y")).agg(min("z").as("band1"))
      DemFilter(p, raster, g, loOffset = -50.0, hiOffset = 300.0)
        .select("order_key")
    }, Some(
      s"""WITH p AS ($pts3Sql),
          r AS (SELECT CAST(FLOOR(x / 1000) AS BIGINT) AS cx,
            CAST(FLOOR(y / 1000) AS BIGINT) AS cy, MIN(z) AS dem
            FROM p GROUP BY 1, 2)
          SELECT p.order_key FROM p
          JOIN r ON CAST(FLOOR(p.x / 1000) AS BIGINT) = r.cx
            AND CAST(FLOOR(p.y / 1000) AS BIGINT) = r.cy
          WHERE p.z >= r.dem + (-50.0) AND p.z <= r.dem + 300.0""")),
    Gate("q66_locate", (s, d) =>
      // argmin of z with (z, order_key) tie-break — single-row result
      Locate(pts3(s, d), "z", minimum = true).select("order_key", "z"), Some(
      s"SELECT order_key, z FROM ($pts3Sql) ORDER BY z, order_key LIMIT 1")),
    Gate("q67_voxel_center_nn", (s, d) =>
      // voxelcenternearestneighbor: integer coords + 125-offset centers
      // keep d2 integer-exact, ties break on order_key in both engines
      Voxel.centerNearestNeighbor(pts3(s, d), cell = 250.0,
          origin = Some((0.0, 0.0, 0.0)))
        .select(col("order_key").as("kept_id")), Some(
      // voxel centers at 125 + 250k: d2 terms are exact dyadic squares, so
      // the (d2, order_key) argmin is engine-independent
      s"""WITH p AS ($pts3Sql),
          k AS (SELECT order_key,
            FLOOR(x / 250.0) AS vx, FLOOR(y / 250.0) AS vy, FLOOR(z / 250.0) AS vz,
            (x - (FLOOR(x / 250.0) + 0.5) * 250.0) * (x - (FLOOR(x / 250.0) + 0.5) * 250.0)
            + (y - (FLOOR(y / 250.0) + 0.5) * 250.0) * (y - (FLOOR(y / 250.0) + 0.5) * 250.0)
            + (z - (FLOOR(z / 250.0) + 0.5) * 250.0) * (z - (FLOOR(z / 250.0) + 0.5) * 250.0)
              AS d2 FROM p)
          SELECT order_key AS kept_id FROM (
            SELECT order_key, ROW_NUMBER() OVER (PARTITION BY vx, vy, vz
              ORDER BY d2, order_key) AS rn FROM k) WHERE rn = 1""")),
    Gate("q68_voxel_centroid_nn", (s, d) =>
      // centroid = exact-integer-sum / count -> same double either engine
      Voxel.centroidNearestNeighbor(pts3(s, d), cell = 250.0,
          origin = Some((0.0, 0.0, 0.0)))
        .select(col("order_key").as("kept_id")), Some(
      // centroid = exact integer sum / count: identical double either engine
      s"""WITH p AS ($pts3Sql),
          k AS (SELECT order_key, x, y, z,
            FLOOR(x / 250.0) AS vx, FLOOR(y / 250.0) AS vy, FLOOR(z / 250.0) AS vz
            FROM p),
          c AS (SELECT vx, vy, vz, AVG(x) AS cx, AVG(y) AS cy, AVG(z) AS cz
            FROM k GROUP BY vx, vy, vz),
          d AS (SELECT k.order_key, k.vx, k.vy, k.vz,
            (k.x - c.cx) * (k.x - c.cx) + (k.y - c.cy) * (k.y - c.cy)
            + (k.z - c.cz) * (k.z - c.cz) AS d2
            FROM k JOIN c USING (vx, vy, vz))
          SELECT order_key AS kept_id FROM (
            SELECT order_key, ROW_NUMBER() OVER (PARTITION BY vx, vy, vz
              ORDER BY d2, order_key) AS rn FROM d) WHERE rn = 1""")),
    Gate("q69_sample_fixpoint", (s, d) => {
      // filters.sample in the clique regime: coords snapped to a 1000-grid
      // make the conflict graph a disjoint union of same-cell cliques
      // (cell diameter 0 < radius 400 < cell spacing 1000), so sequential
      // greedy == min order_key per occupied cell — SQL-provable while the
      // full pair-join + fixpoint machinery runs for real.
      // capped at 1000 points (~5 per clique): the fixpoint's round count
      // is the dependency-chain depth == clique size in this regime
      val p = pts3(s, d).filter(col("order_key") < 1000)
        .withColumn("x", floor(col("x") / 1000) * 1000.0)
        .withColumn("y", floor(col("y") / 1000) * 1000.0)
        .withColumn("z", floor(col("z") / 500) * 500.0)
      Sample(p, radius = 400.0).select("order_key")
    }, Some(
      // clique regime (cell diameter 0 < radius < cell spacing): greedy
      // sequential sampling == min order_key per occupied snapped cell
      s"""WITH p AS (SELECT order_key,
            FLOOR(x / 1000) * 1000.0 AS sx, FLOOR(y / 1000) * 1000.0 AS sy,
            FLOOR(z / 500) * 500.0 AS sz
            FROM ($pts3Sql) WHERE order_key < 1000)
          SELECT MIN(order_key) AS order_key FROM p GROUP BY sx, sy, sz""")),
    Gate("q70_outlier_stat", (s, d) => {
      // statistical outlier: mean distance to 4 nearest, global
      // mean + 2*stddev threshold. Threshold comparisons are robust to
      // the engines' sum-order ulps (md spacing >> 1e-12).
      val p = pts3(s, d).filter(col("order_key") < 2000)
        .withColumn("classification", lit(0))
      Outlier.statistical(p, meanK = 4, multiplier = 2.0)
        .select(col("order_key"), col("classification").cast("long").as("cls"))
    }, Some(
      // per-point md accumulated in the engine's (d2, cid) order — the SQL
      // sum is the same explicit left-assoc 4-term chain; the global
      // mean+2*sd threshold tolerates cross-engine last-ulp aggregation
      s"""WITH p AS (SELECT * FROM ($pts3Sql) WHERE order_key < 2000),
          pairs AS (SELECT a.order_key AS qid, b.order_key AS cid,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2
            FROM p a JOIN p b ON true),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM pairs),
          md AS (SELECT qid,
            (((MIN(CASE WHEN rnk = 2 THEN SQRT(d2) END)
              + MIN(CASE WHEN rnk = 3 THEN SQRT(d2) END))
              + MIN(CASE WHEN rnk = 4 THEN SQRT(d2) END))
              + MIN(CASE WHEN rnk = 5 THEN SQRT(d2) END)) / 4 AS md
            FROM ranked WHERE rnk BETWEEN 2 AND 5 GROUP BY qid),
          t AS (SELECT AVG(md) + 2.0 * STDDEV_SAMP(md) AS thr FROM md)
          SELECT qid AS order_key,
            CAST(CASE WHEN md >= (SELECT thr FROM t) THEN 7 ELSE 0 END AS BIGINT)
              AS cls
          FROM md""")),
    Gate("q71_lof", (s, d) => {
      // local outlier factor, brute-force-checkable subset; rounded to
      // absorb sum-order ulps in lrd/lof ratios
      val p = pts3(s, d).filter(col("order_key") < 2000)
      Lof(p, minPts = 4)
        .select(col("order_key"), (round(col("lof"), 5) + lit(0.0)).as("lof_r"),
          (round(col("nn_distance"), 5) + lit(0.0)).as("nnd_r"))
    }, Some(
      // LOF brute force: kdist/reachability/lrd/lof per the standard
      // definitions the engine implements; 5-decimal rounding absorbs
      // aggregation-order ulps in the 4-term sums
      s"""WITH p AS (SELECT * FROM ($pts3Sql) WHERE order_key < 2000),
          pairs AS (SELECT a.order_key AS qid, b.order_key AS cid,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2
            FROM p a JOIN p b ON true),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM pairs),
          nbr AS (SELECT qid, cid, SQRT(d2) AS dist FROM ranked
            WHERE rnk BETWEEN 2 AND 5),
          kd AS (SELECT qid, SQRT(MIN(CASE WHEN rnk = 5 THEN d2 END)) AS kdist
            FROM ranked WHERE rnk = 5 GROUP BY qid),
          reach AS (SELECT n.qid, GREATEST(n.dist, k2.kdist) AS rdist,
            n.cid FROM nbr n JOIN kd k2 ON k2.qid = n.cid),
          lrd AS (SELECT qid, COUNT(*) / SUM(rdist) AS lrd FROM reach GROUP BY qid),
          lof AS (SELECT n.qid, AVG(l2.lrd) AS avg_nbr_lrd FROM nbr n
            JOIN lrd l2 ON l2.qid = n.cid GROUP BY n.qid)
          SELECT lof.qid AS order_key,
            ROUND(lof.avg_nbr_lrd / lrd.lrd, 5) + 0.0 AS lof_r,
            ROUND(kd.kdist, 5) + 0.0 AS nnd_r
          FROM lof JOIN lrd ON lrd.qid = lof.qid JOIN kd ON kd.qid = lof.qid""")),
    Gate("q72_gpstime", (s, d) => {
      // gpstimeconvert gws->gt with wrapped week-seconds: planted wraps
      // every ~605 keys; the distributed unwrap (partition offsets +
      // boundary comparisons) must reproduce the integer cumulative-bump
      // prefix sum exactly
      val p = pts(s, d).withColumn("gps_time",
        ((col("order_key") * 1000) % 604800).cast("double"))
      GpsTimeConvert.gws2gt(p, startDateWeekSeconds = 1000000.0, wrapped = true)
        .select(col("order_key"), col("gps_time").cast("long").as("gt"))
    }, Some(
      // integer cumulative-bump prefix sum: every decrease in week-seconds
      // over order_key order bumps the week count
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 1000) % 604800 AS DOUBLE) AS ws FROM events),
          b AS (SELECT order_key, ws,
            CASE WHEN LAG(ws) OVER (ORDER BY order_key) IS NOT NULL
              AND ws < LAG(ws) OVER (ORDER BY order_key) THEN 1 ELSE 0 END AS bump
            FROM p),
          c AS (SELECT order_key, ws, SUM(bump) OVER (ORDER BY order_key
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nb FROM b)
          SELECT order_key,
            CAST(1000000.0 + ws + nb * 604800.0 AS BIGINT) AS gt FROM c""")),
    Gate("q73_mongo", (s, d) =>
      graft.expr.MongoFilter(t(s, d, "events"),
        """{"$and":[{"value":{"$gte":10.0}},{"event_type":{"$in":["click","view"]}}]}""")
        .select(col("event_id")), Some(
      """SELECT event_id FROM events
         WHERE value >= 10.0 AND event_type IN ('click', 'view')""")),
    Gate("q74_expression", (s, d) =>
      // PDAL expression grammar -> Catalyst; integer-exact arithmetic
      graft.expr.ExpressionFilter(pts(s, d),
        "(x > 1000 && x <= 8000 && !(y >= 6000)) || x + y * 2 < 1500")
        .select("order_key"), Some(
      s"""SELECT order_key FROM ($ptsSql)
          WHERE (x > 1000 AND x <= 8000 AND NOT (y >= 6000))
             OR x + y * 2 < 1500""")),
    Gate("q75_reprojection", (s, d) => {
      // wgs84 -> web mercator; floor to integer meters absorbs libm
      // last-ulp differences between JVM and DuckDB (~1e-8 m here)
      val ll = t(s, d, "events").select(
        col("event_id").as("order_key"),
        ((col("event_id") * 7) % 350 - 175 + 0.5).cast("double").as("x"),
        ((col("event_id") * 13) % 160 - 80 + 0.25).cast("double").as("y"),
        lit(0.0).as("z"))
      Reprojection.wgs84ToWebMercator(ll)
        .select(col("order_key"), floor(col("x")).cast("long").as("mx"),
          floor(col("y")).cast("long").as("my"))
    }, Some(
      // toRadians replicated as x/180*pi (the JVM's op order); floor to
      // integer meters absorbs libm tan/ln last-ulp differences
      """WITH ll AS (SELECT event_id AS order_key,
            CAST((event_id * 7) % 350 - 175 + 0.5 AS DOUBLE) AS x,
            CAST((event_id * 13) % 160 - 80 + 0.25 AS DOUBLE) AS y
            FROM events)
          SELECT order_key,
            CAST(FLOOR(6378137.0 * (x / 180.0 * PI())) AS BIGINT) AS mx,
            CAST(FLOOR(6378137.0 * LN(TAN(PI() / 4 + (y / 180.0 * PI()) / 2)))
              AS BIGINT) AS my
          FROM ll""")),
    Gate("q76_dbscan", (s, d) => {
      // 20 planted clusters (diameter ~14 << eps 50, gap 2000): all
      // points core, cluster id = dense rank of min order_key; capped at
      // 20k points so the radius self-join stays bounded at any sf
      val p = t(s, d, "events").filter(col("event_id") < 20000).select(
        col("event_id").as("order_key"),
        ((col("event_id") % 20) * 2000 + (col("event_id") * 7) % 11).cast("double").as("x"),
        ((col("event_id") * 13) % 11).cast("double").as("y"),
        lit(0.0).as("z"))
      Dbscan(p, eps = 50.0, minPoints = 3)
        .select(col("order_key"), col("cluster_id"))
    }, Some(
      // planted-cluster regime: every point is core, components = the 20
      // planted groups, ids densified over each group's min order_key
      """WITH p AS (SELECT event_id AS order_key, event_id % 20 AS g
            FROM events WHERE event_id < 20000),
          r AS (SELECT g, MIN(order_key) AS root FROM p GROUP BY g),
          d AS (SELECT g, DENSE_RANK() OVER (ORDER BY root) AS cid FROM r)
          SELECT p.order_key, CAST(d.cid AS BIGINT) AS cluster_id
          FROM p JOIN d USING (g)""")),
    Gate("q77_kmeans", (s, d) => {
      // deterministic init = 8 lowest order_keys (event_id 0..7), planted
      // exactly at the 8 cluster centers -> assignment == membership
      val p = t(s, d, "events").select(
        col("event_id").as("order_key"),
        ((col("event_id") % 8) * 1000 +
          when(col("event_id") < 8, 0).otherwise((col("event_id") * 7) % 10))
          .cast("double").as("x"),
        when(col("event_id") < 8, 0.0)
          .otherwise(((col("event_id") * 13) % 10).cast("double")).as("y"),
        lit(0.0).as("z"))
      KMeans(p, k = 8).select(col("order_key"), col("cluster_id"))
    }, Some(
      // init = 8 lowest order_keys, one per planted group; assignment is
      // group membership at every Lloyd iteration, id = init index
      """WITH p AS (SELECT event_id AS order_key, event_id % 8 AS g FROM events),
          init AS (SELECT g, ROW_NUMBER() OVER (ORDER BY order_key) - 1 AS idx
            FROM (SELECT order_key, g FROM p ORDER BY order_key LIMIT 8))
          SELECT p.order_key, CAST(init.idx AS BIGINT) AS cluster_id
          FROM p JOIN init USING (g)""")),
    Gate("q78_colorinterp", (s, d) =>
      // linear ramp over [0, 1000): identical IEEE divide/multiply/floor
      ColorInterp(pts3(s, d), "z", minValue = Some(0.0), maxValue = Some(1000.0))
        .select(col("order_key"), col("red").cast("long").as("r"),
          col("green").cast("long").as("g"), col("blue").cast("long").as("b")), Some(
      s"""WITH p AS ($pts3Sql),
          i AS (SELECT order_key,
            LEAST(GREATEST(CAST(FLOOR((z - 0.0) / 1000.0 * 5) AS INT), 0), 4)
              AS idx FROM p)
          SELECT order_key,
            CAST(CASE idx WHEN 0 THEN 0 WHEN 1 THEN 60 WHEN 2 THEN 140
              WHEN 3 THEN 230 ELSE 200 END AS BIGINT) AS r,
            CAST(CASE idx WHEN 0 THEN 47 WHEN 1 THEN 120 WHEN 2 THEN 190
              WHEN 3 THEN 200 ELSE 60 END AS BIGINT) AS g,
            CAST(CASE idx WHEN 0 THEN 115 WHEN 1 THEN 180 WHEN 2 THEN 150
              WHEN 3 THEN 100 ELSE 40 END AS BIGINT) AS b
          FROM i""")),
    Gate("q79_merge_scanline", (s, d) => {
      // merge (UNION ALL) of two disjoint halves, then separatescanline:
      // view = exclusive prefix sum of planted edge flags / groupsOf 2
      val p = pts(s, d).withColumn("edge_of_flight_line",
        when(col("order_key") % 50 === 0, 1).otherwise(0))
      val merged = Merge(Seq(p.filter(col("order_key") % 2 === 0),
        p.filter(col("order_key") % 2 === 1)))
      SeparateScanLine(merged, groupsOf = 2)
        .select(col("order_key"), col("view_id"))
    }, Some(
      // view = exclusive prefix sum of edge flags over order_key // 2
      s"""WITH p AS (SELECT order_key,
            CASE WHEN order_key % 50 = 0 THEN 1 ELSE 0 END AS e FROM ($ptsSql)),
          c AS (SELECT order_key, SUM(e) OVER (ORDER BY order_key
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - e AS pex FROM p)
          SELECT order_key, CAST(pex // 2 AS BIGINT) AS view_id FROM c""")),
    Gate("q80_nndistance", (s, d) =>
      // kth-neighbor distance: sqrt of integer-exact d2, bit-identical
      NNDistance(pts3(s, d).filter(col("order_key") < 2000), k = 4)
        .select(col("order_key"), col("nn_distance")), Some(
      // kth (k=4, self excluded) neighbor distance: sqrt of exact-integer
      // d2, bit-identical across engines
      s"""WITH p AS (SELECT * FROM ($pts3Sql) WHERE order_key < 2000),
          pairs AS (SELECT a.order_key AS qid, b.order_key AS cid,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2
            FROM p a JOIN p b ON true),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d2, cid) AS rnk FROM pairs)
          SELECT qid AS order_key, SQRT(d2) AS nn_distance
          FROM ranked WHERE rnk = 5""")),
    Gate("q81_elm", (s, d) => {
      // extended local minimum: z-gap walk per 500-cell, integer z
      val p = pts3(s, d).withColumn("classification", lit(0))
      Elm(p, cell = 500.0, threshold = 40.0)
        .select(col("order_key"), col("classification").cast("long").as("cls"))
    }, Some(
      // z-ascending gap walk per 500-cell: noise while every gap so far
      // (including own) >= threshold; integer z makes comparisons exact
      s"""WITH p AS ($pts3Sql),
          k AS (SELECT order_key, z,
            FLOOR(x / 500) AS cx, FLOOR(y / 500) AS cy FROM p),
          g AS (SELECT order_key, cx, cy, z,
            CASE WHEN LEAD(z) OVER (PARTITION BY cx, cy ORDER BY z, order_key)
                IS NOT NULL
              AND LEAD(z) OVER (PARTITION BY cx, cy ORDER BY z, order_key) - z
                >= 40.0 THEN 1 ELSE 0 END AS ok FROM k),
          a AS (SELECT order_key,
            MIN(ok) OVER (PARTITION BY cx, cy ORDER BY z, order_key
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS allok FROM g)
          SELECT order_key,
            CAST(CASE WHEN allok = 1 THEN 7 ELSE 0 END AS BIGINT) AS cls
          FROM a""")),
    Gate("q82_iqr", (s, d) =>
      // interpolated quartiles over integer values: Spark percentile and
      // DuckDB quantile_cont share the linear-interpolation definition
      Iqr(pts(s, d), "x", k = 0.5).select("order_key"), Some(
      // interpolated quartiles over integers are exact dyadics in both
      // engines (same lower + frac*(upper-lower) definition)
      s"""WITH p AS ($ptsSql),
          q AS (SELECT quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.75) AS q3
            FROM p)
          SELECT order_key FROM p, q
          WHERE x >= q1 - 0.5 * (q3 - q1) AND x <= q3 + 0.5 * (q3 - q1)""")),
    Gate("q83_stac_union", (s, d) => {
      // readers.stac end-to-end through the oracle gate: a 3-item catalog
      // whose items are slices of pts (A: order_key<5000, C: >=5000, both
      // bbox [0,10000]^2) plus item B whose bbox is disjoint from the
      // query bounds AND whose asset file does not exist — bounds-pruning
      // B before I/O is what lets the read succeed at all. Result =
      // pts clipped to the bounds, which DuckDB rebuilds directly.
      val dir = java.nio.file.Paths.get(
        s"/tmp/graft-stac-${Integer.toHexString(d.hashCode)}")
      java.nio.file.Files.createDirectories(dir)
      val p = pts(s, d).select("order_key", "x", "y")
      p.filter(col("order_key") < 5000)
        .write.mode("overwrite").parquet(s"$dir/itemA.parquet")
      p.filter(col("order_key") >= 5000)
        .write.mode("overwrite").parquet(s"$dir/itemC.parquet")
      def item(id: String, bbox: String, asset: String) =
        s"""{"type":"Feature","id":"$id","bbox":$bbox,"properties":{},
            "assets":{"data":{"href":"$asset"}}}"""
      java.nio.file.Files.writeString(dir.resolve("A.json"),
        item("a", "[0,0,10000,10000]", "itemA.parquet"))
      java.nio.file.Files.writeString(dir.resolve("B.json"),
        item("b", "[50000,50000,60000,60000]", "missing.parquet"))
      java.nio.file.Files.writeString(dir.resolve("C.json"),
        item("c", "[0,0,10000,10000]", "itemC.parquet"))
      java.nio.file.Files.writeString(dir.resolve("catalog.json"),
        """{"type":"Catalog","id":"root","links":[
            {"rel":"item","href":"A.json"},{"rel":"item","href":"B.json"},
            {"rel":"item","href":"C.json"}]}""")
      graft.sources.StacReader.read(s, s"$dir/catalog.json",
        bounds = Some((0.0, 0.0, 8000.0, 8000.0)))
    }, Some(
      // the catalog machinery (walk, bbox prune, asset resolve, union) is
      // the engine side; the oracle rebuilds the surviving rows directly
      s"""SELECT order_key, x, y FROM ($ptsSql)
          WHERE x BETWEEN 0 AND 8000 AND y BETWEEN 0 AND 8000""")),
    Gate("q84_ply_roundtrip", (s, d) => {
      // writers.ply -> readers.ply round trip through the oracle gate:
      // integral coords print exactly at any fixed precision, event_ids
      // are dense from 1, so the read-back face indices (vertex ranks)
      // are (k-1, k, k+1) — pure SQL. Faces join back to their corner-a
      // coordinates to exercise both PLY elements in one hashed result.
      val p = pts(s, d).filter(col("order_key").between(1, 1500))
        .select("order_key", "x", "y", "z")
      val faces = p.filter(col("order_key") % 3 === 1 &&
          col("order_key") <= 1498)
        .select(col("order_key").as("a"), (col("order_key") + 1).as("b"),
          (col("order_key") + 2).as("c"))
      val f = s"/tmp/graft-ply-${Integer.toHexString(d.hashCode)}.ply"
      graft.sources.MeshWriters.writePly(p, faces, f)
      val (v, fi) = graft.sources.PlyReader.readAscii(s, f)
      val va = v.select(col("order_key").as("ia"),
        col("x").as("xa"), col("y").as("ya"))
      fi.join(va, fi("a") === va("ia"))
        .select(col("a").as("ia"), col("b").as("ib"), col("c").as("ic"),
          col("xa"), col("ya"))
    }, Some(
      // dense event_ids 1..1500 make the read-back vertex index of
      // order_key k exactly k-1; corner-a coords are the pts recurrence
      """SELECT event_id - 1 AS ia, event_id AS ib, event_id + 1 AS ic,
          CAST((event_id * 7919) % 10000 AS DOUBLE) AS xa,
          CAST((event_id * 104729) % 10000 AS DOUBLE) AS ya
          FROM events
          WHERE event_id BETWEEN 1 AND 1498 AND event_id % 3 = 1""")),
    Gate("q85_ferry_tail", (s, d) => {
      // filters.ferry + filters.tail: copy dims, then keep the last 1000
      // points in insertion order (distributed global rank, no sort of
      // the ride-along columns)
      val p = Ferry(pts(s, d), Seq("value" -> "value_copy", "x" -> "x_orig"))
      HeadTail.tail(p, 1000)
        .select(col("order_key"), col("x"), col("value_copy"), col("x_orig"))
    }, Some(
      // tail = rank by order_key, keep the last 1000; ferried copies ride
      s"""WITH p AS (SELECT *, value AS value_copy, x AS x_orig FROM ($ptsSql)),
          n AS (SELECT COUNT(*) AS cnt FROM p),
          r AS (SELECT p.*, ROW_NUMBER() OVER (ORDER BY order_key) - 1 AS rnk
            FROM p)
          SELECT order_key, x, value_copy, x_orig FROM r, n
          WHERE rnk >= cnt - 1000""")),
    Gate("q86_mortonorder", (s, d) =>
      // filters.mortonorder at cell size 1.0 over integer coords: the
      // quantization is exact, and the biased+sign-flipped Z-code orders
      // identically to the raw bit-interleave the oracle computes (the
      // bias adds a constant 2^62 for non-negative cell coords)
      MortonOrder(pts(s, d), reverse = false, cellSize = 1.0)
        .select(col("x"), col("y"), col("order_key").as("morton_rank")), Some(
      // raw 32->64 bit-interleave via the same spread cascade the engine
      // codegens; rank ties break on the old insertion key
      s"""WITH p AS (SELECT order_key AS ok0, x, y FROM ($ptsSql)),
          mm AS (SELECT MIN(x) AS mnx, MIN(y) AS mny FROM p),
          c AS (SELECT ok0, x, y,
            CAST(FLOOR((x - mnx) / 1.0) AS BIGINT) AS cx,
            CAST(FLOOR((y - mny) / 1.0) AS BIGINT) AS cy FROM p, mm),
          s1 AS (SELECT ok0, x, y,
            ((cx | (cx << 16)) & 281470681808895) AS a,
            ((cy | (cy << 16)) & 281470681808895) AS b FROM c),
          s2 AS (SELECT ok0, x, y,
            ((a | (a << 8)) & 71777214294589695) AS a,
            ((b | (b << 8)) & 71777214294589695) AS b FROM s1),
          s3 AS (SELECT ok0, x, y,
            ((a | (a << 4)) & 1085102592571150095) AS a,
            ((b | (b << 4)) & 1085102592571150095) AS b FROM s2),
          s4 AS (SELECT ok0, x, y,
            ((a | (a << 2)) & 3689348814741910323) AS a,
            ((b | (b << 2)) & 3689348814741910323) AS b FROM s3),
          s5 AS (SELECT ok0, x, y,
            ((a | (a << 1)) & 6148914691236517205) AS a,
            ((b | (b << 1)) & 6148914691236517205) AS b FROM s4)
          SELECT x, y,
            ROW_NUMBER() OVER (ORDER BY ((a << 1) | b), ok0) - 1 AS morton_rank
          FROM s5""")),
    Gate("q87_radialdensity", (s, d) =>
      // filters.radialdensity: neighbor count (self included, d2 <= r^2
      // exact over integer-derived coords) / sphere volume — the divide
      // is the same IEEE sequence in both engines
      RadialDensity(pts3(s, d).filter(col("order_key") < 2000), radius = 800.0)
        .select(col("order_key"), col("radial_density")), Some(
      // self-inclusive radius count / sphere volume, identical IEEE ops
      s"""WITH p AS (SELECT * FROM ($pts3Sql) WHERE order_key < 2000),
          cnt AS (SELECT a.order_key, COUNT(*) AS c FROM p a JOIN p b
            ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z)
               <= 640000.0
            GROUP BY a.order_key)
          SELECT order_key, CAST(c AS DOUBLE) /
            (CAST(4 AS DOUBLE) / CAST(3 AS DOUBLE) * pi() * 800.0 * 800.0 * 800.0)
            AS radial_density FROM cnt""")),
    Gate("q88_reciprocity", (s, d) =>
      // filters.reciprocity: % of a point's k=4 neighbors that don't
      // count it among their own k; kNN rank mirrors the (d2, cid)
      // tie-break over exact-integer d2
      Reciprocity(pts3(s, d).filter(col("order_key") < 1500), k = 4)
        .select(col("order_key"), col("reciprocity")), Some(
      // kNN rank 2..k+1 over (d2, cid); % of edges with no reverse edge
      s"""WITH p AS (SELECT * FROM ($pts3Sql) WHERE order_key < 1500),
          pairs AS (SELECT a.order_key AS src, b.order_key AS dst,
            (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS d2
            FROM p a CROSS JOIN p b),
          ranked AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY d2, dst) AS rnk FROM pairs),
          edges AS (SELECT src, dst FROM ranked WHERE rnk BETWEEN 2 AND 5),
          rec AS (SELECT e.src, CASE WHEN b.src IS NULL THEN 1 ELSE 0 END AS miss
            FROM edges e LEFT JOIN edges b ON b.src = e.dst AND b.dst = e.src)
          SELECT src AS order_key,
            CAST(100 AS DOUBLE) * SUM(miss) / COUNT(*) AS reciprocity
          FROM rec GROUP BY src""")),
    Gate("q89_checkpoint_resume", (s, d) => {
      // north-rule resumability through the oracle gate: a 3-stage
      // checkpointed pipeline (crop -> assign -> tile agg) runs once,
      // then runs AGAIN with every stage function replaced by one that
      // throws — the second run can only succeed by resuming from the
      // persisted stage data + lineage sidecars, never recomputing.
      // The returned result is the RESUMED final stage.
      val dir = s"/tmp/graft-ckpt-${Integer.toHexString(d.hashCode)}"
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val stages = Seq[(String, DataFrame => DataFrame)](
        "crop" -> (df => Crop.box2d(df, 1000.5, 1000.5, 9000.5, 9000.5)),
        "assign" -> (df => Assign(df, "z", (col("order_key") % 97).cast("double"),
          Some(col("x") < 5000.0))),
        "tile_agg" -> (df => df.groupBy(
          floor(col("x") / 1000).cast("long").as("cell_x"),
          floor(col("y") / 1000).cast("long").as("cell_y"))
          .agg(count(lit(1)).as("n"), sum(col("z").cast("long")).as("v"))))
      val runner = new graft.pipeline.CheckpointRunner(s, dir)
      runner.run(pts(s, d), stages) // populates every stage checkpoint
      val poisoned = stages.map { case (n, _) =>
        n -> ((_: DataFrame) => throw new IllegalStateException(
          s"resume recomputed stage $n")): (String, DataFrame => DataFrame)
      }
      runner.run(pts(s, d), poisoned) // must resume, not recompute
        .select("cell_x", "cell_y", "n", "v")
    }, Some(
      // the checkpoint/resume machinery is engine-side (the poisoned second
      // run proves it); the oracle rebuilds the 3-stage result directly
      s"""WITH p AS (SELECT * FROM ($ptsSql)
            WHERE x >= 1000.5 AND x <= 9000.5 AND y >= 1000.5 AND y <= 9000.5),
          a AS (SELECT x, y,
            CASE WHEN x < 5000.0 THEN order_key % 97 ELSE 0 END AS zv FROM p)
          SELECT CAST(FLOOR(x / 1000) AS BIGINT) AS cell_x,
            CAST(FLOOR(y / 1000) AS BIGINT) AS cell_y,
            COUNT(*) AS n, CAST(SUM(zv) AS BIGINT) AS v
          FROM a GROUP BY 1, 2""")),
    Gate("q90_media_plumbing", (s, d) => {
      // multimodal plumbing end-to-end: spans' media refs -> deterministic
      // fake blobs (seed = Java String.hashCode, which the oracle
      // recomputes arithmetically from the ref's digits) -> header decode
      // + feature-extraction batch pass; meta and decoded dims must agree
      val refs = spansDocs(s, d).select(explode(col("spans")).as("sp"))
        .filter(col("sp.kind") =!= "text")
        .groupBy(col("sp.media_ref").as("media_ref"))
        .agg(min(col("sp.kind")).as("kind"))
      val media = graft.media.Multimodal.synthMedia(s, refs)
      val feats = graft.media.Multimodal.extractFeatures(media)
      media.join(feats.select(col("media_ref"), col("width").as("dec_w"),
          col("height").as("dec_h")), Seq("media_ref"))
        .select(col("media_ref"), col("kind"),
          col("meta.width").as("w"), col("meta.height").as("h"),
          col("meta.sample_rate").as("rate"), col("meta.n_frames").as("frames"),
          length(col("content")).as("blen"), col("dec_w"), col("dec_h"))
    }, Some(
      // seed = Java String.hashCode('m/' || n), recomputed from digits
      // (max |h| ~1.02e8 so the 32-bit wraparound never engages); meta and
      // the decoded header must agree with the engine's synthesis
      """WITH e AS (SELECT unnest(list_transform(
            generate_series(0, event_id % 5), i -> event_id * 31 + i * 7)) AS h
            FROM events),
          m AS (SELECT h % 997 AS n, CASE (h % 4) WHEN 1 THEN 'image'
              WHEN 2 THEN 'audio' ELSE 'table' END AS kind
            FROM e WHERE (h % 4) <> 0),
          g AS (SELECT n, MIN(kind) AS kind FROM m GROUP BY n),
          hh AS (SELECT n, kind, CASE
              WHEN n < 10 THEN 3426*31 + 48 + n
              WHEN n < 100 THEN 3426*961 + (48 + n//10)*31 + 48 + n%10
              ELSE 3426*29791 + (48 + n//100)*961 + (48 + (n//10)%10)*31 + 48 + n%10
            END AS seed FROM g)
          SELECT 'm/' || CAST(n AS VARCHAR) AS media_ref, kind,
            CAST(64 + seed % 192 AS INT) AS w,
            CAST(64 + (seed >> 3) % 192 AS INT) AS h,
            CAST(CASE WHEN kind = 'audio' THEN 16000 ELSE 0 END AS INT) AS rate,
            CAST(1 AS INT) AS frames, CAST(272 AS INT) AS blen,
            CAST(64 + seed % 192 AS INT) AS dec_w,
            CAST(64 + (seed >> 3) % 192 AS INT) AS dec_h
          FROM hh""")),
    Gate("q91_fps", (s, d) =>
      // farthest-point sampling k=8 over the exact-integer subset; the
      // oracle replays the greedy via a recursive CTE with the same
      // (min-dist DESC, id ASC) argmax tie-break
      Fps(pts3(s, d).filter(col("order_key") < 500), 8)
        .select("order_key"), Some(
      // sequential farthest-point greedy as a recursive CTE: each level's
      // window argmax is the next pick; mind folds via the same LEAST
      s"""WITH RECURSIVE p AS (SELECT order_key AS id, x, y, z
            FROM ($pts3Sql) WHERE order_key < 500),
          f AS (SELECT * FROM p ORDER BY id LIMIT 1),
          r AS (
            SELECT 1 AS it, p.id, p.x, p.y, p.z,
              (p.x-f.x)*(p.x-f.x) + (p.y-f.y)*(p.y-f.y) + (p.z-f.z)*(p.z-f.z)
                AS mind,
              f.id AS picked
            FROM p, f WHERE p.id <> f.id
            UNION ALL
            SELECT it + 1, id, x, y, z,
              LEAST(mind, (x-bx)*(x-bx) + (y-by)*(y-by) + (z-bz)*(z-bz)) AS mind,
              bid AS picked
            FROM (
              SELECT r.*,
                FIRST_VALUE(id) OVER (ORDER BY mind DESC, id ASC) AS bid,
                FIRST_VALUE(x) OVER (ORDER BY mind DESC, id ASC) AS bx,
                FIRST_VALUE(y) OVER (ORDER BY mind DESC, id ASC) AS by,
                FIRST_VALUE(z) OVER (ORDER BY mind DESC, id ASC) AS bz
              FROM r)
            WHERE id <> bid AND it < 8
          )
          SELECT DISTINCT picked AS order_key FROM r""")),
    Gate("q92_voxel_center", (s, d) =>
      // voxeldownsize center mode: kept coords snap to voxel centers —
      // (floor + 0.5) * cell is exact dyadic arithmetic in both engines
      Voxel.downsize(pts3(s, d), cell = 250.0, mode = "center",
          origin = Some((0.0, 0.0, 0.0)))
        .select(col("order_key"), col("x"), col("y"), col("z")), Some(
      // first point per voxel, coords snapped to (floor + 0.5) * cell
      s"""WITH p AS ($pts3Sql),
          k AS (SELECT MIN(order_key) AS order_key,
            FLOOR(x / 250) AS vx, FLOOR(y / 250) AS vy, FLOOR(z / 250) AS vz
            FROM p GROUP BY 2, 3, 4)
          SELECT order_key, (vx + 0.5) * 250.0 + 0.0 AS x,
            (vy + 0.5) * 250.0 + 0.0 AS y, (vz + 0.5) * 250.0 + 0.0 AS z
          FROM k""")),
    Gate("q93_dartthrowing", (s, d) => {
      // relaxationdartthrowing in a provable regime: 300 cells spaced
      // 1000 apart, each holding A(0,0) < B(+300,0) < C(0,+600) in
      // insertion order; min cross-cell distance 700. r0=700 keeps only
      // the A's (300 < 600 target), the decayed r1=490 keeps A+C (600 >=
      // target, stop) — so the full two-round shrink loop runs and the
      // surviving set has the closed form {A, C}.
      val p = t(s, d, "events").filter(col("event_id") < 900).select(
        col("event_id").as("order_key"),
        ((col("event_id") % 300) * 1000 +
          when(floor(col("event_id") / 300) === 1, 300.0).otherwise(0.0))
          .cast("double").as("x"),
        when(floor(col("event_id") / 300) === 2, 600.0).otherwise(0.0)
          .cast("double").as("y"),
        lit(0.0).as("z"))
      RelaxationDartThrowing(p, targetCount = 600, startRadius = 700.0,
        decay = 0.7).select("order_key")
    }, Some(
      // the shrink loop's surviving set in the planted regime: every A
      // (ids 0-299, kept first) and every C (600-899, 600 >= 490 from A);
      // the B's (300-599) conflict with their kept A at distance 300
      """SELECT event_id AS order_key FROM events
          WHERE event_id < 900 AND NOT (event_id >= 300 AND event_id < 600)""")),
    Gate("q94_delta", (s, d) => {
      // kernels.delta (DeltaKernel.cpp:45): per-point nearest-neighbor
      // distance between two disjoint clouds, both directions. d2 values
      // are exact integer-valued doubles, sqrt is IEEE-correctly-rounded
      // in any engine, so the hash gate is exact.
      val p = pts3(s, d)
      val a = p.filter(col("order_key").between(1, 1500))
        .select("order_key", "x", "y", "z")
      val b = p.filter(col("order_key").between(1501, 3000))
        .select("order_key", "x", "y", "z")
      graft.pipeline.CloudMetrics.delta(a, b).withColumn("dir", lit("ab"))
        .unionByName(
          graft.pipeline.CloudMetrics.delta(b, a).withColumn("dir", lit("ba")))
        .select(col("dir"), col("order_key"), col("nn_dist"))
    }, Some(
      // d2 is an exact integer in double, min/max/avg over it are exact and
      // order-independent, sqrt is correctly rounded — both kernels' math
      // reduces to the same bits in any engine
      s"""WITH p AS ($pts3Sql),
          a AS (SELECT * FROM p WHERE order_key BETWEEN 1 AND 1500),
          b AS (SELECT * FROM p WHERE order_key BETWEEN 1501 AND 3000),
          dab AS (SELECT a.order_key,
              MIN((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)+(a.z-b.z)*(a.z-b.z)) AS md
            FROM a, b GROUP BY 1),
          dba AS (SELECT b.order_key,
              MIN((b.x-a.x)*(b.x-a.x)+(b.y-a.y)*(b.y-a.y)+(b.z-a.z)*(b.z-a.z)) AS md
            FROM b, a GROUP BY 1)
          SELECT 'ab' AS dir, order_key, sqrt(md) AS nn_dist FROM dab
          UNION ALL
          SELECT 'ba' AS dir, order_key, sqrt(md) AS nn_dist FROM dba""")),
    Gate("q95_hausdorff_chamfer", (s, d) => {
      // kernels.hausdorff / kernels.chamfer (HausdorffKernel.cpp:48,
      // ChamferKernel.cpp:46): both aggregates run on raw squared
      // distances (exact integers -> order-independent sums), so the
      // one-row result is bit-exact against any engine.
      val p = pts3(s, d)
      val a = p.filter(col("order_key").between(1, 1500))
        .select("order_key", "x", "y", "z")
      val b = p.filter(col("order_key").between(1501, 3000))
        .select("order_key", "x", "y", "z")
      val h = graft.pipeline.CloudMetrics.hausdorff(a, b)
      val c = graft.pipeline.CloudMetrics.chamfer(a, b)
      s.range(1).select(lit(h).as("hausdorff"), lit(c).as("chamfer"))
    }, Some(
      s"""WITH p AS ($pts3Sql),
          a AS (SELECT * FROM p WHERE order_key BETWEEN 1 AND 1500),
          b AS (SELECT * FROM p WHERE order_key BETWEEN 1501 AND 3000),
          dab AS (SELECT a.order_key,
              MIN((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)+(a.z-b.z)*(a.z-b.z)) AS md
            FROM a, b GROUP BY 1),
          dba AS (SELECT b.order_key,
              MIN((b.x-a.x)*(b.x-a.x)+(b.y-a.y)*(b.y-a.y)+(b.z-a.z)*(b.z-a.z)) AS md
            FROM b, a GROUP BY 1)
          SELECT sqrt(GREATEST((SELECT MAX(md) FROM dab),
                               (SELECT MAX(md) FROM dba))) AS hausdorff,
            (SELECT AVG(md) FROM dab) + (SELECT AVG(md) FROM dba) AS chamfer""")),
    Gate("q96_randomize", (s, d) => {
      // filters.randomize: seeded deterministic shuffle — the splitmix64
      // finalizer is pure 64-bit arithmetic the oracle replays in HUGEINT
      // mod-2^64 SQL; x identifies the source row (7919 coprime to 1e4).
      Randomize(pts(s, d).select("order_key", "x"), seed = 12345L)
        .select(col("x"), col("order_key").as("shuffle_rank"))
    }, Some(
      // splitmix64 replayed in HUGEINT mod-2^64 arithmetic: 64x64-bit
      // multiply split hi/lo 32 to stay under the 128-bit ceiling; the rank
      // orders on the SIGNED reinterpretation (Spark longs), key tiebreak
      """WITH p AS (SELECT event_id AS k,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x FROM events),
          s0 AS (SELECT k, x, (CAST(k + 12345 AS HUGEINT)
              + 11400714819323198485) % 18446744073709551616 AS z0 FROM p),
          s1 AS (SELECT k, x, xor(z0, z0 // 1073741824) AS x1 FROM s0),
          m1 AS (SELECT k, x, (((x1 // 4294967296 * 13787848793156543929)
              % 4294967296) * 4294967296 + (x1 % 4294967296)
              * 13787848793156543929) % 18446744073709551616 AS z1 FROM s1),
          s2 AS (SELECT k, x, xor(z1, z1 // 134217728) AS x2 FROM m1),
          m2 AS (SELECT k, x, (((x2 // 4294967296 * 10723151780598845931)
              % 4294967296) * 4294967296 + (x2 % 4294967296)
              * 10723151780598845931) % 18446744073709551616 AS z2 FROM s2),
          f AS (SELECT k, x, xor(z2, z2 // 2147483648) AS u FROM m2),
          g AS (SELECT k, x, CASE WHEN u >= 9223372036854775808
              THEN u - 18446744073709551616 ELSE u END AS sgn FROM f)
          SELECT x, ROW_NUMBER() OVER (ORDER BY sgn, k) - 1 AS shuffle_rank
          FROM g""")),
    Gate("q97_eval_metrics", (s, d) => {
      // kernels.eval (EvalKernel.cpp:48): per-class support/correct/recall
      // of a deterministically perturbed prediction vs truth.
      val base = t(s, d, "events").select(col("event_id").as("order_key"),
        (col("event_id") % 5 + 1).cast("int").as("classification"))
      val pred = base.withColumn("classification",
        when(col("order_key") % 7 === 0, (col("classification") % 5) + 1)
          .otherwise(col("classification")))
      graft.pipeline.EvalKernel.metrics(pred, base)
    }, Some(
      """WITH b AS (SELECT event_id AS k,
            CAST(event_id % 5 + 1 AS INT) AS truth FROM events),
          p AS (SELECT k, truth, CASE WHEN k % 7 = 0
              THEN CAST((truth % 5) + 1 AS INT) ELSE truth END AS pred FROM b)
          SELECT truth, COUNT(*) AS support,
            CAST(SUM(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT)
              AS correct,
            CAST(SUM(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*) AS recall
          FROM p GROUP BY truth""")),
    Gate("q98_tindex_merge", (s, d) => {
      // kernels.tindex create+merge through the gate: four spatially
      // banded files, an index over them, then a bounds merge that prunes
      // two files by bbox before any data read (pruning itself is
      // asserted in PipelineSpecSuite; the gate hashes the merged rows).
      val p = pts(s, d).select("order_key", "x", "y")
      val base = s"/tmp/graft-tidx-${Integer.toHexString(d.hashCode)}"
      val files = (0 until 4).map { i =>
        val f = s"$base/f$i"
        p.filter(col("x") >= i * 2500 && col("x") < (i + 1) * 2500)
          .write.mode("overwrite").parquet(f)
        f
      }
      graft.pipeline.TIndexKernel.create(s, s"$base/index", files)
      graft.pipeline.TIndexKernel.merge(s, s"$base/index",
        0.0, 0.0, 4000.0, 10000.0)
    }, Some(
      s"""SELECT order_key, x, y FROM ($ptsSql)
          WHERE x >= 0 AND x <= 4000""")),
    Gate("q99_stream_density", (s, d) => {
      // Structured Streaming through the oracle gate: the watermarked
      // windowed tile-density aggregation (streaming/DocStream.scala) over
      // a file-arrival source, Trigger.AvailableNow to completion, memory
      // sink in complete mode — the finite-input result equals the batch
      // group-by the oracle computes.
      val in = t(s, d, "events").select(
        ((col("event_id") * 7919) % 10000).cast("double").as("x"),
        ((col("event_id") * 104729) % 10000).cast("double").as("y"),
        ((col("event_id") * 131) % 1000).cast("double").as("z"),
        ((col("event_id") % 5000) * 7).cast("double").as("gps_time"))
      val dir = s"/tmp/graft-stream-${Integer.toHexString(d.hashCode)}"
      in.write.mode("overwrite").parquet(dir)
      val stream = s.readStream.schema(in.schema).parquet(dir)
      val agg = graft.streaming.DocStream.tileDensity(
        stream, length = 1000.0, ox = 0.0, oy = 0.0)
      val qn = s"q99_sink_${Integer.toHexString(d.hashCode)}"
      s.catalog.dropTempView(qn) // repeat runs: don't reuse a stale sink
      agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.table(qn).select(col("window.start").cast("long").as("win_start"),
        col("tile_id"), col("n"), col("mean_z"))
    }, Some(
      // batch equivalent of the finite stream: epoch-aligned 600s windows,
      // packed (cx<<32|cy) tile id over non-negative integer-valued coords
      """WITH p AS (SELECT (event_id % 5000) * 7 AS gt,
            (event_id * 7919) % 10000 AS xi,
            (event_id * 104729) % 10000 AS yi,
            CAST((event_id * 131) % 1000 AS DOUBLE) AS z FROM events)
          SELECT (gt // 600) * 600 AS win_start,
            (xi // 1000) * 4294967296 + (yi // 1000) AS tile_id,
            COUNT(*) AS n, AVG(z) AS mean_z
          FROM p GROUP BY 1, 2""")),
    Gate("q100_ogr_roundtrip", (s, d) => {
      // writers.ogr GeoJSONSeq round trip: distributed to_json emit, read
      // back as newline JSON; Jackson's shortest-round-trip double
      // formatting makes the coordinates exact through the text hop.
      val p = pts(s, d).filter(col("order_key") < 4000)
        .select(col("order_key"), col("x"), col("y"),
          lit(0.0).as("z"), col("value"))
      val path = s"/tmp/graft-ogr-${Integer.toHexString(d.hashCode)}"
      graft.sources.OgrWriter.writeGeoJson(p, path, attrDims = Seq("value"))
      s.read.json(path).select(
        element_at(col("geometry.coordinates"), 1).as("x"),
        element_at(col("geometry.coordinates"), 2).as("y"),
        col("properties.value").as("value"))
    }, Some(
      """SELECT CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
          CAST((event_id * 104729) % 10000 AS DOUBLE) AS y, value
          FROM events WHERE event_id < 4000""")),
    Gate("q102_asof_media_join", (s, d) => {
      // Streaming AS-OF media join (flatMapGroupsWithState + event-time
      // timeout) through the gate. Single-batch regime (one file per
      // side): matched docs emit in the data batch; the trailing no-data
      // batch advances the watermark to max_ts - 600s, flushing older
      // unmatched docs left-outer. Docs unmatched AND inside the last
      // 600s stay in state by design — the oracle reproduces exactly
      // that emit set. The ref count scales with the table (n/100+1, odd
      // so every residue class mod 4 carries media) keeping versions/ref
      // ~25 at any sf — under the state cap, so no as-of match is ever
      // evicted and the emit set is exactly the declarative as-of.
      // Event times are shifted +1000 off epoch 0: a row whose event
      // time EQUALS the current watermark is late by Spark's stateful
      // late-row filter, and the initial watermark is epoch 0 — an
      // unshifted ts=0 media row is silently dropped in batch 1.
      val h = Integer.toHexString(d.hashCode)
      val ev = t(s, d, "events")
      val refs = ev.agg(max("event_id")).head.getLong(0) / 100L + 2L
      val media = ev.filter(col("event_id") % 4 === 0).select(
        concat(lit("m/"), col("event_id") % refs).as("media_ref"),
        (col("event_id") + 1000L).as("ts"),
        concat(lit("v"), col("event_id") + 1000L).as("meta"))
      val docs = ev.filter(col("event_id") % 4 =!= 0).select(
        concat(lit("m/"), col("event_id") % refs).as("media_ref"),
        (col("event_id") + 1000L).as("ts"),
        col("event_id").as("doc_id"))
      val (mDir, dDir) = (s"/tmp/graft-asof-m-$h", s"/tmp/graft-asof-d-$h")
      media.coalesce(1).write.mode("overwrite").parquet(mDir)
      docs.coalesce(1).write.mode("overwrite").parquet(dDir)
      val out = graft.streaming.DocStream.asOfJoinMedia(s,
        s.readStream.schema(docs.schema).parquet(dDir),
        s.readStream.schema(media.schema).parquet(mDir),
        maxMediaHistory = 64) // ~25 versions/ref by construction; margin
      val qn = s"q102_sink_$h"
      s.catalog.dropTempView(qn) // repeat runs: don't append to a stale sink
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        q.processAllAvailable() // data batch: matched docs emit
        q.processAllAvailable() // no-data batch: timeout flush past the wm
      } finally q.stop()
      s.table(qn).select(col("doc_id"), col("media_ref"), col("doc_ts"),
        coalesce(col("media_ts"), lit(-1L)).as("media_ts"),
        coalesce(col("meta"), lit("")).as("meta"))
    }, Some(
      // the as-of emit set of the finite stream: matched docs pair with the
      // LATEST media at-or-before their ts; unmatched docs emit left-outer
      // only once the final watermark (max event time - 600s) passes them
      """WITH r AS (SELECT MAX(event_id) // 100 + 2 AS refs FROM events),
          media AS (SELECT 'm/' || CAST(event_id % (SELECT refs FROM r) AS VARCHAR) AS ref,
            event_id + 1000 AS ts FROM events WHERE event_id % 4 = 0),
          docs AS (SELECT 'm/' || CAST(event_id % (SELECT refs FROM r) AS VARCHAR) AS ref,
            event_id + 1000 AS ts, event_id AS doc_id FROM events
            WHERE event_id % 4 <> 0),
          m AS (SELECT d.doc_id, d.ref, d.ts,
            (SELECT MAX(m2.ts) FROM media m2
              WHERE m2.ref = d.ref AND m2.ts <= d.ts) AS mts FROM docs d)
          SELECT doc_id, ref AS media_ref, ts AS doc_ts,
            COALESCE(mts, -1) AS media_ts,
            CASE WHEN mts IS NULL THEN ''
                 ELSE 'v' || CAST(mts AS VARCHAR) END AS meta
          FROM m
          WHERE mts IS NOT NULL
             OR ts < (SELECT MAX(event_id) + 1000 FROM events) - 600""")),
    Gate("q103_snapshot_table", (s, d) => {
      // GraftTable (Iceberg-style snapshot/manifest layer): two appended
      // commits, a bbox read of each VERSION (time travel), tagged and
      // unioned; the v1 read must NOT see the v2 rows. File-level
      // manifest pruning is asserted in GraftTableSpec; the gate hashes
      // the row-visibility semantics.
      val root = freshTmp("graft-table", d)
      val p = pts(s, d).select("order_key", "x", "y")
      val v1 = graft.sources.GraftTable.commit(
        p.filter(col("order_key") < 5000), root)
      val v2 = graft.sources.GraftTable.commit(
        p.filter(col("order_key") >= 5000), root)
      val (r1, _, _) = graft.sources.GraftTable.readBox(
        s, root, 0, 0, 3000, 10000, asOf = Some(v1))
      val (r2, _, _) = graft.sources.GraftTable.readBox(
        s, root, 0, 0, 3000, 10000, asOf = Some(v2))
      r1.withColumn("snap", lit(1)).unionByName(r2.withColumn("snap", lit(2)))
        .select("snap", "order_key", "x", "y")
    }, Some(
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y FROM events)
          SELECT 1 AS snap, order_key, x, y FROM p
            WHERE order_key < 5000 AND x <= 3000
          UNION ALL
          SELECT 2 AS snap, order_key, x, y FROM p WHERE x <= 3000""")),
    Gate("q105_table_delete", (s, d) => {
      // GraftTable copy-on-write row-level delete: four x-banded commits,
      // deleteBox removes the rows inside [2000,4000]x[0,10000] by
      // rewriting ONLY the stats-intersecting files (require below — the
      // outer bands' files carry their manifest rows forward untouched);
      // the head read must show exactly the surviving rows, and the
      // pre-delete snapshot must still read ALL rows (time travel
      // across a delete). Emits both, tagged by snapshot.
      val root = freshTmp("graft-table-del", d)
      val p = pts(s, d).select("order_key", "x", "y")
      for (b <- 0 until 4)
        graft.sources.GraftTable.commit(
          p.filter(col("x") >= b * 2500.0 && col("x") < (b + 1) * 2500.0), root)
      val preDelete = graft.sources.GraftTable.currentVersion(root)
      val (_, rewritten, total) =
        graft.sources.GraftTable.deleteBox(s, root, 2000, 0, 4000, 10000)
      require(rewritten < total,
        s"copy-on-write expected: rewrote $rewritten of $total files")
      val head = graft.sources.GraftTable.read(s, root)
      val past = graft.sources.GraftTable.read(s, root, asOf = Some(preDelete))
      head.withColumn("snap", lit(2))
        .unionByName(past.withColumn("snap", lit(1)))
        .select("snap", "order_key", "x", "y")
    }, Some(
      // copy-on-write delete: head (snap 2) = survivors of the closed box;
      // the pre-delete snapshot (snap 1) still reads every row
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y FROM events)
          SELECT 2 AS snap, order_key, x, y FROM p
            WHERE NOT (x >= 2000 AND x <= 4000)
          UNION ALL
          SELECT 1 AS snap, order_key, x, y FROM p""")),
    Gate("q106_table_zorder", (s, d) => {
      // commitClustered: the SAME scattered rows committed once plain and
      // once z-order-clustered; the clustered table's footer bboxes must
      // prune files the scattered layout cannot (require below — this is
      // the write-side half of the pruning story: q104 proves banded
      // commits prune, this proves the ENGINE can CREATE the prunable
      // layout from scattered input). Rows must be identical either way,
      // so the emit is the clustered bbox read — clustering must be
      // row-invisible.
      val root = freshTmp("graft-table-zo", d)
      // scattered input needs no explicit pre-shuffle: commitClustered
      // range-repartitions on the Morton key regardless of incoming
      // partitioning, so an extra repartition here is a wasted shuffle
      val p = pts(s, d).select("order_key", "x", "y")
      graft.sources.GraftTable.commitClustered(p, root,
        cellSize = 500.0, numFiles = 16)
      val (df, filesRead, filesTotal) = graft.sources.GraftTable.readBox(
        s, root, 2000.5, 2000.5, 4000.5, 4000.5)
      require(filesRead < filesTotal,
        s"z-order pruning expected: read $filesRead of $filesTotal files")
      df.select("order_key", "x", "y")
    }, Some(
      // z-order clustering is row-invisible: the bbox read of the clustered
      // table is exactly the residual predicate
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y FROM events)
          SELECT order_key, x, y FROM p
          WHERE x >= 2000.5 AND x <= 4000.5 AND y >= 2000.5 AND y <= 4000.5""")),
    Gate("q107_dedup_resolve", (s, d) => {
      // Transitive dup-group resolution (Dedup.resolveComponents over the
      // shared Components CC): pairs are CHAINS — consecutive doc_ids
      // within each normalized-text-equal group — so the engine must walk
      // real multi-hop components (it cannot shortcut to a groupBy); the
      // oracle knows the closed form (equality groups) and labels each
      // doc with the group min. Engine-independent pair regime, same
      // hash-collision caveat as q22 (green there).
      val docs = t(s, d, "documents")
      val fp = docs.withColumn("__fp",
        xxhash64(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
      val w = Window.partitionBy("__fp").orderBy("doc_id")
      val pairs = fp.select(col("doc_id"), lag("doc_id", 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      Dedup.resolveComponents(docs, pairs)
        .select(col("doc_id"), col("dup_group"),
          when(col("dup_group") === col("doc_id"), 1L).otherwise(0L)
            .as("canonical"))
    }, Some(
      // transitive dup-group resolution: the engine walks chain pairs with
      // real CC; the oracle knows the closed form (equality groups)
      """SELECT doc_id,
            MIN(doc_id) OVER (PARTITION BY norm) AS dup_group,
            CAST(CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY norm)
                 THEN 1 ELSE 0 END AS BIGINT) AS canonical
         FROM (SELECT doc_id, REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g')
                 AS norm FROM documents)""")),
    Gate("q108_table_incremental", (s, d) => {
      // GraftTable incremental read (Iceberg incremental scan): three
      // banded commits; the delta v1 -> head must be exactly the rows of
      // commits 2+3 — the downstream-consumer contract at 10^12 rows
      // (process the delta since the last checkpointed version, never a
      // full re-read). The non-append loud failure is spec-covered.
      val root = freshTmp("graft-table-inc", d)
      val p = pts(s, d).select("order_key", "x", "y")
      val v1 = graft.sources.GraftTable.commit(
        p.filter(col("order_key") < 3000), root)
      graft.sources.GraftTable.commit(
        p.filter(col("order_key") >= 3000 && col("order_key") < 6000), root)
      graft.sources.GraftTable.commit(
        p.filter(col("order_key") >= 6000), root)
      graft.sources.GraftTable.readIncremental(s, root, fromVersion = v1)
        .select("order_key", "x", "y")
    }, Some(
      // incremental scan v1 -> head == exactly the rows of commits 2+3
      """SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y
         FROM events WHERE event_id >= 3000""")),
    Gate("q109_table_meta_agg", (s, d) => {
      // GraftTable metadata-only aggregates (Iceberg manifest-stats
      // pushdown): four x-banded commits; countRows and extent answer
      // from manifests with ZERO data files opened, and countBox counts
      // the two interior bands from manifest rows alone, scanning only
      // the straddling shell (require below). At 10^12 rows this is
      // count(*) from kilobytes of metadata. The y-range of the box
      // exceeds the data extent so x alone decides containment.
      val root = freshTmp("graft-table-agg", d)
      val p = pts(s, d).select("order_key", "x", "y")
      for (b <- 0 until 4)
        graft.sources.GraftTable.commit(
          p.filter(col("x") >= b * 2500.0 && col("x") < (b + 1) * 2500.0), root)
      val totalRows = graft.sources.GraftTable.countRows(s, root)
      val (boxRows, scanned, total) = graft.sources.GraftTable.countBox(
        s, root, 1250, -1, 8750, 10001)
      require(scanned < total,
        s"metadata fast path expected: scanned $scanned of $total files")
      val (mnx, mxx, mny, mxy) = graft.sources.GraftTable.extent(s, root)
      s.range(1).select(lit(totalRows).as("total_rows"),
        lit(boxRows).as("box_rows"), lit(mnx).as("ext_minx"),
        lit(mxx).as("ext_maxx"), lit(mny).as("ext_miny"),
        lit(mxy).as("ext_maxy"))
    }, Some(
      // manifest-stats aggregates: exact count/extent with no data I/O,
      // box count = metadata for contained files + scan of the shell
      """WITH p AS (SELECT CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y FROM events)
         SELECT (SELECT COUNT(*) FROM p) AS total_rows,
                (SELECT COUNT(*) FROM p
                   WHERE x >= 1250 AND x <= 8750) AS box_rows,
                MIN(x) AS ext_minx, MAX(x) AS ext_maxx,
                MIN(y) AS ext_miny, MAX(y) AS ext_maxy
         FROM p""")),
    Gate("q110_table_upsert", (s, d) => {
      // GraftTable copy-on-write upsert (the CDC write path): four
      // key-banded commits give disjoint manifest key intervals; the
      // delta updates 25 keys inside band 0 and inserts 10 new keys, so
      // only band-0 files may be rewritten (require below). The head
      // read must show updated values, inserted rows, and every other
      // row untouched — DuckDB reconstructs the same merge declaratively.
      val root = freshTmp("graft-table-ups", d)
      val p = pts(s, d).select("order_key", "x", "y", "value")
      for (b <- 0 until 4)
        graft.sources.GraftTable.commit(
          p.filter(col("order_key") >= b * 2500 &&
            col("order_key") < (b + 1) * 2500), root)
      val delta = p.filter(col("order_key") % 100 === 7 &&
          col("order_key") < 2500)
        .withColumn("value", col("value") * 2 + lit(1.0))
        .unionByName(p.filter(col("order_key") < 10)
          .select((col("order_key") + 20000).as("order_key"),
            col("x"), col("y"), lit(-1.0).as("value")))
      val (_, rewritten, total) =
        graft.sources.GraftTable.upsert(s, root, delta)
      require(rewritten < total,
        s"key-interval pruning expected: rewrote $rewritten of $total files")
      graft.sources.GraftTable.read(s, root)
        .select("order_key", "x", "y", "value")
    }, Some(
      // copy-on-write upsert: survivors of the keyed merge + updated rows
      // + inserted rows == the declarative merge
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y,
            value FROM events)
         SELECT order_key, x, y, value FROM p
           WHERE NOT (order_key % 100 = 7 AND order_key < 2500)
         UNION ALL
         SELECT order_key, x, y, value * 2 + 1.0 AS value FROM p
           WHERE order_key % 100 = 7 AND order_key < 2500
         UNION ALL
         SELECT order_key + 20000 AS order_key, x, y,
                CAST(-1.0 AS DOUBLE) AS value FROM p
           WHERE order_key < 10""")),
    Gate("q111_table_evolution", (s, d) => {
      // Schema evolution through the driver gate: commit 1 lacks `value`
      // (pre-evolution files read it as null), commit 2 adds it, commit 3
      // appends NARROW rows after the evolution — the head schema must be
      // the union (the narrowing-append hole this round fixed: a narrow
      // append must not drop `value` from head reads). DuckDB rebuilds
      // the same union with typed nulls.
      val root = freshTmp("graft-table-evo", d)
      val p = pts(s, d).select("order_key", "x", "y", "value")
      graft.sources.GraftTable.commit(
        p.filter(col("order_key") < 5000).select("order_key", "x", "y"), root)
      graft.sources.GraftTable.commit(
        p.filter(col("order_key") >= 5000), root)
      graft.sources.GraftTable.commit(
        p.filter(col("order_key") < 1000)
          .select((col("order_key") + 10000).as("order_key"),
            col("x"), col("y")), root)
      graft.sources.GraftTable.read(s, root)
        .select("order_key", "x", "y", "value")
    }, Some(
      // schema evolution: pre-evolution and post-evolution-narrow files
      // surface the evolved column as typed nulls; the union is the head
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y,
            value FROM events)
         SELECT order_key, x, y, CAST(NULL AS DOUBLE) AS value FROM p
           WHERE order_key < 5000
         UNION ALL
         SELECT order_key, x, y, value FROM p WHERE order_key >= 5000
         UNION ALL
         SELECT order_key + 10000 AS order_key, x, y,
                CAST(NULL AS DOUBLE) AS value FROM p
           WHERE order_key < 1000""")),
    Gate("q112_salted_count", (s, d) => {
      // Skew.saltedCount (two-level skew-proof aggregation) through the
      // gate: 70% of rows share tile 0 (a hot key), the rest spread over
      // ~30 tiles; the per-(key, salt) partial + per-key final must be
      // EXACTLY a plain grouped count — salting is a physical rewrite,
      // never a semantic one.
      val keyed = pts(s, d).withColumn("tile_id",
        when(col("order_key") % 10 < 7, lit(0L))
          .otherwise(col("order_key") % 100))
      graft.operators.Skew.saltedCount(keyed, "tile_id")
        .select(col("tile_id"), col("n"))
    }, Some(
      // salted two-level aggregation == plain grouped count
      """SELECT tile_id, COUNT(*) AS n FROM
           (SELECT CASE WHEN event_id % 10 < 7 THEN 0
                        ELSE event_id % 100 END AS tile_id FROM events)
         GROUP BY tile_id""")),
    Gate("q113_cellstore_box", (s, d) => {
      // CellStore (EPT/COPC-style cell-partitioned layout): write the
      // point table partitioned by grid cell, read a box back through
      // the partition-pruned path — the scan must open fewer partitions
      // than the table holds (require below, from the executed plan),
      // and the rows must be exactly the residual box predicate.
      // cellLen sized so cells hold file-sized row groups at this SF —
      // 100 cells, one file each (a 400-cell store spends its 5s on 400
      // directory commits, overhead the layout should not pay)
      val store = freshTmp("graft-cellstore", d)
      val p = pts(s, d).select("order_key", "x", "y")
      graft.sources.CellStore.write(p, store, 0.0, 0.0, 1000.0)
      val out = graft.sources.CellStore.readBox(
        s, store, 2000.5, 2000.5, 4000.5, 4000.5, 0.0, 0.0, 1000.0)
      val (read, total) = graft.sources.CellStore.scanPartitionCounts(out)
      require(read < total,
        s"cell pruning expected: read $read of $total partitions")
      out.select("order_key", "x", "y")
    }, Some(
      // cell-partitioned box read == the residual predicate (pruning is a
      // physical property, asserted engine-side from the executed plan)
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y FROM events)
         SELECT order_key, x, y FROM p
         WHERE x >= 2000.5 AND x <= 4000.5 AND y >= 2000.5 AND y <= 4000.5""")),
    Gate("q101_text_roundtrip", (s, d) => {
      // readers.text + writers.text via the PIPELINE dialect itself
      // (PipelineBuilder runs both JSON specs): CSV doubles round-trip
      // exactly (shortest-repr write, full-precision parse).
      val h = Integer.toHexString(d.hashCode)
      pts(s, d).select("order_key", "x", "y", "value")
        .createOrReplaceTempView(s"q101_in_$h")
      val csv = s"/tmp/graft-text-$h"
      graft.pipeline.PipelineBuilder.run(s, s"""{"pipeline":[
        {"type":"readers.view","view":"q101_in_$h"},
        {"type":"filters.range","limits":"order_key[0:4999]"},
        {"type":"writers.text","filename":"$csv"}]}""")
      graft.pipeline.PipelineBuilder.run(s, s"""{"pipeline":[
        {"type":"readers.text","filename":"$csv"}]}""")
        .select(col("order_key").cast("long").as("order_key"),
          col("x").cast("double").as("x"), col("y").cast("double").as("y"),
          col("value").cast("double").as("value"))
    }, Some(
      """SELECT event_id AS order_key,
          CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
          CAST((event_id * 104729) % 10000 AS DOUBLE) AS y, value
          FROM events WHERE event_id BETWEEN 0 AND 4999""")),
    Gate("q114_media_codecs", (s, d) => {
      // REAL pure-JVM codec round trip, end-to-end: ids -> encoded blobs
      // (PPM for even image ids, BMP for odd; WAV PCM16; GFV1 video of
      // PPM frames) -> decode-side sums. Every output number is computed
      // by PARSING the bytes (position-weighted wsum catches row-order /
      // padding / endianness defects; rsum is a resize + re-encode +
      // re-decode round trip; video sums its LAST frame so the demuxer
      // walks all prior frames). The oracle recomputes the same sums
      // from the payload arithmetic alone — a codec defect anywhere in
      // encode OR decode breaks the hash.
      val ids = t(s, d, "events")
        .select((col("event_id") % 701).as("n")).distinct()
        .withColumn("kind", when(col("n") % 3 === 0, "image")
          .when(col("n") % 3 === 1, "audio").otherwise("video"))
      val media = graft.media.Multimodal.synthRealMedia(s, ids)
      graft.media.Multimodal.decodeFeatures(media)
        .select("media_ref", "kind", "w", "h", "pcnt", "psum", "wsum", "rsum")
    }, Some(
      // recomputes the decode-side sums from the payload arithmetic alone:
      // pixel i of frame k = (n*7 + k*101 + i) mod 256; audio sample i =
      // (n*13 + i*17) mod 4096 - 2048; resize source index is the same
      // floor mapping resizeNearest uses (integer division)
      """WITH ids AS (SELECT DISTINCT event_id % 701 AS n FROM events),
         k AS (SELECT n,
             CASE n % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             16 + n % 17 AS w, 16 + (n // 8) % 13 AS h,
             2 + n % 4 AS nf, 256 + n % 200 AS ns
           FROM ids),
         img AS (SELECT n, COUNT(*) AS pcnt,
             SUM((n*7 + i) % 256) AS psum,
             SUM(i * ((n*7 + i) % 256)) AS wsum
           FROM k, range(0, 3000) t(i)
           WHERE kind = 'image' AND i < w*h*3 GROUP BY n),
         rs AS (SELECT n,
             SUM((n*7 + ((y*h//6)*w + (x*w//8))*3 + c) % 256) AS rsum
           FROM k, range(0, 6) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)
           WHERE kind = 'image' GROUP BY n),
         aud AS (SELECT n, COUNT(*) AS pcnt,
             SUM((n*13 + i*17) % 4096 - 2048) AS psum,
             SUM(i * ((n*13 + i*17) % 4096 - 2048)) AS wsum
           FROM k, range(0, 456) t(i)
           WHERE kind = 'audio' AND i < ns GROUP BY n),
         vid AS (SELECT n, COUNT(*) AS pcnt,
             SUM((n*7 + (nf-1)*101 + i) % 256) AS psum,
             SUM(i * ((n*7 + (nf-1)*101 + i) % 256)) AS wsum
           FROM k, range(0, 3000) t(i)
           WHERE kind = 'video' AND i < w*h*3 GROUP BY n)
         SELECT 'm/' || CAST(k.n AS VARCHAR) AS media_ref, k.kind,
           CAST(CASE WHEN k.kind = 'audio' THEN 0 ELSE k.w END AS INT) AS w,
           CAST(CASE WHEN k.kind = 'audio' THEN 0 ELSE k.h END AS INT) AS h,
           CAST(COALESCE(img.pcnt, aud.pcnt, vid.pcnt) AS BIGINT) AS pcnt,
           CAST(COALESCE(img.psum, aud.psum, vid.psum) AS BIGINT) AS psum,
           CAST(COALESCE(img.wsum, aud.wsum, vid.wsum) AS BIGINT) AS wsum,
           CAST(rs.rsum AS BIGINT) AS rsum
         FROM k LEFT JOIN img ON k.n = img.n LEFT JOIN rs ON k.n = rs.n
           LEFT JOIN aud ON k.n = aud.n LEFT JOIN vid ON k.n = vid.n""")),
    Gate("q115_glb_roundtrip", (s, d) => {
      // writers.gltf -> readers.gltf round trip, mirroring q84's PLY
      // gate: integral coords stay exact through the float32 position
      // block (< 2^24), and positions come back OFFSET-RELATIVE (the GLB
      // drops the absolute mesh minimum, as the reference writer does),
      // so the oracle subtracts the same per-axis minima. Read-back face
      // indices are the 0-based vertex ranks (k-1, k, k+1).
      val p = pts(s, d).filter(col("order_key").between(1, 1500))
        .select("order_key", "x", "y", "z")
      val faces = p.filter(col("order_key") % 3 === 1 &&
          col("order_key") <= 1498)
        .select(col("order_key").as("a"), (col("order_key") + 1).as("b"),
          (col("order_key") + 2).as("c"))
      val root = freshTmp("graft-glb", d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val f = s"$root/mesh.glb"
      graft.sources.MeshWriters.writeGlb(p, faces, f)
      val (v, fi) = graft.sources.GlbReader.read(s, f)
      val va = v.select(col("order_key").as("ia"),
        col("x").as("xa"), col("y").as("ya"))
      fi.join(va, fi("a") === va("ia"))
        .select(col("a").as("ia"), col("b").as("ib"), col("c").as("ic"),
          col("xa"), col("ya"))
    }, Some(
      // GLB positions are offset-relative (float32-exact for these
      // integral coords), indices are 0-based vertex ranks
      """WITH v AS (SELECT event_id,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y
          FROM events WHERE event_id BETWEEN 1 AND 1500),
         mm AS (SELECT MIN(x) AS mnx, MIN(y) AS mny FROM v)
         SELECT event_id - 1 AS ia, event_id AS ib, event_id + 1 AS ic,
           x - mnx AS xa, y - mny AS ya
         FROM v, mm WHERE event_id <= 1498 AND event_id % 3 = 1""")),
    Gate("q117_imageio_codecs", (s, d) => {
      // The JDK's own javax.imageio codecs (pure-JVM, no native libs)
      // through the same decode-side gate as q114: ids -> really-encoded
      // PNG / JPEG / TIFF / GIF blobs -> magic-byte dispatch ->
      // decoded sums. PNG and TIFF round-trip RGB losslessly, so their
      // psum/wsum/rsum are oracle-exact; JPEG (lossy DCT) and GIF
      // (palettized) keep dims + element count exact and NULL out the
      // value sums (their decode fidelity is bounded in MediaCodecsSpec
      // instead — an exact-hash oracle cannot admit codec-version-
      // dependent pixel values).
      val ids = t(s, d, "events")
        .select((col("event_id") % 311).as("n")).distinct()
        .withColumn("fmt", when(col("n") % 4 === 0, "png")
          .when(col("n") % 4 === 1, "jpg")
          .when(col("n") % 4 === 2, "tiff").otherwise("gif"))
      val media = graft.media.Multimodal.synthImageIOMedia(s, ids)
      val lossless = col("fmt").isin("png", "tiff")
      graft.media.Multimodal.decodeFeatures(media)
        .withColumn("fmt", element_at(split(col("media_ref"), "/"), 2))
        .select(col("media_ref"), col("fmt"), col("w"), col("h"), col("pcnt"),
          when(lossless, col("psum")).as("psum"),
          when(lossless, col("wsum")).as("wsum"),
          when(lossless, col("rsum")).as("rsum"))
    }, Some(
      // ImageIO tier: lossless members (png/tiff) recomputed exactly from
      // the payload arithmetic; lossy members (jpg/gif) keep dims + count
      // exact with NULL value sums (fidelity bounded in MediaCodecsSpec)
      """WITH ids AS (SELECT DISTINCT event_id % 311 AS n FROM events),
         k AS (SELECT n,
             CASE n % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
                        WHEN 2 THEN 'tiff' ELSE 'gif' END AS fmt,
             16 + n % 17 AS w, 16 + (n // 8) % 13 AS h
           FROM ids),
         img AS (SELECT k.n, COUNT(*) AS pcnt,
             SUM((k.n*7 + i) % 256) AS psum,
             SUM(i * ((k.n*7 + i) % 256)) AS wsum
           FROM k, range(0, 3000) t(i)
           WHERE i < w*h*3 GROUP BY k.n),
         rs AS (SELECT k.n,
             SUM((k.n*7 + ((y*h//6)*w + (x*w//8))*3 + c) % 256) AS rsum
           FROM k, range(0, 6) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)
           GROUP BY k.n)
         SELECT 'i/' || k.fmt || '/' || CAST(k.n AS VARCHAR) AS media_ref,
           k.fmt,
           CAST(k.w AS INT) AS w, CAST(k.h AS INT) AS h,
           CAST(img.pcnt AS BIGINT) AS pcnt,
           CAST(CASE WHEN k.fmt IN ('png','tiff') THEN img.psum END AS BIGINT) AS psum,
           CAST(CASE WHEN k.fmt IN ('png','tiff') THEN img.wsum END AS BIGINT) AS wsum,
           CAST(CASE WHEN k.fmt IN ('png','tiff') THEN rs.rsum END AS BIGINT) AS rsum
         FROM k JOIN img ON k.n = img.n JOIN rs ON k.n = rs.n""")),
    Gate("q118_v2_table", (s, d) => {
      // DataSource V2 read path: q103's snapshot semantics driven through
      // spark.read.format("graft") — time travel via the asof option,
      // bbox selection via ordinary Catalyst predicates that arrive
      // through SupportsPushDownFilters and prune DATA FILES from the
      // manifest footer stats (the require asserts files were actually
      // skipped; the filters are ALSO re-applied above the scan, so the
      // hash gate checks values, not just plumbing).
      val root = freshTmp("graft-v2-table", d)
      val p = pts(s, d).select("order_key", "x", "y")
      // four x-banded commits -> disjoint file stats -> provable pruning
      for (b <- 0 until 4)
        graft.sources.GraftTable.commit(
          p.filter(col("x") >= b * 2500.0 && col("x") < (b + 1) * 2500.0),
          root)
      val head = s.read.format("graft").load(root)
        .filter(col("x") >= 0 && col("x") <= 3000)
      val (read, total) = graft.sources.v2.GraftDataSource.pruneOf(head).head
      require(read < total,
        s"V2 manifest pruning expected: read $read of $total files")
      val past = s.read.format("graft").option("asof", 1).load(root)
        .filter(col("x") >= 0 && col("x") <= 3000)
      head.withColumn("snap", lit(2))
        .unionByName(past.withColumn("snap", lit(1)))
        .select("snap", "order_key", "x", "y")
    }, Some(
      // V2 read path: snap 1 = the asof-1 snapshot (first x band), snap 2 =
      // head under the pushed bbox; both recomputed from the coordinate
      // arithmetic
      """WITH p AS (SELECT event_id AS order_key,
            CAST((event_id * 7919) % 10000 AS DOUBLE) AS x,
            CAST((event_id * 104729) % 10000 AS DOUBLE) AS y FROM events)
          SELECT 1 AS snap, order_key, x, y FROM p WHERE x < 2500
          UNION ALL
          SELECT 2 AS snap, order_key, x, y FROM p
            WHERE x >= 0 AND x <= 3000""")),
    Gate("q116_stream_neardup", (s, d) => {
      // Streaming stateful MinHash-LSH (flatMapGroupsWithState band
      // buckets) through the gate, in the q45 deterministic regime:
      // planted exact duplicates have identical signatures, collide in
      // every band, and emit at jaccard_est = 1.0. Base docs and the
      // planted dups land in SEPARATE files processed one per microbatch
      // (maxFilesPerTrigger), so the emitted pairs cross the
      // microbatch/state boundary — a state-eviction or watermark defect
      // drops them. The streamed candidate set is then verified with
      // TRUE n-gram jaccard (the q45 shape), making the final set
      // exactly {identical-shingle-set pairs} — SQL-expressible. Event
      // times sit far above the initial epoch-0 watermark and the delay
      // horizon covers the whole regime, so nothing is late or evicted.
      val h = Integer.toHexString(d.hashCode)
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val withTs = (df: DataFrame) => df.withColumn("ts",
        col("doc_id") % 1000 + 1000L)
      val dir = freshTmp("graft-sdedup", d)
      withTs(docs).coalesce(1).write.mode("overwrite").parquet(dir)
      withTs(dups).coalesce(1).write.mode("append").parquet(dir)
      val stream = s.readStream.schema(withTs(docs).schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      // exactly-once pair emission: the second stateful stage (pair-keyed
      // dropDuplicatesWithinWatermark) absorbs the per-shared-bucket
      // at-least-once copies INSIDE the streaming query — the gate runs
      // with NO batch-side distinct, so a duplicate leaking through the
      // distinct stage duplicates oracle rows and breaks the hash
      val out = graft.streaming.StreamDedup.minhashPairsDistinct(s, stream,
        threshold = 1.0, numHashes = 64, bands = 8, maxBucket = 100000,
        delay = "2000 seconds")
      val qn = s"q116_sink_$h"
      s.catalog.dropTempView(qn)
      graft.streaming.StreamDedup.withUncheckedStatefulChain(s) {
        val q = out.writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      // verify candidates with exact set jaccard like the batch gate does
      val cand = s.table(qn).select("id_a", "id_b")
      val all = docs.unionByName(dups)
      graft.dedup.Dedup.ngramJaccard(all, cand, n = 3)
        .filter(col("jaccard") >= 1.0)
        .select("id_a", "id_b")
    }, Some(
      // identical-shingle-set pairs (the deterministic-regime emit set of
      // the streaming LSH after true-jaccard verification) — numeric-id
      // variant of the q45 oracle
      """WITH base AS (SELECT doc_id, text FROM documents),
          dups AS (SELECT doc_id + 10000000 AS doc_id, text
                   FROM documents WHERE doc_id % 50 = 0),
          allv AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
          w AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS wa FROM allv),
          sh AS (SELECT doc_id, list_sort(list_distinct(
            list_transform(generate_series(1, greatest(len(wa)-3,0)+1),
              i -> array_to_string(wa[i:least(i+2, len(wa))], ' ')))) AS key
            FROM w)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.key = b.key AND a.doc_id < b.doc_id"""))
  )
}
