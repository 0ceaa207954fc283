package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Docs
import graft.functions.F

/** Structured Streaming extension (beyond reference parity — PDAL has no
  * unbounded sources, SURVEY §1.4): a file-arrival doc stream tiled and
  * aggregated incrementally. The batch operators reuse directly because
  * tile assignment is a stateless codegen'd expression.
  */
object DocStream {

  /** File-arrival source over a directory of doc-table parquet drops. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Docs.schema).parquet(dir)

  /** Streaming tiler: stateless cell assignment (same Splitter expression
    * as batch — origin must be explicit in a stream, there is no "first
    * point"). */
  def tile(stream: DataFrame, length: Double, ox: Double, oy: Double): DataFrame =
    stream.withColumn("tile_id", F.cellId(col("x"), col("y"), ox, oy, length))

  /** Watermarked per-tile windowed density: event time derives from
    * gps_time (seconds since epoch base). */
  def tileDensity(stream: DataFrame, length: Double, ox: Double, oy: Double,
      window: String = "10 minutes", watermark: String = "30 minutes"): DataFrame =
    tile(stream, length, ox, oy)
      .withColumn("ts", timestamp_seconds(col("gps_time")))
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("tile_id"))
      .agg(count(lit(1)).as("n"), avg("z").as("mean_z"))

  /** Stream-stream AS-OF join of a doc-span stream against a media
    * stream on media_ref: each doc matches the LATEST media event whose
    * event time <= the doc's time; docs arriving before their media are
    * buffered in state and emitted when a matching media event lands
    * (the flatMapGroupsWithState custom-state path — Spark's built-in
    * stream-stream joins are equality+interval, not as-of).
    *
    * Per-key state is BOUNDED two ways:
    * - hard caps: the latest `maxMediaHistory` media versions and
    *   `maxPending` buffered docs per media_ref (oldest evicted first);
    * - the WATERMARK (`watermarkDelay` behind max event time) drives
    *   eviction via EventTimeTimeout: a pending doc older than the
    *   watermark can never match a late media event (that event would
    *   itself be behind the watermark), so it is resolved — emitted
    *   left-outer with null media columns — and dropped; media versions
    *   older than the watermark collapse to the single newest one (the
    *   only version any future doc can match); keys with nothing left
    *   are removed entirely. Idle keys get the same flush through the
    *   timeout callback, so pending-doc state tracks the active window;
    *   the irreducible long-term state is ONE media version per live
    *   media_ref (an as-of join must hold the latest version for
    *   future docs), after which the key stops re-arming timeouts.
    *
    * @param docEvents  streaming (media_ref, ts, doc_id)
    * @param mediaEvents streaming (media_ref, ts, meta)
    * @return appended (doc_id, media_ref, doc_ts, media_ts, meta);
    *         media_ts/meta are null for watermark-expired unmatched docs
    */
  def asOfJoinMedia(spark: SparkSession, docEvents: DataFrame,
      mediaEvents: DataFrame, maxMediaHistory: Int = 16,
      maxPending: Int = 10000, watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val tagged = docEvents.select(col("media_ref"), lit("doc").as("side"),
        col("ts").cast("long"), col("doc_id").cast("long"),
        lit(null).cast("string").as("meta"))
      .unionByName(mediaEvents.select(col("media_ref"), lit("media").as("side"),
        col("ts").cast("long"), lit(-1L).as("doc_id"), col("meta")))
      .withColumn("ets", timestamp_seconds(col("ts")))
      .withWatermark("ets", watermarkDelay)
    tagged.as[(String, String, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (ref: String, it: Iterator[(String, String, Long, Long, String, java.sql.Timestamp)],
         state: GroupState[(List[(Long, String)], List[(Long, Long)])]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmSec = wmMs / 1000
          var (mediaL, pend) = state.getOption.getOrElse(
            (List.empty[(Long, String)], List.empty[(Long, Long)]))
          if (!state.hasTimedOut) {
            val rows = it.toList
            // media kept sorted by ts desc: head match is the latest <= t
            mediaL = (mediaL ++ rows.filter(_._2 == "media").map(r => (r._3, r._5)))
              .sortBy(-_._1).take(maxMediaHistory)
            pend = pend ++ rows.filter(_._2 == "doc").map(r => (r._3, r._4))
          }
          // resolve: matched now, or expired by the watermark (no earlier
          // media can arrive any more -> final, emit left-outer)
          val (resolved, still) = pend.partition { case (ts, _) =>
            mediaL.exists(_._1 <= ts) || ts < wmSec }
          // media older than the watermark: only the newest can ever be
          // the as-of match for a future (>= watermark) doc
          val (older, recent) = mediaL.partition(_._1 < wmSec)
          val prunedMedia = recent ++ older.take(1)
          val keep = still.sortBy(-_._1).take(maxPending)
          if (keep.isEmpty && prunedMedia.isEmpty) state.remove()
          else {
            state.update((prunedMedia, keep))
            // flush/cleanup callback once the watermark moves past here —
            // but only while there is something left to flush or prune;
            // a fully-settled key (one media version, no pending) stops
            // re-arming and wakes again only on a real event
            if (keep.nonEmpty || prunedMedia.length > 1)
              state.setTimeoutTimestamp(wmMs + 1000)
          }
          resolved.iterator.map { case (ts, id) =>
            mediaL.find(_._1 <= ts) match {
              case Some(m) => (id, ref, ts, Option(m._1), Option(m._2))
              case None => (id, ref, ts, Option.empty[Long], Option.empty[String])
            }
          }
      }.toDF("doc_id", "media_ref", "doc_ts", "media_ts", "meta")
  }
}
