package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.text.TextAnalysis

/** Streaming deduplication for training-data ingest: the batch Dedup
  * semantics (graft.dedup.Dedup) on unbounded input with explicitly
  * bounded state. Both paths reuse the batch fingerprint/signature
  * expressions, so batch and stream agree on what "duplicate" means.
  */
object StreamDedup {

  /** Streaming exact dedup: keep the FIRST document per normalized-text
    * fingerprint (the same codegen'd xxhash fingerprint as batch
    * Dedup.exact). State is one entry per distinct fingerprint within the
    * watermark horizon — Spark's `dropDuplicatesWithinWatermark` is the
    * built-in operator for exactly this shape and TTLs each entry once
    * the watermark passes it, so state tracks the active window, not
    * stream lifetime. */
  def exactWithinWatermark(stream: DataFrame, tsCol: String, delay: String,
      textCol: String = "text"): DataFrame =
    stream.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Unbounded-horizon variant for finite backfills: state grows with the
    * distinct-fingerprint count (8-byte keys — fine for bounded replays,
    * not for an infinite stream; use exactWithinWatermark there). */
  def exact(stream: DataFrame, textCol: String = "text"): DataFrame =
    stream.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .dropDuplicates("__fp")
      .drop("__fp")

  /** Streaming MinHash-LSH near-dup pairs: the batch signature/band
    * machinery (codegen'd minhash_sig, identical banding arithmetic to
    * Dedup.minhashLsh) with band buckets as flatMapGroupsWithState keys.
    * Each arriving doc is compared against the bucket's retained
    * signatures; pairs with estimated jaccard >= threshold emit
    * immediately — cross-microbatch pairs are the point, the bucket
    * state carries earlier docs.
    *
    * State is bounded two ways (mirroring the batch mega-bucket cap):
    * - members older than the watermark are dropped — a near-dup is
    *   only detected within the `delay` horizon (the streaming analog of
    *   dropDuplicatesWithinWatermark semantics) — and a bucket whose
    *   newest member falls behind the watermark removes its state
    *   entirely via EventTimeTimeout;
    * - per-bucket membership is capped at `maxBucket` signatures
    *   (earliest-kept, like the batch path keeps boilerplate buckets
    *   out of candidate generation — a documented recall cap).
    *
    * A pair sharing several band buckets emits once per shared bucket
    * (at-least-once pair semantics — buckets are independent state
    * partitions); `minhashPairsDistinct` is the exactly-once composition
    * with the second stateful stage keyed by the pair itself.
    *
    * @param stream (idCol: long-castable, textCol, tsCol: epoch seconds)
    * @return append stream (id_a, id_b, jaccard_est), id_a < id_b
    */
  def minhashPairs(spark: SparkSession, stream: DataFrame,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 8,
      maxBucket: Int = 1000, delay: String = "30 minutes",
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: String = "ts"): DataFrame =
    minhashPairsWithTs(spark, stream, threshold, numHashes, bands,
      maxBucket, delay, idCol, textCol, tsCol).drop("ts")

  /** Exactly-once pair emission: minhashPairs' per-shared-bucket
    * at-least-once output routed through a SECOND stateful stage keyed by
    * the pair itself — `dropDuplicatesWithinWatermark(id_a, id_b)` over
    * the pair's own event time (the arrival time of the LATER member,
    * which is exactly the microbatch where every copy of the pair
    * emits). Pair state TTLs with the same watermark horizon as the
    * bucket state, so the end-to-end query holds two bounded stores:
    * bucket membership and the active pair window. Downstream consumers
    * get each pair once — no batch-side distinct needed.
    *
    * Spark's static global-watermark check rejects ANY stateful stage
    * downstream of flatMapGroupsWithState, because fMGWS in general may
    * emit rows older than the watermark (late to the next stage). This
    * topology cannot: a pair only emits when its LATER member arrives,
    * that member passed the `ts >= watermark` gate in the bucket stage,
    * and the pair's event time IS that member's ts — so every emitted
    * row sits at or above the global watermark by construction. The
    * check is a heuristic with exactly this escape hatch (Spark's
    * documented `statefulOperator.checkCorrectness` setting for
    * proven-safe chains): start the query inside
    * [[withUncheckedStatefulChain]], which turns the check off only
    * while its body runs. The exactly-once behavior is regression-tested
    * across microbatch boundaries in StreamingSpec. */
  def minhashPairsDistinct(spark: SparkSession, stream: DataFrame,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 8,
      maxBucket: Int = 1000, delay: String = "30 minutes",
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: String = "ts"): DataFrame =
    minhashPairsWithTs(spark, stream, threshold, numHashes, bands,
      maxBucket, delay, idCol, textCol, tsCol)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
      .drop("ts")

  /** Runs `body` with `statefulOperator.checkCorrectness` off on the
    * session and restores the prior setting afterwards (unsets the key if
    * it had none), so only the proven-safe chain that `body` starts,
    * drives and stops skips the check; every other query on the session
    * keeps it. */
  def withUncheckedStatefulChain[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** minhashPairs with the pair's event time attached: ts = the later
    * member's arrival time, i.e. the event time of the microbatch that
    * emitted every copy of the pair (the distinct stage keys on it). */
  def minhashPairsWithTs(spark: SparkSession, stream: DataFrame,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 8,
      maxBucket: Int = 1000, delay: String = "30 minutes",
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: String = "ts"): DataFrame = {
    import spark.implicits._
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): a remainder " +
        "would silently drop tail hashes from banding while jaccard_est " +
        "still divides by the full count")
    val rows = numHashes / bands
    val banded = stream
      .withColumn("__ets", timestamp_seconds(col(tsCol).cast("long")))
      .withWatermark("__ets", delay)
      .withColumn("__sig", graft.functions.F.minhashSig(col(textCol), numHashes, 3))
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bucket", xxhash64(col("__band"),
        slice(col("__sig"), col("__band") * rows + 1, lit(rows))))
      .select(col("__bucket"), col(idCol).cast("long").as("__id"),
        col("__sig"), col("__ets"))
    banded.as[(Long, Long, Array[Long], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[(Long, Long, Array[Long], java.sql.Timestamp)],
         state: GroupState[List[(Long, Array[Long], Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wmSec = state.getCurrentWatermarkMs() / 1000
            var members = state.getOption.getOrElse(Nil).filter(_._3 >= wmSec)
            // microbatch iterator order is not deterministic — process in
            // (event time, id) order so emission is reproducible
            val arrivals = it.toList.sortBy(r => (r._4.getTime, r._2))
            val out =
              List.newBuilder[(Long, Long, Double, java.sql.Timestamp)]
            arrivals.foreach { case (_, id, sig, ets) =>
              val ts = ets.getTime / 1000
              // an id already in state is an at-least-once redelivery:
              // its pairs were emitted on first arrival — re-processing
              // would emit duplicates AND burn extra maxBucket slots
              if (ts >= wmSec && !members.exists(_._1 == id)) {
                members.foreach { case (mid, msig, mts) =>
                  if (mid != id) {
                    var m = 0; var i = 0
                    val n = math.min(sig.length, msig.length)
                    while (i < n) { if (sig(i) == msig(i)) m += 1; i += 1 }
                    val est = m.toDouble / numHashes
                    if (est >= threshold)
                      // pair event time = the LATER member's arrival (>=
                      // the watermark by the gate above, so the distinct
                      // stage never sees it as late)
                      out += ((math.min(id, mid), math.max(id, mid), est,
                        new java.sql.Timestamp(math.max(ts, mts) * 1000)))
                  }
                }
                if (members.length < maxBucket) members ::= ((id, sig, ts))
              }
            }
            if (members.isEmpty) state.remove()
            else {
              state.update(members)
              // state dies once the watermark passes the newest member
              // (every retained signature is expired by then)
              state.setTimeoutTimestamp(members.map(_._3).max * 1000 + 1000)
            }
            out.result().iterator
          }
      }.toDF("id_a", "id_b", "jaccard_est", "ts")
  }
}
