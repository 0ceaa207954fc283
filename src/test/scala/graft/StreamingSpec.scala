package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Synth
import graft.streaming.{DocStream, ExactlyOnceSink}

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("file-arrival doc stream: tiling + windowed density with watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    Synth.docs(spark, 2000, seed = 21).write.mode("overwrite").parquet(dir)
    val stream = DocStream.read(spark, dir)
    assert(stream.isStreaming)
    val agg = DocStream.tileDensity(stream, length = 1000.0, ox = 635000, oy = 848000)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tile_density")
      .start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; the unclosed tail
      // is retained as state — correctness check is on the update-mode run
    } finally q.stop()

    val q2 = DocStream.tile(stream, 1000.0, 635000, 848000)
      .groupBy("tile_id").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("tile_counts").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("tile_counts")
      val batch = Synth.docs(spark, 2000, seed = 21)
      val exp = batch.withColumn("tile_id",
          graft.functions.F.cellId(col("x"), col("y"), 635000, 848000, 1000.0))
        .groupBy("tile_id").agg(count(lit(1)).as("n"))
      // streaming incremental result == batch result, tile for tile
      val g = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val e = exp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(g == e)
    } finally q2.stop()
  }

  test("stream-stream AS-OF join: docs match latest media at-or-before " +
      "their time; early docs buffer until media arrives") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val docsIn = MemoryStream[(String, Long, Long)]
    val mediaIn = MemoryStream[(String, Long, String)]
    val joined = DocStream.asOfJoinMedia(spark,
      docsIn.toDF().toDF("media_ref", "ts", "doc_id"),
      mediaIn.toDF().toDF("media_ref", "ts", "meta"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("asof").start()
    try {
      // batch 1: media m1@10, m1@20; doc d1@15 -> matches media@10
      mediaIn.addData(("m1", 10L, "v1"), ("m1", 20L, "v2"))
      docsIn.addData(("m1", 15L, 1L))
      q.processAllAvailable()
      // batch 2: doc d2@25 -> media@20; doc d3@5 on m2 buffers (no media)
      docsIn.addData(("m1", 25L, 2L), ("m2", 5L, 3L))
      q.processAllAvailable()
      // batch 3: media m2@3 arrives late -> buffered d3 emits
      mediaIn.addData(("m2", 3L, "w1"))
      q.processAllAvailable()
      val got = spark.table("asof").collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
      assert(got(1L) == (10L, "v1"))
      assert(got(2L) == (20L, "v2"))
      assert(got(3L) == (3L, "w1"))
      assert(got.size == 3)
    } finally q.stop()
  }

  test("AS-OF join watermark eviction: unmatched docs past the watermark " +
      "emit left-outer with null media and state is dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val docsIn = MemoryStream[(String, Long, Long)]
    val mediaIn = MemoryStream[(String, Long, String)]
    val joined = DocStream.asOfJoinMedia(spark,
      docsIn.toDF().toDF("media_ref", "ts", "doc_id"),
      mediaIn.toDF().toDF("media_ref", "ts", "meta"),
      watermarkDelay = "1 minute")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("asof_evict").start()
    try {
      // doc on m9 at t=1000 with no media ever; media anchor advances time
      docsIn.addData(("m9", 1000L, 7L))
      mediaIn.addData(("m1", 1000L, "v0"))
      q.processAllAvailable()
      assert(spark.table("asof_evict").count() == 0) // buffered, wm ~ 940
      // event time jumps: watermark = 2_000_000 - 60 >> 1000 -> doc 7
      // is unreachable by any non-late media event => resolve left-outer
      mediaIn.addData(("m1", 2000000L, "v1"))
      q.processAllAvailable()
      q.processAllAvailable() // no-data batch fires the timeout flush
      val rows = spark.table("asof_evict").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)),
          Option(r.getString(4)))).toList
      assert(rows.contains((7L, None, None)), s"expected expired doc 7, got $rows")
      // a doc arriving after the jump still matches the surviving media
      docsIn.addData(("m1", 2000100L, 8L))
      q.processAllAvailable()
      val got8 = spark.table("asof_evict").collect()
        .find(_.getLong(0) == 8L).get
      assert(got8.getLong(3) == 2000000L && got8.getString(4) == "v1")
    } finally q.stop()
  }

  test("exactly-once sink: batch replays with the same id are skipped, " +
      "mid-write crashes rewrite cleanly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-eos").toString
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    // idempotency core: same batchId twice -> second write is a no-op
    val b = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(ExactlyOnceSink.writeBatch(b, out, 0L))
    assert(!ExactlyOnceSink.writeBatch(b.union(b), out, 0L)) // replay skipped
    assert(spark.read.parquet(s"$out/batch=0").count() == 2)
    // crash-consistency: data written but marker missing -> replay rewrites
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_commits", "0"))
    assert(ExactlyOnceSink.writeBatch(b.limit(1), out, 0L))
    assert(spark.read.parquet(s"$out/batch=0").count() == 1)
    // end-to-end through a real stream (fresh dir: stream batch ids
    // also start at 0 and would — correctly — be skipped above)
    val out2 = s"$dir/out2"
    val in = MemoryStream[(Long, String)]
    val q = ExactlyOnceSink.parquet(in.toDF().toDF("k", "v"), out2, ckpt)
    try {
      in.addData((10L, "x"), (11L, "y"))
      q.processAllAvailable()
      in.addData((12L, "z"))
      q.processAllAvailable()
      val all = spark.read.parquet(s"$out2/batch=*")
      assert(all.count() == 3)
    } finally q.stop()
  }

  test("streaming GraftTable sink: one snapshot per microbatch, restart " +
      "from checkpoint replays without duplicate appends") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-tsink").toString
    val root = s"$dir/table"; val ckpt = s"$dir/ckpt"
    val in = MemoryStream[(Long, Double, Double)]
    val q1 = graft.streaming.ExactlyOnceSink.graftTable(
      in.toDF().toDF("order_key", "x", "y"), root, ckpt)
    try {
      in.addData((1L, 1.0, 2.0), (2L, 3.0, 4.0))
      q1.processAllAvailable()
      in.addData((3L, 5.0, 6.0))
      q1.processAllAvailable()
    } finally q1.stop()
    import graft.sources.GraftTable
    assert(GraftTable.currentVersion(root) == 2) // one snapshot per batch
    assert(GraftTable.read(spark, root).count() == 3)
    // time travel to the first microbatch
    assert(GraftTable.read(spark, root, asOf = Some(1)).count() == 2)
    // a replay of an already-committed batch is a no-op (checkpoint
    // restart path): same tag -> same version, rows not doubled
    assert(GraftTable.commitIfAbsent(
      Seq((9L, 9.0, 9.0)).toDF("order_key", "x", "y"), root, "batch-1") == 2)
    assert(GraftTable.read(spark, root).count() == 3)
  }

  test("streaming exact dedup within watermark: first doc per normalized " +
      "fingerprint kept, later duplicates dropped across microbatches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
      .withColumn("ets", timestamp_seconds(col("ts")))
    val deduped = graft.streaming.StreamDedup
      .exactWithinWatermark(docs, "ets", "10 seconds")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      in.addData((1L, 100L, "alpha beta gamma"), (2L, 101L, "delta eps zeta"))
      q.processAllAvailable()
      // cross-microbatch duplicate (whitespace-normalized equal to doc 1)
      in.addData((3L, 102L, "  alpha  beta   gamma "), (4L, 103L, "fresh content here"))
      q.processAllAvailable()
      val ids = spark.table("sdedup").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming minhash-LSH near-dup pairs: cross-microbatch pair emits; " +
      "watermark expires old bucket members") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    val tB = "completely different content with other words entirely unrelated text"
    val in = MemoryStream[(Long, Long, String)]
    val pairs = graft.streaming.StreamDedup.minhashPairs(spark,
      in.toDF().toDF("doc_id", "ts", "text"),
      threshold = 0.9, delay = "5 seconds")
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("spairs").start()
    try {
      in.addData((1L, 10L, tA), (2L, 11L, tB))
      q.processAllAvailable()
      in.addData((3L, 12L, tA)) // exact text of doc 1, next microbatch
      q.processAllAvailable()
      val got1 = spark.table("spairs").select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got1 == Set((1L, 3L))) // found via state; (1,2) correctly absent
      // advance the watermark far past docs 1-3 (wm = 100 - 5 = 95); a
      // fresh text — doc 2 is NOT yet expired at processing time (the
      // watermark lags one microbatch), so reusing tB would pair here
      in.addData((4L, 100L, "yet another brand new unique document body"))
      q.processAllAvailable()
      // doc 5 repeats tA but every earlier tA member is watermark-expired
      in.addData((5L, 101L, tA))
      q.processAllAvailable()
      in.addData((6L, 102L, tA)) // inside the horizon -> pairs with 5 only
      q.processAllAvailable()
      val got2 = spark.table("spairs").select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == Set((1L, 3L), (5L, 6L)))
      // est for identical texts is exactly 1.0
      val est = spark.table("spairs").select("jaccard_est").collect()
        .map(_.getDouble(0)).toSet
      assert(est == Set(1.0))
    } finally q.stop()
  }

  test("minhashPairsDistinct emits each pair exactly once across " +
      "microbatches (second stateful stage, no batch-side distinct)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    // RAW path first: identical signatures collide in EVERY band, so the
    // per-bucket stage emits the same pair once per shared bucket — the
    // at-least-once behavior the distinct stage exists to absorb
    val inRaw = MemoryStream[(Long, Long, String)]
    val raw = graft.streaming.StreamDedup.minhashPairs(spark,
      inRaw.toDF().toDF("doc_id", "ts", "text"),
      threshold = 0.9, bands = 8, delay = "5 seconds")
    val qr = raw.writeStream.outputMode("append")
      .format("memory").queryName("rawpairs").start()
    try {
      inRaw.addData((1L, 10L, tA))
      qr.processAllAvailable()
      inRaw.addData((2L, 11L, tA))
      qr.processAllAvailable()
      val rawRows = spark.table("rawpairs").select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rawRows.length == 8 && rawRows.toSet == Set((1L, 2L)),
        s"expected 8 per-bucket copies of (1,2), got ${rawRows.length}")
    } finally qr.stop()
    // DISTINCT path: same regime, exactly one row per pair — including
    // pairs whose copies all land in one microbatch AND pairs that cross
    // the state boundary
    val in = MemoryStream[(Long, Long, String)]
    val pairs = graft.streaming.StreamDedup.minhashPairsDistinct(spark,
      in.toDF().toDF("doc_id", "ts", "text"),
      threshold = 0.9, bands = 8, delay = "5 seconds")
    graft.streaming.StreamDedup.withUncheckedStatefulChain(spark) {
      val q = pairs.writeStream.outputMode("append")
        .format("memory").queryName("dpairs").start()
      try {
        in.addData((1L, 10L, tA))
        q.processAllAvailable()
        in.addData((2L, 11L, tA)) // cross-microbatch pair (1,2)
        q.processAllAvailable()
        in.addData((3L, 12L, tA)) // pairs with BOTH 1 and 2 in one batch
        q.processAllAvailable()
      } finally q.stop()
    }
    val rows = spark.table("dpairs").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 3,
      s"expected exactly-once rows (1,2),(1,3),(2,3); got ${rows.toSeq}")
    assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhashPairsDistinct leaves checkCorrectness as it found it: an " +
      "unsafe stateful chain started afterwards still fails analysis") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    val in = MemoryStream[(Long, Long, String)]
    def pairs(name: String) = StreamDedup.minhashPairsDistinct(spark,
        in.toDF().toDF("doc_id", "ts", "text"), threshold = 0.9,
        delay = "5 seconds")
      .writeStream.outputMode("append").format("memory").queryName(name)
    StreamDedup.withUncheckedStatefulChain(spark) {
      val q = pairs("scoped_pairs").start()
      try {
        in.addData((1L, 10L, "a b c d e f g h i j"), (2L, 11L, "a b c d e f g h i j"))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(spark.table("scoped_pairs").count() == 1)
    assert(spark.conf.getOption(key) == prior)
    // fMGWS followed by a second stateful stage, started outside the
    // helper: Spark's global-watermark guard rejects it
    val e = intercept[org.apache.spark.sql.AnalysisException](
      pairs("unscoped_pairs").start().stop())
    assert(e.getMessage.contains("correctness"), e.getMessage)
  }
}
