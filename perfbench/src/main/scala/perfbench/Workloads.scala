package perfbench

import graft.dedup.Dedup
import graft.operators.{Chipper, Crop, NeighborClassifier, Splitter, Voxel}
import graft.pipeline.CheckpointRunner
import graft.sources.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** State shared by a run: the session, the tracer, the operation ledger
  * and the timer of the current iteration. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
    val seed: Long, val perturb: Boolean) {
  /** Traced iterations nest a span around each engine call and
    * materialize each layer's output at the span boundary. */
  var traced = false
  var tracedIters = 0
  var attempted = 0L
  var failed = 0L
  /** Seconds and root spans of the timed sections of the current iteration. */
  var timedSecs = 0.0
  val roots = mutable.ArrayBuffer.empty[Span]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  /** Times `body` as part of the iteration, under a root span that
    * collects its Spark task metrics in both modes. */
  def timed[T](name: String)(body: => T): T = {
    val id = tracer.nextId
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally {
      timedSecs += (System.nanoTime() - t0) / 1e9
      roots += tracer.all(id)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (traced) tracer.span(name)(body) else body

  /** In the traced run, caches and counts `df` so the span around the
    * call that built it owns its execution. */
  def mat(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      cached += p
      p
    }

  def release(): Unit = { cached.foreach(_.unpersist(true)); cached.clear() }

  /** Records one checked operation; a throw counts as a failure. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => println(s"[check] $what threw: $e"); false
    }
    if (!pass) { failed += 1; println(s"[check] FAILED: $what") }
    pass
  }
}

/** One benchmark workload: a fixture built from the seed, an oracle
  * computed from the fixture, and a checked iteration. */
trait Workload {
  /** Input docs one iteration processes. */
  def docs: Long
  /** Untimed iterations set-up runs first. */
  def warmups: Int = 2
  /** Seconds one warm iteration takes on the reference host (4 vCPUs);
    * sets how many iterations fill a run's measuring time. */
  def iterationS: Double
  /** Generates the fixture and writes it; repeated during set-up. */
  def writeFixture(ctx: Ctx): Unit
  /** Computes the expected outputs; not timed. */
  def prepare(ctx: Ctx): Unit
  /** One iteration: engine calls inside `ctx.timed`, checks outside. */
  def iterate(ctx: Ctx, i: Int): Unit
  /** Per-layer metrics from the traced iterations' spans. */
  def layers(ctx: Ctx): Seq[(String, Double)]
  /** Drops per-operation samples the warm-up recorded. */
  def clearSamples(): Unit = ()
}

object Workloads {
  val origin = (635000.0, 848000.0)
  val extent = (635000.0, 848000.0, 639000.0, 854000.0)

  /** `scale` multiplies the workload's input size. */
  def apply(name: String, seed: Long, scale: Double = 1.0): Workload = {
    def n(docs: Long) = (docs * scale).toLong
    name match {
      case "flagship" => new Flagship(seed, n(60000L))
      case "tiles_table_dedup" => new TilesToTable(seed, n(40000L), new DedupLsh(seed, n(10000L)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantileOf(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secs(spans: Seq[Span]): Double = spans.map(_.secs).sum

  def sums(ctx: Ctx, spans: Seq[Span]): Sums = {
    val out = new Sums
    spans.foreach(s => out.add(ctx.tracer.total(s)))
    out
  }

  def writeDocs(spark: SparkSession, n: Long, seed: Long, path: String): Unit =
    graft.core.Synth.docs(spark, n, seed, numPartitions = 8)
      .write.mode("overwrite").parquet(path)

  def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.exists) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L
  }
}

import Workloads._

/** Crop.box2d -> Splitter(500) -> NeighborClassifier(k=5) -> per-tile
  * aggregate over a parquet doc table with its span payload. The crop
  * keeps more candidates than the kNN broadcast limit the run sets, so the
  * supercell cogroup does the work. */
final class Flagship(seed: Long, n: Long) extends Workload {
  val docs: Long = n
  val iterationS = 2.0
  private val box = (635400.0, 848400.0, 638800.0, 853800.0)
  private var path = ""
  private var expect = (0L, 0L, 0L, 0L) // rows, class sum, tiles, span xor
  private var victim = 0L
  private var candidates = 0L

  def writeFixture(ctx: Ctx): Unit = {
    path = s"${ctx.work}/flagship-docs"
    writeDocs(ctx.spark, n, seed, path)
  }

  def prepare(ctx: Ctx): Unit = {
    val p = Oracle.collect(ctx.spark.read.parquet(path))
    val idx = (0 until p.n).filter(i => Oracle.inBox(p, i, box._1, box._2, box._3, box._4)).toArray
    expect = (idx.length.toLong, Oracle.knnVoteSum(p, idx, 5),
      Oracle.tiles(p, idx, origin._1, origin._2, 500.0).toLong, Oracle.xorHash(p, idx))
    victim = p.key(idx.head)
    candidates = idx.length
    println(s"[flagship] expect rows/class/tiles/xor = $expect")
  }

  def iterate(ctx: Ctx, i: Int): Unit = {
    val out = ctx.timed("flagship") {
      val docs = ctx.spark.read.parquet(path)
      val cropped = ctx.span("tiling.crop")(ctx.mat(Crop.box2d(docs, box._1, box._2, box._3, box._4)))
      val tiled = ctx.span("tiling.splitter")(ctx.mat(
        Splitter(cropped, length = 500.0, origin = Some(origin))))
      val classified = ctx.span("neighbor_classifier") {
        ctx.mat(ctx.span("knn")(NeighborClassifier(tiled, k = 5)))
      }
      val result = if (ctx.perturb) classified.filter(col("order_key") =!= victim) else classified
      ctx.span("aggregate")(result.groupBy("tile_id").agg(count(lit(1)),
        sum("classification"), bit_xor(xxhash64(col("doc_id"), col("spans")))).collect())
    }
    ctx.release()
    val got = (out.map(_.getLong(1)).sum, out.map(_.getLong(2)).sum, out.length.toLong,
      out.map(_.getLong(3)).foldLeft(0L)(_ ^ _))
    ctx.check(s"flagship rows/class/tiles/xor $got == $expect")(got == expect)
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val t = ctx.tracer
    val iters = ctx.tracedIters.toDouble
    val knn = t.named("knn")
    val k = sums(ctx, knn)
    val knnS = secs(knn) / iters
    // the supercell stage is the one writing the most shuffle records:
    // every candidate once per supercell its halo touches
    val fanout = knn.map(s => t.total(s).maxStageShuffleRecords).sum.toDouble /
      (candidates * knn.size)
    Seq(
      "knn.knn_s" -> knnS,
      "knn.jobs" -> k.jobs / iters,
      "knn.shuffle_bytes" -> k.shuffleWriteBytes / iters,
      "knn.shuffle_records" -> k.shuffleWriteRecords / iters,
      "knn.halo_fanout" -> fanout,
      "knn.shuffle_bytes_per_cand" -> k.shuffleWriteBytes / iters / candidates,
      "knn.task_skew" -> medianOf(knn.map(s => t.total(s).taskSkew)),
      "knn.spill_bytes" -> k.spillBytes / iters,
      "knn.vote_join_s" -> (secs(t.named("neighbor_classifier")) / iters - knnS),
      "tiling.crop_split_s" -> (secs(t.named("tiling.crop")) + secs(t.named("tiling.splitter"))) / iters,
      "tiling.splitter_s" -> secs(t.named("tiling.splitter")) / iters)
  }
}

/** Crop.polygon -> Voxel.downsize -> Splitter -> Chipper(5000), each stage
  * checkpointed by CheckpointRunner (parquet plus a lineage sidecar). The
  * chipped docs are then appended to a fresh GraftTable in two clustered
  * commits, read back with seeded box reads of mixed sizes and countBox
  * calls, and updated by one scattered copy-on-write upsert. Each
  * iteration ends with the `text` workload's dedup calls on its own corpus,
  * so one workload runs every layer but kNN. */
final class TilesToTable(seed: Long, n: Long, text: DedupLsh) extends Workload {
  val docs: Long = n + text.docs
  val iterationS = 10.0
  override val warmups = 1
  private val filesPerCommit = 4
  private val reads = 3
  private var path = ""
  // ~0.6 points per voxel on average, so thinning removes a real share
  private val cell = math.cbrt(0.6 * 4000.0 * 6000.0 * 400.0 / n)
  // the query polygon is fixed (the docs vary with the seed), so every seed
  // crops about the same share
  private val (polyX, polyY) = {
    val r = new scala.util.Random(7)
    val m = 96
    val pts = (0 until m).map { j =>
      val a = 2 * math.Pi * j / m
      val rad = 1300.0 + r.nextDouble() * 1200.0
      (637000.0 + rad * math.cos(a), 851000.0 + rad * math.sin(a))
    }
    (pts.map(_._1).toArray, pts.map(_._2).toArray)
  }
  private val wkt = (polyX.zip(polyY) :+ (polyX(0) -> polyY(0)))
    .map { case (x, y) => s"$x $y" }.mkString("POLYGON((", ", ", "))")
  private var p: Points = _
  private var kept = Array.empty[Int]
  private var expect = (0L, 0L, 0L, 0L) // rows, chips, tiles, span xor
  private var upserted = 0L
  val readMs = mutable.ArrayBuffer.empty[Double]
  val planMs = mutable.ArrayBuffer.empty[Double]
  val scanMs = mutable.ArrayBuffer.empty[Double]
  val commitS = mutable.ArrayBuffer.empty[Double]
  val upsertS = mutable.ArrayBuffer.empty[Double]
  private val readFrac = mutable.ArrayBuffer.empty[Double]
  private val countFrac = mutable.ArrayBuffer.empty[Double]
  private val upsertFrac = mutable.ArrayBuffer.empty[Double]
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]
  private val upsertAmp = mutable.ArrayBuffer.empty[Double]
  private val writeAmp = mutable.ArrayBuffer.empty[Double]

  def writeFixture(ctx: Ctx): Unit = {
    path = s"${ctx.work}/tiles-docs"
    writeDocs(ctx.spark, n, seed, path)
    text.writeFixture(ctx)
  }

  /** The scattered upsert's keys: about one in 97, spread over the key range. */
  private def updated(key: Long): Boolean = (key + seed) % 97 == 0

  def prepare(ctx: Ctx): Unit = {
    p = Oracle.collect(ctx.spark.read.parquet(path))
    val inside = (0 until p.n).filter(i => Oracle.inPolygon(polyX, polyY, p.x(i), p.y(i))).toArray
    kept = Oracle.voxelFirst(p, inside, cell)
    expect = (kept.length.toLong, (kept.length + 4999L) / 5000L,
      Oracle.tiles(p, kept, origin._1, origin._2, 500.0).toLong, Oracle.xorHash(p, kept))
    upserted = kept.count(i => updated(p.key(i))).toLong
    println(s"[tiles_to_table] cell=$cell cropped=${inside.length} upsert rows=$upserted " +
      s"expect rows/chips/tiles/xor = $expect")
    text.prepare(ctx)
  }

  private def boxes(i: Int): Seq[(Double, Double, Double, Double)] = {
    val r = new scala.util.Random(seed * 7919 + i)
    val sides = Array(60.0, 250.0, 1000.0, 2500.0)
    (0 until reads).map { j =>
      val s = sides((i + j) % sides.length)
      val cx = extent._1 + r.nextDouble() * (extent._3 - extent._1)
      val cy = extent._2 + r.nextDouble() * (extent._4 - extent._2)
      (cx - s / 2, cy - s / 2, cx + s / 2, cy + s / 2)
    }
  }

  def iterate(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/ckpt-$i"
    val root = s"${ctx.work}/table-$i"
    val runner = new CheckpointRunner(spark, dir)
    val (chips, out) = ctx.timed("tiles_to_table") {
      val chips = ctx.span("pipeline.ckpt_run")(runner.run(spark.read.parquet(path), Seq(
        "crop" -> (df => ctx.span("tiling.crop_polygon")(ctx.mat(Crop.polygon(df, wkt)))),
        "voxel" -> (df => ctx.span("voxel.downsize")(ctx.mat(Voxel.downsize(df, cell)))),
        "split" -> (df => ctx.span("tiling.splitter")(ctx.mat(
          Splitter(df, length = 500.0, origin = Some(origin))))),
        "chip" -> (df => ctx.span("tiling.chipper")(ctx.mat(Chipper(df, 5000L)))))))
      val checked = if (ctx.perturb) chips.filter(col("order_key") =!= p.key(kept.head)) else chips
      (chips, ctx.span("aggregate")(checked.groupBy("chip_id", "tile_id").agg(count(lit(1)),
        bit_xor(xxhash64(col("doc_id"), col("spans")))).collect()))
    }
    ctx.release()
    val chipRows = out.groupBy(_.getLong(0)).map(_._2.map(_.getLong(2)).sum)
    val got = (out.map(_.getLong(2)).sum, chipRows.size.toLong,
      out.map(_.getLong(1)).distinct.length.toLong, out.map(_.getLong(3)).foldLeft(0L)(_ ^ _))
    ctx.check(s"tiles rows/chips/tiles/xor $got == $expect")(got == expect)
    ctx.check("chips within capacity")(chipRows.forall(_ <= 5000L))

    for (c <- 0 until 2) {
      val t0 = System.nanoTime()
      ctx.timed("tiles_to_table")(ctx.span("sources.commit")(GraftTable.commitClustered(
        chips.filter(col("order_key") % 2 === c), root, cellSize = 100.0, numFiles = filesPerCommit)))
      commitS += (System.nanoTime() - t0) / 1e9
    }
    if (ctx.traced) writeAmp += ctx.tracer.named("sources.commit").takeRight(2)
      .map(s => ctx.tracer.total(s).outputBytes).sum.toDouble / dirBytes(s"$dir/stage=3_chip/data")
    val bs = boxes(i)
    val viaRead = bs.map { b =>
      val want = kept.count(j => Oracle.inBox(p, j, b._1, b._2, b._3, b._4)).toLong
      val t0 = System.nanoTime()
      val (cnt, read, total) = ctx.timed("tiles_to_table")(ctx.span("sources.readbox") {
        val (df, read, total) = ctx.span("sources.readbox_plan")(
          GraftTable.readBox(spark, root, b._1, b._2, b._3, b._4))
        val t1 = System.nanoTime()
        planMs += (t1 - t0) / 1e6
        val checked = if (ctx.perturb) df.limit(math.max(0, (want - 1).toInt)) else df
        val cnt = ctx.span("sources.readbox_scan")(checked.count())
        scanMs += (System.nanoTime() - t1) / 1e6
        (cnt, read, total)
      })
      readMs += (System.nanoTime() - t0) / 1e6
      readFrac += read.toDouble / total
      ctx.check(s"readBox $b count $cnt == $want")(cnt == want)
      cnt
    }
    val b = bs.head
    val (cnt, scanned, total) = ctx.timed("tiles_to_table")(ctx.span("sources.countbox")(
      GraftTable.countBox(spark, root, b._1, b._2, b._3, b._4)))
    countFrac += scanned.toDouble / total
    ctx.check(s"countBox $b $cnt == readBox ${viaRead.head}")(cnt == viaRead.head)

    val liveBefore = liveBytes(spark, root)
    val t0 = System.nanoTime()
    val (_, rewritten, files) = ctx.timed("tiles_to_table")(ctx.span("sources.upsert")(
      GraftTable.upsert(spark, root, chips.filter(pmod(col("order_key") + seed, lit(97L)) === 0)
        .withColumn("classification", lit(31)))))
    upsertS += (System.nanoTime() - t0) / 1e9
    upsertFrac += rewritten.toDouble / files
    spaceAmp += dirBytes(root).toDouble / liveBytes(spark, root)
    if (ctx.traced) upsertAmp += ctx.tracer.total(ctx.tracer.named("sources.upsert").last)
      .outputBytes / (upserted * liveBefore.toDouble / kept.length)
    val after = GraftTable.read(spark, root)
      .agg(count(lit(1)), count(when(col("classification") === 31, 1))).head()
    ctx.check(s"upsert visible ${after.getLong(1)} == $upserted of ${after.getLong(0)}")(
      after.getLong(0) == kept.length && after.getLong(1) == upserted)
    rm(dir)
    rm(root)
    text.iterate(ctx, i)
  }

  /** Bytes of the data files the head snapshot references. */
  private def liveBytes(spark: SparkSession, root: String): Long =
    GraftTable.manifests(spark, root).select("path").collect()
      .map(r => new java.io.File(r.getString(0).stripPrefix("file:")).length()).sum

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val t = ctx.tracer
    val iters = ctx.tracedIters.toDouble
    def per(name: String) = secs(t.named(name)) / iters
    val run = sums(ctx, t.named("pipeline.ckpt_run"))
    val chip = sums(ctx, t.named("tiling.chipper"))
    val stages = Seq("tiling.crop_polygon", "voxel.downsize", "tiling.splitter", "tiling.chipper")
    Seq(
      "tiling.crop_polygon_s" -> per("tiling.crop_polygon"),
      "tiling.splitter_s" -> per("tiling.splitter"),
      "tiling.chipper_s" -> per("tiling.chipper"),
      "tiling.chipper_jobs" -> chip.jobs / iters,
      "tiling.chipper_shuffle_bytes" -> chip.shuffleWriteBytes / iters,
      "voxel.downsize_s" -> per("voxel.downsize"),
      "voxel.shuffle_bytes" -> sums(ctx, t.named("voxel.downsize")).shuffleWriteBytes / iters,
      "pipeline.ckpt_run_s" -> per("pipeline.ckpt_run"),
      "pipeline.ckpt_jobs" -> run.jobs / iters,
      "pipeline.ckpt_bytes_written" -> run.outputBytes / iters,
      "pipeline.ckpt_read_per_written" -> run.inputBytes.toDouble / math.max(1L, run.outputBytes),
      "pipeline.ckpt_overhead_s" -> (per("pipeline.ckpt_run") - stages.map(per).sum),
      "sources.commit_s" -> medianOf(commitS.toSeq),
      "sources.write_amp" -> medianOf(writeAmp.toSeq),
      "sources.readbox_plan_ms" -> medianOf(planMs.toSeq),
      "sources.readbox_scan_ms" -> medianOf(scanMs.toSeq),
      "sources.box_read_ms_p50" -> medianOf(readMs.toSeq),
      "sources.box_read_ms_p90" -> quantileOf(readMs.toSeq, 0.9),
      "sources.readbox_files_frac" -> medianOf(readFrac.toSeq),
      "sources.countbox_files_frac" -> medianOf(countFrac.toSeq),
      "sources.upsert_s" -> medianOf(upsertS.toSeq),
      "sources.upsert_files_frac" -> medianOf(upsertFrac.toSeq),
      "sources.upsert_bytes_per_updated_byte" -> medianOf(upsertAmp.toSeq),
      "sources.space_amp" -> medianOf(spaceAmp.toSeq)) ++ text.layers(ctx)
  }

  override def clearSamples(): Unit = Seq(readMs, planMs, scanMs, commitS, upsertS, readFrac,
    countFrac, upsertFrac, spaceAmp, upsertAmp, writeAmp).foreach(_.clear())
}

/** Dedup.minhashLsh, simhashPairs and exact over a seeded text corpus
  * with planted exact duplicates; runs as the last part of TilesToTable. */
final class DedupLsh(seed: Long, n: Long) extends Workload {
  val docs: Long = n
  val iterationS = 2.5
  private val vocab = 5000
  private var path = ""
  private var truth = Set.empty[(String, String)]
  private var distinct = 0L
  private val recall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val precision = mutable.ArrayBuffer.empty[Double]

  /** Every 50th doc (by hash) copies the text of a seeded non-copy doc. */
  def writeFixture(ctx: Ctx): Unit = {
    path = s"${ctx.work}/dedup-docs"
    val id = col("id")
    def h(c: org.apache.spark.sql.Column, salt: Long) = graft.core.Synth.mix64(c * lit(1000003L) + lit(seed * 131 + salt))
    val isCopy = pmod(h(id, 1), lit(50L)) === 0
    val src0 = pmod(h(id, 2), lit(n))
    val src = when(isCopy, when(pmod(h(src0, 1), lit(50L)) === 0, id).otherwise(src0)).otherwise(id)
    val len = (pmod(h(col("src"), 3), lit(40L)) + lit(20L)).cast("int")
    ctx.spark.range(0, n, 1, 8).select(format_string("d%09d", id).as("doc_id"), src.as("src"))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), len), j =>
        concat(lit("w"), pmod(h(col("src") * lit(64L) + j.cast("long"), 4), lit(vocab.toLong)).cast("string")))))
      .write.mode("overwrite").parquet(path)
  }

  def prepare(ctx: Ctx): Unit = {
    val rows = ctx.spark.read.parquet(path).select("doc_id", "src").collect()
    val groups = rows.groupBy(_.getLong(1)).values.map(_.map(_.getString(0)).sorted)
    distinct = groups.size.toLong
    truth = groups.flatMap(g => for (a <- g.toSeq; b <- g.toSeq if a < b) yield (a, b)).toSet
    println(s"[dedup_lsh] docs=$n distinct texts=$distinct planted pairs=${truth.size}")
  }

  private def pairs(rows: Array[Row]): Set[(String, String)] =
    rows.map(r => (r.getString(0), r.getString(1))).toSet

  def iterate(ctx: Ctx, i: Int): Unit = {
    val df = ctx.spark.read.parquet(path).select("doc_id", "text")
    val mh = pairs(ctx.timed("dedup_lsh")(ctx.span("dedup.minhash")(
      Dedup.minhashLsh(df, threshold = 0.7).select("id_a", "id_b").collect())))
    val mhSeen = if (ctx.perturb) mh - mh.min else mh
    val sh = pairs(ctx.timed("dedup_lsh")(ctx.span("dedup.simhash")(
      Dedup.simhashPairs(df, maxHamming = 3).select("id_a", "id_b").collect())))
    val kept = ctx.timed("dedup_lsh")(ctx.span("dedup.exact")(Dedup.exact(df).count()))
    val mhRecall = (mhSeen & truth).size.toDouble / truth.size
    val shRecall = (sh & truth).size.toDouble / truth.size
    recall.getOrElseUpdate("minhash", mutable.ArrayBuffer.empty) += mhRecall
    recall.getOrElseUpdate("simhash", mutable.ArrayBuffer.empty) += shRecall
    precision += (mhSeen & truth).size.toDouble / math.max(1, mhSeen.size)
    ctx.check(s"minhash planted-pair recall $mhRecall == 1")(mhRecall == 1.0)
    ctx.check(s"simhash planted-pair recall $shRecall == 1")(shRecall == 1.0)
    ctx.check(s"exact keeps $kept == $distinct")(kept == distinct)
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val t = ctx.tracer
    val iters = ctx.tracedIters.toDouble
    Seq(
      "dedup.minhash_s" -> secs(t.named("dedup.minhash")) / iters,
      "dedup.minhash_shuffle_bytes" -> sums(ctx, t.named("dedup.minhash")).shuffleWriteBytes / iters,
      "dedup.minhash_recall" -> medianOf(recall("minhash").toSeq),
      "dedup.minhash_precision" -> medianOf(precision.toSeq),
      "dedup.simhash_s" -> secs(t.named("dedup.simhash")) / iters,
      "dedup.simhash_recall" -> medianOf(recall("simhash").toSeq),
      "dedup.exact_s" -> secs(t.named("dedup.exact")) / iters)
  }
}
