package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Fixtures, GraftSession, Synth}
import graft.expr.{DimRange, ExprLang, ExpressionFilter, RangeFilter}
import graft.operators._

/** Shared session + span-invariant helper for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 8, shufflePartitions = 8)

  /** Span-sequence invariant (BASELINE.json input_hint): per doc_id the
    * ordered (kind, text, media_ref) sequence is unchanged by the stage. */
  def spanFingerprint(df: DataFrame): Map[String, String] =
    df.select(col("doc_id"), to_json(col("spans")).as("sj"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap

  def assertSpansPreserved(before: DataFrame, after: DataFrame): Unit = {
    val b = spanFingerprint(before)
    val a = spanFingerprint(after)
    assert(a.keySet.subsetOf(b.keySet), "output docs must come from input")
    a.foreach { case (id, sj) => assert(b(id) == sj, s"span sequence mutated for $id") }
  }

  /** Order-free row hashes: equal iff the two frames hold the same rows. */
  def canon(df: DataFrame): Seq[String] =
    df.select(md5(to_json(struct(df.columns.sorted.map(col): _*))))
      .collect().map(_.getString(0)).sorted.toSeq

  /** Spark jobs `body` launches, counted under its own job group. */
  def jobsOf(body: => Any): Int = jobIdsOf(body).size

  /** Ids of the Spark jobs `body` launches, in launch order. */
  def jobIdsOf(body: => Any): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
  }
}

/** Reference golden numbers (BASELINE.md table; file:line into
  * /root/reference). Exact counts are exact; coords use the reference's
  * EXPECT_NEAR tolerances. */
class GoldenSpec extends AnyFunSuite {
  import TestSpark._

  test("crop 2D box on ramp(1000) -> 333 pts with stats (CropFilterTest.cpp:86-116)") {
    val ramp = Synth.ramp(spark, 1000, (0, 0, 0), (10, 100, 1000))
    val out = Crop.box2d(ramp, 3.33333, 33.33333, 6.66666, 66.66666)
    assert(out.count() == 333)
    val r = out.agg(min("x"), max("x"), avg("x"), min("y"), max("y"), avg("y")).head()
    val delX = 10.0 / 999.0 * 100.0
    val delY = 100.0 / 999.0 * 100.0
    assert(math.abs(r.getDouble(0) - 3.33333) < delX)
    assert(math.abs(r.getDouble(1) - 6.66666) < delX)
    assert(math.abs(r.getDouble(2) - 5.0) < delX)
    assert(math.abs(r.getDouble(3) - 33.33333) < delY)
    assert(math.abs(r.getDouble(4) - 66.66666) < delY)
    assert(math.abs(r.getDouble(5) - 50.0) < delY)
    assertSpansPreserved(ramp, out)
  }

  test("crop 3D box on ramp(1000) -> 200 pts (CropFilterTest.cpp:119-177)") {
    val ramp = Synth.ramp(spark, 1000, (0, 0, 0), (10, 100, 1000))
    val out = Crop.box3d(ramp, 2.0, 20.0, 200.0, 4.0, 40.0, 400.0)
    assert(out.count() == 200)
    // outside=true keeps the complement
    assert(Crop.box3d(ramp, 2.0, 20.0, 200.0, 4.0, 40.0, 400.0, outside = true)
      .count() == 800)
  }

  test("crop WKT polygon on autzen-1065 -> 47 pts (CropFilterTest.cpp:210-212)") {
    val docs = Fixtures.autzen1065(spark)
    val out = Crop.polygon(docs, Fixtures.autzenSelectionWkt)
    assert(out.count() == 47)
    assertSpansPreserved(docs, out)
  }

  test("splitter length=1000 on autzen-1065 -> 24 tiles with golden counts (SplitterTest.cpp:97-102)") {
    val docs = Fixtures.autzen1065(spark)
    val out = Splitter(docs, length = 1000.0)
    val tiles = out.groupBy("tile_id")
      .agg(count(lit(1)).as("n"), min("x").as("mnx"), min("y").as("mny"),
        max("x").as("mxx"), max("y").as("mxy"))
      .collect()
    assert(tiles.length == 24)
    val sorted = tiles.sortBy(r => (r.getDouble(2), r.getDouble(3)))
    val counts = sorted.map(_.getLong(1)).toSeq
    assert(counts == Seq(24, 25, 2, 26, 27, 10, 82, 68, 43, 57, 7, 71, 73, 61,
      33, 84, 74, 4, 59, 70, 67, 34, 60, 4))
    // tile extents <= 1000, non-overlapping (SplitterTest.cpp:76-80)
    sorted.foreach { r =>
      assert(r.getDouble(4) - r.getDouble(2) <= 1000.0)
      assert(r.getDouble(5) - r.getDouble(3) <= 1000.0)
    }
    assertSpansPreserved(docs, out)
  }

  test("splitter buffer=20 -> tile extents <= 1040 (SplitterTest.cpp:107-137)") {
    val docs = Fixtures.autzen1065(spark)
    val out = Splitter(docs, length = 1000.0, buffer = 20.0)
    val tiles = out.groupBy("tile_id").agg(
      min("x").as("mnx"), min("y").as("mny"),
      max("x").as("mxx"), max("y").as("mxy")).collect()
    tiles.foreach { r =>
      assert(r.getDouble(3) - r.getDouble(1) <= 1040.0)
      assert(r.getDouble(4) - r.getDouble(2) <= 1040.0)
    }
    // buffered output is a superset of unbuffered
    assert(out.count() >= 1065)
  }

  test("chipper capacity=15 on autzen-1065 -> 71 chips x 15 pts, chip[2] bbox (ChipperTest.cpp:57-101)") {
    val docs = Fixtures.autzen1065(spark)
    val out = Chipper(docs, capacity = 15)
    val chips = out.groupBy("chip_id").agg(
      count(lit(1)).as("n"), min("x").as("mnx"), min("y").as("mny"),
      max("x").as("mxx"), max("y").as("mxy")).collect()
    assert(chips.length == 71)
    assert(chips.forall(_.getLong(1) == 15))
    val sorted = chips.sortBy(r => (r.getDouble(2), r.getDouble(3)))
    val third = sorted(2)
    assert(math.abs(third.getDouble(2) - 635674.05) < 0.05)
    assert(math.abs(third.getDouble(3) - 848992.45) < 0.05)
    assert(math.abs(third.getDouble(4) - 635993.93) < 0.05)
    assert(math.abs(third.getDouble(5) - 849427.07) < 0.05)
    assertSpansPreserved(docs, out)
  }

  test("chipper distributed phase == local phase (StreamingTest.cpp-style differential)") {
    val docs = Fixtures.autzen1065(spark)
    val local = Chipper(docs, capacity = 15)
    val dist = Chipper(docs, capacity = 15, localThreshold = 64)
    val l = local.select("order_key", "chip_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = dist.select("order_key", "chip_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l == d)
  }

  test("chipper empty input -> 0 chips (ChipperTest.cpp:144)") {
    val docs = Fixtures.autzen1065(spark).filter(lit(false))
    assert(Chipper(docs, capacity = 15).count() == 0)
  }

  test("range grammar + filter (RangeFilterTest semantics)") {
    val r = DimRange.parse("Classification![2:2]")
    assert(r.name == "Classification" && r.negate && r.lower == 2 && r.upper == 2)
    val r2 = DimRange.parse("Z(:5]")
    assert(r2.lower == Double.MinValue && r2.upper == 5 && !r2.inclusiveLower && r2.inclusiveUpper)
    val docs = Fixtures.autzen1065(spark)
      .withColumnRenamed("classification", "Classification")
    val kept = RangeFilter(docs, "Classification[1:1]")
    val cnt1 = docs.filter(col("Classification") === 1).count()
    assert(kept.count() == cnt1)
    // OR within dim, AND across dims
    val both = RangeFilter(docs, "Classification[1:1], Classification[2:2], intensity[100:]")
    val expect = docs.filter((col("Classification") === 1 || col("Classification") === 2) &&
      col("intensity") >= 100).count()
    assert(both.count() == expect)
  }

  test("expression language compiles and filters (ExpressionFilterTest semantics)") {
    val docs = Fixtures.autzen1065(spark)
    val out = ExpressionFilter(docs, "(intensity > 100 && intensity <= 200) || z < 410")
    val expect = docs.filter((col("intensity") > 100 && col("intensity") <= 200) ||
      col("z") < 410).count()
    assert(out.count() == expect)
    assert(out.count() > 0)
  }
}
