package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Csf

/** filters.csf — Cloth Simulation Filter (filters/CSFilter.cpp,
  * filters/private/csf sources). The reference's constraint pass is OpenMP-racy
  * (no deterministic golden exists); these specs assert the filter's
  * classification CONTRACT on planted scenes, at one tile and at many. */
class CsfSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Flat ground plus isolated single-cell "roof" returns 50 up: ground
    * clamps the cloth at the surface, each roof particle hovers within
    * ~g_step of the ground level held by its 16 clamped neighbors, so
    * classification is exactly roof -> 1, ground -> 2 (the q57 oracle
    * regime; margins 50 vs threshold 0.5). */
  test("flat ground + isolated roofs: exact classification, smooth on and off") {
    val rows = for (i <- 0 until 21; j <- 0 until 21) yield {
      val roof = i % 5 == 2 && j % 5 == 2
      ((i * 21 + j).toLong, i.toDouble, j.toDouble, if (roof) 50.0 else 0.0, roof)
    }
    val df = rows.map(r => (r._1, r._2, r._3, r._4))
      .toDF("order_key", "x", "y", "z")
    for (sm <- Seq(true, false)) {
      val got = Csf(df, smooth = sm, iterations = 200)
        .select("order_key", "classification")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      for ((k, _, _, _, roof) <- rows)
        assert(got(k) == (if (roof) 1 else 2), s"key=$k roof=$roof smooth=$sm")
    }
  }

  /** A tall 5x5-cell building on flat ground: the cloth bridges the
    * (inverted) cavity — roof points classified non-ground, ground
    * points ground, including right at the building footprint edge. */
  test("building block on flat ground") {
    val pts = for (i <- 0 until 30; j <- 0 until 30) yield {
      val bld = i >= 12 && i < 17 && j >= 12 && j < 17
      ((i * 30 + j).toLong, i.toDouble, j.toDouble, if (bld) 40.0 else 0.0, bld)
    }
    val df = pts.map(p => (p._1, p._2, p._3, p._4)).toDF("order_key", "x", "y", "z")
    val got = Csf(df, iterations = 300)
      .select("order_key", "classification")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((k, _, _, _, bld) <- pts)
      assert(got(k) == (if (bld) 1 else 2), s"key=$k building=$bld")
  }

  /** Gentle slope stays ground (the classification threshold tracks the
    * draped cloth, not absolute height). */
  test("sloped terrain is all ground") {
    val df = (for (i <- 0 until 25; j <- 0 until 25)
      yield ((i * 25 + j).toLong, i.toDouble, j.toDouble, 0.2 * i + 0.1 * j))
      .toDF("order_key", "x", "y", "z")
    val cls = Csf(df, iterations = 300).select("classification")
      .as[Int].collect()
    assert(cls.forall(_ == 2))
  }

  /** A mixed scene (noisy slope, two buildings) after only 60
    * iterations: exactly the 39 building points are non-ground, in one
    * tile and in 8-cell tiles (blockIters 2 forces real halo exchanges
    * and cross-tile movableFilter rounds). */
  test("mixed scene: fixed classification in one tile and in 8-cell tiles") {
    val rnd = new scala.util.Random(17)
    val pts = for (i <- 0 until 40; j <- 0 until 40) yield {
      val bld = (i >= 8 && i < 13 && j >= 20 && j < 26) ||
        (i >= 30 && i < 33 && j >= 5 && j < 8)
      ((i * 40 + j).toLong, i + rnd.nextDouble() * 0.2, j + rnd.nextDouble() * 0.2,
        (if (bld) 35.0 else 0.0) + 0.1 * i + rnd.nextDouble() * 0.05)
    }
    val df = pts.toDF("order_key", "x", "y", "z")
    val want = pts.map(p => (p._1, if (p._4 >= 35.0) 1 else 2))
    assert(want.count(_._2 == 1) == 39)
    for (tileSize <- Seq(2048, 8)) {
      val got = Csf(df, iterations = 60, blockIters = 2, tileSize = tileSize)
        .select("order_key", "classification")
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
      assert(got == want,
        s"tileSize=$tileSize diff=${got.zip(want).filter(p => p._1 != p._2).take(5)}")
    }
  }

  /** returns/ignore segmentation passes non-selected points through with
    * their original classification (CSFilter.cpp:165-213). */
  test("ignore ranges pass through untouched") {
    val df = (for (i <- 0 until 15; j <- 0 until 15)
      yield ((i * 15 + j).toLong, i.toDouble, j.toDouble, 0.0,
        if ((i + j) % 7 == 0) 9 else 0))
      .toDF("order_key", "x", "y", "z", "classification")
    val got = Csf(df, iterations = 100, ignore = Some("Classification[9:9]"))
      .select("order_key", "classification")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (i <- 0 until 15; j <- 0 until 15) {
      val k = (i * 15 + j).toLong
      if ((i + j) % 7 == 0) assert(got(k) == 9, s"ignored key=$k")
      else assert(got(k) == 2, s"kept key=$k")
    }
  }
}
