package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Synth
import graft.operators.{Skew, Splitter}

class SkewSpec extends AnyFunSuite {
  import TestSpark._

  /** 90% of points in one tile — the dense-cell shape the north rule
    * calls out. */
  lazy val skewed = {
    val hot = Synth.docs(spark, 9000, seed = 31,
      bounds = (635000.0, 848000.0, 635100.0, 848100.0)) // one 1000m tile
    val cold = Synth.docs(spark, 1000, seed = 32,
      bounds = (600000.0, 800000.0, 700000.0, 900000.0))
      .withColumn("order_key", col("order_key") + 9000)
      .withColumn("doc_id", concat(lit("c"), col("doc_id")))
    hot.unionByName(cold)
  }

  test("hot-key detection finds the dense tile") {
    val tiled = Splitter(skewed, 1000.0, origin = Some((600000.0, 800000.0)))
    val hot = Skew.hotKeys(tiled, "tile_id").collect()
    assert(hot.nonEmpty)
    assert(hot.map(_.getLong(1)).max == 9000)
  }

  test("salted repartition bounds per-partition rows for the hot tile") {
    val tiled = Splitter(skewed, 1000.0, origin = Some((600000.0, 800000.0)))
    val salted = Skew.saltedRepartition(tiled, "tile_id", salt = 16)
    // per (tile, salt) group size is ~9000/16 for the hot tile
    val groups = salted.groupBy("tile_id", "__salt").count()
      .agg(max("count")).head().getLong(0)
    assert(groups < 2000, s"largest (tile, salt) group $groups should be ~9000/16")
    // no rows lost, salt deterministic
    assert(salted.count() == 10000)
    val again = Skew.saltedRepartition(tiled, "tile_id", salt = 16)
      .select("order_key", "__salt").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val first = salted.select("order_key", "__salt").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(first == again)
  }

  test("salted two-level count equals plain count per key") {
    val tiled = Splitter(skewed, 1000.0, origin = Some((600000.0, 800000.0)))
    val plain = tiled.groupBy("tile_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(tiled, "tile_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("kNN hot-cell salting: detection fires, per-task candidate groups " +
      "are bounded by the cap, results stay exact") {
    val pts = skewed.select("order_key", "x", "y", "z").cache()
    val h = 500.0 // dense blob spans 100m -> one 500m cell holds ~9000
    val cap = 1000
    val hot = graft.operators.KnnJoin.detectHotSupercells(pts, h, cap,
      graft.operators.KnnJoin.extent(pts))
    assert(hot.nonEmpty, "dense supercell must be detected as hot")
    // salt factors bound each (cell, salt) group of the supercell
    // shuffle to ~cap: the task-input bound AQE's skew splitting cannot
    // provide for a grouped Dataset shuffle
    hot.values.foreach(s => assert(s >= 9 && s <= 64, s"salt factor $s"))
    val maxGroup = hot.map { case (_, s) => math.ceil(9000.0 / s) }.max
    assert(maxGroup <= 2 * cap, s"salted group bound $maxGroup vs cap $cap")
    // exactness THROUGH the salted path (cap forces salting at this h)
    val salted = graft.operators.KnnJoin.knn(pts, skewed, 3,
      cellSize = h, maxCellCandidates = cap, broadcastLimit = 0)
    assert(salted.saltedSupercells == hot.size, "the result counts its salted supercells")
    val knnSalted = salted.rows
    val all = pts.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // each row carries its query's coordinates and each hit its cid's
    val byId = all.map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val gotS = knnSalted.filter(col("order_key") < 30).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)),
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(h => (h.getLong(1), (h.getDouble(3), h.getDouble(4), h.getDouble(5))))
          .toVector)).toMap
    gotS.foreach { case (qid, (q, hits)) =>
      val (qx, qy, qz) = byId(qid)
      assert(q == ((qx, qy, qz)), s"salted qid=$qid query coordinates")
      val exp = all.map { case (cid, x, y, z) =>
        ((x - qx) * (x - qx) + (y - qy) * (y - qy) + (z - qz) * (z - qz), cid)
      }.sorted.take(3).map(t => (t._2, byId(t._2))).toVector
      assert(hits == exp, s"salted qid=$qid")
    }
  }

  test("salted self-kNN: a home copy is its query in every salt group; " +
      "exact on every row and hash-equal at 1, 7 and 64 input partitions") {
    val pts = skewed.select("order_key", "x", "y", "z", "classification").cache()
    val k = 3
    def run(df: org.apache.spark.sql.DataFrame) = graft.operators.KnnJoin.knn(df, df, k,
      cellSize = 500.0, selfJoin = true, maxCellCandidates = 1000, broadcastLimit = 0)
    val r = run(pts)
    assert(r.saltedSupercells > 0, "the dense supercell must be salted")
    val all = pts.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val got = r.rows.collect().map(r => r.getLong(0) ->
      r.getSeq[org.apache.spark.sql.Row](1).map(h => (h.getDouble(0), h.getLong(1))).toVector)
      .toMap
    assert(got.size == all.length)
    all.foreach { case (qid, qx, qy, qz) =>
      // brute-force top-k by (d2, cid), the engine's total order
      val best = Array.fill(k)((Double.MaxValue, Long.MaxValue))
      all.foreach { case (cid, x, y, z) =>
        val dx = x - qx; val dy = y - qy; val dz = z - qz
        val c = (dx * dx + dy * dy + dz * dz, cid)
        if (Ordering[(Double, Long)].lt(c, best(k - 1))) {
          var p = k - 1
          while (p > 0 && Ordering[(Double, Long)].lt(c, best(p - 1))) {
            best(p) = best(p - 1); p -= 1
          }
          best(p) = c
        }
      }
      assert(got(qid) == best.toVector, s"qid=$qid")
    }
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(md5(to_json(struct(df.columns.sorted.map(col): _*))))
        .collect().map(_.getString(0)).sorted.toSeq
    val Seq(one, seven, many) = Seq(1, 7, 64).map(p => canon(run(pts.repartition(p)).rows))
    assert(one == seven && one == many)
    pts.unpersist()
  }

  test("kNN on the skewed cloud stays correct (dense cell = bounded task)") {
    val pts = skewed.select("order_key", "x", "y", "z", "classification")
    val knn = graft.operators.KnnJoin.knn(
      pts.select("order_key", "x", "y", "z"), pts, 3, broadcastLimit = 0).rows
    assert(knn.count() == 10000)
    // spot-check 30 hot-cell points against brute force
    val all = pts.select("order_key", "x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val got = knn.filter(col("order_key") < 30).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toVector).toMap
    got.foreach { case (qid, ids) =>
      val (_, qx, qy, qz) = all.find(_._1 == qid).get
      val exp = all.map { case (cid, x, y, z) =>
        ((x - qx) * (x - qx) + (y - qy) * (y - qy) + (z - qz) * (z - qz), cid)
      }.sorted.take(3).map(_._2).toVector
      assert(ids == exp, s"qid=$qid")
    }
  }
}
