package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Mat

/** filters.litree — Li et al. 2012 individual tree segmentation
  * (filters/LiTreeFilter.cpp:120-295). Trees are isolated sequentially,
  * tallest first: the highest remaining point seeds tree i (Pi), a
  * dummy point n0 — the farthest remaining point within `dummyRadius`
  * of the seed — seeds the non-tree set (Ni), and every remaining point
  * within sqrt(100)=10 of the seed is classified Pi/Ni by the
  * nearest-set rule (local maxima additionally need dmin1 <= dt, dt =
  * 1.5/2.0 by height, :183-208); points farther than 10 go to Ni.
  * Accepted trees (|Pi| >= min_points) get ClusterID 1, 2, ... in
  * processing order; Pi points leave the pool either way.
  *
  * Distributed design — exact round-parallelism by spatial dominance:
  * a seed's entire classification context is the 120-disk around it
  * (its Ni anchors are within dummyRadius + 10 and every dmin2
  * comparison is bounded by dist(u, n0) <= 110), and removing a tree
  * only touches its own 10-disk. So any point that is the strict
  * (hag desc, order_key asc) maximum within 130 units can be processed
  * NOW with the same outcome as in the reference's global
  * tallest-first order: every taller unprocessed seed is > 130 away,
  * and its eventual removals cannot intersect this seed's context.
  * Each round processes all dominant seeds at once (two RadiusJoins +
  * one grouping per round); forests with mixed heights resolve
  * in a handful of rounds, a strict monotone height gradient degrades
  * to the reference's sequential order rather than to a wrong answer.
  *
  * Order convention: the reference iterates Ui in a vector order that
  * mutates through Ni swaps (an artifact, not Li et al. semantics);
  * this engine classifies in original view order (order_key) at every
  * tree — deterministic at any parallelism, and identical to a
  * sequential port using the same convention (differential spec).
  * Ties: seed selection (hag desc, order_key asc); n0 (d2 desc,
  * order_key asc). Requires a height_above_ground column (reference
  * throws without it). */
object LiTree {
  private val ClassifyR2 = 100.0 // d^2 gate, LiTreeFilter.cpp:240

  def apply(df: DataFrame, minPoints: Int = 10, minHag: Double = 3.0,
      dummyRadius: Double = 100.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(df.columns.contains("height_above_ground"),
      "Missing HeightAboveGround dimension in input PointView.")
    val contextR = dummyRadius + 2 * math.sqrt(ClassifyR2) // 120 at defaults
    val domR = contextR + math.sqrt(ClassifyR2)            // 130 at defaults

    // local-maximum flags, once, over the full view (radius 2.0,
    // LiTreeFilter.cpp:120-149). Every neighbourhood below is a 2-D
    // RadiusJoin of query points `pts` (x, y) with candidates renamed to
    // (nx, ny); the query side is the one exploded over the cell grid.
    val base = df.select(col("order_key"), col("x"), col("y"),
      col("height_above_ground").as("hag"))
    def near(pts: DataFrame, r: Double, cand: DataFrame): DataFrame =
      RadiusJoin(pts, Seq("x", "y"),
        cand.withColumnRenamed("x", "nx").withColumnRenamed("y", "ny"),
        Seq("nx", "ny"), r)
    val lmax = near(base, 2.0, base.select(col("x"), col("y"), col("hag").as("nhag")))
      .groupBy("order_key")
      .agg((max(when(col("nhag") > col("hag"), 1).otherwise(0)) === 0).as("lmax"))
    var ui = Mat(base.join(lmax, Seq("order_key")))

    val accepted = scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]()
    val assignments = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var done = ui.limit(2).count() <= 1 // reference: while (Ui.size() > 1)
    var round = 0
    val maxRounds = 10000
    while (!done && round < maxRounds) {
      round += 1
      // dominant seeds: strict (hag, -order_key) maximum within domR
      val seeds = near(ui, domR,
          ui.select(col("x"), col("y"), col("hag").as("nhag"),
            col("order_key").as("nk")))
        .groupBy(col("order_key"), col("x"), col("y"), col("hag"))
        .agg(max(when(col("nhag") > col("hag") ||
          (col("nhag") === col("hag") && col("nk") < col("order_key")), 1)
          .otherwise(0)).as("__beaten"))
        .filter(col("__beaten") === 0 && col("hag") >= minHag)
        .select(col("order_key").as("__sk"), col("x").as("__sx"),
          col("y").as("__sy"), col("hag").as("__shag"))
      // gather each seed's context disk and classify in-task
      val ctx = near(seeds.withColumnRenamed("__sx", "x")
            .withColumnRenamed("__sy", "y"), contextR,
          ui.select(col("x"), col("y"), col("order_key").as("nk"),
            col("hag").as("nhag"), col("lmax").as("nlmax")))
        .select(col("__sk"), col("__shag"), col("x").as("__sx2"),
          col("y").as("__sy2"), col("nk"), col("nx"), col("ny"), col("nhag"),
          col("nlmax"))
        .as[(Long, Double, Double, Double, Long, Double, Double, Double, Boolean)]
      val treeRows = ctx.groupByKey(_._1).flatMapGroups { (sk, it) =>
        val rows = it.toArray.sortBy(_._5) // classify in order_key order
        val sx = rows.head._3; val sy = rows.head._4; val shag = rows.head._2
        def d2(ax: Double, ay: Double, bx: Double, by: Double) =
          (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
        // n0: farthest within dummyRadius of the seed (KD radius list is
        // distance-sorted; back() = farthest), ties (d2 desc, key asc)
        val inDummy = rows.filter(r => d2(r._6, r._7, sx, sy) <= dummyRadius * dummyRadius)
        val n0 = inDummy.maxBy(r => (d2(r._6, r._7, sx, sy), -r._5))
        val pi = scala.collection.mutable.ArrayBuffer[(Double, Double)]((sx, sy))
        val piKeys = scala.collection.mutable.ArrayBuffer[Long](sk)
        val ni = scala.collection.mutable.ArrayBuffer[(Double, Double)]((n0._6, n0._7))
        val niKeys = scala.collection.mutable.HashSet[Long](n0._5)
        for (r <- rows) {
          val (k, x, y, hag, isMax) = (r._5, r._6, r._7, r._8, r._9)
          if (d2(x, y, sx, sy) < ClassifyR2) {
            if (!piKeys.contains(k) && !niKeys.contains(k)) {
              val dmin1 = math.sqrt(pi.iterator.map(p => d2(x, y, p._1, p._2)).min)
              val dmin2 = math.sqrt(ni.iterator.map(p => d2(x, y, p._1, p._2)).min)
              val dt = if (hag > 15) 2.0 else 1.5
              val toPi =
                if (!isMax) dmin1 <= dmin2
                else if (dmin1 > dt) false
                else dmin1 <= dmin2
              if (toPi) { pi += ((x, y)); piKeys += k }
              else { ni += ((x, y)); niKeys += k }
            }
          } else { ni += ((x, y)); niKeys += k }
        }
        val ok = piKeys.length >= minPoints
        // (pointKey, seedKey, seedHag, accepted) per Pi member
        piKeys.iterator.map(k => (k, sk, shag, ok))
      }.toDF("__pk", "__sk", "__shag", "__ok")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seedInfo = treeRows.select("__sk", "__shag", "__ok").distinct()
        .as[(Long, Double, Boolean)].collect()
      if (seedInfo.isEmpty) done = true
      else {
        accepted ++= seedInfo.filter(_._3).map(s => (s._1, s._2, 0L))
        // materialize the slim per-round assignment before releasing
        // treeRows, or the final join would recompute every round's
        // gather+classify from the checkpointed snapshots
        assignments += Mat(treeRows.filter(col("__ok")).select("__pk", "__sk"))
        val next = Mat(ui.join(treeRows.select(col("__pk")),
          col("order_key") === col("__pk"), "left_anti"))
        treeRows.unpersist(false)
        ui = next
        if (ui.limit(2).count() <= 1) done = true
      }
    }
    require(done, s"litree: $maxRounds dominance rounds exhausted with points " +
      "remaining (pathological monotone height gradient) — raise the bound or " +
      "pre-tile the input")
    // number accepted trees in the reference's processing order; the
    // seed -> tree-id map is a tiny broadcast-joined table (codegen'd
    // hash join), not a per-row udf
    val order = accepted.sortBy(s => (-s._2, s._1)).zipWithIndex
      .map { case ((sk, _, _), i) => (sk, (i + 1).toLong) }
    val orderDf = spark.createDataset(order.toSeq).toDF("__sk", "__tid")
    val asg =
      if (assignments.isEmpty)
        spark.emptyDataset[(Long, Long)].toDF("__pk", "__sk")
      else assignments.reduce(_ unionByName _)
    val labeled = asg.join(broadcast(orderDf), Seq("__sk"), "left")
      .select(col("__pk"), coalesce(col("__tid"), lit(0L)).as("cluster_id"))
    df.join(labeled, col("order_key") === col("__pk"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), lit(0L)))
      .drop("__pk")
  }
}
