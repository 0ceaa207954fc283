package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Fixtures, Synth}
import graft.operators.{EigenFeatures, KnnJoin, NeighborClassifier, NNDistance}

class KnnSpec extends AnyFunSuite {
  import TestSpark._

  /** Shuffle writes of the Spark jobs `body` runs: total bytes, total
    * records and the records of the stage that wrote the most. */
  private final case class Shuffled(bytes: Long, records: Long, maxStageRecords: Long)

  /** Runs `body` under its own job group and sums `shuffleWriteMetrics`
    * over the tasks of that group's stages only. */
  private def shuffled(body: => Unit): Shuffled = {
    val sc = spark.sparkContext
    val group = s"knn-shuffle-${System.nanoTime()}"
    val stages = collection.mutable.Set.empty[Int]
    val perStage = collection.mutable.Map.empty[Int, (Long, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = stages.synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages ++= e.stageIds
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          val w = e.taskMetrics.shuffleWriteMetrics
          val (b, r) = perStage.getOrElse(e.stageId, (0L, 0L))
          perStage(e.stageId) = (b + w.bytesWritten, r + w.recordsWritten)
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "shuffle metrics", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    stages.synchronized {
      val rs = perStage.values.map(_._2)
      Shuffled(perStage.values.map(_._1).sum, rs.sum, if (rs.isEmpty) 0L else rs.max)
    }
  }

  /** Every node of `p`, adaptive stages included. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case s: QueryStageExec => planNodes(s.plan)
      case o => o.children.flatMap(planNodes)
    })
  }

  /** Shuffle exchanges of `df`'s executed plan, adaptive stages included. */
  private def shuffleExchanges(df: org.apache.spark.sql.DataFrame) =
    planNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  /** `body`'s value with the executed plans of the SQL actions it runs. */
  private def withPlans[T](body: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try body
    finally {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    (out, plans.synchronized(plans.toSeq))
  }

  /** `body` with spark.sql.autoBroadcastJoinThreshold set to `v`. */
  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** All rows of `df` as sorted JSON strings: an order-free canon. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(col): _*))).collect()
      .map(_.getString(0)).sorted.toSeq

  /** Self-kNN of `df` as qid -> (its (qx, qy, qz), its
    * (d2, cid, v, x, y, z) hits), with the queries open after each
    * distributed round. */
  private def selfKnn(df: org.apache.spark.sql.DataFrame, k: Int,
      broadcastLimit: Int, cellSize: Double = 0.0) = {
    val r = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, k,
      cellSize = cellSize, broadcastLimit = broadcastLimit)
    val hits = r.rows.collect().map { r =>
      r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)),
        r.getSeq[org.apache.spark.sql.Row](1).map(h => (h.getDouble(0),
          h.getLong(1), h.getDouble(2), h.getDouble(3), h.getDouble(4),
          h.getDouble(5))).toVector)
    }.toMap
    (hits, r.openAfterRound)
  }

  /** Self-kNN at k=5 over `docs` on the pinned distributed path, with the
    * queries open after each round; at the estimated cell size round 1
    * resolves every query. */
  private def selfKnnShuffle(docs: org.apache.spark.sql.DataFrame): (Shuffled, Seq[Long]) = {
    var open = Seq.empty[Long]
    val s = shuffled {
      val r = KnnJoin.knn(docs, docs, 5, selfJoin = true, broadcastLimit = 0)
      r.rows.collect()
      open = r.openAfterRound
    }
    (s, open)
  }

  test("grid kNN == brute force on 800 synthetic docs (broadcast AND " +
      "distributed paths, full-struct differential)") {
    import spark.implicits._
    val docs = Synth.docs(spark, 800, seed = 7).cache()
    val pts = docs.select("order_key", "x", "y", "z", "classification").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    val k = 5
    def run(bl: Int) = selfKnn(docs, k, bl)._1
    val gotB = run(KnnJoin.defaultBroadcastLimit) // 800 <= limit: fast path
    val gotD = run(0)                             // pinned distributed path
    assert(gotB == gotD, "broadcast fast path must be bit-identical to the distributed path")
    // brute force (unique distances wanted: synthetic uniform doubles — ties measure-zero)
    pts.foreach { case (qid, qx, qy, qz, _) =>
      val exp = pts.map { case (cid, x, y, z, _) =>
        val d2 = (x - qx) * (x - qx) + (y - qy) * (y - qy) + (z - qz) * (z - qz)
        (d2, cid)
      }.sorted.take(k).map(_._2).toVector
      assert(gotB(qid)._2.map(_._2) == exp, s"qid=$qid")
    }
    // exact ties: on an integer lattice many candidates share each d2, so
    // the cid tie-break orders them. cids are a seeded permutation of the
    // lattice positions. cellSize 0.3 leaves every query open after the
    // rounds at h = 0.3 and 0.9; the kth distance (<= 2) is final at 2.7.
    // Each hit carries its cid's lattice point and each row its query's.
    val ids = new scala.util.Random(5).shuffle((0 until 216).toVector)
    val lat = (for (x <- 0 until 6; y <- 0 until 6; z <- 0 until 6)
      yield (x.toDouble, y.toDouble, z.toDouble)).zip(ids).map {
        case ((x, y, z), id) => (id.toLong, x, y, z, id % 3) }
    val latDf = lat.toDF("order_key", "x", "y", "z", "classification")
    val kL = 10
    val expL = lat.map { case (qid, qx, qy, qz, _) =>
      qid -> ((qx, qy, qz), lat.map { case (cid, x, y, z, c) =>
        ((x - qx) * (x - qx) + (y - qy) * (y - qy) + (z - qz) * (z - qz), cid,
          c.toDouble, x, y, z)
      }.sortBy(t => (t._1, t._2)).take(kL).toVector)
    }.toMap
    for ((bl, cs) <- Seq((KnnJoin.defaultBroadcastLimit, 0.0), (0, 0.0), (0, 0.3)))
      assert(selfKnn(latDf, kL, bl, cs)._1 == expL, s"broadcastLimit=$bl cellSize=$cs")
    // the later rounds' answer does not depend on the input partition count
    for (p <- Seq(1, 7, 64)) {
      val (got, open) = selfKnn(latDf.repartition(p), kL, 0, 0.3)
      assert(got == expL, s"partitions=$p")
      assert(open == Seq(216L, 216L, 0L), s"partitions=$p open after each round")
    }
    // k = 0 is rejected by name before any Spark job runs
    val sc = spark.sparkContext
    sc.setJobGroup("knn-k0", "k = 0", interruptOnCancel = false)
    try for (bl <- Seq(KnnJoin.defaultBroadcastLimit, 0)) {
      val e = intercept[IllegalArgumentException](selfKnn(docs, 0, bl))
      assert(e.getMessage.contains("k must be >= 1"), e.getMessage)
    } finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    assert(sc.statusTracker.getJobIdsForGroup("knn-k0").isEmpty)
  }

  test("broadcast path: pathological cellSize over a huge extent coarsens " +
      "h internally (injective packing) and stays exact") {
    import spark.implicits._
    // 1e9-unit extent with an explicit 0.001 cell size would be 1e12
    // cells/axis — far past the 2^20 packing budget; the index must
    // coarsen h (results are h-independent) instead of aliasing buckets
    val rnd = new scala.util.Random(3)
    val pts = (0 until 200).map(i => (i.toLong,
      rnd.nextDouble() * 1e9, rnd.nextDouble() * 1e9, rnd.nextDouble() * 1e3))
    val df = pts.toDF("order_key", "x", "y", "z")
      .withColumn("classification", lit(1))
    val got = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, 3,
        cellSize = 0.001).rows
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toVector).toMap
    pts.foreach { case (qid, qx, qy, qz) =>
      val exp = pts.map { case (cid, x, y, z) =>
        ((x - qx) * (x - qx) + (y - qy) * (y - qy) + (z - qz) * (z - qz), cid)
      }.sorted.take(3).map(_._2).toVector
      assert(got(qid) == exp, s"qid=$qid")
    }
  }

  test("kNN halo: small cells force multi-round resolution, still exact") {
    val docs = Synth.docs(spark, 300, seed = 11).cache()
    val pts = docs.select("order_key", "x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val k = 3
    // cell size far smaller than typical NN distance -> rounds > 1 needed
    // (broadcastLimit = 0 pins the distributed multi-round machinery)
    val r = KnnJoin.knn(docs.select("order_key", "x", "y", "z"), docs, k,
      cellSize = 20.0, broadcastLimit = 0)
    assert(r.openAfterRound == Seq(300L, 300L, 264L, 0L))
    val got = r.rows
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toVector
      }.toMap
    pts.foreach { case (qid, qx, qy, qz) =>
      val exp = pts.map { case (cid, x, y, z) =>
        ((x - qx) * (x - qx) + (y - qy) * (y - qy) + (z - qz) * (z - qz), cid)
      }.sorted.take(k).map(_._2).toVector
      assert(got(qid) == exp, s"qid=$qid")
    }
  }

  test("neighborclassifier k=1 is identity (NeighborClassifierFilterTest.cpp:101-103)") {
    val docs = Fixtures.autzen1065(spark)
    val out = NeighborClassifier(docs, k = 1)
    val before = docs.select("order_key", "classification").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val after = out.select("order_key", "classification").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(before == after)
  }

  test("neighborclassifier domain-restricted points outside domain never change (:109-112)") {
    val docs = Fixtures.autzen1065(spark)
    val out = NeighborClassifier(docs, k = 7, domain = Some("intensity[100:]"))
    val changed = out.as("a").join(docs.as("b"), Seq("order_key"))
      .filter(col("a.classification") =!= col("b.classification"))
      .select("a.intensity").collect()
    changed.foreach(r => assert(r.getInt(0) >= 100))
  }

  test("neighborclassifier vote semantics: strict majority, ties -> smallest class") {
    import spark.implicits._
    // 4 points at near-identical spots; classes 1,1,2,2 among k=4 -> count
    // 2 each, not > 2 -> no change. classes 1,1,1,2 -> 3 > 2 -> all become 1
    def mk(cls: Seq[Int]) = cls.zipWithIndex.map { case (c, i) =>
      (s"d$i", Seq.empty[graft.core.Span], i * 0.001, 0.0, 0.0, 0, c, 1, 1, 0.0, i.toLong)
    }.toDF("doc_id", "spans", "x", "y", "z", "intensity", "classification",
      "return_number", "number_of_returns", "gps_time", "order_key")
    val tie = NeighborClassifier(mk(Seq(1, 1, 2, 2)), k = 4)
      .select("classification").collect().map(_.getInt(0)).toSeq
    assert(tie == Seq(1, 1, 2, 2)) // no strict majority -> unchanged
    val maj = NeighborClassifier(mk(Seq(1, 1, 1, 2)), k = 4)
      .select("classification").collect().map(_.getInt(0)).toSet
    assert(maj == Set(1))
  }

  test("neighborclassifier candidate file k=1: class-6 count 12441 of 12525 " +
      "(NeighborClassifierFilterTest.cpp:219 golden)") {
    val src = Fixtures.sampleNc(spark)
    val cand = Fixtures.sampleCThin(spark)
    val out = NeighborClassifier(src, k = 1, candidates = Some(cand))
    val c6 = out.filter(col("classification") === 6).count()
    assert(out.count() == 14408)
    assert(c6 == 12441, s"class-6 count $c6 != 12441")
  }

  test("nndistance kth/avg produce positive distances") {
    val docs = Synth.docs(spark, 200, seed = 3)
    val kth = NNDistance(docs, k = 3, mode = "kth")
    assert(kth.filter(col("nn_distance") <= 0).count() == 0)
    val avg = NNDistance(docs, k = 3, mode = "avg")
    assert(avg.filter(col("nn_distance") <= 0).count() == 0)
    // an unknown mode is rejected by name before any Spark job runs
    val sc = spark.sparkContext
    sc.setJobGroup("nnd-mode", "unknown mode", interruptOnCancel = false)
    try {
      val e = intercept[IllegalArgumentException](NNDistance(docs, k = 3, mode = "kht"))
      assert(e.getMessage.contains("mode") && e.getMessage.contains("kht"), e.getMessage)
    } finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    assert(sc.statusTracker.getJobIdsForGroup("nnd-mode").isEmpty)
  }

  test("queries OFFSET from the candidate cloud still get full exact kNN " +
      "(coverAll must be query-aware — hausdorff between disjoint clouds)") {
    import spark.implicits._
    // candidates in [0,10]^2, queries shifted far outside the candidate
    // bbox: with candidate-extent-only coverAll these got empty/truncated
    // results once ring*h passed the candidate extent
    val cand = (0 until 100).map(i =>
      (i.toLong, (i % 10).toDouble, (i / 10).toDouble, 0.0, i))
      .toDF("order_key", "x", "y", "z", "classification")
    val q = (0 until 5).map(i =>
      (1000L + i, 500.0 + i, 500.0, 0.0)).toDF("order_key", "x", "y", "z")
    for (bl <- Seq(0, KnnJoin.defaultBroadcastLimit)) { // both paths
      val res = KnnJoin.knn(q, cand, k = 3, valueCol = "classification",
        broadcastLimit = bl)
      // the distributed path widens each query's cube until it reaches
      // the cloud; the broadcast path runs no rounds
      assert(res.openAfterRound ==
        (if (bl == 0) Seq(5L, 5L, 5L, 5L, 0L) else Nil), s"broadcastLimit=$bl")
      val out = res.rows
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toVector).toMap
      assert(out.size == 5)
      out.foreach { case (qid, hits) => assert(hits.length == 3, s"qid=$qid got $hits") }
      // nearest candidate to (500+i, 500) is the corner (9, 9) = order_key 99
      assert(out.values.forall(_.head == 99L))
    }
    // no candidates at all: each query row keeps its coordinates, with an
    // empty knn of the same hit type as a non-empty result
    val none = KnnJoin.knn(q, cand.filter(lit(false)), k = 3).rows
    assert(none.schema("knn").dataType.simpleString ==
      KnnJoin.knn(q, cand, k = 3).rows.schema("knn").dataType.simpleString)
    assert(none.collect().map(r => (r.getLong(0), r.getSeq[Any](1).size,
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq ==
      (0 until 5).map(i => (1000L + i, 0, 500.0 + i, 500.0, 0.0)))
    // end-to-end: hausdorff between offset clouds is finite and exact
    val a = (0 until 50).map(i => (i.toLong, i.toDouble, 0.0, 0.0))
      .toDF("order_key", "x", "y", "z")
    val b = (0 until 50).map(i => (i.toLong, i.toDouble + 1000.0, 0.0, 0.0))
      .toDF("order_key", "x", "y", "z")
    val h = graft.pipeline.CloudMetrics.hausdorff(a, b)
    assert(math.abs(h - 1000.0) < 1e-9, s"hausdorff $h")
  }

  test("kNN shuffle: the supercell shuffle is the only data shuffle " +
      "(records <= 2.25x candidates; halo stage <= 2.25x)") {
    import org.apache.spark.sql.execution.{CoGroupExec, MapGroupsExec}
    val docs = Synth.docs(spark, 20000).cache()
    val n = docs.count()
    val ((s, open), plans) = withPlans(selfKnnShuffle(docs))
    assert(open == Seq(0L), "round 1 resolves every query")
    info(f"records/cand ${s.records.toDouble / n}%.3f, " +
      f"largest stage ${s.maxStageRecords.toDouble / n}%.3f, bytes ${s.bytes}")
    // round 1 is one grouped shuffle over one row set, not a cogroup
    val nodes = plans.flatMap(planNodes)
    assert(nodes.exists(_.isInstanceOf[MapGroupsExec]), "round 1 ran as one grouped shuffle")
    assert(!nodes.exists(_.isInstanceOf[CoGroupExec]), "round 1 must not cogroup")
    // The halo stage writes each candidate once per supercell its
    // one-cell shell touches: 1.5x per axis in the interior, (1+2/S)^3
    // = 3.4x. The shell is clamped to the supercells of the data's
    // bbox: here z in [0, 400) spans two ~313 m cells inside one
    // supercell, so z adds nothing, and the x/y edges of the 4 x 6 km
    // box drop their outward copies. The stage measures 2.17x (4.05x
    // unclamped). A self-kNN's query is its candidate's home copy, so
    // the halo stage is the whole shuffle (a separate query side would
    // add ~1x). A per-ring re-join of the query side onto the partials
    // shuffles both sides again.
    assert(s.records <= 2.25 * n, s"kNN shuffled ${s.records} records for $n candidates")
    assert(s.maxStageRecords <= 2.25 * n,
      s"halo stage wrote ${s.maxStageRecords} records for $n candidates")
    docs.unpersist()
  }

  test("attach: below the broadcast threshold no shuffle exchange carries " +
      "spans (NeighborClassifier, EigenFeatures, the cogroup path); past " +
      "it the shuffle join gives the same rows; the gate runs no job") {
    val docs = Synth.docs(spark, 800, seed = 13)
    def spansShuffled(df: org.apache.spark.sql.DataFrame): Boolean = {
      df.collect() // the adaptive plan is final once its own query ran
      shuffleExchanges(df).exists(_.output.exists(_.name == "spans"))
    }
    // the distributed path's count is its candidate extent's, with no job
    val r = KnnJoin.knn(docs.select("order_key", "x", "y", "z"), docs, 5,
      selfJoin = true, broadcastLimit = 0)
    assert(r.queryRows.contains(800L))
    val perQuery = r.rows.select(col("order_key"), size(col("knn")).as("n"))
    assert(jobsOf(KnnJoin.attach(docs, perQuery, r.queryRows)) == 0,
      "the attach's gate must not launch a job")
    // a consumer launches exactly its kNN's jobs: the attach adds no count
    assert(jobsOf(NeighborClassifier(docs, k = 5)) ==
      jobsOf(KnnJoin.knn(docs.select("order_key", "x", "y", "z"), docs, 5,
        selfJoin = true)))
    val consumers = Seq(
      "distributed" -> (() => KnnJoin.attach(docs, perQuery, r.queryRows)),
      "NeighborClassifier" -> (() => NeighborClassifier(docs, k = 5)),
      "EigenFeatures" -> (() => EigenFeatures(docs)))
    for ((name, run) <- consumers) {
      val below = run()
      assert(!spansShuffled(below), s"$name shuffled spans below the threshold")
      // -1 = never broadcast: the shuffle join, with identical rows
      val (past, pastShuffled) = withThreshold("-1") {
        val df = run()
        (canon(df), spansShuffled(df))
      }
      assert(pastShuffled, s"$name took no shuffle join past the threshold")
      assert(past == canon(below), s"$name rows differ across the gate")
    }
  }

  test("NeighborClassifier output does not depend on the input partition " +
      "count (1, 7, 64), on both sides of the broadcast threshold") {
    val runs = for {
      t <- Seq(None, Some("-1")); p <- Seq(1, 7, 64)
    } yield {
      val run = () => {
        val out = NeighborClassifier(Synth.docs(spark, 800, seed = 17,
          numPartitions = p), k = 5)
        // the broadcast attach keeps the input's partitioning
        if (t.isEmpty) assert(out.rdd.getNumPartitions == p, s"partitions at p=$p")
        canon(out)
      }
      t.fold(run())(withThreshold(_)(run()))
    }
    assert(runs.distinct.size == 1, "NeighborClassifier output moved with " +
      "the input partition count or the attach side")
  }

  test("kNN shuffle bytes do not depend on the spans payload (1x vs 8x)") {
    val docs = Synth.docs(spark, 20000).cache()
    val wide = docs.withColumn("spans", concat(Seq.fill(8)(col("spans")): _*)).cache()
    assert(docs.count() == wide.count())
    val b1 = selfKnnShuffle(docs)._1.bytes
    val b8 = selfKnnShuffle(wide)._1.bytes
    info(s"kNN shuffle bytes: 1x $b1, 8x $b8")
    assert(b1 > 0)
    assert(math.abs(b8 - b1) <= 0.05 * b1,
      s"kNN shuffle bytes moved with the spans payload: 1x $b1 B, 8x $b8 B")
    wide.unpersist()
    docs.unpersist()
  }
}
