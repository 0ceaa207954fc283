package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftTable
import graft.sources.v2.GraftDataSource

/** Snapshot-table layer: commit/append/time-travel/pruning/CAS races. */
class GraftTableSpec extends AnyFunSuite {
  import TestSpark._

  private def freshRoot(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft-table-").toString
    p
  }

  private def cloud(n: Int, offX: Double = 0.0) =
    spark.range(n).select(col("id").as("order_key"),
      (col("id") % 100 + offX).cast("double").as("x"),
      (col("id") % 37).cast("double").as("y"),
      lit(0.0).as("z"))

  test("commit + read round trip; append stacks snapshots; time travel reads the past") {
    val root = freshRoot()
    val v1 = GraftTable.commit(cloud(1000), root)
    assert(v1 == 1)
    assert(GraftTable.read(spark, root).count() == 1000)
    val v2 = GraftTable.commit(cloud(500, offX = 1000.0), root)
    assert(v2 == 2)
    assert(GraftTable.read(spark, root).count() == 1500)
    // time travel: v1 still reads exactly its own rows
    assert(GraftTable.read(spark, root, asOf = Some(1)).count() == 1000)
    // overwrite drops history from the new head but v2 stays readable
    val v3 = GraftTable.commit(cloud(10), root, overwrite = true)
    assert(v3 == 3)
    assert(GraftTable.read(spark, root).count() == 10)
    assert(GraftTable.read(spark, root, asOf = Some(2)).count() == 1500)
  }

  test("readIncremental: exact append delta; empty same-version range; " +
      "loud failure across non-append history") {
    val root = freshRoot()
    val v1 = GraftTable.commit(cloud(1000), root)
    GraftTable.commit(cloud(500, offX = 1000.0), root)
    val v3 = GraftTable.commit(cloud(200, offX = 2000.0), root)
    // delta v1 -> head is exactly commits 2+3 (by their disjoint x bands)
    val delta = GraftTable.readIncremental(spark, root, v1)
    assert(delta.count() == 700)
    assert(delta.filter(col("x") < 1000.0).count() == 0)
    // explicit toVersion bounds the delta from above
    assert(GraftTable.readIncremental(spark, root, v1, v1 + 1).count() == 500)
    // from == to: empty, schema intact
    val empty = GraftTable.readIncremental(spark, root, v3, v3)
    assert(empty.count() == 0 && empty.columns.contains("x"))
    // fromVersion 0 = everything
    assert(GraftTable.readIncremental(spark, root, 0).count() == 1700)
    // compaction rewrites parent manifests -> incremental across it must
    // fail loudly, not return reshuffled rows as if they were new
    val v4 = GraftTable.compact(spark, root)
    val ex = intercept[IllegalStateException] {
      GraftTable.readIncremental(spark, root, v1, v4)
    }
    assert(ex.getMessage.contains("not append-only"))
    // ...but appends AFTER the compaction are incremental again
    GraftTable.commit(cloud(50, offX = 3000.0), root)
    assert(GraftTable.readIncremental(spark, root, v4).count() == 50)
    // delete is a non-append boundary too
    val pre = GraftTable.currentVersion(root)
    GraftTable.deleteBox(spark, root, 0, 0, 50, 50)
    intercept[IllegalStateException] {
      GraftTable.readIncremental(spark, root, pre)
    }
  }

  test("processDelta: checkpointed consumption replays a crashed delta, " +
      "advances only on success, no-ops when idle") {
    val root = freshRoot()
    val cp = root + "/consumer.ckpt"
    GraftTable.commit(cloud(1000), root)
    GraftTable.commit(cloud(500, offX = 1000.0), root)
    var seen = Seq.empty[(Long, Int, Int)]
    // first consumption: everything (checkpoint starts at 0)
    val (f1, t1) = GraftTable.processDelta(spark, root, cp) { (df, a, b) =>
      seen :+= ((df.count(), a, b))
    }
    assert((f1, t1) == (0, 2) && seen == Seq((1500L, 0, 2)))
    // idle poll: f not called, checkpoint untouched
    val (f2, t2) = GraftTable.processDelta(spark, root, cp)((_, _, _) =>
      fail("must not be called with no new data"))
    assert((f2, t2) == (2, 2))
    // new append, but the consumer CRASHES mid-delta: checkpoint must
    // not advance, and the next call replays the same delta
    GraftTable.commit(cloud(200, offX = 2000.0), root)
    intercept[RuntimeException] {
      GraftTable.processDelta(spark, root, cp)((_, _, _) =>
        throw new RuntimeException("consumer crash"))
    }
    val (f3, t3) = GraftTable.processDelta(spark, root, cp) { (df, a, b) =>
      seen :+= ((df.count(), a, b))
    }
    assert((f3, t3) == (2, 3) && seen.last == ((200L, 2, 3)))
  }

  test("an empty commit is a valid empty table (streaming's empty first " +
      "microbatch), and unsafe tags are rejected") {
    val root = freshRoot()
    GraftTable.commit(cloud(0), root) // e.g. an empty first microbatch
    val empty = GraftTable.read(spark, root)
    assert(empty.count() == 0 && empty.columns.contains("x"))
    assert(GraftTable.readBox(spark, root, 0, 0, 10, 10)._1.count() == 0)
    assert(GraftTable.readIncremental(spark, root, 0).count() == 0)
    // the table recovers normally once data arrives
    GraftTable.commit(cloud(100), root)
    assert(GraftTable.read(spark, root).count() == 100)
    assert(GraftTable.read(spark, root, asOf = Some(1)).count() == 0)
    // a tag with JSON-corrupting characters fails loudly at commit time
    // (the snapshot json is regex-parsed: a bracketed tag would silently
    // truncate the manifests array instead)
    intercept[IllegalArgumentException] {
      GraftTable.commit(cloud(10), root, tag = Some("bad[0]tag"))
    }
    intercept[IllegalArgumentException] {
      GraftTable.commit(cloud(10), root, tag = Some("""with"quote"""))
    }
  }

  test("manifest stats prune files: bbox read opens only intersecting files") {
    val root = freshRoot()
    // 4 spatially banded commits -> >= 4 files with disjoint x ranges
    for (i <- 0 until 4)
      GraftTable.commit(cloud(200).withColumn("x", col("x") + i * 1000), root)
    val (df, read, total) = GraftTable.readBox(spark, root, 0, 0, 99, 100)
    assert(df.count() == 200)
    assert(total >= 4 && read < total,
      s"expected file pruning: read $read of $total")
    // miss everything: zero files read, empty result, schema intact
    val (miss, r2, _) = GraftTable.readBox(spark, root, 5e6, 5e6, 6e6, 6e6)
    assert(r2 == 0 && miss.count() == 0 && miss.columns.contains("order_key"))
  }

  test("footer-derived manifest stats equal a row scan of the data files") {
    val root = freshRoot()
    GraftTable.commit(cloud(5000).repartition(5), root) // several files
    val m = GraftTable.manifests(spark, root).collect()
    assert(m.length >= 2)
    for (r <- m) {
      val f = spark.read.parquet(r.getAs[String]("path"))
      val a = f.agg(count(lit(1)), min("x"), max("x"), min("y"), max("y"),
        min("order_key"), max("order_key")).head
      assert(r.getAs[Long]("rows") == a.getLong(0))
      assert(r.getAs[Double]("min_x") == a.getDouble(1))
      assert(r.getAs[Double]("max_x") == a.getDouble(2))
      assert(r.getAs[Double]("min_y") == a.getDouble(3))
      assert(r.getAs[Double]("max_y") == a.getDouble(4))
      assert(r.getAs[Long]("min_key") == a.getLong(5))
      assert(r.getAs[Long]("max_key") == a.getLong(6))
    }
    // a commit without x/y columns -> NULL bbox stats (prunable exactly)
    import spark.implicits._
    GraftTable.commit(Seq((1L, "a")).toDF("order_key", "tag"), root)
    val m2 = GraftTable.manifests(spark, root)
      .filter(col("min_x").isNull).collect()
    assert(m2.length == 1 && m2.head.getAs[Long]("min_key") == 1L)
  }

  test("orphaned data/manifest files from a crashed commit are invisible") {
    val root = freshRoot()
    GraftTable.commit(cloud(100), root)
    // simulate a crash after step 2 (files + manifest on disk, no snapshot)
    cloud(999).write.mode("overwrite")
      .parquet(s"$root/manifests/m-deadbeef.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Files.list(java.nio.file.Paths.get(root, "data")).findFirst().get(),
      java.nio.file.Paths.get(root, "data", "orphan-0.parquet"))
    assert(GraftTable.read(spark, root).count() == 100)
  }

  test("schema evolution: snapshots pin their schema — new columns read " +
      "as nulls over old files, time travel reads the old schema") {
    val root = freshRoot()
    GraftTable.commit(cloud(100), root)
    GraftTable.commit(cloud(50, offX = 1000.0)
      .withColumn("w", col("order_key") * 2), root) // column added in v2
    val head = GraftTable.read(spark, root)
    assert(head.columns.contains("w") && head.count() == 150)
    assert(head.filter(col("w").isNull).count() == 100) // v1 files -> nulls
    assert(head.filter(col("w") === col("order_key") * 2).count() == 50)
    // time travel reads with v1's schema: no `w` column at all
    assert(!GraftTable.read(spark, root, asOf = Some(1)).columns.contains("w"))
    // bbox read also applies the pinned schema
    val (boxed, _, _) = GraftTable.readBox(spark, root, 0, 0, 5000, 5000)
    assert(boxed.columns.contains("w"))
    // an append MISSING the evolved column must not narrow the head
    // schema: `w` survives (null over the new file's rows)
    GraftTable.commit(cloud(25, offX = 2000.0), root)
    val head3 = GraftTable.read(spark, root)
    assert(head3.columns.contains("w") && head3.count() == 175)
    assert(head3.filter(col("w").isNull).count() == 125)
    // a type conflict on a shared column fails loudly BEFORE the CAS:
    // no snapshot lands, the head is unchanged
    val vBefore = GraftTable.currentVersion(root)
    intercept[IllegalArgumentException] {
      GraftTable.commit(cloud(5).withColumn("w", lit("not-a-long")), root)
    }
    assert(GraftTable.currentVersion(root) == vBefore)
    assert(GraftTable.read(spark, root).count() == 175)
    // vacuum keeps the schema files of surviving snapshots readable
    GraftTable.expireSnapshots(spark, root, keepLast = 1, orphanGraceMs = 0)
    assert(GraftTable.read(spark, root).filter(col("w").isNull).count() == 125)
  }

  test("compact rewrites the head into fewer files; rows identical; history preserved") {
    val root = freshRoot()
    for (i <- 0 until 5) GraftTable.commit(cloud(100, offX = i * 1000.0), root)
    val before = GraftTable.read(spark, root)
    val beforeRows = before.orderBy("order_key", "x").collect().toSeq
    val filesBefore = GraftTable.manifests(spark, root).count()
    val v = GraftTable.compact(spark, root, numFiles = 1)
    assert(v == 6)
    val after = GraftTable.read(spark, root)
    assert(after.orderBy("order_key", "x").collect().toSeq == beforeRows)
    assert(GraftTable.manifests(spark, root).count() < filesBefore)
    // pre-compaction snapshot still time-travels
    assert(GraftTable.read(spark, root, asOf = Some(5)).count() == 500)
  }

  test("expireSnapshots + vacuum: expired versions gone, orphans deleted, head intact") {
    val root = freshRoot()
    for (i <- 0 until 4) GraftTable.commit(cloud(100, offX = i * 1000.0), root)
    GraftTable.compact(spark, root) // v5 references only its own files
    val dataBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "data")).count()
    val deleted = GraftTable.expireSnapshots(spark, root, keepLast = 1, orphanGraceMs = 0)
    assert(deleted > 0)
    val dataAfter = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "data")).count()
    assert(dataAfter < dataBefore)
    assert(GraftTable.read(spark, root).count() == 400) // head unchanged
    intercept[IllegalArgumentException] { // expired version unreadable
      GraftTable.read(spark, root, asOf = Some(2)).count()
    }
    // a second vacuum is a no-op: nothing live was swept
    assert(GraftTable.expireSnapshots(spark, root, keepLast = 1, orphanGraceMs = 0) == 0)
  }

  test("commitIfAbsent is idempotent per tag (streaming exactly-once replay)") {
    val root = freshRoot()
    val v1 = GraftTable.commitIfAbsent(cloud(100), root, tag = "batch-0")
    val v1b = GraftTable.commitIfAbsent(cloud(100), root, tag = "batch-0") // replay
    assert(v1 == 1 && v1b == 1)
    assert(GraftTable.read(spark, root).count() == 100) // not doubled
    val v2 = GraftTable.commitIfAbsent(cloud(50), root, tag = "batch-1")
    assert(v2 == 2 && GraftTable.read(spark, root).count() == 150)
  }

  test("deleteBox: copy-on-write delete rewrites only intersecting files; " +
      "history time-travels; vacuum reclaims replaced files") {
    val root = freshRoot()
    // 4 disjoint x bands, one file each -> the delete box touches exactly one
    for (i <- 0 until 4)
      GraftTable.commit(
        cloud(200).withColumn("x", col("x") + i * 1000).coalesce(1), root)
    val (v, rewritten, total) =
      GraftTable.deleteBox(spark, root, 1000, 0, 1099, 100)
    assert(v == 5 && total == 4 && rewritten == 1,
      s"expected 1 of 4 files rewritten, got $rewritten of $total")
    // band 1 (x in [1000,1099]) is fully inside the box -> 600 rows left
    val after = GraftTable.read(spark, root)
    assert(after.count() == 600)
    assert(after.filter(col("x") >= 1000 && col("x") <= 1099).count() == 0)
    // untouched bands byte-identical (their manifest rows carried forward)
    assert(after.filter(col("x") < 1000).count() == 200)
    // pre-delete snapshot still reads all 800 rows
    assert(GraftTable.read(spark, root, asOf = Some(4)).count() == 800)
    // a partial delete keeps the survivors of the rewritten file
    val (_, rw2, _) = GraftTable.deleteBox(spark, root, 0, 0, 49, 100)
    assert(rw2 == 1)
    val after2 = GraftTable.read(spark, root)
    assert(after2.filter(col("x") < 1000).count() ==
      cloud(200).filter(col("x") >= 50).count())
    // a miss is a no-op: head unchanged, nothing rewritten
    val head = GraftTable.currentVersion(root)
    val (v3, rw3, _) = GraftTable.deleteBox(spark, root, 5e6, 5e6, 6e6, 6e6)
    assert(v3 == head && rw3 == 0)
    // metadata aggregates stay exact across deletes: rewritten files got
    // fresh footer stats, carried-forward files kept exact ones
    assert(GraftTable.countRows(spark, root) == after2.count())
    val (nBox, _, _) = GraftTable.countBox(spark, root, 0, 0, 5000, 5000)
    assert(nBox == after2.count())
    // vacuum after expiry physically drops the replaced band-1 files
    GraftTable.expireSnapshots(spark, root, keepLast = 1, orphanGraceMs = 0)
    assert(GraftTable.read(spark, root).count() == after2.count())
  }

  test("deleteBox aborts on a concurrent commit instead of dropping its files") {
    val root = freshRoot()
    GraftTable.commit(cloud(100), root)
    // plan the delete against v1, then land a concurrent append before
    // the CAS by racing: simulate via a commit between planning and
    // allocate — deleteBox re-reads the head inside the CAS loop, so a
    // head moved past the planning version must abort. Drive it by
    // running both concurrently until the abort is observed (the
    // interleaving is forced by the CAS loop's parent check, not luck:
    // any commit that lands first moves the head and trips it).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val del = Future(GraftTable.deleteBox(spark, root, 0, 0, 50, 100))
    val add = Future(GraftTable.commit(cloud(10, offX = 5000.0), root))
    Await.ready(Future.sequence(Seq(
      del.map(_ => ()).recover { case _ => () },
      add.map(_ => ()).recover { case _ => () })), 120.seconds)
    // either ordering is legal; what is NOT legal is a delete that
    // committed while silently losing the append's rows
    val rows = GraftTable.read(spark, root).count()
    val delWon = del.value.get.isSuccess
    if (delWon && add.value.get.isSuccess)
      assert(rows == cloud(100).filter(col("x") > 50).count() + 10)
    else if (delWon) assert(rows == cloud(100).filter(col("x") > 50).count())
    else assert(rows == 110) // delete aborted, append intact
  }

  test("commitClustered: z-ordered files give sharp footer bboxes -> " +
      "fewer files opened than an unclustered commit of the same rows") {
    val root1 = freshRoot(); val root2 = freshRoot()
    // scattered points: every hash partition spans the whole extent
    val pts = spark.range(20000).select(
      col("id").as("order_key"),
      ((col("id") * 7919) % 10000).cast("double").as("x"),
      ((col("id") * 104729) % 10000).cast("double").as("y"))
      .repartition(16)
    GraftTable.commit(pts, root1)
    GraftTable.commitClustered(pts, root2, cellSize = 500.0, numFiles = 16)
    val (a, readPlain, totPlain) =
      GraftTable.readBox(spark, root1, 2000, 2000, 3000, 3000)
    val (b, readClus, totClus) =
      GraftTable.readBox(spark, root2, 2000, 2000, 3000, 3000)
    assert(totPlain == 16 && totClus == 16)
    // identical rows either way (clustering is row-invisible)
    assert(a.orderBy("order_key").collect().toSeq ==
      b.orderBy("order_key").collect().toSeq)
    // unclustered: every file covers the extent -> no pruning possible;
    // clustered: the 1k x 1k box must skip most of the 16 files
    assert(readPlain == totPlain, s"scattered layout should not prune")
    assert(readClus <= totClus / 2,
      s"z-order should prune: read $readClus of $totClus")
  }

  test("racing committers: every version is owned by exactly one commit, no rows lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    val versions = Await.result(Future.sequence((1 to 6).map { i =>
      Future(GraftTable.commit(
        cloud(50).withColumn("order_key", col("order_key") + i * 1000), root))
    }), 120.seconds).toList
    assert(versions.sorted == (1 to 6).toList, s"versions: $versions")
    assert(GraftTable.currentVersion(root) == 6)
    assert(GraftTable.read(spark, root).count() == 300)
    // each historical snapshot sees exactly its prefix of the appends
    for (v <- 1 to 6)
      assert(GraftTable.read(spark, root, asOf = Some(v)).count() == 50L * v)
  }

  test("upsert: copy-on-write by key rewrites only files whose key interval " +
      "holds an update key; inserts append; duplicates rejected") {
    val root = freshRoot()
    // key-banded commits -> disjoint manifest key intervals per file
    def band(lo: Int, hi: Int) = spark.range(lo, hi).select(
      col("id").as("order_key"), (col("id") % 100).cast("double").as("x"),
      lit(0.0).as("y"), lit(1.0).as("value"))
    for (b <- 0 until 4) GraftTable.commit(band(b * 1000, (b + 1) * 1000), root)
    val preUpsert = GraftTable.currentVersion(root)
    // delta: update 50 keys inside band 2, insert 10 brand-new keys
    val delta = spark.range(2100, 2150).select(col("id").as("order_key"),
        lit(-1.0).as("x"), lit(-1.0).as("y"), lit(9.0).as("value"))
      .unionByName(spark.range(9000, 9010).select(col("id").as("order_key"),
        lit(5.0).as("x"), lit(5.0).as("y"), lit(7.0).as("value")))
    val (v, rewritten, total) = GraftTable.upsert(spark, root, delta)
    assert(rewritten < total, s"expected key-interval pruning: $rewritten of $total")
    val head = GraftTable.read(spark, root)
    assert(head.count() == 4010)
    assert(head.filter(col("value") === 9.0).count() == 50)
    assert(head.filter(col("order_key") >= 9000).count() == 10)
    // untouched bands carry their original values
    assert(head.filter(col("order_key") < 2000 && col("value") =!= 1.0).count() == 0)
    // time travel across the upsert
    assert(GraftTable.read(spark, root, asOf = Some(preUpsert)).count() == 4000)
    assert(GraftTable.read(spark, root, asOf = Some(preUpsert))
      .filter(col("value") === 9.0).count() == 0)
    assert(v == preUpsert + 1)
    // metadata aggregates stay exact across the upsert: the updated rows
    // moved x to -1, which must surface in the manifest-derived extent
    assert(GraftTable.countRows(spark, root) == 4010)
    assert(GraftTable.extent(spark, root)._1 == -1.0)
    // duplicate keys in the delta fail loudly
    val dup = delta.unionByName(delta.limit(1))
    val e = intercept[IllegalArgumentException] {
      GraftTable.upsert(spark, root, dup)
    }
    assert(e.getMessage.contains("duplicate"))
    // an upsert rewrites manifests, so incremental reads crossing it are
    // undefined and must fail loudly (same contract as delete/compaction)
    intercept[IllegalStateException] {
      GraftTable.readIncremental(spark, root, fromVersion = preUpsert)
    }
    // a pure-insert delta that touches no files and lacks a base column
    // must not narrow the pinned schema: `value` survives as a column
    // (null on the inserted rows), and extra delta columns evolve in
    val ins = spark.range(30000, 30005).select(col("id").as("order_key"),
      lit(2.0).as("x"), lit(2.0).as("y"), lit("new").as("tagcol"))
    val (vIns, rw2, _) = GraftTable.upsert(spark, root, ins,
      tag = Some("cdc-batch-1"))
    assert(rw2 == 0L)
    // tagged replay (crashed CDC consumer): same version back, no new
    // snapshot, head unchanged
    val (vReplay, _, _) = GraftTable.upsert(spark, root, ins,
      tag = Some("cdc-batch-1"))
    assert(vReplay == vIns && GraftTable.currentVersion(root) == vIns)
    val head2 = GraftTable.read(spark, root)
    assert(head2.columns.contains("value") && head2.columns.contains("tagcol"))
    assert(head2.filter(col("order_key") >= 30000 && col("value").isNull)
      .count() == 5)
    assert(head2.filter(col("tagcol") === "new").count() == 5)
  }

  test("upsert hardening: non-order_key keys skip the order_key interval " +
      "prune; null keys and type conflicts fail loudly; legacy 8-column " +
      "manifests still read") {
    val root = freshRoot()
    // doc_key runs OPPOSITE to order_key, so order_key interval pruning
    // applied to a doc_key upsert would match the WRONG files and leave
    // the stale row in place (the ADVICE scenario)
    def f(lo: Int, hi: Int) = spark.range(lo, hi).select(
      col("id").as("order_key"), (lit(10000) - col("id")).as("doc_key"),
      lit(1.0).as("x"), lit(1.0).as("y"), lit(1.0).as("value"))
    GraftTable.commit(f(0, 1000), root)
    GraftTable.commit(f(1000, 2000), root)
    // the delta row's order_key (99999) intersects NO file's order_key
    // interval — pruning on it would rewrite nothing and duplicate the key
    val delta = spark.range(1).select(lit(99999L).as("order_key"),
      lit(9500L).as("doc_key"), lit(2.0).as("x"), lit(2.0).as("y"),
      lit(42.0).as("value"))
    val (_, rewritten, total) =
      GraftTable.upsert(spark, root, delta, keyCol = "doc_key")
    assert(rewritten == total,
      "no manifest stats exist for doc_key: the only sound plan is a full rewrite")
    val head = GraftTable.read(spark, root)
    assert(head.count() == 2000, "replaced, not duplicated")
    val r9500 = head.filter(col("doc_key") === 9500).collect()
    assert(r9500.length == 1 && r9500.head.getAs[Double]("value") == 42.0)
    // null keys bypass the merge contract -> rejected loudly
    val nullKey = spark.range(1).select(lit(null).cast("long").as("order_key"),
      lit(0L).as("doc_key"), lit(0.0).as("x"), lit(0.0).as("y"),
      lit(0.0).as("value"))
    val eN = intercept[IllegalArgumentException](
      GraftTable.upsert(spark, root, nullKey))
    assert(eN.getMessage.contains("null"))
    // a shared column with a conflicting type fails BEFORE the union can
    // silently coerce and re-pin the table's column type
    val badType = spark.range(1).select(lit(7L).as("order_key"),
      lit(7L).as("doc_key"), lit(0.0).as("x"), lit(0.0).as("y"),
      lit("oops").as("value"))
    val eT = intercept[IllegalArgumentException](
      GraftTable.upsert(spark, root, badType))
    assert(eT.getMessage.contains("type"))
    // legacy manifest (pre-nulls_xy revision): drop the column from one
    // manifest in place — reads must surface nulls_xy as null (explicit
    // manifest schema), not nondeterministically fail analysis
    val mans = GraftTable.snapshot(root, GraftTable.currentVersion(root)).manifests
    mans.foreach { mp =>
      val legacy = spark.read.parquet(mp).drop("nulls_xy")
      val rows = legacy.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows), legacy.schema)
        .repartition(1).write.mode("overwrite").parquet(mp)
    }
    assert(GraftTable.countRows(spark, root) == 2000)
    // unknown null counts route the legacy files to the exact scan path
    val (cnt, scanned, _) = GraftTable.countBox(spark, root, 0, 0, 10, 10)
    assert(cnt == 2000)
    assert(scanned >= 1, "legacy files (unknown nulls_xy) must be scanned, not trusted")
  }

  test("manifest auto-merge: many small appends keep the head's manifest " +
      "count bounded, touch no data files, and incremental reads survive " +
      "the merge boundary") {
    val root = freshRoot()
    import scala.jdk.CollectionConverters._
    def one(i: Int) = spark.range(i * 10, (i + 1) * 10).coalesce(1).select(
      col("id").as("order_key"), (col("id") % 7).cast("double").as("x"),
      (col("id") % 5).cast("double").as("y"))
    def dataFiles(): Set[String] = {
      val d = java.nio.file.Paths.get(root, "data")
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }
    // 30 single-file appends with a threshold of 8: without merging, the
    // head would union 30 manifests; the auto-merge caps it at <= 9
    for (i <- 0 until 30)
      GraftTable.commit(one(i), root, mergeAbove = 8)
    val head = GraftTable.currentVersion(root)
    assert(GraftTable.snapshot(root, head).manifests.size <= 9,
      s"auto-merge must bound the manifest count (got ${
        GraftTable.snapshot(root, head).manifests.size})")
    assert(GraftTable.countRows(spark, root) == 300)
    assert(GraftTable.read(spark, root).count() == 300)
    // history intact: a pre-merge version still time-travels exactly
    assert(GraftTable.read(spark, root, asOf = Some(5)).count() == 50)
    // explicit rewrite_manifests: one manifest after, SAME data files
    val before = dataFiles()
    val v2 = GraftTable.rewriteManifests(spark, root)
    assert(v2 == head + 1)
    assert(GraftTable.snapshot(root, v2).manifests.size == 1)
    assert(dataFiles() == before, "manifest merge must be metadata-only")
    assert(GraftTable.read(spark, root).count() == 300)
    // idempotent on an already-merged head
    assert(GraftTable.rewriteManifests(spark, root) == v2)
    // incremental read ACROSS merge boundaries: a consumer checkpointed
    // before merges still gets exactly the appended rows (file-set diff)
    val cpV = 10 // head was at v10 after 10 appends
    GraftTable.commit(one(100), root, mergeAbove = 8) // rows 1000..1009
    val inc = GraftTable.readIncremental(spark, root, fromVersion = cpV)
    assert(inc.count() == 210, // appends 11..30 (200 rows) + the new 10
      s"file-set incremental across merges must be exact (got ${inc.count()})")
    assert(inc.agg(min("order_key")).head.getLong(0) == 100)
    // a history that truly drops files still fails loudly
    GraftTable.compact(spark, root, numFiles = 2)
    intercept[IllegalStateException] {
      GraftTable.readIncremental(spark, root, fromVersion = cpV)
    }
  }

  test("metadata aggregates: countRows/extent with zero data I/O; countBox " +
      "scans only boundary files; null coordinates route to the scan path") {
    val root = freshRoot()
    // z-order-clustered layout so interior files are fully contained in
    // a big box and countBox's metadata fast path actually engages
    GraftTable.commitClustered(
      spark.range(4000).select(col("id").as("order_key"),
        (col("id") % 64).cast("double").as("x"),
        ((col("id") / 64) % 64).cast("double").as("y")),
      root, cellSize = 4.0, numFiles = 16)
    assert(GraftTable.countRows(spark, root) == 4000)
    val (mnx, mxx, mny, mxy) = GraftTable.extent(spark, root)
    val ref = GraftTable.read(spark, root)
      .agg(min("x"), max("x"), min("y"), max("y")).head
    assert((mnx, mxx, mny, mxy) ==
      (ref.getDouble(0), ref.getDouble(1), ref.getDouble(2), ref.getDouble(3)))
    // box covering most of the extent: interior files count from
    // metadata, only the shell is scanned
    val (n, scanned, total) = GraftTable.countBox(spark, root, 1, 1, 62, 62)
    val brute = GraftTable.read(spark, root)
      .filter(col("x").between(1, 62) && col("y").between(1, 62)).count()
    assert(n == brute, s"countBox $n != scan $brute")
    assert(scanned < total, s"expected metadata fast path: scanned $scanned of $total")
    // a commit with null coordinates inside the box: nulls_xy != 0 bars
    // the metadata fast path for that file, and the scan's residual
    // drops the null rows — count stays exact
    GraftTable.commit(
      spark.range(100).select((col("id") + 10000).as("order_key"),
        when(col("id") % 2 === 0, (col("id") % 50).cast("double")).as("x"),
        lit(30.0).as("y")),
      root)
    val (n2, _, _) = GraftTable.countBox(spark, root, 1, 1, 62, 62)
    val brute2 = GraftTable.read(spark, root)
      .filter(col("x").between(1, 62) && col("y").between(1, 62)).count()
    assert(n2 == brute2, s"null-coord countBox $n2 != scan $brute2")
    // time travel: the pre-append snapshot still counts only its own rows
    assert(GraftTable.countRows(spark, root, asOf = Some(1)) == 4000)
  }

  test("DataSource V2: format(\"graft\") reads head and time-travel " +
      "snapshots and equals the object API") {
    val root = freshRoot()
    GraftTable.commit(cloud(1000), root)
    GraftTable.commit(cloud(500, offX = 1000.0), root)
    val v2 = spark.read.format("graft").load(root)
    assert(v2.count() == 1500)
    assert(v2.schema == GraftTable.read(spark, root).schema)
    val tt = spark.read.format("graft").option("asof", 1).load(root)
    assert(tt.count() == 1000)
    // value-level equality with the object API on a projected sort
    val a = v2.select("order_key", "x").orderBy("order_key", "x")
      .collect().toSeq
    val b = GraftTable.read(spark, root).select("order_key", "x")
      .orderBy("order_key", "x").collect().toSeq
    assert(a == b)
    // empty table loads fail loudly like the object API
    intercept[Exception](
      spark.read.format("graft").load(freshRoot()).collect())
  }

  test("DataSource V2: bbox + key predicates prune files through the " +
      "pushdown path; inner scan sees pushed filters and pruned schema") {
    val root = freshRoot()
    for (i <- 0 until 4)
      GraftTable.commit(cloud(200).withColumn("x", col("x") + i * 1000), root)
    val df = spark.read.format("graft").load(root)
      .filter(col("x") >= 0 && col("x") <= 99)
      .select("order_key", "x")
    assert(df.count() == 200)
    val Seq((read, total)) = GraftDataSource.pruneOf(df)
    assert(total >= 4 && read < total,
      s"expected V2 file pruning: read $read of $total")
    // the counts belong to this query: its own plan shows them
    assert(df.queryExecution.executedPlan.toString.contains(s"files=$read/$total"))
    // the prune is planned on the driver: planning a scan launches no job
    val fresh = spark.read.format("graft").load(root).filter(col("x") <= 99)
    assert(jobsOf(GraftDataSource.pruneOf(fresh)) == 0)
    // the V2 scan advertises the pushdown in the optimized plan
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("RelationV2") || plan.contains("graft"),
      s"expected a V2 relation in:\n$plan")
    // a miss-everything box prunes ALL files and still returns the schema
    val miss = spark.read.format("graft").load(root)
      .filter(col("x") >= 5e6 && col("x") <= 6e6)
    assert(miss.count() == 0)
    assert(GraftDataSource.pruneOf(miss).map(_._1) == Seq(0L))
    assert(miss.columns.contains("order_key"))
    // order_key interval pruning via min_key/max_key (disjoint per commit
    // band? keys repeat per commit -> no pruning guarantee; use a
    // key-banded table instead)
    val kroot = freshRoot()
    for (i <- 0 until 4)
      GraftTable.commit(cloud(100).withColumn("order_key",
        col("order_key") + i * 1000), kroot)
    val kdf = spark.read.format("graft").load(kroot)
      .filter(col("order_key") >= 3000L)
    assert(kdf.count() == 100)
    val Seq((kread, ktotal)) = GraftDataSource.pruneOf(kdf)
    assert(ktotal >= 4 && kread < ktotal,
      s"expected key-interval pruning: read $kread of $ktotal")
    // equality between the pruned V2 read and an unpruned full filter
    val exp = GraftTable.read(spark, kroot)
      .filter(col("order_key") >= 3000L).orderBy("order_key").collect().toSeq
    assert(kdf.orderBy("order_key").collect().toSeq == exp)
    // key stats compare as longs: a double would round max_key 2^53+1
    // down to 2^53 and prune the only file holding the matching row
    val broot = freshRoot()
    GraftTable.commit(cloud(10).withColumn("order_key",
      col("order_key") + ((1L << 53) - 8)), broot)
    val big = spark.read.format("graft").load(broot)
      .filter(col("order_key") > (1L << 53)).select("order_key")
      .collect().map(_.getLong(0)).toSeq
    assert(big == Seq((1L << 53) + 1), s"got $big")
  }

  test("DataSource V2: a nested field read through format(\"graft\") " +
      "binds the right struct field and equals the object API") {
    val root = freshRoot()
    GraftTable.commit(cloud(300).withColumn("s", struct(
      col("order_key").as("a"), concat(lit("b"), col("order_key")).as("b"))), root)
    // nested pruning may hand the scan builder s{b} while the scan emits
    // whole top-level columns; the read schema must describe those rows
    val v2 = spark.read.format("graft").load(root).select("s.b")
      .collect().map(_.getString(0)).sorted.toSeq
    val obj = GraftTable.read(spark, root).select("s.b")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(obj.size == 300 && obj.head.startsWith("b"))
    assert(v2 == obj)
  }

  test("DataSource V2 property: a filtered format(\"graft\") read equals " +
      "the filtered object read as a multiset of rows") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    val root = freshRoot()
    val top = 1L << 53
    // x has nulls, and NaNs where `nan` (parquet then keeps no x stats,
    // so the file's manifest carries the infinite sentinel)
    def frame(keys: org.apache.spark.sql.Dataset[_], nan: Boolean = false) =
      keys.select(col("id").as("order_key"),
        when(col("id") % 11 === 0, lit(null))
          .when(lit(nan) && col("id") % 3 === 0, lit(Double.NaN))
          .otherwise((col("id") % 100).cast("double")).as("x"),
        (col("id") % 37).cast("double").as("y"),
        struct((col("id") % 7).as("a"), col("id").cast("string").as("b")).as("s"))
    GraftTable.commit(frame(spark.range(200)).repartition(2), root)
    GraftTable.commit(frame(spark.range(200, 300), nan = true).coalesce(1), root)
    // keys straddling 2^53, where a double would round them together
    GraftTable.commit(frame(spark.range(top - 12, top + 12)).repartition(2), root)
    // no y and no s
    GraftTable.commit(spark.range(1000, 1030).select(col("id").as("order_key"),
      (col("id") - 1015.0).as("x")).coalesce(1), root)
    assert(GraftTable.countRows(spark, root) == 354 &&
      GraftTable.manifests(spark, root).count() == 6)

    // literals hit stored values (halves of integers); x is drawn more
    // often, half of its literals the doubles whose order the manifest
    // stats must respect (Spark sorts NaN above +Inf)
    val lits: Seq[(Int, (String, Gen[Any]))] = Seq(
      1 -> ("order_key" -> Gen.oneOf(Gen.choose(-5L, 320L),
        Gen.choose(top - 15, top + 15), Gen.choose(995L, 1035L))),
      3 -> ("x" -> Gen.oneOf(Gen.choose(-40, 220).map(_ / 2.0), Gen.oneOf(0.0, -0.0,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))),
      1 -> ("y" -> Gen.choose(-4, 80).map(_ / 2.0)),
      1 -> ("s.a" -> Gen.choose(-1L, 8L)))
    val atom: Gen[org.apache.spark.sql.Column] = for {
      (name, lit0) <- Gen.frequency(lits.map { case (w, l) => (w, Gen.const(l)) }: _*)
      op <- Gen.choose(0, 6)
      v <- lit0
      vs <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, lit0))
    } yield {
      val c = col(name)
      op match {
        case 0 => c === lit(v)
        case 1 => c < lit(v)
        case 2 => c <= lit(v)
        case 3 => c > lit(v)
        case 4 => c >= lit(v)
        case 5 => c.isin(vs: _*)
        case _ => c.isNotNull
      }
    }
    val predicate = Gen.frequency(2 -> 1, 2 -> 2, 1 -> 3)
      .flatMap(Gen.listOfN(_, atom)).map(_.reduce(_ && _))
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    def agrees(p: org.apache.spark.sql.Column) =
      bag(spark.read.format("graft").load(root).filter(p)) ==
        bag(GraftTable.read(spark, root).filter(p))
    // the predicates a +Inf upper stat must not prune: only NaN rows match
    for (p <- Seq(col("x") === Double.NaN, col("x") >= Double.NaN,
        col("x") > Double.PositiveInfinity, col("x").isin(Double.NaN)))
      assert(agrees(p), s"filter $p")
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(100).withWorkers(1)
        .withInitialSeed(Some(Seed(20261019L))),
      Prop.forAllNoShrink(predicate)(p => Prop(agrees(p)) :| s"filter $p"))
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  /** The Spark-side manifest read the driver reader replaced: the oracle
    * `GraftTable.entries` is checked against. */
  private def sparkManifestRows(paths: Seq[String]) =
    spark.read.schema(GraftTable.manifestSchema).parquet(paths: _*)
      .collect().toSeq.sortBy(_.getString(0))

  /** Every snapshot's driver-read entries equal the Spark read of its
    * manifests, field by field (Row equality compares doubles bitwise). */
  private def assertEntriesMatchSpark(root: String): Unit =
    for (v <- 1 to GraftTable.currentVersion(root)) {
      val paths = GraftTable.snapshot(root, v).manifests
      val got = GraftTable.entries(spark, paths).map(_.toRow).sortBy(_.getString(0))
      val want = sparkManifestRows(paths)
      assert(got.nonEmpty && got == want, s"v$v entries differ from the Spark read")
    }

  /** Rewrites every manifest of the head snapshot with Spark, as tables
    * written before manifests moved to the driver have them: a directory
    * of part files, 8 columns (no nulls_xy) when `legacy`. */
  private def sparkRewriteManifests(root: String, legacy: Boolean): Unit =
    GraftTable.snapshot(root, GraftTable.currentVersion(root)).manifests.foreach { mp =>
      val m = spark.createDataFrame(
        spark.sparkContext.parallelize(sparkManifestRows(Seq(mp))),
        GraftTable.manifestSchema)
      (if (legacy) m.drop("nulls_xy") else m).repartition(1)
        .write.mode("overwrite").parquet(mp)
    }

  test("driver manifest reader equals the Spark manifest read: multi-file, " +
      "null-stat, NaN-stat, legacy, Spark-written, merged and 2^53+1-key " +
      "manifests; a Spark-written table reads the same") {
    val root = freshRoot()
    GraftTable.commit(cloud(3000).repartition(3), root) // several files
    import spark.implicits._
    GraftTable.commit(Seq((7L, "a")).toDF("order_key", "tag"), root) // no x/y
    // a NaN x: parquet keeps no usable x stats, so the entry carries the
    // always-read infinite interval
    GraftTable.commit(Seq((8L, Double.NaN, 1.0), (9L, 2.0, 3.0))
      .toDF("order_key", "x", "y").coalesce(1), root)
    val big = (1L << 53) + 1
    GraftTable.commit(Seq((big, 1.0, 1.0)).toDF("order_key", "x", "y"), root)
    assertEntriesMatchSpark(root)
    val es = GraftTable.entries(spark, GraftTable.snapshot(root, 4).manifests)
    assert(es.count(_.minX.isEmpty) == 1 && es.exists(_.minKey.contains(7L)))
    assert(es.exists(e => e.minX.contains(Double.NegativeInfinity) &&
      e.maxX.contains(Double.PositiveInfinity)))
    assert(es.exists(e => e.minKey.contains(big) && e.maxKey.contains(big)),
      "order_key 2^53+1 must stay exact")
    assert(GraftTable.manifests(spark, root).schema == GraftTable.manifestSchema)
    // an auto-merged manifest, written by the driver from the entries
    GraftTable.commit(cloud(10, offX = 500.0), root, mergeAbove = 2)
    assert(GraftTable.snapshot(root, 5).manifests.size == 1)
    assertEntriesMatchSpark(root)

    // the same table with Spark-written manifests (9 columns, then the
    // legacy 8) answers every read the same
    def answers() = (
      GraftTable.read(spark, root).orderBy("order_key", "x").collect().toSeq,
      GraftTable.readBox(spark, root, 0, 0, 50, 20)._1.orderBy("order_key", "x")
        .collect().toSeq,
      GraftTable.countBox(spark, root, 0, 0, 50, 20)._1,
      GraftTable.countRows(spark, root),
      GraftTable.read(spark, root, asOf = Some(2)).count())
    val before = answers()
    sparkRewriteManifests(root, legacy = false)
    assertEntriesMatchSpark(root)
    assert(answers() == before)
    sparkRewriteManifests(root, legacy = true)
    assertEntriesMatchSpark(root)
    assert(GraftTable.entries(spark, GraftTable.snapshot(root, 5).manifests)
      .forall(_.nullsXy.isEmpty))
    assert(answers() == before)
    // an upsert over the legacy manifests keeps every other row
    val (_, rewritten, total) = GraftTable.upsert(spark, root,
      Seq((big, 5.0, 5.0)).toDF("order_key", "x", "y"))
    assert(rewritten >= 1 && rewritten < total)
    assert(GraftTable.countRows(spark, root) == before._4)
    assert(GraftTable.read(spark, root).filter(col("order_key") === big)
      .select("x").as[Double].collect().toSeq == Seq(5.0))
    assertEntriesMatchSpark(root)
  }

  test("table metadata is planned on the driver: readBox, countBox, " +
      "countRows, extent and manifest filters launch no job; commits and " +
      "deletes read their footers with no job") {
    val root = freshRoot()
    for (i <- 0 until 4)
      GraftTable.commit(cloud(200).withColumn("x", col("x") + i * 1000), root)
    assert(jobsOf(GraftTable.readBox(spark, root, 0, 0, 99, 100)) == 0)
    assert(jobsOf(GraftTable.readBox(spark, root, 5e6, 5e6, 6e6, 6e6)) == 0)
    var counted = (-1L, -1L, -1L)
    // a box containing every file counts from metadata alone
    assert(jobsOf { counted = GraftTable.countBox(spark, root, -1, -1, 1e4, 1e4) } == 0)
    assert(counted._1 == 800 && counted._2 == 0)
    assert(jobsOf { counted = GraftTable.countBox(spark, root, 5e6, 5e6, 6e6, 6e6) } == 0)
    assert(counted._1 == 0 && counted._2 == 0)
    assert(jobsOf(GraftTable.countRows(spark, root)) == 0)
    assert(jobsOf(GraftTable.extent(spark, root)) == 0)
    assert(jobsOf(GraftTable.manifests(spark, root)
      .filter(col("min_x") >= 1000).select("path").collect()) == 0)
    // a commit launches exactly the jobs of writing its frame: the
    // manifest comes from footers read on the driver
    val frame = cloud(100, offX = 5000.0)
    val scratch = java.nio.file.Files.createTempDirectory("graft-write-").toString
    val writeJobs = jobsOf(frame.write.mode("overwrite").parquet(scratch))
    assert(writeJobs >= 1 && jobsOf(GraftTable.commit(frame, root)) == writeJobs)
    assert(GraftTable.countRows(spark, root) == 900)
    // nor does a copy-on-write delete run a footer job
    val sc = spark.sparkContext
    val stages = jobIdsOf(GraftTable.deleteBox(spark, root, 0, 0, 49, 100))
      .flatMap(sc.statusTracker.getJobInfo(_).get.stageIds.toSeq)
      .map(sc.statusTracker.getStageInfo(_).get.name)
    assert(stages.nonEmpty && !stages.exists(_.startsWith("collect at GraftTable")),
      s"deleteBox stages: $stages")
    assert(GraftTable.countRows(spark, root) == 800)
  }
}
