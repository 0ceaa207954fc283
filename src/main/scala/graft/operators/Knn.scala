package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.expr.DimRange

/** One kNN hit: squared distance, candidate order_key, carried value and
  * the candidate's coordinates. Ordering (d2, cid) makes top-k
  * deterministic at any parallelism. */
case class Hit(d2: Double, cid: Long, v: Double, x: Double, y: Double, z: Double)

/** A kNN result and its query-row count when the join already held one
  * (see [[KnnJoin.knn]]): what [[KnnJoin.attach]] sizes its broadcast by.
  * `openAfterRound` holds the queries still open after each distributed
  * round (empty on the broadcast path) and `saltedSupercells` the hot
  * supercells the first round salted: the counts of this call alone. */
final case class KnnResult(rows: DataFrame, queryRows: Option[Long],
    openAfterRound: Seq[Long] = Nil, saltedSupercells: Int = 0)

/** The one insertion top-k of every kNN path: the k best candidates
  * offered so far, ascending by (d2, cid). (d2, cid) is a total order
  * over distinct cids, so the result does not depend on the order the
  * candidates are offered in. */
private[operators] final class TopK(k: Int) {
  private val bd = new Array[Double](k); private val bc = new Array[Long](k)
  private val bv = new Array[Double](k)
  private val bx = new Array[Double](k); private val by = new Array[Double](k)
  private val bz = new Array[Double](k)
  private var cnt = 0
  private var kth = 0.0 // bd(k - 1) once full

  /** A small rejection test that inlines into hot loops; insertion is a call. */
  def offer(d2: Double, c: Long, v: Double, x: Double, y: Double, z: Double): Unit =
    if (cnt < k || d2 < kth || (d2 == kth && c < bc(k - 1))) insert(d2, c, v, x, y, z)

  private def insert(d2: Double, c: Long, v: Double,
      x: Double, y: Double, z: Double): Unit = {
    var p = if (cnt < k) cnt else k - 1
    while (p > 0 && (bd(p - 1) > d2 || (bd(p - 1) == d2 && bc(p - 1) > c))) {
      bd(p) = bd(p - 1); bc(p) = bc(p - 1); bv(p) = bv(p - 1)
      bx(p) = bx(p - 1); by(p) = by(p - 1); bz(p) = bz(p - 1)
      p -= 1
    }
    bd(p) = d2; bc(p) = c; bv(p) = v; bx(p) = x; by(p) = y; bz(p) = z
    if (cnt < k) cnt += 1
    kth = bd(cnt - 1)
  }

  /** Full, with the kth distance within r: no candidate farther than r
    * can change the result. */
  def finalWithin(r: Double): Boolean = cnt == k && math.sqrt(kth) <= r

  def hits: Array[Hit] = {
    val out = new Array[Hit](cnt)
    var i = 0
    while (i < cnt) { out(i) = Hit(bd(i), bc(i), bv(i), bx(i), by(i), bz(i)); i += 1 }
    out
  }
}

/** Per-cell chain index over a candidate set at cell size h, the one
  * index of every buffered kNN path: the driver-built broadcast index
  * and each supercell task. Cell keys are rebased to the
  * candidates' per-axis minimum cell, so the packing is injective while
  * every axis spans fewer than 2^21 cells (the broadcast path coarsens
  * h to guarantee it; a supercell task spans S+2 cells). */
private[operators] final class CellIndex(
    cx: Array[Double], cy: Array[Double], cz: Array[Double],
    cid: Array[Long], cv: Array[Double], h: Double) extends Serializable {
  private val n = cx.length
  private val head = new java.util.HashMap[java.lang.Long, Integer](n * 2)
  private val nxt = new Array[Int](n)
  private var minCx = Long.MaxValue; private var maxCx = Long.MinValue
  private var minCy = Long.MaxValue; private var maxCy = Long.MinValue
  private var minCz = Long.MaxValue; private var maxCz = Long.MinValue
  locally {
    var j = 0
    while (j < n) {
      val ccx = math.floor(cx(j) / h).toLong
      val ccy = math.floor(cy(j) / h).toLong
      val ccz = math.floor(cz(j) / h).toLong
      if (ccx < minCx) minCx = ccx; if (ccx > maxCx) maxCx = ccx
      if (ccy < minCy) minCy = ccy; if (ccy > maxCy) maxCy = ccy
      if (ccz < minCz) minCz = ccz; if (ccz > maxCz) maxCz = ccz
      j += 1
    }
    j = 0
    while (j < n) {
      val prev = head.put(pk(math.floor(cx(j) / h).toLong,
        math.floor(cy(j) / h).toLong, math.floor(cz(j) / h).toLong), j)
      nxt(j) = if (prev == null) -1 else prev.intValue()
      j += 1
    }
  }
  @inline private def pk(a: Long, b: Long, c: Long): Long =
    ((a - minCx) << 42) | ((b - minCy) << 21) | (c - minCz)

  /** Exact top-k by (d2, cid) over the candidates in Chebyshev cell
    * shells 0..maxRing around the query cell. A candidate outside shell
    * `ring` is farther than ring*h (|x-qx| <= ring*h implies
    * floor(x/h) <= floor(qx/h)+ring), so the walk stops once the kth
    * distance is within ring*h, or once every candidate has been seen.
    * Shells start at the query cell's Chebyshev distance to the
    * candidate cell bbox and clamp to it: the cells outside are empty. */
  def query(qx: Double, qy: Double, qz: Double, k: Int, maxRing: Long): Array[Hit] = {
    val top = new TopK(k)
    if (n > 0) {
      val qcx = math.floor(qx / h).toLong
      val qcy = math.floor(qy / h).toLong
      val qcz = math.floor(qz / h).toLong
      // fields copied to locals, which the JIT keeps in registers
      val cx = this.cx; val cy = this.cy; val cz = this.cz
      val cid = this.cid; val cv = this.cv; val head = this.head; val nxt = this.nxt
      var seen = 0
      var ring = math.max(math.max(0L, math.max(minCx - qcx, qcx - maxCx)),
        math.max(math.max(0L, math.max(minCy - qcy, qcy - maxCy)),
          math.max(0L, math.max(minCz - qcz, qcz - maxCz))))
      var done = ring > maxRing
      while (!done) {
        val x0 = math.max(qcx - ring, minCx); val x1 = math.min(qcx + ring, maxCx)
        val y0 = math.max(qcy - ring, minCy); val y1 = math.min(qcy + ring, maxCy)
        val z0 = math.max(qcz - ring, minCz); val z1 = math.min(qcz + ring, maxCz)
        var ccx = x0
        while (ccx <= x1) {
          val fx = math.abs(ccx - qcx) == ring
          var ccy = y0
          while (ccy <= y1) {
            // a column on an x or y face is all shell, any other only its z caps
            val face = fx || math.abs(ccy - qcy) == ring
            val zStep = if (face) 1L else 2 * ring
            var ccz = if (face) z0 else qcz - ring
            val zEnd = if (face) z1 else qcz + ring
            while (ccz <= zEnd) {
              if (ccz >= z0 && ccz <= z1) {
                val start = head.get(pk(ccx, ccy, ccz))
                var i = if (start == null) -1 else start.intValue()
                while (i != -1) {
                  val x = cx(i); val y = cy(i); val z = cz(i)
                  val dx = x - qx; val dy = y - qy; val dz = z - qz
                  top.offer(dx * dx + dy * dy + dz * dz, cid(i), cv(i), x, y, z)
                  seen += 1
                  i = nxt(i)
                }
              }
              ccz += zStep
            }
            ccy += 1
          }
          ccx += 1
        }
        if (seen >= n || ring >= maxRing || top.finalWithin(ring * h)) done = true
        else ring += 1
      }
    }
    top.hits
  }
}

private[operators] object CellIndex {
  /** Coarsens h until every axis spans <= ~4*cbrt(n) cells. Results are
    * exact at any h, but the shell walk costs O(ring^2) per ring even
    * over empty cells, so an h far below the point spacing would walk
    * millions of empty rings; the cap bounds the walk at ~(4*cbrt(n))^3
    * cell probes and keeps every axis far under the 2^21 packing field
    * (an aliased bucket would double-count `seen` and end the walk early). */
  def coarsen(cx: Array[Double], cy: Array[Double], cz: Array[Double],
      h0: Double): Double = {
    def span(a: Array[Double]) = {
      var lo = Double.MaxValue; var hi = Double.MinValue
      a.foreach { v => if (v < lo) lo = v; if (v > hi) hi = v }
      hi - lo
    }
    val cellCap = math.max(16.0, 4.0 * math.cbrt(cx.length.toDouble))
    val s = math.max(span(cx), math.max(span(cy), span(cz)))
    var h = h0
    while (s / h > cellCap) h *= 2
    h
  }
}

/** Grid-partitioned kNN join — the engine's primitive behind PDAL's
  * KD3Index-based neighborhood filters (pdal/KDIndex.hpp:52-115, built
  * per-view; here per grid cell, distributed).
  *
  * Two-phase cell-neighborhood shuffle (SURVEY §2.7 north-star):
  * phase 1 groups ONE role-flagged row set by SUPERCELL region (SxSxS
  * cells + a one-cell halo shell clamped to the union bbox — at most
  * ~3.4x candidate duplication instead of 27x per-cell haloing): each
  * row is a candidate copy, a query in its home supercell, or, for a
  * self-kNN, both (a candidate's home copy is its query, so no query
  * row ships beside it). Each group answers its queries' exact
  * 3x3x3-cell cube from a task-local [[CellIndex]]. Every round has
  * one finality rule: a query whose kth distance is within the cell
  * size h is final (the cube covers every candidate within h — the
  * halo-exchange correctness property of SURVEY §7.4.3). Phase 2 runs
  * ONLY the open queries again, at a 3x coarser cell: each explodes
  * into its 27-cell cube, the candidates of the probed cells stream
  * past it, and the same rule decides. A coarser cube contains the
  * finer one, so each round's top-k is exact on its own and nothing is
  * carried between rounds. The shuffled payload is only
  * (qid, x, y, z[, hits]) — spans and other wide columns never move.
  * A candidate side at or below `broadcastLimit` skips all of this: one
  * driver-built [[CellIndex]] is broadcast and walks its shells until
  * each query is final. Every path ranks through the same [[TopK]], so
  * the broadcast and distributed results are bit-identical.
  *
  * A neighbourhood is one row: each result row carries its query's
  * coordinates and each [[Hit]] its candidate's, both already in hand
  * in the kernel, so geometry consumers read the neighbourhood from
  * the row instead of joining coordinates back by order_key.
  *
  * A consumer's per-point result reaches its input through [[attach]],
  * a broadcast while the kNN's own query-row count says it fits Spark's
  * broadcast threshold: the span-bearing input never shuffles for it.
  *
  * Skew: cell size targets ~4k candidates per cell from the extent row;
  * supercells whose task input exceeds `maxCellCandidates` are salted —
  * candidates hash-split, query rows replicated, per-salt top-k merged,
  * by one salting expression over the one row set — because AQE's skew
  * splitting does not apply to a grouped Dataset shuffle.
  */
object KnnJoin {
  private val B = 1L << 20 // per-axis cell-coordinate bias
  /** Candidate count at or below which the join broadcasts a driver-built
    * index instead of running the supercell rounds (~48 bytes/candidate
    * -> ~12 MB at the default). Env GRAFT_KNN_BROADCAST_LIMIT overrides;
    * pass broadcastLimit = 0 to pin the distributed path (tests). */
  private[graft] val defaultBroadcastLimit: Int =
    sys.env.get("GRAFT_KNN_BROADCAST_LIMIT").map(_.toInt).getOrElse(1 << 18)
  /** Cells per supercell edge: the round-1 shuffle keys on
    * supercells (4x4x4 cells) with a one-cell halo shell, so the
    * candidate duplication factor is (1 + 2/S)^3 ~= 3.4x instead of the
    * 27x of per-cell haloing — an 8x shuffle-volume cut on the join's
    * dominant stage. */
  private val S = 4

  /** One row of the round-1 supercell shuffle: (skey, salt, x, y, z, id,
    * v, isQ, isC) — a query, a candidate, or (a self-kNN home copy) both. */
  private type SuperRow = (Long, Int, Double, Double, Double, Long, Double, Boolean, Boolean)

  private def cellCoord(v: Column, h: Double): Column =
    floor(v / h).cast("long")

  private def pack3(cx: Column, cy: Column, cz: Column): Column =
    shiftleft(cx + B, 42).bitwiseOR(shiftleft(cy + B, 21)).bitwiseOR(cz + B)

  /** Supercell coordinate of a cell coordinate (bias-shifted so the
    * floor-division operates on non-negatives; exact in doubles). */
  private def superC(cc: Column, shift: Int): Column =
    floor((cc + lit(B) + lit(shift)).cast("double") / S).cast("long")

  private def superPack(sx: Column, sy: Column, sz: Column): Column =
    shiftleft(sx, 42).bitwiseOR(shiftleft(sy, 21)).bitwiseOR(sz)

  /** The 27 cell offsets of a query's 3x3x3 cube. */
  private val cubeOffsets: Column = array((for {
    dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1
  } yield struct(lit(dx).as("dx"), lit(dy).as("dy"), lit(dz).as("dz"))): _*)

  /** Density-targeted cell size from an extent row — ONE implementation
    * shared by the broadcast and distributed paths: the two must stay
    * bit-identical for the broadcast==distributed differential guarantee
    * (KnnSpec), so the formula lives in exactly one place. `fallback` is
    * the caller's extent scale for degenerate estimates (broadcast: the
    * candidate bbox; distributed: the query-union bbox). */
  private def estimateCellSize(cellSize: Double, k: Int, n: Long,
      exRaw: Double, eyRaw: Double, ez: Double, fallback: Double): Double = {
    val h0raw =
      if (cellSize > 0) cellSize
      else {
        val target = math.max(64.0, k * 4.0)
        val ex = math.max(exRaw, 1e-9)
        val ey = math.max(eyRaw, 1e-9)
        if (ez <= 1e-12) math.sqrt(ex * ey * target / n)
        else math.cbrt(ex * ey * ez * target / n)
      }
    if (h0raw.isNaN || h0raw <= 1e-12) fallback / 16 else h0raw
  }

  /** (count, min x, max x, min y, max y, min z, max z) of `df`: one job. */
  private[graft] def extent(df: DataFrame): Row =
    df.agg(count(lit(1)), min("x"), max("x"), min("y"), max("y"),
      min("z"), max("z")).head()

  /** Home supercell key of the (x, y, z) point at cell size h. */
  private def homeSuper(h: Double): Column = superPack(
    superC(cellCoord(col("x"), h), 0), superC(cellCoord(col("y"), h), 0),
    superC(cellCoord(col("z"), h), 0))

  /** Supercell (incl. one-cell halo shell) candidate row set at cell
    * size h — the candidates one round-1 task receives. The halo is
    * clamped to the supercells of `box`, the union [[extent]] row: every
    * query's supercell lies inside it, so a copy outside emits nothing.
    * `home` marks each candidate's one copy in its own supercell. */
  private def superRows(cand: DataFrame, h: Double, valueCol: String,
      box: Row): DataFrame = {
    val withCells = cand.select(col("x"), col("y"), col("z"),
      col("order_key").as("cid"), col(valueCol).cast("double").as("v"),
      cellCoord(col("x"), h).as("ccx"), cellCoord(col("y"), h).as("ccy"),
      cellCoord(col("z"), h).as("ccz"))
    def halo(cc: String, i: Int) = explode(sequence(
      greatest(superC(col(cc), -1), superC(cellCoord(lit(box.getDouble(i)), h), 0)),
      least(superC(col(cc), 1), superC(cellCoord(lit(box.getDouble(i + 1)), h), 0))))
    withCells
      .withColumn("sx", halo("ccx", 1))
      .withColumn("sy", halo("ccy", 3))
      .withColumn("sz", halo("ccz", 5))
      .select(superPack(col("sx"), col("sy"), col("sz")).as("skey"),
        col("x"), col("y"), col("z"), col("cid"), col("v"),
        (col("sx") === superC(col("ccx"), 0) && col("sy") === superC(col("ccy"), 0) &&
          col("sz") === superC(col("ccz"), 0)).as("home"))
  }

  /** Hot supercells at cell size h: supercell tasks (shell included)
    * holding more than `cap` candidates, with their salt factor (capped
    * at 64 groups) — the per-task input bound AQE cannot provide for a
    * grouped Dataset shuffle. Two stages: a task region (supercell + 1-cell
    * shell, S+2 cells per axis) touches at most 3 base supercells per
    * axis (the aligned S-cell block plus one edge cell-row on each
    * side), i.e. 27 base supercells in 3D — so a task can exceed cap
    * only if one of those 27 exceeds cap/27. The cheap non-exploded
    * count at that threshold gates the exact (3.4x exploded) one, and
    * uniform data pays one slim map-side-combined aggregate and stops.
    * (cap/8 here was unsound: 27 contributors at just over cap/27 each
    * — all below cap/8 — could assemble a ~3x-over-cap task that
    * escaped detection entirely.) `box` clamps the halo as in [[superRows]]. */
  private[graft] def detectHotSupercells(cand: DataFrame, h: Double,
      cap: Int, box: Row): Map[Long, Int] = {
    val basePre = cand.select(homeSuper(h).as("skey"))
      .groupBy("skey").count().filter(col("count") > cap / 27)
      .limit(1).count()
    if (basePre == 0L) return Map.empty
    superRows(cand, h, "order_key", box).groupBy("skey").count()
      .filter(col("count") > cap).collect()
      .map(r => r.getLong(0) ->
        math.min(math.ceil(r.getLong(1).toDouble / cap), 64.0).toInt).toMap
  }

  /** k nearest candidates for every query row.
    *
    * @param queries  needs (order_key, x, y, z)
    * @param cand     needs (order_key, x, y, z) + `valueCol`
    * @param valueCol candidate column carried into the result (vote target)
    * @param maxCellCandidates skew bound: halo-cells holding more
    *        candidates than this are salted — candidates split into
    *        ceil(n/cap) hash groups, queries replicated across them,
    *        partial top-k merged — so no single supercell task ever
    *        receives an unbounded dense cell (AQE skew splitting does
    *        not apply to a grouped Dataset shuffle)
    * @return rows (order_key, knn: array<struct<d2,cid,v,x,y,z>>, qx, qy,
    *         qz): `knn` sorted by (d2, cid), length min(k, |cand
    *         reachable|), empty if none, each hit with its candidate's x,
    *         y, z; qx, qy, qz are the query's own coordinates. queryRows:
    *         the candidate count for self-kNN, the query extent's count on
    *         the distributed path, else None (it would cost a job);
    *         openAfterRound and saltedSupercells as in [[KnnResult]]
    */
  def knn(queries: DataFrame, cand: DataFrame, k: Int,
      valueCol: String = "classification", cellSize: Double = 0.0,
      selfJoin: Boolean = false, maxCellCandidates: Int = 100000,
      broadcastLimit: Int = defaultBroadcastLimit): KnnResult = {
    require(k >= 1, s"knn: k must be >= 1, got k = $k")
    val spark = queries.sparkSession
    import spark.implicits._

    // materialize both inputs ONCE: everything downstream (each round's
    // candidate scan) would otherwise re-execute the caller's full
    // upstream plan per job. persist + the extent
    // aggregate as the materializing action = ONE job that both fills
    // the cache and returns the bbox (no separate probe job); lineage
    // stays intact so an executor loss recomputes instead of failing.
    // For self-kNN the query side IS the candidate side.
    val candCols =
      if (valueCol == "order_key") Seq(col("x"), col("y"), col("z"), col("order_key"))
      else Seq(col("x"), col("y"), col("z"), col("order_key"), col(valueCol))
    val candM = cand.select(candCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val ext = extent(candM)
    val selfRows = if (selfJoin) Some(ext.getLong(0)) else None
    if (ext.getLong(0) == 0L) { // no candidates at all
      candM.unpersist(false)
      return KnnResult(queries.select(col("order_key"), typedLit(Seq.empty[Hit]).as("knn"),
        col("x").as("qx"), col("y").as("qy"), col("z").as("qz")), selfRows)
    }
    // NaN coordinates are malformed input and MUST fail loudly here: a
    // NaN poisons maxExtent, so the round loop's coverAll exit can never
    // fire and the distributed path loops forever, while the broadcast
    // path would silently emit different results — Spark's max() returns
    // NaN whenever one is present, so checking the three maxes of the
    // one aggregate already paid costs nothing extra
    require(!ext.getDouble(2).isNaN && !ext.getDouble(4).isNaN &&
      !ext.getDouble(6).isNaN,
      "knn: candidate side contains NaN coordinates — filter or repair " +
        "them upstream (a NaN point can never match any distance predicate)")
    val (ex, ey, ez) = (ext.getDouble(2) - ext.getDouble(1),
      ext.getDouble(4) - ext.getDouble(3), ext.getDouble(6) - ext.getDouble(5))

    // ---- BROADCAST FAST PATH: a candidate side that fits one task's
    // memory is collected once, indexed on the driver, and broadcast —
    // the (arbitrarily large) query side answers exact top-k in a single
    // shuffle-free mapPartitions pass: no supercell shuffle, no round-loop driver
    // barriers. This is the broadcast-hash-join analog for kNN, and the
    // common case at scale: ground-raster inpaint (area/cell^2 cells),
    // ICP/colorization reference sets, per-tile goldens. Results are
    // bit-identical to the distributed path: both rank through the same
    // CellIndex + TopK (pinned by KnnSpec's differential).
    if (broadcastLimit > 0 && ext.getLong(0) <= broadcastLimit) {
      val rows = candM.select(col("x"), col("y"), col("z"), col("order_key"),
        col(valueCol).cast("double").as("v")).collect()
      val n = rows.length
      val (lcx, lcy, lcz) = (rows.map(_.getDouble(0)), rows.map(_.getDouble(1)),
        rows.map(_.getDouble(2)))
      val (lcid, lcv) = (rows.map(_.getLong(3)), rows.map(_.getDouble(4)))
      val hB = CellIndex.coarsen(lcx, lcy, lcz, estimateCellSize(cellSize, k, n,
        ex, ey, ez, math.max(1e-9, math.max(ex, math.max(ey, ez)))))
      val idx = spark.sparkContext.broadcast(
        new CellIndex(lcx, lcy, lcz, lcid, lcv, hB))
      // self-kNN: rebuild the (small) query side from the collected rows
      // so the output has no lineage into the cached candM
      val qDs =
        if (selfJoin) spark.createDataset(spark.sparkContext.parallelize(
          (0 until n).map(j => (lcid(j), lcx(j), lcy(j), lcz(j)))))
        else queries.select(col("order_key"), col("x"), col("y"), col("z"))
          .as[(Long, Double, Double, Double)]
      val out = qDs.mapPartitions { it =>
        val ix = idx.value
        it.map { case (qid, qx, qy, qz) =>
          // same loud-NaN contract as the distributed path's extent check
          if (qx.isNaN || qy.isNaN || qz.isNaN) throw new IllegalArgumentException(
            s"knn: query $qid has NaN coordinates — filter or repair upstream")
          (qid, ix.query(qx, qy, qz, k, Long.MaxValue), qx, qy, qz)
        }
      }.toDF("order_key", "knn", "qx", "qy", "qz")
      candM.unpersist(false)
      return KnnResult(out, selfRows)
    }

    val queriesM =
      if (selfJoin) candM.select("order_key", "x", "y", "z")
      else queries.select("order_key", "x", "y", "z")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def release(): Unit = { // repeated knn calls must not leak cached blocks
      candM.unpersist(false)
      if (!selfJoin) queriesM.unpersist(false)
    }
    // coverAll must be query-aware: the examined cube is centered at the
    // QUERY cell, so finality needs h to cover the distance from any
    // query to the farthest candidate — bounded by the UNION bbox extent
    // (a query offset from the candidate cloud otherwise gets truncated
    // results once h passes the candidate-only extent)
    val qe = if (selfJoin) ext else extent(queriesM)
    require(qe.getLong(0) == 0L || (!qe.getDouble(2).isNaN &&
      !qe.getDouble(4).isNaN && !qe.getDouble(6).isNaN),
      "knn: query side contains NaN coordinates — filter or repair " +
        "them upstream (a NaN query can never resolve)")
    val uext =
      if (selfJoin || qe.getLong(0) == 0L) ext
      else Row(ext.getLong(0),
        math.min(ext.getDouble(1), qe.getDouble(1)), math.max(ext.getDouble(2), qe.getDouble(2)),
        math.min(ext.getDouble(3), qe.getDouble(3)), math.max(ext.getDouble(4), qe.getDouble(4)),
        math.min(ext.getDouble(5), qe.getDouble(5)), math.max(ext.getDouble(6), qe.getDouble(6)))
    val maxExtent = math.max(1e-9, math.max(uext.getDouble(2) - uext.getDouble(1),
      math.max(uext.getDouble(4) - uext.getDouble(3), uext.getDouble(6) - uext.getDouble(5))))

    // cell-size estimate straight from the already-collected extent row
    // (a separate estimator aggregate would be a second identical job)
    val h0 = estimateCellSize(cellSize, k, math.max(ext.getLong(0), 1L),
      ex, ey, ez, maxExtent)

    def candPrep(h: Double) = candM.select(
      pack3(cellCoord(col("x"), h), cellCoord(col("y"), h), cellCoord(col("z"), h)).as("cell"),
      col("x"), col("y"), col("z"), col("order_key").as("cid"),
      col(valueCol).cast("double").as("v"))

    /** Round 1: one grouped shuffle keyed on SUPERCELLS (SxSxS cells)
      * over one role-flagged row set: each candidate duplicated only into
      * the one-cell halo shell of adjacent supercells (~(1+2/S)^3 = 3.4x
      * fan-out instead of the 27x of per-cell haloing — an 8x
      * shuffle-volume cut on the dominant stage), each query in its home
      * supercell. For a self-kNN a candidate's home copy IS its query, so
      * no query row is added. Each group builds a [[CellIndex]] over its
      * candidate rows and answers every query row's exact 27-cell cube
      * (shells 0..1), so per-query results are IDENTICAL to the per-cell
      * design. One salting expression serves both roles: on a hot
      * supercell a query row is replicated over every salt group and a
      * candidate goes to its own (`isC` holds only there).
      * Every query row comes out once per salt group, with its
      * coordinates (an empty `hits` when the group holds no candidates),
      * so the round loop never re-joins the query side. The grouping
      * keys are columns of the rows: nothing is appended to the shuffle. */
    def superPartials(h: Double, hotDf: Option[DataFrame]): DataFrame = {
      val cands = superRows(candM, h, valueCol, uext).select(col("skey"),
        col("x"), col("y"), col("z"), col("cid").as("id"), col("v"),
        (if (selfJoin) col("home") else lit(false)).as("isQ"), lit(true).as("isC"))
      val rows =
        if (selfJoin) cands
        else cands.unionByName(queriesM.select(homeSuper(h).as("skey"),
          col("x"), col("y"), col("z"), col("order_key").as("id"), lit(0.0).as("v"),
          lit(true).as("isQ"), lit(false).as("isC")))
      val withS = hotDf.fold(rows.withColumn("__s", lit(null).cast("int")))(
        rows.join(_, Seq("skey"), "left"))
      val own = when(col("__s").isNotNull,
        pmod(xxhash64(col("id")), col("__s").cast("long")).cast("int")).otherwise(lit(0))
      withS.withColumn("__own", own)
        .withColumn("__salt", explode(when(col("isQ"),
          sequence(lit(0), coalesce(col("__s"), lit(1)) - 1)).otherwise(array(col("__own")))))
        .select(col("skey"), col("__salt"), col("x"), col("y"), col("z"), col("id"),
          col("v"), col("isQ"), (col("isC") && col("__salt") === col("__own")).as("isC"))
        .groupBy(col("skey"), col("__salt")).as[(Long, Int), SuperRow]
        .flatMapGroups { (_, group) =>
          val cx = Array.newBuilder[Double]; val cy = Array.newBuilder[Double]
          val cz = Array.newBuilder[Double]; val cid = Array.newBuilder[Long]
          val cv = Array.newBuilder[Double]
          val qs = Array.newBuilder[SuperRow]
          group.foreach { r =>
            if (r._9) { cx += r._3; cy += r._4; cz += r._5; cid += r._6; cv += r._7 }
            if (r._8) qs += r
          }
          val qArr = qs.result()
          if (qArr.isEmpty) Iterator.empty
          else {
            val ix = new CellIndex(cx.result(), cy.result(), cz.result(),
              cid.result(), cv.result(), h)
            qArr.iterator.map { case (_, _, qx, qy, qz, qid, _, _, _) =>
              (qid, qx, qy, qz, ix.query(qx, qy, qz, k, 1))
            }
          }
        }.toDF("qid", "qx", "qy", "qz", "hits")
    }

    /** A later round: each open query explodes into the 27 cells of its
      * cube at cell size h, and the candidates shrink to the probed cells
      * instead of re-shuffling the full corpus. Every query row comes out
      * once per probed cell, with an empty `hits` when the cell holds no
      * candidate, so a query whose whole cube is empty still reaches the
      * merge. */
    def cubePartials(q: DataFrame, h: Double): DataFrame = {
      val exploded = q.withColumn("__o", explode(cubeOffsets))
        .select(col("qid"), col("qx"), col("qy"), col("qz"),
          pack3(cellCoord(col("qx"), h) + col("__o.dx"),
            cellCoord(col("qy"), h) + col("__o.dy"),
            cellCoord(col("qz"), h) + col("__o.dz")).as("cell"))
        .as[(Long, Double, Double, Double, Long)]
      val cands = candPrep(h)
        .join(exploded.toDF().select("cell").distinct(), Seq("cell"), "left_semi")
        .as[(Long, Double, Double, Double, Long, Double)]
      exploded.groupByKey(_._5).cogroup(cands.groupByKey(_._1)) { (_, qs, cs) =>
        // STREAM the candidates (one pass, never materialized): probed
        // cells have no salting, so a dense cell at a coarse h could hold
        // millions of candidates, past the maxCellCandidates bound.
        // Buffer the QUERIES instead (O(queries*k) memory) and offer each
        // streamed candidate to every query's TopK.
        val qBuf = qs.toArray
        val tops = Array.fill(qBuf.length)(new TopK(k))
        cs.foreach { c =>
          var qi = 0
          while (qi < qBuf.length) {
            val q0 = qBuf(qi)
            val dx = c._2 - q0._2; val dy = c._3 - q0._3; val dz = c._4 - q0._4
            tops(qi).offer(dx * dx + dy * dy + dz * dz, c._5, c._6, c._2, c._3, c._4)
            qi += 1
          }
        }
        qBuf.iterator.zip(tops.iterator).map { case (q0, top) =>
          (q0._1, q0._2, q0._3, q0._4, top.hits)
        }
      }.toDF("qid", "qx", "qy", "qz", "hits")
    }

    // a candidate reaches a query through one salt group or one cube
    // cell, so the partials are disjoint; the coordinates are a function
    // of qid, so they ride along as group keys
    def mergeTopK(partials: DataFrame): DataFrame =
      partials.groupBy("qid", "qx", "qy", "qz").agg(
        slice(array_sort(flatten(collect_list(col("hits")))), 1, k).as("knn"))

    // round 1: halo-explode the CANDIDATES, query one supercell each —
    // per-query cube top-k lands in a single group, no merge shuffle.
    // n <= cap means no supercell can exceed the cap — detection free
    val hot =
      if (ext.getLong(0) <= maxCellCandidates) Map.empty[Long, Int]
      else detectHotSupercells(candM, h0, maxCellCandidates, uext)
    val hotDf =
      if (hot.isEmpty) None
      else Some(broadcast(spark.createDataFrame(hot.toSeq).toDF("skey", "__s")))
    val partials1 = superPartials(h0, hotDf)
    // salted queries hold partials per salt group -> merge; the skew-free
    // fast path keeps the single-group result as-is
    var roundKnn =
      if (hotDf.isDefined) mergeTopK(partials1)
      else partials1.withColumnRenamed("hits", "knn")
    var h = h0
    var resolvedParts = List.empty[DataFrame]
    var openAfterRound = Vector.empty[Long]
    var done = false
    // each later round bins the open queries at a 3x coarser cell, so the
    // round count is bounded by log3(maxExtent / h0) — the fix for badly
    // estimated cell sizes on degenerate inputs
    while (!done) {
      val kth = try_element_at(col("knn"), lit(k))
      val isFinal = (size(col("knn")) === k &&
        sqrt(kth.getField("d2")) <= lit(h)) || lit(h >= maxExtent)
      // one materialization per round: LAZY localCheckpoint (cuts the
      // logical plan immediately — the loop otherwise compounds plans)
      // with the open-count aggregate as the materializing action — a
      // single job checkpoints the round AND answers "is anything open".
      // Every open query is already a row of the round, with its
      // coordinates, so the next round re-joins nothing.
      val joined = roundKnn.withColumn("__final", isFinal)
        .transform(d => graft.core.Mat(d, eager = false))
      val open = joined.agg(count(when(!col("__final"), lit(1)))).head().getLong(0)
      openAfterRound :+= open
      resolvedParts = joined.filter(col("__final"))
        .select("qid", "knn", "qx", "qy", "qz") :: resolvedParts
      if (open == 0L) done = true
      else {
        h *= 3
        roundKnn = mergeTopK(cubePartials(
          joined.filter(!col("__final")).select("qid", "qx", "qy", "qz"), h))
      }
    }
    // every resolved part is a materialized (lazy-localCheckpoint, forced
    // by its round's open-count action) frame — the result no longer
    // reads the cached inputs, so their blocks can be dropped now
    release()
    KnnResult(resolvedParts.reduce(_.unionByName(_))
      .withColumnRenamed("qid", "order_key"), Some(qe.getLong(0)),
      openAfterRound, hot.size)
  }

  /** A self-kNN row's neighbours without the query: its `knn` hits from
    * the second on. A self-join asks for k + 1 hits, and the first one
    * is at distance 0 (the query itself, or a coincident point whose id
    * ties ahead of it), so the rest are the k nearest others. A row with
    * fewer hits keeps what it has: a lone point gets an empty array. */
  def selfExcluded: Column =
    slice(col("knn"), lit(2), greatest(size(col("knn")) - 1, lit(0)))

  /** Left-joins `perQuery`, a kNN consumer's result with at most one row
    * per query, to `df` on order_key. It is broadcast (so `df`, spans and
    * all, never shuffles) when `queryRows` rows of its schema fit Spark's
    * spark.sql.autoBroadcastJoinThreshold; past it, at <= 0 or with no
    * count, it is the shuffle join. The count is the kNN's: no job. */
  def attach(df: DataFrame, perQuery: DataFrame, queryRows: Option[Long]): DataFrame = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val fits = queryRows.exists(n => limit > 0 &&
      n.toDouble * perQuery.schema.defaultSize <= limit)
    df.join(if (fits) broadcast(perQuery) else perQuery, Seq("order_key"), "left")
  }
}

/** filters.neighborclassifier analog
  * (filters/NeighborClassifierFilter.cpp:49): kNN majority vote on a
  * dimension; votes always use ORIGINAL values (deferred update map,
  * :111,200-201 — naturally satisfied here because the vote is computed
  * from the immutable input and applied with a join, never in place). */
object NeighborClassifier {
  def apply(df: DataFrame, k: Int, dim: String = "classification",
      domain: Option[String] = None, candidates: Option[DataFrame] = None,
      cellSize: Double = 0.0): DataFrame = {
    val inDomain: Column = domain match {
      case Some(d) => DimRange.predicate(DimRange.parseList(d))
      case None => lit(true)
    }
    val queries = df.filter(inDomain).select("order_key", "x", "y", "z")
    val cand = candidates.getOrElse(df)
    val self = candidates.isEmpty && domain.isEmpty
    val knn = KnnJoin.knn(queries, cand, k, valueCol = dim, cellSize = cellSize,
      selfJoin = self)
    // vote (doOneNoDomain :115-141): winner = max count, tie -> smallest
    // value (std::map asc + first-max max_element); change requires
    // count > n_neighbors/2 strictly. Computed as pure array expressions
    // over the <=k-element knn column — no extra shuffle.
    val vs = transform(col("knn"), h => h.getField("v"))
    val counted = transform(array_distinct(vs), v => struct(
      size(filter(vs, x => x === v)).as("cnt"), (-v).as("negv")))
    val best = array_max(counted)
    val winners = knn.rows
      .withColumn("__cnt", best.getField("cnt"))
      .withColumn("__newcls", -best.getField("negv"))
      .filter(size(col("knn")) > 0 &&
        col("__cnt").cast("double") > size(col("knn")).cast("double") / 2.0)
      .select(col("order_key"), col("__newcls"))
    KnnJoin.attach(df, winners, knn.queryRows)
      .withColumn(dim,
        when(col("__newcls").isNotNull && inDomain,
          col("__newcls").cast(df.schema(dim).dataType)).otherwise(col(dim)))
      .drop("__newcls")
  }
}

/** filters.nndistance analog (filters/NNDistanceFilter.cpp:47): per-point
  * kNN distance statistic (kth | avg), neighbors excluding self. */
object NNDistance {
  def apply(df: DataFrame, k: Int, mode: String = "kth",
      outCol: String = "nn_distance", cellSize: Double = 0.0): DataFrame = {
    require(mode == "kth" || mode == "avg",
      s"nndistance: mode must be kth or avg, got mode = $mode")
    val knn = KnnJoin.knn(df.select("order_key", "x", "y", "z"), df, k + 1,
      valueCol = "order_key", cellSize = cellSize, selfJoin = true)
    val dists = knn.rows.select(col("order_key"), KnnJoin.selfExcluded.as("nbrs"))
    val v = mode match {
      // greatest(..., 1): ordinal 0 makes (try_)element_at THROW
      // INVALID_INDEX_OF_ZERO, so a point with no neighbors (single-row
      // input) must probe index 1 and take try_element_at's null instead
      case "kth" => sqrt(try_element_at(col("nbrs"),
        greatest(size(col("nbrs")), lit(1))).getField("d2"))
      case "avg" => aggregate(col("nbrs"), lit(0.0),
        (acc, x) => acc + sqrt(x.getField("d2"))) / greatest(size(col("nbrs")), lit(1))
    }
    KnnJoin.attach(df, dists.withColumn(outCol, v).select("order_key", outCol),
      knn.queryRows)
  }
}
