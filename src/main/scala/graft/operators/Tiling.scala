package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.{CellMath, F}

/** filters.splitter analog (filters/SplitterFilter.cpp:48): square grid
  * tiling with optional buffer halo.
  *
  * Tile assignment is a pure codegen'd expression (CellIdExpr) so the
  * whole stage fuses into the scan; buffer duplication is a generated
  * candidate-cell array + explode — the Spark shape of the reference's
  * point-adder callbacks (processPoint :180-218). The origin defaults to
  * the coordinates of the minimum-order_key row (PDAL "first point",
  * run :158-161) computed with a single `min_by` aggregate — explicit and
  * deterministic at any parallelism (SURVEY §7.4.1).
  */
object Splitter {
  def apply(df: DataFrame, length: Double = 1000.0,
      origin: Option[(Double, Double)] = None, buffer: Double = 0.0,
      tileCol: String = "tile_id"): DataFrame = {
    val (ox, oy) = origin.getOrElse {
      val r = df.agg(
        min_by(col("x"), col("order_key")).as("ox"),
        min_by(col("y"), col("order_key")).as("oy")).head()
      if (r.isNullAt(0)) // empty input: no first point, any origin works
        return df.withColumn(tileCol, lit(0L))
      (r.getDouble(0), r.getDouble(1))
    }
    val main = F.cellId(col("x"), col("y"), ox, oy, length)
    if (buffer <= 0.0) df.withColumn(tileCol, main)
    else {
      val cx = F.cellX(main)
      val cy = F.cellY(main)
      def packC(px: Column, py: Column): Column =
        shiftleft(px.cast(LongType), 32)
          .bitwiseOR(py.cast(LongType).bitwiseAND(lit(0xFFFFFFFFL)))
      // squareContains (SplitterFilter.cpp:221-230): strict inequalities
      def sq(px: Column, py: Column): Column = {
        val minx = lit(ox) + px.cast("double") * length - buffer
        val miny = lit(oy) + py.cast("double") * length - buffer
        col("x") > minx && col("x") < minx + length + 2 * buffer &&
          col("y") > miny && col("y") < miny + length + 2 * buffer
      }
      // reference precedence: x-neighbor else-if, y-neighbor else-if,
      // diagonal else-if chain (processPoint :198-217)
      val sxm = sq(cx - 1, cy); val sxp = sq(cx + 1, cy)
      val sym = sq(cx, cy - 1); val syp = sq(cx, cy + 1)
      val smm = sq(cx - 1, cy - 1); val smp = sq(cx - 1, cy + 1)
      val spm = sq(cx + 1, cy - 1); val spp = sq(cx + 1, cy + 1)
      val candidates = array(
        main,
        when(sxm, packC(cx - 1, cy)).when(sxp, packC(cx + 1, cy)),
        when(sym, packC(cx, cy - 1)).when(syp, packC(cx, cy + 1)),
        when(smm, packC(cx - 1, cy - 1)).when(smp, packC(cx - 1, cy + 1))
          .when(spm, packC(cx + 1, cy - 1)).when(spp, packC(cx + 1, cy + 1)))
      df.withColumn(tileCol, explode(filter(candidates, _.isNotNull)))
    }
  }
}

/** The exact chipper recursion (filters/ChipperFilter.cpp:39-267) on local
  * arrays — run per block after the distributed phase has cut blocks down
  * to memory size. Identical math at every scale; at test scale the whole
  * input is one block and this reproduces the goldens bit-for-bit.
  */
object ChipperCore {
  def numPartitions(n: Long, capacity: Long): Long = {
    var np = n / capacity
    if (n % capacity != 0) np += 1
    np
  }

  /** Cumulate-and-round partition boundaries (partition() :161-181). */
  def partitions(n: Long, capacity: Long): Array[Long] = {
    val numPart = numPartitions(n, capacity)
    val psize = n.toDouble / numPart
    val out = new Array[Long](numPart.toInt + 1)
    var total = 0.0
    out(0) = 0
    var i = 0
    while (i < numPart) {
      total += psize
      out(i + 1) = math.floor(total + 0.5).toLong // C lround for positives
      i += 1
    }
    out
  }

  /** Boundary accessor that stays O(1) memory past `maxExact` chips: up
    * to maxExact partitions the exact accumulated array is used
    * (bit-identical to the reference); beyond it the closed form
    * floor(i * psize + 0.5) with the last boundary clamped to n — the
    * documented large-scale variant (the accumulated and multiplied
    * forms agree except when i * psize lands within ~i ulps of a .5
    * rounding boundary, where the chip boundary may shift by one). */
  def boundaryFn(n: Long, capacity: Long, maxExact: Int = 1 << 24): Int => Long = {
    val np = numPartitions(n, capacity)
    if (np <= maxExact) {
      val a = partitions(n, capacity)
      i => a(i)
    } else {
      val psize = n.toDouble / np
      i => if (i <= 0) 0L else if (i >= np) n
           else math.floor(i * psize + 0.5).toLong
    }
  }

  /** Executor-side memo of boundaryFn: the Chipper local phase runs once
    * per BLOCK inside flatMapGroups, and rebuilding the exact
    * O(numPartitions) cumulate array per block is pure wasted allocation
    * (a transient 8-128 MB Long array per task near the maxExact
    * boundary). The accessor closes over an immutable array, so sharing
    * across tasks is safe; the map is cleared if an unlikely parameter
    * churn grows it past a handful of entries. */
  private val fnCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), Int => Long]()
  def boundaryFnCached(n: Long, capacity: Long): Int => Long = {
    if (fnCache.size > 8) fnCache.clear()
    fnCache.computeIfAbsent((n, capacity), _ => boundaryFn(n, capacity))
  }

  /** Assign chip ids (= global partition start index of the chip) to the
    * points of one block. xs/ys/ord indexed by local point index; parts is
    * the GLOBAL partition array; [pleft, pright) the block's partition
    * range; prevAxisX = axis split at the parent (tie-break state, root =
    * true since decideSplit's v1 is the x vector at the root).
    */
  def chipBlock(xs: Array[Double], ys: Array[Double], ord: Array[Long],
      parts: Int => Long, pleft: Int, pright: Int, prevAxisX: Boolean): Array[Int] = {
    val n = xs.length
    require(n == (parts(pright) - parts(pleft)),
      s"block size $n != partition span ${parts(pright) - parts(pleft)}")
    val chip = new Array[Int](n)
    val xidx = Array.range(0, n).sortBy(i => (xs(i), ord(i)))
    val yidx = Array.range(0, n).sortBy(i => (ys(i), ord(i)))
    val inLeft = new Array[Boolean](n)

    def rec(xseq: Array[Int], yseq: Array[Int], pl: Int, pr: Int, prevX: Boolean): Unit = {
      if (pr - pl == 1) {
        var i = 0
        while (i < xseq.length) { chip(xseq(i)) = pl; i += 1 }
        return
      }
      val xrange = xs(xseq(xseq.length - 1)) - xs(xseq(0))
      val yrange = ys(yseq(yseq.length - 1)) - ys(yseq(0))
      // decideSplit (:184-200): split v1 iff v1range > v2range, v1 = axis
      // split at the parent
      val wideIsX = if (prevX) xrange > yrange else !(yrange > xrange)
      val wide = if (wideIsX) xseq else yseq
      val narrow = if (wideIsX) yseq else xseq
      if (pr - pl == 2) {
        val c = (parts(pr - 1) - parts(pl)).toInt
        var i = 0
        while (i < wide.length) { chip(wide(i)) = if (i < c) pl else pr - 1; i += 1 }
        return
      }
      val pcenter = (pl + pr) / 2
      val c = (parts(pcenter) - parts(pl)).toInt
      val wideL = java.util.Arrays.copyOfRange(wide, 0, c)
      val wideR = java.util.Arrays.copyOfRange(wide, c, wide.length)
      var i = 0
      while (i < wide.length) { inLeft(wide(i)) = i < c; i += 1 }
      val narrowL = new Array[Int](c)
      val narrowR = new Array[Int](wide.length - c)
      var li = 0; var ri = 0
      i = 0
      while (i < narrow.length) {
        val p = narrow(i)
        if (inLeft(p)) { narrowL(li) = p; li += 1 } else { narrowR(ri) = p; ri += 1 }
        i += 1
      }
      // child v1 = the wide (just-split) axis (split() :244-247); keep the
      // (xseq, yseq) slots axis-labeled regardless of which axis was wide
      val (xl, yl) = if (wideIsX) (wideL, narrowL) else (narrowL, wideL)
      val (xr, yr) = if (wideIsX) (wideR, narrowR) else (narrowR, wideR)
      rec(xl, yl, pl, pcenter, wideIsX)
      rec(xr, yr, pcenter, pr, wideIsX)
    }

    rec(xidx, yidx, pleft, pright, prevAxisX)
    chip
  }
}

/** filters.chipper analog — equal-count squarish tiles.
  *
  * Two phases, same math: (1) a distributed recursion that, level by
  * level, computes per-block extents with one aggregate and splits every
  * oversized block with one per-block rank window (shuffling only
  * (x, y, order_key, block) — spans never enter these shuffles); (2) once
  * every block fits `localThreshold`, the exact sequential recursion runs
  * per block inside `flatMapGroups`. Chip count and membership are
  * identical to the reference at any parallelism because both phases use
  * the same global partition array and (pos, order_key) stable ranks.
  */
object Chipper {
  private case class Block(pleft: Int, pright: Int, prevAxisX: Boolean)

  def apply(df: DataFrame, capacity: Long = 5000L, chipCol: String = "chip_id",
      localThreshold: Long = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    // ONE upstream execution for everything chip-assignment needs: the
    // slim (x, y, order_key) projection is cached, the count fills the
    // cache, and both the distributed phase and the local phase read it —
    // without this, count(), the phase scans and the final join each
    // re-ran the caller's full upstream plan
    val base = df.select(col("x"), col("y"), col("order_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    if (n == 0) {
      base.unpersist(false)
      return df.withColumn(chipCol, lit(0L)).limit(0)
    }
    val parts = ChipperCore.boundaryFn(n, capacity)
    val numPart = ChipperCore.numPartitions(n, capacity).toInt

    var work = base.withColumn("__block", lit(0))
    var blocks = Map(0 -> Block(0, numPart, prevAxisX = true))

    def blockCount(b: Block): Long = parts(b.pright) - parts(b.pleft)

    // distributed phase: halve oversized blocks
    while (blocks.values.exists(b => blockCount(b) > localThreshold && b.pright - b.pleft > 2)) {
      val ext = work.groupBy("__block").agg(
        min("x").as("mnx"), max("x").as("mxx"),
        min("y").as("mny"), max("y").as("mxy")).collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
      val splits = blocks.filter { case (_, b) =>
        blockCount(b) > localThreshold && b.pright - b.pleft > 2
      }.map { case (id, b) =>
        val (mnx, mxx, mny, mxy) = ext(id)
        val wideIsX = if (b.prevAxisX) (mxx - mnx) > (mxy - mny) else !((mxy - mny) > (mxx - mnx))
        val pcenter = (b.pleft + b.pright) / 2
        (id, wideIsX, parts(pcenter) - parts(b.pleft), pcenter, b)
      }.toSeq
      val metaDf = spark.createDataFrame(splits.map(s => (s._1, s._2, s._3, s._4)))
        .toDF("__block", "__wideIsX", "__cut", "__rchild")
      // rank ONLY the splitting blocks, each via the range-partitioned
      // rank within a group (Order.globalRankBy by __block) — the first
      // levels are one or few whole-dataset blocks and must never funnel
      // through a single window partition
      val toSplit = work.join(broadcast(metaDf), Seq("__block"))
        .withColumn("__pos", when(col("__wideIsX"), col("x")).otherwise(col("y")))
      val ranked = Order.globalRankBy(toSplit,
        Seq(col("__pos"), col("order_key")), "__rn", Some("__block"))
      val reassigned = ranked
        .withColumn("__block", when(col("__rn") >= col("__cut"),
          col("__rchild").cast("int")).otherwise(col("__block")))
        .select("x", "y", "order_key", "__block")
      val untouched = work.join(broadcast(metaDf.select("__block")),
        Seq("__block"), "left_anti")
      work = reassigned.unionByName(untouched)
      blocks = blocks.flatMap { case (id, b) =>
        splits.find(_._1 == id) match {
          case Some((_, wideIsX, _, pcenter, _)) => Seq(
            id -> Block(b.pleft, pcenter, wideIsX),
            pcenter -> Block(pcenter, b.pright, wideIsX))
          case None => Seq(id -> b)
        }
      }
      work = graft.core.Mat(work, eager = false)
    }

    // local phase: exact recursion per block. Executors rebuild the
    // boundary accessor from (n, capacity) — nothing O(chips) is ever
    // broadcast or held on the driver (boundaryFn switches to the
    // closed form past 2^24 chips).
    val blockMeta = blocks // small, serialized into the closure
    val nCap = (n, capacity)
    val assignEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    import spark.implicits._
    val assign = graft.core.Mat(work.select("x", "y", "order_key", "__block")
      .as[(Double, Double, Long, Int)]
      .groupByKey(_._4)
      .flatMapGroups { (blk: Int, it: Iterator[(Double, Double, Long, Int)]) =>
        val rows = it.toArray
        val b = blockMeta(blk)
        val chips = ChipperCore.chipBlock(
          rows.map(_._1), rows.map(_._2), rows.map(_._3),
          ChipperCore.boundaryFnCached(nCap._1, nCap._2), b.pleft, b.pright,
          b.prevAxisX)
        chips.iterator.zipWithIndex.map { case (c, i) => (rows(i)._3, c.toLong) }
      }(assignEnc)
      .toDF("order_key", chipCol))
    // assign is materialized (16 bytes/row), so the cached projection can
    // be dropped; the final join reads the caller's df exactly once more
    base.unpersist(false)
    df.join(assign, Seq("order_key"), "inner")
  }
}

/** filters.divider analog (filters/DividerFilter.cpp:41): round-robin or
  * contiguous split into `count` views / views of `capacity`, over the
  * deterministic order key (PDAL view order). */
object Divider {
  def apply(df: DataFrame, roundRobin: Boolean, count: Option[Int] = None,
      capacity: Option[Long] = None, partCol: String = "part_id"): DataFrame = {
    require(count.isDefined != capacity.isDefined, "exactly one of count/capacity")
    require(count.forall(_ >= 1), s"filters.divider: count must be >= 1, got ${count.get}")
    require(capacity.forall(_ >= 1),
      s"filters.divider: capacity must be >= 1, got ${capacity.get}")
    // global rank: one range-partitioned running count — never a
    // single-partition window
    val rn = col("__rank")
    // round robin over `count` views needs no row count: an empty input
    // ranks to no rows, with the same int part column
    val part = (roundRobin, count) match {
      case (true, Some(c)) => rn % c.toLong
      case _ =>
        val n = df.count()
        if (n == 0) return df.withColumn(partCol, lit(0))
        val size: Long = count.map(_.toLong).getOrElse((n - 1) / capacity.get + 1)
        if (roundRobin) rn % size
        else rn / ((n - 1) / size + 1) // DividerFilter.cpp:134
    }
    Order.globalRank(df).withColumn(partCol, part.cast("int")).drop("__rank")
  }
}

/** filters.groupby analog (filters/GroupByFilter.cpp:44): one view per
  * distinct dimension value = the value IS the view key column. */
object GroupBy {
  def apply(df: DataFrame, dim: String, viewCol: String = "view_id"): DataFrame =
    df.withColumn(viewCol, col(dim))
}

/** filters.merge analog (filters/MergeFilter.cpp:42): UNION ALL. */
object Merge {
  def apply(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
}

/** filters.returns analog (filters/ReturnsFilter.cpp:73-110): group points
  * by return position; a point can land in several requested groups (one
  * view per group). */
object Returns {
  val First = "first"; val Intermediate = "intermediate"
  val Last = "last"; val Only = "only"

  def groupPredicate(group: String): Column = group match {
    case First => col("return_number") === 1 && col("number_of_returns") > 1
    case Intermediate => col("return_number") > 1 &&
      col("return_number") < col("number_of_returns") && col("number_of_returns") > 2
    case Last => col("return_number") === col("number_of_returns") &&
      col("number_of_returns") > 1
    case Only => col("number_of_returns") === 1
  }

  def apply(df: DataFrame, groups: Seq[String], viewCol: String = "view_id"): DataFrame = {
    val hits = array(groups.map(g => when(groupPredicate(g), lit(g)).otherwise(lit(null))): _*)
    df.withColumn(viewCol, explode(filter(hits, _.isNotNull)))
  }
}

/** filters.separatescanline analog (filters/SeparateScanLineFilter.cpp:74):
  * the LAS edge flag marks the LAST point of a scan line — the reference
  * appends the point to the current view BEFORE checking the flag, so an
  * edge point stays with its own line. That makes the group key the
  * EXCLUSIVE prefix sum of edge flags (edges strictly before this row),
  * grouped `groupsOf` lines per view. */
object SeparateScanLine {
  def apply(df: DataFrame, edgeCol: String = "edge_of_flight_line",
      groupsOf: Int = 1, viewCol: String = "view_id"): DataFrame = {
    require(groupsOf >= 1,
      s"filters.separatescanline: groupby must be >= 1, got $groupsOf")
    val edge = when(col(edgeCol) === 1, 1L).otherwise(0L)
    // distributed running sum in order_key order; it is inclusive ->
    // subtract the row's own flag
    Order.runningSums(df, Seq(col("order_key")), Seq(edge -> "__scan"))
      .withColumn(viewCol, ((col("__scan") - edge) / groupsOf).cast("long"))
      .drop("__scan")
  }
}
