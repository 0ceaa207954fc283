package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Static math helpers invoked from both interpreted eval and generated
  * Java (top-level Scala objects emit static forwarders, so codegen can
  * call `graft.functions.CellMath.cellId(...)` directly). */
object CellMath {
  /** splitmix64 finalizer (public-domain constant set). */
  @inline def mix64(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** PDAL splitter cell coordinate: trunc toward zero then decrement for
    * negative offsets — NOT floor (filters/SplitterFilter.cpp:180-218:
    * `int xpos = int(dx/len); if (dx < 0) xpos--;`). */
  @inline def cellCoord(v: Double, origin: Double, len: Double): Int = {
    val d = v - origin
    val t = (d / len).toInt
    if (d < 0) t - 1 else t
  }

  @inline def pack(cx: Int, cy: Int): Long =
    (cx.toLong << 32) | (cy.toLong & 0xFFFFFFFFL)

  @inline def unpackX(cell: Long): Int = (cell >> 32).toInt
  @inline def unpackY(cell: Long): Int = cell.toInt

  /** Interleave the low 32 bits of a and b (a even positions) — Z-order /
    * Morton curve (filters/MortonOrderFilter.cpp:98 analog). */
  def interleave(a: Int, b: Int): Long = {
    @inline def spread(v0: Long): Long = {
      var v = v0 & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    // bias by 2^31 so negative cell coords interleave as unsigned, then
    // flip the top bit: the biased x MSB lands on bit 63 (the Long sign),
    // and without the flip signed ordering would put every cell right of
    // the origin BEFORE every cell left of it
    ((spread((a.toLong + 0x80000000L)) << 1) |
      spread(b.toLong + 0x80000000L)) ^ Long.MinValue
  }

  def cellId(x: Double, y: Double, ox: Double, oy: Double, len: Double,
      morton: Boolean): Long = {
    val cx = cellCoord(x, ox, len)
    val cy = cellCoord(y, oy, len)
    if (morton) interleave(cx, cy) else pack(cx, cy)
  }

  /** Unbiased bit-spread for the hierarchical id (bias would break the
    * parent-shift relation across levels). */
  private def interleaveRaw(a: Int, b: Int): Long = {
    @inline def spread(v0: Long): Long = {
      var v = v0 & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    (spread(a.toLong) << 1) | spread(b.toLong)
  }

  /** Hierarchical cell id: Morton cell with the resolution level in the
    * top bits — an H3/S2-style space-filling hierarchical index where
    * parent(cell at level L) = (id at L+1 masked) >> 2 per step: the id
    * at level L equals the level-(L+1) id with its last (finer) x/y bit
    * pair dropped. `len0` is the level-0 cell edge; level L edge =
    * len0 / 2^L. Coordinates are floor-binned so the parent relation is
    * exact (floor(c/2) chains). */
  def hierCellId(x: Double, y: Double, ox: Double, oy: Double, len0: Double,
      level: Int): Long = {
    val len = len0 / (1L << level).toDouble
    val cx = math.floor((x - ox) / len).toInt // true floor: exact parent chain
    val cy = math.floor((y - oy) / len).toInt
    (level.toLong << 58) | (interleaveRaw(cx, cy) >>> 6)
  }

  /** Pointy-top hexagon axial id via cube rounding (filters.hexbin analog;
    * hexer lib semantics are grid-shape-equivalent, ids are ours). */
  def hexId(x: Double, y: Double, edge: Double): Long = {
    val q = (math.sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / edge
    val r = (2.0 / 3.0 * y) / edge
    // cube round
    val s = -q - r
    var rq = math.round(q).toDouble
    var rr = math.round(r).toDouble
    val rs = math.round(s).toDouble
    val dq = math.abs(rq - q); val dr = math.abs(rr - r); val ds = math.abs(rs - s)
    if (dq > dr && dq > ds) rq = -rr - rs
    else if (dr > ds) rr = -rq - rs
    pack(rq.toInt, rr.toInt)
  }
}

/** splitmix64 finalizer over a long column — wraparound multiply needs JVM
  * semantics, not ANSI SQL, so this is a codegen'd expression rather than
  * column arithmetic. The deterministic PRNG base for Synth and salting. */
case class Mix64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mix64"
  override protected def nullSafeEval(v: Any): Any =
    CellMath.mix64(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CellMath.mix64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd cell-id expression — the engine's H3/S2-style cell encoding
  * (SURVEY §4 custom-surface item 1). Stays inside whole-stage codegen:
  * doGenCode emits a static call, no virtual dispatch, no boxing. */
case class CellIdExpr(left: Expression, right: Expression,
    ox: Double, oy: Double, len: Double, morton: Boolean)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "grid_cell_id"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    CellMath.cellId(x.asInstanceOf[Double], y.asInstanceOf[Double], ox, oy, len, morton)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xs, ys) =>
      s"graft.functions.CellMath.cellId($xs, $ys, ${ox}D, ${oy}D, ${len}D, $morton)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class HierCellIdExpr(left: Expression, right: Expression,
    ox: Double, oy: Double, len0: Double, level: Int)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hier_cell_id"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    CellMath.hierCellId(x.asInstanceOf[Double], y.asInstanceOf[Double], ox, oy, len0, level)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xs, ys) =>
      s"graft.functions.CellMath.hierCellId($xs, $ys, ${ox}D, ${oy}D, ${len0}D, $level)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class HexIdExpr(left: Expression, right: Expression, edge: Double)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hex_cell_id"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    CellMath.hexId(x.asInstanceOf[Double], y.asInstanceOf[Double], edge)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xs, ys) =>
      s"graft.functions.CellMath.hexId($xs, $ys, ${edge}D)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Point-in-polygon over a broadcast-able PnpGrid (GridPnp analog,
  * filters/private/pnp/GridPnp.hpp:59-78). The grid rides in the expression
  * tree; codegen pins it as a reference object so the per-row test is a
  * single call on a shared immutable structure — the Spark version of the
  * reference's per-cell candidate pruning. */
case class GridPnpContains(left: Expression, right: Expression, grid: PnpGrid)
  extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains_grid"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    grid.contains(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gridRef = ctx.addReferenceObj("pnpGrid", grid, classOf[PnpGrid].getName)
    defineCodeGen(ctx, ev, (xs, ys) => s"$gridRef.contains($xs, $ys)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Distance to a broadcast polygon grid (filters.geomdistance analog);
  * 0 inside, else min point-to-edge distance. */
case class GeomDistExpr(left: Expression, right: Expression, grid: PnpGrid)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_distance_grid"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    grid.distance(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gridRef = ctx.addReferenceObj("pnpGridD", grid, classOf[PnpGrid].getName)
    defineCodeGen(ctx, ev, (xs, ys) => s"$gridRef.distance($xs, $ys)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static SimHash kernel callable from generated Java (static forwarder). */
object SimHashMath {
  private val WS = org.apache.spark.unsafe.types.UTF8String.fromString("\\s+")

  /** 64-bit SimHash of `split(trim(lower(s)), '\\s+')` tokens: per token
    * one xxhash64 (Spark's function, default seed 42 — identical to the
    * SQL surface) and a 64-lane vote update. Bit-identical to
    * Dedup.simhashSql (equivalence-tested), but one tight loop instead
    * of ~64 interpreted lambda nodes per token. */
  def simhash64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val tokens = s.toLowerCase.trim.split(WS, -1)
    val votes = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(tokens(i), org.apache.spark.sql.types.StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }
}

/** Static MinHash kernel callable from generated Java. */
object MinHashMath {
  private val WS = org.apache.spark.unsafe.types.UTF8String.fromString("\\s+")
  private val SP = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** MinHash signature with the exact semantics of
    * Dedup.minhashSignature (equivalence-tested): word n-shingles of
    * `split(trim(lower(s)), '\\s+')`, each shingle string hashed once
    * with xxhash64 (seed 42), the k "permutations" derived as
    * xxhash64(seed, baseHash) = hashLong(baseHash, hashLong(seed, 42)),
    * minimum per seed. One tight loop; distinct base hashes cut the
    * inner k-scan for repetitive docs. */
  def signature(s: org.apache.spark.unsafe.types.UTF8String,
      numHashes: Int, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val toks = s.toLowerCase.trim.split(WS, -1)
    val numSh = math.max(toks.length - n, 0) + 1
    val hs = new Array[Long](numSh)
    val seen = new java.util.HashSet[java.lang.Long](numSh * 2)
    var cnt = 0
    var i = 0
    while (i < numSh) {
      val end = math.min(i + n, toks.length)
      val sh = org.apache.spark.unsafe.types.UTF8String.concatWs(
        SP, java.util.Arrays.copyOfRange(toks, i, end): _*)
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(sh, org.apache.spark.sql.types.StringType, 42L)
      if (seen.add(h)) { hs(cnt) = h; cnt += 1 }
      i += 1
    }
    val sig = new Array[Long](numHashes)
    var sd = 0
    while (sd < numHashes) {
      // the column formulation's seed stream is IntegerType (sequence),
      // and Spark hashes ints with hashInt — match it exactly
      val seedH = XXH64.hashInt(sd, 42L)
      var m = Long.MaxValue
      var j = 0
      while (j < cnt) {
        val v = XXH64.hashLong(hs(j), seedH)
        if (v < m) m = v
        j += 1
      }
      sig(sd) = m
      sd += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }
}

/** Codegen'd MinHash signature column (see MinHashMath.signature). */
case class MinHashSigExpr(child: Expression, numHashes: Int, shingle: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(v: Any): Any =
    MinHashMath.signature(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], numHashes, shingle)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashMath.signature($c, $numHashes, $shingle)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd SimHash fingerprint (document fingerprinting for near-dup
  * bucketing — stays inside whole-stage codegen). */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(v: Any): Any =
    SimHashMath.simhash64(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashMath.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** collect_list with a HARD per-group element cap: once a group has
  * cap + 1 elements, further inputs are dropped (cap + 1, not cap, so a
  * `size(...) <= cap` filter downstream can still DETECT the overflow
  * and discard the group). Built for LSH mega-buckets: a degenerate
  * bucket holding a large fraction of the corpus must not materialize an
  * unbounded ArrayBuffer in the aggregation buffer — with the cap, both
  * the partial (map-side) and final buffers are bounded at cap + 1
  * elements per group no matter how skewed the data. Which cap + 1
  * elements survive is arbitrary; callers only ever drop such groups. */
case class CappedCollectList(
    child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.Collect[
    scala.collection.mutable.ArrayBuffer[Any]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  require(cap > 0, "cappedCollectList: cap must be positive")
  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Any] =
    scala.collection.mutable.ArrayBuffer.empty
  override protected lazy val bufferElementType: DataType = child.dataType
  override def convertToBufferElement(value: Any): Any =
    org.apache.spark.sql.catalyst.InternalRow.copyValue(value)
  override def update(buffer: scala.collection.mutable.ArrayBuffer[Any],
      input: org.apache.spark.sql.catalyst.InternalRow):
      scala.collection.mutable.ArrayBuffer[Any] =
    if (buffer.length > cap) buffer else super.update(buffer, input)
  override def merge(buffer: scala.collection.mutable.ArrayBuffer[Any],
      other: scala.collection.mutable.ArrayBuffer[Any]):
      scala.collection.mutable.ArrayBuffer[Any] = {
    val room = cap + 1 - buffer.length
    if (room <= 0) buffer
    else buffer ++= (if (other.length <= room) other else other.take(room))
  }
  override def eval(buffer: scala.collection.mutable.ArrayBuffer[Any]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buffer.toArray)
  override def prettyName: String = "capped_collect_list"
  override def withNewMutableAggBufferOffset(newOffset: Int):
      org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int):
      org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Column-level API over the custom expressions. */
object F {
  import GraftBridge.{column, expression}

  def mix64(c: Column): Column = column(Mix64Expr(expression(c)))

  def simhash64(c: Column): Column = column(SimHash64Expr(expression(c)))

  def minhashSig(c: Column, numHashes: Int = 64, shingle: Int = 3): Column =
    column(MinHashSigExpr(expression(c), numHashes, shingle))

  /** collect_list bounded at cap + 1 elements per group (skew-safe). */
  def cappedCollectList(c: Column, cap: Int): Column =
    column(CappedCollectList(expression(c), cap).toAggregateExpression())

  def cellId(x: Column, y: Column, ox: Double, oy: Double, len: Double,
      morton: Boolean = false): Column =
    column(CellIdExpr(expression(x), expression(y), ox, oy, len, morton))

  def hierCellId(x: Column, y: Column, ox: Double, oy: Double, len0: Double,
      level: Int): Column =
    column(HierCellIdExpr(expression(x), expression(y), ox, oy, len0, level))

  def hexId(x: Column, y: Column, edge: Double): Column =
    column(HexIdExpr(expression(x), expression(y), edge))

  def pnpContains(grid: PnpGrid, x: Column, y: Column): Column =
    column(GridPnpContains(expression(x), expression(y), grid))

  /** Unpack as LongType via sign-extending shifts — an ANSI-safe
    * equivalent of the (int) truncations in CellMath.unpackX/Y. */
  def cellX(cell: Column): Column =
    org.apache.spark.sql.functions.shiftright(cell, 32)
  def cellY(cell: Column): Column =
    org.apache.spark.sql.functions.shiftright(
      org.apache.spark.sql.functions.shiftleft(cell, 32), 32)
}
