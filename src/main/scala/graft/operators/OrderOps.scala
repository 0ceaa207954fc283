package graft.operators

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Order-dependent operators. PDAL leans on insertion order everywhere
  * (PointView is an ordered selection vector, pdal/PointView.hpp:338);
  * our analog is the explicit `order_key` column. Every global rank and
  * prefix sum is one scalable scan, `Order.runningSums`: range-repartition
  * on the order, run the sums inside partitions, add a per-partition
  * carry (collected totals are one row per partition and group — never
  * point data). No single-partition windows at scale.
  */
object Order {
  /** Inclusive running sums of the non-null `values` (expression, output
    * column) in `sortCols` order, within each `groupCol` group (a null
    * group is a group) or over the whole frame. Each sum keeps the type
    * Spark's `sum` gives its value: long stays exact, and double sums are
    * exact when the values are integer multiples of a power of two well
    * inside the 53-bit mantissa. `values` name `df`'s columns by name.
    *
    * Range order keeps each group contiguous, so the only group of a
    * physical partition with rows in lower partitions is its first one,
    * and that group's carry (the totals of those lower rows) is one
    * literal per partition: no join, no broadcast. */
  def runningSums(df: DataFrame, sortCols: Seq[Column],
      values: Seq[(Column, String)], groupCol: Option[String] = None): DataFrame = {
    val parts = math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val keys = groupCol.map(col).toSeq
    // eager checkpoint pins the physical partitions: the totals job and the
    // sums job must see the SAME __pid mapping (AQE partition coalescing
    // can otherwise re-map partition ids between the two jobs)
    val ranged = graft.core.Mat(df.repartitionByRange(parts, (keys ++ sortCols): _*)
      .withColumn("__pid", spark_partition_id()))
    val sums = values.map { case (v, _) => sum(v) }
    val types = ranged.select(sums: _*).schema.map(_.dataType)
    val zero: Seq[Any] = types.map {
      case LongType => 0L
      case DoubleType => 0.0
      case t => throw new IllegalArgumentException(
        s"runningSums: sums must be long or double, got $t")
    }
    def add(a: Seq[Any], b: Seq[Any]): Seq[Any] = a.zip(b).map {
      case (x: Long, y: Long) => x + y
      case (x: Double, y: Double) => x + y
      case (x, null) => x
    }
    // (pid, group) -> that group's totals in that partition
    val totals = ranged.groupBy((col("__pid") +: keys): _*)
      .agg(sums.head, sums.tail: _*).collect()
      .map(r => (r.getInt(0), if (keys.isEmpty) None else Option(r.get(1)),
        values.indices.map(i => r.get(1 + keys.size + i))))
      .groupBy(_._1)
    val maxPid = if (totals.isEmpty) 0 else totals.keys.max
    // walk the partitions in order: a group already seen below is carried
    val seen = scala.collection.mutable.Map[Option[Any], Seq[Any]]()
    val carry = (0 to maxPid).map { pid =>
      val here = totals.get(pid).toSeq.flatten
      val c = here.collectFirst { case (_, g, _) if seen.contains(g) => (g, seen(g)) }
      here.foreach { case (_, g, t) => seen(g) = add(seen.getOrElse(g, zero), t) }
      c
    }
    def perPid(xs: Seq[Any], t: DataType): Column =
      element_at(array(xs.map(x => lit(x).cast(t)): _*), col("__pid") + 1)
    // null-safe: a carried null group is matched; where nothing is carried
    // the literal group is null and the carry 0, so a null group adds 0
    val carried = groupCol.fold(lit(true)) { g =>
      col(g) <=> perPid(carry.map(_.flatMap(_._1).orNull), df.schema(g).dataType)
    }
    val w = Window.partitionBy((col("__pid") +: keys): _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.withColumns(ListMap(values.indices.map { i =>
      val off = perPid(carry.map(_.fold(zero(i))(_._2(i))), types(i))
      values(i)._2 -> (coalesce(sum(values(i)._1).over(w), lit(zero(i))) +
        when(carried, off).otherwise(lit(zero(i))))
    }: _*)).drop("__pid")
  }

  /** Dense 0-based rank by `sortCols` as column `outCol`, within each
    * `groupCol` group or over the whole frame: a running count minus one. */
  def globalRankBy(df: DataFrame, sortCols: Seq[Column], outCol: String,
      groupCol: Option[String] = None): DataFrame =
    runningSums(df, sortCols, Seq(lit(1L) -> outCol), groupCol)
      .withColumn(outCol, col(outCol) - 1)

  /** 0-based rank by `order_key` as column `__rank`. */
  def globalRank(df: DataFrame): DataFrame =
    globalRankBy(df, Seq(col("order_key").asc), "__rank")
}

/** filters.sort analog (filters/SortFilter.cpp:42): stable sort by one
  * dimension — stability reproduced with the order_key tiebreaker
  * (pdal/PointView.hpp:308 stableSort). The sort manifests as the output
  * order_key so downstream order-dependent stages see the sorted order. */
object Sort {
  def apply(df: DataFrame, dim: String, ascending: Boolean = true): DataFrame = {
    val keys =
      if (ascending) Seq(col(dim).asc, col("order_key").asc)
      else Seq(col(dim).desc, col("order_key").asc) // stable: ties keep order
    Order.globalRankBy(df, keys, "__newkey")
      .drop("order_key").withColumnRenamed("__newkey", "order_key")
  }
}

/** filters.head / filters.tail (filters/HeadFilter.cpp:41 / TailFilter.cpp):
  * first/last `count` points in order; `invert` keeps the complement. */
object HeadTail {
  def head(df: DataFrame, count: Long, invert: Boolean = false): DataFrame = {
    if (!invert && count <= Int.MaxValue)
      // TakeOrderedAndProject — no global rank shuffle for a plain LIMIT
      return df.orderBy("order_key").limit(count.toInt)
    val ranked = Order.globalRank(df)
    val p = col("__rank") < count
    ranked.filter(if (invert) !p else p).drop("__rank")
  }
  /** The last `count` points are the first `count` by descending
    * order_key: no row count needed. */
  def tail(df: DataFrame, count: Long, invert: Boolean = false): DataFrame = {
    val ranked = Order.globalRankBy(df, Seq(col("order_key").desc), "__rank")
    val p = col("__rank") < count
    ranked.filter(if (invert) !p else p).drop("__rank")
  }
}

/** filters.locate (filters/LocateFilter.cpp:45): argmin/argmax of a dim.
  * Single-row result via min_by/max_by — one aggregate, no sort. */
object Locate {
  def apply(df: DataFrame, dim: String, minimum: Boolean): DataFrame = {
    val picker = if (minimum) min_by(col("order_key"), struct(col(dim), col("order_key")))
                 else max_by(col("order_key"), struct(col(dim), -col("order_key")))
    val key = df.agg(picker.as("k")).head().getLong(0)
    df.filter(col("order_key") === key)
  }
}

/** filters.decimation (filters/DecimationFilter.cpp:45): keep every
  * step-th point of [offset, limit) in order. */
object Decimation {
  def apply(df: DataFrame, step: Long, offset: Long = 0,
      limit: Long = Long.MaxValue): DataFrame = {
    require(step >= 1, s"filters.decimation: step must be >= 1, got $step")
    val ranked = Order.globalRank(df)
    ranked.filter(col("__rank") >= offset && col("__rank") < limit &&
      pmod(col("__rank") - offset, lit(step)) === 0).drop("__rank")
  }
}

/** filters.randomize (filters/RandomizeFilter.cpp:41): deterministic
  * seeded shuffle — new order = rank of a seeded hash of the old key.
  * The hash is the codegen'd splitmix64 finalizer (engine-independent
  * arithmetic, so an external engine can replay the permutation). */
object Randomize {
  def apply(df: DataFrame, seed: Long): DataFrame = {
    val hashed = df.withColumn("__h",
      graft.functions.F.mix64(col("order_key") + lit(seed)))
    Order.globalRankBy(hashed, Seq(col("__h").asc, col("order_key").asc), "__newkey")
      .drop("__h").drop("order_key").withColumnRenamed("__newkey", "order_key")
  }
}

/** filters.mortonorder (filters/MortonOrderFilter.cpp:46): reorder by
  * Z-order curve over quantized (x, y). `reverse` is the reference's
  * BIT-REVERSED Morton code (MortonOrderFilter.cpp:103 reverse_morton) —
  * a progressive-sampling order that scatters spatial neighbors, NOT the
  * descending Z-order. */
object MortonOrder {
  /** result = ((v >> s) & m) | ((v & m) << s) cascade — 64-bit bit
    * reversal as pure column ops (stays in whole-stage codegen). */
  private def rev64(c0: Column): Column = {
    def sw(v: Column, sh: Int, m: Long): Column =
      shiftrightunsigned(v, sh).bitwiseAND(lit(m))
        .bitwiseOR(shiftleft(v.bitwiseAND(lit(m)), sh))
    var v = c0
    v = sw(v, 1, 0x5555555555555555L)
    v = sw(v, 2, 0x3333333333333333L)
    v = sw(v, 4, 0x0F0F0F0F0F0F0F0FL)
    v = sw(v, 8, 0x00FF00FF00FF00FFL)
    v = sw(v, 16, 0x0000FFFF0000FFFFL)
    shiftrightunsigned(v, 32).bitwiseOR(shiftleft(v, 32))
  }

  def apply(df: DataFrame, reverse: Boolean = false, cellSize: Double = 0.01): DataFrame = {
    val mnArr = df.agg(min("x"), min("y")).take(1)
    if (mnArr.isEmpty || mnArr(0).isNullAt(0)) return df // empty input
    val mn = mnArr(0)
    val (ox, oy) = (mn.getDouble(0), mn.getDouble(1))
    val code = graft.functions.F.cellId(col("x"), col("y"), ox, oy, cellSize, morton = true)
    val hashed = df.withColumn("__m", if (reverse) rev64(code) else code)
    Order.globalRankBy(hashed, Seq(col("__m").asc, col("order_key").asc), "__newkey")
      .drop("__m").drop("order_key").withColumnRenamed("__newkey", "order_key")
  }
}
