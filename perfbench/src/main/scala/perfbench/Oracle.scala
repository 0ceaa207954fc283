package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A doc fixture's columns on the driver. The
  * outputs of every spatial workload are checked against answers
  * computed here by plain loops, independently of the engine's operators.
  * `h` is xxhash64(doc_id, spans): it carries the span payload, so span
  * sequences that survive a pipeline unchanged xor to a known value. */
final class Points(val key: Array[Long], val x: Array[Double], val y: Array[Double],
    val z: Array[Double], val cls: Array[Int], val h: Array[Long]) {
  def n: Int = key.length
}

object Oracle {
  def collect(docs: DataFrame): Points = {
    val rows = docs.select(col("order_key"), col("x"), col("y"), col("z"),
        col("classification"), xxhash64(col("doc_id"), col("spans"))).collect()
    new Points(rows.map(_.getLong(0)), rows.map(_.getDouble(1)),
      rows.map(_.getDouble(2)), rows.map(_.getDouble(3)), rows.map(_.getInt(4)),
      rows.map(_.getLong(5)))
  }

  def inBox(p: Points, i: Int, minx: Double, miny: Double, maxx: Double,
      maxy: Double): Boolean =
    p.x(i) >= minx && p.x(i) <= maxx && p.y(i) >= miny && p.y(i) <= maxy

  def boxCount(p: Points, b: (Double, Double, Double, Double)): Long =
    (0 until p.n).count(i => inBox(p, i, b._1, b._2, b._3, b._4)).toLong

  /** Even-odd ray casting over one ring. */
  def inPolygon(xs: Array[Double], ys: Array[Double], px: Double, py: Double): Boolean = {
    var inside = false
    var j = xs.length - 1
    var i = 0
    while (i < xs.length) {
      if ((ys(i) > py) != (ys(j) > py) &&
          px < (xs(j) - xs(i)) * (py - ys(i)) / (ys(j) - ys(i)) + xs(i)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Distinct (floor((x-ox)/len), floor((y-oy)/len)) tiles of `idx`. */
  def tiles(p: Points, idx: Array[Int], ox: Double, oy: Double, len: Double): Int =
    idx.map(i => (math.floor((p.x(i) - ox) / len).toLong,
      math.floor((p.y(i) - oy) / len).toLong)).distinct.length

  /** Voxel "first" thinning: per voxel keep the lowest order_key, origin
    * at the first point minus half a cell. */
  def voxelFirst(p: Points, idx: Array[Int], cell: Double): Array[Int] = {
    if (idx.isEmpty) return idx
    val f = idx.minBy(p.key(_))
    val (ox, oy, oz) = (p.x(f) - cell / 2, p.y(f) - cell / 2, p.z(f) - cell / 2)
    val keep = mutable.HashMap.empty[(Long, Long, Long), Int]
    idx.foreach { i =>
      val v = (math.floor((p.x(i) - ox) / cell).toLong,
        math.floor((p.y(i) - oy) / cell).toLong, math.floor((p.z(i) - oz) / cell).toLong)
      keep.get(v) match {
        case Some(j) if p.key(j) <= p.key(i) =>
        case _ => keep(v) = i
      }
    }
    keep.values.toArray.sorted
  }

  /** Sum of classifications after a k-nearest-neighbour majority vote
    * over `idx` (self included; ties on distance broken by order_key; a
    * value replaces the original only with a strict majority; equal
    * counts pick the smaller value). Exact grid search, ring by ring. */
  def knnVoteSum(p: Points, idx: Array[Int], k: Int): Long = {
    val n = idx.length
    if (n == 0) return 0L
    // cells sized for ~8 points each, so the first cube usually settles it
    def ext(a: Array[Double]) = idx.map(a).max - idx.map(a).min + 1e-9
    val h = math.cbrt(8.0 * ext(p.x) * ext(p.y) * ext(p.z) / n)
    def c(v: Double) = math.floor(v / h).toLong
    def pack(a: Long, b: Long, d: Long) =
      ((a + (1L << 20)) << 42) | ((b + (1L << 20)) << 21) | (d + (1L << 20))
    // points sorted by cell; a cell's members are one run of `sorted`
    val cellOf = idx.map(i => pack(c(p.x(i)), c(p.y(i)), c(p.z(i))))
    val order = idx.indices.sortBy(cellOf(_)).toArray
    val sorted = order.map(idx(_))
    val runs = new java.util.HashMap[Long, (Int, Int)]()
    var s0 = 0
    while (s0 < n) {
      var e = s0
      while (e < n && cellOf(order(e)) == cellOf(order(s0))) e += 1
      runs.put(cellOf(order(s0)), (s0, e))
      s0 = e
    }
    val bd = new Array[Double](k)
    val bk = new Array[Long](k)
    val bv = new Array[Int](k)
    var total = 0L
    idx.foreach { q =>
      val (qx, qy, qz) = (p.x(q), p.y(q), p.z(q))
      val (cx, cy, cz) = (c(qx), c(qy), c(qz))
      var cnt = 0
      var r = 0
      var done = false
      while (!done) {
        // visit only the shell at Chebyshev radius r
        for (dx <- -r to r; dy <- -r to r; dz <- -r to r
             if math.max(math.abs(dx), math.max(math.abs(dy), math.abs(dz))) == r) {
          val run = runs.get(pack(cx + dx, cy + dy, cz + dz))
          if (run != null) {
            var j = run._1
            while (j < run._2) {
              val i = sorted(j)
              val ddx = p.x(i) - qx; val ddy = p.y(i) - qy; val ddz = p.z(i) - qz
              val d2 = ddx * ddx + ddy * ddy + ddz * ddz
              val key = p.key(i)
              if (cnt < k || d2 < bd(cnt - 1) || (d2 == bd(cnt - 1) && key < bk(cnt - 1))) {
                var s = if (cnt < k) cnt else k - 1
                while (s > 0 && (bd(s - 1) > d2 || (bd(s - 1) == d2 && bk(s - 1) > key))) {
                  bd(s) = bd(s - 1); bk(s) = bk(s - 1); bv(s) = bv(s - 1)
                  s -= 1
                }
                bd(s) = d2; bk(s) = key; bv(s) = p.cls(i)
                if (cnt < k) cnt += 1
              }
              j += 1
            }
          }
        }
        // everything outside the searched cube is farther than r*h
        done = cnt == math.min(k, n) && math.sqrt(bd(cnt - 1)) <= r * h
        r += 1
      }
      val votes = (0 until cnt).groupBy(bv(_)).map { case (v, s) => (s.size, -v) }
      val (best, negv) = votes.max
      total += (if (best.toDouble > cnt / 2.0) -negv else p.cls(q))
    }
    total
  }

  def xorHash(p: Points, idx: Array[Int]): Long = idx.foldLeft(0L)((a, i) => a ^ p.h(i))
}
