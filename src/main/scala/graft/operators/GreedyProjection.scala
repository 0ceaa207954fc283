package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** filters.greedyprojection — greedy-projection surface triangulation
  * (filters/GreedyProjection.cpp:63-77 options; the reference embeds
  * PCL's GP3, Marton/Rusu/Beetz ICRA 2009).
  *
  * The reference algorithm is an inherently SEQUENTIAL fringe walker:
  * 1,893 lines of mutable per-point state (fringe queue, ffn/sfn edge
  * bookkeeping) whose output depends on traversal order; the reference
  * ships no unit tests for it, so there is no golden to match. This
  * engine implements the same operator contract — triangulate a point
  * cloud by projecting local neighborhoods onto tangent planes, honoring
  * the same options — via the published ANCESTOR of GP3: localized
  * projection Delaunay triangulation (Gopi, Krishnan & Silva,
  * Eurographics 2000), which is deterministic and embarrassingly
  * parallel:
  *
  *  1. one grid-kNN self-join (`num_neighbors`, the reference's nnn);
  *  2. per point q: keep neighbors within
  *     sqrt(min(radius^2, multiplier^2 * d1^2)) (the reference's
  *     sqr_dist_threshold, GreedyProjection.cpp:229) whose UNORIENTED
  *     normal deviation from q is <= eps_angle (:474-485, the
  *     consistent_=false default folds angles past pi/2);
  *  3. project q + kept neighbors onto q's tangent plane (basis
  *     u = n x v, v = unitOrthogonal(n) — :242-247) and triangulate in
  *     2D (the engine's own Bowyer-Watson core);
  *  4. q emits its INCIDENT local-Delaunay triangles whose corner angle
  *     at q lies in [min_angle, max_angle] and whose edges are all
  *     <= radius;
  *  5. CONSENSUS: a triangle survives iff all three of its vertices
  *     emit it (each corner's angle bound is thereby enforced in its
  *     own tangent plane — Gopi's consistency criterion); orientation
  *     is made consistent with the smallest vertex's normal.
  *
  * Where the sampling is locally dense (every candidate circumdisk
  * covered by its vertices' threshold balls), the consensus mesh equals
  * the restricted Delaunay triangulation — the surface GP3 greedily
  * approximates; on a locally-complete planar patch it is EXACTLY the
  * global 2D Delaunay triangulation (GreedySpec proves this against
  * DelaunayCore, and q60 hash-verifies it on the unique-DT sheared
  * lattice against the same SQL oracle as q55).
  *
  * Scale: one supercell-halo kNN shuffle of slim columns, one coords
  * re-join, one bounded groupBy (<= num_neighbors rows per point,
  * O(k log k) local work), one consensus groupBy on the id triple — no
  * driver loops, no order-dependent state, identical output at any
  * parallelism. */
object GreedyProjection extends Serializable {
  def apply(df: DataFrame, radius: Double, multiplier: Double,
      numNeighbors: Int = 100, minAngle: Double = math.Pi / 18,
      maxAngle: Double = 2 * math.Pi / 3, epsAngle: Double = math.Pi / 4,
      cellSize: Double = 0.0): DataFrame = {
    require(radius > 0, "filters.greedyprojection: radius must be > 0")
    require(multiplier > 0, "filters.greedyprojection: multiplier must be > 0")
    val spark = df.sparkSession
    import spark.implicits._

    // normals: shared acquisition (provided or estimated, unit) — the
    // reference runs NormalFilter unconditionally (GreedyProjection.cpp:130)
    val ptsN = Normals.ensureUnit(df, k = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val outSchema = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType), StructField("c", LongType)))
    val n = ptsN.limit(4).count()
    if (n < 3) {
      val out = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
      ptsN.unpersist(false)
      return out
    }

    val hits = KnnJoin.knn(ptsN.select("order_key", "x", "y", "z"), ptsN,
      numNeighbors, valueCol = "order_key", cellSize = cellSize,
      selfJoin = true).rows
    // neighbor normals: a hit carries coordinates but no normal, so the
    // neighbors join back by cid
    val edges = hits.select(col("order_key"), explode(col("knn")).as("h"))
      .select(col("order_key"), col("h.cid").as("cid"), col("h.d2").as("d2"))
      .join(ptsN.select(col("order_key").as("cid"), col("x").as("ax"),
        col("y").as("ay"), col("z").as("az"), col("nx").as("anx"),
        col("ny").as("any_"), col("nz").as("anz")), Seq("cid"))
    val grouped = edges.groupBy("order_key")
      .agg(collect_list(struct(col("cid"), col("d2"), col("ax"), col("ay"),
        col("az"), col("anx"), col("any_"), col("anz"))).as("nbrs"))
      .join(ptsN, Seq("order_key"))

    val sqrMaxEdge = radius * radius
    val sqrMu = multiplier * multiplier
    val cosEps = math.cos(epsAngle)

    val cand = grouped
      .as[(Long, Seq[(Long, Double, Double, Double, Double, Double, Double,
        Double)], Double, Double, Double, Double, Double, Double)]
      .flatMap { case (qid, nbrs0, qx, qy, qz, qnx, qny, qnz) =>
        // deterministic neighbor order: (d2, cid), self removed
        val nbrs = nbrs0.filter(_._1 != qid).sortBy(t => (t._2, t._1))
        if (nbrs.isEmpty) Iterator.empty
        else {
          val d1sq = nbrs.head._2
          val thr = math.min(sqrMaxEdge, sqrMu * d1sq)
          // eps_angle on UNORIENTED normals: |cos| >= cos(eps) when
          // eps <= pi/2 (the reference folds angle > pi/2 to pi-angle)
          val kept = nbrs.filter { t =>
            val cosv = qnx * t._6 + qny * t._7 + qnz * t._8
            t._2 <= thr && math.abs(cosv) >= cosEps - 1e-15
          }
          if (kept.size < 2) Iterator.empty
          else {
            // tangent basis at q: v = unitOrthogonal(n), u = n x v
            val (vx, vy, vz) =
              if (math.abs(qnx) > math.abs(qnz) || math.abs(qny) > math.abs(qnz)) {
                val inv = 1.0 / math.sqrt(qnx * qnx + qny * qny)
                (-qny * inv, qnx * inv, 0.0)
              } else {
                val inv = 1.0 / math.sqrt(qny * qny + qnz * qnz)
                (0.0, -qnz * inv, qny * inv)
              }
            val ux = qny * vz - qnz * vy
            val uy = qnz * vx - qnx * vz
            val uz = qnx * vy - qny * vx
            val m = kept.size + 1
            val px = new Array[Double](m); val py = new Array[Double](m)
            val ids = new Array[Long](m)
            val wx = new Array[Double](m); val wy = new Array[Double](m)
            val wz = new Array[Double](m)
            ids(0) = qid; wx(0) = qx; wy(0) = qy; wz(0) = qz
            // px(0) = py(0) = 0 (q projects to the origin of its plane)
            var i = 1
            for (t <- kept) {
              val dx = t._3 - qx; val dy = t._4 - qy; val dz = t._5 - qz
              px(i) = dx * ux + dy * uy + dz * uz
              py(i) = dx * vx + dy * vy + dz * vz
              ids(i) = t._1; wx(i) = t._3; wy(i) = t._4; wz(i) = t._5
              i += 1
            }
            val tris = DelaunayCore.triangulate(px, py)
            val out = new scala.collection.mutable.ArrayBuffer[(Long, Long,
              Long, Double, Double, Double, Double, Double, Double, Double,
              Double, Double, Long)]
            var ti = 0
            while (ti < tris.length) {
              val a = tris(ti); val b = tris(ti + 1); val c = tris(ti + 2)
              if (a == 0 || b == 0 || c == 0) {
                // q's corner is index 0; the two fan neighbors
                val (o1, o2) =
                  if (a == 0) (b, c) else if (b == 0) (c, a) else (a, b)
                // corner angle at q in the projected plane
                val a1 = math.atan2(py(o1), px(o1))
                val a2 = math.atan2(py(o2), px(o2))
                var dif = math.abs(a2 - a1)
                if (dif > math.Pi) dif = 2 * math.Pi - dif
                // all 3D edge lengths <= radius (incident edges already
                // bounded by thr <= radius^2; the opposite edge checked
                // here and again by its own endpoints' emissions)
                def d2(i1: Int, i2: Int) = {
                  val dx = wx(i1) - wx(i2); val dy = wy(i1) - wy(i2)
                  val dz = wz(i1) - wz(i2)
                  dx * dx + dy * dy + dz * dz
                }
                if (dif >= minAngle && dif <= maxAngle &&
                    d2(o1, o2) <= sqrMaxEdge) {
                  // canonical sorted triple for consensus
                  val arr = Array((ids(a), a), (ids(b), b), (ids(c), c))
                    .sortBy(_._1)
                  out += ((arr(0)._1, arr(1)._1, arr(2)._1,
                    wx(arr(0)._2), wy(arr(0)._2), wz(arr(0)._2),
                    wx(arr(1)._2), wy(arr(1)._2), wz(arr(1)._2),
                    wx(arr(2)._2), wy(arr(2)._2), wz(arr(2)._2), qid))
                }
              }
              ti += 3
            }
            out.iterator
          }
        }
      }
      .toDF("a", "b", "c", "ax", "ay", "az", "bx", "by", "bz", "cx", "cy",
        "cz", "eid")

    // Gopi consistency: all three vertices must emit the triangle
    val agreed = cand.groupBy("a", "b", "c")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("eid"), col("ax"), col("ay"), col("az"), col("bx"),
          col("by"), col("bz"), col("cx"), col("cy"), col("cz"))).as("m"))
      .filter(col("cnt") === 3)

    // orientation: front face along the smallest vertex's normal; the
    // sorted triple keeps the smallest id first (q55-canonical form)
    val withN = agreed.join(ptsN.select(col("order_key").as("a"),
      col("nx"), col("ny"), col("nz")), Seq("a"))
    val e1x = col("m.bx") - col("m.ax"); val e1y = col("m.by") - col("m.ay")
    val e1z = col("m.bz") - col("m.az")
    val e2x = col("m.cx") - col("m.ax"); val e2y = col("m.cy") - col("m.ay")
    val e2z = col("m.cz") - col("m.az")
    val tnx = e1y * e2z - e1z * e2y
    val tny = e1z * e2x - e1x * e2z
    val tnz = e1x * e2y - e1y * e2x
    val dot = tnx * col("nx") + tny * col("ny") + tnz * col("nz")
    val out = withN.select(col("a"),
      when(dot >= 0, col("b")).otherwise(col("c")).as("b"),
      when(dot >= 0, col("c")).otherwise(col("b")).as("c"))
    val res = graft.core.Mat(out.orderBy("a", "b", "c"))
    ptsN.unpersist(false)
    res
  }
}
