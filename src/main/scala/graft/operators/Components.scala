package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Min-label connected components over an arbitrary undirected edge list
  * of LONG node ids — the global phase shared by filters.cluster (over
  * contracted cell-component roots) and the dedup pair-graph resolution
  * (over near-dup doc-id pairs). Both callers need the same contract:
  * every node of the edge graph labeled with the MIN node id of its
  * connected component.
  *
  * Two paths, identical output (pinned by differentials in the callers'
  * specs):
  *
  * - LOCAL FAST PATH: when the edge list fits the driver, one collect via
  *   a primitive (Long, Long) encoder (~16 bytes/edge on the wire, no
  *   boxed Rows) + an open-addressed LongMap union-find replaces O(log
  *   diameter) propagation rounds, each of which is a fixed-cost Spark
  *   job. 2^21 edges stay ~32 MB driver-side.
  * - SCALE PATH: distributed min-label propagation with pointer jumping
  *   (path halving): each round a node takes the min label of its
  *   neighborhood, then labels chase their own parents one hop
  *   (lbl <- lbl(lbl)), so convergence is O(log diameter) rounds. The
  *   changed-row count rides the materialization job
  *   (Mat.withChangedCount): one job per round.
  */
object Components {

  /** Edge count at or below which the global phase runs as a driver
    * union-find over the collected edges; callers pass `edgeLimit` 0 to
    * pin the distributed loop. */
  private[graft] val localEdgeLimit: Long = 1L << 21

  /** Label every node of the (undirected) edge graph with the min node
    * id of its component. `edges`' first two columns are the endpoints
    * (long-valued); self-loops and duplicate edges are dropped here.
    * Returns (labels with columns (k, lbl), broadcastable) —
    * `broadcastable` is true only when the label map is actually
    * broadcast-sized, so callers can gate their join hint on it. Nodes
    * that appear in no edge are absent from the result; callers default
    * them to themselves (coalesce after a left join). */
  private[graft] def minLabels(edgesIn: DataFrame, edgeLimit: Long)
      : (DataFrame, Boolean) = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val c = edgesIn.columns
    val edgesNorm = graft.core.Mat(edgesIn
      .select(col(c(0)).cast("long").as("ra"), col(c(1)).cast("long").as("rb"))
      .filter(col("ra") =!= col("rb")).distinct())
    val eCnt = edgesNorm.count()
    if (edgeLimit > 0 && eCnt <= edgeLimit) {
      val es = edgesNorm.select(col("ra"), col("rb")).as[(Long, Long)].collect()
      val parent = new scala.collection.mutable.LongMap[Long](es.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrElse(x, x)
        while (p != x) {
          val gp = parent.getOrElse(p, p)
          parent(x) = gp // path halving (value update only, no resize)
          x = p; p = parent.getOrElse(x, x)
        }
        x
      }
      es.foreach { case (ra, rb) =>
        if (!parent.contains(ra)) parent(ra) = ra
        if (!parent.contains(rb)) parent(rb) = rb
        val fa = find(ra); val fb = find(rb)
        if (fa != fb) { if (fa < fb) parent(fb) = fa else parent(fa) = fb }
      }
      // union-by-min-id: the final find root IS the min key of the
      // component. Keys snapshotted first — find() path-halves in place.
      val keys = parent.keysIterator.toArray
      val out = keys.map(k => (k, find(k)))
      // broadcast only while the label map is actually broadcast-sized; a
      // near-limit map (up to ~2*edgeLimit entries) falls back to a
      // shuffled join rather than forcing a giant broadcast
      (spark.createDataset(out.toIndexedSeq).toDF("k", "lbl"),
        out.length <= (1 << 21))
    } else {
      val edges = graft.core.Mat(
        edgesNorm.select(col("ra").as("pk"), col("rb").as("qk"))
          .unionAll(edgesNorm.select(col("rb").as("pk"), col("ra").as("qk"))))
      var labels = graft.core.Mat(
        edges.select(col("pk").as("k")).distinct().withColumn("lbl", col("k")))
      var changed = 1L
      while (changed > 0) {
        // min over neighbor labels
        val nbrMin = edges.join(labels, edges("qk") === labels("k"))
          .groupBy(col("pk").as("k")).agg(min("lbl").as("nlbl"))
        // lazily persisted: the jump join reads prop on BOTH sides (rows +
        // parents projection) inside the one counted job below — the cache
        // dedupes the aggregate/join compute without adding a job barrier
        val prop = labels.join(nbrMin, Seq("k"), "left")
          .select(col("k"), col("lbl").as("__old"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // pointer jump: follow the label's own label (labels are node ids)
        val parents = prop.select(col("k").as("lbl"), col("lbl").as("__plbl"))
        // change count rides the materialization pass: one job per round
        val (jumped, ch) = graft.core.Mat.withChangedCount(
          prop.join(parents, Seq("lbl"), "left")
            .select(col("k"), coalesce(col("__plbl"), col("lbl")).as("lbl"),
              col("__old")),
          col("lbl") =!= col("__old"))
        prop.unpersist(false) // jumped is materialized; round cache done
        changed = ch
        labels = jumped.select("k", "lbl")
      }
      (labels, false)
    }
  }
}
