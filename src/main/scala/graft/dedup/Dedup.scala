package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.functions.F
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines over a documents
  * table (id column + text column). All candidate generation is
  * bucket-partitioned (LSH band join / hash groupBy) — never an O(n^2)
  * cross join — so every variant scales linearly in shuffle volume.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on the normalized-text fingerprint; keeps
    * the lowest id per group (one shuffle on a 8-byte key). */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    val keep = fp.groupBy("__fp").agg(min(col(idCol)).as(idCol))
    fp.join(keep, Seq("__fp", idCol), "left_semi").drop("__fp")
  }

  /** MinHash signature: each shingle STRING is hashed once; the
    * numHashes "permutations" derive from that 8-byte base hash with a
    * seeded long-hash (the standard one-strong-hash + k-derived family)
    * — hashing a long is a single block vs 4+ for the string, so the
    * per-row work drops ~4x vs re-hashing strings per seed. The base
    * array is bound to a lambda variable so it is built once per row
    * (CollapseProject cannot inline into a lambda-variable reference). */
  def minhashSignature(textCol: Column, numHashes: Int = 64, shingle: Int = 3): Column =
    element_at(transform(
      array(array_distinct(transform(TextAnalysis.wordShingles(textCol, shingle),
        s => xxhash64(s)))),
      hs => transform(sequence(lit(0), lit(numHashes - 1)),
        seed => array_min(transform(hs, h => xxhash64(seed, h))))), 1)

  /** S-curve banding: pick the band count (a divisor of numHashes) whose
    * collision threshold (1/b)^(1/r) sits closest to the requested
    * similarity threshold. */
  def autoBands(numHashes: Int, threshold: Double): Int =
    (1 to numHashes).filter(numHashes % _ == 0).minBy { b =>
      val r = numHashes / b
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }

  /** Candidate pairs of the LSH dedup family, from ONE capped bucket
    * aggregation — never a bucket self-join. `keyed` holds a member
    * column `m`; every other column is the bucket key. Each bucket's
    * sorted member list expands to its i<j pairs in place, returned as
    * (a, b) with a before b in sort order. Members are bare ids or
    * structs whose first field is `id` (sort_array orders structs by
    * their first field, so the expansion stays on id order).
    *
    * Degenerate mega-buckets (empty/boilerplate docs, coincident
    * embeddings) would make the expansion quadratic: buckets larger than
    * `maxBucket` generate NO pairs. The capped collect bounds the
    * aggregation buffer at maxBucket + 1 members per bucket at any skew,
    * so such a bucket arrives as exactly maxBucket + 1 members and the
    * size filter drops it — same semantics as an uncapped collect +
    * filter. This is a documented recall cap, not a silent one: the
    * members are near-identical boilerplate that exact dedup already
    * collapses, and a pair inside a dropped bucket is only missed if
    * all its other shared buckets are over the cap too.
    *
    * maxBucket bounds the aggregation BUFFER, not the pair OUTPUT: a
    * bucket just under the cap still expands ~maxBucket^2/2 pairs inside
    * one task. The callers' default (1e5 -> ~5e9 pairs worst case)
    * favors recall; pipelines that need a bounded per-task pair count
    * should pass a smaller cap (1000 -> <=0.5M pairs per bucket).
    *
    * Ids must be unique: duplicate ids sort adjacent and would pair with
    * themselves inside a shared bucket. Pairs with equal ids are
    * dropped, which also hides one real pair per duplicated id. A pair
    * sharing several buckets comes out once per bucket; callers
    * deduplicate where it is cheapest. */
  private[graft] def bucketPairs(keyed: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2 (got $maxBucket)")
    val key = keyed.columns.filter(_ != "m").map(col)
    val id: Column => Column = keyed.schema("m").dataType match {
      case _: StructType => _.getField("id")
      case _ => identity
    }
    keyed.groupBy(key.toIndexedSeq: _*)
      .agg(sort_array(F.cappedCollectList(col("m"), maxBucket)).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxBucket)
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
      .filter(id(col("a")) =!= id(col("b")))
  }

  /** MinHash + LSH near-dup pairs: signatures banded into `bands`
    * buckets (bands <= 0 -> auto-picked from the threshold S-curve);
    * same-bucket docs become candidates (bucketPairs over the (band,
    * bucket) key, with its maxBucket recall cap); candidates verified by
    * estimated Jaccard (matching minhash fraction) >= threshold.
    * Returns (id_a, id_b, jaccard_est) with id_a < id_b. */
  def minhashLsh(df: DataFrame, threshold: Double = 0.7, numHashes: Int = 64,
      bands: Int = 0, idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 100000): DataFrame = {
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % b == 0,
      s"bands ($b) must divide numHashes ($numHashes): a remainder would " +
        "silently drop the tail hashes from banding (autoBands only " +
        "returns divisors)")
    val rows = numHashes / b
    // Codegen'd one-pass signature (strings hashed once, permutations
    // derived from the 8-byte base hash) — bit-identical to the column
    // formulation minhashSignature, which stays as the executable spec
    // it is equivalence-tested against. No intermediate shingle table is
    // materialized at all.
    val sig = df.select(col(idCol).as("id"),
      F.minhashSig(col(textCol), numHashes, 3).as("sig"))
    val banded = sig.withColumn("band", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("bucket", xxhash64(col("band"),
        slice(col("sig"), col("band") * rows + 1, lit(rows))))
    // one (band, bucket) aggregation, a single shuffle; candidate ids are
    // deduplicated before the signatures are re-attached
    val cand = bucketPairs(
        banded.select(col("band"), col("bucket"), col("id").as("m")), maxBucket)
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    val withSigs = cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
    // ONE materialization of the signature cache before the plan above
    // scans it at three points (banding + the two verify joins) —
    // concurrent first-scans would each re-hash the shingles. Cached
    // only now, so a bad maxBucket has already failed and left no cache.
    sig.persist(StorageLevel.MEMORY_AND_DISK).count()
    // materialize the (small) verified pair set, then release the
    // signature cache — returning it lazily would pin the cached blocks
    // for the session (the caller has no handle to free them)
    val out = graft.core.Mat(withSigs.withColumn("jaccard_est",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (a, b) => when(a === b, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / numHashes)
      .filter(col("jaccard_est") >= threshold)
      .select("id_a", "id_b", "jaccard_est"))
    sig.unpersist(false)
    out
  }

  /** Near-dup removal built on minhashLsh: drop the higher id of every
    * matched pair (transitive chains collapse to the smallest id via the
    * standard keep-if-never-the-larger rule). */
  def minhashDedup(df: DataFrame, threshold: Double = 0.7,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dupIds = minhashLsh(df, threshold, idCol = idCol, textCol = textCol)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Transitive dup-GROUP resolution over a near-dup pair set: connected
    * components of the pair graph, each doc labeled with the MIN doc id
    * of its component (`groupCol`), canonical = (id == group). This is
    * the end state a training pipeline actually consumes — pairwise
    * drop-the-larger (minhashDedup) keeps BOTH survivors of a
    * star-shaped component {5,6,7} with pairs (5,7),(6,7) only, while
    * the component rule collapses it to one. Ids must be long-valued
    * (the documents table's doc_id is). Runs on the shared Components
    * machinery: driver union-find when the pair set fits (near-dup pair
    * sets are tiny next to the corpus), distributed min-label
    * propagation with pointer jumping past the edge limit — never a
    * driver-side transitive closure over the corpus. */
  def resolveComponents(df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", groupCol: String = "dup_group"): DataFrame =
    resolveComponents(df, pairs, idCol, groupCol,
      graft.operators.Components.localEdgeLimit)

  /** edgeLimit-pinned variant (0 = distributed label propagation) so the
    * fast==distributed differential is testable like Cluster's. */
  private[graft] def resolveComponents(df: DataFrame, pairs: DataFrame,
      idCol: String, groupCol: String, edgeLimit: Long): DataFrame = {
    val p = pairs.columns
    val (labels, small) = graft.operators.Components.minLabels(
      pairs.select(col(p(0)), col(p(1))), edgeLimit)
    val lbl = labels.select(col("k").as(idCol), col("lbl").as("__grp"))
    df.join(if (small) broadcast(lbl) else lbl, Seq(idCol), "left")
      .withColumn(groupCol, coalesce(col("__grp"), col(idCol).cast("long")))
      .drop("__grp")
  }

  /** Corpus after component resolution: exactly one canonical doc (the
    * min id) survives per connected near-dup component. */
  def dedupCanonical(df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    resolveComponents(df, pairs, idCol, "__dg")
      .filter(col("__dg") === col(idCol).cast("long")).drop("__dg")

  /** 64-bit SimHash fingerprint of the token stream — per-bit vote sums
    * folded into a long. Column-valued shift amounts need the SQL surface
    * (the Scala `shiftright` helper only takes Int), so this is one SQL
    * higher-order expression over a named input column. */
  def simhashSql(textColName: String): Column = expr(
    s"""aggregate(
         zip_with(
           aggregate(
             split(trim(lower($textColName)), '\\\\s+'),
             array_repeat(0L, 64),
             (acc, w) -> zip_with(acc, sequence(0, 63),
               (a, i) -> a + IF((shiftrightunsigned(xxhash64(w), CAST(i AS INT)) & 1) = 1, 1L, -1L))),
           sequence(0, 63),
           (v, i) -> IF(v > 0, shiftleft(1L, CAST(i AS INT)), 0L)),
         0L, (acc, b) -> acc | b)""")

  /** SimHash near-dup pairs: 64-bit fingerprints probed by chunk keys
    * (simhashPairsFromFp), verified with bit_count(xor) <= maxHamming.
    * Candidate recall is 1.0 AT the requested radius, 0 to 23. */
  def simhashPairs(df: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 100000): DataFrame = {
    // codegen'd fingerprint (one tight loop per row); bit-identical to
    // simhashSql, which stays as the executable spec it is tested against
    val fp = graft.core.Mat(
      df.select(col(idCol).as("id"), F.simhash64(col(textCol)).as("fp")))
    simhashPairsFromFp(fp, maxHamming, maxBucket)
  }

  /** Pair generation over precomputed (id, fp) fingerprints — split out
    * so bucket recall is testable on crafted fingerprints.
    *
    * The 64 bits are split into c chunks (widths differ by at most one
    * bit). By pigeonhole, a pair within hamming distance h has some
    * chunk carrying <= floor(h/c) of the flips, so the probing below is
    * derived from maxHamming to make candidate recall 1.0 AT the radius:
    *  - maxHamming <= 7: maxHamming+1 chunks keyed on their exact value
    *    (floor(h/c) = 0 — the pair shares an untouched chunk);
    *  - maxHamming 8 to 23: maxHamming/3+1 chunks, each also probed with
    *    every 1-bit flip of itself. Two fingerprints share a probe key
    *    for a chunk iff their distance within it is <= 2, and
    *    floor(h/c) <= 2 holds for c = h/3+1. Cost: 64 + c probe keys per
    *    doc instead of c.
    * Beyond 23 the chunks would fall under 8 bits, whose bucket
    * populations go quadratic; larger radii need multi-table indexes.
    *
    * Members carry (id, fp) structs through bucketPairs, so the hamming
    * verification needs NO re-attach join: the 16-byte payload rides the
    * one shuffle this path has. */
  def simhashPairsFromFp(fp: DataFrame, maxHamming: Int,
      maxBucket: Int = 100000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 23,
      s"maxHamming must be in 0..23 (got $maxHamming): a larger radius " +
        "needs chunks narrower than 8 bits")
    val flips = maxHamming > 7
    val c = if (flips) maxHamming / 3 + 1 else maxHamming + 1
    val widths = Array.tabulate(c)(i => 64 / c + (if (i < 64 % c) 1 else 0))
    val shifts = widths.scanLeft(0)(_ + _)
    // one probe per (chunk, flip); flip 0 is the exact chunk value
    val probes = for {
      i <- 0 until c
      mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      flip <- 0L +: (if (flips) (0 until widths(i)).map(1L << _) else Nil)
    } yield struct(lit(i).as("i"), lit(shifts(i)).as("sh"),
      lit(mask).as("mask"), lit(flip).as("flip"))
    val keyed = fp.withColumn("__p", explode(array(probes: _*)))
      .select(struct(col("id"), col("fp")).as("m"),
        struct(col("__p.i"), expr("shiftrightunsigned(fp, __p.sh)")
          .bitwiseAND(col("__p.mask")).bitwiseXOR(col("__p.flip"))).as("key"))
    bucketPairs(keyed, maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs from LSH (verification
    * path): true set Jaccard over word shingles. */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.wordShingles(col(textCol), n)).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          greatest(size(array_union(col("sh_a"), col("sh_b"))), lit(1)))
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding cosine near-dup pairs: seeded random-hyperplane LSH over a
    * vector column, MULTI-BAND (OR-of-ANDs like minhash banding) bucket
    * join, exact cosine verification.
    *
    * Recall for a pair at angle theta: 1 - (1 - (1-theta/pi)^planesPerBand)
    * ^ bands. Defaults (8 planes x 6 bands) give ~0.96 recall at cosine
    * 0.95 — the single-band version's ~0.28 recall hole. Candidate
    * volume stays linear: per band, same-bucket pairs only.
    *
    * Candidate ids come from bucketPairs over the (band, bucket) key, so
    * a degenerate slice of coincident embeddings (zero vectors from empty
    * docs, boilerplate embeddings) is dropped by its maxBucket recall cap
    * in every band instead of expanding O(n^2) pairs 6 times over. */
  def embeddingNearDup(df: DataFrame, threshold: Double = 0.95,
      planesPerBand: Int = 8, bands: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = transform(col(vecCol), x => x.cast("double"))
    val norm = sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    // norm bound to a lambda variable: evaluated once per row, not once
    // per element (inlined it would be an O(D^2) full-array aggregate
    // inside the per-element lambda)
    val unit = element_at(transform(array(greatest(norm, lit(1e-12))),
      nrm => transform(v, x => x / nrm)), 1)
    val prep = graft.core.Mat(df.select(col(idCol).as("id"), unit.as("u")))
    // deterministic pseudo-random hyperplanes, component j of plane p =
    // xxhash64(p, j) -> [-1, 1). PRECOMPUTED once on the driver and
    // broadcast (bands*planes*dim doubles) — the per-row work is then
    // bands*planes fused dot products in one tight mapPartitions loop,
    // not 48 interpreted hash-recomputing lambda chains per vector.
    val dim = prep.select(size(col("u"))).head().getInt(0)
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val planes = Array.tabulate(bands * planesPerBand)(p =>
      Array.tabulate(dim)(j =>
        XXH64.hashInt(j, XXH64.hashInt(p, 42L)).toDouble / 9.223372036854776e18))
    val bp = spark.sparkContext.broadcast(planes)
    val sig = prep.as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ps = bp.value
        it.flatMap { case (id, u) =>
          (0 until bands).iterator.map { b =>
            var h = 0L
            var i = 0
            while (i < planesPerBand) {
              val w = ps(b * planesPerBand + i)
              var d = 0.0; var j = 0
              val n = math.min(u.length, w.length)
              while (j < n) { d += u(j) * w(j); j += 1 }
              if (d >= 0) h |= (1L << i)
              i += 1
            }
            (id, b, h)
          }
        }
      }.toDF("id", "band", "h")
      .select(col("id").as("m"), struct(col("band"), col("h")).as("bucket"))
    // dedup candidate IDS before re-attaching vectors: the distinct
    // shuffles 16-byte pairs, not embedding payloads
    val candIds = bucketPairs(sig, maxBucket)
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    val cand = candIds
      .join(prep.select(col("id").as("id_a"), col("u").as("u_a")), Seq("id_a"))
      .join(prep.select(col("id").as("id_b"), col("u").as("u_b")), Seq("id_b"))
    graft.core.Mat(cand.withColumn("cosine",
        aggregate(zip_with(col("u_a"), col("u_b"), (x, y) => x * y),
          lit(0.0), (a, x) => a + x))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine"))
  }
}
