package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Synth
import graft.operators._
import graft.dedup.Dedup
import graft.ann.Ann
import graft.text.TextAnalysis
import graft.media.Multimodal

class ExtrasSpec extends AnyFunSuite {
  import TestSpark._

  lazy val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  lazy val embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("outlier statistical flags far points; radius mode counts neighborhood") {
    val docs = Synth.docs(spark, 400, seed = 5)
    val out = Outlier.statistical(docs, meanK = 6, multiplier = 1.0)
    assert(out.count() == 400)
    assert(out.filter(col("classification") === 7).count() > 0)
    val rad = Outlier.radius(docs, radius = 50.0, minK = 2)
    assert(rad.count() == 400)
  }

  test("iqr/mad filter by quantile bands (IQRFilter/MADFilter)") {
    val docs = Synth.docs(spark, 500, seed = 6)
    val iqr = Iqr(docs, "z", 1.5)
    assert(iqr.count() <= 500 && iqr.count() > 400)
    val mad = Mad(docs, "z", 2.0)
    assert(mad.count() <= 500 && mad.count() > 100)
  }

  test("lof/reciprocity/radialdensity produce per-point scores") {
    val docs = Synth.docs(spark, 300, seed = 8)
    val lof = Lof(docs, minPts = 5)
    assert(lof.filter(col("lof").isNull).count() == 0)
    assert(lof.agg(avg("lof")).head().getDouble(0) > 0.5)
    val rec = Reciprocity(docs, k = 5)
    val bounds = rec.agg(min("reciprocity"), max("reciprocity")).head()
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 100.0)
    val rd = RadialDensity(docs, radius = 100.0)
    assert(rd.filter(col("radial_density") <= 0).count() == 0)
  }

  test("cluster: two well-separated blobs -> 2 clusters (ClusterFilter)") {
    import spark.implicits._
    val blob1 = (0 until 50).map(i => (i.toLong, i * 1.0, i * 1.0, 0.0))
    val blob2 = (0 until 50).map(i => ((i + 50).toLong, 10000.0 + i, 10000.0 + i, 0.0))
    val df = (blob1 ++ blob2).toDF("order_key", "x", "y", "z")
    val out = Cluster(df, tolerance = 5.0)
    val ids = out.select("cluster_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids.size == 2)
    // all blob1 points share a label distinct from blob2
    val byBlob = out.withColumn("blob", col("order_key") < 50)
      .groupBy("blob").agg(countDistinct("cluster_id")).collect()
    byBlob.foreach(r => assert(r.getLong(1) == 1))
  }

  test("cluster: driver union-find fast path == distributed label-prop " +
      "on a random multi-component scene") {
    import spark.implicits._
    // random chains crossing many cells at tolerance 3 -> nontrivial
    // contracted root graph with multi-hop components
    val rnd = new scala.util.Random(42)
    val pts = (0 until 40).flatMap { c =>
      val bx = rnd.nextDouble() * 2000; val by = rnd.nextDouble() * 2000
      (0 until 25).map { i =>
        // consecutive gap <= sqrt(2.5^2+0.5^2+0.2^2) ~= 2.56 < tolerance 3
        ((c * 25 + i).toLong, bx + i * 2.0 + rnd.nextDouble() * 0.5,
          by + rnd.nextDouble() * 0.5, rnd.nextDouble() * 0.2)
      }
    }
    val df = pts.toDF("order_key", "x", "y", "z")
    def labelsOf(limit: Long) =
      Cluster(df, tolerance = 3.0, minPoints = 1, "cluster_id", limit)
        .select("order_key", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = labelsOf(Components.localEdgeLimit) // edges << limit: fast path
    val dist = labelsOf(0L)                     // pinned distributed loop
    assert(fast == dist, "fast-path labels must equal the distributed loop's")
    // each ~50-unit chain spans ~17 tolerance cells -> every component's
    // contracted root graph is a multi-hop path (the interesting regime)
    assert(fast.values.toSet.size > 1 && fast.values.toSet.size <= 40)
  }

  test("dbscan: cores cluster, sparse noise gets -1 (DBSCANFilter)") {
    import spark.implicits._
    val dense = (0 until 60).map(i => (i.toLong, (i % 10) * 1.0, (i / 10) * 1.0, 0.0))
    val noise = Seq((100L, 5000.0, 5000.0, 0.0))
    val df = (dense ++ noise).toDF("order_key", "x", "y", "z")
    val out = Dbscan(df, eps = 2.0, minPoints = 4)
    assert(out.filter(col("order_key") === 100).head().getAs[Long]("cluster_id") == -1L)
    assert(out.filter(col("cluster_id") > 0).count() == 60)
  }

  test("kmeans assigns k clusters deterministically (LloydKMeansFilter)") {
    val docs = Synth.docs(spark, 300, seed = 2)
    val a = KMeans(docs, 4).groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = KMeans(docs, 4).groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b && a.keySet.size <= 4 && a.values.sum == 300)
  }

  test("exact dedup removes duplicated texts, keeps lowest id") {
    import spark.implicits._
    val docs = Seq((1L, "hello  world"), (2L, "Hello world"), (3L, "unique text here"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs)
    // normalization: case + whitespace -> 1 and 2 collapse, keep id 1
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("minhash LSH finds near-duplicate pairs, skips distinct docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again building a longer document for shingles"
    val nearDup = base.replace("lazy", "sleepy")
    val distinct = "completely different content about spark distributed execution engines and columnar storage formats"
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinct))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, threshold = 0.4, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
    val deduped = Dedup.minhashDedup(docs, threshold = 0.4)
    assert(deduped.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // S-curve auto-banding: 64 hashes at t=0.7 -> 8 bands of 8 rows
    assert(Dedup.autoBands(64, 0.7) == 8)
    assert(Dedup.autoBands(64, 0.5) == 16)
    // mega-bucket cap: 300 boilerplate clones would otherwise emit
    // ~45k quadratic candidate pairs; with the cap the bucket is dropped
    // while the real near-dup pair elsewhere is still found
    val clones = (0 until 300).map(i => (100L + i, "boilerplate header text " * 5))
    val mixed = (Seq((1L, base), (2L, nearDup)) ++ clones).toDF("doc_id", "text")
    val capped = Dedup.minhashLsh(mixed, threshold = 0.4, numHashes = 64,
      bands = 16, maxBucket = 100)
    val cp = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cp.contains((1L, 2L)))
    assert(!cp.exists(p => p._1 >= 100L && p._2 >= 100L), "mega-bucket must be dropped")
    // a cap below 2 could never emit a pair: rejected, not silently empty
    val e = intercept[IllegalArgumentException](
      Dedup.minhashLsh(mixed, threshold = 0.4, maxBucket = 1))
    assert(e.getMessage.contains("maxBucket"), e.getMessage)
  }

  test("resolveComponents: transitive dup groups, star collapse, local==distributed") {
    import spark.implicits._
    val docs = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3-4 (no direct 1-4 pair), star {5,6,7} with pairs only
    // through 7, singleton 8, pair 9-10; 11, 12 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 7L), (6L, 7L),
      (9L, 10L)).toDF("id_a", "id_b")
    val groups = Dedup.resolveComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("dup_group"))).toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L, 10L -> 9L,
      11L -> 11L, 12L -> 12L))
    // the pairwise drop-the-larger rule keeps BOTH 5 and 6 of the star;
    // component resolution keeps exactly one canonical doc per component
    val canon = Dedup.dedupCanonical(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(canon == Set(1L, 5L, 8L, 9L, 11L, 12L))
    // distributed label-propagation path (edgeLimit 0) is identical
    val dist = Dedup.resolveComponents(docs, pairs, "doc_id", "dup_group", 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("dup_group"))).toMap
    assert(dist == groups)
  }

  test("cappedCollectList bounds every group buffer at cap+1 (skew safety)") {
    import spark.implicits._
    // hot group: 3000 rows spread over many partitions; cold group: 4 rows
    val df = spark.range(0, 3000).select(lit("hot").as("k"), col("id"))
      .repartition(16)
      .union(Seq(("cold", 7L), ("cold", 5L), ("cold", 6L), ("cold", 8L))
        .toDF("k", "id"))
    val agg = df.groupBy("k")
      .agg(graft.functions.F.cappedCollectList(col("id"), 10).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // hot group arrives as EXACTLY cap+1 elements -> size<=cap detects it
    assert(agg("hot").length == 11)
    assert(agg("cold").sorted == Seq(5L, 6L, 7L, 8L)) // cold kept exactly
  }

  test("simhash hamming pairs on near-identical docs") {
    import spark.implicits._
    val base = "spark catalyst optimizer pushes filters below joins for columnar scans " * 3
    val docs = Seq((1L, base), (2L, base + " extra"), (3L, "orthogonal topic entirely about biology"))
      .toDF("doc_id", "text")
    val fp = docs.select(Dedup.simhashSql("text").as("fp")).collect().map(_.getLong(0))
    assert(fp(0) != 0L && fp.distinct.length >= 2)
    val pairs = Dedup.simhashPairs(docs, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("property: codegen sketches match their specs on random unicode text") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val alphabet = "abc XYZ \t\n 0189 .,!? éüßñ 中文   -_"
    val texts = (0 until 120).map { i =>
      val len = rnd.nextInt(80)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = texts.toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      Dedup.simhashSql("text").as("s_spec"),
      graft.functions.F.simhash64(col("text")).as("s_gen"),
      Dedup.minhashSignature(col("text"), 16, 3).as("m_spec"),
      graft.functions.F.minhashSig(col("text"), 16, 3).as("m_gen")).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == r.getLong(2), s"simhash diverged on doc $id: " +
        s"'${texts(id.toInt)._2}'")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4), s"minhash diverged on doc $id: " +
        s"'${texts(id.toInt)._2}'")
    }
  }

  test("codegen'd minhash signature is bit-identical to the column spec") {
    import spark.implicits._
    val texts = Seq("", " ", "one", "one two", "one two three four",
      "repeat repeat repeat repeat repeat",
      "Hello WORLD mixed CASE tokens here",
      "héllo wörld unicode tokens", ("w" + "x y z " * 40).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = df.select(
      Dedup.minhashSignature(col("text"), 64, 3).as("spec"),
      graft.functions.F.minhashSig(col("text"), 64, 3).as("gen")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"minhash mismatch for '$t'")
    }
  }

  test("codegen'd simhash64 expression is bit-identical to the SQL spec") {
    import spark.implicits._
    val texts = Seq("", " ", "  \t leading ws", "Hello WORLD hello",
      "héllo wörld ÜML", "single",
      "a b c d e f g h i j k l m n o p " * 20,
      "MiXeD   CaSe\twith\nnewlines and\ttabs")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = df.select(Dedup.simhashSql("text").as("sql_fp"),
      graft.functions.F.simhash64(col("text")).as("gen_fp")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1),
        s"simhash mismatch for '$t': sql=${r.getLong(0)} gen=${r.getLong(1)}")
    }
    // SQL registration surface
    graft.functions.GraftExtensions.registerTemp(spark)
    df.createOrReplaceTempView("sh_docs")
    val viaSql = spark.sql("SELECT simhash64(text) FROM sh_docs").collect()
    assert(viaSql.map(_.getLong(0)).toSeq ==
      rows.map(_.getLong(1)).toSeq)
  }

  test("ngram jaccard verification on candidate pairs") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g x"), (3L, "z y x w v u t s"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, pairs, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) > 0.5)
    assert(j((1L, 3L)) == 0.0)
  }

  test("embedding near-dup via hyperplane LSH finds planted duplicate") {
    import spark.implicits._
    val r = new scala.util.Random(42)
    val v1 = Array.fill(16)(r.nextFloat())
    val v2 = v1.map(x => x + 0.001f) // near-dup
    val others = (0 until 20).map(i => (i + 10L, Array.fill(16)(r.nextFloat()).toSeq))
    val df = (Seq((1L, v1.toSeq), (2L, v2.toSeq)) ++ others).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, threshold = 0.999,
        planesPerBand = 4, bands = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // multi-band recall at the contract point: plant 30 pairs at ~0.95
    // cosine among noise; OR-of-ANDs banding must recover nearly all
    // (single-band recall here was ~0.28 — the round-1 hole)
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val planted = (0 until 30).flatMap { i =>
      val a = unit(Array.fill(24)(rnd.nextGaussian()))
      // rotate slightly: cos ~ 0.95
      val dir = unit(Array.fill(24)(rnd.nextGaussian()))
      val b = unit(a.zip(dir).map { case (x, d) => 0.95 * x + 0.312 * d })
      Seq((1000L + 2 * i, a.toSeq.map(_.toFloat)), (1001L + 2 * i, b.toSeq.map(_.toFloat)))
    }
    val noise = (0 until 200).map(i =>
      (2000L + i, unit(Array.fill(24)(rnd.nextGaussian())).toSeq.map(_.toFloat)))
    val big = (planted ++ noise).toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDup(big, threshold = 0.9)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val hits = (0 until 30).count(i => found.contains((1000L + 2 * i, 1001L + 2 * i)))
    assert(hits >= 27, s"multi-band recall $hits/30")
  }

  test("ANN brute-force topk is exact; IVF recall is reasonable") {
    val q = embeddings.limit(5)
    val bf = Ann.bruteForceTopK(embeddings, q, k = 10)
    assert(bf.count() == 50)
    // verify one query row against manual computation
    val qRow = q.orderBy("vec_id").head()
    val qid = qRow.getLong(0)
    val qv = qRow.getSeq[Float](1).map(_.toDouble).toArray
    val all = embeddings.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val dot = v.zip(qv).map { case (a, b) => a * b }.sum
      val cos = dot / math.max(math.sqrt(v.map(x => x * x).sum) *
        math.sqrt(qv.map(x => x * x).sum), 1e-12)
      (r.getLong(0), cos)
    }.filter(_._1 != qid).sortBy(t => (-t._2, t._1)).take(10).map(_._1).toSeq
    val got = bf.filter(col("query_id") === qid).orderBy("rank")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == all)
    val ivf = Ann.ivfTopK(embeddings, q, k = 10, nlist = 8, nprobe = 3)
    val bfSet = bf.filter(col("query_id") === qid).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val ivfSet = ivf.filter(col("query_id") === qid).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ivfSet.intersect(bfSet).size >= 4, s"IVF recall too low: ${ivfSet.intersect(bfSet).size}/10")
  }

  test("IVF at real nlist: 4096 cells over 100k clustered vectors via " +
      "broadcast assignment; persisted index prunes partitions") {
    import spark.implicits._
    val dim = 16; val nClusters = 500
    // deterministic clustered corpus: cluster centers + small noise
    val rnd = new scala.util.Random(3)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val corpus = spark.range(100000).select(col("id").as("vec_id"))
      .as[Long].map { i =>
        val r2 = new scala.util.Random(i)
        val c = centers((i % nClusters).toInt)
        val v = c.map(x => (x + 0.05 * r2.nextGaussian()).toFloat)
        (i, v.toSeq)
      }.toDF("vec_id", "embedding").localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") % 5000 === 1) // 20 queries
    val bf = Ann.bruteForceTopK(corpus, queries, k = 10)
    val ivf = Ann.ivfTopK(corpus, queries, k = 10, nlist = 4096, nprobe = 64,
      iters = 2)
    val bfMap = bf.collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ivfMap = ivf.collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = bfMap.map { case (q, exp) =>
      ivfMap.getOrElse(q, Set.empty).intersect(exp).size.toDouble / exp.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.8, s"IVF@4096 mean recall $meanRecall")
    // nlist=4096 > flatLimit=2048 => the two-level centroid tree was the
    // quantizer for that recall. Exactness of the tree itself: with
    // wsuper = all supers it scans every bucket == flat argmax
    val rnd2 = new scala.util.Random(11)
    val cents2 = Array.fill(300)(Array.fill(8)(rnd2.nextGaussian()))
    val flatQ = graft.ann.Coarse.build(cents2, flatLimit = 4096)
    val treeQ = graft.ann.Coarse.build(cents2, flatLimit = 10)
    assert(flatQ.isFlat && !treeQ.isFlat)
    (0 until 50).foreach { _ =>
      val v = Array.fill(8)(rnd2.nextGaussian().toFloat)
      assert(treeQ.probe(v, 5, wsuper = 300).toSet ==
        flatQ.probe(v, 5, wsuper = 1).toSet)
      // restricted wsuper keeps the true nearest most of the time on
      // this data; exactness is only guaranteed for full wsuper
      assert(treeQ.probe(v, 5, wsuper = 8).length == 5)
    }
    // persisted index: write once, search prunes to <= nprobe partitions
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Ann.writeIndex(corpus.limit(20000), dir, nlist = 256, iters = 1)
    val out = Ann.searchIndex(spark, dir, queries.limit(3), k = 5, nprobe = 8)
    assert(out.count() > 0)
    // the bucketed layout prunes: a cell IN-filter scan reads only those
    // partitions (searchIndex builds exactly this filter from the probes)
    val pruned = spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(0, 1, 2))
    val (readParts, totalParts) = graft.sources.CellStore.scanPartitionCounts(pruned)
    assert(readParts <= 3 && totalParts > 50,
      s"index scan read $readParts of $totalParts partitions")
  }

  test("IVF-PQ: exact when nprobe=nlist and rerank covers the corpus; " +
      "ADC recall holds at compressed settings") {
    import spark.implicits._
    // exactness: every cell probed + every ADC candidate reranked exactly
    // => the PQ path must reproduce brute force bit-for-bit
    val q = embeddings.filter(col("vec_id") % 20 === 0)
    val bf = Ann.bruteForceTopK(embeddings, q, k = 5)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pqAll = Ann.ivfPqTopK(embeddings, q, k = 5, nlist = 8, nprobe = 8,
      m = 8, ksub = 16, rerank = 100000, iters = 1)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pqAll == bf, s"IVF-PQ exact path diverged: ${pqAll.diff(bf).take(5)}")
    // compressed path: 20k clustered vectors, dim 16 -> m=4 codes (4
    // bytes/vector vs 64), selective probes + bounded rerank
    val dim = 16; val nClusters = 200
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val corpus = spark.range(20000).select(col("id").as("vec_id"))
      .as[Long].map { i =>
        val r2 = new scala.util.Random(i * 31 + 7)
        val c = centers((i % nClusters).toInt)
        (i, c.map(x => (x + 0.05 * r2.nextGaussian()).toFloat).toSeq)
      }.toDF("vec_id", "embedding").localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") % 1000 === 1) // 20 queries
    val bf2 = Ann.bruteForceTopK(corpus, queries, k = 10).collect()
      .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
    // rerank must exceed the ADC tie-width: a tight cluster of ~100
    // near-duplicates all encode to one code, so ADC cannot order them —
    // the exact rerank can, provided the whole tie group is in the top-R
    val pq2 = Ann.ivfPqTopK(corpus, queries, k = 10, nlist = 64, nprobe = 8,
      m = 4, ksub = 64, rerank = 250, iters = 2).collect()
      .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
    val recalls = bf2.map { case (qq, exp) =>
      pq2.getOrElse(qq, Set.empty).intersect(exp).size.toDouble / exp.size }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.7, s"IVF-PQ mean recall $meanRecall")
    // ADC approximates the true inner product: trained codebooks on unit
    // vectors keep |adc - <q,v>| small relative to the score range
    val sample = corpus.limit(2000).collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-12)
      v.map(x => (x / n).toFloat)
    }
    val pqq = graft.ann.Pq.train(sample, m = 4, ksub = 64)
    val errs = sample.take(200).map { v =>
      val lut = pqq.lut(v)
      val truth = v.map(x => x.toDouble * x).sum // <v,v> = 1
      math.abs(pqq.adc(lut, pqq.encode(v)) - truth)
    }
    val meanErr = errs.sum / errs.length
    assert(meanErr < 0.12, s"ADC mean reconstruction error $meanErr")
    assert(errs.max < 0.5, s"ADC max reconstruction error ${errs.max}")
    // persisted PQ index: training is deterministic, so the write/search
    // path must reproduce the in-memory path EXACTLY at equal settings —
    // and the scan must be partition-pruned
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    Ann.writePqIndex(corpus, dir, nlist = 64, m = 4, ksub = 64, iters = 2)
    val idx = Ann.searchPqIndex(spark, dir, queries, k = 10, nprobe = 8,
      rerank = 250).collect()
      .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
    assert(idx == pq2, "persisted PQ index diverged from the in-memory path")
    val prunedScan = spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(0, 1, 2))
    val (rp, tp) = graft.sources.CellStore.scanPartitionCounts(prunedScan)
    assert(rp <= 3 && tp > 30, s"PQ index scan read $rp of $tp partitions")
  }

  test("text analysis: langid, quality, token counts, fingerprints") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the quick brown fox is on the hill and it was a day of sun"),
      (2L, "der hund ist ein tier und die katze ist auch ein tier im haus"),
      (3L, "xyzzy qwerty")).toDF("doc_id", "text")
    val out = texts.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.bpeTokenCount(col("text")).as("btc"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "en")
    assert(out(2L).getString(1) == "de")
    assert(out(3L).getString(1) == "und")
    assert(out(1L).getDouble(2) > out(3L).getDouble(2))
    assert(out(1L).getInt(3) == 15)
    assert(out(1L).getLong(4) >= 15)
    // fingerprint is whitespace/case-insensitive
    val fp2 = texts.filter(col("doc_id") === 1)
      .select(TextAnalysis.fingerprint(lit("THE quick   brown fox is on the hill and it was a day of sun")))
      .head().getLong(0)
    assert(out(1L).getLong(5) == fp2)
    // real documents table: all rows get a language + quality
    val scored = documents.select(TextAnalysis.langId(col("text")).as("l"),
      TextAnalysis.qualityScore(col("text")).as("q"))
    assert(scored.filter(col("q") < 0 || col("q") > 1).count() == 0)
  }

  test("multimodal: synth media, stub decode, features, frame sampling") {
    val docs = Synth.docs(spark, 50, seed = 9)
    val refs = docs.select(explode(col("spans")).as("s"))
      .filter(col("s.kind") =!= "text")
      .select(col("s.media_ref").as("media_ref"), col("s.kind").as("kind"))
    val media = Multimodal.synthMedia(spark, refs).cache()
    assert(media.count() > 0)
    assert(media.filter(col("content").isNull).count() == 0)
    val feats = Multimodal.extractFeatures(media, dim = 8)
    assert(feats.count() == media.count())
    val f = feats.head()
    assert(f.getSeq[Float](3).length == 8)
    assert(f.getInt(1) >= 64 && f.getInt(1) < 256) // width from stub header
    val frames = Multimodal.sampleFrames(media, everyNth = 4)
    val vids = media.filter(col("kind") === "video").count()
    if (vids > 0) assert(frames.count() >= vids)
    val resized = Multimodal.resizeStub(media, 224, 224)
    assert(resized.filter(col("meta.width") =!= 224).count() == 0)
  }

  test("simhash bucket recall is exact AT maxHamming (pigeonhole boundary)") {
    import spark.implicits._
    // adversarial: flips spread across DIFFERENT chunks so no single
    // narrow bucket catches them by luck — exactly maxHamming flips
    val base = 0x0123456789ABCDEFL
    val h3 = base ^ (1L << 0) ^ (1L << 20) ^ (1L << 40) // 3 flips, 3 chunks
    val h4 = base ^ (1L << 0) ^ (1L << 20) ^ (1L << 40) ^ (1L << 60)
    val fp = Seq(("a", base), ("b", h3), ("c", h4)).toDF("id", "fp")
    val p3 = Dedup.simhashPairsFromFp(fp, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(p3.contains(("a", "b"))) // hamming 3 MUST be found at radius 3
    assert(!p3.contains(("a", "c"))) // hamming 4 correctly filtered
    val p4 = Dedup.simhashPairsFromFp(fp, maxHamming = 4)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(p4.contains(("a", "c"))) // found once the radius covers it
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairsFromFp(fp, maxHamming = 24))
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
  }

  test("simhash degenerate mega-bucket is capped, not quadratic") {
    import spark.implicits._
    // 10^5 docs all fingerprinting to 0L (the empty/boilerplate slice):
    // an uncapped chunk-bucket self-join would materialize ~5e9 pairs x 4
    // chunks. The capped aggregation delivers each bucket as at most
    // maxBucket+1 ids and the size filter drops it — the job completes in
    // bounded memory and the degenerate slice yields ZERO pairs.
    val degenerate = spark.range(100000).select(col("id"), lit(0L).as("fp"))
    // plus a planted near pair away from the mega bucket that must survive
    val base = 0x7EDCBA9876543210L
    val planted = Seq((200001L, base), (200002L, base ^ (1L << 5)))
      .toDF("id", "fp")
    val pairs = Dedup.simhashPairsFromFp(
      degenerate.union(planted), maxHamming = 3, maxBucket = 1000)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((200001L, 200002L)),
      s"expected only the planted pair outside the capped bucket, got ${got.size}")
    // and with the cap ABOVE the bucket size the mega bucket's pairs all
    // come back (small regime proves cap semantics == uncapped + filter)
    val tiny = spark.range(5).select(col("id"), lit(0L).as("fp"))
    val all = Dedup.simhashPairsFromFp(tiny, maxHamming = 1, maxBucket = 100)
    assert(all.count() == 10) // C(5,2)
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairsFromFp(tiny, maxHamming = 1, maxBucket = 1))
    assert(e.getMessage.contains("maxBucket"), e.getMessage)
  }

  test("elm flags stacked low outliers, breaks at first sub-threshold gap") {
    import spark.implicits._
    // ADVICE scenario: z = 0, 2, 4, 100 with threshold 1 -> flag three
    val df = Seq((0L, 1.0, 1.0, 0.0), (1L, 2.0, 2.0, 2.0),
        (2L, 3.0, 3.0, 4.0), (3L, 4.0, 4.0, 100.0))
      .toDF("order_key", "x", "y", "z").withColumn("classification", lit(0))
    val out = Elm(df, cell = 10.0, threshold = 1.0)
    val flagged = out.filter(col("classification") === 7)
      .select("order_key").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(0L, 1L, 2L))
    // exact-threshold gap continues the walk (reference: fabs(gap) < t breaks)
    val df2 = Seq((0L, 1.0, 1.0, 0.0), (1L, 2.0, 2.0, 1.0), (2L, 3.0, 3.0, 50.0))
      .toDF("order_key", "x", "y", "z").withColumn("classification", lit(0))
    val f2 = Elm(df2, cell = 10.0, threshold = 1.0)
      .filter(col("classification") === 7)
      .select("order_key").collect().map(_.getLong(0)).toSet
    assert(f2 == Set(0L, 1L))
    // sub-threshold first gap -> nothing flagged
    val df3 = Seq((0L, 1.0, 1.0, 0.0), (1L, 2.0, 2.0, 0.5), (2L, 3.0, 3.0, 50.0))
      .toDF("order_key", "x", "y", "z").withColumn("classification", lit(0))
    assert(Elm(df3, cell = 10.0, threshold = 1.0)
      .filter(col("classification") === 7).count() == 0)
  }

  test("cell-partitioned store: polygon crop prunes partitions at plan " +
      "time, result equals full-scan crop (EptReader.cpp:200-269 analog)") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore").toString
    val docs = Synth.docs(spark, 4000, seed = 41)
    graft.sources.CellStore.write(docs, dir,
      ox = 635000.0, oy = 848000.0, cellLen = 500.0)
    // polygon covering a corner of the extent
    val wkt = "POLYGON ((635200 848200, 636400 848200, 636400 849400, 635200 849400, 635200 848200))"
    val pruned = graft.sources.CellStore.readPolygon(spark, dir, wkt,
      635000.0, 848000.0, 500.0)
    val (read, total) = graft.sources.CellStore.scanPartitionCounts(pruned)
    assert(read < total, s"scan must prune: read $read of $total")
    assert(read > 0)
    // identical rows to the unpruned crop over the raw table
    val full = graft.operators.Crop.polygon(
      spark.read.parquet(dir).drop("cell"), wkt)
    val a = pruned.select("order_key").collect().map(_.getLong(0)).toSet
    val b = full.select("order_key").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty, s"pruned ${a.size} vs full ${b.size}")
    // box path too
    val box = graft.sources.CellStore.readBox(spark, dir,
      635100, 848100, 636000, 849000, 635000.0, 848000.0, 500.0)
    val (br, bt) = graft.sources.CellStore.scanPartitionCounts(box)
    assert(br < bt && box.count() > 0)
  }

  test("cell store read/write binning agrees on exact negative cell " +
      "boundaries (floor-based covering would prune the written partition)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cellstore-neg").toString
    // x = -1.0 is an exact negative multiple of cellLen: the write path
    // (CellMath.cellCoord, trunc-then-decrement) bins it to cell -2,
    // while floor((-1.0)/1.0) = -1 — a floor-computed covering set
    // silently loses the row at plan time
    val pts = Seq((1L, -1.0, 0.5), (2L, -0.4, 0.5), (3L, 2.3, 0.5))
      .toDF("order_key", "x", "y")
    graft.sources.CellStore.write(pts, dir, ox = 0.0, oy = 0.0, cellLen = 1.0)
    val got = graft.sources.CellStore.readBox(spark, dir,
        -1.0, 0.0, 3.0, 1.0, 0.0, 0.0, 1.0)
      .select("order_key").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L))
    // polygon path through PnpGrid.coveringCells has the same contract
    val poly = graft.sources.CellStore.readPolygon(spark, dir,
        "POLYGON ((-1.5 0, 3.5 0, 3.5 1, -1.5 1, -1.5 0))", 0.0, 0.0, 1.0)
      .select("order_key").collect().map(_.getLong(0)).toSet
    assert(poly == Set(1L, 2L, 3L))
  }

  test("Mat uses the reliable checkpoint dir when configured (cluster " +
      "path: state survives executor loss, not pinned to one JVM)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-mat").toString
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    try {
      sc.setCheckpointDir(dir)
      val df = graft.core.Mat(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      assert(df.count() == 2)
      // reliable checkpoint writes RDD blocks under the configured dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("part-")).count()
      assert(files > 0, "reliable checkpoint must write to the dir")
      // an iterative operator runs unchanged on the cluster path
      val blob = (0 until 40).map(i => (i.toLong, i * 1.0, 0.0, 0.0))
        .toDF("order_key", "x", "y", "z")
      val cc = Cluster(blob, tolerance = 1.5)
      assert(cc.select("cluster_id").distinct().count() == 1)
    } finally {
      // SparkContext has no unset API; null resets the internal option
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("outlier statistical degrades gracefully on a single point") {
    import spark.implicits._
    val one = Seq((0L, 1.0, 1.0, 1.0)).toDF("order_key", "x", "y", "z")
      .withColumn("classification", lit(0))
    assert(Outlier.statistical(one, meanK = 4).count() == 1)
    // a lone point has no k-distance: one row, null nn_distance
    val lof = Lof(one, minPts = 4).select("nn_distance").collect()
    assert(lof.length == 1 && lof.head.isNullAt(0), lof.mkString(","))
  }

  test("ANN index maintenance over table deltas: benign appends stay " +
      "within the skew bound; point-mass drift triggers a rebuild that " +
      "returns under it; full-probe search stays exact throughout") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val root = java.nio.file.Files.createTempDirectory("ann-table").toString
    val idx = java.nio.file.Files.createTempDirectory("ann-idx").toString
    val cp = s"$idx/ckpt"
    graft.sources.GraftTable.commit(
      (0 until 2000).map(i => (i.toLong, vec())).toDF("vec_id", "embedding"),
      root)
    Ann.writeIndex(graft.sources.GraftTable.read(spark, root), idx,
      nlist = 16, iters = 2)
    // advance the checkpoint to the head the index was built from
    graft.sources.GraftTable.processDelta(spark, root, cp)((_, _, _) => ())
    // benign delta: same distribution -> append, no rebuild
    graft.sources.GraftTable.commit(
      (2000 until 3000).map(i => (i.toLong, vec())).toDF("vec_id", "embedding"),
      root)
    val (n1, skew1, rebuilt1) = Ann.maintainIndex(spark, root, cp, idx,
      nlist = 16, iters = 2)
    assert(n1 == 1000 && !rebuilt1 && skew1 <= 8.0,
      s"benign append: n=$n1 skew=$skew1 rebuilt=$rebuilt1")
    // a second maintenance pass with no new commits is a no-op
    val (n0, _, r0) = Ann.maintainIndex(spark, root, cp, idx,
      nlist = 16, iters = 2)
    assert(n0 == 0 && !r0)
    // full-probe search over the appended index == brute force (probing
    // every cell removes the approximation, so any index defect —
    // missed append, wrong cell assignment — surfaces as inequality)
    val queries = (0 until 5).map(i => (9000L + i, vec()))
      .toDF("vec_id", "embedding")
    def topk() = Ann.searchIndex(spark, idx, queries, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    def brute() = Ann.bruteForceTopK(
      graft.sources.GraftTable.read(spark, root), queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(topk() == brute(), "appended index diverged from brute force")
    // drift: a point-mass delta (boilerplate embeddings) overloads one
    // cell past maxSkew -> maintainIndex rebuilds with the re-seeding
    // trainer and the ratio returns under the certified 8x bound
    graft.sources.GraftTable.commit(
      (5000 until 9000).map(i =>
        (i.toLong, Seq(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
        .toDF("vec_id", "embedding"), root)
    val (n2, skew2, rebuilt2) = Ann.maintainIndex(spark, root, cp, idx,
      nlist = 16, iters = 2)
    assert(n2 == 4000 && rebuilt2, s"expected drift rebuild, skew=$skew2")
    assert(skew2 <= 8.0, s"post-rebuild skew $skew2 exceeds the 8x bound")
    assert(topk() == brute(),
      "rebuilt index diverged from brute force under full probe")
  }

  test("embedding degenerate mega-bucket is capped, not quadratic") {
    import spark.implicits._
    // 10^5 coincident embeddings (zero-doc boilerplate vectors all on one
    // direction) collide in EVERY band bucket: the pre-r5 bucket
    // self-join would materialize ~5e9 pairs x 6 bands. The capped
    // aggregation delivers each bucket as at most maxBucket+1 ids and
    // the size filter drops it — bounded memory, zero pairs from the
    // degenerate slice.
    val degenerate = spark.range(100000)
      .select(col("id"), typedLit(Seq(1.0f, 0.0f, 0.0f, 0.0f)).as("embedding"))
    // a planted near pair on a DIFFERENT direction must still surface
    // through at least one band bucket away from the mega mass
    val planted = Seq(
      (200001L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (200002L, Seq(0.0f, 0.999f, 0.01f, 0.0f))).toDF("id", "embedding")
    val pairs = Dedup.embeddingNearDup(degenerate.unionByName(planted),
      threshold = 0.999, idCol = "id", maxBucket = 1000)
    val got = pairs.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((200001L, 200002L)),
      s"expected only the planted pair outside the capped buckets, got ${got.size}")
    // cap ABOVE the bucket size: the coincident slice's pairs all come
    // back (cap semantics == uncapped + filter in the small regime)
    val tiny = spark.range(5)
      .select(col("id"), typedLit(Seq(1.0f, 2.0f, 3.0f)).as("embedding"))
    val all = Dedup.embeddingNearDup(tiny, threshold = 0.999,
      idCol = "id", maxBucket = 100)
    assert(all.count() == 10) // C(5,2)
    val e = intercept[IllegalArgumentException](Dedup.embeddingNearDup(tiny,
      threshold = 0.999, idCol = "id", maxBucket = 1))
    assert(e.getMessage.contains("maxBucket"), e.getMessage)
  }

  test("multi-probe simhash: recall 1.0 at radii 8-10 vs brute force; " +
      "adversarial flip spreads; capped buckets; radius guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // background noise: random fingerprints (overwhelmingly far apart)
    val noise = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    // planted pairs at hamming 8, 9, 10 with flips spread round-robin
    // over four 16-bit quarters (radius 10 probes 4 chunks of 16 bits:
    // h=10 lands 3/3/2/2, so the best chunk has exactly 2 flips — the
    // 1-bit symmetric probing boundary)
    def spread(h: Int): Long = {
      var m = 0L
      for (f <- 0 until h) {
        val chunk = f % 4
        val bit = chunk * 16 + (f / 4) * 3 // distinct bits per chunk
        m |= (1L << bit)
      }
      m
    }
    // radius 8 probes 3 uneven chunks (bits 0-21, 22-42, 43-63): flips
    // 3/3/2 against the chunk edges, so only the 1-bit probe of the last
    // chunk can find the pair
    val uneven = Seq(0, 10, 21, 22, 32, 42, 43, 63).map(1L << _).reduce(_ | _)
    val planted = Seq(spread(8), spread(9), spread(10), uneven)
      .zipWithIndex.flatMap { case (d, i) =>
        val base = rnd.nextLong()
        Seq((1000L + 2 * i, base), (1001L + 2 * i, base ^ d))
      }
    val fp = (noise ++ planted).toDF("id", "fp")
    // brute force over the same fingerprints, at every radius the probing
    // derivation changes shape: 3 uneven chunks (8), 4 chunks (10) and
    // the widest radius, 8 chunks of 8 bits (23)
    val got = Seq(8, 10, 23).map { radius =>
      val pairs = Dedup.simhashPairsFromFp(fp, maxHamming = radius)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val exp = fp.as("a").join(fp.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("h"))
        .filter(col("h") <= radius)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs == exp,
        s"radius $radius recall: got ${pairs.size}, brute force ${exp.size}")
      radius -> pairs
    }.toMap
    val hamming8 = Set((1000L, 1001L), (1006L, 1007L))
    assert(hamming8.subsetOf(got(8)) && !got(8).contains((1002L, 1003L)))
    assert((hamming8 ++ Set((1002L, 1003L), (1004L, 1005L))).subsetOf(got(10)))
    // degenerate mega-bucket stays capped like the exact path
    val degenerate = spark.range(50000).select(col("id"), lit(0L).as("fp"))
    val capped = Dedup.simhashPairsFromFp(
      degenerate.unionByName(planted.toDF("id", "fp")),
      maxHamming = 8, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == hamming8,
      s"expected only the hamming-8 planted pairs, got ${capped.size}")
    // the radius guard: past 23 the probed chunks fall under 8 bits
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairsFromFp(fp, maxHamming = 24))
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
  }

  test("duplicate input ids never self-pair in the dedup family") {
    import spark.implicits._
    // the sorted-list i<j expansion pairs adjacent EQUAL ids when the
    // unique-id precondition is violated; the id_a != id_b guard keeps
    // the old self-join's contract (a.id < b.id excluded them)
    val fpDup = Seq(("a", 7L), ("a", 7L), ("b", 7L)).toDF("id", "fp")
    for (radius <- Seq(1, 8)) { // exact chunks and 1-bit probes
      val sp = Dedup.simhashPairsFromFp(fpDup, maxHamming = radius)
        .select("id_a", "id_b").as[(String, String)].collect().toSet
      assert(sp == Set(("a", "b")), s"radius $radius: got $sp")
    }
    val docsDup = Seq((1L, "alpha beta gamma delta epsilon"),
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val mp = Dedup.minhashLsh(docsDup, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mp == Set((1L, 2L)), s"got $mp")
    val vecDup = Seq((5L, Seq(1.0f, 2.0f)), (5L, Seq(1.0f, 2.0f)),
        (6L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ep = Dedup.embeddingNearDup(vecDup, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ep == Set((5L, 6L)), s"got $ep")
  }
}
