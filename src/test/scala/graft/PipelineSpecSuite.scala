package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Fixtures
import graft.pipeline.{CheckpointRunner, CloudMetrics, EvalKernel, PipelineBuilder, PipelineSpec, TIndexKernel, TranslateKernel}

class PipelineSpecSuite extends AnyFunSuite {
  import TestSpark._

  test("PDAL pipeline JSON parses: bare strings, inferred types, inputs DAG (PipelineReaderJSON.cpp:58-150)") {
    val specs = PipelineSpec.parse(
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":1000,
          "bounds":"([0,10],[0,100],[0,1000])"},
         {"type":"filters.crop","bounds":"([2,4],[20,40],[200,400])"},
         {"type":"filters.stats","tag":"st"}
        ]}""")
    assert(specs.length == 3)
    assert(specs(0).stageType == "readers.faux")
    assert(specs(2).tag == "st")
    val bare = PipelineSpec.parse("""["in.parquet", "out.parquet"]""")
    assert(bare(0).stageType == "readers.auto" && bare(1).stageType == "writers.auto")
  }

  test("pipeline end-to-end: faux ramp -> crop -> count matches the 200 golden") {
    val out = PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":1000,
          "bounds":"([0,10],[0,100],[0,1000])"},
         {"type":"filters.crop","bounds":"([2,4],[20,40],[200,400])"}
        ]}""")
    assert(out.count() == 200)
  }

  test("pipeline with range + head") {
    val out = PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":1000,
          "bounds":"([0,1000],[0,1000],[0,1000])"},
         {"type":"filters.range","limits":"x[100:899]"},
         {"type":"filters.head","count":50}
        ]}""")
    assert(out.count() == 50)
    assert(out.agg(min("x")).head().getDouble(0) >= 100.0)
  }

  test("per-stage where/where_merge in pipeline JSON (Stage.cpp:61-76)") {
    val out = PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":1000,
          "bounds":"([0,1000],[0,1000],[0,1000])"},
         {"type":"filters.assign","value":"classification = 7 WHERE z > 900",
          "where":"x < 500"}
        ]}""")
    // where x<500 gates the stage; inside it, z>900 assigns 7. merged back
    assert(out.count() == 1000)
    assert(out.filter(col("classification") === 7).count() == 0) // x<500 && z>900 empty on ramp
    val out2 = PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":1000,
          "bounds":"([0,1000],[0,1000],[0,1000])"},
         {"type":"filters.assign","value":"classification = 7",
          "where":"x >= 500", "where_merge": false}
        ]}""")
    assert(out2.count() == 500) // x = 1000*i/999 >= 500 <=> i >= 500
    assert(out2.filter(col("classification") =!= 7).count() == 0)
    // PDAL's where_merge "auto" merges, as the default does
    val auto = PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":1000,
          "bounds":"([0,1000],[0,1000],[0,1000])"},
         {"type":"filters.assign","value":"classification = 7",
          "where":"x >= 500", "where_merge": "auto"}
        ]}""")
    assert(auto.count() == 1000)
  }

  test("reader count pushdown + srs bookkeeping (Reader.cpp:56-64)") {
    val dir = java.nio.file.Files.createTempDirectory("rdopt").toString
    graft.core.Synth.docs(spark, 500, seed = 51)
      .write.mode("overwrite").parquet(s"$dir/in")
    val out = PipelineBuilder.run(spark,
      s"""{"pipeline":[
         {"type":"readers.parquet","filename":"$dir/in","count":100,
          "override_srs":"EPSG:26910"}]}""")
    assert(out.count() == 100)
    // count = FIRST 100 in point order
    assert(out.agg(max("order_key")).head().getLong(0) == 99L)
    assert(graft.operators.Srs.of(out).contains("EPSG:26910"))
    // default_srs fills only when absent
    val tagged = graft.operators.Srs.tag(out, "EPSG:4326")
    val kept = graft.operators.Srs.applyReaderOptions(tagged, None, Some("EPSG:9999"))
    assert(graft.operators.Srs.of(kept).contains("EPSG:4326"))
  }

  test("where on a WRITER writes the subset, stream keeps all rows " +
      "(Stage.hpp:86-91)") {
    val dir = java.nio.file.Files.createTempDirectory("wwhere").toString
    val out = PipelineBuilder.run(spark,
      s"""{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":1000,
          "bounds":"([0,1000],[0,1000],[0,1000])"},
         {"type":"writers.parquet","filename":"$dir/out","where":"x < 500"}]}""")
    assert(out.count() == 1000) // stream unchanged
    val written = spark.read.parquet(s"$dir/out")
    assert(written.count() < 1000 && written.count() > 0)
    assert(written.agg(max("x")).head().getDouble(0) < 500.0)
  }

  test("gpstimeconvert full matrix composes (GpsTimeConvert.cpp:72-96)") {
    import spark.implicits._
    val df = Seq((0L, 100.0), (1L, 200.0)).toDF("order_key", "gps_time")
    def gps(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("order_key").select("gps_time").collect().map(_.getDouble(0)).toSeq
    val gt = graft.operators.GpsTimeConvert.convert(df, "gws", "gt",
      startDateWeekSeconds = 1000.0)
    assert(gps(gt) == Seq(1100.0, 1200.0))
    val gst = graft.operators.GpsTimeConvert.convert(df, "gws", "gst",
      startDateWeekSeconds = 1e9)
    assert(gps(gst) == Seq(100.0, 200.0)) // + 1e9 - 1e9
    assert(gps(graft.operators.GpsTimeConvert.convert(df, "gst", "gt"))
      == Seq(1e9 + 100.0, 1e9 + 200.0))
    // gst 100 -> gt 1e9+100 -> week-wrapped: 1e9 % 604800 = 265600
    assert(gps(graft.operators.GpsTimeConvert.convert(
      graft.operators.GpsTimeConvert.convert(df, "gst", "gws", wrap = true),
      "gws", "gws")) == Seq(265700.0, 265800.0))
    // via pipeline JSON with the legacy conversion form
    val out = PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":10,
          "bounds":"([0,1],[0,1],[0,1])"},
         {"type":"filters.assign","value":"gps_time = 5"},
         {"type":"filters.gpstimeconvert","conversion":"gt2gst"}]}""")
    assert(out.agg(max("gps_time")).head().getDouble(0) == 5.0 - 1e9)
  }

  test("gt2gws unwrapped subtracts the first point's week start " +
      "(GpsTimeConvert.cpp:216-236) — was a silent no-op without wrap") {
    import spark.implicits._
    val week = 604800.0
    val df = Seq((0L, 3 * week + 100.0), (1L, 3 * week + 200.0))
      .toDF("order_key", "gps_time")
    val out = graft.operators.GpsTimeConvert.convert(df, "gt", "gws")
      .orderBy("order_key").select("gps_time").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(100.0, 200.0))
    // a second week present without wrap keeps running week seconds
    val df2 = Seq((0L, 3 * week + 100.0), (1L, 4 * week + 50.0))
      .toDF("order_key", "gps_time")
    val out2 = graft.operators.GpsTimeConvert.convert(df2, "gt", "gws")
      .orderBy("order_key").select("gps_time").collect().map(_.getDouble(0))
    assert(out2.toSeq == Seq(100.0, week + 50.0))
  }

  test("SRS tag survives affine transform/quantize; reprojection retags " +
      "to the target CRS") {
    import spark.implicits._
    val df = graft.operators.Srs.tag(
      Seq((0L, 1.0, 2.0, 3.0)).toDF("order_key", "x", "y", "z"), "EPSG:32610")
    val t = graft.operators.Transformation(df,
      Seq(1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1))
    assert(graft.operators.Srs.of(t).contains("EPSG:32610"))
    val q = graft.operators.Scaling.quantize(df, "x", 0.01, 0.0)
    assert(graft.operators.Srs.of(q).contains("EPSG:32610"))
    val wgs = Seq((0L, -122.0, 45.0, 0.0)).toDF("order_key", "x", "y", "z")
    val utm = graft.operators.Reprojection.wgs84ToUtm(wgs, zone = 10)
    assert(graft.operators.Srs.of(utm).contains("EPSG:32610"))
    val back = graft.operators.Reprojection.utmToWgs84(utm, zone = 10)
    assert(graft.operators.Srs.of(back).contains("EPSG:4326"))
  }

  test("crop bounds arity: a 3D z-range of exactly [0,0] still filters z") {
    val out = PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.faux","mode":"ramp","count":11,
          "bounds":"([0,10],[0,10],[0,10])"},
         {"type":"filters.crop","bounds":"([0,10],[0,10],[0,0])"}]}""")
    assert(out.count() == 1) // only the z == 0 ramp point
  }

  test("translate + tindex kernels (TranslateKernel.cpp:77, TIndexKernel.cpp:72)") {
    val dir = java.nio.file.Files.createTempDirectory("tk").toString
    graft.core.Synth.docs(spark, 300, seed = 61,
      bounds = (0.0, 0.0, 100.0, 100.0)).write.parquet(s"$dir/a")
    graft.core.Synth.docs(spark, 300, seed = 62,
      bounds = (1000.0, 1000.0, 1100.0, 1100.0)).write.parquet(s"$dir/b")
    // translate with a filter chain
    val out = TranslateKernel.run(spark, s"$dir/a", s"$dir/translated",
      Some("""[{"type":"filters.range","limits":"x[0:50]"}]"""))
    val re = spark.read.parquet(s"$dir/translated")
    assert(re.count() == out.count() && re.count() > 0)
    assert(re.agg(max("x")).head().getDouble(0) <= 50.0)
    // tindex: create over both files, merge prunes to the intersecting one
    TIndexKernel.create(spark, s"$dir/idx", Seq(s"$dir/a", s"$dir/b"))
    assert(spark.read.parquet(s"$dir/idx").count() == 2)
    val merged = TIndexKernel.merge(spark, s"$dir/idx", 0, 0, 200, 200)
    assert(merged.count() == 300) // only file a intersects
    intercept[IllegalArgumentException](
      TIndexKernel.merge(spark, s"$dir/idx", 5000, 5000, 6000, 6000))
  }

  test("readers.stac: catalog walk, bounds-pruned item never opened, " +
      "item_ids/properties regexes, asset_names order (StacReader.cpp:110)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("stac").toString
    // three items: A in [0,100]^2, B in [1000,1100]^2, C in [40,140]^2.
    // B's asset href points at a file that DOES NOT EXIST — if pruning
    // ever opens it, the read throws.
    graft.core.Synth.docs(spark, 200, seed = 71,
      bounds = (0.0, 0.0, 100.0, 100.0)).write.parquet(s"$dir/itemA.parquet")
    graft.core.Synth.docs(spark, 200, seed = 73,
      bounds = (40.0, 40.0, 140.0, 140.0)).write.parquet(s"$dir/itemC.parquet")
    def item(id: String, bbox: String, asset: String, season: String) =
      s"""{"type":"Feature","id":"$id","bbox":$bbox,
          "properties":{"season":"$season"},
          "assets":{"data":{"href":"$asset"}}}"""
    Files.writeString(Paths.get(s"$dir/A.json"),
      item("item-A", "[0,0,100,100]", "itemA.parquet", "summer"))
    Files.writeString(Paths.get(s"$dir/B.json"),
      item("item-B", "[1000,1000,1100,1100]", "missingB.parquet", "summer"))
    Files.writeString(Paths.get(s"$dir/C.json"),
      item("item-C", "[40,40,3,140,140,9]", "itemC.parquet", "winter")) // 3D bbox
    Files.writeString(Paths.get(s"$dir/sub.json"),
      """{"type":"Catalog","id":"sub-cat","links":[
          {"rel":"item","href":"C.json"}]}""")
    Files.writeString(Paths.get(s"$dir/catalog.json"),
      """{"type":"Catalog","id":"root","links":[
          {"rel":"item","href":"A.json"},
          {"rel":"item","href":"B.json"},
          {"rel":"child","href":"sub.json"},
          {"rel":"self","href":"catalog.json"}]}""")
    // bounds select A+C (B pruned before I/O), then clip points to bounds
    val out = PipelineBuilder.run(spark,
      s"""{"pipeline":[
         {"type":"readers.stac","filename":"$dir/catalog.json",
          "bounds":"([0,120],[0,120])"}]}""")
    assert(out.count() > 0 && out.count() < 400) // clipped union of A+C
    assert(out.agg(max("x")).head().getDouble(0) <= 120.0)
    // item_ids regex selects exactly one item
    val onlyA = graft.sources.StacReader.read(spark, s"$dir/catalog.json",
      itemIds = Seq("item-A"))
    assert(onlyA.count() == 200)
    // properties regex: winter matches only C (B pruned -> no read)
    val winter = graft.sources.StacReader.read(spark, s"$dir/catalog.json",
      properties = Map("season" -> "wint.*"))
    assert(winter.count() == 200)
    // catalog_ids prunes the subtree: sub-cat excluded leaves A (+B unmatched
    // by the property) — here id filter keeps only the root's direct items
    val noSub = graft.sources.StacReader.read(spark, s"$dir/catalog.json",
      catalogIds = Seq("nonexistent"), itemIds = Seq("item-A"))
    assert(noSub.count() == 200)
    // asset_names fallback order: first missing name falls through
    val fb = graft.sources.StacReader.read(spark, s"$dir/catalog.json",
      itemIds = Seq("item-C"), assetNames = Seq("overview", "data"))
    assert(fb.count() == 200)
    // no match -> loud failure
    intercept[IllegalArgumentException](graft.sources.StacReader.read(
      spark, s"$dir/catalog.json", itemIds = Seq("nope")))
  }

  test("readers.stac: cyclic/diamond child links terminate and dedupe " +
      "(each item read once)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("stac-cyc").toString
    graft.core.Synth.docs(spark, 50, seed = 77,
      bounds = (0.0, 0.0, 10.0, 10.0)).write.parquet(s"$dir/itemA.parquet")
    Files.writeString(Paths.get(s"$dir/A.json"),
      """{"type":"Feature","id":"item-A","bbox":[0,0,10,10],
          "properties":{},"assets":{"data":{"href":"itemA.parquet"}}}""")
    // sub1 <-> sub2 mutual cycle; BOTH also link item A (diamond)
    Files.writeString(Paths.get(s"$dir/sub1.json"),
      """{"type":"Catalog","id":"sub1","links":[
          {"rel":"child","href":"sub2.json"},{"rel":"item","href":"A.json"}]}""")
    Files.writeString(Paths.get(s"$dir/sub2.json"),
      """{"type":"Catalog","id":"sub2","links":[
          {"rel":"child","href":"sub1.json"},{"rel":"item","href":"A.json"}]}""")
    Files.writeString(Paths.get(s"$dir/catalog.json"),
      """{"type":"Catalog","id":"root","links":[
          {"rel":"child","href":"catalog.json"},
          {"rel":"child","href":"sub1.json"}]}""")
    val out = graft.sources.StacReader.read(spark, s"$dir/catalog.json")
    assert(out.count() == 50) // once, not twice — and no stack overflow
  }

  test("writers.ply: big endian storage_mode writes a BE file; unknown " +
      "storage_mode fails loudly (PlyWriter.hpp:92-99)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("plybe").toString
    PipelineBuilder.run(spark,
      s"""{"pipeline":[
         {"type":"readers.faux","mode":"uniform","count":60,"seed":13},
         {"type":"writers.ply","filename":"$dir/be.ply",
          "storage_mode":"big endian"}]}""")
    val hdr = new String(Files.readAllBytes(Paths.get(s"$dir/be.ply"))
      .take(200).toArray, "US-ASCII")
    assert(hdr.contains("format binary_big_endian 1.0"))
    val e = intercept[IllegalArgumentException](PipelineBuilder.run(spark,
      s"""{"pipeline":[
         {"type":"readers.faux","mode":"uniform","count":60,"seed":13},
         {"type":"writers.ply","filename":"$dir/x.ply",
          "storage_mode":"little-endian"}]}"""))
    assert(e.getMessage.contains("storage_mode"))
  }

  test("writers.ply / writers.gltf pipeline stages: single-input TIN rebuild " +
      "and two-input [vertices, faces] DAG (PlyWriter.cpp:48, GltfWriter.cpp:55)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("meshw").toString
    // single-input: points in, TIN rebuilt like filters.faceraster
    PipelineBuilder.run(spark,
      s"""{"pipeline":[
         {"type":"readers.faux","mode":"uniform","count":200,"seed":11},
         {"type":"writers.ply","filename":"$dir/m.ply"},
         {"type":"writers.gltf","filename":"$dir/m.glb"}]}""")
    val (v, f) = graft.sources.PlyReader.readAscii(spark, s"$dir/m.ply")
    assert(v.count() == 200 && f.count() > 0)
    val glb = Files.readAllBytes(Paths.get(s"$dir/m.glb"))
    assert(glb.length > 100 && new String(glb, 0, 4, "US-ASCII") == "glTF")
    // two-input DAG: an explicit mesh stage feeds the writer its faces
    PipelineBuilder.run(spark,
      s"""{"pipeline":[
         {"type":"readers.faux","mode":"uniform","count":150,"seed":12,"tag":"pts"},
         {"type":"filters.delaunay","tag":"tin","inputs":["pts"]},
         {"type":"writers.ply","inputs":["pts","tin"],
          "filename":"$dir/m2.ply","storage_mode":"little endian"}]}""")
    val hdr = new String(Files.readAllBytes(Paths.get(s"$dir/m2.ply"))
      .take(200).toArray, "US-ASCII")
    assert(hdr.contains("format binary_little_endian 1.0"))
    assert(hdr.contains("element vertex 150"))
  }

  test("checkpoint runner: metrics recorded, exact resume skips completed stages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val docs = Fixtures.autzen1065(spark)
    var stage2Runs = 0
    val stages = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "crop" -> (d => graft.operators.Crop.box2d(d, 635619.0, 848899.0, 637500.0, 851000.0)),
      "assign" -> (d => { stage2Runs += 1
        graft.operators.Assign(d, "classification", lit(9)) }))
    val runner = new CheckpointRunner(spark, dir)
    val out1 = runner.run(docs, stages)
    val n1 = out1.count()
    assert(n1 > 0 && out1.filter(col("classification") =!= 9).count() == 0)
    // metrics sidecar: per-partition rows + lineage interval
    val m = runner.metrics()
    assert(m.filter(col("stage") === 0).agg(sum("rows")).head().getLong(0) == n1)
    assert(m.columns.contains("min_order_key") && m.columns.contains("approx_bytes"))
    // resume: stage outputs exist -> second run reloads, recomputes nothing
    val out2 = runner.run(docs.limit(0) /* ignored on resume */, stages)
    assert(out2.count() == n1)
    // a stage WITHOUT order_key (aggregate/report shape): the lineage
    // interval columns must be typed nulls — NullType breaks parquet
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val runner2 = new CheckpointRunner(spark, dir2)
    val agg = runner2.run(docs, Seq(
      "counts" -> (d => d.groupBy("classification").count())))
    assert(agg.count() > 0)
    val m2 = runner2.metrics()
    assert(m2.filter(col("min_order_key").isNull).count() == m2.count())
    assert(m2.schema("min_order_key").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("checkpoint runner: the lineage sidecar is the data files' manifest, written " +
      "for no job beyond the stage's own write; a lost sidecar re-runs only its stage") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    type Stage = (String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
    def partFiles(dir: String) = {
      val ls = Files.list(Paths.get(dir))
      try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toVector
      finally ls.close()
    }
    val docs = Fixtures.autzen1065(spark)
    var splitRuns = 0
    val stages = Seq[Stage](
      "crop" -> (d => graft.operators.Crop.box2d(d, 635619.0, 848899.0, 637500.0, 851000.0)),
      "assign" -> (d => graft.operators.Assign(d, "classification", lit(9))),
      "split" -> (d => { splitRuns += 1
        graft.operators.Splitter(d, length = 500.0, origin = Some((635000.0, 848000.0))) }))
    val dir = Files.createTempDirectory("graft-ckpt3").toString
    val runner = new CheckpointRunner(spark, dir)
    // the same stages with only a write and a schema-given read: the
    // checkpoint's lineage must cost no job on top
    val plain = Files.createTempDirectory("graft-plain").toString
    val plainJobs = jobsOf(stages.zipWithIndex.foldLeft(docs) { case (cur, ((_, fn), i)) =>
      val out = fn(cur)
      out.write.parquet(s"$plain/$i")
      spark.read.schema(out.schema).parquet(s"$plain/$i")
    })
    var out1: org.apache.spark.sql.DataFrame = null
    val ckptJobs = jobsOf { out1 = runner.run(docs, stages) }
    assert(ckptJobs <= plainJobs, s"checkpoint run $ckptJobs jobs > plain $plainJobs")
    val n1 = out1.count()
    assert(n1 > 0 && splitRuns == 2)
    // per stage: one metrics row per data file, bytes as on disk, rows
    // and order_key interval as the file holds them
    val m = runner.metrics()
    for (((name, _), i) <- stages.zipWithIndex) {
      val files = partFiles(s"$dir/stage=${i}_$name/data")
      val mi = m.filter(col("stage") === i).orderBy("partition").collect()
      assert(mi.length == files.length && mi.forall(_.getAs[String]("stage_name") == name))
      assert(mi.map(_.getAs[Long]("approx_bytes")).sum == files.map(Files.size(_)).sum,
        s"stage $name: approx_bytes must be the part files' bytes on disk")
      val perFile = spark.read.parquet(s"$dir/stage=${i}_$name/data")
        .groupBy(input_file_name())
        .agg(count(lit(1)), min("order_key"), max("order_key")).collect()
        .map(r => r.getString(0).split('/').last -> (r.getLong(1), Option(r.get(2)),
          Option(r.get(3)))).toMap
      assert(mi.map(r => (r.getAs[Long]("rows"), Option(r.get(3)), Option(r.get(4))))
        .toSeq == files.map(_.getFileName.toString).sorted.map(perFile))
    }
    assert(m.filter(col("stage") === 2).agg(sum("rows")).head().getLong(0) == n1)
    // losing the last stage's sidecar re-runs that stage from the stage
    // before it; the earlier stages are poisoned and must not run
    Files.delete(Paths.get(s"$dir/stage=2_split/lineage.parquet"))
    val poisoned = stages.map { case (n, _) =>
      n -> ((_: org.apache.spark.sql.DataFrame) =>
        throw new IllegalStateException(s"resume recomputed stage $n")): Stage
    }
    assert(runner.run(docs.limit(0), poisoned.take(2) :+ stages(2)).count() == n1)
    assert(splitRuns == 3)
    assert(Files.exists(Paths.get(s"$dir/stage=2_split/lineage.parquet")))
    // every sidecar back: nothing re-runs
    assert(runner.run(docs.limit(0), poisoned).count() == n1)
  }

  test("cloud metrics: delta/hausdorff/chamfer between shifted clouds (DeltaKernel/HausdorffKernel)") {
    val a = Fixtures.autzen1065(spark).limit(200).cache()
    val b = a.withColumn("x", col("x") + 3.0)
    val d = CloudMetrics.delta(a, b)
    assert(d.agg(min("nn_dist")).head().getDouble(0) <= 3.0 + 1e-9)
    val h = CloudMetrics.hausdorff(a, a)
    assert(h == 0.0)
    val ch = CloudMetrics.chamfer(a, a)
    assert(ch == 0.0)
    assert(CloudMetrics.hausdorff(a, b) >= 3.0 - 1e-9)
    // an empty side: delta has no row for a point with no candidate (as
    // the SQL oracle's inner join), and the symmetric metrics name the
    // empty cloud
    val none = a.filter(lit(false))
    assert(CloudMetrics.delta(a, none).count() == 0)
    for ((x, y, side) <- Seq((a, none, "b"), (none, a, "a"), (none, none, "a"));
         (kernel, f) <- Seq[(String, (org.apache.spark.sql.DataFrame,
           org.apache.spark.sql.DataFrame) => Double)](
           "hausdorff" -> CloudMetrics.hausdorff, "chamfer" -> CloudMetrics.chamfer)) {
      val e = intercept[IllegalArgumentException](f(x, y))
      assert(e.getMessage.contains(s"$kernel: cloud $side is empty"), s"got: ${e.getMessage}")
    }
  }

  test("eval kernel: per-class recall (EvalKernel.cpp)") {
    val truth = Fixtures.autzen1065(spark)
    val pred = graft.operators.Assign(truth, "classification", lit(1))
    val m = EvalKernel.metrics(pred, truth).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(m(1) == 1.0) // class 1 predicted everywhere -> recall 1 for class 1
    m.filterNot(_._1 == 1).values.foreach(r => assert(r == 0.0))
  }

  test("SQL extension functions usable after registration") {
    graft.functions.GraftExtensions.registerTemp(spark)
    Fixtures.autzen1065(spark).createOrReplaceTempView("autzen")
    val r = spark.sql(
      """SELECT COUNT(DISTINCT grid_cell_id(x, y, 635000.0D, 848000.0D, 1000.0D)) AS tiles,
                COUNT(DISTINCT hex_cell_id(x, y, 300.0D)) AS hexes,
                SUM(CAST(st_contains_wkt(
                  'POLYGON ((636000 849000, 638000 849000, 638000 851000, 636000 851000, 636000 849000))',
                  x, y) AS INT)) AS inside
         FROM autzen""").head()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0 && r.getLong(2) > 0)
    // hierarchical id parent relation: level-3 cell of a point is a prefix
    // (coarser) cell of its level-5 cell
    val ids = spark.sql(
      """SELECT hier_cell_id(x, y, 635000.0D, 848000.0D, 8192.0D, 3.0D) AS c3,
                hier_cell_id(x, y, 635000.0D, 848000.0D, 8192.0D, 5.0D) AS c5
         FROM autzen LIMIT 5""").collect()
    ids.foreach { row =>
      val c3 = row.getLong(0) & ((1L << 58) - 1)
      val c5 = row.getLong(1) & ((1L << 58) - 1)
      assert(c3 == (c5 >> 4), "level-3 id must be the level-5 id without its last 2x2 bits")
    }
  }

  test("writers.ogr: GeoJSONSeq features round-trip with attrs, measure " +
      "and multicount MULTIPOINT (OGRWriter.cpp:74-84)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ogr").toString
    val pts = Seq((0L, 1.0, 2.0, 3.0, 7), (1L, 4.0, 5.0, 6.0, 8),
      (2L, 7.0, 8.0, 9.0, 9), (3L, 10.0, 11.0, 12.0, 10))
      .toDF("order_key", "x", "y", "z", "intensity")
    pts.createOrReplaceTempView("ogr_in")
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"ogr_in"},
       {"type":"writers.ogr","filename":"$dir/pts.json",
        "attr_dims":"intensity","measure_dim":"intensity"}]}""")
    val back = spark.read.json(s"$dir/pts.json")
    assert(back.count() == 4)
    val f = back.filter(col("properties.intensity") === 7)
      .select("geometry.coordinates").as[Seq[Double]].head()
    assert(f == Seq(1.0, 2.0, 3.0, 7.0)) // xyz + measure as 4th coord
    assert(back.select("type").distinct().as[String].head() == "Feature")
    // multicount: consecutive pairs -> MULTIPOINT, stream (order_key) order
    graft.sources.OgrWriter.writeGeoJson(pts, s"$dir/mp.json", multiCount = 2)
    val mp = spark.read.json(s"$dir/mp.json")
    assert(mp.count() == 2)
    val g0 = mp.select(col("geometry.type").as[String],
      to_json(col("geometry.coordinates")).as[String]).collect().toMap
    assert(g0.keySet == Set("MultiPoint"))
    assert(g0("MultiPoint").contains("[1.0,2.0,3.0]") ||
      g0("MultiPoint").contains("[7.0,8.0,9.0]"))
  }

  test("writers.raster: Arc/Info ASCII grid emit with nodata fill " +
      "(RasterWriter.cpp:66-79 / AAIGrid)") {
    import spark.implicits._
    // two occupied cells on a diagonal -> 3x3 grid with nodata elsewhere
    val pts = Seq((0L, 0.5, 0.5, 10.0), (1L, 2.5, 2.5, 30.0))
      .toDF("order_key", "x", "y", "z")
    pts.createOrReplaceTempView("rast_in")
    val f = java.nio.file.Files.createTempDirectory("graft-asc")
      .resolve("out.asc").toString
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"rast_in"},
       {"type":"writers.raster","filename":"$f","resolution":1.0,
        "radius":0.1,"origin_x":0.0,"origin_y":0.0}]}""")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
    assert(lines.get(0).trim == "ncols 3" && lines.get(1).trim == "nrows 3")
    assert(lines.get(4).trim == "cellsize 1.0")
    // north-to-south rows: top row has the (2,2) cell value in column 2
    val top = lines.get(6).trim.split(" ")
    val bottom = lines.get(8).trim.split(" ")
    assert(top.toSeq == Seq("-9999.0", "-9999.0", "30.0"))
    assert(bottom.toSeq == Seq("10.0", "-9999.0", "-9999.0"))
    assert(lines.get(7).trim.split(" ").forall(_ == "-9999.0"))
  }

  test("filters.streamcallback + filters.shell: registered transform and " +
      "gated driver command (StreamCallbackFilter.hpp:55-70, ShellFilter.cpp:70)") {
    import spark.implicits._
    graft.pipeline.CallbackRegistry.register("boost",
      df => df.withColumn("z", col("z") * 2).filter(col("z") < 40))
    Seq((0L, 1.0, 1.0, 10.0), (1L, 2.0, 2.0, 25.0))
      .toDF("order_key", "x", "y", "z").createOrReplaceTempView("cb_in")
    val gated = intercept[IllegalStateException] {
      PipelineBuilder.run(spark, """{"pipeline":[
         {"type":"readers.view","view":"cb_in"},
         {"type":"filters.shell","command":"echo hi"}]}""")
    }
    assert(gated.getMessage.contains("GRAFT_ALLOW_SHELL"))
    sys.props("graft.allow.shell") = "1"
    try {
      val out = PipelineBuilder.run(spark, """{"pipeline":[
         {"type":"readers.view","view":"cb_in"},
         {"type":"filters.shell","command":"echo graft-shell-ok"},
         {"type":"filters.streamcallback","name":"boost"}]}""")
      assert(out.select("z").as[Double].collect().toSet == Set(20.0))
      assert(graft.pipeline.ShellStage.lastOutput.contains("graft-shell-ok"))
    } finally sys.props.remove("graft.allow.shell")
  }

  test("readers.graft / writers.graft: snapshot-table commits and " +
      "time-travel + bounds reads through the pipeline dialect") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pipe").toString + "/tbl"
    Seq((1L, 10.0, 10.0), (2L, 20.0, 20.0))
      .toDF("order_key", "x", "y").createOrReplaceTempView("gt_a")
    Seq((3L, 3000.0, 30.0)).toDF("order_key", "x", "y")
      .createOrReplaceTempView("gt_b")
    // two append commits through the writer stage (second is tagged)
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"gt_a"},
       {"type":"writers.graft","root":"$root"}]}""")
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"gt_b"},
       {"type":"writers.graft","root":"$root","commit_tag":"b0"}]}""")
    // a rerun of the tagged commit is a no-op (idempotent replay)
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"gt_b"},
       {"type":"writers.graft","root":"$root","commit_tag":"b0"}]}""")
    assert(graft.sources.GraftTable.currentVersion(root) == 2)
    // head read sees both commits; bounds prunes the x=3000 file
    val head = PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.graft","root":"$root"}]}""")
    assert(head.count() == 3)
    val boxed = PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.graft","root":"$root","bounds":"([0,100],[0,100])"}]}""")
    assert(boxed.select("order_key").as[Long].collect().toSet == Set(1L, 2L))
    // time travel to v1 through the reader option
    val v1 = PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.graft","root":"$root","asof":1}]}""")
    assert(v1.count() == 2)
    // incremental delta since v1 = exactly the v2 append; bounds applies
    // as a residual over the delta
    val inc = PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.graft","root":"$root","since_version":1}]}""")
    assert(inc.select("order_key").as[Long].collect().toSet == Set(3L))
    val incBoxed = PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.graft","root":"$root","since_version":1,
        "bounds":"([0,100],[0,100])"}]}""")
    assert(incBoxed.count() == 0)
  }

  test("writers.graft mode=upsert: keyed merge through the pipeline " +
      "dialect, tag-idempotent replay") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pipe-ups")
      .toString + "/tbl"
    Seq((1L, 10.0, 10.0), (2L, 20.0, 20.0), (3L, 30.0, 30.0))
      .toDF("order_key", "x", "y").createOrReplaceTempView("gu_base")
    // delta: update key 2, insert key 9
    Seq((2L, -2.0, -2.0), (9L, 90.0, 90.0))
      .toDF("order_key", "x", "y").createOrReplaceTempView("gu_delta")
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"gu_base"},
       {"type":"writers.graft","root":"$root"}]}""")
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"gu_delta"},
       {"type":"writers.graft","root":"$root","mode":"upsert",
        "commit_tag":"cdc-1"}]}""")
    // tagged replay commits nothing
    PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.view","view":"gu_delta"},
       {"type":"writers.graft","root":"$root","mode":"upsert",
        "commit_tag":"cdc-1"}]}""")
    assert(graft.sources.GraftTable.currentVersion(root) == 2)
    val head = PipelineBuilder.run(spark, s"""{"pipeline":[
       {"type":"readers.graft","root":"$root"}]}""")
    assert(head.count() == 4)
    assert(head.filter($"order_key" === 2L).select("x").as[Double].head() == -2.0)
    assert(head.filter($"order_key" === 9L).count() == 1)
  }

  test("readers.jdbc: parallel-read contract enforced; sandbox (no " +
      "driver) fails with the JDBC layer's own loud error") {
    // partition options must travel together — a silent single-task
    // JDBC read is the scale defect this guard exists for
    val e1 = intercept[Exception](PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.jdbc","url":"jdbc:postgresql://db/x",
          "table":"events","partition_column":"event_id"},
         {"type":"filters.stats"}]}"""))
    assert(e1.getMessage.contains("partition_column and num_partitions"),
      s"got: ${e1.getMessage}")
    // a missing connection, table or upper bound is named before load(),
    // and so are a kNN stage's k below 1, a malformed order-stage option
    // a number or boolean option of the wrong JSON type, and a missing
    // required option; none of them runs a Spark job
    val faux = """{"type":"readers.faux","mode":"uniform","count":60,"seed":13}"""
    for ((stages, option) <- Seq(
        """{"type":"readers.jdbc","table":"events"}""" -> "'connection'",
        """{"type":"readers.jdbc","url":"jdbc:postgresql://db/x"}""" -> "'table'",
        """{"type":"readers.jdbc","url":"jdbc:postgresql://db/x","table":"events",
          "partition_column":"event_id","num_partitions":8}""" ->
          "'upper_bound'",
        s"""$faux, {"type":"filters.neighborclassifier","k":0}""" -> "k must be >= 1",
        s"""$faux, {"type":"filters.sort","dimension":"x","order":"ascending"}""" ->
          "order must be ASC or DESC",
        s"""$faux, {"type":"filters.divider","mode":"roundrobin","count":2}""" ->
          "mode must be partition or round_robin",
        s"""$faux, {"type":"filters.divider","count":0}""" -> "count must be >= 1",
        s"""$faux, {"type":"filters.divider","capacity":0}""" -> "capacity must be >= 1",
        s"""$faux, {"type":"filters.decimation","step":0}""" -> "step must be >= 1",
        s"""$faux, {"type":"filters.separatescanline","groupby":0}""" ->
          "groupby must be >= 1",
        s"""$faux, {"type":"filters.sample","radius":"abc"}""" ->
          "filters.sample: option 'radius' must be a number, got \"abc\"",
        s"""$faux, {"type":"filters.decimation","step":2.7}""" ->
          "filters.decimation: option 'step' must be an integer, got 2.7",
        s"""$faux, {"type":"filters.neighborclassifier","k":true}""" ->
          "filters.neighborclassifier: option 'k' must be an integer, got true",
        s"""$faux, {"type":"filters.sample","radius":[1,2]}""" ->
          "filters.sample: option 'radius' must be a number, got [1,2]",
        s"""$faux, {"type":"filters.mortonorder","reverse":"yes"}""" ->
          "filters.mortonorder: option 'reverse' must be true or false, got \"yes\"",
        s"""$faux, {"type":"filters.assign","value":"classification = 7",
          "where":"x > 0","where_merge":"maybe"}""" ->
          "option 'where_merge' must be true or false, got \"maybe\"",
        s"""$faux, {"type":"filters.range"}""" ->
          "filters.range: required option 'limits' is missing",
        s"""$faux, {"type":"filters.groupby"}""" ->
          "filters.groupby: required option 'dimension' is missing",
        s"""$faux, {"type":"writers.text"}""" ->
          "writers.text: required option 'filename' is missing",
        s"""$faux, {"type":"filters.gpstimeconvert","in_time":"gws"}""" ->
          "filters.gpstimeconvert: required option 'out_time' is missing",
        """{"type":"readers.view"}""" ->
          "readers.view: required option 'view' or 'table' is missing")) {
      val jobs = jobIdsOf {
        val e = intercept[IllegalArgumentException](PipelineBuilder.run(spark,
          s"""{"pipeline":[$stages,
             {"type":"filters.stats"}]}"""))
        assert(e.getMessage.contains(option), s"got: ${e.getMessage}")
      }
      assert(jobs.isEmpty, s"$option: ${jobs.size} jobs before the error")
    }
    // fully-specified parallel read reaches Spark's JDBC source, which
    // fails loudly because no PostgreSQL driver is on the classpath
    val e2 = intercept[Throwable](PipelineBuilder.run(spark,
      """{"pipeline":[
         {"type":"readers.jdbc","connection":"jdbc:postgresql://db/x",
          "query":"SELECT * FROM events","partition_column":"event_id",
          "lower_bound":0,"upper_bound":1000,"num_partitions":8},
         {"type":"filters.stats"}]}"""))
    val msg = String.valueOf(e2.getMessage) + String.valueOf(
      Option(e2.getCause).map(_.getMessage).getOrElse(""))
    assert(msg.toLowerCase.contains("driver") ||
      msg.contains("CANNOT_FIND_JDBC_DRIVER") ||
      e2.isInstanceOf[ClassNotFoundException], s"got: $e2")
  }

  test("filters.mortonorder reads a JSON boolean reverse") {
    val faux = """{"type":"readers.faux","mode":"uniform","count":200,"seed":5}"""
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("order_key").collect().toSeq
    val in = PipelineBuilder.run(spark, s"""{"pipeline":[$faux]}""")
    val reversed = rows(PipelineBuilder.run(spark, s"""{"pipeline":[$faux,
       {"type":"filters.mortonorder","reverse":true}]}"""))
    assert(reversed == rows(graft.operators.MortonOrder(in, reverse = true)))
    assert(reversed != rows(graft.operators.MortonOrder(in)))
  }

  test("readers.jdbc: a partitioned read of an in-memory Derby table; reader " +
      "options find the upper-case-folded dims") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_jdbc_pts;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.createStatement().execute(
        "CREATE TABLE pts (order_key BIGINT, x DOUBLE, y DOUBLE, z DOUBLE)")
      val ins = c.prepareStatement("INSERT INTO pts VALUES (?, ?, ?, ?)")
      for (i <- 0 until 1000) {
        ins.setLong(1, 999 - i); ins.setDouble(2, i * 0.5)
        ins.setDouble(3, 1000.0 - i); ins.setDouble(4, i % 7); ins.addBatch()
      }
      ins.executeBatch()
    } finally c.close()
    def read(extra: String) = PipelineBuilder.run(spark,
      s"""{"pipeline":[{"type":"readers.jdbc","connection":"$url","table":"pts",
          "partition_column":"order_key","upper_bound":1000,"num_partitions":4$extra}]}""")
    val df = read("")
    assert(df.columns.toSeq == Seq("order_key", "x", "y", "z"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.groupBy(spark_partition_id()).count().select("count").as[Long]
      .collect().toSeq == Seq(250L, 250L, 250L, 250L))
    assert(df.select("order_key").distinct().count() == 1000)
    // `count` keeps the first points in order_key order, and
    // override_srs tags the x column
    val capped = read(""","count":10,"override_srs":"EPSG:2992"""")
    assert(capped.select("order_key").as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(graft.operators.Srs.of(capped).contains("EPSG:2992"))
  }
}
