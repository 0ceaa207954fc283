package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.RangeFilter

/** Plan-shape assertions for the properties that decide 100-TB viability:
  * filter pushdown into the parquet scan, column pruning, broadcast joins
  * for small dimensions, map-side partial aggregation, whole-stage codegen
  * coverage, and the absence of cartesian/nested-loop joins in the
  * flagship pipeline. Correctness suites prove the answers; this suite
  * pins the PLANS so a regression that silently de-optimizes (a filter
  * that stops pushing, a join that falls back to NLJ) fails loudly. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private val sf = "/root/testdata/sf0.001"

  /** Final physical plan string, AQE-resolved (collect first so the
    * adaptive plan is final, then render — isFinalPlan=true subtree). */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def gate(name: String): DataFrame =
    SparkEntry.gates.find(_.name == name).get.build(spark, sf)

  private def fileScans(df: DataFrame) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    scans(df.queryExecution.executedPlan)
  }

  test("gate registry: repeated names fail naming each one, and only the " +
      "two hash-dependent dedup gates lack a DuckDB oracle") {
    val Seq(a, b, c) = SparkEntry.gates.take(3)
    val e = intercept[IllegalArgumentException](
      Gate.registry(a, b, c, a.copy(oracle = None), b))
    assert(e.getMessage.contains(a.name) && e.getMessage.contains(b.name) &&
      !e.getMessage.contains(c.name), e.getMessage)
    assert(SparkEntry.gates.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("q24_minhash_dedup", "q26_simhash"))
  }

  test("filters.range bounds reach the parquet scan as PushedFilters and " +
      "the projection prunes ReadSchema to the selected columns") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val q = RangeFilter(li, "l_quantity[10:20)")
      .select("l_orderkey", "l_quantity")
    q.collect()
    val ss = fileScans(q)
    assert(ss.nonEmpty, "no file scan in plan")
    val pushed = ss.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,10"),
      s"lower bound not pushed: $pushed")
    assert(pushed.contains("LessThan(l_quantity,20"),
      s"strict upper bound not pushed: $pushed")
    // column pruning: the scan reads exactly the two projected columns
    assert(ss.head.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_quantity"),
      s"scan not pruned: ${ss.head.requiredSchema.fieldNames.mkString(",")}")
  }

  test("q02 joins: small dimensions (customer, nation) broadcast — no " +
      "shuffle of the fact side for dim joins") {
    val plan = finalPlan(gate("q02_join_revenue_by_nation"))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 2, s"expected >=2 broadcast joins, got $bhj in:\n$plan")
    assert(!plan.contains("CartesianProduct"), "cartesian join in q02 plan")
  }

  test("q01 aggregation: map-side partial + final HashAggregate pair, " +
      "inside whole-stage codegen") {
    val plan = finalPlan(gate("q01_agg_pricing"))
    // count only the executed (final) adaptive plan, not the rendered
    // "Initial Plan" echo beneath it
    val finalOnly = plan.split("== Initial Plan ==").head
    val aggs = "HashAggregate".r.findAllIn(finalOnly).size
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs")
    // whole-stage codegen renders as the *(n) stage markers in toString
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(finalOnly).nonEmpty,
      "aggregation fell out of whole-stage codegen")
  }

  test("flagship crop->splitter->kNN plan: no cartesian or broadcast " +
      "nested-loop join anywhere (the shapes that die at 100 TB)") {
    val df = SparkEntry.entry(spark)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in flagship plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in flagship plan:\n$plan")
  }

  test("a kNN neighbourhood is one row: each geometry consumer's only " +
      "Join attaches its result to the input") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import graft.operators._
    val docs = graft.core.Synth.docs(spark, 400, seed = 5)
    def joins(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val counts = Seq(
      "EigenFeatures" -> EigenFeatures(docs),
      "OptimalNeighborhood" -> OptimalNeighborhood(docs),
      "PlaneFit" -> PlaneFit(docs),
      "MiniballFilter" -> MiniballFilter(docs),
      "HagDelaunay" -> HagDelaunay(docs)).map { case (n, df) => n -> joins(df) }
    assert(counts.forall(_._2 == 1), counts.mkString(", "))
  }

  test("crop -> splitter -> per-tile count: Filter, grid_cell_id Project " +
      "and partial HashAggregate fuse into codegen stage 1; one Exchange") {
    val docs = graft.core.Synth.docs(spark, 1000)
    val tiles = graft.operators.Splitter(
      graft.operators.Crop.box2d(docs, 635500, 848500, 638500, 853500),
      1000.0, origin = Some((635000.0, 848000.0)))
    val finalOnly = finalPlan(tiles.groupBy("tile_id").count())
      .split("== Initial Plan ==").head
    val stage1 = finalOnly.linesIterator.filter(_.contains("*(1) ")).toSeq
    assert(stage1.exists(_.contains("Filter")),
      s"crop filter outside codegen stage 1:\n$finalOnly")
    assert(stage1.exists(l => l.contains("Project") &&
      l.contains("grid_cell_id")),
      s"splitter cell-id project outside codegen stage 1:\n$finalOnly")
    assert(stage1.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_count")),
      s"partial aggregate outside codegen stage 1:\n$finalOnly")
    val exchanges = finalOnly.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly one Exchange:\n$finalOnly")
    assert(!finalOnly.contains("spans"),
      s"unused spans payload not pruned:\n$finalOnly")
  }

  test("crop bounds over a cell-partitioned store prune partitions AND " +
      "push residual x/y filters to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("planstore").toString
    val docs = graft.core.Synth.docs(spark, 4000, seed = 21)
    graft.sources.CellStore.write(docs, dir, ox = 635000, oy = 848000,
      cellLen = 1000.0)
    val cropped = graft.sources.CellStore.readBox(spark, dir,
      635800, 848800, 636900, 849900, ox = 635000, oy = 848000,
      cellLen = 1000.0)
    cropped.collect()
    val ss = fileScans(cropped)
    assert(ss.nonEmpty)
    val pushed = ss.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(x,635800") ||
      pushed.contains("GreaterThanOrEqual(x, 635800"),
      s"x bound not pushed to cell-store scan: $pushed")
    val (read, total) = graft.sources.CellStore.scanPartitionCounts(cropped)
    assert(read < total, s"no partition pruning: read $read of $total")
  }

  test("SQL-registered custom expressions (cell ids, hex, PnP, distance, " +
      "simhash, minhash) stay inside whole-stage codegen through a pure " +
      "spark.sql entry") {
    graft.functions.GraftExtensions.registerTemp(spark)
    spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"),
        (col("event_id") % 100).cast("double").as("x"),
        (col("event_id") % 37).cast("double").as("y"),
        concat(lit("w"), col("event_id") % 13).as("text"))
      .createOrReplaceTempView("plansql_pts")
    val q = spark.sql("""
      SELECT grid_cell_id(x, y, 0.0, 0.0, 10.0) AS cid,
             morton_cell_id(x, y, 0.0, 0.0, 10.0) AS mid,
             hier_cell_id(x, y, 0.0, 0.0, 80.0, 2) AS hid,
             hex_cell_id(x, y, 5.0) AS hexid,
             mix64(event_id) AS m,
             simhash64(text) AS sh,
             minhash_sig(text, 16, 2) AS ms,
             st_contains_wkt('POLYGON((0 0, 50 0, 50 50, 0 50, 0 0))', x, y) AS inp,
             st_distance_wkt('POLYGON((0 0, 50 0, 50 50, 0 50, 0 0))', x, y) AS dist
      FROM plansql_pts""")
    val plan = finalPlan(q)
    val finalOnly = plan.split("== Initial Plan ==").head
    // a CodegenFallback expression would demote the project to an
    // un-starred InterpretedProject stage — the star is the proof that
    // every registered expression's doGenCode compiled
    assert("""\*\(\d+\) Project""".r.findFirstIn(finalOnly).nonEmpty,
      s"custom-expression project fell out of whole-stage codegen:\n$finalOnly")
    // and the SQL surface computes the same values as the column API
    val viaSql = q.selectExpr("cid", "sh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val viaCol = spark.table("plansql_pts").select(
        graft.functions.F.cellId(col("x"), col("y"), 0.0, 0.0, 10.0,
          morton = false),
        graft.functions.F.simhash64(col("text"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.sameElements(viaCol))
  }

  test("GraftTable.readBox: manifest prunes files above the scan, and the " +
      "residual bbox predicate still pushes into the surviving parquet " +
      "footers (two-level pruning)") {
    val root = java.nio.file.Files.createTempDirectory("plantable").toString
    val pts = spark.range(4000).select(col("id").as("order_key"),
      (col("id") % 100).cast("double").as("x"),
      (col("id") % 37).cast("double").as("y"))
    for (b <- 0 until 4) // disjoint x bands -> manifest-prunable files
      graft.sources.GraftTable.commit(
        pts.withColumn("x", col("x") + b * 1000.0), root)
    val (df, filesRead, filesTotal) = graft.sources.GraftTable.readBox(
      spark, root, 0, 0, 99, 100)
    assert(filesRead < filesTotal,
      s"manifest-level pruning missing: read $filesRead of $filesTotal")
    df.collect()
    val ss = fileScans(df)
    assert(ss.nonEmpty, "no file scan in plan")
    val pushed = ss.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(x,0") &&
      pushed.contains("LessThanOrEqual(x,99"),
      s"residual bbox not pushed into the parquet scan: $pushed")
  }
}
