package perfbench

import scala.collection.mutable
import Workloads.{medianOf, quantileOf}

/** One benchmark run in one JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --spans <dir> [--perturb]`, with `-Dperfbench.launchMs=<epoch ms>` set
  * to the launch time. Runs at local[4].
  *
  * Set-up (session, fixture written three times, warm-up iterations)
  * is timed apart from the measured iterations, about `--seconds` of them.
  * With `--trace 0` they run untraced and the end-to-end metrics are
  * printed; with `--trace 1` untraced and traced iterations alternate, and
  * the per-layer metrics plus the tracing overhead are printed. The
  * last line is `RESULT {json}`. `--perturb` corrupts each workload's
  * output before its check, to show that the check rejects it. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = mutable.Map.empty[String, String]
    var perturb = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--perturb" => perturb = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => opt(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument $other")
      }
    }
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = 4
    val work = new java.io.File(opt("work")).getAbsolutePath
    val launchMs = sys.props("perfbench.launchMs").toLong
    val workload = Workloads(name, seed)

    val spark = graft.core.GraftSession.local(cores, shufflePartitions = 4 * cores)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, seed, perturb)
    val probeIn = probe(spark, cores)

    val writes = (1 to 3).map { _ => timeS(workload.writeFixture(ctx)) }
    val prepS = timeS(workload.prepare(ctx))
    // JIT keeps speeding iterations up for several iterations after the
    // first, so set-up runs a fixed number of them before any is timed
    var iter = 0
    val warm = (1 to workload.warmups).map { _ => timeS { workload.iterate(ctx, iter); iter += 1 } }
    val setupS = sessionS + medianOf(writes) + warm.sum
    println(f"[setup] session=$sessionS%.2fs fixture writes=${writes.map(w => f"$w%.2f").mkString("/")}s " +
      f"warm-up=${warm.map(w => f"$w%.2f").mkString("/")}s (oracle $prepS%.2fs, not counted)")

    /** The measured iterations: the timed seconds and Spark sums of each
      * one whose checks all passed. Their number is fixed by `seconds` and
      * the workload's nominal iteration time, not by the clock: JIT keeps
      * shortening iterations for a while, so a count that varied with
      * timing would move the median. A traced run alternates untraced and
      * traced iterations, so that drift biases neither side. */
    val count = math.max(2, math.round(seconds / workload.iterationS).toInt)
    workload.clearSamples()
    val runs = (0 until count).flatMap { n =>
      ctx.traced = trace && n % 2 == 1
      ctx.timedSecs = 0.0
      ctx.roots.clear()
      val failedBefore = ctx.failed
      workload.iterate(ctx, iter)
      iter += 1
      if (ctx.traced) ctx.tracedIters += 1
      tracer.drain()
      if (ctx.failed > failedBefore) None
      else Some((ctx.traced, ctx.timedSecs, Workloads.sums(ctx, ctx.roots.toSeq)))
    }
    def docsPerS(it: Seq[(Double, Sums)]): Double =
      if (it.isEmpty) 0.0 else workload.docs / medianOf(it.map(_._1))
    val (tracedRuns, plainRuns) = runs.partition(_._1)
    val traced = tracedRuns.map(t => (t._2, t._3))
    val untraced = plainRuns.map(t => (t._2, t._3))

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val cpuMsPerKdoc = medianOf(untraced.map(_._2.cpuNs / 1e6)) / (workload.docs / 1e3)
    if (!trace) {
      metrics("setup_s") = setupS
      metrics("docs_per_s") = docsPerS(untraced)
      metrics("shuffle_bytes_per_doc") = medianOf(untraced.map(_._2.shuffleWriteBytes.toDouble)) / workload.docs
      metrics("peak_rss_mb") = peakRssMb()
      println(f"[cpu] executor CPU $cpuMsPerKdoc%.2f ms per 1000 docs")
      println(f"[iterations] ${untraced.size} passing, seconds: ${untraced.map(x => f"${x._1}%.3f").mkString(" ")}")
      workload match {
        case t: TilesToTable =>
          println(f"[tiles_to_table] box_read_ms p50=${medianOf(t.readMs.toSeq)}%.1f " +
            f"p90=${quantileOf(t.readMs.toSeq, 0.9)}%.1f (n=${t.readMs.size}) " +
            f"commit_s_p50=${medianOf(t.commitS.toSeq)}%.3f upsert_s_p50=${medianOf(t.upsertS.toSeq)}%.3f")
        case _ =>
      }
    } else {
      metrics ++= workload.layers(ctx)
      metrics("core.session_start_s") = sessionS
      metrics("core.synth_write_s") = medianOf(writes)
      val wall = traced.map(_._1)
      metrics("spark.gc_s") = medianOf(traced.map(_._2.gcMs / 1e3))
      metrics("spark.cpu_util") = medianOf(traced.map(t => t._2.cpuNs / 1e9 / (t._1 * cores)))
      metrics("spark.tasks") = medianOf(traced.map(_._2.tasks.toDouble))
      metrics("spark.cpu_ms_per_kdoc") = cpuMsPerKdoc
      metrics("trace.docs_per_s") = docsPerS(traced)
      metrics("trace.untraced_docs_per_s") = docsPerS(untraced)
      metrics("trace.overhead_frac") =
        if (wall.isEmpty || untraced.isEmpty) 0.0 else medianOf(wall) / medianOf(untraced.map(_._1)) - 1.0
      val dir = new java.io.File(opt("spans"))
      dir.mkdirs()
      val f = new java.io.File(dir, s"spans-$name-$seed.jsonl")
      java.nio.file.Files.write(f.toPath, tracer.dump(cores).mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"[trace] ${tracer.all.size} spans written to $f")
    }
    val probeOut = probe(spark, cores)
    spark.stop()
    Workloads.rm(work)

    val result = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "ops_failed_frac" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "probe_mrows_per_s_before" -> probeIn, "probe_mrows_per_s_after" -> probeOut,
      "metrics" -> metrics.toMap))
    println("RESULT " + result)
    System.out.flush()
    sys.exit(0)
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The HostProbe kernel: a pure codegen aggregation over spark.range
    * with no engine code, no shuffle and no disk. Mrows/s. */
  def probe(spark: org.apache.spark.sql.SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions._
    def run(rows: Long): Double = {
      val t0 = System.nanoTime()
      spark.range(0, rows, 1, cores * 4)
        .select(bit_xor(xxhash64(xxhash64(xxhash64(col("id")))))).head()
      rows / ((System.nanoTime() - t0) / 1e9) / 1e6
    }
    run(2000000L) // compiles the kernel, so the reading measures the host
    run(20000000L)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
