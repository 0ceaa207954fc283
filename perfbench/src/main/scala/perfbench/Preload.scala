package perfbench

/** Runs every workload once (set-up, oracle, one traced iteration) in one
  * JVM, so that a class-data-sharing archive recorded from this JVM holds
  * the classes all workloads load. run.py records it after each build; it
  * cuts JVM and session start-up of every later run by seconds.
  * Usage: `Preload <work dir>`. */
object Preload {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(4, shufflePartitions = 16)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext), args(0), 0L, perturb = false)
    for (name <- Seq("flagship", "tiles_table_dedup")) {
      val w = Workloads(name, 0L, scale = 0.5)
      w.writeFixture(ctx)
      w.prepare(ctx)
      ctx.traced = true
      ctx.tracedIters = 1
      w.iterate(ctx, 0)
      ctx.tracer.drain()
      w.layers(ctx)
    }
    spark.stop()
    Workloads.rm(args(0))
  }
}
