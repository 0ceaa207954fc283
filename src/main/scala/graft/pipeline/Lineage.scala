package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.GraftTable
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Per-stage checkpoint + per-partition lineage/metrics (north rule:
  * "every stage checkpoints per-partition lineage and row/byte metrics to
  * enable exact resume").
  *
  * Each stage output is written to `<dir>/stage=<i>_<name>/data`, one
  * parquet file per non-empty task. The stage's lineage sidecar,
  * `<dir>/stage=<i>_<name>/lineage.parquet`, is the manifest of those
  * files in GraftTable's manifest format: per data file, its row count
  * and min/max order_key (the lineage interval — which slice of the
  * insertion order the file holds), read from the files' parquet footers
  * on the driver. No Spark job re-reads a stage. `run` resumes from the
  * LAST completed stage: earlier stages are never recomputed, the exact
  * parquet bytes are reloaded.
  *
  * `dir` is a local filesystem path, as a GraftTable root is: the
  * sidecar is written and renamed with java.nio.
  */
class CheckpointRunner(spark: SparkSession, dir: String) {

  private def stagePath(i: Int, name: String) = s"$dir/stage=${i}_$name"

  private def sidecar(i: Int, name: String): Path =
    Paths.get(stagePath(i, name), "lineage.parquet")

  /** A stage is complete only once its sidecar exists — the LAST write of
    * the stage, landed by an atomic rename. A crash between the data and
    * sidecar writes re-runs the stage, overwriting its data cleanly. */
  private def completed(i: Int, name: String): Boolean =
    Files.exists(sidecar(i, name))

  def run(input: DataFrame,
      stages: Seq[(String, DataFrame => DataFrame)]): DataFrame = {
    // find the last completed stage to resume from
    val lastDone = stages.zipWithIndex.reverse
      .find { case ((name, _), i) => completed(i, name) }.map(_._2)
    var cur = lastDone match {
      case Some(i) =>
        spark.read.parquet(stagePath(i, stages(i)._1) + "/data")
      case None => input
    }
    val start = lastDone.map(_ + 1).getOrElse(0)
    val conf = spark.sessionState.newHadoopConf()
    stages.zipWithIndex.drop(start).foreach { case ((name, fn), i) =>
      val out = fn(cur)
      val data = stagePath(i, name) + "/data"
      out.write.mode("overwrite").parquet(data)
      val tmp = Paths.get(stagePath(i, name), s".lineage-${java.util.UUID.randomUUID()}")
      GraftTable.writeManifest(spark, tmp.toString,
        GraftTable.partFiles(data).map(f => GraftTable.footerStats(f.toString, conf)))
      Files.move(tmp, sidecar(i, name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      cur = spark.read.schema(out.schema).parquet(data)
    }
    cur
  }

  /** All recorded metrics across stages (the lineage sidecars), one row
    * per data file: `partition` is the file's index in its stage,
    * `approx_bytes` its length on disk and `committed_at` the sidecar's
    * modification time. Built on the driver: no Spark job. */
  def metrics(): DataFrame = {
    val stageDir = "stage=(\\d+)_(.*)".r
    val done = Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala.toVector)
      .flatMap(p => p.getFileName.toString match {
        case stageDir(i, name) if completed(i.toInt, name) => Some((i.toInt, name))
        case _ => None
      }).sorted
    val rows = done.flatMap { case (i, name) =>
      val committed = new java.sql.Timestamp(
        Files.getLastModifiedTime(sidecar(i, name)).toMillis)
      GraftTable.entries(spark, Seq(sidecar(i, name).toString)).zipWithIndex.map {
        case (e, part) => LineageRow(part, e.rows, Files.size(Paths.get(e.path)),
          e.minKey, e.maxKey, i, name, committed)
      }
    }
    spark.createDataFrame(rows)
  }
}

/** One row of `CheckpointRunner.metrics`. */
private[pipeline] case class LineageRow(partition: Int, rows: Long,
    approx_bytes: Long, min_order_key: Option[Long], max_order_key: Option[Long],
    stage: Int, stage_name: String, committed_at: java.sql.Timestamp)
