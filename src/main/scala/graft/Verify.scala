package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable
/** Driver-run correctness dump: each selected SparkEntry.gates result →
  * parquet, plus oracle_sql.json with those gates' oracles, for the
  * driver's DuckDB compare. A gate's previous output is deleted before it
  * runs, so a gate that fails leaves no directory behind to be checked;
  * failed_gates.txt names every gate that threw, one a line (empty on a
  * clean run), so a failing gate without an oracle is seen too.
  * ledger.tsv holds one row per gate with the Spark work it ran (see
  * [[GateLedger]]); `tools/ledger_diff.py` compares two ledgers. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = rest.headOption.map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ledger = new GateLedger
    spark.sparkContext.addSparkListener(ledger)
    new java.io.File(outDir).mkdirs()
    val gates = SparkEntry.gates.filter(g => only.forall(_.contains(g.name)))
    val failed = gates.filterNot { g =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/${g.name}"))
      spark.sparkContext.setLocalProperty(GateLedger.Property, g.name)
      try { g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}"); true }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        false
      }
      finally spark.sparkContext.setLocalProperty(GateLedger.Property, null)
    }
    Files.writeString(Paths.get(s"$outDir/failed_gates.txt"),
      failed.map(_.name + "\n").mkString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = gates.flatMap(g => g.oracle.map(sql => s"${q(g.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // stopping the context drains the listener bus, so every task's
    // metrics are folded in before the ledger is written
    spark.stop()
    Files.writeString(Paths.get(s"$outDir/ledger.tsv"), ledger.tsv(gates.map(_.name)))
  }
}

/** Spark work per gate: every job a gate launches carries the gate's name
  * in the job property [[GateLedger.Property]], and each finished task's
  * metrics are summed into that gate. It is a property of its own, not
  * the job group, because a streaming query's thread inherits the local
  * properties but replaces the job group with its run id. Job counts
  * repeat from run to run on most gates; shuffle bytes do not repeat
  * exactly, so two ledgers are compared as deltas, not for equality. */
final class GateLedger extends SparkListener {
  import GateLedger._
  private val sums = mutable.Map.empty[String, Array[Long]]
  private val stageSums = mutable.Map.empty[Int, Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for (p <- Option(e.properties); g <- Option(p.getProperty(Property))) {
      val s = sums.getOrElseUpdate(g, new Array[Long](Columns.size))
      s(0) += 1
      e.stageIds.foreach(stageSums(_) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSums.get(e.stageId); m <- Option(e.taskMetrics)) {
      s(1) += 1
      s(2) += m.shuffleWriteMetrics.bytesWritten
      s(3) += m.shuffleWriteMetrics.recordsWritten
      s(4) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Header plus one row per gate, in the given order; a gate that ran no
    * job reads all zeros. */
  def tsv(gates: Seq[String]): String = synchronized {
    val rows = gates.map { g =>
      (g +: sums.getOrElse(g, new Array[Long](Columns.size)).map(_.toString).toSeq)
        .mkString("\t")
    }
    (("gate" +: Columns).mkString("\t") +: rows).map(_ + "\n").mkString
  }
}

object GateLedger {
  val Columns: Seq[String] = Seq("jobs", "tasks", "shuffle_write_bytes",
    "shuffle_write_records", "spill_bytes")
  val Property = "graft.gate"
}
