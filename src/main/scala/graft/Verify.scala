package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected SparkEntry.gates result →
  * parquet, plus oracle_sql.json with those gates' oracles, for the
  * driver's DuckDB compare. A gate's previous output is deleted before it
  * runs, so a gate that fails leaves no directory behind to be checked;
  * failed_gates.txt names every gate that threw, one a line (empty on a
  * clean run), so a failing gate without an oracle is seen too. */
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
    new java.io.File(outDir).mkdirs()
    val gates = SparkEntry.gates.filter(g => only.forall(_.contains(g.name)))
    val failed = gates.filterNot { g =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/${g.name}"))
      try { g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}"); true }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        false
      }
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
    spark.stop()
  }
}
