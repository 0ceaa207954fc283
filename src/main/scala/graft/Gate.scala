package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: the Spark query over an sf directory, next to the
  * DuckDB SQL that must reproduce its rows. `oracle` is None only where
  * the result depends on an engine-specific hash, so the driver can check
  * the row count alone. */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Gate {
  /** The gate list, checked: Verify writes one output directory and one
    * oracle key per name, so a repeated name would silently shadow a gate. */
  def registry(gates: Gate*): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.toVector
  }
}
