package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic doc-table generator — the analog of PDAL's
  * `readers.faux` (reference: io/FauxReader.cpp:48, modes at :205-218,
  * options bounds/count/seed/mode at :59-68).
  *
  * Everything is a pure column function of the row sequence number, so the
  * output is identical at any parallelism / partition count — the property
  * PDAL gets for free single-threaded and we must engineer (SURVEY §7.4.1).
  * No RDDs, no driver loops: `spark.range(n)` scales to any count.
  */
object Synth {

  /** splitmix64 finalizer — deterministic hash/PRNG base, via the
    * codegen'd Mix64Expr (wraparound multiply; ANSI-safe). */
  def mix64(c: Column): Column = graft.functions.F.mix64(c)

  /** Uniform double in [0, 1) from (seq, seed, stream) — pure column. */
  def unif(seq: Column, seed: Long, stream: Int): Column =
    (shiftrightunsigned(mix64(seq * lit(1000003L) + lit(seed * 31 + stream)), 11)
      .cast("double")) / lit((1L << 53).toDouble)

  /** Interleaved spans payload: 1..8 spans per doc, kinds cycling over
    * {text, image, audio, table}, strictly increasing offsets — pure
    * columns (`transform` over `sequence`), no UDFs. */
  def spansCol(seq: Column, seed: Long): Column = {
    val n = (pmod(mix64(seq + lit(seed)), lit(8L)) + lit(1L)).cast("int")
    transform(sequence(lit(0), n - lit(1)), i => {
      val h = mix64(seq * lit(31L) + i.cast("long") * lit(7L) + lit(seed))
      val kind = element_at(
        array(lit("text"), lit("image"), lit("audio"), lit("table")),
        (pmod(h, lit(4L)) + lit(1L)).cast("int"))
      struct(
        kind.as("kind"),
        when(kind === "text",
          concat(lit("tok"), pmod(h, lit(50021L)).cast("string"), lit(" "),
            pmod(shiftrightunsigned(h, 17), lit(7919L)).cast("string")))
          .otherwise(lit("")).as("text"),
        when(kind =!= "text",
          concat(lit("media/"), hex(h))).otherwise(lit("")).as("media_ref"),
        (i * lit(97) + pmod(h, lit(97L)).cast("int")).as("offset"))
    })
  }

  /** Full doc table: `count` docs, coordinates uniform in `bounds`,
    * clustered classification — the primary bench/test input
    * (FIXTURES.md §1). */
  def docs(spark: SparkSession, count: Long, seed: Long = 42L,
      bounds: (Double, Double, Double, Double) = (635000.0, 848000.0, 639000.0, 854000.0),
      numPartitions: Int = 0): DataFrame = {
    val base = if (numPartitions > 0) spark.range(0, count, 1, numPartitions)
               else spark.range(count)
    val seq = col("id")
    val (minx, miny, maxx, maxy) = bounds
    base.select(
      format_string("doc%012d", seq).as("doc_id"),
      spansCol(seq, seed).as("spans"),
      (lit(minx) + unif(seq, seed, 1) * lit(maxx - minx)).as("x"),
      (lit(miny) + unif(seq, seed, 2) * lit(maxy - miny)).as("y"),
      (unif(seq, seed, 3) * lit(400.0)).as("z"),
      pmod(mix64(seq + lit(seed + 7)), lit(65536L)).cast("int").as("intensity"),
      pmod(mix64(seq + lit(seed + 8)), lit(8L)).cast("int").as("classification"),
      (pmod(mix64(seq + lit(seed + 9)), lit(3L)) + lit(1L)).cast("int").as("return_number"),
      lit(3).as("number_of_returns"),
      (lit(245000.0) + seq.cast("double") * lit(0.01)).as("gps_time"),
      seq.as("order_key"))
  }

  /** FauxReader `mode=ramp` (io/FauxReader.cpp:210): coordinate i =
    * min + (max-min)/(count-1) * i. Drives the crop 333/200 goldens
    * (test/unit/filters/CropFilterTest.cpp:59-116). */
  def ramp(spark: SparkSession, count: Long,
      min: (Double, Double, Double), max: (Double, Double, Double),
      seed: Long = 42L): DataFrame = {
    val seq = col("id")
    def interp(lo: Double, hi: Double): Column =
      if (count <= 1) lit(lo)
      else lit(lo) + lit((hi - lo) / (count - 1).toDouble) * seq.cast("double")
    spark.range(count).select(
      format_string("doc%012d", seq).as("doc_id"),
      spansCol(seq, seed).as("spans"),
      interp(min._1, max._1).as("x"),
      interp(min._2, max._2).as("y"),
      interp(min._3, max._3).as("z"),
      lit(0).as("intensity"),
      lit(0).as("classification"),
      lit(1).as("return_number"),
      lit(1).as("number_of_returns"),
      seq.cast("double").as("gps_time"),
      seq.as("order_key"))
  }
}
