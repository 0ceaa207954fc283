package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark task metrics summed over the tasks of some jobs. */
final class Sums {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** stage id -> task durations (ms) and shuffle records written */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageShuffleRecords = mutable.Map.empty[Int, Long]

  def add(o: Sums): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    o.stageTaskMs.foreach { case (s, d) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= d }
    o.stageShuffleRecords.foreach { case (s, r) =>
      stageShuffleRecords(s) = stageShuffleRecords.getOrElse(s, 0L) + r }
  }

  /** Max over median task time of the stage that took the most task time
    * (the stage that sets the span's critical path). */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val d = stageTaskMs.values.maxBy(_.sum).sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }

  /** Shuffle records written by the stage that wrote the most of them. */
  def maxStageShuffleRecords: Long =
    if (stageShuffleRecords.isEmpty) 0L else stageShuffleRecords.values.max
}

/** One public engine call: its name, wall interval and caller. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long) {
  var endNs = 0L
  val own = new Sums
  def secs: Double = (endNs - startNs) / 1e9
}

/** Records a span around each call the benchmark makes into the engine.
  * Every Spark job a span launches runs under the span's job group, and
  * the listener folds each finished task's metrics into that span. Spans
  * stay in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id),
        System.nanoTime())
      spans += s
      s
    }
    open = s :: open
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("span-")).foreach { g =>
      synchronized {
        val s = spans(g.stripPrefix("span-").toInt)
        s.own.jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val o = s.own
      o.tasks += 1
      o.runMs += m.executorRunTime
      o.cpuNs += m.executorCpuTime
      o.gcMs += m.jvmGCTime
      o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      o.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      o.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      o.inputBytes += m.inputMetrics.bytesRead
      o.outputBytes += m.outputMetrics.bytesWritten
      o.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      o.stageShuffleRecords(e.stageId) =
        o.stageShuffleRecords.getOrElse(e.stageId, 0L) +
          m.shuffleWriteMetrics.recordsWritten
    }
  }

  /** Waits until every finished task has been folded in. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Id the next span will get. */
  def nextId: Int = synchronized(spans.size)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Metrics of a span and everything it called. */
  def total(s: Span): Sums = {
    val out = new Sums
    val kids = all.groupBy(_.parent)
    def walk(x: Span): Unit = { out.add(x.own); kids.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    out
  }

  /** Spans as JSON lines: name, interval, caller and Spark metrics. */
  def dump(cores: Int): Seq[String] = all.map { s =>
    val t = total(s)
    Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "secs" -> s.secs,
      "jobs" -> t.jobs, "tasks" -> t.tasks, "cpu_s" -> t.cpuNs / 1e9,
      "gc_s" -> t.gcMs / 1e3,
      "cpu_util" -> (if (s.secs > 0) t.cpuNs / 1e9 / (s.secs * cores) else 0.0),
      "shuffle_write_bytes" -> t.shuffleWriteBytes,
      "shuffle_write_records" -> t.shuffleWriteRecords,
      "shuffle_read_bytes" -> t.shuffleReadBytes, "spill_bytes" -> t.spillBytes,
      "input_bytes" -> t.inputBytes, "output_bytes" -> t.outputBytes,
      "task_skew" -> t.taskSkew))
  }
}

/** Minimal JSON writer for objects of numbers, strings and nested maps. */
object Json {
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
