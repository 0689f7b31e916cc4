package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Engine counters from Spark's own task, stage and job events. All
  * counters are cumulative; a span takes the difference of two
  * snapshots. Tasks are also attributed to the job group that
  * launched them (`graft-workload-<queryId>` for runner queries). */
final class EngineListener extends SparkListener {
  private val totals = mutable.LinkedHashMap[String, Double]()
  private val groups = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]]()
  private val stageGroup = mutable.HashMap[Int, String]()
  /** (launch ms, finish ms, peak execution memory) per finished task. */
  private val tasks = ArrayBuffer[(Long, Long, Long)]()

  private def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add(totals, "engine.jobs", 1)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(stageGroup(_) = g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add(totals, "engine.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val c = mutable.LinkedHashMap[String, Double]("engine.tasks" -> 1.0)
    if (e.reason != Success) c("engine.tasks_failed") = 1.0
    var peak = 0L
    if (m != null) {
      c("engine.task_run_s") = m.executorRunTime / 1e3
      c("engine.task_cpu_s") = m.executorCpuTime / 1e9
      c("engine.gc_s") = m.jvmGCTime / 1e3
      c("engine.input_bytes") = m.inputMetrics.bytesRead.toDouble
      c("engine.input_rows") = m.inputMetrics.recordsRead.toDouble
      c("engine.output_bytes") = m.outputMetrics.bytesWritten.toDouble
      c("engine.shuffle_write_bytes") = m.shuffleWriteMetrics.bytesWritten.toDouble
      c("engine.shuffle_read_bytes") = m.shuffleReadMetrics.totalBytesRead.toDouble
      c("engine.shuffle_fetch_wait_s") = m.shuffleReadMetrics.fetchWaitTime / 1e3
      c("engine.spill_bytes") =
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      peak = m.peakExecutionMemory
    }
    tasks += ((info.launchTime, info.finishTime, peak))
    c.foreach { case (k, v) => add(totals, k, v) }
    stageGroup.get(e.stageId).foreach { g =>
      val gm = groups.getOrElseUpdate(g, mutable.LinkedHashMap())
      c.foreach { case (k, v) => add(gm, k, v) }
    }
  }

  def snapshot(): Map[String, Double] = synchronized { totals.toMap }

  /** Per job group counters, e.g. one entry per runner query. */
  def byGroup(): Map[String, Map[String, Double]] =
    synchronized { groups.map { case (g, m) => g -> m.toMap }.toMap }

  /** Milliseconds of [fromMs, toMs) covered by at least one task, and
    * the largest peak execution memory of a task that ended inside. */
  def taskCover(fromMs: Long, toMs: Long): (Long, Long) = synchronized {
    val inside = tasks.filter { case (s, f, _) => f > fromMs && s < toMs }
    val clipped = inside.map { case (s, f, _) =>
      (math.max(s, fromMs), math.min(f, toMs)) }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, f) =>
      if (s > curE) {
        covered += curE - curS
        curS = s; curE = f
      } else curE = math.max(curE, f)
    }
    covered += curE - curS
    val peak = inside.filter { case (_, f, _) => f <= toMs }
      .map(_._3).foldLeft(0L)(math.max)
    (covered, peak)
  }
}

/** One timed call. `counters` hold engine deltas and are empty when
  * the span ran untraced. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counters: Map[String, Double]) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records a span around every call the benchmark makes into a layer.
  * Timing is always on (two clock reads per call); engine counters are
  * on only between [[startEngine]] and [[stopEngine]], because they
  * need a listener and a drained listener bus at every boundary. */
final class Tracer(sc: SparkContext) {
  private val spans = ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private var listener: Option[EngineListener] = None
  /** Every listener ever started, for per-group counters. */
  val listeners = ArrayBuffer[EngineListener]()

  def startEngine(): Unit = if (listener.isEmpty) {
    val l = new EngineListener
    sc.addSparkListener(l)
    listener = Some(l)
    listeners += l
  }

  def stopEngine(): Unit = listener.foreach { l =>
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(l)
    listener = None
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = listener.map { l => PerfbenchBus.drain(sc); l.snapshot() }
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    stack.push(id)
    try body
    finally {
      val end = System.nanoTime()
      val endMs = System.currentTimeMillis()
      stack.pop()
      val counters = (listener, before) match {
        case (Some(l), Some(b)) =>
          PerfbenchBus.drain(sc)
          val after = l.snapshot()
          val (busyMs, peak) = l.taskCover(startMs, endMs)
          (after.keySet ++ b.keySet).iterator
            .map(k => k -> (after.getOrElse(k, 0.0) - b.getOrElse(k, 0.0)))
            .toMap ++ Map(
              "engine.no_task_s" -> math.max(0.0, (end - start) / 1e9 - busyMs / 1e3),
              "engine.peak_exec_mem_bytes" -> peak.toDouble)
        case _ => Map.empty[String, Double]
      }
      spans += Span(id, parent, name, start, end, counters)
    }
  }

  /** Spans as NDJSON, in the order they ended. */
  def ndjson: String = spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "seconds" -> s.seconds, "counters" -> s.counters)
  }.mkString("", "\n", "\n")
}

/** Samples the process resident set while a timed pass runs. */
final class RssSampler(periodMs: Long = 20) {
  @volatile private var peakKb = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      peakKb = math.max(peakKb, RssSampler.rssKb())
      Thread.sleep(periodMs)
    }
  }, "perfbench-rss")
  thread.setDaemon(true)
  thread.start()

  /** Peak since the last call, in MB; the next interval starts now. */
  def takePeakMb(): Double = {
    val p = math.max(peakKb, RssSampler.rssKb())
    peakKb = 0L
    p / 1024.0
  }

  def close(): Unit = { running = false; thread.join() }
}

object RssSampler {
  def rssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmRSS:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }
}

/** Minimal JSON writer for the result artifacts. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
