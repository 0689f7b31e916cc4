package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, xxhash64}
import java.nio.file.{Files, Paths}

/** Drives one benchmark run in one JVM and writes its raw record
  * (result.json, spans.ndjson, checks.ndjson) to the work dir. The
  * Python front end (perfbench/run.py) builds, launches, checks outputs
  * against DuckDB and derives the metrics.
  *
  * Arguments are key=value: workload, seed, seconds, trace (0|1), work,
  * repo, testdata, cpus, and any workload size knob (see run.py).
  */
object Main {

  /** Fixed CPU probe shaped like graft.Bench's calibration: an xxhash
    * reduce over a range. It is recorded beside the run so a loaded
    * host can be recognised; it never corrects a number. */
  def cpuProbe(spark: SparkSession, rows: Long, cpus: Int): Seq[Double] = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, rows, 1L, cpus).select(xxhash64(col("id")).as("h"))
        .select(expr("bit_xor(h)")).head()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once())
  }

  /** CPU seconds of every thread of this JVM so far: task, scheduling,
    * JIT and GC threads alike (local mode runs them all in this process). */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds the JIT compilers and the garbage collectors have spent
    * so far, as the JVM reports them; recorded per pass, never applied. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val core = Set("workload", "seed", "seconds", "trace", "work", "repo", "testdata", "cpus")
    val cpus = kv("cpus").toInt
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")), Paths.get(kv("repo")),
      Paths.get(kv("testdata")), kv -- core)
    Files.createDirectories(conf.work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.sql.jsonGenerator.ignoreNullFields", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val rss = new RssSampler()
    val probeRows = 5000000L
    val probesBefore = cpuProbe(spark, probeRows, cpus)

    val wl = Workloads(conf, spark, tracer)
    val setupS = (1 to conf.size("setup_reps")).map { rep =>
      val t0 = System.nanoTime()
      tracer.span("bench.setup_s") { wl.setup(rep) }
      (System.nanoTime() - t0) / 1e9
    }
    val checks = tracer.span("bench.check_s") { wl.check() }
    // an untimed pass 0 compiles the hot paths, so the timed passes
    // measure a warm JVM
    System.gc()
    tracer.span("bench.warmup_s") { wl.pass(0) }

    // closed loop: passes run back to back until the next one would end
    // past the run's seconds. A traced run traces its first pass, the
    // pass an untraced run measures, and adds an untraced one as the
    // fallback base of the tracing overhead
    val minPasses = if (conf.trace) math.max(2, wl.minPasses) else wl.minPasses
    val passes = collection.mutable.ArrayBuffer[Map[String, Any]]()
    val loopStart = System.nanoTime()
    var last = 0.0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (passes.size < minPasses || elapsed + last <= conf.seconds) {
      val i = passes.size + 1
      val traced = conf.trace && i == 1
      // blocks of the previous pass's dropped frames are freed when
      // their JVM objects are collected; collect now, untimed, so every
      // pass starts from the same heap
      System.gc()
      if (traced) tracer.startEngine()
      rss.takePeakMb()
      val cpu0 = processCpuS()
      val (jit0, gc0) = (jitS(), gcS())
      val t0 = System.nanoTime()
      val out = try tracer.span("bench.pass_s") { Right(wl.pass(i)) }
        catch { case e: Throwable => Left(e) }
      last = (System.nanoTime() - t0) / 1e9
      val cpuS = processCpuS() - cpu0
      val (jit, gc) = (jitS() - jit0, gcS() - gc0)
      val peak = rss.takePeakMb()
      if (traced) tracer.stopEngine()
      passes += (out match {
        case Right(p) => Map("index" -> i, "traced" -> traced, "wall_s" -> last,
          "cpu_s" -> cpuS, "jit_s" -> jit, "gc_s" -> gc, "rss_peak_mb" -> peak, "extra" -> p.extra,
          "ops" -> p.ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok)),
          "queries" -> p.queries.map(q => Map("query_id" -> q.queryId,
            "runtime_s" -> q.runtimeS, "planning_s" -> q.planningS,
            "execution_s" -> q.executionS)))
        case Left(e) => Map("index" -> i, "traced" -> traced, "wall_s" -> last,
          "cpu_s" -> cpuS, "jit_s" -> jit, "gc_s" -> gc, "rss_peak_mb" -> peak, "extra" -> Map.empty,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}",
          "ops" -> Seq(Map("name" -> "pass", "s" -> last, "ok" -> false)),
          "queries" -> Nil)
      })
    }
    val (lateChecks, info) = tracer.span("bench.finish_s") { wl.finish(passes.size) }
    val probesAfter = cpuProbe(spark, probeRows, cpus)
    rss.close()

    val groups = tracer.listeners.flatMap(_.byGroup()).groupMapReduce(_._1)(_._2)(
      (a, b) => (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap)
    val result = Json.obj(
      "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
      "trace" -> conf.trace, "sizes" -> conf.sizes,
      "provenance" -> Map("spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "cpus" -> cpus, "probe_rows" -> probeRows),
      "probes" -> Map("before_s" -> probesBefore, "after_s" -> probesAfter),
      "setup_s" -> setupS, "passes" -> passes, "info" -> info,
      "engine_by_group" -> groups)
    Files.writeString(conf.work.resolve("result.json"), result + "\n")
    Files.writeString(conf.work.resolve("spans.ndjson"), tracer.ndjson)
    Files.writeString(conf.work.resolve("checks.ndjson"), (checks ++ lateChecks).map { c =>
      Json.obj("id" -> c.id, "ok" -> c.ok, "detail" -> c.detail, "rows" -> c.rows,
        "oracle_sql" -> c.oracleSql, "data_dir" -> c.dataDir)
    }.mkString("", "\n", "\n"))
    spark.stop()
  }
}
