package perfbench

import graft.Tables
import graft.analytics.TraceAnalytics
import graft.llm.{Dedup, Retrieval}
import graft.ml.RuntimePrediction
import graft.sources.{FixtureGen, Ingest, SyntheticWorkload, WorkloadRunner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** One client call inside a timed pass. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** What a timed pass returns besides its wall time. */
final case class PassOut(ops: Seq[Op], queries: Seq[WorkloadRunner.QueryResult],
    extra: Map[String, Double])

/** An output check. `oracleSql` is run by DuckDB on `dataDir` and its
  * rows compared with `rows` (Spark's rows as positional JSON objects);
  * without `oracleSql` the check was decided here and `ok` holds. */
final case class Check(id: String, ok: Boolean, detail: String,
    rows: Option[Seq[String]] = None, oracleSql: Option[String] = None,
    dataDir: Option[String] = None)

/** Run-level settings handed over by the Python front end. */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, repo: Path, testdata: Path,
    sizes: Map[String, String]) {
  def size(k: String): Int = sizes(k).toInt
}

trait Workload {
  /** Passes the run needs at least (e.g. two samples per query for CV). */
  def minPasses: Int
  def setup(rep: Int): Unit
  /** Untimed pass before the timed ones; it also warms the JVM. */
  def check(): Seq[Check]
  def pass(i: Int): PassOut
  /** Untimed analysis after the timed passes (CV table, repeat checks). */
  def finish(passes: Int): (Seq[Check], Map[String, Any])
}

object Workloads {
  def apply(c: Conf, spark: SparkSession, t: Tracer): Workload = c.workload match {
    case "tpcds-sf0.1"  => new Tpcds(c, spark, t)
    case "synth-sf0.01" => new Synth(c, spark, t)
    case "llm-curate"   => new LlmCurate(c, spark, t)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)

  /** Rows as JSON objects with positional keys c0..cn, nulls kept, so
    * a result with duplicate column names still serializes. */
  def jsonRows(df: DataFrame): Seq[String] =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*).toJSON.collect().toSeq

  /** Run each query once through `spark.sql` and keep its rows for the
    * DuckDB comparison; a thrown query is a failed check. The checks are
    * untimed, so they run as many at a time as Spark has cores. */
  def sqlChecks(spark: SparkSession, queries: Seq[(String, String, String)],
      dataDir: String): Seq[Check] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(queries) { case (id, sql, oracle) =>
      Future {
        try Check(id, ok = true, "", Some(jsonRows(spark.sql(sql))),
          Some(oracle), Some(dataDir))
        catch {
          case e: Throwable => Check(id, ok = false, s"spark: ${e.getClass.getSimpleName}")
        }
      }
    }, Duration.Inf)
    finally pool.shutdown()
  }

  /** The runner's NDJSON logs in `logDir`, loaded and cached: those of
    * the given attempts, or all of them. */
  def loadLogs(spark: SparkSession, t: Tracer, logDir: String,
      attempts: Seq[Int] = Nil): DataFrame =
    t.span("analytics.load_s") {
      val runs = if (attempts.isEmpty) "*" else attempts.mkString("{", ",", "}")
      val l = TraceAnalytics.loadWorkloadLogs(spark, s"$logDir/Workload_log_run_$runs.ndjson").cache()
      l.count()
      l
    }

  /** The per-query CV table over `runs` runs, the paper's
    * repeatability measure, noisiest query first. */
  def cvTable(t: Tracer, logs: DataFrame, runs: Int): Seq[Map[String, Any]] =
    t.span("analytics.cv_s") {
      TraceAnalytics.perQueryCv(logs, "query_id", "elapsed_s", runs)
        .orderBy(col("cv_pct").desc).collect()
    }.map(r => Map[String, Any]("query_id" -> r.getAs[Int]("query_id"),
      "mean_s" -> r.getAs[Double]("mean_runtime"),
      "std_s" -> r.getAs[Double]("std_runtime"),
      "n_runs" -> r.getAs[Long]("n_runs"),
      "cv_pct" -> r.getAs[Double]("cv_pct"))).toSeq

  /** A runner call: the queries it ran and its own overhead, i.e. its
    * wall time minus the summed per-query runtimes. */
  def runnerPass(spark: SparkSession, t: Tracer, queryDir: String,
      logDir: String, attempt: Int): (Seq[WorkloadRunner.QueryResult], Double) = {
    val start = System.nanoTime()
    val rs = t.span("runner.runWorkload_s") {
      WorkloadRunner.runWorkload(spark, queryDir, logDir, attempt)
    }
    val wall = (System.nanoTime() - start) / 1e9
    (rs, wall - rs.filter(_.runtimeS >= 0).map(_.runtimeS).sum)
  }

  def runnerExtra(rs: Seq[WorkloadRunner.QueryResult], overhead: Double): Map[String, Double] = {
    val ok = rs.filter(_.runtimeS >= 0)
    Map("runner.planning_s" -> ok.map(_.planningS).sum,
      "runner.execution_s" -> ok.map(_.executionS).sum,
      "runner.overhead_s" -> overhead,
      "runner.queries" -> rs.size.toDouble,
      "runner.failed" -> (rs.size - ok.size).toDouble)
  }

  def queryOps(rs: Seq[WorkloadRunner.QueryResult]): Seq[Op] =
    rs.map(r => Op(r.queryId, math.max(r.runtimeS, 0.0), r.runtimeS >= 0))
}

import Workloads._

/** The TPC-DS-shaped workload over a seed-generated fixture dir. */
final class Tpcds(c: Conf, spark: SparkSession, t: Tracer) extends Workload {
  /** Dialect-split files: their DuckDB text is a twin in the oracle map
    * instead of the file text itself. */
  private val dialectTwins = Map("q44" -> "tpcds_q59_wow_ratio",
    "q68" -> "tpcds_q43_dow_pivot", "q94" -> "sqlx_regex_doc_tally",
    "q95" -> "sqlx_embed_centroid_norm")
  private val all = Ingest.loadQueryFiles(c.repo.resolve("workloads/tpcds_like").toString)
  /** Every `stride`-th file in numeric order, so the pass keeps the
    * corpus mix at a size one run can repeat. */
  private val chosen = all.sortBy(_._1.drop(1).toInt)
    .zipWithIndex.collect { case (q, i) if i % c.size("stride") == 0 => q }
  private val queryDir = c.work.resolve("tpcds-queries")
  private val logDir = c.work.resolve("tpcds-logs").toString
  private var dataDir: Path = _

  def minPasses: Int = 2

  def setup(rep: Int): Unit = {
    val dir = c.work.resolve(s"tpcds-data-$rep")
    deleteTree(dir)
    t.span("fixturegen.write_s") {
      FixtureGen.writeScaled(spark, c.testdata.resolve(c.sizes("src")).toString,
        dir.toString, c.size("mult"), c.seed)
    }
    t.span("tables.register_s") { Tables.registerAll(spark, dir.toString) }
    if (dataDir != null) deleteTree(dataDir)
    dataDir = dir
    deleteTree(queryDir)
    Files.createDirectories(queryDir)
    chosen.foreach { case (n, sql) => Files.writeString(queryDir.resolve(s"$n.sql"), sql) }
  }

  def check(): Seq[Check] = {
    val oracles = graft.sources.TpcdsPromoted.oracles
    val texts = oracles.values.toSet
    val qs = chosen.map { case (n, sql) =>
      val oracle = dialectTwins.get(n).map(oracles)
        .getOrElse(if (texts(sql)) sql
          else throw new IllegalStateException(s"$n has no oracle text"))
      (n, sql, oracle)
    }
    t.span("bench.sql_check_s") { sqlChecks(spark, qs, dataDir.toString) }
  }

  /** Pass 0, the warm-up, logs apart from the timed passes' CV logs. */
  def pass(i: Int): PassOut = {
    val dir = if (i == 0) s"$logDir-warmup" else logDir
    val (rs, overhead) = runnerPass(spark, t, queryDir.toString, dir, i)
    PassOut(queryOps(rs), rs, runnerExtra(rs, overhead))
  }

  def finish(passes: Int): (Seq[Check], Map[String, Any]) = {
    val logs = loadLogs(spark, t, logDir)
    val cv = cvTable(t, logs, passes)
    logs.unpersist()
    (Nil, Map("cv_table" -> cv, "queries" -> chosen.map(_._1),
      "data_dir" -> dataDir.toString))
  }
}

/** Generated RF-corpus queries over the shipped sf0.01 fixture, run
  * once per pass, then the study tail over the logs of this pass and
  * the one before it (the warm-up pass 0 before the first timed pass),
  * so every CV is taken over two runs of the same queries. */
final class Synth(c: Conf, spark: SparkSession, t: Tracer) extends Workload {
  private val dataDir = c.testdata.resolve(c.sizes("src")).toString
  private val queryDir = c.work.resolve("synth-queries")
  private val logDir = c.work.resolve("synth-logs").toString
  private var queries: Seq[SyntheticWorkload.SynthQuery] = Nil
  private var lastCv: Seq[Map[String, Any]] = Nil

  def minPasses: Int = 1

  def setup(rep: Int): Unit = {
    queries = t.span("synth.generate_s") {
      val qs = Synth.stratified(c.size("queries"), c.seed)
      deleteTree(queryDir)
      SyntheticWorkload.writeQueryFiles(queryDir.toString, qs)
      qs
    }
    t.span("tables.register_s") { Tables.registerAll(spark, dataDir) }
  }

  /** Checked after the timed passes, in `finish`. */
  def check(): Seq[Check] = Nil

  def pass(i: Int): PassOut = {
    val (rs, overhead) = runnerPass(spark, t, queryDir.toString, logDir, i)
    val studyStart = System.nanoTime()
    val (qerr, cv) = study((i - 1 to i).filter(_ >= 0))
    val studyS = (System.nanoTime() - studyStart) / 1e9
    lastCv = cv
    val studyOk = !qerr.isNaN && qerr >= 1.0
    PassOut(queryOps(rs) :+ Op("study", studyS, studyOk), rs,
      runnerExtra(rs, overhead) ++ Map("study_s" -> studyS, "ml.p50_qerror" -> qerr))
  }

  /** loadWorkloadLogs → perRunMean → summarize → perQueryCv over the
    * runner logs of `attempts`, then the RF runtime predictor on pooled
    * SQL-text embeddings → Q-error. */
  private def study(attempts: Seq[Int]): (Double, Seq[Map[String, Any]]) = {
    import spark.implicits._
    val logs = loadLogs(spark, t, logDir, attempts)
    // the spread across runs needs two runs; the warm-up pass has one
    val cv = if (attempts.size < 2) Nil else {
      t.span("analytics.summary_s") {
        TraceAnalytics.summarize(TraceAnalytics.perRunMean(logs, "run", "elapsed_s")).collect()
      }
      cvTable(t, logs, attempts.size)
    }
    val dim = 16
    val (train, test) = t.span("ml.features_s") {
      val texts = queries.map(q => (q.queryId.drop(1).toInt, q.sql)).toDF("query_id", "SQL")
      val data = logs.filter(col("elapsed_s").isNotNull)
        .groupBy("query_id").agg(avg("elapsed_s").as("runtime_s"))
        .join(texts, "query_id")
        .withColumn("is_test", pmod(xxhash64(col("query_id")), lit(5)) === 0)
      val emb = RuntimePrediction.flattenEmbedding(
        RuntimePrediction.meanPoolEmbedding(data, "SQL", dim), dim)
      val feats = RuntimePrediction.buildFeatures(emb, dim).fit(emb).transform(emb).cache()
      feats.count()
      (feats.filter(!col("is_test")), feats.filter(col("is_test")))
    }
    val model = t.span("ml.train_s") {
      RuntimePrediction.trainRf(train, numFolds = 3, trees = Seq(20), depths = Seq(5)).fit(train)
    }
    val qerr = t.span("ml.score_s") {
      val r = RuntimePrediction.qerror(model.transform(test), "prediction", "runtime_s").head()
      if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    }
    logs.unpersist()
    train.unpersist()
    (qerr, cv)
  }

  def finish(passes: Int): (Seq[Check], Map[String, Any]) = {
    val checks = t.span("bench.sql_check_s") {
      sqlChecks(spark, queries.map(q =>
        (q.queryId, q.sql, q.sql.replace(" AS string)", " AS varchar)"))), dataDir)
    }
    (checks, Map("cv_table" -> lastCv, "data_dir" -> dataDir))
  }
}

/** Near-dup curation of a seed-generated Zipf corpus, then the BM25
  * index write path and its two-phase probe read path. */
final class LlmCurate(c: Conf, spark: SparkSession, t: Tracer) extends Workload {
  private val corpusDir = c.work.resolve("llm-corpus").toString
  private val keptDir = c.work.resolve("llm-kept").toString
  private val prefix = "perfbench_bm25"
  private var corpusSums = Seq.empty[(Long, Long)]
  private var probes: Seq[(Long, String)] = Nil
  private var counts = Seq.empty[(Long, Long, Long)]
  private var keptInvariant = Seq.empty[Boolean]
  private var lastTop: Map[String, Array[org.apache.spark.sql.Row]] = Map.empty

  def minPasses: Int = 1

  def setup(rep: Int): Unit = {
    val docs = t.span("fixturegen.write_s") {
      val d = FixtureGen.documentsZipf(spark, c.testdata.resolve(c.sizes("src")).toString,
        c.size("docs").toLong, seed = c.seed).select("doc_id", "text")
      d.write.mode("overwrite").parquet(c.work.resolve("llm-docs").toString)
      spark.read.parquet(c.work.resolve("llm-docs").toString)
    }
    t.span("dedup.fixture_s") {
      Dedup.fixtureCorpusScaled(docs).write.mode("overwrite").parquet(corpusDir)
    }
    val corpus = spark.read.parquet(corpusDir)
    val sums = corpus.agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text")) % 1000003L))
      .head()
    corpusSums :+= ((sums.getLong(0), sums.getLong(1)))
    probes = docs.orderBy(xxhash64(lit(c.seed), col("doc_id")), col("doc_id"))
      .limit(50).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  private def probeFrame(words: Int): DataFrame = {
    import spark.implicits._
    val q = probes.toDF("query_id", "text")
    if (words > 0) q.select(col("query_id"), substring_index(col("text"), " ", words).as("text"))
    else q
  }

  def check(): Seq[Check] = Nil

  private def timed[T](ops: collection.mutable.ArrayBuffer[Op], name: String)(body: => T): T = {
    val s = System.nanoTime()
    val r = t.span(name)(body)
    ops += Op(name, (System.nanoTime() - s) / 1e9, ok = true)
    r
  }

  private def curate(corpus: DataFrame): PassOut = {
    val ops = collection.mutable.ArrayBuffer[Op]()
    val (pairs, nPairs) = timed(ops, "dedup.pairs_s") {
      val p = Dedup.minHashLshPairs(corpus, 0.5).localCheckpoint(true)
      (p, p.count())
    }
    val (clusters, nClusters, clustered) = timed(ops, "dedup.clusters_s") {
      val cl = Dedup.nearDupClusters(pairs).localCheckpoint(true)
      (cl, cl.select("cluster_id").distinct().count(), cl.count())
    }
    val nKept = timed(ops, "dedup.keep_s") {
      Dedup.keepOnePerCluster(corpus, clusters).write.mode("overwrite").parquet(keptDir)
      spark.read.parquet(keptDir).count()
    }
    timed(ops, "retrieval.index_build_s") {
      Retrieval.writePostingsIndex(spark.read.parquet(keptDir), prefix)
    }
    val top = Seq("long" -> 0, "short" -> 6).map { case (kind, words) =>
      kind -> timed(ops, s"retrieval.probe_${kind}_s") {
        Retrieval.bm25TopKFromIndexTwoPhase(prefix, probeFrame(words), 10).collect()
      }
    }.toMap
    counts :+= ((nPairs, nClusters, nKept))
    keptInvariant :+= (nKept == corpusSums.last._1 - (clustered - nClusters))
    lastTop = top
    val indexBytes = Seq("postings", "doclen", "df", "meta").map { s =>
      treeBytes(c.work.resolve(s"warehouse/${prefix}_$s").toFile)
    }.sum
    val docs = corpusSums.last._1.toDouble
    val dedupS = ops.take(3).map(_.seconds).sum
    PassOut(ops.toSeq, Nil, Map(
      "dedup.pairs" -> nPairs.toDouble, "dedup.clusters" -> nClusters.toDouble,
      "dedup.kept_docs" -> nKept.toDouble, "corpus_docs" -> docs,
      "dedup_docs_per_s" -> docs / dedupS,
      "index_build_s" -> ops(3).seconds,
      "probe_long_qps" -> probes.size / ops(4).seconds,
      "probe_short_qps" -> probes.size / ops(5).seconds,
      "retrieval.index_bytes_per_doc_byte" ->
        indexBytes.toDouble / treeBytes(new java.io.File(keptDir))))
  }

  def pass(i: Int): PassOut = curate(spark.read.parquet(corpusDir))

  /** Counts repeat on every pass and every set-up of the seed (the
    * front end also compares them with earlier runs of the seed), each
    * cluster keeps exactly one document, and the two-phase probe's top
    * 10 equal the one-phase exact probe's, up to ties at the 10th
    * score. */
  def finish(passes: Int): (Seq[Check], Map[String, Any]) = {
    val repeat = Seq(
      Check("llm.corpus_repeats", corpusSums.distinct.size == 1,
        s"corpus (rows, checksum) per set-up: ${corpusSums.mkString(" ")}"),
      Check("llm.counts_repeat", counts.distinct.size == 1,
        s"(pairs, clusters, kept) per pass: ${counts.mkString(" ")}"),
      Check("llm.one_kept_per_cluster", keptInvariant.forall(identity),
        "kept = corpus rows - (clustered ids - clusters)"))
    val probeChecks = Seq("long" -> 0, "short" -> 6).map { case (kind, words) =>
      val exact = t.span("retrieval.exact_probe_check_s") {
        Retrieval.bm25TopKFromIndex(prefix, probeFrame(words), 10).collect()
      }
      val bad = LlmCurate.topKMismatches(lastTop(kind), exact)
      Check(s"llm.probe_$kind", bad.isEmpty,
        if (bad.isEmpty) "" else s"queries differing from the exact probe: ${bad.mkString(",")}")
    }
    (repeat ++ probeChecks, Map("counts" -> counts.map(x => Seq(x._1, x._2, x._3)),
      "corpus" -> corpusSums.map(x => Seq(x._1, x._2))))
  }
}

object Synth {
  private val Join = "LEFT OUTER JOIN"
  def joins(sql: String): Int = Join.r.findAllIn(sql).size

  /** `n` generated queries with a fixed mix of join counts. The query
    * cost follows the join count, so a plain `generate(n, seed)` gives
    * each seed a different amount of work (16 to 26 joinless queries in
    * 40 over five seeds). The quota per join count is the generator's
    * own share, read off a fixed 4,000-query reference pool; the seed's
    * pool `generate(20 n, seed)` fills each quota in generation order,
    * so the seed still picks every table, predicate and literal. */
  private lazy val reference =
    SyntheticWorkload.generate(4000, 0L).groupMapReduce(q => joins(q.sql))(_ => 1)(_ + _)

  def stratified(n: Int, seed: Long): Seq[SyntheticWorkload.SynthQuery] = {
    val exact = reference.map { case (j, k) => j -> n.toDouble * k / 4000 }
    val floor = exact.map { case (j, x) => j -> x.toInt }
    // largest remainder, so the quotas add up to n
    val extra = exact.toSeq.sortBy { case (j, x) => (-(x - x.toInt), j) }
      .take(n - floor.values.sum).map(_._1).toSet
    val quota = floor.map { case (j, k) => j -> (k + (if (extra(j)) 1 else 0)) }
    val pool = SyntheticWorkload.generate(20 * n, seed)
    val chosen = pool.groupBy(q => joins(q.sql)).toSeq.flatMap { case (j, qs) =>
      val want = quota.getOrElse(j, 0)
      require(qs.size >= want, s"seed $seed: $want queries with $j joins wanted, ${qs.size} generated")
      qs.take(want)
    }.map(q => pool.indexOf(q) -> q).sortBy(_._1).map(_._2)
    val width = math.max(4, n.toString.length)
    chosen.zipWithIndex.map { case (q, i) => q.copy(queryId = s"q${("%0" + width + "d").format(i + 1)}") }
  }
}

object LlmCurate {
  /** Query ids whose top-k doc ids differ between two probe results
    * (rows: query_id, rank, doc_id, bm25, ...). A doc present on one
    * side only is tolerated when its score ties the k-th score. */
  def topKMismatches(a: Array[org.apache.spark.sql.Row],
      b: Array[org.apache.spark.sql.Row]): Seq[Long] = {
    def byQuery(rs: Array[org.apache.spark.sql.Row]) = rs.groupBy(_.getLong(0))
      .map { case (q, xs) => q -> xs.map(r => r.getLong(2) -> r.getDouble(3)).toMap }
    val (x, y) = (byQuery(a), byQuery(b))
    (x.keySet ++ y.keySet).toSeq.sorted.filter { q =>
      val (dx, dy) = (x.getOrElse(q, Map.empty[Long, Double]), y.getOrElse(q, Map.empty[Long, Double]))
      val kth = (dx.values ++ dy.values).toSeq.sorted.headOption.getOrElse(0.0)
      val onlyOne = (dx.keySet diff dy.keySet).toSeq.map(dx) ++ (dy.keySet diff dx.keySet).toSeq.map(dy)
      dx.size != dy.size || onlyOne.exists(s => math.abs(s - kth) > 1e-9 * math.max(1.0, math.abs(kth)))
    }
  }
}
