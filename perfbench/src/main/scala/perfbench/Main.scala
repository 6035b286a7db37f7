package perfbench

import graft.JsonText.quote
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One run's settings. Every input derives from `seed`; the backlog and the
  * rows per file are smaller in the warm-up than in the measured passes. */
case class Config(
    workload: String, seed: Long, seconds: Double, traced: Boolean, cpus: Int,
    backlogJobs: Int = 16, backlogRows: Int = 1500, reviewRows: Int = 10000)

/** Workload sizes, fixed so every run does the same work. */
object Config {
  /** Dirty jobs per review tenant (each tenant owns 2 to 4). */
  val ReviewTenants: Seq[Int] = Seq(2)
  /** Share of flagged rows the reviewer fixes; it discards the rest. */
  val FixShare = 0.5
  /** Documents in the LM corpus (sf0.01 has 500). */
  val LmDocs = 500
}

/** The benchmark harness: one JVM, one session config for every workload.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <resultJson>
  *
  * A warm-up runs once and the set-up three times (`setup_s` is the
  * warm-up plus the median set-up); then the workload is measured, its
  * outputs are checked, and one JSON object is written to `resultJson`.
  * With tracing on, the warm-up is skipped (`setup_s` is not reported; the
  * untraced pass warms the JVM instead), and the untraced pass is followed
  * by a traced pass of the same inputs in a fresh store, another untraced
  * pass, and direct calls into the ingest layers; the trace reports
  * per-layer numbers and its own overhead. Spans are written when the run
  * ends. */
object Main {
  val workloads = Seq("ingest_review", "analytics_lm")

  /** The LM queries this workload times: every LM layer (inline scoring,
    * perplexity, store build, serve, probe, holdout and maintenance) on
    * the order-2 model, sized to the run budget; the order-3 and order-5
    * twins add about 70 s a run and are left out. */
  val lmQueries: Seq[String] = Seq(
    "q_kn_append", "q_kn_bigram", "q_kn_delete", "q_kn_persisted", "q_kn_probed",
    "q_kn_score_holdout", "q_kn_trigram", "q_mkn_bigram", "q_ppl_buckets",
    "q_ppl_by_source").sorted

  def session(cpus: Int, runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Bench and BenchStream set this: cached per-job frames may change
      // their output partitioning under AQE.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Spark's local cores: all but one, which stays free for the JVM's own
    * threads (JIT, GC, listener bus, the stream's trigger loop): with every
    * core running tasks, run to run spread of the LM pass measured 11%
    * against 4.5% on 4 cores. */
  def cpus: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, traced, runDirArg, resultArg) = args
    require(workloads.contains(workload), s"unknown workload $workload; one of ${workloads.mkString(", ")}")
    val cfg = Config(workload, seed.toLong, seconds.toDouble, traced == "1", cpus)
    val runDir = Paths.get(runDirArg).toAbsolutePath
    val spark = session(cpus, runDir)
    Storage.install(spark.sparkContext)
    val out = try new Run(spark, cfg, runDir).run() finally spark.stop()
    Files.writeString(Paths.get(resultArg), out)
  }
}

/** One invocation: warm-up, set-ups, measured passes, checks, and (traced)
  * the layer passes. Returns the result JSON. */
class Run(spark: SparkSession, cfg: Config, runDir: Path) {
  import Main._
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  private var attempted = 0
  private var failed = 0
  private val notes = mutable.ArrayBuffer.empty[String]
  private val failedNames = mutable.ArrayBuffer.empty[String]

  private val ingest = cfg.workload == "ingest_review"

  /** Throwaway work so the measured pass does not pay the session's first
    * codegen and I/O: phase 1 of the ingest workload itself at a few rows
    * per file (phase 2 is left cold: warming it saved under a second of its
    * eight), or an LM query on a small corpus. Returns its seconds. */
  private def warmUp(): Double = {
    val t0 = System.nanoTime()
    val dir = runDir.resolve("warm")
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    if (ingest) {
      val w = new Ingest(spark, cfg.copy(seed = cfg.seed + 1000003L, backlogJobs = 2,
        backlogRows = 20, reviewRows = 300), dir, None)
      w.prepare()
      w.run(phases = 1)
    } else {
      Corpus.write(spark, dir.toString, cfg.seed + 1000003L, 40)
      graft.SparkEntry.queries("q_kn_bigram")(spark, dir.toString).collect()
    }
    rmTree(dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** One set-up of the workload's inputs in a fresh directory: the ingest
    * CSVs plus their jobs and seeded contacts in a new store, or the LM
    * corpus. Returns the directory and its seconds. */
  private def setUp(i: Int, trace: Option[Trace] = None): (Path, Option[Ingest], Double) = {
    val dir = runDir.resolve(s"setup$i")
    val t0 = System.nanoTime()
    Files.createDirectories(dir)
    val ing = if (ingest) {
      val g = new Ingest(spark, cfg, dir.resolve("ingest"), trace)
      g.prepare()
      Some(g)
    } else {
      Corpus.write(spark, dir.resolve("corpus").toString, cfg.seed, Config.LmDocs)
      None
    }
    (dir, ing, (System.nanoTime() - t0) / 1e9)
  }

  private def lmStoreDir(): Path = Paths.get(System.getProperty("java.io.tmpdir"))

  /** One measured pass; `perOp` is its seconds per job or per query,
    * `stored` the bytes its store holds (ingest) or its LM stores wrote,
    * read before the set-up's directory is deleted. */
  private case class Pass(ing: Option[Ingest], lm: Option[Lm], stored: Long, inputBytes: Long,
      wall: Double, perOp: Double, peakMb: Double)

  /** Runs the workload once on a prepared set-up and checks its outputs. */
  private def measure(dir: Path, prepared: Option[Ingest], trace: Option[Trace]): Pass = {
    Storage.reset(spark.sparkContext)
    val t0 = System.nanoTime()
    val pass = if (ingest) {
      val ing = prepared.get
      trace.map(_.span("workload")(ing.run())).getOrElse(ing.run())
      val wall = (System.nanoTime() - t0) / 1e9 - ing.keepS
      ing.checkFinal()
      Pass(Some(ing), None, ing.storeBytes, ing.inputBytes, wall,
        ing.drains.sum / math.max(1, ing.jobs.size), Storage.peakMb(spark.sparkContext))
    } else {
      val lm = new Lm(spark, dir.resolve("corpus"), trace)
      val before = lm.storeBytes(lmStoreDir())
      trace.map(_.span("workload")(lm.run(lmQueries))).getOrElse(lm.run(lmQueries))
      val wall = (System.nanoTime() - t0) / 1e9
      Pass(None, Some(lm), lm.storeBytes(lmStoreDir()) - before,
        Storage.dirBytes(dir.resolve("corpus").resolve("documents.parquet")), wall,
        lm.times.map(_._2).sum / math.max(1, lm.times.size), Storage.peakMb(spark.sparkContext))
    }
    pass.ing.foreach { ing =>
      attempted += ing.jobs.size
      failed += ing.failedJobs
      ing.failures.take(20).foreach { case (id, m) => notes += s"FAIL job $id: $m" }
    }
    pass.lm.foreach { lm =>
      attempted += lmQueries.size
      val bad = lm.errors.map(_._1).distinct
      failedNames ++= bad
      failed += bad.size
      lm.errors.foreach { case (n, m) => notes += s"FAIL $n: $m" }
    }
    pass
  }

  /** The end-to-end metrics of the untraced passes. */
  private def endToEnd(ps: Seq[Pass]): Unit = {
    val ings = ps.flatMap(_.ing)
    val lms = ps.flatMap(_.lm)
    if (ings.nonEmpty) {
      put("ops_per_min", ings.map(_.jobs.size).sum / (ings.map(_.drains.sum).sum / 60.0), "1/min")
      put("op_latency_s", median(ings.flatMap(_.latencies)), "s")
      put("rows_per_s", ings.map(_.rowsPhase1).sum / ings.map(_.secondsPhase1).sum, "1/s")
      put("pass_s", median(ings.map(_.reviewPassS)), "s")
    }
    if (lms.nonEmpty) {
      val ts = lms.flatMap(_.times.map(_._2))
      put("ops_per_min", ts.size / (ts.sum / 60.0), "1/min")
      put("op_latency_s", math.exp(ts.map(math.log).sum / ts.size), "s")
      put("rows_per_s", lms.map(_.resultRows).sum / ts.sum, "1/s")
      put("pass_s", median(lms.map(_.times.map(_._2).sum)), "s")
      lms.head.times.foreach { case (n, t) => notes += f"query $n $t%.3f s" }
    }
    put("store_bytes_per_input_byte", ps.map(_.stored).sum.toDouble / ps.map(_.inputBytes).sum, "ratio")
    put("peak_storage_mb", ps.map(_.peakMb).max, "MB")
  }

  /** The LM rows go to the oracle check, which the caller runs in DuckDB
    * for every query of the workload: one whose rows are missing fails it.
    * A query whose rows could not be written fails here too. */
  private def dumpForOracle(p: Pass): Unit = p.lm.foreach { lm =>
    lm.dump(runDir.resolve("results")).foreach { case (n, m) =>
      notes += s"FAIL $n: $m"
      if (!failedNames.contains(n)) { failedNames += n; failed += 1 }
    }
    Files.writeString(runDir.resolve("oracle_sql.json"), Json.obj(lmQueries.map(n =>
      n -> quote(graft.SparkEntry.oracleSql(n)))))
  }

  /** LM query → the LM layer whose work it mostly is (in sorted order,
    * `q_kn_delete` also absorbs the shared order-2 store build). */
  private val lmLayer: Map[String, String] = Map(
    "q_kn_persisted" -> "build", "q_kn_append" -> "maintain", "q_kn_delete" -> "maintain",
    "q_kn_probed" -> "serve", "q_kn_score_holdout" -> "holdout").withDefaultValue("inline")

  /** The traced run: the same inputs again in a fresh store with the
    * listeners and the timing store on, then one more untraced pass (which
    * keeps its reviewed tables), then direct calls into the ingest layers.
    * Emits every per-layer metric (0 where a layer does no work on this
    * workload) and the tracing overhead: the traced pass against the
    * untraced pass after it. Both come after the first pass, which is
    * still warming the JVM (it ran 10-25% slower than the passes after
    * it). */
  private def layers(): Unit = {
    val trace = new Trace(spark)
    val (dir, ing, _) = setUp(4, Some(trace))
    trace.install()
    val p = measure(dir, ing, Some(trace))
    trace.uninstall()
    val (dir2, ing2, _) = setUp(5)
    ing2.foreach(_.keepReviewed = true)
    val after = measure(dir2, ing2, None)
    val c = trace.countersSnapshot().withDefaultValue(0.0)
    def put0(k: String, unit: String): Unit = put(k, c(k), unit)

    Seq("stream.batches" -> "count", "stream.add_batch_s" -> "s", "stream.latest_offset_s" -> "s",
      "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s", "dispatch.waves" -> "count")
      .foreach { case (k, u) => put0(k, u) }
    put("dispatch.jobs_per_wave", if (c("dispatch.waves") > 0) c("dispatch.wave_jobs") / c("dispatch.waves") else 0, "count")
    put0("dispatch.tail_jobs", "count")
    put0("dispatch.wave_s", "s")
    Seq("io.load_calls" -> "count", "io.commit_all_calls" -> "count", "io.commit_all_s" -> "s",
      "io.overwrite_calls" -> "count", "io.overwrite_s" -> "s", "io.maintain_s" -> "s",
      "io.bytes_written" -> "bytes", "io.files_written" -> "count")
      .foreach { case (k, u) => put0(k, u) }
    val jobs = p.ing.map(_.jobs.size).getOrElse(0)
    put("io.jobs_rewrites_per_job", if (jobs > 0) c("io.jobs_rewrites") / jobs else 0, "count")

    val probe = after.ing.map(probeIngest).getOrElse(Map.empty[String, Double]).withDefaultValue(0.0)
    Seq("ingest.sniff_s" -> "s", "ingest.scan_s" -> "s", "ingest.bytes_read" -> "bytes",
      "ops.classify_s" -> "s", "ops.counters_s" -> "s", "ops.staging_rows" -> "count",
      "ops.issue_rows" -> "count").foreach { case (k, u) => put(k, probe(k), u) }

    Seq("spark.actions" -> "count", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count").foreach { case (k, u) => put0(k, u) }
    put("spark.empty_task_share", if (c("spark.tasks") > 0) c("spark.empty_tasks") / c("spark.tasks") else 0, "ratio")
    Seq("spark.sched_delay_s", "spark.plan_s", "spark.executor_run_s", "spark.executor_cpu_s",
      "spark.gc_s").foreach(put0(_, "s"))
    put("spark.core_busy_share", c("spark.executor_run_s") / (p.wall * cfg.cpus), "ratio")
    Seq("spark.input_bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.spill_bytes").foreach(put0(_, "bytes"))
    Seq("plan.exchanges", "plan.reused_exchanges", "plan.smj", "plan.bhj", "plan.file_scans",
      "plan.cache_scans").foreach(put0(_, "count"))

    val times = p.lm.map(_.times.toMap).getOrElse(Map.empty[String, Double]).withDefaultValue(0.0)
    lmQueries.foreach(q => put(s"query_s.$q", times(q), "s"))
    Seq("build", "maintain", "serve", "holdout", "inline").foreach { l =>
      put(s"lm.${l}_s", lmQueries.filter(lmLayer(_) == l).map(times).sum, "s")
    }
    val cached = spark.sparkContext.getRDDStorageInfo
    put("cache.storage_mb", cached.map(r => r.memSize + r.diskSize).sum / 1048576.0, "MB")
    put("cache.blocks_retained", cached.map(_.numCachedPartitions.toDouble).sum, "count")

    trace.selfTimes().foreach { case (lvl, v) => put(s"trace.self_s.$lvl", v, "s") }
    Seq("workload", "phase", "batch", "store", "sql", "job").foreach { l =>
      if (!metrics.contains(s"trace.self_s.$l")) put(s"trace.self_s.$l", 0, "s")
    }
    put("trace.untraced_s", after.wall, "s")
    put("trace.traced_s", p.wall, "s")
    put("trace.overhead_share", p.perOp / after.perOp - 1, "ratio")
    trace.writeSpans(runDir.getParent.getParent.resolve("traces")
      .resolve(s"${cfg.workload}-seed${cfg.seed}.json"))
  }

  /** Times the ingest layers by calling them directly on the pass's own
    * inputs, grouped as the dispatcher groups each drain: the first message
    * of each tenant joins the keyed wave, the rest run one at a time after
    * it.
    *  - Phase 1: `CsvSniffer.sniff` per file; the wave's
    *    `CsvSource.readWaveKeyed` and each tail file's `CsvSource.readWith`
    *    forced; then `Lifecycle.initialProcessKeyed` on the wave and
    *    `Lifecycle.initialProcess` per tail job, against empty prior state
    *    and the seeded contacts.
    *  - Phase 2, on the tables as the reviewer left them:
    *    `Lifecycle.reprocessKeyed` on the wave, `Lifecycle.reprocess` per
    *    tail job. A tail job sees the pre-wave contacts, where the drain
    *    shows it the wave's new ones.
    * Each flow's staging frame is forced (classify), then its counters. */
  private def probeIngest(ing: Ingest): Map[String, Double] = {
    import graft.ingest.{CsvSniffer, CsvSource}
    import graft.pipeline.Lifecycle
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def secs[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body; acc(key) += (System.nanoTime() - t0) / 1e9; r
    }
    def waveAndTail(js: Seq[Gen.Job]): (Seq[Gen.Job], Seq[Gen.Job]) = {
      val first = js.groupBy(_.tenant).values.map(_.head.jobId).toSet
      js.partition(j => first(j.jobId))
    }
    def users(js: Seq[Gen.Job]) = js.map(j => (j.jobId, j.tenant)).toDF("job_id", "job_user_id")
    def flow(build: => (DataFrame, DataFrame, () => Unit)): Array[org.apache.spark.sql.Row] = {
      val (_, counters, unpersist) = secs("ops.classify_s") {
        val r = build; r._1.queryExecution.toRdd.foreach(_ => ()); r
      }
      try secs("ops.counters_s")(counters.collect()) finally unpersist()
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val shapes = graft.stream.JobDispatch.tableShapes
    def empty(t: String) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shapes(t))
    def scanned(df: DataFrame): DataFrame = {
      secs("ingest.scan_s")(df.queryExecution.toRdd.foreach(_ => ())); df
    }

    val seeded = ing.seeded.toSeq.flatMap { case (t, es) => es.map(e => (-1L, t, e, "", "", "")) }
      .toDF(shapes("contacts").fieldNames.toIndexedSeq: _*)
    def contactsOf(c: DataFrame, tenants: Seq[String]) = c.filter(col("contacts_user_id").isin(tenants: _*))
    val (wave1, tail1) = waveAndTail(ing.jobs.toSeq)
    val files = secs("ingest.sniff_s")(wave1.map(j =>
      CsvSource.WaveFile(j.jobId, j.path, CsvSniffer.sniff(j.path, hconf), j.bytes)))
    val input = scanned(CsvSource.readWaveKeyed(spark, files))
    val counters1 = flow {
      val f = Lifecycle.initialProcessKeyed(input, users(wave1), empty("staging"), empty("issues"),
        empty("issue_items"), contactsOf(seeded, wave1.map(_.tenant)))
      (f.stagingPre, f.counters, () => f.unpersist())
    } ++ tail1.flatMap { j =>
      val sniff = secs("ingest.sniff_s")(CsvSniffer.sniff(j.path, hconf))
      val in = scanned(CsvSource.toContract(CsvSource.readWith(spark, j.path, sniff)))
      flow {
        val f = Lifecycle.initialProcess(in, j.jobId, j.tenant, empty("staging"), empty("issues"),
          empty("issue_items"), contactsOf(seeded, Seq(j.tenant)))
        (f.stagingPre, f.counters, () => f.unpersist())
      }
    }

    val r = ing.reviewed
    def of(t: String, c: String, js: Seq[Gen.Job]) = r(t).filter(col(c).isin(js.map(_.jobId): _*))
    val (wave2, tail2) = waveAndTail(ing.jobs.filter(_.dirty).toSeq)
    flow {
      val f = Lifecycle.reprocessKeyed(of("staging", "staging_job_id", wave2),
        of("issues", "issues_job_id", wave2), of("issue_items", "issues_job_id", wave2),
        contactsOf(r("contacts"), wave2.map(_.tenant)), users(wave2))
      (f.stagingPre, f.counters, () => f.unpersist())
    }
    tail2.foreach { j =>
      flow {
        val f = Lifecycle.reprocess(of("staging", "staging_job_id", Seq(j)),
          of("issues", "issues_job_id", Seq(j)), of("issue_items", "issues_job_id", Seq(j)),
          contactsOf(r("contacts"), Seq(j.tenant)), j.jobId, j.tenant)
        (f.stagingPre, f.counters, () => f.unpersist())
      }
    }

    acc.toMap ++ Map(
      "ingest.bytes_read" -> ing.jobs.map(_.bytes).sum.toDouble,
      "ops.staging_rows" -> counters1.map(_.getAs[Long]("total_rows")).sum.toDouble,
      "ops.issue_rows" -> counters1.map(_.getAs[Long]("issue_rows")).sum.toDouble)
  }

  def run(): String = {
    val warm = if (cfg.traced) 0.0 else warmUp()
    val setups = (1 to 3).map(setUp(_)).reverse
    val setupS = warm + median(setups.map(_._3))
    // Passes run on the prepared set-ups, newest first, until they have
    // taken `seconds` together (at least one pass, at most three).
    val passes = mutable.ArrayBuffer.empty[Pass]
    setups.foreach { case (dir, ing, _) =>
      if (passes.isEmpty || (!cfg.traced && passes.map(_.wall).sum < cfg.seconds))
        passes += measure(dir, ing, None)
      if (dir != setups.head._1) rmTree(dir)
    }
    dumpForOracle(passes.head)
    if (!cfg.traced) {
      put("setup_s", setupS, "s")
      endToEnd(passes.toSeq)
    } else layers()
    notes += f"set-up $setupS%.2f s (warm-up $warm%.2f s), passes ${passes.map(p => f"${p.wall}%.2f").mkString(" ")} s"
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> quote(u)))
      }),
      "notes" -> notes.map(quote).mkString("[", ",", "]"),
      "failed_names" -> failedNames.map(quote).mkString("[", ",", "]"),
      "corpus" -> quote(if (ingest) "" else setups.head._1.resolve("corpus").resolve("documents.parquet").toString)))
  }
}
