package perfbench

import graft.JsonText.quote
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval. `level` orders the hierarchy
  * workload(0) > phase, round or query(1) > stream batch(2) > store call(3)
  * > SQL action(4) > Spark job(5); parents are assigned after the run by
  * interval containment, so spans recorded on other threads (the listener
  * bus, the stream thread, concurrent commit staging) still nest. */
case class Span(id: Int, name: String, level: Int, startNs: Long, var endNs: Long,
    attrs: Map[String, String], var parent: Int = -1)

/** In-memory span and counter recorder for the traced run. Listeners are
  * registered only by [[install]]; an untraced run never constructs one.
  * Everything is kept in memory and written once, when the run ends. */
class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 0
  /** Offset from epoch milliseconds (listener timestamps) to nanoTime. */
  private val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def levelOf(name: String): Int = name match {
    case "workload" => 0
    case n if n.startsWith("store.") => 3
    case n if n.startsWith("stream.") => 2
    case n if n.startsWith("sql.") => 4
    case n if n.startsWith("spark.") => 5
    case _ => 1
  }

  def open(name: String, attrs: Map[String, String] = Map.empty): Span = synchronized {
    nextId += 1
    val s = Span(nextId, name, levelOf(name), System.nanoTime(), -1L, attrs)
    spans += s
    s
  }
  def close(s: Span): Unit = synchronized { s.endNs = System.nanoTime() }
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val s = open(name, attrs)
    try body finally close(s)
  }
  /** A span known only after the fact (listener events carry epoch ms). */
  def record(name: String, startEpochMs: Long, endEpochMs: Long,
      attrs: Map[String, String] = Map.empty): Unit = synchronized {
    nextId += 1
    spans += Span(nextId, name, levelOf(name),
      startEpochMs * 1000000L + epochToNano, endEpochMs * 1000000L + epochToNano, attrs)
  }
  def count(k: String, by: Double = 1.0): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + by
  }

  // ---- store calls: io.* and the dispatch wave/tail attribution -----------
  private var waveStart = -1L

  def storeCall(op: String, table: String, frame: String, s: Span, jobs: Int): Unit = synchronized {
    val secs = (s.endNs - s.startNs) / 1e9
    op match {
      case "commit_all" =>
        count("io.commit_all_calls"); count("io.commit_all_s", secs)
        if (frame == "processWave") { count("dispatch.waves"); count("dispatch.wave_jobs", jobs) }
        if (frame == "processOne") count("dispatch.tail_jobs")
      case "overwrite" =>
        count("io.overwrite_calls"); count("io.overwrite_s", secs)
        if (table == "jobs") count("io.jobs_rewrites")
      case "maintain" => count("io.maintain_s", secs)
      case other => count(s"io.${other}_calls")
    }
    // A wave runs from its PROCESSING status write to its final jobs update:
    // the first and last jobs-table rewrites made under processWave.
    if (frame == "processWave" && table == "jobs" && op == "overwrite") {
      if (waveStart < 0) waveStart = s.startNs
      else if (s.attrs.get("caller").contains("updateJobs")) {
        count("dispatch.wave_s", (s.endNs - waveStart) / 1e9)
        waveStart = -1L
      }
    }
  }

  // ---- Spark listeners -----------------------------------------------------
  private val jobStarts = mutable.Map.empty[Int, Long]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = synchronized(jobStarts.remove(e.jobId)).getOrElse(e.time)
      count("spark.jobs")
      record("spark.job", start, e.time, Map("job" -> e.jobId.toString))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = count("spark.stages")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      count("spark.tasks")
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (records == 0) count("spark.empty_tasks")
      val info = e.taskInfo
      val overhead = m.executorDeserializeTime + m.resultSerializationTime + info.gettingResultTime
      count("spark.sched_delay_s", math.max(0L, info.duration - m.executorRunTime - overhead) / 1e3)
      count("spark.executor_run_s", m.executorRunTime / 1e3)
      count("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      count("spark.gc_s", m.jvmGCTime / 1e3)
      count("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      count("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      count("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.currentTimeMillis()
      record("sql.action", end - durationNs / 1000000L, end, Map("func" -> funcName))
      count("spark.actions")
      val phases = qe.tracker.phases
      count("spark.plan_s", phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3)
      Trace.nodes(qe.executedPlan).foreach {
        case _: ShuffleExchangeExec => count("plan.exchanges")
        case _: ReusedExchangeExec => count("plan.reused_exchanges")
        case _: SortMergeJoinExec => count("plan.smj")
        case _: BroadcastHashJoinExec => count("plan.bhj")
        case _: FileSourceScanExec => count("plan.file_scans")
        case _: InMemoryTableScanExec | _: RDDScanExec => count("plan.cache_scans")
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(v => count("io.files_written", v.value.toDouble))
          w.cmd.metrics.get("numOutputBytes").foreach(v => count("io.bytes_written", v.value.toDouble))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
  def uninstall(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  // ---- post-run analysis ---------------------------------------------------

  /** Assigns each span the innermost enclosing span one or more levels up. */
  private def link(): Unit = {
    val done = spans.filter(_.endNs >= 0).sortBy(s => (s.startNs, s.level))
    val open = mutable.ArrayBuffer.empty[Span]
    done.foreach { s =>
      s.parent = open.reverseIterator
        .find(p => p.level < s.level && p.startNs <= s.startNs && s.endNs <= p.endNs)
        .map(_.id).getOrElse(-1)
      open += s
    }
  }

  /** Self time per level: each span's duration minus the union of its
    * children's intervals, summed by level name. */
  def selfTimes(): Map[String, Double] = synchronized {
    link()
    val done = spans.filter(_.endNs >= 0)
    val kids = done.groupBy(_.parent)
    val names = Map(0 -> "workload", 1 -> "phase", 2 -> "batch", 3 -> "store", 4 -> "sql", 5 -> "job")
    done.groupBy(_.level).map { case (lvl, ss) =>
      names(lvl) -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs),
          math.min(c.endNs, s.endNs))).filter(i => i._2 > i._1).sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def countersSnapshot(): Map[String, Double] = synchronized(counters.toMap)

  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    link()
    val lines = spans.filter(_.endNs >= 0).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${quote(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Trace {
  /** Every physical node of an executed plan, through adaptive wrappers,
    * query stages, command wrappers and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def go(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case c: CommandResultExec => go(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(go)
      p.subqueries.foreach(go)
    }
    go(plan)
    out.toSeq
  }
}
