package perfbench

import graft.io.{ParquetTableStore, PartitionCommit, TableStore}
import graft.model.Schemas.{JobStatus, StagingStatus}
import graft.stream.JobDispatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The ingest workload, driven through the program's public surface:
  * messages are files on the `graft-queue` source, each drain is one
  * `JobDispatch.startQueue` under `Trigger.AvailableNow`, and the human
  * reviewer works through the `TableStore` API.
  *
  * [[prepare]] writes the inputs before the clock starts: a backlog of small
  * clean jobs (one tenant each) and a few large dirty jobs (2 to 4 per
  * tenant). Phase 1 drains them all: the clean jobs complete, the dirty ones
  * land in NEEDS_REVIEW. The reviewer then fixes or discards every flagged
  * row, the dirty jobs' messages are enqueued again, and phase 2 drains the
  * reprocess route to COMPLETED. */
class Ingest(spark: SparkSession, cfg: Config, root: Path, trace: Option[Trace]) {
  import spark.implicits._

  val base = new ParquetTableStore(spark, root.resolve("tables").toString)
  val store: TableStore = trace.map(t => new TimingStore(base, t)).getOrElse(base)
  private val queue = root.resolve("queue")
  private val dlq = root.resolve("dlq")
  private val uploads = root.resolve("uploads")
  Seq(queue, dlq, uploads).foreach(Files.createDirectories(_))

  val jobs = mutable.ArrayBuffer.empty[Gen.Job]
  val seeded = mutable.Map.empty[String, Seq[String]]
  val latencies = mutable.ArrayBuffer.empty[Double]
  /** Seconds of each drain: phase 1, then phase 2. */
  val drains = mutable.ArrayBuffer.empty[Double]
  /** Failed checks: the job they concern (0 = the run as a whole) and why. */
  val failures = mutable.ArrayBuffer.empty[(Int, String)]
  def rowsPhase1: Long = jobs.map(_.rows.toLong).sum
  /** When set, [[run]] keeps the dirty jobs' tables as the reviewer left
    * them in [[reviewed]], so the reprocess layers can be timed on that
    * data afterwards; [[keepS]] is the seconds this took inside the run. */
  var keepReviewed = false
  var reviewed: Map[String, DataFrame] = Map.empty
  var keepS = 0.0

  private val rnd = new java.util.Random(cfg.seed * 7919L + 17L)
  private var nextJob = 1
  private var nextTenant = 1
  private var nextMsg = 0

  /** Set-up: generates every CSV and registers the jobs (PENDING rows)
    * and the dirty tenants' seeded contacts in the store. */
  def prepare(): Unit = {
    (1 to cfg.backlogJobs).foreach { _ =>
      jobs += Gen.job(rnd, uploads, nextJob, s"t$nextTenant", cfg.backlogRows, dirty = false, Nil, 0, 0)
      nextJob += 1; nextTenant += 1
    }
    Config.ReviewTenants.foreach { perTenant =>
      val tenant = s"t$nextTenant"
      nextTenant += 1
      val share = cfg.reviewRows / 50
      val contacts = Gen.seededContacts(tenant, perTenant * share)
      seeded(tenant) = contacts
      contacts.grouped(share).foreach { mine =>
        jobs += Gen.job(rnd, uploads, nextJob, tenant, cfg.reviewRows, dirty = true, mine,
          Config.FixShare, jobs.count(_.dirty))
        nextJob += 1
      }
    }
    base.overwrite("jobs", jobs.toSeq.map(j => (j.jobId, j.tenant, JobStatus.Pending))
      .toDF("job_id", "job_user_id", "job_status"))
    base.append("contacts", seeded.toSeq.flatMap { case (t, es) => es.map(t -> _) }.zipWithIndex
      .map { case ((t, e), i) => (-1L - i, t, e, "Seed", "Contact", "Seeded") }
      .toDF("staging_id", "contacts_user_id", "contact_email", "contact_first_name",
        "contact_last_name", "contact_company"))
  }

  /** Writes one message per job (write, then rename) and returns each job's
    * enqueue time in epoch milliseconds. */
  private def enqueue(js: Seq[Gen.Job]): Map[Int, Long] = js.map { j =>
    nextMsg += 1
    val tmp = queue.resolve(f".m$nextMsg%08d.tmp")
    Files.writeString(tmp, s"""{"job_id": ${j.jobId}, "s3_key": "${j.path}"}""")
    Files.move(tmp, queue.resolve(f"m$nextMsg%08d"))
    j.jobId -> System.currentTimeMillis()
  }.toMap

  /** One AvailableNow drain of everything queued; returns its seconds. */
  private def drain(name: String): Double = {
    val t0 = System.nanoTime()
    val q = JobDispatch.startQueue(spark, store, queue.toString, root.resolve("cp").toString,
      identity, Trigger.AvailableNow(), 0, Map("deadLetterDir" -> dlq.toString))
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => failures += 0 -> s"$name: stream failed: ${e.getMessage}")
    trace.foreach { t =>
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        t.count("stream.batches")
        t.count("stream.add_batch_s", ms("addBatch") / 1e3)
        t.count("stream.latest_offset_s", ms("latestOffset") / 1e3)
        t.count("stream.wal_commit_s", ms("walCommit") / 1e3)
        t.count("stream.commit_offsets_s", ms("commitOffsets") / 1e3)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        t.record("stream.batch", start, start + ms("triggerExecution").toLong,
          Map("batch" -> p.batchId.toString))
      }
    }
    drains += secs
    secs
  }

  private def endTimes(ids: Seq[Int]): Map[Int, Long] =
    base.load("jobs").filter(col("job_id").isin(ids: _*) && col("job_process_end").isNotNull)
      .select("job_id", "job_process_end").collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1).getTime).toMap

  private def recordLatency(enq: Map[Int, Long]): Unit = {
    val ends = endTimes(enq.keys.toSeq)
    enq.foreach { case (id, t) => ends.get(id).foreach(e => latencies += (e - t) / 1e3) }
  }

  /** Seconds of phase 1 (the drain of every job). */
  def secondsPhase1: Double = drains.headOption.getOrElse(0.0)
  /** Seconds of phase 2 (the reprocess drain of the reviewed jobs). */
  def reviewPassS: Double = drains.lift(1).getOrElse(0.0)

  /** Runs phase 1, then (with `phases = 2`) the review and phase 2. */
  def run(phases: Int = 2): Unit = {
    def phase[T](name: String)(body: => T): T = trace.map(_.span(name)(body)).getOrElse(body)
    val dirty = jobs.filter(_.dirty).toSeq
    val enq1 = enqueue(jobs.toSeq)
    phase("phase1")(drain("phase1"))
    recordLatency(enq1.filter { case (id, _) => !dirty.exists(_.jobId == id) })
    checkPhase1(dirty)
    if (phases < 2) return
    phase("review")(review(dirty))
    if (keepReviewed) keep(dirty)
    val enq2 = enqueue(dirty)
    phase("phase2")(drain("phase2"))
    recordLatency(enq2)
  }

  /** The reviewer: every flagged row is fixed with its fresh email (blank
    * names filled in) or marked DISCARD, in one staging partition commit. */
  private def review(dirty: Seq[Gen.Job]): Unit = {
    val ids = dirty.map(_.jobId)
    val decisions = dirty.flatMap(j => j.flagged.map(f =>
      ((j.jobId.toLong << 40) + f.rowNumber, f.fix.getOrElse(""), f.fix.isDefined)))
      .toDF("d_id", "d_email", "d_fix")
    def filled(c: String) = when(col("d_fix") && trim(coalesce(col(c), lit(""))) === "", lit("Reviewed"))
      .otherwise(col(c))
    val staging = store.load("staging").filter(col("staging_job_id").isin(ids: _*))
    val edited = staging.join(broadcast(decisions), col("staging_id") === col("d_id"), "left")
      .withColumn("staging_status",
        when(col("d_fix") === false, lit(StagingStatus.Discard)).otherwise(col("staging_status")))
      .withColumn("staging_email", when(col("d_fix"), col("d_email")).otherwise(col("staging_email")))
      .withColumn("staging_first_name", filled("staging_first_name"))
      .withColumn("staging_last_name", filled("staging_last_name"))
      .withColumn("staging_company", filled("staging_company"))
      .select(staging.columns.map(col): _*)
    store.commitAll(Nil, Seq(PartitionCommit("staging", edited, "staging_job_id", ids.head, ids.tail)))
  }

  /** Copies the dirty jobs' staging, issues and issue links, and their
    * tenants' contacts, into driver-local frames: phase 2 rewrites the
    * store's files. */
  private def keep(dirty: Seq[Gen.Job]): Unit = {
    val t0 = System.nanoTime()
    val ids = dirty.map(_.jobId)
    val tenants = dirty.map(_.tenant).distinct
    def local(t: String, c: org.apache.spark.sql.Column): DataFrame = {
      val df = base.load(t).filter(c)
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }
    reviewed = Map(
      "staging" -> local("staging", col("staging_job_id").isin(ids: _*)),
      "issues" -> local("issues", col("issues_job_id").isin(ids: _*)),
      "issue_items" -> local("issue_items", col("issues_job_id").isin(ids: _*)),
      "contacts" -> local("contacts", col("contacts_user_id").isin(tenants: _*)))
    keepS = (System.nanoTime() - t0) / 1e9
  }

  private def fail(job: Gen.Job, what: String): Unit = failures += job.jobId -> what

  /** After phase 1: every dirty job is NEEDS_REVIEW with the generator's
    * row and issue counts, and its issues by type match the injection. */
  private def checkPhase1(dirty: Seq[Gen.Job]): Unit = {
    val ids = dirty.map(_.jobId)
    val rows = base.load("jobs").filter(col("job_id").isin(ids: _*)).collect()
      .map(r => r.getAs[Int]("job_id") -> r).toMap
    val issues = base.load("issues").filter(col("issues_job_id").isin(ids: _*))
      .groupBy("issues_job_id", "issue_type").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2).toInt).toMap
    dirty.foreach { j =>
      rows.get(j.jobId) match {
        case None => fail(j, "missing from jobs")
        case Some(r) =>
          if (r.getAs[String]("job_status") != JobStatus.NeedsReview)
            fail(j, s"phase 1 status ${r.getAs[String]("job_status")}")
          if (r.getAs[Long]("job_total_rows") != j.rows) fail(j, "phase 1 total rows")
          if (r.getAs[Long]("job_issue_count") != j.issuesByType.values.sum) fail(j, "phase 1 issue count")
      }
      val got = issues.collect { case ((id, t), n) if id == j.jobId => t -> n }
      if (got != j.issuesByType) fail(j, s"issues by type $got, expected ${j.issuesByType}")
    }
  }

  /** Final state: every job COMPLETED with its counters, issues all
    * resolved, contacts per tenant exactly as expected, queue and DLQ empty. */
  def checkFinal(): Unit = {
    val rows = base.load("jobs").collect().map(r => r.getAs[Int]("job_id") -> r).toMap
    jobs.foreach { j =>
      rows.get(j.jobId) match {
        case None => fail(j, "missing from jobs")
        case Some(r) =>
          if (r.getAs[String]("job_status") != JobStatus.Completed)
            fail(j, s"final status ${r.getAs[String]("job_status")}")
          if (r.getAs[Long]("job_total_rows") != j.rows || r.getAs[Long]("job_processed_rows") != j.rows)
            fail(j, "final row counters")
          if (r.getAs[Long]("job_issue_count") != 0L) fail(j, "final issue count")
      }
    }
    if (base.exists("issues")) {
      val open = base.load("issues").filter(!col("issue_resolved")).select("issues_job_id")
        .distinct().collect().map(_.getInt(0)).toSet
      jobs.filter(j => open(j.jobId)).foreach(fail(_, "unresolved issues"))
    }
    val got = base.load("contacts").groupBy("contacts_user_id")
      .agg(sort_array(collect_list("contact_email"))).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    jobs.groupBy(_.tenant).foreach { case (tenant, js) =>
      val want = (seeded.getOrElse(tenant, Nil) ++ js.flatMap(_.finalEmails)).sorted
      if (got.getOrElse(tenant, Nil) != want) js.foreach(fail(_, s"contacts of $tenant differ"))
    }
    def visible(p: Path): Long = {
      val s = Files.list(p)
      try s.filter(f => !f.getFileName.toString.startsWith(".")).count() finally s.close()
    }
    if (visible(queue) != 0) failures += 0 -> s"queue not empty: ${visible(queue)}"
    if (visible(dlq) != 0) failures += 0 -> s"dead-letter queue not empty: ${visible(dlq)}"
  }

  /** Jobs with a failed check, plus one for a failure of the run itself. */
  def failedJobs: Int = failures.map(_._1).distinct.size

  def storeBytes: Long = Storage.dirBytes(root.resolve("tables"))
  def inputBytes: Long = jobs.map(_.bytes).sum
}
