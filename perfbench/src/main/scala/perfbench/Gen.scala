package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded input generator for the ingest workloads. It writes the contact
  * CSVs and returns, per job, what the engine must make of them. Every
  * expectation comes from what the generator itself injected; nothing here
  * calls engine code.
  *
  * Issue injection (exact counts per dirty job, seeded positions):
  *  - MISSING_REQUIRED_FIELD: one of the four fields left blank;
  *  - INVALID_EMAIL: an email without `@`;
  *  - DUPLICATE_EMAIL: a pair of rows whose emails differ only in case;
  *  - EXISTING_EMAIL: an email already in the tenant's seeded contacts.
  * Every other email is unique across the whole run, so no issue arises
  * by accident. The reviewer's decision for each flagged row (fix it with
  * a fresh email, or DISCARD it) is drawn here too, so the final contacts
  * of every tenant are known before the program runs.
  */
object Gen {
  /** One flagged row: its 1-based row number in the file (blank rows are
    * not numbered) and the reviewer's replacement email (None = DISCARD). */
  case class Flagged(rowNumber: Long, fix: Option[String])

  case class Job(
      jobId: Int, tenant: String, path: String, bytes: Long, rows: Int,
      issuesByType: Map[String, Int], issueRows: Int,
      flagged: Seq[Flagged], cleanEmails: Seq[String]) {
    def dirty: Boolean = issueRows > 0
    def finalEmails: Seq[String] = cleanEmails ++ flagged.flatMap(_.fix)
  }

  val Missing = "MISSING_REQUIRED_FIELD"
  val Invalid = "INVALID_EMAIL"
  val Duplicate = "DUPLICATE_EMAIL"
  val Existing = "EXISTING_EMAIL"

  private val firstNames = Array("Ann", "Bo", "Carla", "José", "Dmitri", "Élise", "Fatima",
    "Günter", "Hana", "Ivo", "Jüri", "Kai", "Lúcia", "Mats", "Noé", "Olga")
  private val lastNames = Array("Lee", "Møller", "Okafor", "Peña", "Quist", "Roß", "Silva",
    "Tanaka", "Urban", "Varga", "Weiß", "Xu", "Yilmaz", "Zoë")
  private val companies = Array("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay",
    "Stark", "Wayne", "Tyrell", "Cyberdyne")

  /** Seeded contacts of one tenant (lower-case, as the engine stores them). */
  def seededContacts(tenant: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$tenant.seed$i@contacts.example")

  /** Writes one job's CSV under `dir` and returns its expectations.
    *
    * @param dirty inject issues, and vary the file dialect (delimiter,
    *              encoding, trailing delimiters, blank rows) by `dialect`
    * @param seeded the tenant's seeded contact emails this job may reuse
    * @param dialect the dirty file's index: dialects cycle by position, not
    *              by seed, so every seed reads the same mix of scans
    */
  def job(rnd: java.util.Random, dir: Path, jobId: Int, tenant: String, rows: Int,
      dirty: Boolean, seeded: Seq[String], fixShare: Double, dialect: Int): Job = {
    val delim = if (dirty) Array(';', '\t', ',')(dialect % 3) else ','
    val latin1 = dirty && dialect % 2 == 0
    val trailing = dirty && dialect % 2 == 0
    val blankEvery = if (dirty) 700 else 0

    // Injected issue rows by position (0-based data row index).
    val kinds = mutable.Map.empty[Int, String]
    if (dirty) {
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until rows).toVector)
      var k = 0
      def take(kind: String, n: Int): Unit = (0 until n).foreach { _ =>
        kinds(order(k)) = kind; k += 1
      }
      take(Missing, rows / 50)
      take(Invalid, rows / 50)
      take(Existing, math.min(rows / 50, seeded.size))
      take(Duplicate, 2 * (rows / 100))
    }
    val dupRows = kinds.collect { case (i, Duplicate) => i }.toSeq.sorted
    val dupPartner = dupRows.grouped(2).flatMap { case Seq(a, b) => Seq(a -> (a, false), b -> (a, true)) }.toMap
    val existing = kinds.collect { case (i, Existing) => i }.toSeq.sorted.zip(seeded).toMap

    val sb = new StringBuilder
    val d = delim.toString
    val tail = if (trailing) d * 2 else ""
    sb.append(Seq("email", "first_name", "last_name", "company").mkString(d)).append(tail).append('\n')
    val clean = mutable.ArrayBuffer.empty[String]
    val flagged = mutable.ArrayBuffer.empty[Flagged]
    val issues = mutable.Map.empty[String, Int].withDefaultValue(0)
    var issueRows = 0
    (0 until rows).foreach { i =>
      if (blankEvery > 0 && i > 0 && i % blankEvery == 0) sb.append(d * 3).append(tail).append('\n')
      val rowNumber = i + 1L
      var email = s"$tenant.j$jobId.r$i@mail${i % 7}.example"
      // The first row carries accented names, so the sniffer sees them.
      var first = if (i == 0) "José" else firstNames(rnd.nextInt(firstNames.length))
      var last = if (i == 0) "Müller" else lastNames(rnd.nextInt(lastNames.length))
      var company = companies(rnd.nextInt(companies.length))
      kinds.get(i) match {
        case Some(Missing) =>
          rnd.nextInt(4) match {
            case 0 => email = ""
            case 1 => first = ""
            case 2 => last = ""
            case _ => company = ""
          }
        case Some(Invalid) => email = s"bad-email-$tenant-j$jobId-r$i"
        case Some(Duplicate) =>
          val (a, upper) = dupPartner(i)
          email = s"dup.$tenant.j$jobId.r$a@mail.example"
          if (upper) email = email.toUpperCase
        case Some(Existing) => email = existing(i)
        case _ =>
      }
      kinds.get(i) match {
        case Some(kind) =>
          issueRows += 1
          if (kind != Duplicate || !dupPartner(i)._2) issues(kind) += 1
          val fix = if (rnd.nextDouble() < fixShare) Some(s"fixed.$tenant.j$jobId.r$i@review.example") else None
          flagged += Flagged(rowNumber, fix)
        case None => clean += email
      }
      sb.append(Seq(email, first, last, company).mkString(d)).append(tail).append('\n')
    }
    val bytes = sb.toString.getBytes(if (latin1) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8)
    val path = dir.resolve(s"job$jobId.csv")
    Files.write(path, bytes)
    Job(jobId, tenant, path.toString, bytes.length.toLong, rows, issues.toMap, issueRows,
      flagged.toSeq, clean.toSeq)
  }
}
