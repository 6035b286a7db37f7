package perfbench

import org.apache.spark.sql.types.TimestampType

import java.nio.file.Paths

/** Benchmark test: the traced run must execute the same program as the
  * untraced one. Runs `ingest_review` on one seed untraced, then
  * traced (listeners on, every store call through [[TimingStore]]), each in
  * its own store, and exits non-zero unless both pass their checks and
  * leave identical tables (timestamp columns aside).
  *
  * Usage: perfbench.SelfTest <seed> <runDir> */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(seed, runDirArg) = args
    val runDir = Paths.get(runDirArg).toAbsolutePath
    val cpus = Main.cpus
    val spark = Main.session(cpus, runDir)
    val ok = try {
      val cfg = Config("ingest_review", seed.toLong, 8, traced = false, cpus)
      def pass(name: String, trace: Option[Trace]): Ingest = {
        val ing = new Ingest(spark, cfg, runDir.resolve(name), trace)
        ing.prepare()
        trace.foreach(_.install())
        ing.run()
        trace.foreach(_.uninstall())
        ing.checkFinal()
        ing.failures.foreach { case (id, m) => println(s"$name: job $id: $m") }
        ing
      }
      val a = pass("untraced", None)
      val b = pass("traced", Some(new Trace(spark)))
      val same = Seq("jobs", "staging", "issues", "issue_items", "contacts").map { t =>
        def rows(i: Ingest) = {
          val df = i.base.load(t)
          df.drop(df.schema.fields.collect { case f if f.dataType == TimestampType => f.name }.toIndexedSeq: _*)
            .collect().map(_.toString).sorted.toSeq
        }
        val (ra, rb) = (rows(a), rows(b))
        val eq = ra == rb
        println(s"table $t: ${ra.size} rows untraced, ${rb.size} traced, ${if (eq) "identical" else "DIFFERENT"}")
        eq
      }
      same.forall(identity) && a.failures.isEmpty && b.failures.isEmpty
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }
}
