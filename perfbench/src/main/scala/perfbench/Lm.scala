package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The `analytics_lm` workload: Kneser-Ney, modified-KN and perplexity
  * queries of `SparkEntry.queries`, in sorted order, in one warmed session.
  * Their shared LM caches build lazily inside the first query that needs
  * them. The collected rows go to the DuckDB oracle check. */
class Lm(spark: SparkSession, corpusDir: Path, trace: Option[Trace]) {
  val times = mutable.ArrayBuffer.empty[(String, Double)]
  val errors = mutable.ArrayBuffer.empty[(String, String)]
  var resultRows = 0L

  private val results = mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.DataFrame, Array[org.apache.spark.sql.Row])]

  def run(names: Seq[String]): Unit = names.foreach { name =>
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      val (d, rows) = trace.map(_.span("query", Map("name" -> name))(force(fn))).getOrElse(force(fn))
      times += name -> (System.nanoTime() - t0) / 1e9
      results += ((name, d, rows))
      resultRows += rows.length
    } catch {
      case e: Throwable => errors += name -> String.valueOf(e.getMessage).take(300)
    }
  }

  /** Writes every timed query's rows to `<dir>/<name>/` parquet for the
    * oracle check (outside the timing); returns the queries whose rows
    * could not be written, with why. */
  def dump(dir: Path): Seq[(String, String)] = results.toSeq.flatMap { case (name, d, rows) =>
    try {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), d.schema)
        .coalesce(1).write.parquet(dir.resolve(name).toString)
      None
    } catch {
      case e: Throwable => Some(name -> s"dump: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** Builds the query and collects its rows: like `graft.Bench`'s
    * `queryExecution.toRdd.foreach`, collecting executes the whole physical
    * plan (no count()-style pruning), and it hands the checked rows over
    * from the very execution that was timed. */
  private def force(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame) = {
    val df = fn(spark, corpusDir.toString)
    (df, df.collect())
  }

  /** Bytes the queries' own LM stores wrote (they live under the JVM's
    * temporary directory, which the harness points into the run directory). */
  def storeBytes(tmp: Path): Long = {
    val s = Files.list(tmp)
    try s.filter(_.getFileName.toString.startsWith("graft_")).mapToLong(Storage.dirBytes(_)).sum()
    finally s.close()
  }
}
