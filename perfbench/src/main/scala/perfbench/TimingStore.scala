package perfbench

import graft.io.{PartitionCommit, TableStore}
import org.apache.spark.sql.DataFrame

/** A [[TableStore]] that times every call into the store it wraps.
  *
  * Every method is overridden and delegated, including the ones the trait
  * gives default bodies (`commitAll`, `overwriteAll`,
  * `overwritePartitionsAll`, `createIfAbsent`, `drop`, `maintain`): the
  * defaults run the legacy sequential commit order, so inheriting one of
  * them would trace a different program than the untraced run executes.
  *
  * Each call opens a span under the innermost dispatch frame of the calling
  * thread (`processWave`, `processOne` or none), which is how the trace
  * attributes store work to waves and to the sequential tail without any
  * hook inside the program. `load` only builds a lazy plan, so it is
  * counted, not spanned.
  */
class TimingStore(inner: TableStore, trace: Trace) extends TableStore {

  private def timed[T](op: String, table: String, jobs: Int = 0)(body: => T): T = {
    val (frame, caller) = TimingStore.dispatchFrame()
    val span = trace.open(s"store.$op", Map("table" -> table, "frame" -> frame, "caller" -> caller))
    try body
    finally {
      trace.close(span)
      trace.storeCall(op, table, frame, span, jobs)
    }
  }

  override def load(table: String): DataFrame = {
    trace.count("io.load_calls")
    inner.load(table)
  }
  override def exists(table: String): Boolean = inner.exists(table)
  override def overwrite(table: String, df: DataFrame): Unit =
    timed("overwrite", table)(inner.overwrite(table, df))
  override def append(table: String, df: DataFrame): Unit =
    timed("append", table)(inner.append(table, df))
  override def overwriteAll(tables: Seq[(String, DataFrame)]): Unit =
    timed("overwrite_all", tables.map(_._1).mkString("+"))(inner.overwriteAll(tables))
  override def overwritePartitionsAll(commits: Seq[PartitionCommit]): Unit =
    timed("overwrite_partitions_all", commits.map(_.table).mkString("+"),
      commits.headOption.map(_.values.size).getOrElse(0))(inner.overwritePartitionsAll(commits))
  override def commitAll(
      appends: Seq[(String, DataFrame)],
      partitions: Seq[PartitionCommit] = Nil,
      overwrites: Seq[(String, DataFrame)] = Nil): Unit =
    timed("commit_all", (appends.map(_._1) ++ partitions.map(_.table) ++ overwrites.map(_._1))
      .mkString("+"), partitions.headOption.map(_.values.size).getOrElse(0))(
      inner.commitAll(appends, partitions, overwrites))
  override def createIfAbsent(table: String, df: DataFrame): Boolean =
    timed("create_if_absent", table)(inner.createIfAbsent(table, df))
  override def drop(table: String): Unit = timed("drop", table)(inner.drop(table))
  override def maintain(tables: Seq[String]): Unit =
    timed("maintain", tables.mkString("+"))(inner.maintain(tables))
}

object TimingStore {
  private val frames = Seq("processWave", "processOne")

  /** The innermost dispatch frame (`processWave`, `processOne` or `none`)
    * on the current thread's stack, and the JobDispatch method that made
    * the store call. */
  def dispatchFrame(): (String, String) = {
    val methods = Thread.currentThread.getStackTrace.toSeq
      .filter(_.getClassName.startsWith("graft.stream.JobDispatch"))
      .map(_.getMethodName.split("\\$").last)
    val frame = methods.flatMap(m => frames.find(m == _)).headOption.getOrElse("none")
    (frame, methods.headOption.getOrElse("none"))
  }
}
