package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.storage.BlockId

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Peak block-manager storage held by cached and checkpointed RDD blocks
  * (memory plus disk), followed exactly through the block-update events the
  * block managers post, so no transient block is missed between samples.
  * Broadcast pieces are left out: their lifetime follows the garbage
  * collector. The peak counts only storage above what was held when the
  * pass started: blocks an earlier pass left cached do not count again. */
object Storage {
  private val sizes = mutable.Map.empty[BlockId, Long]
  private var current = 0L
  private var base = 0L
  private var peak = 0L

  private val listener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Storage.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val n = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        current += n - sizes.getOrElse(b.blockId, 0L)
        if (n == 0L) sizes.remove(b.blockId) else sizes(b.blockId) = n
        peak = math.max(peak, current)
      }
    }
  }

  def install(sc: SparkContext): Unit = sc.addSparkListener(listener)

  /** Starts a new peak from the storage held now. */
  def reset(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { base = current; peak = current }
  }

  def peakMb(sc: SparkContext): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val bytes: Long = synchronized { peak - base }
    bytes / 1048576.0
  }

  /** Bytes of every regular file under `p`. */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}
