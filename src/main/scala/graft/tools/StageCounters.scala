package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-pipeline-stage Spark task metrics for the scale tools. At 10M+
  * docs the honest scale story is WHERE the shuffle bytes and spill
  * land, not just wall seconds: every completed Spark stage adds its
  * shuffle write/read bytes, memory/disk spill and peak execution
  * memory to the label current when it completes. Events are async, so
  * a tool calls [[drain]] after each pipeline stage, before it reads the
  * counters or switches the label.
  */
final class StageCounters(sc: SparkContext) {
  private val byLabel =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  @volatile private var current = "init"

  sc.addSparkListener(new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val tm = e.stageInfo.taskMetrics
      if (tm != null) {
        val arr = byLabel.computeIfAbsent(current, _ => new Array[Long](5))
        arr.synchronized {
          arr(0) += tm.shuffleWriteMetrics.bytesWritten
          arr(1) += tm.shuffleReadMetrics.totalBytesRead
          arr(2) += tm.memoryBytesSpilled
          arr(3) += tm.diskBytesSpilled
          arr(4) = math.max(arr(4), tm.peakExecutionMemory)
        }
      }
    }
  })

  /** Attribute the Spark stages that complete from now on to `label`. */
  def begin(label: String): Unit = current = label

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.graftbridge.ListenerBridge.drain(sc)

  /** (shuffle write, shuffle read, memory spill, disk spill, peak
    * execution memory) bytes of `label`; zeros when it ran no stage.
    */
  def apply(label: String): Array[Long] =
    byLabel.getOrDefault(label, new Array[Long](5))

  /** `(shuf w/r <MB>/<MB> MB, spill mem/disk <MB>/<MB> MB)` of `label`. */
  def summary(label: String): String = {
    val m = apply(label)
    f"(shuf w/r ${m(0) / 1e6}%,.0f/${m(1) / 1e6}%,.0f MB, " +
      f"spill mem/disk ${m(2) / 1e6}%,.0f/${m(3) / 1e6}%,.0f MB)"
  }
}
