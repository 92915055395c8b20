package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

final case class Span(
    id: Int, name: String, parent: Int, op: Int, start: Double, end: Double)

/** Span recorder for the traced run. One client thread opens and closes
  * spans, so a plain stack is enough. Times are epoch milliseconds with
  * sub-millisecond resolution (a nanoTime offset from one epoch anchor),
  * on the same clock as the listener's event timestamps.
  */
final class Spans {
  private val anchorNanos = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNanos) / 1e6

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Double)] = Nil
  private var nextId = 0
  @volatile var recording = false
  var currentOp = -1

  /** Runs `body` inside a span named `name`. When not recording, only
    * the body runs.
    */
  def apply[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, nowMs) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, parent, currentOp, start, nowMs)
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** Listener that keeps the raw job, stage, task and cached-block events
  * it receives. Attribution to spans happens afterwards by time window,
  * so the listener itself does no bookkeeping beyond appending rows.
  * It is attached only for the traced rounds and drained before it is
  * removed, so no event of a traced op is lost to delivery delay. Cached
  * bytes count the RDD blocks cached since the last `startRound`.
  */
final class EventLog extends SparkListener {

  // jobId, submit ms, end ms
  val jobs = ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  // stageId, submit ms, completion ms, tasks
  val stages = ArrayBuffer.empty[(Int, Long, Long, Int)]
  // launch ms, finish ms, run ms, input B, output B, shuffle read B,
  // shuffle write B, disk spill B
  val tasks = ArrayBuffer.empty[Array[Long]]
  // receipt ms, total bytes of cached RDD blocks after the update
  val blocks = ArrayBuffer.empty[(Long, Long)]
  private val blockBytes = scala.collection.mutable.Map.empty[String, Long]
  private var cachedBytes = 0L

  /** Restarts the cached-bytes count: blocks cached while the listener
    * was detached are unknown to it.
    */
  def startRound(): Unit = synchronized {
    blockBytes.clear()
    cachedBytes = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      i.submissionTime.foreach { s =>
        stages += ((i.stageId, s, i.completionTime.getOrElse(s), i.numTasks))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Array(
      e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case id: RDDBlockId =>
          val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
          cachedBytes += size - blockBytes.getOrElse(id.name, 0L)
          if (size == 0L) blockBytes.remove(id.name)
          else blockBytes(id.name) = size
          blocks += ((System.currentTimeMillis(), cachedBytes))
        case _ =>
      }
    }
}
