package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Engine counters for one tag. A tag is the value of the [[Recorder.Tag]]
  * local property when a job starts: `pass|query|phase` in the harness. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var rowsWritten = 0L
  /** (start, end) epoch millis of each finished job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; gcMs += o.gcMs; rowsWritten += o.rowsWritten
    jobSpans ++= o.jobSpans
  }
}

/** Counts jobs, stages, tasks, task metrics and cached-block bytes, keyed by
  * the tag the submitting thread carried. Everything is read only after
  * [[org.apache.spark.perfbench.Bus.drain]]. */
final class Recorder extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storedNow = 0L
  private var storedPeak = 0L

  private def at(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Tag)))
      .getOrElse(Recorder.Untagged)
    at(tag).jobs += 1
    jobStart(e.jobId) = (tag, e.time)
    e.stageIds.foreach(s => stageTag(s) = tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (tag, t0) => at(tag).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageTag.getOrElse(e.stageInfo.stageId, Recorder.Untagged)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = at(stageTag.getOrElse(e.stageId, Recorder.Untagged))
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Cached and checkpointed RDD blocks: memory plus disk bytes held. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storedNow += size - blockBytes.getOrElse(id, 0L)
      if (size == 0L) blockBytes.remove(id) else blockBytes(id) = size
      storedPeak = math.max(storedPeak, storedNow)
    }
  }

  /** Start a new peak window at the bytes held now. */
  def resetPeak(): Unit = synchronized { storedPeak = storedNow }
  def peakStored: Long = synchronized { storedPeak }

  /** Sum of the counters of every tag that satisfies `p`. */
  def sum(p: String => Boolean): Counters = synchronized {
    val out = new Counters
    byTag.foreach { case (tag, c) => if (p(tag)) out += c }
    out
  }
}

object Recorder {
  val Tag = "perfbench.tag"
  val Untagged = "untagged"
}
