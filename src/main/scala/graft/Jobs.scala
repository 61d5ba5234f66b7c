package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one job recorder: the Spark jobs a block of code launches, with the
  * group and `query|phase` description that [[Session.run]] and
  * [[graft.ops.Materialize.barrier]] give them. */
object Jobs {

  /** A job's group, description (`?` when it has none), start and end in
    * epoch ms (`end` is -1 until it ends), and the stages, tasks,
    * shuffle-write bytes and records of the stages it completed. */
  final case class Job(id: Int, group: Option[String], desc: String,
                       start: Long, end: Long = -1L, stages: Int = 0,
                       tasks: Int = 0, shuffleBytes: Long = 0L,
                       shuffleRecords: Long = 0L) {
    def seconds: Double = if (end > 0) (end - start) / 1000.0 else -1.0
  }

  /** Deliver every listener event posted so far; throws when the bus does
    * not empty within Spark's timeout, so no count read after it is a
    * partial one. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.Bus.drain(spark.sparkContext)

  /** Run `body` and return its value with the jobs it launched, in launch
    * order. Draining before the recorder is added keeps the queued events
    * of earlier jobs out; draining after `body` delivers its last job's
    * end. */
  def during[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val jobs = new ConcurrentHashMap[Int, Job]()
    // a completed stage is charged to the first job that submitted it; a
    // stage a later job reuses is skipped, never completes, and so adds
    // nothing to that job's stages, tasks or shuffle
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val recorder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        jobs.put(e.jobId, Job(e.jobId,
          Option(p.getProperty("spark.jobGroup.id")),
          p.getProperty("spark.job.description", "?"), e.time))
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val w = Option(s.taskMetrics).map(_.shuffleWriteMetrics)
        jobs.computeIfPresent(stageJob.getOrDefault(s.stageId, -1), (_, j) =>
          j.copy(stages = j.stages + 1, tasks = j.tasks + s.numTasks,
            shuffleBytes = j.shuffleBytes + w.fold(0L)(_.bytesWritten),
            shuffleRecords = j.shuffleRecords + w.fold(0L)(_.recordsWritten)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    }
    drain(spark)
    spark.sparkContext.addSparkListener(recorder)
    try {
      val a = body
      drain(spark)
      (a, jobs.values.asScala.toSeq.sortBy(_.id))
    } finally spark.sparkContext.removeSparkListener(recorder)
  }
}
