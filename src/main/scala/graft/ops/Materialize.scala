package graft.ops

import org.apache.spark.sql.DataFrame

/** The one way a kernel materializes a relation: to cut a driver loop's
  * lineage, or to compute once what several consumers read. */
object Materialize {

  /** Compute `df` now into local checkpoint blocks and return a frame over
    * them. Its job is tagged `<job group>|barrier:<name>` (`barrier:<name>`
    * outside a group), and the caller's description is restored after it.
    * Eager, so consumers that run concurrently read the blocks instead of
    * each computing the subtree. The blocks are not replicated: losing one
    * fails the query with Spark's checkpoint-block error, never with a
    * different answer. Spark's ContextCleaner frees them once the frame is
    * unreachable. */
  def barrier(df: DataFrame, name: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Option(sc.getLocalProperty("spark.jobGroup.id"))
      .fold(s"barrier:$name")(g => s"$g|barrier:$name"))
    try df.localCheckpoint(eager = true)
    finally sc.setJobDescription(prev)
  }
}
