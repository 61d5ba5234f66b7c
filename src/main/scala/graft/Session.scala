package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import graft.catalyst.RangeJoinRewrite

/** The one session factory and the one query runner. Bench, Verify, Tools
  * and the test suite all build here, so the plans the bench times, Verify
  * dumps, the audit pins and the tests assert come from one configuration;
  * and every loop over the registered queries goes through [[run]], so
  * they share one watchdog, one job tagging and one cleanup path. A tool
  * that needs a different runtime setting sets it with `spark.conf.set` on
  * the session it gets back. */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    // double/0 is NULL on both the Spark and the DuckDB oracle side
    .config("spark.sql.ansi.enabled", "false")
    // events.parquet carries TIMESTAMP(NANOS); Q.events converts the long
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // AQE coalesces shuffle reads by BYTE size (1 MiB floor); the
    // per-group model kernels (beta-mixture EM, NB-GLM, hclust) are
    // heavy CPU over few bytes, and byte-based coalescing collapses
    // them to 1-7 tasks (measured: the 500-gene EM stage ran 7-wide,
    // ~5× the wall of the 32-wide plan). A smaller floor keeps
    // parallelismFirst effective for CPU-dense stages.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    // static conf, default 100: a full-registry session generates far
    // more codegen units than that, so re-runs were janino-recompiling
    // classes the first run had already built and evicted
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.ui.enabled", "false")
    // graft_* SQL functions and the opt-in range-join rewrite, installed
    // once at build time so no query has to touch session state
    .config("spark.sql.extensions",
      classOf[graft.catalyst.GraftExtensions].getName)
    .getOrCreate()

  /** Read each table once so the first query is not charged for the file
    * system cache or for the table's schema inference (see
    * [[graft.queries.Q.t]]); a missing table is skipped. */
  def warm(spark: SparkSession, dir: String, tables: Iterable[String]): Unit =
    tables.foreach { t =>
      try graft.queries.Q.t(spark, dir, t).count()
      catch { case _: Throwable => () }
    }

  /** Run one query: build it with `query` under the job group `name` and
    * job description `name|construct`, then apply `action` under
    * `name|exec`, so every job names its query and phase. With
    * `timeoutS > 0` a watchdog cancels the group at the deadline,
    * interrupting its tasks, and the run is a timeout error even if the
    * action then returns; one that finished first never is. Jobs from a
    * thread with its own job group (a streaming query's) are not
    * cancelled. Always ends with [[afterQuery]] and a cleared job group;
    * any failure, fatal ones included, is `Left(message)`. */
  def run[A](spark: SparkSession, name: String, timeoutS: Long = 0L)
      (query: => DataFrame)(action: DataFrame => A): Either[String, A] = {
    val sc = spark.sparkContext
    // the timer no-ops once `done` is set, so timedOut is true only if the
    // deadline preceded completion
    val done = new AtomicBoolean(false)
    val timedOut = new AtomicBoolean(false)
    val timer = Option.when(timeoutS > 0) {
      val t = new java.util.Timer(s"graft-watchdog-$name", true)
      t.schedule(new java.util.TimerTask {
        override def run(): Unit = if (!done.get()) {
          timedOut.set(true)
          sc.cancelJobGroup(name)
        }
      }, timeoutS * 1000L)
      t
    }
    val result: Either[String, A] = try {
      sc.setJobGroup(name, s"$name|construct", interruptOnCancel = true)
      val df = query
      sc.setJobDescription(s"$name|exec")
      Right(action(df))
    } catch { case e: Throwable =>
      Left(e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
    } finally {
      done.set(true)
      timer.foreach(_.cancel())
      sc.clearJobGroup()
      afterQuery(spark)
    }
    if (timedOut.get()) Left(s"timeout: cancelled after ${timeoutS}s")
    else result
  }

  /** Produce every row and column of `df` into the `noop` sink and return
    * the row count. Unlike `count()`, Catalyst can prune nothing: a rank
    * window whose output no count reads is dropped by `count()`, and its
    * shuffle with it. */
  def sink(df: DataFrame): Long = {
    val seen = Observation()
    df.observe(seen, org.apache.spark.sql.functions.count("*").as("rows"))
      .write.format("noop").mode("overwrite").save()
    seen.get("rows").asInstanceOf[Long]
  }

  /** Isolate a query from the next one: the one session knob a query
    * sets (q_range_join_auto's rewrite width) is unset so it cannot reach
    * later plans. No query fills the catalog cache; the checkpoint blocks
    * of its [[graft.ops.Materialize.barrier]]s are freed by Spark's
    * ContextCleaner once its frames are unreachable. [[run]] calls it
    * after every query. */
  private[graft] def afterQuery(spark: SparkSession): Unit =
    spark.conf.unset(RangeJoinRewrite.WidthKey)
}
