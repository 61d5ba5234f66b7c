package graft

import org.apache.spark.sql.SparkSession
import graft.catalyst.RangeJoinRewrite

/** The one session factory. Bench, Verify, Tools and the test suite all
  * build here, so the plans the bench times, Verify dumps, the audit pins
  * and the tests assert come from one configuration. A tool that needs a
  * different runtime setting sets it with `spark.conf.set` on the session
  * it gets back. */
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

  /** Isolate a query from the next one. Kernels that persist()
    * internally (ComBat, KNN impute) leave blocks pinned in storage
    * memory; 90+ queries of accumulation measurably inflated
    * late-alphabet timings (wcmodules benched 11.1 s polluted vs 2.5 s
    * isolated). A forced full GC costs more than it frees (checkpoint
    * blocks are small), so clearCache alone is the fix. The one session
    * knob a query sets (q_range_join_auto's rewrite width) is unset so it
    * cannot reach later plans. */
  def afterQuery(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.conf.unset(RangeJoinRewrite.WidthKey)
  }
}
