package perfbench

import java.io.File
import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.perfbench.Bus

/** Runs one workload's fixed query list from `graft.SparkEntry.queries` in a
  * closed loop, one query at a time, and times the production of each whole
  * result with Spark's `noop` sink.
  *
  * Usage: `Harness <config.json>`; perfbench/run.py writes the config and
  * reads back `<out>/harness.json`. Passes: one cold pass, `warmup` untimed
  * passes, then timed passes until `seconds` have elapsed (at least
  * `min_passes`). With `trace` on, each query is split into construction
  * (`fn(spark, dir)`), planning (`queryExecution.executedPlan`) and the sink
  * action, and the graft.catalyst kernels are timed and checked. */
object Harness {
  final case class QueryRun(name: String, module: String, error: Option[String],
                            constructS: Double, planS: Double, execS: Double,
                            startMs: Long, endMs: Long, rows: Long) {
    def wallS: Double = constructS + planS + execS
  }
  final case class PassRun(index: Int, wallS: Double, queries: Seq[QueryRun],
                           peakStored: Long)

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val launchNs = cfg.get("launch_ns").asLong
    val data = cfg.get("data").asText
    val out = cfg.get("out").asText
    val cores = cfg.get("cores").asInt
    val trace = cfg.get("trace").asBoolean
    val seconds = cfg.get("seconds").asDouble
    val warmup = cfg.get("warmup").asInt
    val minPasses = cfg.get("min_passes").asInt
    val seed = cfg.get("seed").asLong
    val queries = cfg.get("queries").elements.asScala.map { n =>
      (n.get(0).asText, n.get(1).asText)
    }.toSeq
    val registry = graft.SparkEntry.queries
    val unknown = queries.map(_._1).filterNot(registry.contains)
    require(unknown.isEmpty, s"not in graft.SparkEntry.queries: ${unknown.mkString(", ")}")

    System.setProperty("derby.system.home", s"$out/derby")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // graft.Verify's session: ANSI off, UTC, nanos-as-long parquet
      // timestamps and the 64k coalescing floor
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // graft.Bench's codegen cache size
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    // once, before the first query: q_range_join_auto registers the
    // extensions from inside its fn, which would otherwise make the
    // optimizer depend on query order
    graft.catalyst.GraftExtensions.register(spark)
    val rec = new Recorder
    sc.addSparkListener(rec)
    val setupS = (epochNanos() - launchNs) / 1e9

    def cleanup(): Unit = {
      // graft.Bench's isolation: drop kernels' internal persists and the
      // session knob q_range_join_auto sets
      spark.catalog.clearCache()
      try spark.conf.unset(graft.catalyst.RangeJoinRewrite.WidthKey)
      catch { case _: Throwable => () }
    }

    val resultsDir = s"$out/results"

    /** One query: `fn` (construction), optional planning, then the sink.
      * The noop sink counts the rows it consumed through an observation;
      * the parquet sink writes the result for the oracle check. */
    def runQuery(pass: Int, name: String, module: String, dump: Boolean): QueryRun = {
      val tag = s"$pass|$name|"
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0; var t2 = t0; var t3 = t0
      var rows = -1L
      val error = try {
        sc.setLocalProperty(Recorder.Tag, tag + "construct")
        val df = registry(name)(spark, data)
        t1 = System.nanoTime(); t2 = t1
        if (trace) {
          sc.setLocalProperty(Recorder.Tag, tag + "plan")
          df.queryExecution.executedPlan
          t2 = System.nanoTime()
        }
        sc.setLocalProperty(Recorder.Tag, tag + "exec")
        val seen = Observation(s"rows_${name}_$pass")
        if (dump) df.write.mode("overwrite").parquet(s"$resultsDir/$name")
        else df.observe(seen, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        t3 = System.nanoTime()
        if (!dump) rows = seen.get("rows").asInstanceOf[Long]
        None
      } catch {
        case e: Throwable =>
          t3 = System.nanoTime()
          Some(e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("").take(300))
      } finally {
        sc.setLocalProperty(Recorder.Tag, null)
      }
      val endMs = System.currentTimeMillis()
      cleanup()
      QueryRun(name, module, error, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9, startMs, endMs, rows)
    }

    def runPass(index: Int, dump: Boolean = false): PassRun = {
      Bus.drain(sc)
      rec.resetPeak()
      val t0 = System.nanoTime()
      val runs = queries.map { case (n, m) => runQuery(index, n, m, dump) }
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] pass $index: $wall%.3f s")
      Bus.drain(sc)
      PassRun(index, wall, runs, rec.peakStored)
    }

    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles0 = codegen.getCount
    val cold = runPass(0)
    val coldCompiles = codegen.getCount - compiles0
    val coldCompileS = coldCompiles * codegen.getSnapshot.getMean / 1000.0
    // the first warm-up pass writes every result as parquet for the
    // oracle check; it is untimed, so its sink does not matter
    val warm = (1 to warmup).map(i => runPass(i, dump = i == 1))
    val timed = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[PassRun]
      val t0 = System.nanoTime()
      while (buf.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
        buf += runPass(warmup + 1 + buf.size)
      buf.toSeq
    }
    val executed = (cold +: warm) ++ timed
    val attempted = executed.map(_.queries.size).sum
    val failures = executed.flatMap(_.queries).collect { case q if q.error.isDefined => q.name -> q.error.get }

    def passSum(p: PassRun, phase: Option[String], names: Set[String]): Counters =
      rec.sum { tag =>
        val parts = tag.split('|')
        parts.length == 3 && parts(0) == p.index.toString && names.contains(parts(1)) &&
          phase.forall(_ == parts(2))
      }
    val allNames = queries.map(_._1).toSet

    // the row count each query's last timed sink wrote, for the oracle check
    val rowsTimed = timed.last.queries.map(q => q.name -> q.rows)

    val oracle = graft.SparkEntry.oracleSql
    val oracleJson = Json.obj(queries.collect { case (n, _) if oracle.contains(n) =>
      n -> Json.str(oracle(n).replace("__VERIFY_OUT__",
        Paths.get(resultsDir).toAbsolutePath.toString))
    }: _*)

    def med(f: PassRun => Double): Double = Stats.median(timed.map(f))
    val layer: Seq[(String, Double)] =
      if (!trace) Seq.empty
      else {
        val perModule = queries.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (m, qs) =>
          val names = qs.map(_._1).toSet
          def runs(p: PassRun) = p.queries.filter(q => names.contains(q.name))
          Seq(
            s"$m.construct_s" -> med(p => runs(p).map(_.constructS).sum),
            s"$m.plan_s" -> med(p => runs(p).map(_.planS).sum),
            s"$m.exec_s" -> med(p => runs(p).map(_.execS).sum),
            s"$m.jobs" -> med(p => passSum(p, None, names).jobs.toDouble),
            s"$m.shuffle_mb" -> med(p => passSum(p, None, names).shuffleWrite / 1e6),
            s"$m.task_cpu_s" -> med(p => passSum(p, None, names).cpuNs / 1e9))
        }
        val engine = Seq(
          "spark.construct_jobs" -> med(p => passSum(p, Some("construct"), allNames).jobs.toDouble),
          "spark.stages" -> med(p => passSum(p, None, allNames).stages.toDouble),
          "spark.tasks" -> med(p => passSum(p, None, allNames).tasks.toDouble),
          "spark.driver_gap_s" -> med(p => p.queries.map { q =>
            val spans = passSum(p, None, Set(q.name)).jobSpans.toSeq
            math.max(0.0, (q.endMs - q.startMs) - Stats.covered(spans, q.startMs, q.endMs)) / 1e3
          }.sum),
          "spark.gc_s" -> med(p => passSum(p, None, allNames).gcMs / 1e3),
          "spark.shuffle_read_mb" -> med(p => passSum(p, None, allNames).shuffleRead / 1e6),
          "spark.spill_mb" -> med(p => passSum(p, None, allNames).spill / 1e6),
          "spark.peak_storage_mb" -> med(_.peakStored / 1e6),
          "spark.codegen_compile_s" -> coldCompileS,
          "spark.cold_plan_s" -> cold.queries.map(_.planS).sum)
        perModule ++ engine
      }

    val (kernelRates, kernelChecks) =
      if (trace) Kernels.run(spark, data, seed) else (Seq.empty, Seq.empty)
    spark.stop()
    val calibS = Stats.median((1 to 3).map(_ => Stats.calibrate()))

    def passJson(p: PassRun): JsonNode = {
      val c = passSum(p, None, allNames)
      Json.obj(
        "index" -> Json.num(p.index),
        "wall_s" -> Json.num(p.wallS),
        "task_cpu_s" -> Json.num(c.cpuNs / 1e9),
        "shuffle_mb" -> Json.num(c.shuffleWrite / 1e6),
        "jobs" -> Json.num(c.jobs),
        "failed" -> Json.num(p.queries.count(_.error.isDefined)),
        "queries" -> Json.obj(p.queries.map { q =>
          val qc = passSum(p, None, Set(q.name))
          q.name -> Json.obj("wall_s" -> Json.num(q.wallS), "jobs" -> Json.num(qc.jobs),
            "shuffle_mb" -> Json.num(qc.shuffleWrite / 1e6), "task_cpu_s" -> Json.num(qc.cpuNs / 1e9))
        }: _*))
    }
    val json = Json.obj(
      "setup_s" -> Json.num(setupS),
      "cores" -> Json.num(cores),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failures.size),
      "errors" -> Json.obj(failures.distinct.map { case (k, v) => k -> Json.str(v) }: _*),
      "cold" -> passJson(cold),
      "warm" -> Json.arr(warm.map(passJson)),
      "timed" -> Json.arr(timed.map(passJson)),
      "rows_timed" -> Json.obj(rowsTimed.map { case (k, v) => k -> Json.num(v) }: _*),
      "oracle_sql" -> oracleJson,
      "layer" -> Json.obj((layer ++ kernelRates :+ ("host.calib_s" -> calibS))
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "kernel_checks" -> Json.obj(kernelChecks.map { case (k, v) => k -> Json.str(v) }: _*))
    new ObjectMapper().writeValue(new File(s"$out/harness.json"), json)
  }

  private def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }
}

/** Jackson tree builders for harness.json; a non-finite number is null. */
object Json {
  private val f = JsonNodeFactory.instance
  def str(s: String): JsonNode = f.textNode(s)
  def num(l: Long): JsonNode = f.numberNode(l)
  def num(d: Double): JsonNode = if (d.isNaN || d.isInfinite) f.nullNode else f.numberNode(d)
  def arr(vs: Seq[JsonNode]): JsonNode = f.arrayNode().addAll(vs.asJava)
  def obj(kv: (String, JsonNode)*): ObjectNode = {
    val n = f.objectNode()
    kv.foreach { case (k, v) => n.set[JsonNode](k, v) }
    n
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Milliseconds of [lo, hi] covered by the union of `spans`. */
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  @volatile private var sink = 0.0

  /** A fixed pure-JVM loop (xorshift plus floating point) that tells a slow
    * host apart from a slow program. Seconds. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0.0
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += (x & 0xffff).toDouble * 1e-5
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }
}
