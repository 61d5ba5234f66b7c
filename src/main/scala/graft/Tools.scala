package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Developer tools over the registered queries, one verb per tool, all on
  * the [[Session]] factory's session and all running their queries
  * through [[Session.run]], so each job carries its `query|construct`,
  * `query|barrier:<name>` ([[graft.ops.Materialize.barrier]]) or
  * `query|exec` tag:
  *
  * {{{
  * runMain graft.Tools jobs    <sfDir> <query...>
  * runMain graft.Tools explain <sfDir> <outDir> <suffix> [query...]
  * runMain graft.Tools cg      <sfDir> [query...]
  * runMain graft.Tools audit   <sfDir> [--write P] [--diff P] [--expect P] [query...]
  * runMain graft.Tools scale   <srcDir> <outDir> [--copies N] [--tables a,b] [query...]
  * }}}
  *
  *  - `jobs`: per-job breakdown of a query (tag, wall, and the stages,
  *    tasks, shuffle MB and records its completed stages ran), after one
  *    warm run. Its summary line reads `construct jobs=N barrier jobs=B
  *    exec jobs=M`: a barrier's job counts as a barrier job, not as a
  *    construct job. A query whose time is spread over many ~100 ms jobs
  *    is floor-bound by job scheduling: the fix is fewer eager actions,
  *    not plan surgery.
  *  - `explain`: writes `.explain("formatted")` per query to
  *    `<outDir>/<query>_<suffix>.txt` (the plans/rNN before/after format).
  *  - `cg`: runs queries with `spark.sql.codegen.fallback=false`, so
  *    malformed generated Java fails instead of silently demoting the
  *    stage to interpreted eval (how the MassKeepExpr margin-strip bug
  *    hid). Run after any change to a `doGenCode` template.
  *  - `audit`: [[PlanAudit.audit]], the plan-shape and driver-collect gate.
  *  - `scale`: [[ScaleCheck.run]], the N× scale-up timing table.
  *
  * `jobs`, `cg` and `scale` produce every row and column into the
  * [[Session.sink]] (`noop`), so no output column is pruned away: `cg`
  * compiles every column's code, and `scale` times the whole result,
  * which makes its ratios incomparable with SCALING.md's older
  * `count()`-based ones. A verb exits 1 when a query fails or the audit
  * finds a fault; a bad command line (unknown verb or option, an option
  * without a value, too few arguments) exits 2. */
object Tools {
  private val Usage =
    "usage: graft.Tools <jobs|explain|cg|audit|scale> ... (see Tools.scala)"

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.getOrElse("")
    // each verb's option names and minimum positional count; an unknown
    // `--key` or a missing value is an error, so a mistyped `--diff`
    // cannot leave the audit silently running without its baseline
    val (allowed, minArgs) = verb match {
      case "jobs" | "cg" => (Set.empty[String], 1)
      case "explain" => (Set.empty[String], 3)
      case "audit" => (Set("write", "diff", "expect"), 1)
      case "scale" => (Set("copies", "tables"), 2)
      case _ => usage(s"unknown verb '$verb'")
    }
    val (opts, pos) = parse(args.toSeq.drop(1), allowed)
      .fold(e => usage(s"$verb: $e"), identity)
    if (pos.size < minArgs)
      usage(s"$verb: needs at least $minArgs positional argument(s)")
    val run: SparkSession => Boolean = verb match {
      case "jobs" => s => jobs(s, pos.head, pos.tail)
      case "explain" => s => explain(s, pos(0), pos(1), pos(2), pos.drop(3))
      case "cg" => s => cg(s, pos.head, pos.tail)
      case "audit" => s =>
        PlanAudit.audit(s, pos.head, pos.tail.toSet, opts.get("write"),
          opts.get("diff"), opts.get("expect")).clean
      case "scale" => s =>
        ScaleCheck.run(s, pos(0), pos(1),
          opts.get("copies").fold(10)(_.toInt),
          opts.get("tables").map(_.split(",").toSet), pos.drop(2))
    }
    // the PLANS.json pins were written at local[4]: Relational.spread
    // sizes its fan-out from defaultParallelism
    val spark = Session.local(if (verb == "audit") 4 else Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try run(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(msg)
    System.err.println(Usage)
    sys.exit(2)
  }

  /** Split `args` into `--key value` options, whose keys must be in
    * `allowed`, and the remaining positional arguments. */
  private[graft] def parse(args: Seq[String], allowed: Set[String])
      : Either[String, (Map[String, String], Seq[String])] = args match {
    case Seq(k, tail @ _*) if k.startsWith("--") =>
      if (!allowed(k.drop(2))) Left(s"unknown option $k")
      else tail match {
        case Seq(v, more @ _*) if !v.startsWith("--") =>
          parse(more, allowed).map { case (o, n) => (o + (k.drop(2) -> v), n) }
        case _ => Left(s"option $k needs a value")
      }
    case Seq(n, tail @ _*) =>
      parse(tail, allowed).map { case (o, ns) => (o, n +: ns) }
    case _ => Right((Map.empty, Seq.empty))
  }

  private def jobs(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Boolean = {
    final case class Job(id: Int, desc: String, t0: Long,
                         var tEnd: Long = -1L, var stages: Int = 0,
                         var tasks: Int = 0, var shuffleBytes: Long = 0L,
                         var shuffleRecords: Long = 0L) {
      def dur: Double = if (tEnd > 0) (tEnd - t0) / 1000.0 else -1.0
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    // a completed stage is charged to the first job that submitted it; a
    // stage a later job reuses is skipped, never completes, and so adds
    // nothing to that job's stages, tasks or shuffle
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // Session.run's `query|phase` tag, or `?` for an untagged job
        jobs.put(e.jobId, Job(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("?"), e.time))
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1)))
          .foreach { j =>
            j.stages += 1
            j.tasks += e.stageInfo.numTasks
            Option(e.stageInfo.taskMetrics).foreach { m =>
              j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
              j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            }
          }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.tEnd = e.time)
    }
    names.map { name =>
      val fn = SparkEntry.queries(name)
      // warm: JIT + codegen + FS cache
      Session.run(spark, name)(fn(spark, sfDir))(Session.sink)
      jobs.clear(); stageJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val r = Session.run(spark, name)(fn(spark, sfDir)) { df =>
        (Session.sink(df), (System.nanoTime() - t0) / 1e9)
      }
      PlanAudit.flushListenerBus(spark) // deliver the last JobEnd
      spark.sparkContext.removeSparkListener(listener)
      r.fold(m => { println(s"[jobs] $name FAIL $m"); false }, {
        case (n, wall) =>
          val js = jobs.values.asScala.toSeq.sortBy(_.id)
          def phase(p: String) = js.count(_.desc.startsWith(s"$name|$p"))
          println(f"[jobs] $name rows=$n wall=${wall}%.2f s, ${js.size} jobs, " +
            s"construct jobs=${phase("construct")} " +
            s"barrier jobs=${phase("barrier:")} exec jobs=${phase("exec")}:")
          js.foreach { j =>
            println(f"[jobs]   job ${j.id}%3d ${j.dur}%7.3f s " +
              f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d " +
              f"shuffle=${j.shuffleBytes / 1e6}%.3f MB/${j.shuffleRecords}%-7d " +
              j.desc)
          }
          val covered = js.map(j => math.max(j.dur, 0)).sum
          println(f"[jobs]   sum-of-jobs ${covered}%.2f s " +
            f"(gaps = driver-side work/scheduling: ${wall - covered}%.2f s), " +
            f"shuffle write ${js.map(_.shuffleBytes).sum / 1e6}%.3f MB, " +
            s"${js.map(_.shuffleRecords).sum} records")
          true
      })
    }.forall(identity)
  }

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
                      suffix: String, names: Seq[String]): Boolean = {
    new java.io.File(outDir).mkdirs()
    names.map { n =>
      Session.run(spark, n)(SparkEntry.queries(n)(spark, sfDir))(
        _.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      ).fold(m => { println(s"[explain] $n FAIL $m"); false }, { txt =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        println(s"[explain] wrote $outDir/${n}_$suffix.txt")
        true
      })
    }.forall(identity)
  }

  private def cg(spark: SparkSession, sfDir: String,
                 only: Seq[String]): Boolean = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    val failed = names.count { n =>
      Session.run(spark, n)(SparkEntry.queries(n)(spark, sfDir))(Session.sink)
        .fold(m => { println(s"[cg] $n FAIL ${m.take(300)}"); true },
          c => { println(s"[cg] $n OK rows=$c"); false })
    }
    println(s"[cg] failed=$failed")
    failed == 0
  }
}
