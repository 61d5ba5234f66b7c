package graft

import org.apache.spark.sql.SparkSession

/** Developer tools over the registered queries, one verb per tool, all on
  * the [[Session]] factory's session:
  *
  * {{{
  * runMain graft.Tools jobs    <sfDir> <query...>
  * runMain graft.Tools explain <sfDir> <outDir> <suffix> [query...]
  * runMain graft.Tools cg      <sfDir> [query...]
  * runMain graft.Tools audit   <sfDir> [--write P] [--diff P] [--expect P] [query...]
  * runMain graft.Tools scale   <srcDir> <outDir> [--copies N] [--tables a,b] [query...]
  * }}}
  *
  *  - `jobs`: per-job breakdown of a query (wall, stages, tasks, and the
  *    shuffle MB and records its stages wrote), after one warm run. The
  *    action is the `noop` sink, which produces every row and column; a
  *    `count()` would let Catalyst prune work (a rank window whose output
  *    no count reads is dropped, and its shuffle with it). A query whose
  *    time is spread over many ~100 ms jobs is floor-bound by job
  *    scheduling: the fix is fewer eager actions, not plan surgery.
  *  - `explain`: writes `.explain("formatted")` per query to
  *    `<outDir>/<query>_<suffix>.txt` (the plans/rNN before/after format).
  *  - `cg`: runs queries with `spark.sql.codegen.fallback=false`, so
  *    malformed generated Java fails instead of silently demoting the
  *    stage to interpreted eval (how the MassKeepExpr margin-strip bug
  *    hid). Run after any change to a `doGenCode` template.
  *  - `audit`: [[PlanAudit.audit]], the plan-shape and driver-collect gate.
  *  - `scale`: [[ScaleCheck.run]], the N× scale-up timing table.
  *
  * `cg` and `audit` exit 1 when they find a fault; a bad command line
  * (unknown verb or option, an option without a value, too few
  * arguments) exits 2. */
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
        true
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
                         var shuffleRecords: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // a completed stage's shuffle write is charged to the first job that
    // submitted it; skipped stages never complete and so add nothing
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, desc, e.time,
          stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum))
        order.add(e.jobId)
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val j = jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))
        val m = e.stageInfo.taskMetrics
        if (j != null && m != null) {
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        }
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.tEnd = e.time
      }
    }
    def sink(df: org.apache.spark.sql.DataFrame): Long = {
      val seen = org.apache.spark.sql.Observation()
      df.observe(seen, org.apache.spark.sql.functions.count("*").as("rows"))
        .write.format("noop").mode("overwrite").save()
      seen.get("rows").asInstanceOf[Long]
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      sink(fn(spark, sfDir)) // warm: JIT + codegen + FS cache
      Session.afterQuery(spark)
      jobs.clear(); order.clear(); stageJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = sink(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      PlanAudit.flushListenerBus(spark) // deliver the last JobEnd
      spark.sparkContext.removeSparkListener(listener)
      Session.afterQuery(spark)
      println(f"[jobs] $name rows=$n wall=${wall}%.2f s, ${jobs.size} jobs:")
      var covered = 0.0
      var shuffleBytes = 0L
      var shuffleRecords = 0L
      order.forEach { id =>
        val j = jobs.get(id)
        val dur = if (j.tEnd > 0) (j.tEnd - j.t0) / 1000.0 else -1.0
        covered += math.max(dur, 0)
        shuffleBytes += j.shuffleBytes
        shuffleRecords += j.shuffleRecords
        println(f"[jobs]   job ${j.id}%3d ${dur}%7.3f s " +
          f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d " +
          f"shuffle=${j.shuffleBytes / 1e6}%.3f MB/${j.shuffleRecords}%-7d " +
          j.desc.take(90))
      }
      println(f"[jobs]   sum-of-jobs ${covered}%.2f s " +
        f"(gaps = driver-side work/scheduling: ${wall - covered}%.2f s), " +
        f"shuffle write ${shuffleBytes / 1e6}%.3f MB, $shuffleRecords records")
    }
    true
  }

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
                      suffix: String, names: Seq[String]): Boolean = {
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Session.afterQuery(spark)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${n}_$suffix.txt")
    }
    true
  }

  private def cg(spark: SparkSession, sfDir: String,
                 only: Seq[String]): Boolean = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    var failed = 0
    names.foreach { n =>
      try {
        val c = SparkEntry.queries(n)(spark, sfDir).count()
        println(s"[cg] $n OK rows=$c")
      } catch { case e: Throwable =>
        failed += 1
        println(s"[cg] $n FAIL ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      } finally Session.afterQuery(spark)
    }
    println(s"[cg] failed=$failed")
    failed == 0
  }
}
