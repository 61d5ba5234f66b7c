package graft

import org.apache.spark.sql.SparkSession

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
  *  - `jobs`: per-job breakdown of a query as [[Jobs.during]] records it
  *    (tag, wall, and the stages, tasks, shuffle MB and records its
  *    completed stages ran), after one warm run. Its summary line reads
  *    `construct jobs=N barrier jobs=B exec jobs=M`: a barrier's job
  *    counts as a barrier job, not as a construct job. A query whose
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
  * `jobs`, `cg` and `scale` produce every row and column into the
  * [[Session.sink]] (`noop`), so no output column is pruned away: `cg`
  * compiles every column's code, and `scale` times the whole result,
  * which makes its ratios incomparable with SCALING.md's older
  * `count()`-based ones. A verb exits 1 when a query fails or the audit
  * finds a fault; a bad command line (unknown verb, option, query name or
  * `--tables` table, an option without a value, a `--copies` that is not
  * a positive integer, too few arguments) exits 2 before any session is
  * built. */
object Tools {
  private val Usage =
    "usage: graft.Tools <jobs|explain|cg|audit|scale> ... (see Tools.scala)"

  /** A verb's option names, positionals before its query names, fewest
    * positionals, and body. */
  private final case class Verb(opts: Set[String], lead: Int, min: Int,
      run: (SparkSession, Map[String, String], Seq[String]) => Boolean)

  private val Verbs = Map(
    "jobs" -> Verb(Set(), 1, 2, (s, _, p) => jobs(s, p.head, p.tail)),
    "explain" -> Verb(Set(), 3, 3,
      (s, _, p) => explain(s, p(0), p(1), p(2), p.drop(3))),
    "cg" -> Verb(Set(), 1, 1, (s, _, p) => cg(s, p.head, p.tail)),
    "audit" -> Verb(Set("write", "diff", "expect"), 1, 1, (s, o, p) =>
      PlanAudit.audit(s, p.head, p.tail.toSet, o.get("write"), o.get("diff"),
        o.get("expect")).clean),
    "scale" -> Verb(Set("copies", "tables"), 2, 2, (s, o, p) =>
      ScaleCheck.run(s, p(0), p(1), o.get("copies").fold(10)(_.toInt),
        o.get("tables").map(_.split(",").toSet), p.drop(2))))

  def main(args: Array[String]): Unit = {
    val (verb, opts, pos) = command(args.toSeq).fold(usage, identity)
    // the PLANS.json pins were written at local[4]: Relational.spread
    // sizes its fan-out from defaultParallelism
    val spark = Session.local(if (verb == "audit") 4 else Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try Verbs(verb).run(spark, opts, pos) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(msg)
    System.err.println(Usage)
    sys.exit(2)
  }

  /** Split `args` into `--key value` options, whose keys must be in
    * `allowed`, and the remaining positional arguments. */
  private def parse(args: Seq[String], allowed: Set[String])
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

  /** Check a whole command line before any session is built: the verb,
    * its options ([[parse]]), its positional count, every query name, and
    * `scale`'s `--copies` and `--tables`. An unknown name is an error, not
    * an empty filter, so a mistyped gate cannot pass by running nothing. */
  private[graft] def command(args: Seq[String])
      : Either[String, (String, Map[String, String], Seq[String])] = {
    val verb = args.headOption.getOrElse("")
    val known =
      if (verb == "scale") ScaleCheck.Flagships.toSet else SparkEntry.queries.keySet
    Verbs.get(verb).toRight(s"unknown verb '$verb'").flatMap { v =>
      parse(args.drop(1), v.opts).flatMap { case (opts, pos) =>
        val unknown = pos.drop(v.lead).filterNot(known)
        val tables = opts.get("tables").toSeq.flatMap(_.split(",", -1))
        if (pos.size < v.min)
          Left(s"needs at least ${v.min} positional argument(s)")
        else if (unknown.nonEmpty)
          Left(s"unknown query ${unknown.mkString(", ")}")
        else if (opts.get("copies").exists(_.toIntOption.forall(_ < 1)))
          Left(s"--copies must be a positive integer, not ${opts("copies")}")
        else tables.filterNot(ScaleCheck.KeyCols.contains) match {
          case Seq() => Right((verb, opts, pos))
          case bad => Left(s"unknown table ${bad.mkString(", ")}")
        }
      }.left.map(e => s"$verb: $e")
    }
  }

  private def jobs(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Boolean = {
    names.map { name =>
      val fn = SparkEntry.queries(name)
      // warm: JIT + codegen + FS cache
      Session.run(spark, name)(fn(spark, sfDir))(Session.sink)
      val (r, js) = Jobs.during(spark) {
        val t0 = System.nanoTime()
        Session.run(spark, name)(fn(spark, sfDir)) { df =>
          (Session.sink(df), (System.nanoTime() - t0) / 1e9)
        }
      }
      r.fold(m => { println(s"[jobs] $name FAIL $m"); false }, {
        case (n, wall) =>
          def phase(p: String) = js.count(_.desc.startsWith(s"$name|$p"))
          println(f"[jobs] $name rows=$n wall=${wall}%.2f s, ${js.size} jobs, " +
            s"construct jobs=${phase("construct")} " +
            s"barrier jobs=${phase("barrier:")} exec jobs=${phase("exec")}:")
          js.foreach { j =>
            println(f"[jobs]   job ${j.id}%3d ${j.seconds}%7.3f s " +
              f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d " +
              f"shuffle=${j.shuffleBytes / 1e6}%.3f MB/${j.shuffleRecords}%-7d " +
              j.desc)
          }
          val covered = js.map(j => math.max(j.seconds, 0)).sum
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
