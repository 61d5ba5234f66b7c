package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always calls with exactly two args = run everything)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json is written BEFORE the query loop: it depends only
    // on the registry, and writing it last meant an external kill mid-run
    // (driver wall-clock budget) lost the entire round's oracle map —
    // every completed dump would then read as rows-only.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Residual oracles (the converged-kernel certificates) read the
    // engine's own dumped parquet back via DuckDB to check a claimed
    // fixed point — the dump directory is only known here, so the SQL
    // carries a token that is substituted with the ABSOLUTE path at dump
    // time (the comparator may run with a different working directory).
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__VERIFY_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Session.run's watchdog: one hung query degrades to one missing dump
    // (the compare records it as an error), not a stalled gate
    val timeoutS =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        Session.run(spark, name, timeoutS)(fn(spark, sfDir))(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        ).left.foreach { msg =>
          System.err.println(s"[verify] $name failed: $msg")
          // a watchdog cancel can interrupt the write mid-overwrite; a
          // partial directory would read as a TRUNCATED result downstream
          // — delete it so a failed query is a missing dump, not a wrong one
          try {
            val dir = Paths.get(outDir, name)
            if (Files.exists(dir))
              Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
                .forEach(p => Files.deleteIfExists(p))
          } catch { case _: Throwable => () }
        }
      }
    spark.stop()
  }
}
