package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** Guards on the entry-point layer: one session factory, one query runner,
  * three mains, and the flagship entry working in a session configured the
  * way a caller's would be. */
class ToolingSpec extends SparkSpec {

  private lazy val mainSources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  private def filesMatching(re: String): Set[String] =
    occurrences(re).keySet

  /** file name -> number of matches, over the files with at least one */
  private def occurrences(re: String): Map[String, Int] = {
    val r = re.r
    mainSources.map(p => p.getFileName.toString ->
      r.findAllIn(Files.readString(p)).size).filter(_._2 > 0).toMap
  }

  test("session conf lives only in Session.scala; mains are Bench, " +
      "Verify and Tools") {
    assert(mainSources.nonEmpty)
    // written as regexes, so the literal names appear in Session.scala
    // alone across src/
    assert(filesMatching("""SparkSession\s*\.\s*builder""") ==
      Set("Session.scala"))
    assert(filesMatching("""minPartition[S]ize""") == Set("Session.scala"))
    assert(filesMatching("""def\s+main\s*\(""") ==
      Set("Bench.scala", "Verify.scala", "Tools.scala"))
  }

  test("the watchdog timer, job cancellation and afterQuery calls live " +
      "only in Session.run") {
    assert(occurrences("""java\.util\.Time[r]\b""") == Map("Session.scala" -> 1))
    assert(occurrences("""cancel(AllJob[s]|JobGrou[p])""") ==
      Map("Session.scala" -> 1))
    // the definition and the one call in `run`
    assert(occurrences("""afterQuer[y]\s*\(""") == Map("Session.scala" -> 2))
  }

  test("materialization and storage levels live only in Materialize.scala") {
    assert(filesMatching("""localCheckpoint|persist\(|unpersist|StorageLevel""") ==
      Set("Materialize.scala"))
  }

  test("a SparkListener is made only in Jobs.scala, the listener bus is " +
      "named only in its drain bridge, and PlanAudit neither sleeps nor " +
      "reflects") {
    assert(filesMatching("""extends\s+SparkListene[r]\b|""" +
      """new\s+(org\.apache\.spark\.scheduler\.)?SparkListene[r]\b""") ==
      Set("Jobs.scala"))
    assert(filesMatching("""listenerBu[s]""") == Set("Bus.scala"))
    assert(!filesMatching("""Thread\.slee[p]|getMetho[d]\(""")
      .contains("PlanAudit.scala"))
  }

  test("the warm-up and fixture reads of Session, Bench and ScaleCheck go " +
      "through Q.t") {
    val plain = filesMatching("""read\.parquet\(""")
    assert(plain.nonEmpty) // the pattern matches the plain reads elsewhere
    assert(plain.intersect(Set("Session.scala", "Bench.scala",
      "ScaleCheck.scala")).isEmpty, plain)
  }

  private def slow = org.apache.spark.sql.functions.udf { (x: Long) =>
    Thread.sleep(60000); x
  }

  test("Session.run cancels a query held past its timeout and reports it") {
    val t0 = System.nanoTime()
    val r = Session.run(spark, "tooling_timeout", timeoutS = 1)(
      spark.range(0, 1, 1, 1).select(slow(col("id"))))(Session.sink)
    assert(r.left.exists(_.startsWith("timeout")), r)
    assert((System.nanoTime() - t0) / 1e9 < 30)
    // the status store learns of the job's end through the listener bus,
    // which may deliver it after the action has already thrown
    val st = spark.sparkContext.statusTracker
    eventually(timeout(Span(10, Seconds))) {
      val group = st.getJobIdsForGroup("tooling_timeout")
      assert(group.nonEmpty &&
        group.toSet.intersect(st.getActiveJobIds().toSet).isEmpty)
    }
    // a query that beats its deadline is a result, not a timeout
    assert(Session.run(spark, "tooling_fast", timeoutS = 60)(
      spark.range(10).toDF())(_.count()) == Right(10L))
  }

  test("SparkEntry.entry returns rows in an ANSI-mode session") {
    val s = SparkSpec.session.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    assert(SparkEntry.entry(s).count() > 0)
  }

  test("Tools.command rejects a bad command line before any session is built") {
    def cmd(line: String) = Tools.command(line.split(" ").toSeq)
    assert(cmd("audit sf --diff PLANS.json q1_agg q_combat") == Right(("audit",
      Map("diff" -> "PLANS.json"), Seq("sf", "q1_agg", "q_combat"))))
    assert(cmd("scale src out --copies 3 --tables orders,lineitem q1_agg")
      .isRight)
    assert(cmd("audit sf --dif P") == Left("audit: unknown option --dif"))
    assert(cmd("audit sf --diff") == Left("audit: option --diff needs a value"))
    Seq("fly sf", "audit", "jobs sf", "audit sf --diff --write P",
      "cg sf --copies 3", "audit sf q_typo --diff PLANS.json", "jobs sf q_typo",
      "cg sf q_typo", "explain sf out after q_typo", "scale src out q_typo",
      "scale src out q_glm_nb", // registered, but not a scale flagship
      "scale src out --copies 0", "scale src out --copies abc",
      "scale src out --tables nosuch", "scale src out --tables orders,")
      .foreach(line => assert(cmd(line).isLeft, line))
  }
}
