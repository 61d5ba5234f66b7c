package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guards on the entry-point layer: one session factory, three mains, and
  * the flagship entry working in a session configured the way a caller's
  * would be. */
class ToolingSpec extends SparkSpec {

  private lazy val mainSources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  private def filesMatching(re: String): Set[String] = {
    val r = re.r
    mainSources.filter(p => r.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet
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

  test("SparkEntry.entry returns rows in an ANSI-mode session") {
    val s = SparkSpec.session.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    assert(SparkEntry.entry(s).count() > 0)
  }

  test("Tools.parse rejects unknown options and options without a value") {
    val audit = Set("write", "diff", "expect")
    assert(Tools.parse(Seq("sf", "--diff", "PLANS.json", "q1", "q2"), audit) ==
      Right((Map("diff" -> "PLANS.json"), Seq("sf", "q1", "q2"))))
    assert(Tools.parse(Seq.empty, audit) == Right((Map.empty, Seq.empty)))
    assert(Tools.parse(Seq("sf", "--dif", "PLANS.json"), audit) ==
      Left("unknown option --dif"))
    assert(Tools.parse(Seq("sf", "--diff"), audit) ==
      Left("option --diff needs a value"))
    assert(Tools.parse(Seq("sf", "--diff", "--write", "P"), audit) ==
      Left("option --diff needs a value"))
    assert(Tools.parse(Seq("sf", "--copies", "3"), Set.empty).isLeft)
  }
}
