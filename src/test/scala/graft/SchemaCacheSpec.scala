package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import graft.queries.Q

/** [[Q.t]] infers a table's schema once per session: a later read or a
  * query built again plans with no Spark job, a table rewritten at its
  * path is inferred again, a child session infers its own, and two reads
  * of one table never share attribute ids. */
class SchemaCacheSpec extends SparkSpec with BeforeAndAfterAll {

  private val scratch = Files.createTempDirectory("graft_schema")

  override def afterAll(): Unit =
    try SparkSpec.deleteTree(scratch) finally super.afterAll()

  /** Jobs started on `s`'s context while `body` runs. */
  private def jobsDuring(s: SparkSession)(body: => Any): Int =
    Jobs.during(s)(body)._2.size

  test("a second read of a table and a query built again run no job") {
    Q.t(spark, sf001, "lineitem")
    assert(jobsDuring(spark)(Q.t(spark, sf001, "lineitem")) == 0)
    Seq("q_glm_nb", "q_text_quality").foreach { q =>
      SparkEntry.queries(q)(spark, sf001)
      assert(jobsDuring(spark)(SparkEntry.queries(q)(spark, sf001)) == 0, q)
    }
  }

  test("a table rewritten at the same path is inferred again") {
    val dir = scratch.toString
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(jobsDuring(spark)(Q.t(spark, dir, "t")) > 0)
    assert(jobsDuring(spark)(Q.t(spark, dir, "t")) == 0)
    assert(Q.t(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "CAST(id * 10 AS STRING) AS b")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Q.t(spark, dir, "t")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.where("b = '20'").count() == 1)
  }

  test("a newSession child infers its own schema") {
    Q.t(spark, sf001, "region")
    val child = spark.newSession()
    assert(jobsDuring(child)(Q.t(child, sf001, "region")) > 0)
    assert(jobsDuring(child)(Q.t(child, sf001, "region")) == 0)
  }

  test("two reads of one table have disjoint attribute ids") {
    val (a, b) = (Q.t(spark, sf001, "nation"), Q.t(spark, sf001, "nation"))
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).nonEmpty && ids(a).intersect(ids(b)).isEmpty)
    // a self-join on the key keeps one row per nation
    assert(a.join(b, a("n_nationkey") === b("n_nationkey")).count() ==
      a.count())
  }
}
