package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import graft.ops.Materialize

/** [[Materialize.barrier]]: the tag its job carries, the repeatable work it
  * gives the queries whose intermediates used to race, and the failure a
  * lost checkpoint block produces. */
class MaterializeSpec extends SparkSpec {

  /** (job group, job description) of every job `body` launches */
  private def jobTags(body: => Unit): Seq[(Option[String], String)] =
    Jobs.during(spark)(body)._2.map(j => (j.group, j.desc))

  test("a barrier's job is tagged name|barrier:<label> inside Session.run, " +
      "and the caller's tag resumes after it") {
    val tags = jobTags {
      val r = Session.run(spark, "mat_tags") {
        val b = Materialize.barrier(spark.range(0, 8, 1, 2).toDF(), "eight")
        val n = b.count() // a construction job after the barrier
        spark.range(n).toDF()
      }(_.collect().length)
      assert(r == Right(8))
    }
    assert(tags.head == (Some("mat_tags"), "mat_tags|barrier:eight"))
    assert(tags.map(_._2).distinct ==
      Seq("mat_tags|barrier:eight", "mat_tags|construct", "mat_tags|exec"))
    // outside any job group the tag is the bare barrier name, and the
    // (absent) description is restored afterwards
    val free = jobTags {
      Materialize.barrier(spark.range(0, 3, 1, 1).toDF(), "free").count()
    }
    assert(free.head == (None, "barrier:free"))
    assert(free.tail.nonEmpty && free.tail.forall(_._2 == "?"), free)
  }

  test("q_knn_impute, q_combat and q_feber_roc launch the same number of " +
      "jobs on every run") {
    // schemas are inferred once per session (Q.t); warm them first so the
    // counted runs differ only in what the queries themselves launch
    val tables = new java.io.File(sf001).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    Session.warm(spark, sf001, tables)
    for (q <- Seq("q_knn_impute", "q_combat", "q_feber_roc")) {
      val counts = (1 to 3).map { _ =>
        jobTags {
          val r = Session.run(spark, q)(SparkEntry.queries(q)(spark, sf001))(
            Session.sink)
          assert(r.isRight, r)
        }.count(_._1.contains(q))
      }
      assert(counts.distinct.size == 1, s"$q jobs per run: $counts")
    }
  }

  test("a query whose barrier blocks are lost fails with Spark's " +
      "checkpoint-block error and returns no rows") {
    val r = Session.run(spark, "mat_lost") {
      val b = Materialize.barrier(spark.range(0, 100, 1, 4).toDF(), "lost")
      // drop the blocks, as losing the executor that holds them would
      b.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
        .get.unpersist(blocking = true)
      b.select((col("id") * 2).as("x"))
    }(_.collect())
    assert(r.isLeft, s"returned ${r.map(_.length)} rows")
    assert(r.left.exists(_.contains("Checkpoint block")), r)
  }
}
