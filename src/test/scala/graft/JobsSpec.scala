package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Jobs.during]]: which jobs it records, their tags and order, and what a
  * job whose shuffle stage an earlier job ran is charged. */
class JobsSpec extends SparkSpec {

  test("a job that ended before during is not recorded, even while its " +
      "events are still queued") {
    // a slow listener on the shared bus queue holds back the events of
    // the jobs that follow the collect it is told about
    val slow = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Thread.sleep(1000)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    try {
      spark.range(3).collect()
      assert(spark.sparkContext.parallelize(1 to 4, 4).count() == 4)
      val (n, js) = Jobs.during(spark)(
        spark.sparkContext.parallelize(1 to 2, 1).count())
      assert(n == 2 && js.map(_.tasks) == Seq(1), js)
    } finally spark.listenerManager.unregister(slow)
  }

  test("two Session.runs: construct then exec jobs; the rerun's reused " +
      "shuffle adds nothing") {
    val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k"))
      .count()
    val (r, js) = Jobs.during(spark) {
      Seq("jobs_first", "jobs_second").map(n => Session.run(spark, n) {
        spark.range(7).count() // an eager construction-time job
        df
      }(_.collect().length))
    }
    assert(r == Seq(Right(10), Right(10)))
    // the group is cleared when a run ends
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    val Seq(first, second) = Seq("jobs_first", "jobs_second").map { n =>
      val run = js.filter(_.group.contains(n))
      assert(run.map(_.desc).distinct == Seq(s"$n|construct", s"$n|exec"), js)
      assert(run.forall(_.end >= 0), run) // every job's end was delivered
      run.filter(_.desc.endsWith("|exec"))
    }
    assert(first.map(_.stages).sum == 2 && first.map(_.shuffleBytes).sum > 0 &&
      first.map(_.shuffleRecords).sum > 0, first)
    // only its result stage: the map stage ran in the first run
    assert(second.map(_.stages) == Seq(1) && second.map(_.shuffleBytes) ==
      Seq(0) && second.map(_.shuffleRecords) == Seq(0), second)
    assert(second.map(_.tasks).sum < first.map(_.tasks).sum, js)
  }
}
