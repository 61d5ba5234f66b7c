package graft

import org.apache.spark.sql.functions._
import graft.catalyst.RangeJoinRewrite

/** The auto range-join optimizer rule: result-identical to the naive
  * theta join, eliminates the BroadcastNestedLoopJoin, and stands down
  * when disabled or when an equi conjunct already exists. */
class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def withRule[A](w: Option[Double])(f: => A): A = {
    graft.catalyst.GraftExtensions.register(spark)
    w match {
      case Some(x) => spark.conf.set(RangeJoinRewrite.WidthKey, x.toString)
      case None => spark.conf.unset(RangeJoinRewrite.WidthKey)
    }
    try f finally spark.conf.unset(RangeJoinRewrite.WidthKey)
  }

  private val intervals = Seq.tabulate(200) { i =>
    (i.toLong, i * 0.7, i * 0.7 + 1.5)
  }.toDF("iid", "lo", "hi")
  private val points = Seq.tabulate(300) { i =>
    (i.toLong, i * 0.45)
  }.toDF("pid", "v")

  test("rewritten theta join matches the naive join exactly") {
    val cond = col("lo") <= col("v") && col("v") <= col("hi")
    val expected = withRule(None) {
      intervals.join(points, cond).select("iid", "pid").collect().toSet
    }
    assert(expected.nonEmpty)
    val got = withRule(Some(2.0)) {
      val j = intervals.join(points, cond)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Generate explode"), plan)
      j.select("iid", "pid").collect().toSet
    }
    assert(got == expected)
  }

  test("mirrored operand order and strict bounds also rewrite") {
    val cond = col("v") > col("lo") && col("hi") > col("v")
    val expected = withRule(None) {
      points.join(intervals, cond).select("pid", "iid").collect().toSet
    }
    val got = withRule(Some(1.0)) {
      val j = points.join(intervals, cond)
      assert(!j.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      j.select("pid", "iid").collect().toSet
    }
    assert(got == expected)
  }

  test("SQL theta joins are rewritten too") {
    intervals.createOrReplaceTempView("__rr_iv")
    points.createOrReplaceTempView("__rr_pt")
    val q = "SELECT iid, pid FROM __rr_iv JOIN __rr_pt ON lo <= v AND v <= hi"
    val expected = withRule(None)(spark.sql(q).collect().toSet)
    val got = withRule(Some(2.0)) {
      val j = spark.sql(q)
      assert(!j.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      j.collect().toSet
    }
    assert(got == expected)
  }

  test("stands down without the conf, with an equi conjunct, on outer joins") {
    val theta = col("lo") <= col("v") && col("v") <= col("hi")
    withRule(None) {
      val p = intervals.join(points, theta).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin")) // untouched
    }
    withRule(Some(2.0)) {
      // equi conjunct present -> hash join already; rule must not touch it
      val eq = intervals.join(points, col("iid") === col("pid") && theta)
      val p = eq.queryExecution.executedPlan.toString
      assert(!p.contains("Generate explode"), p)
      // outer join -> untouched (rule is inner-only)
      val oj = intervals.join(points, theta, "left")
        .queryExecution.executedPlan.toString
      assert(!oj.contains("Generate explode"), oj)
      // NULL endpoints produce no matches on either path
      val nullIv = Seq((99L, Option.empty[Double], Option(5.0)))
        .toDF("iid", "lo", "hi")
      assert(nullIv.join(points, theta).count() == 0)
    }
  }

  test("random data + widths: rewritten join equals crossJoin+filter") {
    val cond = col("lo") <= col("v") && col("v") <= col("hi")
    (0 until 6).foreach { i =>
      val rng = new scala.util.Random(100 + i)
      val iv = Seq.tabulate(80) { j =>
        val lo = rng.nextDouble() * 100 - 50
        (j.toLong, lo, lo + rng.nextDouble() * 20 - 2) // ~10% empty (hi < lo)
      }.toDF("iid", "lo", "hi")
      val pt = Seq.tabulate(120)(j => (j.toLong, rng.nextDouble() * 140 - 70))
        .toDF("pid", "v")
      val expected = iv.crossJoin(pt)
        .where(cond).select("iid", "pid").collect().toSet
      val width = Seq(0.5, 3.0, 25.0)(i % 3)
      val got = withRule(Some(width)) {
        iv.join(pt, cond).select("iid", "pid").collect().toSet
      }
      assert(got == expected, s"seed ${100 + i} width $width")
    }
  }

  test("non-numeric (lexicographic) ranges are never rewritten") {
    // "10" <= "2" <= "9" lexicographically — numeric bucketing would
    // wrongly drop this match, so the rule must not fire on strings
    val siv = Seq((1L, "10", "9")).toDF("iid", "lo", "hi")
    val spt = Seq((7L, "2")).toDF("pid", "v")
    val cond = col("lo") <= col("v") && col("v") <= col("hi")
    withRule(Some(2.0)) {
      val j = siv.join(spt, cond)
      assert(!j.queryExecution.executedPlan.toString.contains("Generate explode"))
      assert(j.count() == 1)
    }
  }

  test("q_range_join_auto installs nothing: the rule and functions come " +
      "with the session") {
    val s = SparkSpec.session.newSession()
    val before = s.experimental.extraOptimizations
    val q = SparkEntry.queries("q_range_join_auto")(s, sf001)
    assert(s.experimental.extraOptimizations == before)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    Session.afterQuery(s)
    assert(s.conf.getOption(RangeJoinRewrite.WidthKey).isEmpty)
    val p = s.sql("SELECT graft_corr_p(0.5, 10)").head().getDouble(0)
    assert(p > 0 && p < 1)
  }
}
