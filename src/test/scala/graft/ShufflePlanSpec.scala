package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.omics.{BetaMixture, GlmNb, Models}
import graft.stats.Stats

/** What the omics kernels shuffle: mutual rank ranks the one-row-per-pair
  * list with two windows (no explode into both orientations, no pair
  * aggregate), and the typed per-group fits group on a column (no
  * `AppendColumns` key copy riding the shuffle). */
class ShufflePlanSpec extends SparkSpec {

  /** A child session with AQE off, so `executedPlan` is the plain physical
    * tree (as in PlanAudit). */
  private lazy val plain: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def exchanges(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeExec => e }.size

  /** The explode → one window → pair-max route mutualRank took before it
    * ranked each side with its own window: both orientations of every
    * pair, ranked per source, folded back under the unordered key. */
  private def mutualRankByExplode(edges: DataFrame, decay: Double = 25.0)
      : DataFrame = {
    val both = edges.select(explode(array(
        struct(col("left").as("s"), col("right").as("d"), col("r").as("r")),
        struct(col("right").as("s"), col("left").as("d"), col("r").as("r"))))
      .as("e")).select(col("e.s").as("src"), col("e.d").as("dst"), col("e.r").as("r"))
    val w = Window.partitionBy(col("src")).orderBy(col("r").desc, col("dst"))
    both.withColumn("rank", row_number().over(w))
      .where(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        when(col("src") < col("dst"), col("r")).as("__r"),
        when(col("src") < col("dst"), col("rank")).as("__rab"),
        when(col("src") > col("dst"), col("rank")).as("__rba"))
      .groupBy("a", "b")
      .agg(max(col("__r")).as("r"), max(col("__rab")).as("rank_ab"),
        max(col("__rba")).as("rank_ba"))
      .where(col("rank_ab").isNotNull && col("rank_ba").isNotNull)
      .withColumn("mr", sqrt(col("rank_ab") * col("rank_ba")))
      .withColumn("weight", exp((lit(1.0) - col("mr")) / decay))
  }

  // bipartite: left ids even, right ids odd. Ties in r on both sides
  // (node 0: partners 1 and 3 at 0.9; node 10: 1 and 7 at 0.8; node 2: 1
  // and 7 at 0.5; right node 5: 0 and 10 at 0.2), one-edge nodes (left 4,
  // right 9), and pairs with left < right (0-1, 2-9) and left > right
  // (4-3, 10-1).
  private def fixture: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((0L, 1L, 0.9), (0L, 3L, 0.9), (0L, 5L, 0.2),
      (2L, 1L, 0.5), (2L, 7L, 0.5), (2L, 9L, 0.3),
      (4L, 3L, 0.7),
      (10L, 5L, 0.2), (10L, 7L, 0.8), (10L, 1L, 0.8))
      .toDF("left", "right", "r")
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.select("a", "b", "r", "rank_ab", "rank_ba", "mr", "weight")
      .orderBy("a", "b").collect().toSeq

  test("mutualRank over the pair list equals the explode/window/pair-max " +
      "route") {
    val got = sorted(Stats.mutualRank(fixture, "left", "right", "r"))
    assert(got == sorted(mutualRankByExplode(fixture)))
    assert(got.size == 10)
    def ranks(a: Long, b: Long): (Int, Int) = got
      .find(r => r.getLong(0) == a && r.getLong(1) == b)
      .map(r => (r.getInt(3), r.getInt(4))).get
    // tie at 0.9 in node 0's list breaks on the partner id: 1 before 3;
    // in node 3's list 0 (0.9) leads 4 (0.7)
    assert(ranks(0, 1) == (1, 1))
    assert(ranks(0, 3) == (2, 1))
    // right node 5's tie at 0.2 breaks on the left id: 0 before 10
    assert(ranks(0, 5) == (3, 1))
    assert(ranks(5, 10) == (2, 3))
    // one-edge nodes: 4 (left, 4 > 3) and 9 (right)
    assert(ranks(3, 4) == (2, 1))
    assert(ranks(2, 9) == (3, 1))
    // left > right with a tie in the left node's list: 10 ranks 1 before 7
    assert(ranks(1, 10) == (2, 1))
    assert(ranks(7, 10) == (1, 2))
  }

  test("mutualRank plans no Generate and three exchanges, and its callers " +
      "plan no Generate") {
    val s = plain
    import s.implicits._
    // the callers' shape: a pair aggregate, then the rank
    val edges = Seq((1L, 2L, 1.0), (1L, 3L, 2.0), (2L, 2L, 0.5))
      .toDF("pk", "sk", "x")
      .groupBy("pk", "sk").agg(sum("x").as("r"))
      .select((col("pk") * 2).as("part"), (col("sk") * 2 + 1).as("supp"),
        col("r"))
    val plan = Stats.mutualRank(edges, "part", "supp", "r")
      .queryExecution.executedPlan
    assert(plan.collect { case g: GenerateExec => g }.isEmpty, plan)
    assert(exchanges(plan) == 3, plan)
    Seq("q_mutual_rank", "q_pipeline_wcmodules",
        "q_pipeline_wcmodules_modules").foreach { q =>
      val p = SparkEntry.queries(q)(s, sf001).queryExecution.executedPlan
      Session.afterQuery(s)
      assert(p.collect { case g: GenerateExec => g }.isEmpty, s"$q\n$p")
    }
  }

  test("the six typed per-group fits plan no AppendColumns and one " +
      "exchange") {
    val s = plain
    import s.implicits._
    val counts = Seq(("r1", 3.0, 0.0, 0.1), ("r1", 5.0, 1.0, 0.0))
      .toDF("region", "y", "grp", "off")
    val betas = Seq(("g1", 0.2), ("g1", 0.8)).toDF("gene", "value")
    val ols = Seq(("g1", 1.0, 2.0, 3.0)).toDF("grp", "y", "x1", "x2")
    val probes = Seq(("g1", "p1", "s1", 0.5)).toDF("gene", "probe", "sample",
      "value")
    val fits: Seq[(String, DataFrame)] = Seq(
      "GlmNb.fitPerRegion" ->
        GlmNb.fitPerRegion(counts, "region", "y", "grp", "off").toDF(),
      "GlmNb.fitPerRegionFixed" ->
        GlmNb.fitPerRegionFixed(counts, "region", "y", "grp", "off").toDF(),
      "BetaMixture.fitPerGene" ->
        BetaMixture.fitPerGene(betas, "gene", "value").toDF(),
      "BetaMixture.fitPerGeneFixed" ->
        BetaMixture.fitPerGeneFixed(betas, "gene", "value"),
      "Models.olsMultiPerGroup" ->
        Models.olsMultiPerGroup(ols, "grp", "y", Seq("x1", "x2")).toDF(),
      "Models.clusterProbesPerGene" ->
        Models.clusterProbesPerGene(probes, "gene", "probe", "sample",
          "value").toDF())
    fits.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      val appends = plan.collect {
        case a: AppendColumnsExec => a
        case a: AppendColumnsWithObjectExec => a
      }
      assert(appends.isEmpty, s"$name\n$plan")
      assert(exchanges(plan) == 1, s"$name\n$plan")
    }
  }
}
