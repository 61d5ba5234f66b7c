package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Graph centrality over relation-shaped edge lists — the data-selection
  * angle: rank documents/users by influence in a similarity or interaction
  * graph and sample/weight by centrality (the graph analogue of the DSIR
  * importance weights).
  */
object Graph {

  /** The integer unit one full rank-mass is scaled to: ranks live in
    * units of 1e-12, so every PageRank step is pure BIGINT arithmetic —
    * exact, overflow-safe (85·10¹² ≪ 2⁶³), and ORDER-INDEPENDENT (the
    * usual double-sum PageRank is shuffle-order nondeterministic; this
    * one hash-gates). */
  val RankUnit: Long = 1000000000000L

  /** Fixed-iteration PageRank with damping d = `dampNum/dampDen` over a
    * directed edge list, in exact integer rank units: each node starts at
    * floor(Unit/N); one step is
    * `rank' = floor(floor(Unit/N)·(dampDen−dampNum)/dampDen)
    *          + floor(dampNum·Σ_in floor(rank/outdeg) / dampDen)`.
    * Floor divisions make every intermediate a BIGINT, so the result is
    * bit-reproducible across partitionings and engines (a SQL oracle
    * replays it with `//`). Dangling-node mass is dropped, the classic
    * simplification — ranks are a centrality ORDER, not a probability.
    *
    * Scale shape: edges are shuffled ONCE onto their src key and reused
    * by every iteration (the iteration-invariant relation); each step
    * shuffles only the node-sized rank relation (join on src, re-group on
    * dst) — 2 node/edge-key exchanges per step, no corpus-wide state, no
    * driver materialization beyond the single node count. Lineage is
    * truncated every `checkpointInterval` steps, so short runs execute as
    * ONE multi-level job (no per-step materialization tax) while long
    * runs keep O(interval) plan depth. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, dampNum: Long = 85L,
               dampDen: Long = 100L, checkpointInterval: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be positive: $iters")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"damping must be in [0,1]: $dampNum/$dampDen")
    val e = barrier(edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .repartition(col("src")), "graph.e")
    val nodes = barrier(e.select(col("src").as("node"))
      .union(e.select(col("dst")))
      .distinct(), "graph.nodes")
    val n = nodes.count()
    require(n > 0, "pageRank: empty edge list")
    val r0 = RankUnit / n
    val teleport = r0 * (dampDen - dampNum) / dampDen
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    var ranks = nodes.withColumn("r", lit(r0))
    for (i <- 1 to iters) {
      val inflow = e.join(ranks, e("src") === ranks("node"))
        .join(outdeg, "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("inflow"))
      ranks = nodes
        .join(inflow, nodes("node") === inflow("dst"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"(${dampNum}L * coalesce(inflow, 0L)) div ${dampDen}L"))
            .as("r"))
      if (i % checkpointInterval == 0 && i < iters)
        ranks = barrier(ranks, "graph.ranks")
    }
    ranks.select(col("node"), col("r").as("rank_units"),
      round(col("r").cast("double") / RankUnit.toDouble, 6).as("rank"))
  }

  /** Personalized PageRank: teleport mass lands ONLY on `seeds`, so ranks
    * measure proximity to the seed set — the graph-side seed-expansion
    * primitive (pair with BM25's term-side mining: seed a few known-good
    * documents, walk the near-dup/interaction graph, harvest the
    * neighborhood). Same exact-BIGINT arithmetic as [[pageRank]]
    * (unit/|S| split over the seed set, floor divisions everywhere), so
    * the fixpoint is order-independent and SQL-replayable. Mass drains
    * from nodes unreachable from the seeds — that is the signal, not a
    * defect. Scale shape identical to [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[String], iters: Int = 3,
                           dampNum: Long = 85L, dampDen: Long = 100L,
                           checkpointInterval: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be positive: $iters")
    require(seeds.nonEmpty, "personalizedPageRank: empty seed set")
    val e = barrier(edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .repartition(col("src")), "graph.e")
    val nodes = barrier(e.select(col("src").as("node"))
      .union(e.select(col("dst")))
      .distinct(), "graph.nodes")
    val r0 = RankUnit / seeds.size
    val teleport = r0 * (dampDen - dampNum) / dampDen
    val isSeed = col("node").isin(seeds: _*)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    var ranks = nodes.withColumn("r",
      when(isSeed, lit(r0)).otherwise(lit(0L)))
    for (i <- 1 to iters) {
      val inflow = e.join(ranks, e("src") === ranks("node"))
        .join(outdeg, "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("inflow"))
      ranks = nodes
        .join(inflow, nodes("node") === inflow("dst"), "left")
        .select(col("node"),
          (when(isSeed, lit(teleport)).otherwise(lit(0L)) +
            expr(s"(${dampNum}L * coalesce(inflow, 0L)) div ${dampDen}L"))
            .as("r"))
      if (i % checkpointInterval == 0 && i < iters)
        ranks = barrier(ranks, "graph.ranks")
    }
    ranks.select(col("node"), col("r").as("rank_units"),
      round(col("r").cast("double") / RankUnit.toDouble, 6).as("rank"))
  }
}
