package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.chem.ChemBackend
import graft.ops.Materialize.barrier

/** The herald iterative pathway-anticipation loop
  * (heraldPathways.py:381-491): each iteration takes the unreacted
  * structures, runs every reaction rule against them (virtual products via
  * the ChemBackend generator), keeps the products whose mass matches an
  * observed mass signature, assigns deterministic new ids, marks substrates
  * reacted, and feeds the new structures to the next iteration.
  *
  * Spark shape: rules and the observed-mass set are broadcast; the loop is
  * a driver-side `while` over materialized DataFrames (lineage is cut
  * every iteration — the reference's Pool-per-structure becomes partition
  * parallelism). Product→observation matching is a rounded-key equi join
  * (the reference's mass-tolerance surrogate, treatMassTransitions.py:30).
  */
object Herald {

  /** @param structures (id, mass, root) seed structures
    * @param rules      (rule_id, mass_delta) — small, broadcast
    * @param observed   (obs_mass) observed mass signatures
    * @param roundD     decimals for the mass-match key
    * @return (struct_id, root, iteration, mass) — all structures ever
    *         produced, iteration 0 = seeds. */
  def reactionLoop(structures: DataFrame, rules: DataFrame, observed: DataFrame,
                   backend: ChemBackend, iterations: Int = 5,
                   roundD: Int = 1): DataFrame = {
    val obsKeys = observed.select(round(col("obs_mass"), roundD).as("__obs_key")).distinct()
    // each LEVEL is checkpointed once; the accumulated "seen" relation is
    // a lazy union over those checkpointed legs (cheap lineage, no
    // recompute), so the loop pays ONE eager job per iteration instead of
    // the former two (the per-iteration re-checkpoint of the growing
    // union was pure job-floor: ~0.5 s of scheduling at sf0.1)
    var levels = List(barrier(structures.select(col("id").as("struct_id"),
      col("root"), lit(0).as("iteration"), col("mass")), "herald.level0"))
    var frontier = levels.head
    def seenIds = levels.map(_.select("struct_id")).reduce(_.union(_))
    var i = 1
    while (i <= iterations && !frontier.isEmpty) {
      val products = backend.virtualProducts(
        frontier.withColumnRenamed("struct_id", "id"), rules,
        "id", "mass", "root")
      val matched = products
        .withColumn("__key", round(col("product_mass"), roundD))
        .join(broadcast(obsKeys), col("__key") === col("__obs_key"), "left_semi")
        .select(col("product_id").as("struct_id"), col("root"),
          lit(i).as("iteration"), col("product_mass").as("mass"))
        // deterministic dedup: same product key implies same root and same
        // 4-decimal mass, but fp twins (e.g. +a then +b vs +b then +a)
        // differ in ulps — keep the min rather than an arbitrary row
        .groupBy("struct_id", "root", "iteration")
        .agg(min(col("mass")).as("mass"))
      // only genuinely new structures continue (anti join vs everything
      // seen)
      frontier = barrier(matched.join(seenIds, Seq("struct_id"), "left_anti"),
        "herald.frontier")
      levels = levels :+ frontier
      i += 1
    }
    levels.reduce(_.union(_))
  }

  /** Fixed-depth twin of [[reactionLoop]]: the k iterations unrolled into
    * ONE declarative plan evaluated by a single action (the same shape the
    * unrolled SQL oracle uses). The driver loop pays an `isEmpty` probe
    * plus two EAGER checkpoint jobs per iteration — pure scheduling
    * latency at small scale; here the levels stay as raw subplans —
    * repeated level subtrees dedup at physical planning (ReuseExchange),
    * so each level's shuffle runs once. The tree grows with depth, so
    * beyond a handful of iterations callers should stay on the loop.
    * Early exit is implicit: an empty frontier produces empty levels.
    * Identical output.
    *
    * Measured at sf0.1 (same JVM, min of 3): MassOnlyBackend loop 1.20 s
    * vs fused 0.93 s (fused wins — q_pipeline_herald uses it);
    * TableChemBackend loop 3.1 s vs fused 4.3 s (the loop's checkpointed
    * frontier amortizes the broadcast-table rebuild, so
    * q_pipeline_herald_table stays on the loop; round 12 cut the loop's
    * per-iteration union re-checkpoint, bringing the table-backend loop
    * to 1.50 s in the official 2-pass bench — the fused/loop choice per
    * backend is unchanged). */
  def reactionLoopFused(structures: DataFrame, rules: DataFrame,
                        observed: DataFrame, backend: ChemBackend,
                        iterations: Int = 5, roundD: Int = 1): DataFrame = {
    val obsKeys = observed.select(round(col("obs_mass"), roundD).as("__obs_key"))
      .distinct()
    var all = structures.select(col("id").as("struct_id"), col("root"),
      lit(0).as("iteration"), col("mass"))
    var frontier = all
    (1 to iterations).foreach { i =>
      val products = backend.virtualProducts(
        frontier.withColumnRenamed("struct_id", "id"), rules,
        "id", "mass", "root")
      val matched = products
        .withColumn("__key", round(col("product_mass"), roundD))
        .join(broadcast(obsKeys), col("__key") === col("__obs_key"), "left_semi")
        .select(col("product_id").as("struct_id"), col("root"),
          lit(i).as("iteration"), col("product_mass").as("mass"))
        .groupBy("struct_id", "root", "iteration")
        .agg(min(col("mass")).as("mass"))
      frontier = matched.join(all.select("struct_id"), Seq("struct_id"), "left_anti")
      all = all.union(frontier)
    }
    all
  }
}
