package graft.omics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** DriverNet: driver-gene discovery as greedy weighted set cover over a
  * bipartite mutation → expression-outlier event graph.
  *
  * Reference semantics: DriverNet/ComputeDrivers.R:10-46,
  * DriverSelection.R:1-161 (greedy loop: count events covered per mutated
  * gene, pick argmax, delete covered events, repeat),
  * Graph.R:6-44 (bipartite event construction),
  * SignificanceTest.R:28-74 + ResultSummary.R:104-129 (permutation null).
  *
  * Spark-first shape: the event graph is three equi-joins (never
  * materialized as the reference's dense patient×gene matrices); each
  * greedy iteration is one aggregate + a 1-row argmax collect + an
  * anti-join delete, with a barrier to cut lineage. The loop count is
  * the number of reported drivers (small, user-bounded) — the data-sized
  * work stays distributed.
  */
object DriverNet {

  /** Build the coverage relation: (driver_gene, patient, outlier_gene)
    * — gene g covers event (patient p, outlier gene h) iff p carries a
    * mutation in g, g influences h, and h is an expression outlier in p. */
  def coverage(mutations: DataFrame, outliers: DataFrame, influence: DataFrame,
               patCol: String = "patient", geneCol: String = "gene",
               srcCol: String = "gene_a", dstCol: String = "gene_b"): DataFrame = {
    val mut = mutations.select(col(patCol).as("patient"), col(geneCol).as("driver_gene"))
    val out = outliers.select(col(patCol).as("patient"), col(geneCol).as("outlier_gene"))
    val inf = influence.select(col(srcCol).as("driver_gene"), col(dstCol).as("outlier_gene"))
    mut.join(inf, "driver_gene")
      .join(out, Seq("patient", "outlier_gene"))
      .select("driver_gene", "patient", "outlier_gene")
      .distinct()
  }

  /** Greedy driver selection. Returns (rank, driver_gene, events_covered)
    * with deterministic ties (max count, then lexicographic gene).
    * Mirrors .greedyGeneDriverSelection (DriverSelection.R:36-86) +
    * .deleteMutatedGene (:133-161). */
  def greedyDrivers(cov: DataFrame, maxDrivers: Int = 10): DataFrame = {
    val spark = cov.sparkSession
    import spark.implicits._
    var remaining = barrier(cov, "driverNet.remaining")
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var rank = 1
    var done = false
    while (rank <= maxDrivers && !done) {
      val top = remaining.groupBy("driver_gene").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("driver_gene"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val gene = top(0).getString(0)
        val n = top(0).getLong(1)
        picked += ((rank, gene, n))
        val covered = remaining.where(col("driver_gene") === gene)
          .select("patient", "outlier_gene")
        remaining = barrier(remaining.join(covered, Seq("patient", "outlier_gene"), "left_anti"),
          "driverNet.remaining")
        rank += 1
      }
    }
    picked.toSeq.toDF("rank", "driver_gene", "events_covered")
  }

  /** Fixed-depth twin of [[greedyDrivers]]: the k greedy iterations
    * unrolled into ONE declarative plan (exactly the shape the unrolled
    * SQL oracle uses), evaluated by a single action. The driver-loop
    * version pays a `collect` + eager checkpoint job per pick — ~2k
    * driver round-trips of pure scheduling latency for k picks; here
    * each pick is a 1-row `limit(1)` subplan. The shrinking relation is
    * referenced three times per level, so the raw tree grows 3^k — fine
    * for the small fixed depths this path is for (physical planning
    * collapses the repeats: identical exchange subtrees dedup via
    * ReuseExchange, so each level's shuffle runs once); beyond
    * `maxFusedDepth` callers should stay on the loop. Early exit is
    * implicit: an exhausted relation yields empty picks, matching the
    * loop's stop condition. Identical output (same (count desc, gene)
    * tie order).
    *
    * Measured at sf0.1 (same JVM, min of 3): loop 0.46 s, fused 1.01 s —
    * the loop's eagerly-checkpointed relation makes each level's filter a
    * cheap in-memory scan, while the fused plan re-derives the shrunken
    * relation per level (exchange reuse does not cover the broadcast-pick
    * chain). The registered query therefore stays on the loop; this path
    * exists for environments where driver round-trips dominate (remote
    * cluster, high-latency scheduler). */
  def greedyDriversFused(cov: DataFrame, maxDrivers: Int = 10): DataFrame = {
    var remaining = cov
    val picks = (1 to maxDrivers).map { rank =>
      val pick = remaining.groupBy("driver_gene")
        .agg(count(lit(1)).as("events_covered"))
        .orderBy(col("events_covered").desc, col("driver_gene"))
        .limit(1)
        .select(lit(rank).as("rank"), col("driver_gene"), col("events_covered"))
      if (rank < maxDrivers) {
        val covered = remaining
          .join(broadcast(pick.select("driver_gene")), "driver_gene")
          .select("patient", "outlier_gene")
        remaining = remaining
          .join(covered, Seq("patient", "outlier_gene"), "left_anti")
      }
      pick
    }
    picks.reduce(_ unionByName _)
  }

  /** Per-driver permutation p-values (ResultSummary.R:104-129: the
    * fraction of randomized runs whose best cover meets or beats the
    * observed cover, with the standard +1 correction so p is never 0). */
  def significance(drivers: DataFrame, nullTops: DataFrame): DataFrame = {
    val n = broadcast(nullTops.agg(count(lit(1)).as("__nperm")))
    drivers.join(broadcast(nullTops), col("top_cover") >= col("events_covered"),
        "left")
      .groupBy("rank", "driver_gene", "events_covered")
      .agg(count(col("top_cover")).as("__ge"))
      .crossJoin(n)
      .withColumn("p_value",
        round((col("__ge") + 1).cast("double") / (col("__nperm") + 1), 6))
      .drop("__ge", "__nperm")
  }

  /** Permutation significance: N seeded random relabelings of the mutation
    * gene column (SignificanceTest.R:28-74); the null statistic is the top
    * greedy cover size; p(driver) = fraction of null tops >= observed
    * (ResultSummary.R:104-129). The relabeling is an md5-derived permutation
    * so runs are reproducible (SURVEY §7.4 nondeterminism note). */
  def permutedTopCovers(mutations: DataFrame, outliers: DataFrame,
                        influence: DataFrame, nPerm: Int, seed: Long = 42L,
                        patCol: String = "patient", geneCol: String = "gene"): DataFrame = {
    val spark = mutations.sparkSession
    import org.apache.spark.sql.expressions.Window
    // ALL permutations in one plan: replicate the mutation rows per perm
    // index, then permute genes among rows inside each replica by pairing
    // two deterministic total orders — slot-by-md5-key for the gene column,
    // slot-by-(patient, gene) for the row. Windows are partitioned by perm
    // (parallelism = nPerm, and the reference runs hundreds of perms), so
    // nothing single-partitions; the round-2 shape ran nPerm sequential
    // jobs with a driver collect each — all scheduling overhead.
    val perms = spark.range(nPerm).select(col("id").cast("int").as("perm"))
    val keyed = mutations
      .select(col(patCol).cast("string").as("patient"), col(geneCol).as("gene"))
      .crossJoin(broadcast(perms))
      .withColumn("__k", md5(concat(lit(s"perm$seed:"), col("perm").cast("string"),
        lit(":"), col("patient"), lit(":"), col("gene"))))
    val byKey = Window.partitionBy("perm").orderBy(col("__k"), col("patient"), col("gene"))
    val byRow = Window.partitionBy("perm").orderBy(col("patient"), col("gene"))
    val slotted = keyed
      .withColumn("gslot", row_number().over(byKey))
      .withColumn("rslot", row_number().over(byRow))
    val permMut = slotted.select(col("perm"), col("gslot").as("slot"), col("gene"))
      .join(slotted.select(col("perm"), col("rslot").as("slot"), col("patient")),
        Seq("perm", "slot"))
    val inf = influence.select(col("gene_a").as("gene"), col("gene_b").as("outlier_gene"))
    val out = outliers.select(col(patCol).cast("string").as("patient"),
      col(geneCol).as("outlier_gene"))
    val cov = permMut.join(broadcast(inf), "gene")
      .join(out, Seq("patient", "outlier_gene"))
      .select(col("perm"), col("gene").as("driver_gene"),
        col("patient"), col("outlier_gene")).distinct()
    val tops = cov.groupBy("perm", "driver_gene").agg(count(lit(1)).as("n"))
      .groupBy("perm").agg(max(col("n")).as("top_cover"))
    perms.join(tops, Seq("perm"), "left")
      .select(col("perm"), coalesce(col("top_cover"), lit(0L)).as("top_cover"))
  }
}
