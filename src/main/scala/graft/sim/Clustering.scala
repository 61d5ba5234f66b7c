package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Deterministic distributed k-means over an embedding column — corpus
  * clustering for diversity analysis and cluster-balanced sampling (the
  * mixture-shaping step a pre-training pipeline runs between dedup and
  * split: cap or re-weight over-represented semantic clusters the way
  * `Sampling.domainQuota` caps over-represented domains).
  *
  * Built for CROSS-ENGINE replayability, the same discipline as the
  * ComBat/hclust kernels: input vectors are quantized once onto the 1e-6
  * grid, centroid updates are EXACT decimal sums divided by exact counts
  * (order-independent ⇒ bit-identical in any engine), and per-iteration
  * distances are fixed-order left folds over the dimension axis — so a
  * DuckDB oracle unrolls the whole fit term for term and the gate
  * hash-compares assignments, not just counts. Ties in the argmin break
  * on the smaller cluster id; initial centroids are the k vectors with
  * the smallest md5(seed:id), numbered in that hash order.
  *
  * Scale shape: each iteration is one zero-shuffle assignment pass (the
  * k×dim centroid table is a PLAN-TIME literal — no join, no broadcast
  * exchange, whole-stage codegen) plus one per-(cluster, dim) aggregate
  * (map-side partial combine; k·dim tiny output). Driver state is the
  * k×dim centroid matrix — never row data. The vectors frame is
  * materialized once and re-read per iteration. */
object Clustering {

  /** 1e-6-grid quantization — the once-per-pipeline rounding that makes
    * every downstream centroid/distance replayable cross-engine. */
  private[sim] def grid(c: Column): Column =
    floor(c.cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)

  /** (min squared-distance, winning cluster) struct over a plan-carried
    * centroid matrix; ties break on the smaller id. Compiled kernel
    * ([[graft.catalyst.KmeansArgminExpr]]) — the former declarative
    * `array_min(array(struct(aggregate(zip_with(...)))))` allocated k
    * zipped arrays PER ROW per iteration; the kernel is one bulk copy +
    * a fused loop with bit-identical fold order, so every oracle
    * replays unchanged. */
  private[sim] def assignCols(v: Column,
                              cs: Array[Array[Double]]): Column =
    graft.catalyst.ArrayFunctions.kmeansArgmin(v, cs)

  /** Exactly `iters` Lloyd rounds over an (id, v) frame of GRIDDED
    * vectors; returns the k centroids. Deterministic and cross-engine
    * exact (see object scaladoc); shared by [[kmeansAssign]] and the
    * per-subspace product-quantization codebook fits ([[Pq]]). */
  private[graft] def lloydFit(vecs: DataFrame, k: Int, iters: Int,
                            seed: Long): Array[Array[Double]] = {
    // deterministic init: k smallest md5(seed:id), cluster = hash rank
    var centroids: Array[Array[Double]] = vecs
      .select(col("id"), col("v"),
        md5(concat(lit(s"km$seed:"), col("id").cast("string"))).as("h"))
      .orderBy(col("h"), col("id")).limit(k)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(centroids.length == k,
      s"lloydFit: need at least k=$k input rows")
    var i = 0
    while (i < iters) {
      val assigned = vecs
        .withColumn("__m", assignCols(col("v"), centroids))
        .select(col("id"), col("v"), col("__m").getField("c").as("cluster"))
      // exact per-(cluster, dim) mean: grid values cast to DECIMAL are
      // exact, the decimal sum is order-independent, and sum/count is one
      // IEEE division of identical operands in any engine. The k·dim
      // result rows assemble into per-cluster arrays on the DRIVER (the
      // lloydFitMulti shape) — a second collect_list/sort_array groupBy
      // here was one extra exchange per iteration for a k·dim-row
      // relation (measured as part of q_embedding_outliers' job floor).
      val updated = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg((sum(col("x").cast("decimal(24,6)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      // an empty cluster keeps its previous centroid
      centroids = Array.tabulate(k)(j => updated.getOrElse(j, centroids(j)))
      i += 1
    }
    centroids
  }

  /** GROUPED Lloyd fit: exactly `iters` rounds over a (g, id, v) frame
    * holding `groups` independent vector populations (g ∈ [0, groups)),
    * each seeded at seedBase + g — bit-identical to running [[lloydFit]]
    * once per group, but in ONE job per stage instead of one per group
    * per stage. This is the product-quantization codebook-fit shape: m
    * subspace fits are m tiny driver actions each under the sequential
    * version (the round-8 q_ann_ivfpq plan ran ~15 jobs for 5 fits —
    * a fixed job-launch floor, not a data cost), here collapsed to
    * 1 init job + 1 job per iteration.
    *
    * Exactness: per-group init ranks md5("km{seeds(g)}:id") with a
    * row_number window (≡ the single fit's orderBy-limit), and the
    * update aggregates the SAME exact-decimal sums per (g, cluster,
    * dim) — grouping by g changes job count, not any group's operands.
    * The assignment is a when-chain over per-group plan-time centroid
    * literals, so each row evaluates exactly its own group's argmin.
    * Groups may carry different vector widths (IVF-PQ fuses the
    * full-width coarse quantizer in as its last group, each under its
    * own seed from `seeds`). */
  private[graft] def lloydFitMulti(vecs: DataFrame, k: Int, iters: Int,
                                 seeds: IndexedSeq[Long]): IndexedSeq[Array[Array[Double]]] = {
    import org.apache.spark.sql.expressions.Window
    val groups = seeds.length
    val w = Window.partitionBy(col("g")).orderBy(col("h"), col("id"))
    val seedStr = element_at(lit(seeds.map(_.toString).toArray),
      col("g") + 1)
    val initRows = vecs
      .select(col("g"), col("id"), col("v"),
        md5(concat(lit("km"), seedStr, lit(":"),
          col("id").cast("string"))).as("h"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("g", "rn", "v").collect()
    val cents = Array.ofDim[Array[Double]](groups, k)
    initRows.foreach { r =>
      cents(r.getInt(0))(r.getInt(1) - 1) = r.getSeq[Double](2).toArray
    }
    (0 until groups).foreach { g =>
      require(!cents(g).contains(null),
        s"lloydFitMulti: group $g has fewer than k=$k input rows")
    }
    var i = 0
    while (i < iters) {
      val assign = (1 until groups).foldLeft(
        when(col("g") === 0, assignCols(col("v"), cents(0)))) { (acc, g) =>
        acc.when(col("g") === g, assignCols(col("v"), cents(g)))
      }
      val updated = vecs
        .withColumn("cluster", assign.getField("c"))
        .select(col("g"), col("cluster"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("g", "cluster", "dim")
        .agg((sum(col("x").cast("decimal(24,6)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }
      (0 until groups).foreach { g =>
        cents(g) = Array.tabulate(k)(j =>
          updated.getOrElse((g, j), cents(g)(j)))
      }
      i += 1
    }
    (0 until groups).map(cents(_))
  }

  /** @return (id, cluster, dist) — squared-euclidean distance to the
    *         winning centroid after exactly `iters` assignment/update
    *         rounds, rounded to 6 decimals. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int = 8, iters: Int = 4, seed: Long = 42L): DataFrame = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    val vecs = barrier(df.select(col(idCol).as("id"),
        transform(col(vecCol), x => grid(x)).as("v")), "clustering.vecs")
    val centroids = lloydFit(vecs, k, iters, seed)
    vecs.withColumn("__m", assignCols(col("v"), centroids))
      .select(col("id"), col("__m").getField("c").as("cluster"),
        round(col("__m").getField("d"), 6).as("dist"))
  }

  /** Public fit face of [[lloydFit]]: grid + checkpoint + fit, returning
    * the centroid matrix (driver state: k×dim doubles) — what an
    * incremental pipeline persists between runs next to the per-cluster
    * counts. */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
                iters: Int, seed: Long): Array[Array[Double]] = {
    val vecs = barrier(df.select(col(idCol).as("id"),
        transform(col(vecCol), x => grid(x)).as("v")), "clustering.vecs")
    lloydFit(vecs, k, iters, seed)
  }

  /** Assignment against an EXPLICIT centroid matrix (no fit): the read
    * side of the persisted-centroid workflow. Same output contract as
    * [[kmeansAssign]]. */
  def kmeansAssignWith(df: DataFrame, idCol: String, vecCol: String,
                       centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol).as("id"),
        transform(col(vecCol), x => grid(x)).as("v"))
      .withColumn("__m", assignCols(col("v"), centroids))
      .select(col("id"), col("__m").getField("c").as("cluster"),
        round(col("__m").getField("d"), 6).as("dist"))

  /** Embedding-outlier report: cluster the corpus, then flag vectors
    * whose distance to their own centroid is ≥ `zThreshold` standard
    * deviations above the cluster's mean distance — the cheap "this
    * embedding is junk / mislabeled / out-of-distribution" detector that
    * runs before any manual corpus triage.
    *
    * Exactness: distances come out of [[kmeansAssign]] already on the
    * 1e-6 grid, so the per-cluster moment sums are exact DECIMAL
    * arithmetic (order-independent) recovered to double once; the
    * z-score is then a fixed IEEE sequence — the whole report
    * hash-gates. Clusters with < 2 members (sd undefined) emit nothing.
    *
    * Scale shape: one assignment pass + one k-row moment aggregate
    * broadcast back onto the assignment — no extra corpus shuffle. */
  def clusterOutliers(df: DataFrame, idCol: String, vecCol: String,
                      k: Int = 8, iters: Int = 4, seed: Long = 42L,
                      zThreshold: Double = 2.0): DataFrame = {
    // NO checkpoint on the assignment: it is zero-shuffle codegen over
    // the already-checkpointed gridded vectors, so recomputing it for
    // the second consumer is cheaper than the checkpoint's eager job
    // (the r10→r11 q_embedding_outliers floor trim; single-consumer/
    // cheap-subtree checkpoints also hide exchanges from the plan audit)
    val a = kmeansAssign(df, idCol, vecCol, k, iters, seed)
    val d6 = col("dist").cast("decimal(13,6)")
    val moms = a.groupBy("cluster").agg(
      count(lit(1)).as("n"),
      sum(d6).cast("double").as("s1"),
      sum(d6 * d6).cast("double").as("s2"))
    val nD = col("n").cast("double")
    val stats = moms
      .withColumn("mu", col("s1") / nD)
      .withColumn("var",
        (col("s2") - nD * col("mu") * col("mu")) / (nD - 1.0))
      .where(col("n") > 1 && col("var") > 0)
      .select(col("cluster"), col("mu"), sqrt(col("var")).as("sd"))
    a.join(broadcast(stats), "cluster")
      .withColumn("z", (col("dist") - col("mu")) / col("sd"))
      .where(col("z") >= zThreshold)
      .select(col("id"), col("cluster"), col("dist"),
        round(col("z"), 6).as("z"))
  }

  /** Incremental centroid maintenance (mini-batch k-means update): assign
    * a NEW batch to the persisted centroids and move each centroid to the
    * exact weighted mean of (old centroid × old count) and the batch's
    * members — per-ingest cost rides the batch, never the corpus, the
    * same contract as the incremental dedup/profile tiers. One
    * zero-shuffle assignment pass (plan-time centroid literals) plus a
    * (k·dim)-row aggregate; the k-row centroid table broadcasts back.
    * Exact arithmetic throughout (decimal batch sums; the weighted-mean
    * division has identical operands in any engine), so the update
    * replays in the oracle.
    *
    * @param centroids persisted centroid matrix (1e-6-grid domain)
    * @param counts    persisted per-cluster member counts
    * @return one row per cluster: (cluster, n_prev, n_new, n_total,
    *         centroid rounded 6); clusters the batch never touches keep
    *         their centroid verbatim. */
  def kmeansIncrement(newBatch: DataFrame, idCol: String, vecCol: String,
                      centroids: Array[Array[Double]],
                      counts: Array[Long]): DataFrame = {
    require(centroids.length == counts.length,
      "centroids and counts must align")
    val spark = newBatch.sparkSession
    import spark.implicits._
    val vecs = newBatch.select(col(idCol).as("id"),
      transform(col(vecCol), x => grid(x)).as("v"))
    val assigned = vecs.withColumn("cluster",
      assignCols(col("v"), centroids).getField("c"))
    val sums = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(sum(col("x").cast("decimal(24,6)")).cast("double").as("s"),
        count(lit(1)).as("nn"))
    val cent = centroids.zipWithIndex
      .map { case (cv, j) => (j, cv.toSeq, counts(j)) }
      .toSeq.toDF("cluster", "cv", "n_prev")
    val upd = sums
      .join(broadcast(cent), Seq("cluster"))
      .withColumn("m",
        (col("n_prev").cast("double") * element_at(col("cv"), col("dim") + 1)
          + col("s")) / (col("n_prev") + col("nn")).cast("double"))
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"),
        max(col("nn")).as("n_new"))
      .select(col("cluster"), col("n_new"),
        transform(col("dm"), e => e.getField("m")).as("cv2"))
    cent.join(upd, Seq("cluster"), "left")
      .select(col("cluster"), col("n_prev"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (col("n_prev") + coalesce(col("n_new"), lit(0L))).as("n_total"),
        transform(coalesce(col("cv2"), col("cv")), x => round(x, 6))
          .as("centroid"))
  }

  /** Cluster occupancy profile: size and share per cluster — the input
    * to a rebalancing policy (compose with `Sampling.domainQuota` on the
    * cluster label to cap over-represented clusters). */
  def clusterProfile(assignments: DataFrame): DataFrame = {
    val total = assignments.count().toDouble
    assignments.groupBy("cluster")
      .agg(count(lit(1)).as("size"))
      .withColumn("share", round(col("size") / lit(total), 6))
  }

  /** SemDeDup-style semantic deduplication: k-means partitions the
    * embedding space, then cosine near-duplicate pruning runs ONLY
    * within each cluster — a vector keeps its place unless an
    * earlier-id vector in the SAME cluster is within `threshold` cosine.
    * This is the scale path next to the declared all-pairs exactness
    * baseline (`Similarity.cosineNearDupPairs`): the quadratic scoring
    * is confined to cluster cells, so corpus-level cost is Σ|cell|²
    * instead of n² — with k sized so cells stay bounded (SemDeDup uses
    * k that scales with n; an adversarially hot cell degrades gracefully to that
    * cell's pairs only, and the [[graft.ops.Skew]] sub-salt pattern
    * applies if one cell dominates).
    *
    * Deterministic contract (oracle-replayable end to end): the k-means
    * fit is the exact-replay [[kmeansAssign]]; the pruning rule is
    * "dup of the SMALLEST earlier id with cos ≥ threshold", so output
    * is a pure function of the data — no dependence on join order.
    *
    * Shape: one equi-join of the assignment relation with itself on the
    * cluster id (a.id < b.id), cosine scored by the native codegen
    * expression, then a min aggregate on the later id. No broadcast of
    * the corpus, no all-pairs exchange.
    *
    * Output: (id, cluster, pruned, dup_of, dup_cos) — dup_of/dup_cos
    * NULL for survivors; dup_cos is the cosine to dup_of, rounded 6. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, k: Int = 8, iters: Int = 4,
                    seed: Long = 42L): DataFrame = {
    val assigns = kmeansAssign(df, idCol, vecCol, k, iters, seed)
      .select(col("id"), col("cluster"))
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val av = assigns.join(vecs, "id")
    val dups = av.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      .join(av.select(col("cluster"), col("id").as("id_b"), col("v").as("vb")),
        Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .where(col("cos") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min(struct(col("id_a"), col("cos"))).as("m"))
      .select(col("id"), col("m.id_a").as("dup_of"),
        round(col("m.cos"), 6).as("dup_cos"))
    assigns.join(dups, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        col("dup_of").isNotNull.as("pruned"), col("dup_of"), col("dup_cos"))
  }
}
