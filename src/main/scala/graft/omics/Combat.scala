package graft.omics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** ComBat batch-effect adjustment re-derived as pure DataFrame
  * aggregates + one scalar iterative solver
  * (MethylMix/ComBat_NoFiles.R:30-185; EB iteration it.sol :243-262;
  * hyperpriors aprior/bprior :236-239) — both the parametric EB path
  * and the nonparametric `par.prior=FALSE` route (int.eprior :268-289,
  * [[adjustPreJoinedNonParam]]).
  *
  * Long-form input (gene, sample, value) + a (sample, batch) map. All
  * moments are shuffle-once aggregates; the only non-SQL step is the
  * per-(gene,batch) empirical-Bayes fixed-point iteration, a scalar loop in
  * a UDF over one row per (gene,batch) — nothing data-sized ever reaches
  * the driver.
  */
object Combat {

  /** Standardized values z = (x - alpha_g)/sigma_g joined with batch
    * labels — the ComBat front half (ComBat_NoFiles.R:30-90), exposed
    * separately because it IS SQL-expressible and oracle-checkable. */
  def standardized(data: DataFrame, batches: DataFrame,
                   geneCol: String = "gene", sampleCol: String = "sample",
                   valueCol: String = "value", batchCol: String = "batch"): DataFrame =
    standardizedPreJoined(
      data.select(col(geneCol).as("gene"), col(sampleCol).as("sample"),
          col(valueCol).cast("double").as("value"))
        .join(batches.select(col(sampleCol).as("sample"), col(batchCol).as("batch")),
          "sample"))

  /** Same, over a long form that ALREADY carries the batch label — the
    * reference's natural input shape (ComBat takes a batch vector aligned
    * with the sample axis, i.e. the join is done upstream). Skipping the
    * sample-axis shuffle join matters when the label is derivable in the
    * projection. Expects columns gene/sample/value/batch. */
  def standardizedPreJoined(df0: DataFrame): DataFrame = {
    val df = df0.select(col("gene"), col("sample"),
      col("value").cast("double").as("value"), col("batch"))
    val geneStats = df.groupBy("gene")
      .agg(avg("value").as("alpha"), stddev_samp(col("value")).as("sigma"))
    df.join(geneStats, "gene")
      .withColumn("z", (col("value") - col("alpha")) /
        when(col("sigma") > 0, col("sigma")))
  }

  /** Per-(gene,batch) batch-effect moments over the standardized values. */
  def batchMoments(z: DataFrame): DataFrame =
    z.groupBy("gene", "batch")
      .agg(avg("z").as("gamma_hat"), var_samp(col("z")).as("delta2_hat"),
        count(lit(1)).as("n"))

  /** @return input rows with an extra `adjusted` column. */
  def adjust(data: DataFrame, batches: DataFrame,
             geneCol: String = "gene", sampleCol: String = "sample",
             valueCol: String = "value", batchCol: String = "batch",
             maxIter: Int = 100): DataFrame =
    adjustStandardized(
      standardized(data, batches, geneCol, sampleCol, valueCol, batchCol), maxIter)

  /** ComBat over a pre-joined long form (gene, sample, value, batch). */
  def adjustPreJoined(df: DataFrame, maxIter: Int = 100): DataFrame =
    adjustStandardized(standardizedPreJoined(df), maxIter)

  /** The hash-verifiable twin of [[adjustPreJoined]]: the same EB
    * adjustment re-expressed so every aggregate is an exact decimal sum
    * (order-independent ⇒ bit-identical across engines) and the EB fixed
    * point runs exactly `iters` steps with no convergence exit — a
    * closed-form function of the data that q_combat_fixed's DuckDB oracle
    * replays term for term. Differences from the converged path are
    * quantization-only: standardized z is rounded to 6 decimals before
    * the (gene,batch) moments, the moments are rounded to 12 decimals
    * before the cross-gene priors, and gene mean/sd come from exact raw
    * sums instead of avg/stddev_samp. OmicsKernelSpec pins the two paths
    * within tolerance of each other. Assumes |gamma_hat|, |delta2_hat|
    * < 100 (true for standardized data by construction — the priors sum
    * over a DECIMAL(14,12) lattice). */
  def adjustPreJoinedFixed(df0: DataFrame, iters: Int = 40): DataFrame = {
    val (z, gbFull) = fixedStandardizedMoments(df0)
    val gb = gbFull.drop("sz", "szz")
    val gq = col("gamma_hat").cast("decimal(14,12)")
    val dq = col("delta2_hat").cast("decimal(14,12)")
    // the SQUARED sums carry scale 24, and a scale-24 decimal→double cast
    // is not correctly rounded in both engines (numerator > 2^53 and
    // 10^24 is not double-exact: DuckDB's conversion landed 1 ulp off
    // Spark's BigDecimal for 2 of 6 sums at sf0.1, shifting the priors of
    // their whole batches). Rounding to scale 12 first is an exact
    // decimal op with the same half-up rule on both sides, and from
    // scale 12 (numerator ~1e10, 10^12 double-exact) the cast is an
    // exact division — bit-identical. The scale-12/6/2 sums (sg, sd, sz,
    // s1) are already in the safe domain.
    val priors = gb.groupBy("batch").agg(
        count(lit(1)).as("k"),
        sum(gq).cast("double").as("sg"),
        sum(gq * gq).cast("decimal(38,12)").cast("double").as("sgg"),
        count(col("delta2_hat")).as("kd"),
        sum(dq).cast("double").as("sd"),
        sum(dq * dq).cast("decimal(38,12)").cast("double").as("sdd"))
      .withColumn("gamma_bar", col("sg") / col("k"))
      .withColumn("tau2", when(col("k") > 1,
        (col("sgg") - col("sg") * col("sg") / col("k")) / (col("k") - 1)))
      .withColumn("d_mean", col("sd") / col("kd"))
      .withColumn("d_var", when(col("kd") > 1,
        (col("sdd") - col("sd") * col("sd") / col("kd")) / (col("kd") - 1)))
      .withColumn("lambda", lit(2.0) + col("d_mean") * col("d_mean") /
        when(col("d_var") > 0, col("d_var")))
      .withColumn("theta", col("d_mean") * (col("lambda") - 1))
      .select("batch", "gamma_bar", "tau2", "d_mean", "lambda", "theta")
    val eb = gb.join(priors, "batch")
      .withColumn("__d2", coalesce(col("delta2_hat"), col("d_mean"), lit(1.0)))
      .withColumn("__tau2", coalesce(col("tau2"), lit(0.0)))
      .withColumn("__eb", ebSolve(iters, 0.0)(col("gamma_hat"), col("__d2"),
        col("n"), col("gamma_bar"), col("__tau2"), col("lambda"), col("theta")))
      .select(col("gene"), col("batch"),
        col("__eb").getItem(0).as("gamma_star"),
        col("__eb").getItem(1).as("delta2_star"))
    z.join(eb, Seq("gene", "batch"))
      .withColumn("adjusted",
        col("sigma") * (col("z") - col("gamma_star")) /
          sqrt(col("delta2_star")) + col("alpha"))
      // same string-free quantizer as z6/moments (see above) — at
      // |adjusted| ~ 1e5 a double's ulp is 1.5e-11, so a spelling
      // difference there can even straddle the 6-decimal output grid
      .select(col("gene"), col("sample"), col("batch"), col("value"),
        (floor(col("adjusted") * lit(1e6) + lit(0.5)) / lit(1e6)).as("adjusted"))
  }

  /** The bit-replayable standardization front half shared by
    * [[adjustPreJoinedFixed]] and [[adjustPreJoinedNonParamFixed]]:
    * exact-decimal gene sums → alpha/sigma, quantized z (z6), then
    * per-(gene,batch) exact sufficient sums (n, sz, szz) and quantized
    * moments. Returns (z relation materialized — it feeds both the
    * moments and the final adjustment — and the (gene,batch) relation with
    * sz/szz retained for consumers that need the sufficient stats). */
  private def fixedStandardizedMoments(df0: DataFrame): (DataFrame, DataFrame) = {
    val df = df0.select(col("gene"), col("sample"),
      col("value").cast("double").as("value"), col("batch"))
    // exact 2-decimal raw sums -> alpha/sigma are deterministic doubles
    val v = col("value").cast("decimal(18,2)")
    val geneStats = df.groupBy("gene").agg(
        count(col("value")).as("n_g"),
        sum(v).cast("double").as("s1"),
        sum(v * v).cast("double").as("s2"))
      .withColumn("alpha", col("s1") / col("n_g"))
      .withColumn("sigma", when(col("n_g") > 1, sqrt(greatest(
        (col("s2") - col("s1") * col("s1") / col("n_g")) / (col("n_g") - 1),
        lit(0.0)))))
      .drop("n_g", "s1", "s2")
    // string-free quantizers, NOT round(): Spark round goes through
    // BigDecimal.valueOf = Double.toString, and pre-19 Java toString is
    // occasionally non-shortest, so Spark and the oracle's varchar-parse
    // can round two different decimal SPELLINGS of the same double onto
    // different grid points (observed at sf0.1: two of 150 gamma_hat
    // cells straddled, shifting their whole batches through the priors).
    // floor(x*g+0.5)/g is the same IEEE sequence on both engines; the
    // subsequent DECIMAL casts of already-quantized doubles are safe
    // (spelling noise ~ulp << half the decimal grid).
    val z = barrier(df.join(geneStats, "gene")
      .withColumn("z", (col("value") - col("alpha")) /
        when(col("sigma") > 0, col("sigma")))
      .withColumn("z6", quant(col("z"), 1e6)), "combat.z")
    val zd = col("z6").cast("decimal(17,6)")
    val gb = z.groupBy("gene", "batch").agg(
        count(col("z6")).as("n"),
        sum(zd).cast("double").as("sz"),
        // szz carries decimal scale 12 and its value grows with the cell
        // size n, so the decimal→double numerator (value×10^12) crosses
        // 2^53 around n ≈ 10^4.5 — the proven 1-ulp conversion seam
        // (see the priors note in adjustPreJoinedFixed). Rounding to
        // scale 8 in decimal domain first keeps the conversion exact up
        // to n ≈ 9·10^7 samples per (gene,batch) cell; the 1e-8
        // quantization is far inside delta2_hat's own 1e-12 output grid
        // divided by n. The raw 2-decimal s2 gene sums above face the
        // same seam only when sum magnitude × 10^4 nears 2^53 (n_g ≈
        // 10^6 price-scale rows per gene) — a centered-sum
        // (Welford-style) formulation would extend that envelope if
        // ever needed.
        round(sum(zd * zd), 8).cast("double").as("szz"))
      .withColumn("gamma_hat", quant(col("sz") / col("n"), 1e12))
      .withColumn("delta2_hat", when(col("n") > 1, quant(
        (col("szz") - col("sz") * col("sz") / col("n")) / (col("n") - 1), 1e12)))
    (z, gb)
  }

  private def quant(c: org.apache.spark.sql.Column, g: Double) =
    floor(c * lit(g) + lit(0.5)) / lit(g)

  /** Nonparametric-prior ComBat (the reference's `par.prior=FALSE` route,
    * ComBat_NoFiles.R int.eprior:268-289): instead of the parametric
    * normal/inverse-gamma EB fixed point, each gene's batch effects are
    * the likelihood-weighted Monte-Carlo average of every OTHER gene's
    * raw estimates within the batch —
    *   LH(i,j) = (2π·d_j)^(-n_i/2) · exp(−Σ_s (z_is − g_j)² / (2·d_j)),
    *   g*_i = Σ_j g_j·LH / Σ_j LH,  d*_i = Σ_j d_j·LH / Σ_j LH  (j ≠ i).
    *
    * Spark-first shape: the inner sum factors through per-cell
    * sufficient stats — Σ_s (z_is − g_j)² = SZZ_i − 2·g_j·SZ_i + n_i·g_j²
    * — so the integration is a within-batch join of two GENE-dimension
    * relations (never the sample-level data), O(G²) pairs per batch by
    * the algorithm's own definition, partitioned on (batch, gene).
    * Weights are computed in log space and max-normalized per gene
    * (log-sum-exp), so large-n cells that underflow the reference's raw
    * likelihoods (every LH → 0 → NaN) stay well-defined here; cells with
    * d_j NULL/≤0 are excluded, matching the reference's NaN-LH → 0 drop.
    * A (gene,batch) with no valid partner keeps its rows with a NULL
    * `adjusted` (the reference emits NaN there). */
  def adjustPreJoinedNonParam(df0: DataFrame): DataFrame = {
    val df = df0.select(col("gene"), col("sample"),
      col("value").cast("double").as("value"), col("batch"))
    val z = barrier(standardizedPreJoined(df), "combat.z")
    val gb = z.groupBy("gene", "batch").agg(
      count(col("z")).as("n"), sum(col("z")).as("sz"),
      sum(col("z") * col("z")).as("szz"),
      avg(col("z")).as("gamma_hat"), var_samp(col("z")).as("delta2_hat"))
    val star = nonParamStars(gb, fixed = false)
    z.join(star, Seq("gene", "batch"), "left")
      .withColumn("adjusted",
        col("sigma") * (col("z") - col("gamma_star")) /
          sqrt(col("delta2_star")) + col("alpha"))
      .select(col("gene"), col("sample"), col("batch"), col("value"),
        round(col("adjusted"), 6).as("adjusted"),
        col("gamma_star"), col("delta2_star"))
  }

  /** The hash-verifiable twin of [[adjustPreJoinedNonParam]] (same recipe
    * as [[adjustPreJoinedFixed]]): exact-decimal standardization and
    * moments, per-pair log-likelihoods quantized to the 1e-6 grid
    * immediately after the transcendental (libm ln/exp differ across
    * engines in the last ulp), max-normalized weights floored to LONG
    * micro-units, and weighted sums as exact decimal×long products — so
    * every aggregate is order-independent and the DuckDB oracle replays
    * the computation term for term with no iteration unroll (int.eprior
    * is closed-form). */
  def adjustPreJoinedNonParamFixed(df0: DataFrame): DataFrame = {
    val (z, gb) = fixedStandardizedMoments(df0)
    val star = nonParamStars(gb, fixed = true)
    z.join(star, Seq("gene", "batch"), "left")
      .select(col("gene"), col("sample"), col("batch"), col("value"),
        quant(col("sigma") * (col("z") - col("gamma_star")) /
          sqrt(col("delta2_star")) + col("alpha"), 1e6).as("adjusted"))
  }

  /** Shared int.eprior core over a (gene, batch, n, sz, szz, gamma_hat,
    * delta2_hat) relation → (gene, batch, gamma_star, delta2_star).
    * `fixed = true` adds the cross-engine determinism discipline (q6
    * log-likelihoods, micro-unit LONG weights, decimal weighted sums);
    * `fixed = false` keeps full double precision for the production
    * path. */
  private def nonParamStars(gb: DataFrame, fixed: Boolean): DataFrame = {
    val iSide = gb.select(col("gene"), col("batch"), col("n"),
      col("sz"), col("szz"))
    val jSide = gb.where(col("delta2_hat").isNotNull && col("delta2_hat") > 0)
      .select(col("gene").as("gene_j"), col("batch"),
        col("gamma_hat").as("g_j"), col("delta2_hat").as("d_j"))
    // log LH via the sufficient-stat factorization; expression order is
    // mirrored verbatim in the oracle SQL (identical IEEE sequences)
    val rawL = -(col("n") / lit(2.0)) * log(lit(2.0 * math.Pi) * col("d_j")) -
      (col("szz") - lit(2.0) * col("g_j") * col("sz") +
        col("n") * col("g_j") * col("g_j")) / (lit(2.0) * col("d_j"))
    // the j-universe is the (gene,batch) moments relation — gene-dim
    // sized by construction — while `batch` has only a handful of keys,
    // so a shuffle join would hash all G² pairs through B partitions.
    // Broadcasting the dim side keeps the expansion parallelism on the
    // i-side partitioning instead of the batch-key count.
    val pairs = iSide.join(broadcast(jSide), "batch")
      .where(col("gene") =!= col("gene_j"))
      .withColumn("l", if (fixed) quant(rawL, 1e6) else rawL)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("batch", "gene")
    val weighted = pairs
      .withColumn("m", max(col("l")).over(w))
      .withColumn("w",
        if (fixed) floor(exp(col("l") - col("m")) * lit(1e6) + lit(0.5)).cast("long")
        else exp(col("l") - col("m")))
    if (fixed) {
      // decimal×long products sum exactly (order-independent); rounding
      // the scale-12 sums to 6 in decimal domain first keeps the
      // decimal→double cast under the 2^53 seam (|g|,|d| < 1e3 ⇒ sums
      // < 5e10 ⇒ ×1e6 < 2^53)
      val gd = col("g_j").cast("decimal(16,12)")
      val dd = col("d_j").cast("decimal(16,12)")
      weighted.groupBy("gene", "batch").agg(
          sum(col("w")).as("sw"),
          round(sum(gd * col("w")), 6).cast("double").as("sgw"),
          round(sum(dd * col("w")), 6).cast("double").as("sdw"))
        .where(col("sw") > 0)
        .select(col("gene"), col("batch"),
          (col("sgw") / col("sw").cast("double")).as("gamma_star"),
          (col("sdw") / col("sw").cast("double")).as("delta2_star"))
    } else {
      weighted.groupBy("gene", "batch").agg(
          sum(col("w")).as("sw"),
          sum(col("g_j") * col("w")).as("sgw"),
          sum(col("d_j") * col("w")).as("sdw"))
        .where(col("sw") > 0)
        .select(col("gene"), col("batch"),
          (col("sgw") / col("sw")).as("gamma_star"),
          (col("sdw") / col("sw")).as("delta2_star"))
    }
  }

  /** EB shrinkage fixed-point per (gene,batch) row
    * (ComBat_NoFiles.R:243-262). tol <= 0 disables the early exit —
    * exactly maxIter steps, the replayable form. */
  private def ebSolve(maxIter: Int, tol: Double) =
    udf((gammaHat: Double, delta2Hat: Double, n: Long,
         gammaBar: Double, tau2: Double,
         lambda: java.lang.Double, theta: java.lang.Double) => {
      val lam = Option(lambda).map(_.doubleValue).getOrElse(2.0)
      val th = Option(theta).map(_.doubleValue).getOrElse(delta2Hat)
      var g = gammaHat
      var d2 = math.max(delta2Hat, 1e-8)
      var i = 0
      var done = false
      while (i < maxIter && !done) {
        val gNew =
          if (tau2 > 0) (n * tau2 * gammaHat + d2 * gammaBar) / (n * tau2 + d2)
          else gammaBar
        val ss = (n - 1).toDouble * delta2Hat + n * (gammaHat - gNew) * (gammaHat - gNew)
        val d2New = math.max((th + 0.5 * ss) / (n / 2.0 + lam - 1.0), 1e-8)
        if (tol > 0 && math.abs(gNew - g) + math.abs(d2New - d2) < tol) done = true
        g = gNew; d2 = d2New
        i += 1
      }
      Array(g, d2)
    })

  private def adjustStandardized(z0: DataFrame, maxIter: Int): DataFrame = {
    // z feeds both the (gene,batch) moments and the final adjustment —
    // materialize it so the standardization join is not recomputed (the
    // plan audit showed the duplicated subtree doubling the exchange count)
    val z = barrier(z0, "combat.z")
    val gb = batchMoments(z)

    // 3. per-batch hyperpriors across genes (ComBat_NoFiles.R:236-239):
    //    gamma ~ N(gamma_bar, tau2); delta2 ~ InvGamma(lambda, theta) by
    //    method of moments on the delta2_hat distribution
    val priors = gb.groupBy("batch").agg(
      avg("gamma_hat").as("gamma_bar"), var_samp(col("gamma_hat")).as("tau2"),
      avg("delta2_hat").as("d_mean"), var_samp(col("delta2_hat")).as("d_var"))
      .withColumn("lambda", (lit(2.0) + col("d_mean") * col("d_mean") /
        when(col("d_var") > 0, col("d_var"))))
      .withColumn("theta", (col("d_mean") * (col("lambda") - 1)))

    // 4. EB shrinkage: fixed-point iteration per (gene,batch) row
    // (shared solver; maxIter was previously ignored — an inline copy
    // hardcoded 100 iterations)

    // NULL moments happen at the edges: var_samp is NULL when a (gene,batch)
    // cell has n=1 (fall back to the batch's pooled delta2 mean, then 1.0),
    // and tau2/lambda/theta are NULL when a batch has a single gene (tau2→0
    // is exact there: gamma_bar over one gene IS gamma_hat, so the
    // no-variance branch returns the unshrunk estimate). Without these
    // coalesces the primitive-typed UDF params would silently NULL the
    // whole `adjusted` column for those rows.
    val eb = gb.join(priors, "batch")
      .withColumn("__d2", coalesce(col("delta2_hat"), col("d_mean"), lit(1.0)))
      .withColumn("__tau2", coalesce(col("tau2"), lit(0.0)))
      .withColumn("__eb", ebSolve(maxIter, 1e-10)(col("gamma_hat"), col("__d2"),
        col("n"), col("gamma_bar"), col("__tau2"), col("lambda"), col("theta")))
      .select(col("gene"), col("batch"),
        col("__eb").getItem(0).as("gamma_star"),
        col("__eb").getItem(1).as("delta2_star"))

    // 5. adjust: sigma * (z - gamma*) / sqrt(delta2*) + alpha.
    // The EB parameters ride along after `adjusted`: they are the
    // converged fixed point itself, which makes the output externally
    // certifiable — an independent engine can recompute the moments,
    // apply ONE more EB step to (gamma_star, delta2_star), and check the
    // residual is ~0 (the q_combat residual oracle does exactly this).
    z.join(eb, Seq("gene", "batch"))
      .withColumn("adjusted",
        col("sigma") * (col("z") - col("gamma_star")) /
          sqrt(col("delta2_star")) + col("alpha"))
      .select(col("gene"), col("sample"), col("batch"), col("value"),
        round(col("adjusted"), 6).as("adjusted"),
        col("gamma_star"), col("delta2_star"))
  }
}
