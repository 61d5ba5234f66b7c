package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** ABCD-DNA composed end to end (Robinson_method/R/run_ABCD-DNA.R:26-81 +
  * Figures_3_5_normalize_ROC.R:88-139 + preprocess.R:22-26):
  *
  *   1. genome bins × CN segments via the interval-overlap join with the
  *      `findOverlaps(..., select="first")` representative (lowest
  *      segment index), assigning each bin its copy number;
  *   2. per-CN-group normalization factor: M/A log-ratios between the
  *      two conditions, keep bins above the group's high-abundance cut,
  *      median M (the `f.by.cn[i] <- median(map$M[map$A>q])` loop,
  *      run_ABCD-DNA.R:50-66);
  *   3. CN-aware offsets `o = getOffset(d) + log(cn)` (:71-78) — here
  *      ln(1 + tax) + ln(cn/2) + ln(2)·f[cn];
  *   4. fixed-iteration NB-GLM per bin (glmFit/glmLRT :67-80, the
  *      q_glm_nb_fixed 8-step IRLS twin — fixed steps make the whole
  *      fit a closed-form recurrence a SQL oracle unrolls);
  *   5. the z-rank-equivalent score sign(logFC)·LRT (the reference's
  *      `glmz = -sign(logFC)·|qnorm(p/2)|` :80 orders bins identically,
  *      since |qnorm(p/2)| is monotone in the LRT at fixed df — the
  *      qnorm tail itself stays kernel-side, Dist goldens cover it) and
  *      the ROC AUC against a truth partition in Mann-Whitney rank form
  *      (Figures_3_5:188-236).
  *
  * NOT a port: the reference manipulates whole count matrices in
  * memory; here the corpus is touched twice (the M/A aggregate and the
  * per-bin GLM groups) and everything between is bin/segment-sized and
  * broadcast. Determinism: medians/cuts quantize to the 1e-6 grid
  * immediately (IRLS is contractive, absorbing remaining ulp drift —
  * the q_glm_nb_fixed precedent), the score is built from the ROUNDED
  * GLM outputs so rank comparisons are exact, and the AUC is the exact
  * rank-sum rational. */
object Abcd {

  private def q6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  private def sumDec(c: Column): Column = graft.ops.Exact.sumDec(c)

  /** @param li   observation table: l_partkey/l_linestatus/l_quantity/l_tax
    * @param part CN-segment source: p_partkey/p_size */
  def run(li: DataFrame, part: DataFrame, nBins: Int = 100, nSegs: Int = 30,
          binW: Int = 150, segW: Int = 500): DataFrame = {
    // ---- the ONE corpus aggregate (round 16): the bin set, the
    // per-bin O/F sums feeding the M/A table, and the truth labels all
    // key on region, so a single groupBy computes them in one corpus
    // pass where rounds ≤15 ran THREE (bins distinct + M/A aggregate +
    // truth aggregate — guide §1.2-1 "remove unnecessary passes").
    // Equivalence: the sums are per-region and cn is functionally
    // dependent on region (ov has one row per region), so aggregating
    // BEFORE the inner cn join keeps exactly the old (region, cn)
    // groups; regions without CN drop post-agg instead of pre-agg.
    val withRegion = li.withColumn("region",
      (col("l_partkey") % nBins).cast("string"))
    val byRegion = barrier(withRegion.groupBy(col("region"),
        (col("l_partkey") % nBins).as("rix"))
      .agg(sumDec(when(col("l_linestatus") === "O", col("l_quantity"))).as("x"),
        sumDec(when(col("l_linestatus") === "F", col("l_quantity"))).as("y"),
        (sum(col("l_quantity").cast("long")) % 2).cast("int").as("label")),
      "abcd.byRegion") // bin-count rows; bins + M/A + truth consumers

    // ---- stage 1: bins, segments, first-overlap CN assignment ----
    val bins = byRegion.select(col("rix"))
      .withColumn("region", col("rix").cast("string"))
      .withColumn("b_start", (col("rix") * binW).cast("double"))
      .withColumn("b_end", (col("rix") * binW + binW - 1).cast("double"))
    val segs = part.groupBy((col("p_partkey") % nSegs).as("k"))
      .agg((lit(1) + sum(col("p_size")).cast("long") % 4).as("cn"))
      .withColumn("s_start", (col("k") * segW).cast("double"))
      .withColumn("s_end", (col("k") * segW + segW - 1).cast("double"))
    val ov = barrier(graft.ops.RangeJoin.intervalOverlap(bins, segs,
        "b_start", "b_end", "s_start", "s_end", segW.toDouble)
      .groupBy("region").agg(min_by(col("cn"), col("k")).as("cn")),
      "abcd.ov") // bin-count rows; M/A + offset consumers

    // ---- stage 2: per-CN-group M/A median normalization factor ----
    // reads the shared per-region aggregate — no second corpus pass
    val ma = barrier(byRegion.select("region", "x", "y")
      .join(broadcast(ov), "region")
      .where(col("x") > 0 && col("y") > 0)
      .withColumn("m", log2(col("x") / col("y")))
      .withColumn("a", (log2(col("x")) + log2(col("y"))) / lit(2.0)),
      "abcd.ma") // bin-count rows; cut + factor consumers
    val cuts = ma.groupBy("cn").agg(q6(expr("percentile(a, 0.75)")).as("a75"))
    val fb = ma.join(broadcast(cuts), "cn")
      .where(col("a") > col("a75"))
      .groupBy("cn").agg(q6(expr("percentile(m, 0.5)")).as("f_log2"))

    // ---- stage 3: CN-aware offsets ----
    val offs = barrier(ov.join(broadcast(fb), Seq("cn"), "left")
      .withColumn("cn_off", log(col("cn").cast("double") / lit(2.0)) +
        coalesce(col("f_log2"), lit(0.0)) * lit(math.log(2.0)))
      .select("region", "cn", "cn_off"), "abcd.offs") // GLM input + final projection consumers

    // ---- stage 4: fixed-iteration NB-GLM per bin ----
    val dd = withRegion.join(broadcast(offs), "region")
      .withColumn("grp",
        when(col("l_linestatus") === "O", lit(1.0)).otherwise(lit(0.0)))
      .withColumn("off", log(lit(1.0) + col("l_tax")) + col("cn_off"))
    val fit = graft.omics.GlmNb.fitPerRegionFixed(dd, "region",
      "l_quantity", "grp", "off", dispersion = 0.1, iters = 8).toDF()

    // ---- stage 5: signed score + ROC AUC (rank form; global windows
    // run over bin-count rows — bounded) ----
    val truth = byRegion.select("region", "label") // third shared consumer
    val scored = barrier(fit.select(col("region"), col("n"),
        round(col("intercept"), 6).as("intercept"),
        round(col("log_fc"), 6).as("log_fc"),
        round(col("lrt_stat"), 4).as("lrt_stat"))
      .join(broadcast(offs.select("region", "cn")), "region")
      .withColumn("score", signum(col("log_fc")) * col("lrt_stat"))
      .join(broadcast(truth), "region"), "abcd.scored")
      // bin-count rows, but the corpus-scale NB-GLM sits underneath and
      // BOTH the AUC aggregate and the final projection consume this —
      // barrier it so the fit runs once
    val ranked = scored.withColumn("rk",
      rank().over(Window.orderBy(col("score"))) +
        (count(lit(1)).over(Window.partitionBy(col("score"))) - lit(1)) /
          lit(2.0))
    val pos = sum(when(col("label") === 1, lit(1.0)).otherwise(lit(0.0)))
    val neg = sum(when(col("label") === 0, lit(1.0)).otherwise(lit(0.0)))
    val aucRow = ranked.agg(
      ((sum(when(col("label") === 1, col("rk"))) -
        pos * (pos + lit(1.0)) / lit(2.0)) /
        when(pos * neg =!= 0, pos * neg)).as("__auc"))
    scored.crossJoin(broadcast(aucRow))
      .select(col("region"), col("cn"), col("n"), col("intercept"),
        col("log_fc"), col("lrt_stat"), round(col("score"), 4).as("score"),
        col("label"), round(col("__auc"), 6).as("auc"))
  }
}
