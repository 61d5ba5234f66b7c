package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Distributed statistical operators.
  *
  * Everything here is expressed as algebraic aggregates / window functions
  * so Catalyst keeps the work in whole-stage codegen and map-side partial
  * aggregation — a per-group model fit only drops to `mapGroups` when the
  * math is genuinely non-algebraic (EM; see `graft.omics`).
  */
object Stats {

  /** Pearson r between two columns per group, plus the two-sided
    * t-distribution p-value scipy.stats.pearsonr reports
    * (corrMultiomics.py:52-63) and the t statistic itself.
    *
    * Implemented on built-in moment aggregates (partial+final mergeable);
    * the p-value is the one non-SQL scalar, computed via
    * [[Dist.corrPValue]].
    */
  def corrWithP(df: DataFrame, groupCols: Seq[String], x: String, y: String): DataFrame = {
    // n counts only complete (x,y) pairs — corr() skips null pairs, so
    // counting all rows would inflate the degrees of freedom. The p-value
    // is a native codegen expression (graft.catalyst), not a UDF, so the
    // aggregate finisher stays inside whole-stage codegen.
    df.groupBy(groupCols.map(col): _*)
      .agg(corr(col(x), col(y)).as("r"),
        count(when(col(x).isNotNull && col(y).isNotNull, 1)).as("n"))
      .withColumn("t",
        when(abs(col("r")) < 1,
          col("r") * sqrt((col("n") - 2) / (lit(1.0) - col("r") * col("r")))))
      .withColumn("p", graft.catalyst.StatFunctions.corrPValue(col("r"), col("n")))
  }

  /** Average (ties-adjusted) rank of `value` within `partition` — the rank
    * Spearman correlation needs. avg rank = rank() + (ties-1)/2, computed
    * with two windows, no self-join. */
  def avgRank(partitionCols: Seq[Column], value: Column): Column = {
    val wOrd = Window.partitionBy(partitionCols: _*).orderBy(value)
    val wTie = Window.partitionBy(partitionCols :+ value: _*)
    rank().over(wOrd) + (count(lit(1)).over(wTie) - 1) / 2.0
  }

  /** Spearman correlation per group = Pearson of ties-adjusted ranks
    * (corrMultiomics.py:52-63 `spearmanr`). `pairKeys` identify the series
    * (e.g. metabolite×gene), `sampleKey` the observation axis along which
    * ranks are taken. x/y are ranked within each pair group. */
  def spearman(df: DataFrame, pairKeys: Seq[String], x: String, y: String): DataFrame = {
    val parts = pairKeys.map(col)
    val ranked = df
      .withColumn("__rx", avgRank(parts, col(x)))
      .withColumn("__ry", avgRank(parts, col(y)))
    corrWithP(ranked, pairKeys, "__rx", "__ry")
      .withColumnRenamed("r", "rho")
  }

  /** First-order partial correlation per group — the Goh regulatory-
    * inference core (Gohs_method/integrated_aCGH_expression_relationships.R:
    * 109-148: partial correlations of expression vs CNV controlling for a
    * third variable, with t-test p):
    * pcor(x,y|z) = (rxy - rxz*ryz) / sqrt((1-rxz²)(1-ryz²)),
    * p from t = pcor*sqrt((n-3)/(1-pcor²)) with n-3 df. Pure algebraic
    * aggregates (three corr co-moments, one shuffle) + native tail
    * expression. */
  def partialCorr(df: DataFrame, groupCols: Seq[String],
                  x: String, y: String, z: String): DataFrame = {
    val g = df.groupBy(groupCols.map(col): _*).agg(
      corr(col(x), col(y)).as("rxy"),
      corr(col(x), col(z)).as("rxz"),
      corr(col(y), col(z)).as("ryz"),
      count(when(col(x).isNotNull && col(y).isNotNull && col(z).isNotNull, 1)).as("n"))
    val denom = sqrt((lit(1.0) - col("rxz") * col("rxz")) *
      (lit(1.0) - col("ryz") * col("ryz")))
    g.withColumn("pcor",
        (col("rxy") - col("rxz") * col("ryz")) / when(denom > 0, denom))
      .withColumn("t_pcor",
        when(abs(col("pcor")) < 1,
          col("pcor") * sqrt((col("n") - 3) / (lit(1.0) - col("pcor") * col("pcor")))))
      .withColumn("p_pcor", graft.catalyst.StatFunctions.tTail2(
        col("t_pcor"), (col("n") - 3).cast("double")))
  }

  /** Benjamini-Hochberg FDR adjustment (R p.adjust(method="fdr"),
    * Gohs:80,87,158,198) within each group: p_adj = min over j>=i of
    * p_(j) * n / j, clipped at 1. Rank ascending + reverse running min —
    * two window passes, no collect. Deterministic tie-break on `idCol`. */
  def bhAdjust(df: DataFrame, groupCols: Seq[String], pCol: String,
               idCol: String, outCol: String = "p_adj"): DataFrame = {
    val parts = groupCols.map(col)
    val wRank = Window.partitionBy(parts: _*).orderBy(col(pCol), col(idCol))
    val wRev = Window.partitionBy(parts: _*)
      .orderBy(col(pCol).desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withN = df.withColumn("__n", count(lit(1)).over(Window.partitionBy(parts: _*)))
      .withColumn("__rank", row_number().over(wRank))
      .withColumn("__raw", col(pCol) * col("__n") / col("__rank"))
    withN.withColumn(outCol, least(lit(1.0), min(col("__raw")).over(wRev)))
      .drop("__n", "__rank", "__raw")
  }

  /** Fisher's combined chi-square statistic per group
    * (survcomp::combine.test, Gohs:130,156,196): -2*sum(log p). The
    * companion p-value comes from [[Dist.chisqTail]] with df=2k. */
  def fisherCombine(df: DataFrame, groupCols: Seq[String], pCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg((lit(-2.0) * sum(log(greatest(col(pCol), lit(1e-320))))).as("fisher_stat"),
        count(lit(1)).as("k"))
      .withColumn("fisher_p", graft.catalyst.StatFunctions.chisqTail(
        col("fisher_stat"), lit(2.0) * col("k")))

  /** Per-group z-score outlier call (DriverNet getPatientOutlierMatrix.R:
    * 4-27 — the dnorm(log=T) density threshold there is exactly
    * |x-mean|/sd >= 2). Emits the input plus mean/sd/z and the call. */
  def zscoreOutliers(df: DataFrame, groupCols: Seq[String], x: String,
                     z: Double = 2.0): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
    df.withColumn("__mu", avg(col(x)).over(w))
      .withColumn("__sd", stddev_samp(col(x)).over(w))
      .withColumn("zscore", (col(x) - col("__mu")) / col("__sd"))
      .withColumn("is_outlier", col("__sd") > 0 && abs(col("zscore")) >= z)
      .drop("__mu", "__sd")
  }

  /** Median absolute deviation filter (gizmos.py:15-25 calc_MAD +
    * apply_MAD_filter gizmos.py:121-130): per entity, median of
    * |x - median(x)|; keep entities with MAD > 0.
    *
    * ONE shuffle: the group's values are collected sorted and both exact
    * medians come from a compiled kernel using the same linear-interpolation
    * rule as the `percentile` aggregate (agreement is pinned by a ScalaTest
    * against percentile() on random data). The round-2 shape — percentile,
    * join the medians back, percentile again — paid three exchanges of the
    * fact table for the same answer. Group cardinality = samples per
    * entity, small by construction in the reference domain — but a skewed
    * entity with millions of rows would OOM an executor buffering the
    * whole group, so a one-aggregate size probe precedes the plan: above
    * `maxBufferedGroup` rows in the largest group, fall back to the
    * two-pass percentile()/join/percentile() shape (three exchanges, but
    * per-group state is a value→count map — bounded by DISTINCT values,
    * not rows). Both paths use the identical interpolation rule; OpsSpec
    * pins them equal. */
  def madPerGroup(df: DataFrame, groupCols: Seq[String], x: String,
                  maxBufferedGroup: Long = 4000000L): DataFrame = {
    val biggest = df.groupBy(groupCols.map(col): _*)
      .agg(count(col(x)).as("__n"))
      .agg(max(col("__n"))).first()
    if (!biggest.isNullAt(0) && biggest.getLong(0) > maxBufferedGroup)
      return madPerGroupTwoPass(df, groupCols, x)
    madPerGroupBuffered(df, groupCols, x)
  }

  /** The two-pass exact-percentile MAD: median per group, join back, median
    * of absolute deviations. Value→count aggregation state, so a single
    * massive group streams instead of buffering row-per-row. */
  private def madPerGroupTwoPass(df: DataFrame, groupCols: Seq[String],
                                 x: String): DataFrame = {
    val meds = df.groupBy(groupCols.map(col): _*)
      .agg(percentile(col(x).cast("double"), lit(0.5)).as("med"))
    df.join(meds, groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(first(col("med")).as("med"),
        percentile(abs(col(x).cast("double") - col("med")), lit(0.5)).as("mad"))
      .select(groupCols.map(col) :+ col("med") :+ col("mad"): _*)
  }

  private def madPerGroupBuffered(df: DataFrame, groupCols: Seq[String],
                                  x: String): DataFrame = {
    val mm = udf((vs: Seq[Double]) => {
      if (vs.isEmpty) null
      else {
        val a = vs.toArray // pre-sorted by sort_array
        def pct(arr: Array[Double], p: Double): Double = {
          val pos = p * (arr.length - 1)
          val lo = math.floor(pos).toInt
          val hi = math.ceil(pos).toInt
          if (lo == hi) arr(lo)
          else arr(lo) * (hi - pos) + arr(hi) * (pos - lo)
        }
        val med = pct(a, 0.5)
        val dev = a.map(v => math.abs(v - med))
        java.util.Arrays.sort(dev)
        Array(med, pct(dev, 0.5))
      }
    })
    df.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col(x).cast("double"))).as("__v"))
      .withColumn("__mm", mm(col("__v")))
      .select(groupCols.map(col) :+ col("__mm").getItem(0).as("med") :+
        col("__mm").getItem(1).as("mad"): _*)
  }

  /** Geometric-mean centering factor per group: exp(avg(log x)) over
    * positive x (Robinson TMM normalization, run_ABCD-DNA.R:26-64
    * `z/(prod z)^(1/n)` step). */
  def geometricMean(df: DataFrame, groupCols: Seq[String], x: String): DataFrame =
    df.where(col(x) > 0)
      .groupBy(groupCols.map(col): _*)
      .agg(exp(avg(log(col(x)))).as("geo_mean"), count(lit(1)).as("n_pos"))

  /** Winsorized mean per group: values clamped into the [p, 1-p]
    * percentile band before averaging — the robust location estimate
    * expression pipelines use where a plain mean is outlier-dominated
    * (one bad array cell otherwise drags a gene's summary). Two
    * aggregates: group percentiles (exact `percentile`, interpolation
    * identical to DuckDB's quantile_cont), broadcast back, then a
    * decimal-mean of the clamped values.
    *
    * @return (group cols, wins_mean rounded 6, n). */
  def winsorizedMean(df: DataFrame, groupCols: Seq[String],
                     valueCol: String, p: Double = 0.05): DataFrame = {
    require(p >= 0 && p < 0.5, s"p out of [0, 0.5): $p")
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, $p)").as("__lo"),
        expr(s"percentile($valueCol, ${1 - p})").as("__hi"))
    df.join(broadcast(bounds), groupCols)
      .withColumn("__w",
        least(col("__hi"), greatest(col("__lo"), col(valueCol))))
      .groupBy(groupCols.map(col): _*)
      .agg(round(sum(col("__w").cast("decimal(24,6)")).cast("double") /
        count(lit(1)), 6).as("wins_mean"),
        count(lit(1)).as("n"))
  }

  /** Quantile normalization (Bolstad et al. 2003, the preprocessCore
    * `normalize.quantiles` standard omics preprocessing next to TMM and
    * ComBat): force every sample's value distribution onto the common
    * reference — the cross-sample mean of the r-th smallest values.
    * Long-form input (unit, sample, value); classic QN assumes equal
    * counts per sample, and with ragged samples this implementation
    * averages whatever samples HAVE a value at rank r (documented
    * deviation). Ties rank deterministically by (value, unit) — the
    * "first" tie policy, not preprocessCore's rank-average — so the
    * output is a pure function of the data and the oracle replays it.
    *
    * Shape: one rank window partitioned by sample (a partition holds one
    * sample's units — the matrix's tall axis stays distributed ACROSS
    * samples; if one sample outgrows a partition, range-split within it
    * per the as-of join escape hatch), one (rank)-row decimal-mean
    * aggregate, then a broadcast-or-shuffle join back on the rank.
    *
    * @return input rows + (rank, normalized rounded 6). */
  def quantileNormalize(df: DataFrame, sampleCol: String, unitCol: String,
                        valueCol: String): DataFrame = {
    val w = Window.partitionBy(sampleCol).orderBy(col(valueCol), col(unitCol))
    val ranked = barrier(df.select(col(sampleCol), col(unitCol), col(valueCol))
      .withColumn("rank", row_number().over(w)),
      "stats.ranked") // feeds the reference AND the join-back
    val ref = ranked.groupBy("rank")
      .agg((sum(col(valueCol).cast("decimal(24,6)")).cast("double") /
        count(lit(1))).as("__ref"))
    ranked.join(ref, Seq("rank"))
      .select(col(sampleCol), col(unitCol), col(valueCol), col("rank"),
        round(col("__ref"), 6).as("normalized"))
  }

  /** Per-group simple OLS y ~ x via moment aggregates — slope, intercept,
    * R², t statistic of the slope and its two-sided p
    * (MethylMix_ModelGeneExpression, MethylMix.R:187-209: keep genes with
    * slope<0, p<0.001, R²>0.1). Fully algebraic: one shuffle, map-side
    * partials, closed-form finish. */
  def olsPerGroup(df: DataFrame, groupCols: Seq[String], x: String, y: String): DataFrame = {
    val g = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).cast("double").as("n"),
      avg(col(x)).as("xbar"), avg(col(y)).as("ybar"),
      sum(col(x) * col(x)).as("sxx0"), sum(col(x) * col(y)).as("sxy0"),
      sum(col(y) * col(y)).as("syy0"))
    g.withColumn("sxx", col("sxx0") - col("n") * col("xbar") * col("xbar"))
      .withColumn("sxy", col("sxy0") - col("n") * col("xbar") * col("ybar"))
      .withColumn("syy", col("syy0") - col("n") * col("ybar") * col("ybar"))
      .withColumn("slope", col("sxy") / col("sxx"))
      .withColumn("intercept", col("ybar") - col("slope") * col("xbar"))
      .withColumn("r2", col("sxy") * col("sxy") / (col("sxx") * col("syy")))
      .withColumn("sigma2",
        (col("syy") - col("slope") * col("sxy")) / (col("n") - 2))
      .withColumn("t_slope", col("slope") / sqrt(col("sigma2") / col("sxx")))
      .withColumn("p_slope", graft.catalyst.StatFunctions.tTail2(
        col("t_slope"), col("n") - 2))
      .drop("sxx0", "sxy0", "syy0", "sigma2")
  }

  /** Per-group OLS y ~ 1 + x1 + x2 in CLOSED FORM over exact decimal moment
    * sums — the two-covariate case of the MethylMix covariate branch
    * (MethylMix.R:192-199) expressed as one algebraic aggregate + a Cramer
    * 3×3 solve in the projection. Unlike the general mapGroups kernel
    * ([[graft.omics.Models.olsMultiPerGroup]], which pays a per-group
    * in-task sort for run-determinism and serializes when groups are huge),
    * this is map-side-partial + codegen all the way and its arithmetic is
    * bit-reproducible: the ten moment sums are exact DECIMAL sums
    * (order-independent), converted to double via the decimal STRING
    * (string→double is correctly rounded in every engine, so a DuckDB
    * oracle lands on the identical doubles), and the downstream algebra is
    * a fixed IEEE expression tree. Use this form when x/y are fixed-point
    * (money-like) columns; `dec` must hold every input exactly.
    *
    * Emits per group: n, b0/b1/b2 (intercept, x1, x2 coefficients),
    * t_slope + p_slope for x1 (the methylation term in the reference), r2.
    */
  def olsTwoCovariatesExact(df: DataFrame, groupCols: Seq[String],
                            y: String, x1: String, x2: String,
                            dec: String = "decimal(12,2)"): DataFrame = {
    def d(c: String) = col(c).cast(dec)
    def s(e: Column) = sum(e).cast("string").cast("double")
    // complete-case rows only: n and every moment must come from the SAME
    // row set (count(*) over null-skipping sums would solve a regression
    // that matches neither the complete-case nor the full-data fit)
    val cc = df.where(col(y).isNotNull && col(x1).isNotNull && col(x2).isNotNull)
    val g = cc.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).cast("double").as("n"),
      s(d(x1)).as("s1"), s(d(x2)).as("s2"), s(d(y)).as("sy"),
      s(d(x1) * d(x1)).as("s11"), s(d(x2) * d(x2)).as("s22"),
      s(d(x1) * d(x2)).as("s12"),
      s(d(x1) * d(y)).as("s1y"), s(d(x2) * d(y)).as("s2y"),
      s(d(y) * d(y)).as("syy"))
    // Cramer expansions — the oracle mirrors these token-for-token, so keep
    // the association order stable
    val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val det0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
      col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
    val det1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
      col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
    val det2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
      col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
      col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
    g.withColumn("__det", det)
      .withColumn("b0", det0 / when(abs(col("__det")) > 0, col("__det")))
      .withColumn("b1", det1 / when(abs(col("__det")) > 0, col("__det")))
      .withColumn("b2", det2 / when(abs(col("__det")) > 0, col("__det")))
      // clamp at 0: an exact-fit group's analytic rss=0 computes as a tiny
      // NEGATIVE from FP cancellation, and a negative operand would make
      // the engine's sqrt NaN but ABORT the DuckDB oracle (its sqrt raises
      // on negatives) — greatest() is mirrored in the oracle SQL
      .withColumn("rss",
        greatest(col("syy") - col("b0") * col("sy") - col("b1") * col("s1y") -
          col("b2") * col("s2y"), lit(0.0)))
      .withColumn("tss", col("syy") - col("sy") * col("sy") / col("n"))
      .withColumn("sigma2", col("rss") / (col("n") - 3))
      // (X'X)^-1 [1][1] = cofactor (n*s22 - s2*s2) / det; det guarded so a
      // singular group yields NULL t/p rather than a NaN surprise
      .withColumn("se1",
        sqrt(col("sigma2") * (col("n") * col("s22") - col("s2") * col("s2")) /
          when(abs(col("__det")) > 0, col("__det"))))
      .withColumn("t_slope", col("b1") / when(col("se1") > 0, col("se1")))
      .withColumn("p_slope", graft.catalyst.StatFunctions.tTail2(
        col("t_slope"), col("n") - 3))
      .withColumn("r2", lit(1.0) - col("rss") / when(col("tss") > 0, col("tss")))
      .drop("s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y", "syy",
        "__det", "rss", "tss", "sigma2", "se1")
  }

  /** ROC AUC per group via the rank (Mann-Whitney) formulation with
    * midrank tie handling (Robinson_method/R/Figures_3_5_normalize_ROC.R
    * ROC evaluation): AUC = (Σ ranks of positives − n₁(n₁+1)/2)/(n₁n₀).
    * Two window passes + one aggregate; no sort-collect. */
  def rocAuc(df: DataFrame, groupCols: Seq[String], scoreCol: String,
             labelCol: String): DataFrame = {
    val parts = groupCols.map(col)
    val ranked = df.withColumn("__r", avgRank(parts, col(scoreCol)))
    ranked.groupBy(parts: _*)
      .agg(sum(when(col(labelCol) === 1, col("__r"))).as("__sumr"),
        sum(when(col(labelCol) === 1, 1).otherwise(0)).cast("double").as("__n1"),
        sum(when(col(labelCol) === 1, 0).otherwise(1)).cast("double").as("__n0"))
      .withColumn("auc",
        (col("__sumr") - col("__n1") * (col("__n1") + 1) / 2) /
          when(col("__n1") * col("__n0") > 0, col("__n1") * col("__n0")))
      .select(parts :+ col("auc") :+ col("__n1").cast("long").as("n_pos") :+
        col("__n0").cast("long").as("n_neg"): _*)
  }

  /** Mutual-rank co-expression edge weight (wcModules.py:96-98,167-216):
    * rank each node's partners by desc r (ties by the partner's id), take
    * MR = sqrt(rank_ab * rank_ba), weight = exp(-(MR-1)/decay).
    *
    * Contract: `edges` lists each unordered pair ONCE, as (left, right, r),
    * and left and right ids are drawn from disjoint node sets (a bipartite
    * edge list, e.g. parts 2k against suppliers 2k+1). The reference
    * concatenates both orientations before ranking; under this contract a
    * left node's partner list is exactly the rows with that left id, and a
    * right node's exactly the rows with that right id. So two windows, one
    * per side, rank every pair from both ends: no explode into both
    * orientations (which doubles the rows the rank window shuffles) and no
    * pair aggregate to bring the two ranks back together (a third shuffle
    * of 2E rows). Output: a = least, b = greatest of the pair; rank_ab is
    * b's rank in a's list, rank_ba is a's rank in b's list. */
  def mutualRank(edges: DataFrame, left: String, right: String, r: String,
                 decay: Double = 25.0): DataFrame = {
    val rankLeft = row_number().over(
      Window.partitionBy(col(left)).orderBy(col(r).desc, col(right)))
    val rankRight = row_number().over(
      Window.partitionBy(col(right)).orderBy(col(r).desc, col(left)))
    val leftFirst = col(left) < col(right)
    edges.select(col(left), col(right), col(r),
        rankLeft.as("__rl"), rankRight.as("__rr"))
      .select(
        least(col(left), col(right)).as("a"),
        greatest(col(left), col(right)).as("b"),
        col(r).as("r"),
        when(leftFirst, col("__rl")).otherwise(col("__rr")).as("rank_ab"),
        when(leftFirst, col("__rr")).otherwise(col("__rl")).as("rank_ba"))
      .withColumn("mr", sqrt(col("rank_ab") * col("rank_ba")))
      .withColumn("weight", exp((lit(1.0) - col("mr")) / decay))
  }
}
