package graft.omics

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.stats.Dist

/** Per-region negative-binomial GLM with offsets + likelihood-ratio test —
  * the ABCD-DNA core (Robinson_method/R/run_ABCD-DNA.R:66-81: edgeR
  * glmFit/glmLRT with offset = getOffset + log(cn);
  * Figures_3_5_normalize_ROC.R:88-106: z = -sign(logFC) * qnorm(p/2)).
  *
  * Re-derived for Spark: one region = one small IRLS solve (two
  * coefficients: intercept + group effect), fanned out with a typed
  * `mapGroups` over the relational grouping `groupBy(col("region"))
  * .as[String, CountObs]`. Grouping on the column shuffles the rows as
  * they are; a `groupByKey(_.region)` lambda would first append a
  * serialized copy of the key (`AppendColumns`) to every shuffled row.
  * Dispersion is a caller-supplied constant per the
  * reference's common-dispersion usage. Log link; weights
  * w = mu/(1+phi*mu); LRT against the intercept-only model with
  * chi-square(1) tail from graft.stats.Dist.
  */
object GlmNb {

  final case class CountObs(region: String, y: Double, group: Double, offset: Double)
  /** `null_intercept` is the intercept-only model's coefficient — emitted
    * so the LRT is externally checkable: with both fits' parameters on
    * the row, an independent engine can recompute both NB log-likelihoods
    * and one more IRLS step per model (the q_glm_nb residual oracle). */
  final case class GlmRow(region: String, n: Long, intercept: Double, log_fc: Double,
                          lrt_stat: Double, p_value: Double, z: Double,
                          null_intercept: Double)

  /** NB log-likelihood (phi = dispersion; phi->0 recovers Poisson shape). */
  private[omics] def nbLogLik(y: Array[Double], mu: Array[Double], phi: Double): Double = {
    var ll = 0.0
    val inv = 1.0 / phi
    var i = 0
    while (i < y.length) {
      val m = math.max(mu(i), 1e-12)
      ll += Dist.lgamma(y(i) + inv) - Dist.lgamma(inv) - Dist.lgamma(y(i) + 1) +
        inv * math.log(inv / (inv + m)) + y(i) * math.log(m / (inv + m))
      i += 1
    }
    ll
  }

  /** IRLS for log-link NB with offset; design = [1, x]. Returns (b0, b1).
    * tol <= 0 disables the early convergence exit — exactly `maxIter`
    * iterations run, which makes the recurrence a closed-form function of
    * the data (the replayable form the q_glm_nb_fixed oracle unrolls). */
  private[omics] def irls(y: Array[Double], x: Array[Double], off: Array[Double],
                          phi: Double, useSlope: Boolean, maxIter: Int = 50,
                          tol: Double = 1e-10): (Double, Double) = {
    val n = y.length
    var b0 = math.log(math.max(y.sum / n, 0.1)) - off.sum / n
    var b1 = 0.0
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      var s00 = 0.0; var s01 = 0.0; var s11 = 0.0; var t0 = 0.0; var t1 = 0.0
      var i = 0
      while (i < n) {
        val eta = b0 + (if (useSlope) b1 * x(i) else 0.0) + off(i)
        // eta floored before exp: exp(-19) already lands below the 1e-8
        // clamp, and feeding exp an arbitrarily negative argument walks
        // through the subnormal range (~100x slow microcode arithmetic)
        val mu = math.min(math.max(math.exp(math.max(eta, -19.0)), 1e-8), 1e12)
        val w = mu / (1.0 + phi * mu)
        val z = (eta - off(i)) + (y(i) - mu) / mu
        s00 += w; s01 += w * x(i); s11 += w * x(i) * x(i)
        t0 += w * z; t1 += w * x(i) * z
        i += 1
      }
      val (nb0, nb1) =
        if (!useSlope) (t0 / s00, 0.0)
        else {
          val det = s00 * s11 - s01 * s01
          if (math.abs(det) < 1e-12) (t0 / s00, 0.0)
          else ((s11 * t0 - s01 * t1) / det, (s00 * t1 - s01 * t0) / det)
        }
      if (tol > 0 && math.abs(nb0 - b0) + math.abs(nb1 - b1) < tol) done = true
      b0 = nb0; b1 = nb1
      iter += 1
    }
    (b0, b1)
  }

  /** One region's fit: IRLS (full + null), LRT, p, z. */
  private def fitGroup(region: String, it: Iterator[CountObs], phi: Double,
                       maxIter: Int, tol: Double, roundOut: Boolean): GlmRow = {
    val obs = it.toArray.sortBy(o => (o.group, o.offset, o.y))
    val y = obs.map(_.y); val x = obs.map(_.group); val off = obs.map(_.offset)
    val (b0f, b1f) = irls(y, x, off, phi, useSlope = true, maxIter, tol)
    val (b0n, _) = irls(y, x, off, phi, useSlope = false, maxIter, tol)
    // same [1e-8, 1e12] clamp as the IRLS loop. Both ends matter:
    // eta > ~709 overflows exp to +Infinity, and nbLogLik's
    // inv*log(inv/(inv+mu)) evaluates log(NaN) — LRT/p/z all NaN
    // (the 1e12 cap is what prevents it); eta in (-745, -708]
    // produces subnormal doubles whose arithmetic runs ~100x slow
    // (the -19 floor prevents those before exp even runs; underflow
    // to exactly 0 was already harmless — nbLogLik floors mu at
    // 1e-12, now dead code since mu >= 1e-8 here)
    def muClamp(eta: Double): Double =
      math.min(math.max(math.exp(math.max(eta, -19.0)), 1e-8), 1e12)
    val muF = y.indices.map(i => muClamp(b0f + b1f * x(i) + off(i))).toArray
    val muN = y.indices.map(i => muClamp(b0n + off(i))).toArray
    val lrt = math.max(0.0, 2.0 * (nbLogLik(y, muF, phi) - nbLogLik(y, muN, phi)))
    val p = Dist.chisqTail(lrt, 1.0)
    // z = -sign(logFC) * qnorm(p/2)  (Figures_3_5:93)
    val z = if (p >= 1.0) 0.0
      else -math.signum(b1f) * Dist.qnorm(math.max(p / 2.0, 1e-300))
    if (roundOut)
      GlmRow(region, y.length.toLong, r6(b0f), r6(b1f), r6(lrt), r6(p), r6(z), r6(b0n))
    else GlmRow(region, y.length.toLong, b0f, b1f, lrt, p, z, b0n)
  }

  private def asObs(df: DataFrame, regionCol: String, yCol: String,
                    groupCol: String, offsetCol: String): Dataset[CountObs] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(regionCol).cast("string").as("region"),
        col(yCol).cast("double").as("y"),
        col(groupCol).cast("double").as("group"),
        col(offsetCol).cast("double").as("offset"))
      .as[CountObs]
  }

  /** Fit per region; group column is the binary condition, offset already
    * includes log library size + log copy number. */
  def fitPerRegion(df: DataFrame, regionCol: String, yCol: String,
                   groupCol: String, offsetCol: String,
                   dispersion: Double = 0.1): Dataset[GlmRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    asObs(df, regionCol, yCol, groupCol, offsetCol)
      .groupBy(col("region")).as[String, CountObs]
      .mapGroups(fitGroup(_, _, dispersion, maxIter = 50, tol = 1e-10,
        roundOut = true))
  }

  /** The fixed-iteration twin of [[fitPerRegion]]: exactly `iters` IRLS
    * steps for both the full and the null model, no convergence exit, raw
    * (unrounded) outputs. Every step is then a closed-form function of the
    * data, so a SQL engine can replay the whole fit by unrolling the
    * recurrence — which is how q_glm_nb_fixed hash-verifies this kernel's
    * deterministic core against DuckDB (the converged [[fitPerRegion]]
    * differs from it only by the early exit; OmicsKernelSpec pins the two
    * within tolerance of each other). */
  def fitPerRegionFixed(df: DataFrame, regionCol: String, yCol: String,
                        groupCol: String, offsetCol: String,
                        dispersion: Double = 0.1, iters: Int = 8): Dataset[GlmRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    asObs(df, regionCol, yCol, groupCol, offsetCol)
      .groupBy(col("region")).as[String, CountObs]
      .mapGroups(fitGroup(_, _, dispersion, maxIter = iters, tol = 0.0,
        roundOut = false))
  }

  private def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
}
