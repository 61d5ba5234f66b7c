package graft.omics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** The Robinson evaluation-figure metrics the round-10 verdict flagged
  * as missing analogues — the two figure scripts that are computation,
  * not plotting:
  *
  *  - Relative-Peak-Density curves (Figure_4_RRPDs.R:14-58): each peak
  *    caller's differential regions are first-overlap-assigned to the
  *    relative-CN genome partition, tabled by (CN state × call
  *    direction), and reported as the smoothed gain/loss density ratio
  *    per CN state — the figure's y axis. [[rrpd]].
  *  - Fold-change linearity by CN (run_ABCD-DNA.R:16-44 consumed by
  *    Figure_2_linearity.R): per CN state, the median M log-ratio of the
  *    two libraries over the state's high-abundance bins (top ~1% by A),
  *    exponentiated (the reference applies exp to a log2 median — that
  *    quirk is mirrored verbatim, :43) and optionally rescaled so the
  *    anchor state's factor equals its copy number (the
  *    `t(t(fs)/fs[4,])*4` figure transform). [[linearityByCn]].
  *
  * NOT a port: the reference tables in-memory GRanges hit vectors; here
  * the first-overlap assignment is the bucketed interval join
  * ([[graft.ops.RangeJoin.intervalOverlap]]) with a min_by
  * representative, and every downstream relation is CN-state-sized.
  * Determinism: log2/exp quantize onto the 1e-6 grid immediately
  * (string-free floor quantizer), medians/order statistics run over
  * those grid doubles, counts are exact — both reports hash-gate. */
object Robinson {

  private def q6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Relative peak density per CN state (Figure_4_RRPDs.R:14-58).
    *
    * @param peaks one row per called region:
    *              (pid, p_start, p_end, cls) — cls is the call
    *              direction label (the table's second axis)
    * @param bins  the CN partition: (bix, b_start, b_end, state);
    *              `select = "first"` resolves to the overlapping bin
    *              with the SMALLEST bix, the GRanges subject-order
    *              convention
    * @param binWidth bucket width hint for the interval join
    * @param posCls/negCls the two direction labels tabled into the
    *              ratio
    * @param numSmooth/denSmooth additive smoothing — the figure uses
    *              (.5+up)/down for ChIPDiff/RSEG, (.5+up)/(.5+down) for
    *              DiffBind and up/down for ABCD-DNA; parameterized so
    *              each curve is reproducible
    * @return one row per CN state:
    *         (state, n_peaks, n_pos, n_neg, rrpd) */
  def rrpd(peaks: DataFrame, bins: DataFrame, binWidth: Double,
           posCls: String, negCls: String,
           numSmooth: Double = 0.5, denSmooth: Double = 0.0): DataFrame = {
    val firstHit = graft.ops.RangeJoin.intervalOverlap(
        peaks.select(col("pid"), col("p_start"), col("p_end"), col("cls")),
        bins.select(col("bix"), col("b_start"), col("b_end"), col("state")),
        "p_start", "p_end", "b_start", "b_end", binWidth)
      .groupBy("pid", "cls")
      .agg(min_by(col("state"), col("bix")).as("state"))
    firstHit.groupBy("state")
      .agg(count(lit(1)).as("n_peaks"),
        sum(when(col("cls") === posCls, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("cls") === negCls, 1L).otherwise(0L)).as("n_neg"))
      // explicit zero-denominator guard: a state with no negCls calls
      // (and no smoothing) reports NULL, identically in any engine —
      // Spark nulls double x/0 under ANSI-off while other engines may
      // return inf, so the edge must not reach the raw division
      .withColumn("rrpd", when(
        lit(denSmooth) + col("n_neg").cast("double") > 0, q6(
          (lit(numSmooth) + col("n_pos").cast("double")) /
            (lit(denSmooth) + col("n_neg").cast("double")))))
  }

  /** Median fold-change by CN state over the high-abundance bins —
    * run_ABCD-DNA.R:16-44 (`f.by.cn[i] <- median(map$M[map$A>q])`,
    * `f <- exp(f.by.cn)`) plus Figure_2_linearity.R's anchor rescale.
    *
    * Per state: M = log2((sam/s3)/(ref/s2)), A the average log2
    * proportion (library sizes s2/s3 are exact whole-relation sums); the
    * abundance cut q is the larger of the `max(100, round(1% of
    * non-zero bins))`-th largest A and the largest A among zero-count
    * bins (computed on 0.5-smoothed proportions — the maPlot edge-point
    * convention); the factor is the exact median M above the cut,
    * exponentiated with the reference's own exp-of-log2 (:43).
    *
    * Two deliberate divergences from the reference at the cut:
    * (1) rounding — the 1% count uses floor(n·0.01 + 0.5) (half UP),
    * whereas R's `round()` is IEC half-to-even; the selected cut can
    * differ only when 1% of the non-zero bin count ends in exactly .5
    * (an odd multiple of 50 bins). (2) clamping — `top` is clamped to
    * the non-zero bin count, whereas the reference's `order(-A)[1:top]`
    * with top > n yields NA subscripts and propagates an NaN factor;
    * the clamp is a robustness choice (fewer than 100 non-zero bins
    * produces a defined factor here, NaN in the reference).
    *
    * @param binCounts (region, state, refc, samc) — integer read counts
    *                  per genome bin for the reference and sample
    *                  libraries
    * @param anchor    optional (state value, scale): rescale every f so
    *                  the anchor state's factor equals `scale` — Figure
    *                  2 passes ("4", 4.0)
    * @return one row per CN state: (state, n_bins, n_kept, f_log2, f
    *         [, f_scaled]) */
  def linearityByCn(binCounts: DataFrame,
                    anchor: Option[(String, Double)] = None): DataFrame = {
    val bc = barrier(binCounts.select(col("region"), col("state"),
        col("refc").cast("long").as("refc"),
        col("samc").cast("long").as("samc")),
        "robinson.bc") // totals + M/A consumers share the scan
    val tot = bc.agg(sum(col("refc")).cast("double").as("s2"),
      sum(col("samc")).cast("double").as("s3"))
    // zero-count bins take the 0.5-smoothed A (edge points); their M is
    // undefined and never enters the median
    val ma = barrier(bc.crossJoin(broadcast(tot))
      .withColumn("w", col("refc") === 0 || col("samc") === 0)
      .withColumn("a", q6((log2(greatest(col("refc").cast("double"),
        lit(0.5)) / col("s2")) + log2(greatest(col("samc").cast("double"),
        lit(0.5)) / col("s3"))) / lit(2.0)))
      .withColumn("m", when(!col("w"), q6(
        log2((col("samc").cast("double") / col("s3")) /
          (col("refc").cast("double") / col("s2"))))))
      .select("region", "state", "w", "a", "m"), "robinson.ma") // cut + median + count consumers
    // the top-th largest A among non-zero bins, per state (ties counted
    // with multiplicity — min over the first `top` of order(-A), which
    // is the top-th order statistic regardless of tie order)
    val nw = ma.where(!col("w")).groupBy("state")
      .agg(count(lit(1)).as("n_nw"))
      .withColumn("top", least(greatest(lit(100L),
        floor(col("n_nw").cast("double") * lit(0.01) + lit(0.5)).cast("long")),
        col("n_nw")))
    val rankW = Window.partitionBy("state")
      .orderBy(col("a").desc, col("region"))
    val qa = ma.where(!col("w"))
      .withColumn("rn", row_number().over(rankW))
      .join(broadcast(nw), "state")
      .where(col("rn") === col("top"))
      .select(col("state"), col("a").as("qa"))
    val qw = ma.where(col("w")).groupBy("state").agg(max(col("a")).as("qw"))
    val cuts = qa.join(qw, Seq("state"), "left")
      .select(col("state"), greatest(col("qa"),
        coalesce(col("qw"), lit(Double.NegativeInfinity))).as("q"))
    val f = ma.join(broadcast(cuts), "state")
      .where(!col("w") && col("a") > col("q"))
      .groupBy("state")
      .agg(count(lit(1)).as("n_kept"),
        q6(expr("percentile(m, 0.5)")).as("f_log2"))
      .withColumn("f", q6(exp(col("f_log2"))))
    val nAll = ma.groupBy("state").agg(count(lit(1)).as("n_bins"))
    val base = nAll.join(f, Seq("state"), "left")
    anchor match {
      case None => base
      case Some((st, scale)) =>
        // the anchor row is an AGGREGATE (always exactly one row, null
        // when the anchor state is absent) — a filter would make the
        // crossJoin empty and silently wipe the whole report
        val fa = base.agg(
          max(when(col("state") === st, col("f"))).as("__fa"))
        base.crossJoin(broadcast(fa))
          .withColumn("f_scaled",
            q6(col("f") / col("__fa") * lit(scale)))
          .drop("__fa")
    }
  }
}
