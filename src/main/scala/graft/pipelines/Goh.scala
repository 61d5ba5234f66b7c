package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Goh's integrated aCGH/expression relationship chain, composed end to
  * end (Gohs_method/integrated_aCGH_expression_relationships.R:99-278):
  *
  *   1. per-(dataset, gene) partial correlation of copy number vs
  *      expression controlling a covariate (`find.g1s.m.pc`, :255-278 —
  *      re-expressed as the first-order pcor of
  *      [[graft.stats.Stats.partialCorr]]);
  *   2. a SEEDED permutation null: per (draw, dataset), the pcor of a
  *      randomly re-paired gene couple (`null.distb.m.pc`, :216-232 —
  *      the draw is md5-derived so both engines replay it);
  *   3. per-dataset p-values from the null (`pnorm` against the null
  *      moments in the reference, :230,267 — re-expressed as the
  *      EMPIRICAL null tail, the same exchangeability argument the
  *      reference's own `perm.pv` step applies one level up; empirical
  *      tails are exact rationals, so the whole chain hash-gates);
  *   4. Fisher combination across datasets (`combine.test`, :231,271);
  *      the chi-square tail is monotone in the statistic at fixed k, so
  *      the combined statistic in exact ln-micro-units (the bm25
  *      integer-score recipe) carries the same ordering information —
  *      the downstream empirical step consumes ONLY that ordering;
  *   5. the empirical combined p against the null's combined statistics
  *      with the reference's prepended-zero convention
  *      (`c(0, ...)` :232 / `perm.pv` :273);
  *   6. BH-FDR over genes (`p.adjust(method="fdr")`, :274) and the
  *      per-dataset significance count (`num`, :275-276).
  *
  * NOT a port: the reference loops gene-by-gene over R matrices; here
  * every stage is one declarative relation — the corpus is touched once
  * (the cell aggregate), everything downstream is dimension-sized
  * (genes × datasets, draws × datasets) and broadcast-joined. At 100 TB
  * the only corpus-scale stage is the first map-side-combined groupBy.
  *
  * Determinism contract: pcors are rounded to the 6-decimal grid BEFORE
  * any rank/threshold comparison (both engines land on identical
  * doubles per the q_partial_corr precedent), empirical p-values are
  * exact rationals over `draws`, and ln(p) quantizes to BIGINT
  * micro-units immediately — Fisher statistics are integers, so every
  * downstream comparison, count and BH input replays bit-for-bit. */
object Goh {

  /** 60-bit md5-prefix integer of a seed string — the shared
    * deterministic draw family (DuckDB:
    * CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)). */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Run the composed chain over a long-format omics relation.
    *
    * @param cells  (ds, g, sample, ac, ex, cv): one measurement cell per
    *               dataset × gene × sample — copy number `ac`,
    *               expression `ex`, control covariate `cv`
    * @param nGenes modulus of the md5 gene draw (null re-pairing space)
    * @param draws  permutation draws R; p granularity is 1/(R+1)
    * @param parametric false (default): per-dataset p-values are the
    *               EMPIRICAL null tail (the hash-gated route). true: the
    *               reference's own small-sample parametric route — each
    *               per-dataset p (gene AND null draw alike) is the
    *               one-sided t tail `cor.test(..., alternative = "g")`
    *               of integrated_aCGH_expression_relationships.R:121,144,
    *               187-188 ([[graft.stats.Dist.corrPValueGreater]], df =
    *               n − 3 for the first-order pcor), with `sig` counted at
    *               p ≤ 0.05 (the reference's `which(sams<=0.05)` cut,
    *               :187); the Fisher combination and the empirical
    *               combined-statistic stages downstream are unchanged.
    *               Parametric mode tightens the sample guard to n > 3
    *               (df ≥ 1): at n = 3 the t tail has df = 0 and returns
    *               NaN, which would cast to NULL and silently drop that
    *               dataset's term from the Fisher sum while the
    *               all-datasets gate still counted the row — a silently
    *               partial combined statistic. Oracled by
    *               `q_goh_parametric` (fixed-complement cells so df is a
    *               constant and the t tail has a closed algebraic form
    *               DuckDB can evaluate) and golden-tested
    *               (PipelineGohAbcdSpec).
    * @return one row per gene kept in every dataset:
    *         (gene, fisher_units, n_sig, perm_pv, p_adj) */
  def run(cells: DataFrame, nGenes: Int = 50, draws: Int = 19,
          seed: String = "goh", parametric: Boolean = false): DataFrame = {
    require(draws >= 1 && nGenes >= 2)
    val spark = cells.sparkSession
    // the cell relation feeds the gene pcor AND both null join sides —
    // materialize once (dimension-sized: genes × datasets × samples)
    val cc = barrier(cells.select(col("ds"), col("g"), col("sample"),
      col("ac"), col("ex"), col("cv")), "goh.cc")

    // ---- stage 1: per-(dataset, gene) partial correlation ----
    // n > 2 is the reference's shared-sample guard (:102,247); parametric
    // mode needs n > 3 so the t tail's df = n − 3 is ≥ 1 (df = 0 → NaN p
    // → a silently partial Fisher sum). The 6-decimal rounding pins the
    // comparison grid for every rank below.
    val nMin = if (parametric) 3 else 2
    val genePc = graft.stats.Stats
      .partialCorr(cc, Seq("ds", "g"), "ac", "ex", "cv")
      .where(col("n") > nMin && col("pcor").isNotNull)
      .select(col("ds"), col("g"), round(col("pcor"), 6).as("pcor"), col("n"))

    // ---- stage 2: seeded permutation null ----
    val dss = cc.select("ds").distinct()
    val drawTbl = spark.range(1, draws + 1).toDF("i")
      .crossJoin(dss)
      .withColumn("ga", h60(concat(lit(s"$seed:"), col("i").cast("string"),
        lit(":"), col("ds"), lit(":a"))) % nGenes)
      .withColumn("gb", h60(concat(lit(s"$seed:"), col("i").cast("string"),
        lit(":"), col("ds"), lit(":b"))) % nGenes)
    val aSide = cc.select(col("ds"), col("g").as("ga"), col("sample"),
      col("ac"), col("cv"))
    val bSide = cc.select(col("ds"), col("g").as("gb"), col("sample"),
      col("ex"))
    val nullCells = broadcast(drawTbl)
      .join(aSide, Seq("ds", "ga"))
      .join(bSide, Seq("ds", "gb", "sample"))
    val nullPcRaw = nullCells.groupBy("i", "ds")
      .agg(corr(col("ac"), col("ex")).as("rxy"),
        corr(col("ac"), col("cv")).as("rxz"),
        corr(col("ex"), col("cv")).as("ryz"),
        count(lit(1)).as("n"))
    val denom = sqrt((lit(1.0) - col("rxz") * col("rxz")) *
      (lit(1.0) - col("ryz") * col("ryz")))
    val nullPcPlan = nullPcRaw.withColumn("npcor",
        when(col("n") > nMin,
          round((col("rxy") - col("rxz") * col("ryz")) /
            when(denom > 0, denom), 6)))
      .select("i", "ds", "npcor", "n")
    // round 16: the empirical route now consumes the null table ONCE
    // (the union-window rank below replaced both nn theta joins), so
    // the round-14 checkpoint — which paid for itself only while FOUR
    // subtrees re-read it — is dropped in both modes (the
    // q_embedding_outliers single-consumer precedent)
    val nullPc = nullPcPlan

    // parametric mode's per-dataset p: the one-sided t tail of the
    // first-order pcor, df = n − 3 (cor.test alternative="g")
    val pGreater = udf((r: Double, n: Long) =>
      graft.stats.Dist.corrPValueGreater(r, n, controlled = 1))

    // ---- stage 3a/3b: within-dataset empirical ranks in ONE window
    // pass (round 16; rounds ≤15 ran TWO broadcast theta joins + two
    // re-grouping aggregates against the same ≤ draws-row null sample).
    // Null pcors and gene pcors are union-tagged and a single per-ds
    // window counts, for EVERY row, the null pcors ≥ its value: a desc
    // RANGE frame's peer group is value-based, so ties land in the
    // frame exactly as the old `np2 >= pcor` join predicate counted
    // them, and gene rows (tag 0) never contribute to the count.
    // Equivalence: k(row) = |{np2 in ds : np2 >= v(row)}| in both
    // forms; an undefined null pcor contributes the no-evidence p = 1
    // (the reference's na.rm convention) exactly as before — its k is
    // never read. One tiny ds-keyed exchange replaces two broadcast
    // builds and two shuffled re-aggregations.
    val lnMicro = (p: Column) =>
      floor(log(p) * lit(1e6) + lit(0.5)).cast("long")
    val (nullP, geneP) =
      if (parametric) {
        val np = nullPc
          .withColumn("p", when(col("npcor").isNotNull,
            pGreater(col("npcor"), col("n"))).otherwise(lit(1.0)))
          .withColumn("lnm", lnMicro(col("p")))
        val gp = genePc
          .withColumn("p", pGreater(col("pcor"), col("n")))
          .withColumn("lnm", lnMicro(col("p")))
          .withColumn("sig", (col("p") <= lit(0.05)).cast("int"))
        (np, gp)
      } else {
        val gType = cells.schema("g").dataType
        val nRows = nullPc.select(col("ds"), col("npcor").as("v"),
          lit(1).as("__isn"), col("i"), lit(null).cast(gType).as("g"))
        val gRows = genePc.select(col("ds"), col("pcor").as("v"),
          lit(0).as("__isn"), lit(null).cast("long").as("i"), col("g"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("ds").orderBy(col("v").desc)
          .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        // the ranked relation feeds BOTH the null branch (np → nullF)
        // and the gene branch (gp → geneF): barrier it so the whole
        // null subtree (broadcast joins + aggregations) runs once, not
        // once per branch ((draws + genes) × datasets rows — bounded)
        val ranked = barrier(nRows.unionByName(gRows)
          .withColumn("k", count(when(col("__isn") === 1, col("v"))).over(w)),
          "goh.ranked")
        val np = ranked.where(col("__isn") === 1)
          .select(col("i"), col("ds"), col("v").as("npcor"), col("k"))
          .withColumn("p", when(col("npcor").isNotNull,
            col("k").cast("double") / lit(draws.toDouble)).otherwise(lit(1.0)))
          .withColumn("lnm", lnMicro(col("p")))
        val gp = ranked.where(col("__isn") === 0)
          .select(col("ds"), col("g"), col("v").as("pcor"), col("k"))
          .withColumn("p", (col("k") + lit(1)).cast("double") /
            lit((draws + 1).toDouble))
          .withColumn("lnm", lnMicro(col("p")))
          .withColumn("sig", (col("k") === 0).cast("int"))
        (np, gp)
      }

    // ---- stage 4a: null combined Fisher statistics (ln-micro-units) --
    // single consumer (the perm-pv count join) — no checkpoint needed
    val nullF = nullP.groupBy("i")
      .agg((lit(-2L) * sum(col("lnm"))).as("f_units"))
    // keep genes defined in EVERY dataset so the combined statistic has
    // fixed k = M and the chi-square tail is monotone in it (the
    // inds.na drop of :154-155)
    val mRow = dss.agg(count(lit(1)).as("__m"))
    val geneF = geneP.groupBy("g")
      .agg(count(lit(1)).as("__kds"),
        (lit(-2L) * sum(col("lnm"))).as("f_units"),
        sum(col("sig")).as("n_sig"))
      .crossJoin(broadcast(mRow))
      .where(col("__kds") === col("__m"))
      .select(col("g").as("gene"), col("f_units"), col("n_sig"))

    // ---- stage 5: empirical combined p (prepended-zero convention) --
    val nf = nullF.select(col("f_units").as("nf_units"))
    val permPv = geneF.join(broadcast(nf),
        col("f_units") <= col("nf_units"), "left")
      .groupBy("gene", "f_units", "n_sig")
      .agg(count(col("nf_units")).as("kf"))
      .withColumn("perm_pv", (col("kf") + lit(1)).cast("double") /
        lit((draws + 1).toDouble))
      .drop("kf")

    // ---- stage 6: BH-FDR over genes (global window: gene-count rows,
    // bounded — the q_bh_adjust shape) ----
    graft.stats.Stats.bhAdjust(permPv, Seq.empty, "perm_pv", "gene")
      .select(col("gene"), col("f_units"), col("n_sig"),
        round(col("perm_pv"), 6).as("perm_pv"),
        round(col("p_adj"), 6).as("p_adj"))
  }
}
