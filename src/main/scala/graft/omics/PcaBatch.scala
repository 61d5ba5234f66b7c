package graft.omics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.stats.Dist
import graft.ops.Materialize.barrier

/** PCA-based batch-effect check (MethylMix
  * Download_Preprocess.R:829-848: prcomp of the sample matrix followed by
  * aov(PC1 ~ batch) — "does the first principal component separate
  * batches?").
  *
  * Spark-first: the gene panel is bounded (a user-chosen list — hundreds,
  * not the 450k probe space), so the p×p Gramian is ONE distributed
  * aggregate (a self-join on the sample axis — never a dense per-sample
  * vector assembly), the dominant eigenvector comes from a deterministic
  * fixed-iteration power method on the driver (p² doubles — trivially
  * driver-sized), and PC1 scores + the one-way ANOVA are two more
  * aggregates. Everything is a closed-form function of the data, so the
  * whole statistic is DuckDB-oracle-replayable (the round-2 spark.ml
  * PCA ran an opaque eigensolver and forced a rows-only check).
  *
  * Missing (sample, gene) cells densify to 0.0 before centering — the
  * same convention the previous dense-vector assembly used.
  */
object PcaBatch {

  /** @return one row: (n_samples, n_batches, f_stat, p_value) for
    *         aov(PC1 ~ batch). `iters` is the fixed power-iteration count.
    *
    *         Cross-engine parity note: both engines run the identical
    *         iteration, but they build the Gramian from differently-ordered
    *         double sums (~1e-15 apart), and the dominant eigenvector's
    *         sensitivity to that perturbation scales with 1/gap(λ1, λ2) —
    *         round-6 parity therefore assumes a non-degenerate top
    *         eigengap (true of any fixture where PC1 means something; a
    *         near-tied spectrum makes "the" first component ill-defined
    *         for every implementation, including R's prcomp). */
  def pc1BatchAnova(data: DataFrame, batches: DataFrame,
                    entityCol: String = "gene", sampleCol: String = "sample",
                    valueCol: String = "value", batchCol: String = "batch",
                    iters: Int = 300, maxDriverP: Int = 1000): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    // `data` is typically itself an aggregate over the raw fact table;
    // without a barrier here every downstream job (gene-panel collect,
    // sample grid, Gramian, scores) re-runs that upstream scan+aggregate
    // from parquet — measured ~4 redundant full-table passes. The cell
    // table is (genes × samples)-sized, so the checkpoint is tiny.
    val d = barrier(data.select(col(entityCol).cast("string").as("gene"),
      col(sampleCol).cast("string").as("sample"),
      col(valueCol).cast("double").as("value")), "pcaBatch.d")
    val genes = d.select("gene").distinct().as[String].collect().sorted
    val p = genes.length
    // the Gramian collect is p² rows on the driver — trivially
    // driver-sized up to maxDriverP (1000² = 1M rows). Above the bound
    // the SAME power iteration runs with the Gramian left distributed
    // (each step = one broadcast join + aggregate; the driver only ever
    // holds the p-element vector), so a 2k-gene panel degrades to a
    // slower plan instead of throwing.
    val driverSized = p <= maxDriverP

    // dense 0-filled grid, columns centered by their mean over ALL samples
    val geneDf = broadcast(genes.toSeq.toDF("gene"))
    val cells = d.select("sample").distinct().crossJoin(geneDf)
      .join(d, Seq("sample", "gene"), "left")
      .select(col("sample"), col("gene"),
        coalesce(col("value"), lit(0.0)).as("value"))
    val mu = cells.groupBy("gene").agg(avg("value").as("mu"))
    val x = barrier(cells.join(broadcast(mu), "gene")
      .select(col("sample"), col("gene"), (col("value") - col("mu")).as("x")),
      "pcaBatch.x")

    // p×p Gramian of the centered matrix: one shuffle join on sample
    // (p² · n intermediate rows), one aggregate
    val cov = x.as("a").join(x.as("b"), "sample")
      .groupBy(col("a.gene").as("gi"), col("b.gene").as("gj"))
      .agg(sum(col("a.x") * col("b.x")).as("s"))

    val v: Array[Double] =
      if (driverSized) {
        // p² collect + in-memory power iteration from the uniform unit
        // vector — deterministic, and what the q_pca_batch oracle replays
        val covRows = cov.collect()
        val idx = genes.zipWithIndex.toMap
        val c = Array.ofDim[Double](p, p)
        covRows.foreach(r => c(idx(r.getString(0)))(idx(r.getString(1))) = r.getDouble(2))
        var w = Array.fill(p)(1.0 / math.sqrt(p))
        var it = 0
        while (it < iters) {
          val nv = Array.tabulate(p) { i =>
            var s = 0.0; var j = 0
            while (j < p) { s += c(i)(j) * w(j); j += 1 }
            s
          }
          var n2 = 0.0; var j = 0
          while (j < p) { n2 += nv(j) * nv(j); j += 1 }
          val nrm = math.sqrt(n2)
          w = if (nrm > 0) nv.map(_ / nrm) else nv
          it += 1
        }
        w
      } else {
        // distributed power steps: the Gramian stays a DataFrame; each
        // step joins the broadcast p-row vector and aggregates per gi.
        // Only the p-element vector crosses the driver boundary (sorted
        // by gene so the norm reduction is order-deterministic). Same
        // math as the driver path modulo double-summation order.
        val covD = barrier(cov, "pcaBatch.covD")
        var w = genes.map(g => g -> 1.0 / math.sqrt(p))
        var it = 0
        while (it < iters) {
          val vDf = broadcast(w.toSeq.toDF("gj", "w"))
          val nv = covD.join(vDf, "gj")
            .groupBy("gi").agg(sum(col("s") * col("w")).as("w"))
            .collect().map(r => r.getString(0) -> r.getDouble(1))
            .sortBy(_._1)
          var n2 = 0.0
          nv.foreach { case (_, wi) => n2 += wi * wi }
          val nrm = math.sqrt(n2)
          w = if (nrm > 0) nv.map { case (g, wi) => g -> wi / nrm } else nv
          it += 1
        }
        // genes with no Gramian row (impossible after densification, but
        // keep the vector aligned defensively)
        val m = w.toMap
        genes.map(g => m.getOrElse(g, 0.0))
      }

    // PC1 scores: broadcast the p-row loading table, one aggregate
    val loadings = broadcast(genes.zip(v).toSeq.toDF("gene", "w"))
    val scored = x.join(loadings, "gene")
      .groupBy("sample").agg(sum(col("x") * col("w")).as("pc1"))
      .join(batches.select(col(sampleCol).cast("string").as("sample"),
        col(batchCol).cast("string").as("batch")), "sample")

    // one-way ANOVA of pc1 ~ batch as two aggregates
    val byBatch = scored.groupBy("batch")
      .agg(count(lit(1)).as("nb"), avg("pc1").as("mb"),
        sum(col("pc1") * col("pc1")).as("ssb_raw"))
    val grand = scored.agg(count(lit(1)).as("n"), avg("pc1").as("gm"))
    val parts = byBatch.crossJoin(broadcast(grand))
      .agg(
        sum(col("nb") * (col("mb") - col("gm")) * (col("mb") - col("gm"))).as("ss_between"),
        sum(col("ssb_raw") - col("nb") * col("mb") * col("mb")).as("ss_within"),
        count(lit(1)).as("k"), first(col("n")).as("n"))
    val pUdf = udf((f: Double, d1: Double, d2: Double) => Dist.fTail(f, d1, d2))
    val out = parts
      .withColumn("f_stat",
        (col("ss_between") / (col("k") - 1)) /
          when(col("n") - col("k") > 0, col("ss_within") / (col("n") - col("k"))))
      .select(col("n").as("n_samples"), col("k").as("n_batches"),
        round(col("f_stat"), 6).as("f_stat"),
        round(pUdf(col("f_stat"), (col("k") - 1).cast("double"),
          (col("n") - col("k")).cast("double")), 6).as("p_value"))
      .collect()
    val row = out.head
    Seq((row.getLong(0), row.getLong(1),
        Option(row.get(2)).map(_.asInstanceOf[Double]),
        Option(row.get(3)).map(_.asInstanceOf[Double])))
      .toDF("n_samples", "n_batches", "f_stat", "p_value")
  }
}
