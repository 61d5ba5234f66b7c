package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Product quantization (PQ) — the memory side of production-scale ANN
  * (IVF-PQ à la FAISS/Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): each vector is split into `m` subspaces,
  * each subspace learns a `ksub`-centroid codebook, and a corpus row is
  * stored as m small integer codes (m bytes at ksub ≤ 256) instead of
  * dim floats — a 64-dim float32 embedding compresses 32× at m=8. Query
  * scoring is ADC (asymmetric distance computation): the query computes
  * one dot-product table per subspace against the codebook ONCE, then
  * every corpus row scores as m table lookups + adds — no float vector
  * is ever touched at scan time.
  *
  * Cross-engine exactness discipline (same as [[Clustering]]): inputs
  * quantize to the 1e-6 grid, the per-subspace codebooks are the
  * exact-replay [[Clustering.lloydFit]] (decimal sums / exact counts,
  * md5-rank init, fixed iterations), and every float reduction is a
  * fixed-order left fold — so the DuckDB oracle replays codebook fit,
  * encoding, and ADC scoring term for term and the gate hash-compares
  * the full top-k, not just recall.
  *
  * Scale shape: codebook fits are iters+1 passes of zero-shuffle
  * assignment plus a (ksub·dim)-row aggregate per subspace, run
  * CONCURRENTLY (independent job chains; driver holds only the
  * m·ksub·(dim/m) centroid matrix); encoding is ONE zero-shuffle
  * projection (plan-time centroid literals, whole-stage codegen);
  * scoring broadcasts the query table — each query carrying its m ADC
  * arrays — against the streamed CODE table (m ints per row, never the
  * floats). At 100 TB the code table is the thing you persist: 100×
  * smaller than the embeddings, re-scored without re-reading them.
  * [[ivfPqTopK]] composes the coarse cell routing on top so a query
  * touches nProbe/nCells of the codes — scan pruning AND byte
  * shrinkage, the standard big-corpus layout (corpus written
  * partitioned by cell).
  */
object Pq {

  /** (gridded corpus as (neighbor_id, v), dim, subspace width). */
  private def prep(corpus: DataFrame, idCol: String, vecCol: String,
                   m: Int): (DataFrame, Int, Int) = {
    val corpusV = barrier(corpus.select(col(idCol).as("neighbor_id"),
        transform(col(vecCol), x => Clustering.grid(x)).as("v")),
        "pq.corpusV") // feeds the fits + the encode pass
    val dim = corpusV.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    (corpusV, dim, dim / m)
  }

  private def sub(v: Column, s: Int, d: Int): Column = slice(v, s * d + 1, d)

  /** The m per-subspace Lloyd fits in ONE batched job chain
    * ([[Clustering.lloydFitMulti]]): the corpus explodes once into
    * (subspace, id, slice) rows and every fit stage — init ranking and
    * each iteration's exact-decimal update — runs as a single job over
    * all m subspaces, instead of m concurrent chains of tiny driver
    * actions (the round-8 q_ann_ivfpq floor: ~15 jobs for 5 fits).
    * Subspace s seeds at seedBase + s; per-subspace arithmetic is
    * bit-identical to the sequential fits, so the oracles replay
    * unchanged. */
  private def fitCodebooks(corpusV: DataFrame, m: Int, d: Int, ksub: Int,
                           iters: Int,
                           seedBase: Long): IndexedSeq[Array[Array[Double]]] = {
    val exploded = corpusV.select(col("neighbor_id").as("id"),
        posexplode(array((0 until m).map(s => sub(col("v"), s, d)): _*)))
      .toDF("id", "g", "v")
    Clustering.lloydFitMulti(exploded, ksub, iters,
      (0 until m).map(seedBase + _))
  }

  /** Corpus → m code columns (__c0..__c{m-1}) in one zero-shuffle pass;
    * keeps every non-vector column, drops the floats. */
  private def encode(corpusV: DataFrame, cbs: IndexedSeq[Array[Array[Double]]],
                     d: Int): DataFrame =
    cbs.indices.foldLeft(corpusV) { (df, s) =>
      df.withColumn(s"__c$s",
        Clustering.assignCols(sub(col("v"), s, d), cbs(s)).getField("c"))
    }.drop("v")

  /** Query side: gridded vector kept as qv, plus the ADC dot table per
    * subspace (__t0..) and ‖q‖ (__qn). */
  private def adcPrep(queries: DataFrame, idCol: String, vecCol: String,
                      cbs: IndexedSeq[Array[Array[Double]]],
                      d: Int): DataFrame =
    cbs.indices.foldLeft(
      queries.select(col(idCol).as("query_id"),
        transform(col(vecCol), x => Clustering.grid(x)).as("qv"))) {
      (df, s) =>
        df.withColumn(s"__t$s", array(cbs(s).map(cv =>
          aggregate(zip_with(sub(col("qv"), s, d), lit(cv), (x, y) => x * y),
            lit(0.0), (acc, p) => acc + p)): _*))
    }.withColumn("__qn",
      sqrt(aggregate(col("qv"), lit(0.0), (acc, x) => acc + x * x)))

  /** ADC score every (code row × query) pair already joined in `paired`,
    * keep top-k per query: m lookups + adds per row. */
  private def adcTopK(paired: DataFrame, cbs: IndexedSeq[Array[Array[Double]]],
                      k: Int): DataFrame = {
    // ‖centroid‖² per (subspace, code): left fold over dims, the same
    // order the oracle's list_reduce uses, so ‖x̂‖ replays exactly
    val cnorm2 = cbs.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))
    val adot = cbs.indices.map(s =>
        element_at(col(s"__t$s"), col(s"__c$s") + 1))
      .reduceLeft(_ + _)
    val xn2 = cbs.indices.map(s =>
        element_at(lit(cnorm2(s)), col(s"__c$s") + 1))
      .reduceLeft(_ + _)
    val scored = paired
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("__ac", adot / (col("__qn") * sqrt(xn2)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__ac").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__ac"), 6).as("adc_cos"))
  }

  /** Public fit face for the persisted-codebook workflow: returns the m
    * per-subspace codebooks (driver state: m·ksub·(dim/m) doubles — what
    * an indexing pipeline stores next to the encoded corpus). */
  def pqFit(corpus: DataFrame, idCol: String, vecCol: String, m: Int = 4,
            ksub: Int = 8, iters: Int = 2,
            seed: Long = 42L): IndexedSeq[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2 && iters >= 1, "bad PQ parameters")
    val (corpusV, _, d) = prep(corpus, idCol, vecCol, m)
    fitCodebooks(corpusV, m, d, ksub, iters, seed)
  }

  /** Encode a (possibly NEW) batch against persisted codebooks — one
    * zero-shuffle projection, the incremental-indexing shape (per-ingest
    * cost rides the batch; the persisted code table grows by append).
    * Output: (id, codes ARRAY<INT> of length m). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               cbs: IndexedSeq[Array[Array[Double]]]): DataFrame = {
    require(cbs.nonEmpty, "empty codebooks")
    val d = cbs.head.head.length
    val v = transform(col(vecCol), x => Clustering.grid(x))
    df.select(col(idCol).as("id"),
      array(cbs.indices.map(s =>
        Clustering.assignCols(slice(v, s * d + 1, d), cbs(s))
          .getField("c")): _*).as("codes"))
  }

  /** Fit per-subspace codebooks, encode the corpus, ADC-score the query
    * set against EVERY code row, return exact top-k per query BY THE PQ
    * APPROXIMATE SCORE.
    *
    * @return (query_id, neighbor_id, rank, adc_cos) — adc_cos is the
    *         approximate cosine dot(q, x̂)/(‖q‖·‖x̂‖) with x̂ the PQ
    *         reconstruction, rounded 6. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 4, ksub: Int = 8,
             iters: Int = 2, seed: Long = 42L): DataFrame = {
    require(m >= 1 && ksub >= 2 && iters >= 1, "bad PQ parameters")
    val (corpusV, _, d) = prep(corpus, idCol, vecCol, m)
    val cbs = fitCodebooks(corpusV, m, d, ksub, iters, seed)
    val qPrep = adcPrep(queries, idCol, vecCol, cbs, d).drop("qv")
    adcTopK(encode(corpusV, cbs, d).crossJoin(broadcast(qPrep)), cbs, k)
  }

  /** IVF-PQ: the coarse quantizer routes, the codes score. A k-means
    * coarse quantizer (exact-replay, seeded at `seed`) partitions the
    * corpus into `nCells` cells; each query probes only its `nProbe`
    * nearest cells and the candidates score by ADC over the PQ codes
    * (subspace codebooks seeded at seed+1+s). The candidate join is a
    * broadcast EQUI-join on the cell id — no cross product anywhere —
    * and at lake scale the code table is written partitioned by cell so
    * a probe reads nProbe/nCells of it. Plain PQ on raw vectors (no
    * residual encoding) — the standard memory/recall middle ground.
    *
    * Probe ranking ties break on the smaller cell id (same as the
    * assignment argmin), so the oracle replays routing exactly. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 8, nProbe: Int = 2,
                m: Int = 4, ksub: Int = 8, iters: Int = 2,
                seed: Long = 42L): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      "bad IVF parameters")
    require(m >= 1 && ksub >= 2 && iters >= 1, "bad PQ parameters")
    val (corpusV, _, d) = prep(corpus, idCol, vecCol, m)
    // coarse quantizer and the batched subspace-codebook fit are
    // independent job chains over the same checkpointed corpus — run
    // them concurrently. (Fusing the full-width coarse fit INTO the
    // batched fit as one more group was measured slower: the combined
    // when-chain's 64-dim centroid literals inflate each iteration's
    // generated code and the serial Janino compile outweighs the two
    // saved driver actions.)
    val (coarse, cbs) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fCoarse = Future(Clustering.lloydFit(
        corpusV.select(col("neighbor_id").as("id"), col("v")),
        nCells, iters, seed))
      val fCbs = Future(fitCodebooks(corpusV, m, d, ksub, iters, seed + 1))
      (Await.result(fCoarse, Duration.Inf),
        Await.result(fCbs, Duration.Inf))
    }
    val assigned = encode(corpusV.withColumn("__cell",
      Clustering.assignCols(col("v"), coarse).getField("c")), cbs, d)
    // nProbe nearest cells per query: sort the (distance, cell) structs —
    // lexicographic struct order IS (d asc, cell asc), the argmin's
    // tie-break — then explode the leading nProbe cell ids
    val probeCells = transform(
      slice(array_sort(array(coarse.zipWithIndex.map { case (cv, j) =>
        struct(
          aggregate(zip_with(col("qv"), lit(cv), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, p) => acc + p).as("d"),
          lit(j).as("c"))
      }: _*)), 1, nProbe),
      e => e.getField("c"))
    val qPrep = adcPrep(queries, idCol, vecCol, cbs, d)
      .withColumn("__cell", explode(probeCells))
      .drop("qv")
    adcTopK(assigned.join(broadcast(qPrep), Seq("__cell")), cbs, k)
  }
}
