package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Vector-similarity search over an embedding column (ARRAY<FLOAT/DOUBLE>).
  *
  * Brute-force cosine top-k is the exactness baseline (broadcast the query
  * set, never the corpus); the LSH variant is the 100 TB path — random
  * hyperplane signatures bucket the corpus so each query only probes its
  * own buckets, turning the all-pairs scan into an equi-join on bucket key.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated left-to-right in
    * double — a native codegen expression over the Tungsten arrays.
    * (An aggregate/zip_with expression computes the identical value, but
    * Catalyst interprets HOF lambdas — measured ~15× slower on a 2M-pair ×
    * 64-dim scoring join. A Seq[Float] Scala UDF is worse still: the
    * per-row encoder conversion of both arrays dominated scoring-join CPU
    * — see graft.catalyst.ArrayExpressions.) */
  def dot(a: Column, b: Column): Column =
    graft.catalyst.ArrayFunctions.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a,b) = dot/(norm·norm) fused into ONE single-pass expression —
    * bit-identical accumulation order to the composed form (which the
    * SRP-LSH oracle replays as literal SQL), one array conversion instead
    * of three. */
  def cosine(a: Column, b: Column): Column =
    graft.catalyst.ArrayFunctions.cosineF(a, b)

  /** Hard-negative mining for embedding/retrieval training data: for
    * each query, the top-k most-similar corpus vectors AFTER excluding a
    * caller-supplied positive/near-dup pair set — the closest things
    * that are NOT the same content, which is exactly what contrastive
    * training wants as negatives (random negatives are too easy; actual
    * duplicates would be false negatives). `exclude` is any (id_a, id_b)
    * relation — typically the verified near-dup pairs from the dedup
    * tier — treated symmetrically. Scale shape: the scoring join is the
    * ANN tier's (broadcast queries vs streamed corpus here; swap in the
    * IVF/PQ routed scorer at corpus scale), and the exclusion is one
    * left-anti join on the (query, neighbor) pair key — candidate-sized,
    * not corpus-sized. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, exclude: DataFrame,
                    k: Int): DataFrame = {
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .crossJoin(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"))))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val sym = exclude.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      .unionByName(exclude.select(col("id_b").as("query_id"), col("id_a").as("neighbor_id")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.join(sym, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Embedding-distribution drift between two vector corpora (snapshot
    * refresh, new-source onboarding): cosine and L2 distance between
    * the slices' MEAN embeddings — the cheap first-order "did the
    * embedding distribution move" monitor (cosine near 1 and small L2 =
    * stable centroid; compose with [[graft.sim.Clustering]] occupancy
    * profiles for shape-level drift).
    *
    * Exactness discipline: vectors quantize to the 1e-6 grid and the
    * per-dimension means are exact decimal sums / exact counts (the
    * [[Clustering]] recipe, order-independent), assembled into one
    * dim-sorted array per slice; the final cosine/L2 are fixed-order
    * left folds over those two arrays — so the DuckDB oracle replays
    * the drift numbers bit for bit. Each slice does one explode + one
    * (dim)-row aggregate; the cross join at the end is four single-row
    * frames. */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String): DataFrame = {
    def meanVec(df: DataFrame, out: String) = df
      .select(transform(col(vecCol), x => Clustering.grid(x)).as("v"))
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg((sum(col("x").cast("decimal(24,6)")).cast("double") /
        count(lit(1))).as("m"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        e => e.getField("m")).as(out))
    val fold = (va: Column, vb: Column) =>
      aggregate(zip_with(va, vb, (x, y) => x * y), lit(0.0), (acc, p) => acc + p)
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    meanVec(a, "ma").crossJoin(meanVec(b, "mb"))
      .crossJoin(na).crossJoin(nb)
      .select(col("n_a"), col("n_b"),
        round(fold(col("ma"), col("mb")) /
          (sqrt(fold(col("ma"), col("ma"))) * sqrt(fold(col("mb"), col("mb")))),
          6).as("drift_cos"),
        round(sqrt(aggregate(
          zip_with(col("ma"), col("mb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, p) => acc + p)), 6).as("l2_dist"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` is expected to be small (it is broadcast); the corpus streams
    * through one scan. Self-matches (same id) are excluded. Ties broken by
    * neighbor id for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  final case class VecRow(id: Long, v: Array[Float], n: Double)

  /** Embedding-cosine near-duplicate pairs — the fifth dedup tier of the
    * driver brief. This is the EXACTNESS BASELINE, O(n²) by definition
    * (it is what the LSH paths are verified against); at corpus scale use
    * [[lshTopK]]-style SRP banding instead.
    *
    * Shape: block-nested all-pairs. Vectors are hashed into `numBlocks`
    * blocks with per-row norms precomputed; unordered block PAIRS become
    * the work units of an equi-ish join, and each task scores its block
    * pair in one tight compiled loop. No per-pair UDF invocation, no
    * per-pair array conversion (a row-level scoring join measured ~30 s
    * for 2M pairs from conversion overhead alone; this runs the same
    * arithmetic in ~2 s), and no task ever holds more than two blocks. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numBlocks: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blocks = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .as[(Long, Array[Float])]
      .map { case (i, v) =>
        var s = 0.0; var k = 0
        while (k < v.length) { s += v(k).toDouble * v(k).toDouble; k += 1 }
        (i % numBlocks, VecRow(i, v, math.sqrt(s)))
      }
      .groupByKey(_._1)
      .mapGroups { (blk, it) => (blk, it.map(_._2).toArray) }
    val crossed = blocks.toDF("blk_a", "rows_a")
      .join(blocks.toDF("blk_b", "rows_b"), col("blk_a") <= col("blk_b"))
      .as[(Long, Array[VecRow], Long, Array[VecRow])]
    crossed.flatMap { case (ba, ra, bb, rb) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      def score(x: VecRow, y: VecRow): Unit = {
        val (lo, hi) = if (x.id < y.id) (x, y) else (y, x)
        val len = math.min(lo.v.length, hi.v.length)
        var s = 0.0; var k = 0
        while (k < len) { s += lo.v(k).toDouble * hi.v(k).toDouble; k += 1 }
        val cos = s / (lo.n * hi.n)
        if (cos >= threshold) out += ((lo.id, hi.id, cos))
      }
      if (ba == bb) {
        var i = 0
        while (i < ra.length) {
          var j = i + 1
          while (j < ra.length) { score(ra(i), ra(j)); j += 1 }
          i += 1
        }
      } else {
        ra.foreach(x => rb.foreach(y => if (x.id != y.id) score(x, y)))
      }
      out.iterator
    }.toDF("id_a", "id_b", "cos0")
      .select(col("id_a"), col("id_b"), round(col("cos0"), 6).as("cos"))
  }

  /** Seeded Lloyd k-means on a local sample — the coarse-quantizer fit.
    * Quantizer training is sample-based at any scale (FAISS-style: a few
    * 10k vectors bound the fit regardless of corpus size), so the corpus
    * never does per-iteration distributed passes; the only full-corpus
    * work is ONE cell-assignment projection. k-means++-seeded, fixed
    * iteration count, deterministic for a given (sample, seed). */
  private[graft] def fitQuantizer(sample: Array[Array[Double]], nCells: Int,
                                  seed: Long, iters: Int = 12): Array[Array[Double]] = {
    require(sample.nonEmpty, "quantizer fit needs a non-empty sample")
    val rng = new scala.util.Random(seed)
    val dim = sample.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ init
    val cents = scala.collection.mutable.ArrayBuffer(sample(rng.nextInt(sample.length)))
    while (cents.length < math.min(nCells, sample.length)) {
      val dists = sample.map(v => cents.map(c => d2(v, c)).min)
      val tot = dists.sum
      var r = rng.nextDouble() * tot
      var i = 0
      while (i < sample.length - 1 && r > dists(i)) { r -= dists(i); i += 1 }
      cents += sample(i)
    }
    val k = cents.length
    var centroids = cents.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) { val d = d2(v, centroids(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    centroids
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nCells` cells; each query probes only its
    * `nProbe` nearest cells and candidates are re-scored exactly (precision
    * 1, recall grows with nProbe). The production-scale ANN layout: the
    * corpus would be WRITTEN partitioned by cell so a probe touches
    * nProbe/nCells of the data. Deterministic via the k-means seed.
    *
    * The quantizer fits on a bounded driver-side sample (`maxFitSample`
    * rows via deterministic limit) — one small collect — so the fit costs
    * zero distributed iterations; the round-2 spark.ml fit paid 8-20
    * full-corpus jobs to train 16 centroids. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
              seed: Long = 7L, maxFitSample: Int = 20000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusV = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val sample = corpusV.select(col("__cv")).limit(maxFitSample)
      .as[Seq[Float]].collect().map(_.map(_.toDouble).toArray)
    val centroids = fitQuantizer(sample, nCells, seed)
    // corpus side: cell assignment — a native expression (the centroid
    // table is a plan-time constant); this runs once per CORPUS row, the
    // full-data side of the operator, where a Seq[Float] UDF would pay
    // the per-row encoder conversion (see graft.catalyst.ArrayExpressions)
    // (at scale: write partitioned by __cell)
    val assigned = corpusV.withColumn("__cell",
      CellExprs.nearest(col("__cv"), centroids))
    // query side: explode into the nProbe nearest cells (query set is
    // small and broadcast — the same expression kernel ranks all cells)
    val qb = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cell", explode(CellExprs.probes(col("__qv"), centroids, nProbe))))
    val scored = assigned.join(qb, "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** IVF with a REPLAYABLE coarse quantizer and exact re-scoring — the
    * persisted-centroid production path: [[Clustering.kmeansFit]] is the
    * deterministic cross-engine Lloyd fit (1e-6 grid, exact decimal
    * updates, md5-rank init), so the centroid matrix is an artifact a
    * pipeline persists and a SQL oracle replays term for term — unlike
    * [[ivfTopK]]'s driver-sample k-means++ fit, which is deterministic
    * but not SQL-replayable. Probing is GENUINELY partial (`nProbe` of
    * `nCells` cells — recall < 1 by construction), and because the
    * routing replays exactly, the selected candidate set — not just the
    * top-k under full probe — is oracle-pinned (the q_hybrid_retrieval_ivf
    * gate runs RRF fusion over this head).
    *
    * Scale shape: one zero-shuffle assignment pass over the corpus
    * (plan-time centroid literals, raw vector carried for the re-score;
    * at scale the corpus is WRITTEN partitioned by `__cell` so a probe
    * touches nProbe/nCells of the data), a query-side nCells-row cross
    * to rank probe cells (queries are broadcast-small), then a broadcast
    * equi-join on the cell id and an exact rescore of candidates only.
    * The FIT here runs over the full `corpus` frame (the gate's
    * contract — its checkpoint is corpus-sized); at 100 TB fit the
    * quantizer on a bounded, deterministic corpus slice instead and
    * compose the same pieces directly: `Clustering.kmeansFit(slice,
    * ...)` once, persist the centroid matrix, then
    * [[ivfAssignCells]] (written `.partitionBy("__cell")`) +
    * [[ivfProbeCells]] + this function's rescore — the replay contract
    * is unchanged because the slice predicate replays in SQL exactly
    * like the kmeansCtes `where` parameter the PQ oracles already use.
    * That exact composition was EXERCISED end to end (bounded-slice fit,
    * persisted centroids, cell-partitioned parquet, probe reading only
    * the probed partitions — parquet file-pruning metrics) by the
    * one-off `graft.IvfLakeCheck` harness, since removed; SCALING.md keeps
    * the measured row and the commit that ran it. */
  def ivfExactTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nCells: Int = 8, nProbe: Int = 2,
                   iters: Int = 2, seed: Long = 42L): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, s"nProbe in [1,$nCells]: $nProbe")
    val centroids = Clustering.kmeansFit(corpus, idCol, vecCol, nCells,
      iters, seed)
    val assigned = ivfAssignCells(corpus, idCol, vecCol, centroids)
    val probes = ivfProbeCells(queries, idCol, vecCol, centroids, nProbe)
    val scored = assigned.join(probes, "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** The corpus side of [[ivfExactTopK]] against an EXPLICIT (persisted)
    * centroid matrix: one zero-shuffle assignment pass keeping the RAW
    * vector for the exact re-score (gridding feeds only the argmin, as
    * in [[Clustering.kmeansAssign]]). This is the WRITE side of the
    * partition-by-`__cell` IVF lake: written with `.partitionBy("__cell")`,
    * a probe touches nProbe/nCells of the data (committed pruning
    * evidence in SCALING.md). Returns (neighbor_id, __cv, __cell). */
  def ivfAssignCells(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Double]]): DataFrame =
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cell", graft.catalyst.ArrayFunctions.kmeansArgmin(
        transform(col("__cv"), x => Clustering.grid(x)), centroids)
        .getField("c"))

  /** The query side of [[ivfExactTopK]]: rank ALL cells against the
    * GRIDDED query vector with the same left-fold distance and
    * (d, cluster) tie-break the assignment uses, keep the nProbe
    * nearest — an nCells-row cross against the broadcast-small query
    * set. The `__cell` values this emits are the partition directories
    * a lake probe reads (and nothing else). Returns a broadcast-hinted
    * (query_id, __qv, __cell). */
  def ivfProbeCells(queries: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]],
                    nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = broadcast(centroids.zipWithIndex
      .map { case (cv, i) => (i, cv.toSeq) }.toSeq.toDF("__cell", "__cent"))
    val qd = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qg", transform(col("__qv"), x => Clustering.grid(x)))
    val pw = Window.partitionBy("query_id").orderBy(col("__d"), col("__cell"))
    broadcast(qd.crossJoin(centDf)
      .withColumn("__d", aggregate(
        zip_with(col("__qg"), col("__cent"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, e) => acc + e))
      .withColumn("__pr", row_number().over(pw))
      .where(col("__pr") <= nProbe)
      .select("query_id", "__qv", "__cell"))
  }

  /** Signed-random-projection (SRP) LSH signature: `nBits` fixed random
    * hyperplanes (seeded), bit = sign of the projection. Hamming distance
    * on signatures approximates angular distance. */
  /** The seeded SRP hyperplanes — THE canonical generation, shared by the
    * engine signature and the q_ann_lsh oracle generator so the two can
    * never drift apart (the oracle replays these exact doubles as SQL
    * literals). */
  def srpPlanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rng.nextGaussian())
  }

  /** Maximal-Marginal-Relevance diverse top-k selection: greedily pick the
    * candidate maximizing `lambda·cos(v, query) − (1−lambda)·max_{s∈S}
    * cos(v, s)` — the standard diversity-aware data-selection step (pick
    * relevant examples that are NOT near-duplicates of what's already
    * picked). Ties break by id ascending, so the selection is fully
    * deterministic and a SQL oracle can replay the greedy loop unrolled.
    *
    * Scale shape: relevance is computed once into a checkpointed narrow
    * relation (one corpus pass); each of the k rounds is a zero-shuffle
    * projection — the selected set rides into the plan as a broadcast-sized
    * literal array (k vectors, bounded) and the argmax is a top-1
    * TakeOrdered, never a global sort. k driver-side rows total are
    * collected (the picks themselves — the DriverNet greedy contract). */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
                queryVec: Array[Float], k: Int,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    val spark = corpus.sparkSession
    val rel = barrier(corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .withColumn("rel", cosine(col("v"), typedLit(queryVec.toSeq))),
      "similarity.rel")
    var picks = Vector.empty[(Int, Long, Double, Double)]
    var pickIds = Vector.empty[Long]
    var pickVecs = Vector.empty[Seq[Float]]
    var done = false
    for (i <- 1 to k if !done) {
      val remaining =
        if (pickIds.isEmpty) rel else rel.where(!col("id").isin(pickIds: _*))
      val pen =
        if (pickVecs.isEmpty) lit(0.0)
        else array_max(transform(typedLit(pickVecs),
          sv => cosine(col("v"), sv)))
      val top = remaining
        .withColumn("pen", pen)
        .withColumn("score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("pen"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(1)
        .select(col("id"), col("v"), col("rel"), col("score"))
        .collect()
      if (top.isEmpty) done = true
      else {
        val r = top(0)
        picks :+= ((i, r.getLong(0), r.getDouble(2), r.getDouble(3)))
        pickIds :+= r.getLong(0)
        pickVecs :+= r.getSeq[Float](1)
      }
    }
    import spark.implicits._
    picks.toDF("rank", "id", "rel", "score")
      .select(col("rank"), col("id"),
        round(col("rel"), 6).as("rel"), round(col("score"), 6).as("score"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * absmax scaling (`scale = max|x|/127`, `q = round(x/scale)` toward
    * away-from-zero) — the standard 4× storage/shuffle compression for a
    * 100 TB embedding lake, decoded as `q·scale` wherever approximate
    * cosines suffice. Zero vectors quantize to all-zeros with scale 0.
    *
    * Determinism: absmax and the division are fixed IEEE sequences over
    * the exact float→double values, and the away-from-zero rounding is
    * spelled as floor arithmetic both engines share — the codes replay
    * bit for bit. Zero shuffle: one codegen projection.
    *
    * @return (id, scale rounded 6, q ARRAY<BIGINT> of codes in [−127,127]) */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val ma = array_max(transform(v, x => abs(x)))
    val s = when(ma === 0.0, lit(0.0)).otherwise(ma / 127.0)
    df.select(col(idCol).as("id"), v.as("__v"), s.as("__s"))
      .select(col("id"), round(col("__s"), 6).as("scale"),
        transform(col("__v"), x =>
          when(col("__s") === 0.0, lit(0L))
            .when(x >= 0, floor(x / col("__s") + 0.5).cast("long"))
            .otherwise(-floor(-x / col("__s") + 0.5).cast("long")))
          .as("q"))
  }

  /** Per-dimension whitening (z-normalization) of an embedding column —
    * the standard retrieval-hygiene transform before cosine/IP search:
    * anisotropic dimensions dominate raw inner products, and centering
    * plus unit variance makes distances comparable across models and
    * checkpoints. w_i = (x_i − mean_i) / std_i (sample std, n−1);
    * constant dimensions (std 0) whiten to 0.
    *
    * Scale shape: ONE moment pass (posexplode → per-dimension exact
    * DECIMAL sums, map-side combined to `dim` rows), the dim-bounded
    * moment table collected (64 rows here — the k-means-centroid
    * precedent) and inlined as literals, then a zero-shuffle codegen
    * projection over the corpus. No corpus-sized shuffle anywhere.
    *
    * Determinism: sums are exact decimals recovered to double, the
    * mean/variance arithmetic is a fixed IEEE sequence, and sqrt is
    * correctly rounded by IEEE-754 — a SQL oracle recomputing the same
    * moments replays every component bit for bit. Requires n >= 2.
    *
    * @return (id, w ARRAY<DOUBLE>) */
  def whiten(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val moments = df
      .select(posexplode(transform(col(vecCol), x => x.cast("double")))
        .as(Seq("i", "x")))
      .groupBy("i")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,12)")).cast("string").cast("double")
          .as("s"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("string")
          .cast("double").as("ss"))
      .orderBy("i")
      .collect()
    require(moments.nonEmpty && moments.head.getLong(1) >= 2,
      "whiten needs at least 2 vectors")
    val means = moments.map(r => r.getDouble(2) / r.getLong(1))
    val stds = moments.map { r =>
      val n = r.getLong(1); val s = r.getDouble(2); val ss = r.getDouble(3)
      math.sqrt((ss - s * s / n) / (n - 1))
    }
    df.select(col(idCol).as("id"),
      transform(col(vecCol), (x, i) => {
        val sd = element_at(typedLit(stds.toSeq), i + 1)
        when(sd === 0.0, lit(0.0))
          .otherwise((x.cast("double") -
            element_at(typedLit(means.toSeq), i + 1)) / sd)
      }).as("w"))
  }

  /** Johnson-Lindenstrauss random projection: compress `vecCol` (inDim
    * floats) to `outDim` dense doubles with a seeded Gaussian plane matrix
    * scaled by 1/sqrt(outDim), so pairwise distances are preserved in
    * expectation — the standard cheap embedding compression before an ANN
    * index or a near-dup pass at 100 TB (a 4× narrower vector is 4× less
    * shuffle in every downstream stage).
    *
    * The planes are BUILD-TIME constants ([[srpPlanes]], same stream the
    * SRP-LSH tier uses) inlined into the plan — one codegen projection
    * pass, zero shuffle. Each output lane is a left-fold sum in dimension
    * order and is rounded at 6 decimals, so a SQL oracle replays every
    * lane bit for bit (the q_ann_lsh recipe minus the sign). */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    inDim: Int, outDim: Int, seed: Long = 5L): DataFrame = {
    require(outDim >= 1 && outDim <= inDim,
      s"outDim must be in [1, $inDim]: $outDim")
    val planes = srpPlanes(inDim, outDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val lanes = planes.map { p =>
      round(aggregate(
        zip_with(col(vecCol), lit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v) * scale, 6)
    }
    df.select(col(idCol).as("id"), array(lanes.toIndexedSeq: _*).as("proj"))
  }

  def srpSignature(vec: Column, dim: Int, nBits: Int = 16, seed: Long = 7L): Column = {
    val planes = srpPlanes(dim, nBits, seed)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val proj = aggregate(
        zip_with(vec, lit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k via SRP-LSH with multi-probe: corpus rows are
    * bucketed by signature band; each query probes the buckets of its own
    * band values. Candidates are re-scored exactly, so precision is 1 —
    * recall depends on bands/bits (verified against brute force in tests).
    *
    * Scale shape: corpus-side signatures are computed once (could be
    * written bucketed/partitioned by band_hash at 100 TB); the join is
    * equi on (band, chunk), never all-pairs.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int,
              nBits: Int = 32, bands: Int = 8, seed: Long = 7L): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    val bitsPerBand = nBits / bands
    val mask = (1L << bitsPerBand) - 1
    def banded(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"),
          srpSignature(col(vecCol), dim, nBits, seed).as("__sig"))
        .select(col(s"${side}_id"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => call_function("shiftright", col("__sig"), b * bitsPerBand)
              .bitwiseAND(lit(mask)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    // repartition = the shuffle the join needs + a materialization barrier
    // so the SRP signature expression is not re-inlined into the join and
    // recomputed per candidate row
    val cb = banded(corpus, "neighbor").repartition(col("band"), col("chunk"))
    val qb = broadcast(banded(queries, "query"))
    // candidate DEDUP runs on bare id pairs (vectorized hash aggregate on
    // numeric keys, map-side partials kill the per-band duplicates before
    // the exchange); vectors re-attach afterwards — an earlier shape ran
    // distinct() with both embedding vectors as grouping keys, shuffling
    // the full payload once per band collision and hashing arrays
    val candidates = cb.join(qb, Seq("band", "chunk"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    // ids are treated as unique keys on the re-attach: a corpus row
    // duplicated verbatim must not occupy two top-k slots after the
    // id-level candidate dedup collapsed it to one pair. An id carried by
    // rows with DIFFERENT vectors keeps the array-minimum vector — min()
    // over the orderable array type, so the pick is deterministic instead
    // of whichever row dropDuplicates happened to see first (the agg
    // falls back to sort-based with an array buffer, but it runs on the
    // id-deduped sides only once per lshTopK call)
    val scored = candidates
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__queryv")).groupBy("query_id")
        .agg(min(col("__queryv")).as("__queryv"))), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__neighborv")).groupBy("neighbor_id")
        .agg(min(col("__neighborv")).as("__neighborv")), "neighbor_id")
      .withColumn("cos", cosine(col("__queryv"), col("__neighborv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }
}

/** Native quantizer-cell expressions for [[Similarity.ivfTopK]]: the
  * centroid table is a small plan-time constant (embedded via
  * addReferenceObj), the vector argument is read straight from Tungsten
  * ArrayData — no per-row encoder conversion, full codegen span. */
private[sim] object CellExprs {
  import org.apache.spark.sql.{Column, GraftColumnBridge}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._

  private def floats(c: Column): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      GraftColumnBridge.expression(c), ArrayType(FloatType))

  def nearest(vec: Column, cents: Array[Array[Double]]): Column =
    GraftColumnBridge.column(NearestCellExpr(floats(vec), cents))
  def probes(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column =
    GraftColumnBridge.column(ProbeCellsExpr(floats(vec), cents, nProbe))

  private[sim] def d2(v: Array[Float], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(v.length, c.length)
    while (i < n) { val d = v(i).toDouble - c(i); s += d * d; i += 1 }
    s
  }

  case class NearestCellExpr(child: Expression, cents: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with Serializable {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_nearest_cell"
    def kernel(a: ArrayData): Int = {
      val v = a.toFloatArray()
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cents.length) {
        val s = d2(v, cents(c))
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      best
    }
    protected override def nullSafeEval(a: Any): Any =
      kernel(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nearestCell", this)
      defineCodeGen(ctx, ev, c => s"$ref.kernel($c)")
    }
    override protected def withNewChildInternal(n: Expression): NearestCellExpr =
      copy(child = n)
  }

  case class ProbeCellsExpr(child: Expression, cents: Array[Array[Double]],
                            nProbe: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with Serializable {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_probe_cells"
    def kernel(a: ArrayData): ArrayData = {
      val v = a.toFloatArray()
      // same ordering as the former sortBy(d2): stable ascending distance,
      // ties by cell index
      val order = cents.indices.sortBy(ci => d2(v, cents(ci))).take(nProbe)
      new GenericArrayData(order.map(Integer.valueOf).toArray[Any])
    }
    protected override def nullSafeEval(a: Any): Any =
      kernel(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("probeCells", this)
      defineCodeGen(ctx, ev, c => s"$ref.kernel($c)")
    }
    override protected def withNewChildInternal(n: Expression): ProbeCellsExpr =
      copy(child = n)
  }
}
