package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Mergeable frequency sketches for corpus profiling — the heavy-hitter
  * complement of the KMV distinct sketch (`q_kmv_distinct`): KMV answers
  * "how many distinct", count-min answers "how often does THIS item
  * occur" with a fixed-size summary, the 100 TB shape for token/domain
  * frequency monitoring where a full vocabulary aggregate is unwanted
  * per slice.
  *
  * Determinism discipline (shared with every md5-draw operator in this
  * repo): the row hashes are 60-bit md5 draws of `"cms<seed>:<row>:" ++
  * item`, so the sketch — and therefore every point estimate — is a pure
  * function of (data, seed, depth, width) that a DuckDB oracle replays
  * bit for bit. No random state, no stream-order dependence (unlike
  * Misra–Gries, whose content depends on arrival order and is therefore
  * NOT oracle-replayable — count-min is the right sketch for a
  * deterministic engine).
  */
object Sketches {

  private def bucket(item: Column, r: Int, width: Int, seed: Long): Column =
    conv(substring(md5(concat(lit(s"cms$seed:$r:"), item.cast("string"))),
      1, 15), 16, 10).cast("long") % width

  /** Build a depth×width count-min sketch over every row of `itemCol`
    * (one increment per OCCURRENCE). Output relation (r, bucket, c) has
    * at most depth·width rows regardless of input size.
    *
    * Shape: each row fans out to `depth` (r, bucket) cells (bounded
    * constant fan-out), then ONE aggregate with map-side partial combine
    * collapses the corpus to the cell grid — the classic sketch build:
    * linear scan, tiny shuffle (≤ depth·width partial rows per task). */
  def cmsBuild(items: DataFrame, itemCol: String,
               depth: Int, width: Int, seed: Long): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims: $depth x $width")
    items.select(posexplode(array((0 until depth).map(r =>
        bucket(col(itemCol), r, width, seed)): _*)))
      .toDF("r", "bucket")
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
  }

  /** Sketches are mergeable cell-wise — union the cell relations and sum.
    * Both inputs must share (depth, width, seed); the caller owns that
    * contract (persisted sketches should store the params alongside). */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("r", "bucket").agg(sum(col("c")).as("c"))

  /** Point-frequency estimates for `queries` (one row per distinct item):
    * est = min over rows r of the item's cell count — the count-min
    * guarantee est ≥ true, with overshoot bounded by collisions. The
    * sketch side is tiny (≤ depth·width cells) and broadcasts; the query
    * side never shuffles. */
  def cmsEstimate(sketch: DataFrame, queries: DataFrame, itemCol: String,
                  depth: Int, width: Int, seed: Long): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims: $depth x $width")
    val cells = queries.select(col(itemCol),
        posexplode(array((0 until depth).map(r =>
          bucket(col(itemCol), r, width, seed)): _*)))
      .toDF(itemCol, "r", "bucket")
    cells.join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
  }

  /** Per-group approximate distinct count via the KMV construction — the
    * "distinct users per segment / distinct docs per domain" primitive
    * where an exact per-group distinct would shuffle the full key set.
    * Each group's state is ≤ k longs ([[graft.catalyst.KmvSketchAgg]],
    * map-side partial combine), so the exchange carries sketch-sized
    * partials regardless of group cardinality; the sketches are also
    * MERGEABLE across corpus slices (re-take the k smallest of the union
    * — same contract as Profile.mergeKmvProfiles).
    *
    * Estimate: n_mins if the group has < k distinct hashes (exact), else
    * (k−1)·2⁶⁰ / kth-smallest, rounded at 2. Hashing is the shared
    * seeded md5 60-bit draw over the value's string form, so a SQL
    * oracle replays sketch and estimate exactly.
    *
    * @return (groupCol, n_rows, kmv ARRAY<BIGINT>, n_mins, est_distinct) */
  def groupKmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                       k: Int = 64, seed: Long = 3L): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val h = conv(substring(md5(concat(lit(s"gk$seed:"),
      col(valueCol).cast("string"))), 1, 15), 16, 10).cast("long")
    df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        graft.catalyst.SketchFunctions.kmvSketch(h, k).as("kmv"))
      .transform(withKmvEstimate(k))
  }

  /** Append (n_mins, est_distinct) derived from a `kmv` sketch column —
    * shared by the direct and merged group-KMV faces so both report the
    * identical estimate arithmetic. */
  private def withKmvEstimate(k: Int)(df: DataFrame): DataFrame = {
    val two60 = 1152921504606846976.0
    df.withColumn("n_mins", size(col("kmv")))
      .withColumn("est_distinct",
        when(col("n_mins") < k, col("n_mins").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * lit(two60) /
            element_at(col("kmv"), col("n_mins")), 2)))
  }

  /** Roll up per-slice [[groupKmvDistinct]] outputs into the union's
    * relation — bit-identical to running groupKmvDistinct over the union
    * directly: row counts sum, and the k smallest distinct hashes of the
    * unioned sketches ARE the union's KMV sketch (same contract as
    * Profile.mergeKmvProfiles). The first column is taken as the group
    * key. State per group stays ≤ slices·k longs inside the aggregate. */
  def mergeGroupKmv(slices: DataFrame, k: Int = 64): DataFrame = {
    val g = slices.columns(0)
    slices.groupBy(col(g))
      .agg(sum(col("n_rows")).as("n_rows"),
        slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))),
          1, k).as("kmv"))
      .transform(withKmvEstimate(k))
  }

  /** Cross-corpus content-overlap estimate via the KMV (k-minimum-values)
    * construction: the k smallest shingle-hash draws of A∪B form a
    * uniform sample of the union, and the fraction of them present in
    * BOTH corpora estimates the Jaccard overlap — "how much of corpus B
    * is already in corpus A" answered from two mergeable fixed-size
    * sketches, no pairwise document work. The md5 shingle draw is the
    * shared deterministic family (decontaminate/minhash), so the
    * ESTIMATE — not just the procedure — replays exactly in the oracle.
    *
    * Shape: per-side distinct hash sets (map-side combine), a flag-merge
    * aggregate on the hash, then orderBy(h).limit(k) — Spark executes
    * that as TakeOrderedAndProject (per-partition top-k, driver merge of
    * k·P rows), never a global sort. The exact Jaccard over the full
    * union rides the same relation for the gate's est-vs-exact check; a
    * 100 TB caller drops it and keeps only the sketch pass.
    *
    * Output, one row: (k_used, n_a, n_b, n_union, n_inter, est_jaccard,
    * exact_jaccard). */
  def corpusOverlapKmv(a: DataFrame, b: DataFrame, textCol: String,
                       shingleK: Int = 5, k: Int = 256): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    def hs(df: DataFrame) = df.select(explode(
        graft.catalyst.ArrayFunctions.shingleHashes(col(textCol), shingleK))
        .as("h"))
      .distinct()
    val uni = barrier(hs(a).select(col("h"), lit(1).as("ia"), lit(0).as("ib"))
      .unionByName(hs(b).select(col("h"), lit(0).as("ia"), lit(1).as("ib")))
      .groupBy("h").agg(max(col("ia")).as("ia"), max(col("ib")).as("ib")),
      "sketches.uni") // feeds the exact totals AND the top-k pass
    val tot = uni.agg(count(lit(1)).as("n_union"),
      sum(col("ia")).cast("long").as("n_a"),
      sum(col("ib")).cast("long").as("n_b"),
      sum(col("ia") * col("ib")).cast("long").as("n_inter"))
    val top = uni.orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("k_used"),
        sum(col("ia") * col("ib")).cast("long").as("inter_k"))
    top.crossJoin(tot) // two single-row frames — an intentional broadcast
      .select(col("k_used"), col("n_a"), col("n_b"), col("n_union"),
        col("n_inter"),
        round(col("inter_k").cast("double") / col("k_used"), 6)
          .as("est_jaccard"),
        round(col("n_inter").cast("double") / col("n_union"), 6)
          .as("exact_jaccard"))
  }
}
