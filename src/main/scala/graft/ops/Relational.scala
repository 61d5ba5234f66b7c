package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Relational building blocks mirroring the reference's pandas idioms with
  * deterministic, distributed semantics.
  */
object Relational {

  /** pandas natural join: `pd.merge(a, b)` with no `on=` joins on ALL
    * shared column names (heraldPathways.py:195, gizmos.py:445,474,479). */
  def naturalJoin(a: DataFrame, b: DataFrame, how: String = "inner"): DataFrame = {
    val keys = a.columns.toSeq.intersect(b.columns.toSeq)
    require(keys.nonEmpty, "naturalJoin: no shared columns")
    a.join(b, keys, how)
  }

  /** pandas `pd.concat` row-stack: aligns by column NAME and fills missing
    * columns with null (pathMassTransitions.py:191,312,
    * heraldPathways.py:106,455, validateRulesWithOrigins.py:125). */
  def concatRows(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Per-task input-byte target for [[spread]]'s fan-out width. The
    * spread kernels cost ~1-2 µs of CPU per COMPRESSED input byte
    * (quality/langId ~100 µs/doc, minhash ~60 µs/doc over ~50-100 B/doc
    * zstd parquet — round-15 JobProbe numbers), so a 64 KiB slice is
    * ~60-130 ms of kernel CPU per task: an order of magnitude above the
    * per-task scheduling cost, while still splitting a sub-MB corpus
    * ~10 ways. At any real scale leafBytes/64 KiB >> parallelism and the
    * cap in [[spreadWidth]] makes the width defaultParallelism — the
    * target only shapes the LOCAL grain (round-15 verdict: fixed 32-way
    * fan-out of a 0.6 MB corpus was the 8-vs-32-core inversion). */
  private val SpreadTargetBytes = 64L * 1024

  /** [[spread]]'s width for `leafBytes` of file input:
    * clamp(ceil(leafBytes / targetBytes), 1, parallelism). */
  private[graft] def spreadWidth(leafBytes: Long, parallelism: Int,
                                 targetBytes: Long): Int =
    math.min(parallelism.toLong, math.max(1L,
      (leafBytes + targetBytes - 1) / math.max(1L, targetBytes))).toInt

  /** Heavy per-document expressions (minhash signatures, quality/langId
    * token kernels) must not run on a handful of input splits: a
    * small-but-dense corpus file arrives as one partition and serializes
    * the whole computation. Fan the rows out first — to the session's
    * parallelism, or fewer when the input is so small that near-empty
    * tasks would cost more than they parallelize (width =
    * [[spreadWidth]] of the leaf bytes at the 64 KiB target;
    * at real scale the input already has >= parallelism splits and this
    * is a no-op). Shared home of the dedup tier's `spread` (round 15)
    * so the curation gates can reuse it.
    *
    * Plan-safe width probe: leaf input width from the optimized plan's
    * file-scan relations, NOT df.rdd.getNumPartitions — touching .rdd
    * forces eager physical planning of the whole frame and pins the
    * decision outside AQE. Non-file leaves (in-memory test frames)
    * report unknown → repartition, the safe direction for a heavy
    * per-row stage. A frame that already carries a repartition in its
    * optimized plan (a spread-ing caller composed with a spread-ing
    * callee) is already wide: inserting a second exchange would
    * round-robin the corpus again for nothing (round-15 ADVICE). */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    val alreadySpread = plan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.isDefined
    if (alreadySpread) return df
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val leaves = plan.collectLeaves().map {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some(h.location.sizeInBytes)
          case _ => None // non-file relation (e.g. a 1-partition JDBC
            // scan): width unknown — fan out, the safe direction here
        }
      case _ => None // unknown width: assume narrow, fan out
    }
    // mirrors FilePartition packing: total bytes / maxPartitionBytes
    val leafParts = leaves.map(_.fold(0L)(b => math.max(1L, b / math.max(1L, maxSplit))))
    if (leafParts.nonEmpty && leafParts.min >= target) return df
    // any unknown-width leaf → full fan-out (can't bound the bytes)
    val width =
      if (leaves.isEmpty || leaves.exists(_.isEmpty)) target
      else spreadWidth(leaves.flatten.sum, target, SpreadTargetBytes)
    df.repartition(width)
  }

  /** Order-deterministic `drop_duplicates(keep='first')`
    * (gizmos.py:509-516, mapBaseRetroRules.py:164-171): keep, per key
    * group, the first row under an explicit ordering. Pandas relies on
    * upstream row order; in a distributed engine the ordering must be
    * stated, so callers pass the sort columns the reference sorted by plus
    * a tiebreaker.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** [[keepFirst]] specialized to the case where the caller needs only the
    * key and (a prefix of) the ordering columns: the lexicographic
    * struct-minimum per key group replaces the row_number window. Same
    * rows out, but aggregation gets MAP-SIDE COMBINE — each partition
    * ships one candidate row per key instead of every row through the
    * window's full shuffle-and-sort, the difference between exchanging
    * |keys| and |rows| at 100 TB. Requires all-ascending, null-free
    * ordering columns (struct comparison and the window's default
    * nulls-first would disagree on nulls). */
  def keepFirstAgg(df: DataFrame, keys: Seq[String],
                   order: Seq[String]): DataFrame = {
    val w = df.groupBy(keys.map(col): _*)
      .agg(min(struct(order.map(col): _*)).as("__first"))
    order.foldLeft(w) { (acc, c) =>
      acc.withColumn(c, col("__first").getField(c))
    }.drop("__first")
  }

  /** As-of join: for each probe row, the LATEST reference row of the same
    * key with ref ts <= probe ts (ties at equal ts match). The reference
    * engine has no as-of (SURVEY §2.3 note), but it is the canonical
    * time-series enrichment a 100 TB event store needs, and Spark lacks a
    * native one.
    *
    * Scale shape: NOT a range join (which explodes candidates and
    * re-filters) — both sides are union-tagged and a single per-key window
    * carries the last non-null reference payload forward
    * (`last(ignoreNulls)` over rows-unbounded-preceding). ONE hash
    * exchange on the key + one in-partition sort, linear in rows,
    * skew-bounded by the per-key row count; the probe side is never
    * duplicated. Reference rows sort before probe rows at equal ts so
    * an exactly-simultaneous reference row is visible.
    *
    * Skew note: one hot key puts ALL of that key's rows in a single
    * window partition — linear (sort + one pass), not quadratic, and a
    * planted 10^6-row single-key test (OpsSpec) completes in seconds. If
    * a key ever outgrows one executor's sort budget, the escape hatch is
    * range-splitting WITHIN the key: bucket `tsCol` into coarse epochs,
    * run this join per (key, epoch) with each epoch's window seeded by
    * the previous epoch's last reference row (computed by a tiny per-
    * (key, epoch) max-aggregate first pass — the same two-pass shape as
    * Sampling.withRunningOffset). Not wired in because the single-key
    * path has no observed stall at the tested scale.
    *
    * @param probe    left side; all its columns survive
    * @param ref      reference side: `keyCol`, `tsCol`, `refCols` — if
    *                 several rows share (key, ts), callers must pre-dedup
    *                 (the ordering inside a tie is otherwise unspecified,
    *                 same as DuckDB's ASOF)
    * @param refCols  reference payload carried onto each probe row (null
    *                 when no reference row precedes it) */
  def asofJoin(probe: DataFrame, ref: DataFrame, keyCol: String,
               tsCol: String, refCols: Seq[String]): DataFrame = {
    val probePayload = probe.columns.toSeq.filterNot(Set(keyCol, tsCol))
    require(probePayload.intersect(refCols).isEmpty,
      s"asofJoin: overlapping payload columns ${probePayload.intersect(refCols)}")
    // the union-tag plumbing owns __p/__ref; a probe/ref column of that
    // name would be silently overwritten rather than carried
    val reserved = Set("__p", "__ref")
    require((probe.columns ++ ref.columns).forall(c => !reserved(c)),
      "asofJoin: column names __p and __ref are reserved")
    // keyCol/tsCol already survive on every probe row; listing them in
    // refCols would overwrite the probe's own key/ts in the output fold
    require(!refCols.contains(keyCol) && !refCols.contains(tsCol),
      s"asofJoin: refCols must not include the join key '$keyCol' or ts '$tsCol'")
    // the reference payload travels as ONE struct so the fill is atomic —
    // per-column fills would resurrect an older row's value wherever the
    // latest reference row carries a null in that column, stitching
    // columns from different reference rows onto one probe row
    val cols = Seq(keyCol, tsCol, "__p", "__ref") ++ probePayload
    val refStructType = org.apache.spark.sql.types.StructType(
      refCols.map(c => ref.schema(c).copy()))
    val p = probe.withColumn("__p", lit(1))
      .withColumn("__ref", lit(null).cast(refStructType))
      .select(cols.map(col): _*)
    val r = probePayload.foldLeft(
      ref.select(col(keyCol), col(tsCol),
          struct(refCols.map(col): _*).as("__ref"))
        .withColumn("__p", lit(0))) { (df, c) =>
      df.withColumn(c, lit(null).cast(probe.schema(c).dataType))
    }.select(cols.map(col): _*)
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = p.union(r)
      .withColumn("__ref", last(col("__ref"), ignoreNulls = true).over(w))
    refCols.foldLeft(filled.where(col("__p") === 1)) { (df, c) =>
      df.withColumn(c, col("__ref").getField(c))
    }.drop("__p", "__ref")
  }

  /** Top-k rows per group under an explicit ordering (wcModules.py:167-198
    * rank-partners idiom; gizmos.py:510-516 top-diameter). Window form —
    * shuffles every row of the group; [[topKPerGroupAgg]] is the
    * bounded-buffer production path. */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).withColumnRenamed("__rn", "rank_in_group")
  }

  /** Bounded-buffer top-k per group: Spark's `CollectTopK` aggregate (a
    * BoundedPriorityQueue of ≤ k elements, map-side partial combine)
    * instead of a window — each task ships at most k rows per group to
    * the exchange, where `row_number()` ships EVERY row and sorts whole
    * group partitions. The 100 TB shape for "3 best per customer" over
    * billions of rows with millions of groups.
    *
    * `sortKey` defines rank order ASCENDING and must be a total order
    * (include a tiebreak column; encode a descending numeric key by
    * negation). Output = input columns + rank_in_group, identical to
    * [[topKPerGroup]] under the equivalent window ordering. */
  def topKPerGroupAgg(df: DataFrame, keys: Seq[String], sortKey: Column,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => c, expression => e}
    val payload = struct(df.columns.map(col): _*)
    val child = e(struct(sortKey.as("o"), payload.as("row")))
    // reverse = true keeps the SMALLEST k under the struct ordering
    // (Spark uses the same flag orientation in its RankLimit pushdown)
    val top = c(org.apache.spark.sql.catalyst.expressions.aggregate
      .GraftAggBridge.collectTopK(child, k, reverse = true)
      .toAggregateExpression())
    df.groupBy(keys.map(col): _*)
      .agg(top.as("__top"))
      .select(posexplode(sort_array(col("__top"))).as(Seq("__i", "__e")))
      .select((col("__e.row.*") +: Seq((col("__i") + 1).cast("int")
        .as("rank_in_group"))): _*)
  }

  /** melt / wide→long unpivot (pd.melt, pathMassTransitions.py:166-180).
    * Keeps `idCols`, turns each of `valueCols` into a (variable, value)
    * row. Uses the built-in stack expression — no shuffle, executes inside
    * whole-stage codegen. */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
           varName: String = "variable", valName: String = "value",
           castTo: Option[String] = None): DataFrame = {
    // No forced cast by default: stack() unifies the natural common type of
    // the value columns, preserving values like pd.melt (a forced
    // cast-to-double broke string value columns under ANSI mode). Pass
    // castTo=Some("double") when mixing int and double value columns.
    val cast = castTo.map(t => (c: String) => s"cast(`$c` as $t)")
      .getOrElse((c: String) => s"`$c`")
    val stackArgs = valueCols.map(c => s"'$c', ${cast(c)}").mkString(", ")
    df.select(idCols.map(col) :+
      expr(s"stack(${valueCols.size}, $stackArgs) as (`$varName`, `$valName`)"): _*)
  }

  /** Explode a delimiter-joined set column (gizmos.py:40-80 `pd_to_set`;
    * explode sites gizmos.py:490-501,668-672). Null/empty becomes no rows,
    * matching the reference's `pd.isnull → set()` branch. */
  def explodeDelimited(df: DataFrame, column: String, delim: String = ";",
                       outName: String = "element"): DataFrame =
    df.withColumn(outName,
      explode(filter(split(col(column), java.util.regex.Pattern.quote(delim)),
        x => length(trim(x)) > 0)))

  /** Attach a 1-based positional index under an explicit total order —
    * the scalable form of "pandas index" (merge left_index/right_index,
    * gizmos.py:501). A bare `row_number() over (order by …)` collapses to
    * ONE partition; this is the distributed two-pass form: range-partition
    * sort, then global index = per-partition base offset (driver holds one
    * (count, min_id) pair per partition — never row data) + the row's
    * local position from `monotonically_increasing_id` (consecutive within
    * a partition). Stays entirely in the DataFrame layer — no `.rdd` row
    * re-encoding, visible to Catalyst/AQE end to end. */
  def withRowIndex(df: DataFrame, order: Seq[Column],
                   idxName: String = "row_idx"): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    // orderBy == repartitionByRange + local sort; the barrier
    // pins partition ids and row order so both passes see the same layout
    val sorted = barrier(df.repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id()), "relational.sorted")
    // pass 1: one row PER PARTITION (bounded by shuffle parallelism, not
    // data) — counts give the cumulative base, min(__mid) rebases the
    // partition-local id to 0
    val stats = sorted.groupBy("__pid")
      .agg(count(lit(1)).as("__n"), min("__mid").as("__mid0"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var acc = 0L
    val baseRows = stats.map { case (pid, n, mid0) =>
      val b = acc; acc += n; (pid, b, mid0)
    }.toSeq
    import spark.implicits._
    val bases = baseRows.toDF("__pid", "__base", "__mid0")
    // pass 2: broadcast the (≤ #partitions)-row offset table back on
    sorted.join(broadcast(bases), Seq("__pid"))
      .withColumn(idxName, col("__base") + (col("__mid") - col("__mid0")) + 1L)
      .drop("__pid", "__mid", "__base", "__mid0")
  }

  /** Rounded-key equi-join: the reference's surrogate for float range joins
    * (treatMassTransitions.py:30, pathMassTransitions.py:203-224) — round
    * both join values to `d` decimals and equi-join. HALF_UP rounding,
    * matching pandas'/DuckDB's observable behavior for these data. */
  def roundedJoin(a: DataFrame, b: DataFrame, aVal: String, bVal: String,
                  d: Int, how: String = "inner"): DataFrame = {
    val ak = a.withColumn("__rk", round(col(aVal), d))
    val bk = b.withColumn("__rk", round(col(bVal), d))
    ak.join(bk, Seq("__rk"), how).drop("__rk")
  }
}
