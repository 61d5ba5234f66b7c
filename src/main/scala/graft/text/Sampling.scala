package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.ops.Materialize.barrier

/** Deterministic sampling / splitting / ordering operators for training-data
  * pipelines: stable train/val/test assignment, per-stratum downsampling,
  * global shuffle order, and concat-then-split sequence packing.
  *
  * Everything here is reproducible by construction — no `rand()`: each row's
  * fate is a pure function of (seed, key). That is the property a 100 TB
  * corpus build actually needs (re-running a failed stage, adding a source,
  * or changing executor count must not resample the corpus), and it is what
  * makes the operators oracle-checkable at all.
  *
  * The uniform draw stays in STRING space end to end: 15 lowercase hex chars
  * of md5 read as a base-16 fraction, compared lexicographically against a
  * precomputed hex threshold literal. Both Spark and DuckDB emit identical
  * lowercase-hex md5 over UTF-8 bytes, so an oracle replays the exact keep
  * decision with no hex-to-integer conversion seam (the [[hexThreshold]]
  * literal is computed once, on the driver, and inlined into both plans).
  *
  * Scale shapes:
  *  - [[splitAssign]] / [[stratifiedSample]]: pure codegen'd column
  *    pipelines — zero shuffle, one pass, stream through the scan.
  *  - [[shuffleOrder]] / [[packSequences]]: one range exchange + the
  *    textbook two-pass distributed prefix sum ([[withRunningOffset]]) —
  *    driver state is one long per partition, never row data.
  */
object Sampling {

  /** Uniform draw in [0,1) for (seed, key), as 15 lowercase hex chars of
    * md5 (60 bits — exact in a long, exceeds double precision). */
  def hashFrac(key: Column, seed: Long): Column =
    substring(md5(concat(lit(s"$seed:"), key.cast("string"))), 1, 15)

  /** SQL twin of [[hashFrac]] for oracle construction. */
  def hashFracSql(keyExpr: String, seed: Long): String =
    s"substring(md5('$seed:' || CAST($keyExpr AS VARCHAR)), 1, 15)"

  /** rate in [0,1] -> threshold string with P[hashFrac < threshold] = rate
    * at 60-bit resolution. rate >= 1 returns "g", which every hex string
    * sorts below (hex digits stop at 'f'), so the keep test stays a plain
    * string compare even in the keep-everything case. */
  def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of [0,1]: $rate")
    if (rate >= 1.0) "g"
    else {
      val n = (BigDecimal(rate) * BigDecimal(BigInt(1) << 60)).toBigInt
      f"${n.bigInteger}%015x"
    }
  }

  /** Deterministic train/val/test-style assignment: adds a `split` column
    * naming the first cut whose cumulative fraction exceeds the row's hash.
    * cuts are (name, fraction) and must sum to 1; the last cut is the CASE
    * else-branch so rounding in the cumulative sum can never drop a row. */
  def splitAssign(df: DataFrame, keyCol: String, seed: Long,
                  cuts: Seq[(String, Double)]): DataFrame = {
    val pairs = cutThresholds(cuts)
    val h = hashFrac(col(keyCol), seed)
    val expr = pairs.init.foldRight(lit(pairs.last._1): Column) {
      case ((name, thr), els) => when(h < lit(thr), lit(name)).otherwise(els)
    }
    df.withColumn("split", expr)
  }

  /** SQL twin of [[splitAssign]]'s CASE, sharing the exact threshold
    * literals (same cumulative-sum arithmetic, same [[hexThreshold]]). */
  def splitAssignSql(keyExpr: String, seed: Long,
                     cuts: Seq[(String, Double)]): String = {
    val pairs = cutThresholds(cuts)
    val h = hashFracSql(keyExpr, seed)
    val whens = pairs.init
      .map { case (name, thr) => s"WHEN $h < '$thr' THEN '$name'" }
      .mkString(" ")
    s"CASE $whens ELSE '${pairs.last._1}' END"
  }

  private def cutThresholds(cuts: Seq[(String, Double)]): Seq[(String, String)] = {
    require(cuts.nonEmpty, "no cuts")
    val cum = cuts.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    require(math.abs(cum.last - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${cum.last}")
    cuts.map(_._1).zip(cum.map(hexThreshold))
  }

  /** Deterministic per-stratum downsampling: keep a row iff its hash falls
    * under its stratum's rate. Zero shuffle, exactly reproducible, and
    * NESTED by construction — the rate-0.2 sample of a stratum is a subset
    * of its rate-0.5 sample under the same seed (both are hash-prefix
    * cuts), which is what incremental corpus-mix tuning wants. */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       seed: Long): DataFrame = {
    val thr = rates.toSeq.sortBy(_._1)
      .foldRight(lit(hexThreshold(defaultRate)): Column) {
        case ((stratum, r), els) =>
          when(col(stratumCol) === stratum, lit(hexThreshold(r))).otherwise(els)
      }
    df.where(hashFrac(col(keyCol), seed) < thr)
  }

  /** Deterministic mixture sampling with rates that may EXCEED 1 — the
    * upsampling half of corpus-mix control (e.g. a high-quality source at
    * 2.5x: two full copies, plus a third for the hash-chosen half). Emits
    * one row per kept copy with a `rep` index (0-based), so downstream
    * shuffling/packing can treat copies as distinct rows. A row keeps copy
    * `rep` iff rep < floor(rate), or rep == floor(rate) and its hash falls
    * under the fractional remainder — one draw per row, so the rate-2.5
    * output contains the rate-2.2 output (nested, like
    * [[stratifiedSample]]). Zero shuffle: the fan-out is a codegen'd
    * sequence explode, sized ceil(rate) per stratum. */
  def sampleWithRepetition(df: DataFrame, keyCol: String, stratumCol: String,
                           rates: Map[String, Double], defaultRate: Double,
                           seed: Long): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(_ >= 0.0),
      "rates must be non-negative")
    def byStratum[T](f: Double => T, toCol: T => Column): Column =
      rates.toSeq.sortBy(_._1).foldRight(toCol(f(defaultRate))) {
        case ((stratum, r), els) =>
          when(col(stratumCol) === stratum, toCol(f(r))).otherwise(els)
      }
    val nCopies = byStratum[Int](r => math.ceil(r).toInt, lit(_))
    val fullCopies = byStratum[Int](r => math.floor(r).toInt, lit(_))
    val fracThr = byStratum[String](r => hexThreshold(r - math.floor(r)), lit(_))
    val h = hashFrac(col(keyCol), seed)
    df.withColumn("__n", nCopies)
      .withColumn("rep", explode(when(col("__n") > 0,
        sequence(lit(0), col("__n") - 1)).otherwise(lit(Array.empty[Int]))))
      .where(col("rep") < fullCopies || h < fracThr)
      .drop("__n")
  }

  /** Seeded weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
    * keep the n rows with the largest ln(u)/w, where u is the row's
    * deterministic (seed, key) uniform draw and w its positive weight —
    * equivalent to sequential weighted draws, but embarrassingly parallel
    * and reproducible (quality-weighted corpus selection needs both).
    *
    * Scale shape: no global sort — orderBy+limit plans as
    * TakeOrderedAndProject (per-partition top-n, single merge of P·n
    * rows). The draw u is the first 13 md5 hex digits (52 bits, exact in
    * a double) over the same "seed:key" preimage as [[hashFrac]], so a
    * SQL oracle replays the selection bit for bit (ln and the division
    * hit the same libm/IEEE ops in both engines). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     n: Int, seed: Long): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val u = conv(substring(md5(concat(lit(s"$seed:"),
        col(keyCol).cast("string"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52
    df.withColumn("es_key", log(u) / col(weightCol))
      .orderBy(col("es_key").desc, col(keyCol))
      .limit(n)
      .drop("es_key")
  }

  /** SQL twin of [[weightedSample]]'s sort key, for oracle construction. */
  def esKeySql(keyExpr: String, weightExpr: String, seed: Long): String =
    s"ln(CAST(concat('0x', substr(md5('$seed:' || CAST($keyExpr AS VARCHAR)), 1, 13)) AS BIGINT) / 4503599627370496.0) / $weightExpr"

  /** Weighted sampling WITHOUT replacement in the LOG-weight domain —
    * the Gumbel-top-k trick: key = log_w − ln(−ln u) with u a
    * deterministic md5 uniform, top n keys win; distributionally
    * identical to [[weightedSample]] with w = exp(log_w) but never
    * exponentiates, so importance log-weights spanning hundreds of nats
    * (the DSIR regime) can't overflow. u is (raw60bits + 0.5)/2^52-style
    * shifted so u ∈ (0,1) strictly — ln(0) can never surface. Same scale
    * shape as weightedSample: per-partition top-n via
    * TakeOrderedAndProject, no global sort. Ties (astronomically
    * unlikely) break on the key column for determinism. */
  def gumbelTopK(df: DataFrame, keyCol: String, logWeightCol: String,
                 n: Int, seed: Long): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val u = (conv(substring(md5(concat(lit(s"gk$seed:"),
        col(keyCol).cast("string"))), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    df.withColumn("__gk", col(logWeightCol) - log(-log(u)))
      .orderBy(col("__gk").desc, col(keyCol))
      .limit(n)
      .drop("__gk")
  }

  /** SQL twin of [[gumbelTopK]]'s sort key, for oracle construction.
    * `logWeightExpr` must reproduce the engine's log-weight EXACTLY
    * (e.g. the rounded output of a weights stage) or the top-k boundary
    * becomes a float seam. */
  def gumbelKeySql(keyExpr: String, logWeightExpr: String,
                   seed: Long): String =
    s"($logWeightExpr) - ln(-ln((CAST(concat('0x', substr(md5('gk$seed:' || CAST($keyExpr AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0))"

  /** Distributed exclusive prefix sum of `valueCol` (cast to long, null=0)
    * over the global `orderCols` order, appended as `outCol`.
    *
    * Two-pass shape that holds at any scale: range-partition on the order
    * key, sort within partitions, per-partition sums (a P-row shuffle),
    * cumulative-sum those P longs on the driver, broadcast the offsets,
    * then one imperative running-sum pass per partition. The data crosses
    * the wire once (the range exchange); there is no global
    * single-partition window anywhere. The per-partition pass is
    * `mapPartitionsWithIndex` — genuinely imperative per-partition logic,
    * the documented carve-out for dropping below the DataFrame API. */
  def withRunningOffset(df: DataFrame, orderCols: Seq[String],
                        valueCol: Column, outCol: String,
                        numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val oc = orderCols.map(col)
    // Materialize the input BEFORE the range exchange: RangePartitioner's
    // key-sampling pass evaluates the upstream plan per-row WITHOUT
    // whole-stage codegen, and the exchange then evaluates it again — an
    // expensive upstream (regex/array-heavy scoring) measured ~17× its
    // codegen cost through that path (50 s vs 3 s at 500k docs). One
    // narrow checkpoint makes both passes block reads.
    val narrow = barrier(df
      .withColumn("__v", coalesce(valueCol.cast("long"), lit(0L))),
      "sampling.narrow")
    // second checkpoint: the range-partitioned frame is consumed twice
    // (partition sums, then the offset pass) — materialize once, reuse
    // blocks, and pin the partitioning so both passes see identical
    // partition ids.
    val prepared = barrier(narrow
      .repartitionByRange(p, oc: _*)
      .sortWithinPartitions(oc: _*), "sampling.prepared")
    val sums = prepared.groupBy(spark_partition_id().as("__pid"))
      .agg(sum(col("__v")).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = prepared.rdd.getNumPartitions
    val offsets = new Array[Long](nParts)
    var acc = 0L
    var i = 0
    while (i < nParts) {
      offsets(i) = acc; acc += sums.getOrElse(i, 0L); i += 1
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val vIdx = prepared.schema.fieldIndex("__v")
    val outSchema = StructType(
      prepared.schema.fields :+ StructField(outCol, LongType, nullable = false))
    val rdd = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
      var running = bc.value(pid)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ running)
        running += r.getLong(vIdx)
        out
      }
    }
    spark.createDataFrame(rdd, outSchema).drop("__v")
  }

  /** Deterministic global shuffle position: `pos` = the row's rank in
    * md5-hash order (ties broken by key) — the reproducible analogue of
    * ORDER BY rand() for training-order randomization. */
  def shuffleOrder(df: DataFrame, keyCol: String, seed: Long): DataFrame =
    withRunningOffset(df.withColumn("__h", hashFrac(col(keyCol), seed)),
      Seq("__h", keyCol), lit(1L), "pos").drop("__h")

  /** Concat-then-split sequence packing: lay documents out in `orderCols`
    * order as one token stream; each doc gets its global `start_offset`
    * and `chunk_id` = the fixed-size chunk its first token lands in — the
    * standard pre-training packing layout (documents straddle chunk
    * boundaries; a doc belongs to the chunk where it starts). `tokensCol`
    * must be an existing integral column. */
  def packSequences(df: DataFrame, orderCols: Seq[String], tokensCol: String,
                    budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    withRunningOffset(df, orderCols, col(tokensCol), "start_offset")
      .withColumn("chunk_id",
        floor(col("start_offset") / lit(budget.toDouble)).cast("long"))
  }

  /** Per-domain quota: keep at most `quota` rows per `domainCol` value,
    * chosen in deterministic md5-hash order (ties by key) — the standard
    * "no single site dominates the corpus" cap. Adds `rn`, the row's
    * 1-based position within its domain's hash order.
    *
    * One hash-partitioned window on the domain key — the minimal shape
    * (the quota is a per-group ORDER-sensitive selection, so some
    * exchange on the domain key is irreducible). A skewed mega-domain
    * still sorts only its own partition's rows; callers with a domain
    * carrying a double-digit share of a 100 TB corpus should pre-filter
    * that domain by [[hashFrac]] threshold first (a plain scan predicate)
    * and window only the survivors. */
  def domainQuota(df: DataFrame, keyCol: String, domainCol: String,
                  quota: Int, seed: Long): DataFrame = {
    require(quota > 0, s"quota must be positive: $quota")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(hashFrac(col(keyCol), seed), col(keyCol))
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= quota)
  }

  /** Temperature-scaled mixture weights over a domain/source/language
    * column — the standard multilingual-corpus rebalancer: raw shares
    * p_i are flattened to w_i ∝ p_i^alpha (alpha < 1 upweights the tail,
    * alpha = 1 is proportional, alpha = 0 is uniform), and an integer
    * token/doc `budget` is apportioned by exact integer division of the
    * quantized weights.
    *
    * Determinism contract: p_i = n_i/N is one double division of exact
    * longs; pow's last ulp is libm-specific so p^alpha quantizes to the
    * 1e-6 grid immediately (the ln/IRLS recipe); weights and quotas then
    * live in exact integer micro-units (the normalizing sum is a BIGINT
    * window total, order-independent), so a SQL oracle replays every
    * row bit for bit. sum(quota) == min(budget, ...) EXACTLY: the floor
    * division's shortfall (up to numDomains−1) is handed out by
    * deterministic largest remainder — +1 to the domains with the
    * biggest division remainder, domain value breaking ties — so a
    * caller composing a fixed token budget gets the whole budget.
    *
    * Scale shape: one per-domain count aggregate (map-side combined)
    * over the corpus; everything after is arithmetic over the
    * domain-cardinality relation — a single-task window at worst.
    *
    * @return (domainCol, n, p, w, quota): share, normalized temperature
    *         weight (rounded 6), and the integer budget slice */
  def mixtureTemperature(df: DataFrame, domainCol: String, alpha: Double,
                         budget: Long): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1]: $alpha")
    require(budget > 0, s"budget must be positive: $budget")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    counts
      .withColumn("__total", sum(col("n")).over(all))
      .withColumn("p",
        col("n").cast("double") / col("__total").cast("double"))
      .withColumn("__qu",
        floor(pow(col("p"), lit(alpha)) * 1e6 + 0.5).cast("long"))
      .withColumn("__qsum", sum(col("__qu")).over(all))
      .withColumn("__q0", expr(s"(${budget}L * __qu) div __qsum"))
      .withColumn("__rem", expr(s"(${budget}L * __qu) % __qsum"))
      // largest-remainder top-up: the floor quotas fall short of the
      // budget by sum(rem)/qsum (< numDomains) — rank the remainders
      // (domain breaks ties) and +1 exactly that many domains. Both
      // windows run over the domain-cardinality relation (bounded).
      .withColumn("__short", lit(budget) - sum(col("__q0")).over(all))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__rem").desc, col(domainCol))))
      .select(col(domainCol), col("n"),
        round(col("p"), 6).as("p"),
        round(col("__qu").cast("double") / col("__qsum").cast("double"), 6)
          .as("w"),
        (col("__q0") + when(col("__rk") <= col("__short"), 1L)
          .otherwise(0L)).as("quota"))
  }

  /** Sliding context-window chunking — the complement of
    * [[packSequences]]: packing concatenates SHORT documents into
    * fixed-budget training rows, chunking splits LONG documents into
    * `window`-token pieces advancing by `stride` tokens (overlap =
    * window − stride, the standard long-document pre-training layout).
    * Chunk starts are 0, stride, 2·stride, …; the last chunk is the
    * first one whose window reaches the end of the doc (it may be short,
    * never empty), so every token lands in ≥ 1 chunk and no fully-
    * redundant tail chunk is emitted.
    *
    * Zero-shuffle: pure per-row array arithmetic (tokenize once, slice
    * per chunk index, posexplode) — at corpus scale this is a map-only
    * stage that rides the input partitioning. Output: (id, chunk_idx,
    * start_tok, n_chunk_tokens, chunk_text). */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window]: $stride")
    val nChunks = // 1 + ceil(max(0, n - window) / stride); floor of the
      // double division is exact for any 32-bit token count
      lit(1) + floor((greatest(size(col("toks")) - window, lit(0)) +
        lit(stride - 1)) / lit(stride)).cast("int")
    df.select(col(idCol).as("id"),
        filter(split(lower(col(textCol)), "\\s+"),
          t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("id"), size(col("toks")).as("n_tokens"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => struct((i * stride).as("start_tok"),
            slice(col("toks"), i * stride + 1, lit(window)).as("chunk")))))
      .select(col("id"), col("pos").as("chunk_idx"),
        col("col.start_tok").as("start_tok"),
        size(col("col.chunk")).as("n_chunk_tokens"),
        array_join(col("col.chunk"), " ").as("chunk_text"))
  }

  /** Water-filling budget allocation across groups — the "sample B docs
    * across sources WITHOUT replacement" solver that
    * [[mixtureTemperature]]'s proportional split cannot express: a
    * proportional quota can exceed a small source's supply; here
    * undersupplied sources are taken whole and the freed budget
    * redistributes among the rest at a common water level. Exact
    * semantics: sort groups by (supply asc, group asc); the maximal
    * prefix whose full take plus level-n_i for everyone after fits the
    * budget is taken whole ("filled"); the rest get the integer water
    * level, with the remainder going to the smallest-supply groups
    * first (deterministic). Σ quota = min(budget, Σ supply), always.
    *
    * Everything is BIGINT window arithmetic over the GROUP-cardinality
    * relation (one corpus count aggregate feeds it; the sort partition
    * is domain-sized, never the corpus), so a SQL oracle replays every
    * quota exactly.
    *
    * @return (groupCol, n, quota, filled) */
  def waterfillQuota(df: DataFrame, groupCol: String,
                     budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").asc, col("g").asc)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    df.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n"))
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("p", sum(col("n")).over(ord.rowsBetween(Long.MinValue, 0)))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("filled",
        col("p") - col("n") + col("n") * (col("m") - col("i") + 1) <=
          budget)
      .withColumn("cut", sum(when(col("filled"), 1L).otherwise(0L)).over(all))
      .withColumn("taken",
        coalesce(max(when(col("filled"), col("p"))).over(all), lit(0L)))
      .withColumn("rest", col("m") - col("cut"))
      .withColumn("level", when(col("rest") > 0,
        expr(s"($budget" + "L - taken) div rest")).otherwise(lit(0L)))
      .withColumn("rem", when(col("rest") > 0,
        (lit(budget) - col("taken")) % col("rest")).otherwise(lit(0L)))
      .withColumn("quota", when(col("filled"), col("n"))
        .otherwise(col("level") +
          when(col("i") - col("cut") <= col("rem"), 1L).otherwise(0L)))
      .select(col("g").as(groupCol), col("n"), col("quota"), col("filled"))
  }

  /** Execute a per-group quota allocation (e.g. [[waterfillQuota]]'s
    * output): keep exactly `quota_g` rows per group, chosen by the
    * deterministic md5 hash order (seed, key) — re-runs select the SAME
    * rows, and shrinking a group's quota yields a SUBSET of the larger
    * selection (hash-prefix nesting, the property incremental mix
    * tuning needs). The dynamic-quota companion of the constant-quota
    * `domainQuota`.
    *
    * Scale shape: one broadcast of the domain-sized quota table, one
    * per-group rank window (the domainQuota shape — hash order, id
    * tie-break). */
  def quotaSample(df: DataFrame, groupCol: String, keyCol: String,
                  quotas: DataFrame, quotaGroupCol: String,
                  quotaCol: String, seed: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashFrac(col(keyCol), seed), col(keyCol))
    df.join(broadcast(quotas.select(col(quotaGroupCol).as(groupCol),
        col(quotaCol).as("__q"))), groupCol)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("__q"))
      .drop("__q", "__rn")
  }

  /** Per-group percent-rank normalization — makes a score comparable
    * ACROSS sources/domains (a 0.6 quality on a clean source and on a
    * spam-heavy one mean different things; thresholding the normalized
    * rank cuts the same per-source fraction everywhere). Standard SQL
    * percent_rank semantics: ties share (rank_min − 1)/(n − 1), a
    * single-member group gets 0.
    *
    * Scale shape — deliberately NOT a per-row window over the group
    * (one 10 TB source = one sort partition): the corpus collapses to a
    * per-(group, value) GRID first (map-side combined; the value is on
    * the 1e-6 grid so the relation is at most group·10⁶ rows), the CDF
    * window runs over that grid-sized relation, and rows join their
    * percentile back on (group, value). No corpus-sized sort or
    * partition anywhere. */
  def groupPercentRank(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame = {
    val grid = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Long.MinValue, -1)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val cdf = grid
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(all))
      .select(col(groupCol), col(valueCol),
        round(when(col("__n") > 1,
          col("__below").cast("double") / (col("__n") - 1))
          .otherwise(lit(0.0)), 6).as("pct_rank"))
    df.join(cdf, Seq(groupCol, valueCol))
  }

  /** Deterministic T5-style span corruption — the denoising-objective
    * training-pair generator: the token stream is cut into fixed
    * `spanTokens` buckets, each bucket is masked iff its md5-derived
    * draw (a pure function of seed, doc id, and bucket index — NOT
    * `rand()`, so a re-run or a new executor count regenerates the
    * identical pairs) lands under `maskPct` percent, masked buckets are
    * replaced in the input by `<extra_id_K>` sentinels numbered in
    * document order, and the target lists each sentinel followed by the
    * tokens it hides.
    *
    * Entirely per-row higher-order-function arithmetic — zero shuffle,
    * zero state; the whole corpus maps in one projection. The mask draw
    * (`md5 prefix as 60-bit int % 100`) replays bit-for-bit in SQL, so
    * the generated pairs are oracle-checkable.
    *
    * @return (id, n_tokens, n_masked, input_text, target_text); docs
    *         with no masked bucket keep target_text = "". */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
                  spanTokens: Int = 3, maskPct: Int = 15,
                  seed: Long = 7L): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be positive: $spanTokens")
    require(maskPct >= 1 && maskPct <= 99, s"maskPct in [1,99]: $maskPct")
    val masked = (b: Column) =>
      conv(substring(md5(concat(lit(s"sc$seed:"), col("id").cast("string"),
        lit("_"), b.cast("string"))), 1, 15), 16, 10).cast("long") %
        100 < maskPct
    val span = (b: Column) =>
      array_join(slice(col("toks"), b * spanTokens + 1, lit(spanTokens)), " ")
    df.select(col(idCol).as("id"),
        filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)
      .withColumn("n", size(col("toks")))
      .withColumn("mb", filter(
        sequence(lit(0), floor((col("n") - 1) / lit(spanTokens)).cast("int")),
        b => masked(b)))
      .select(col("id"), col("n").as("n_tokens"),
        aggregate(transform(col("mb"),
            b => least(lit(spanTokens), col("n") - b * spanTokens)
              .cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_masked"),
        array_join(transform(
          sequence(lit(0), floor((col("n") - 1) / lit(spanTokens)).cast("int")),
          b => when(masked(b), concat(lit("<extra_id_"),
              (array_position(col("mb"), b) - 1).cast("string"), lit(">")))
            .otherwise(span(b))), " ").as("input_text"),
        array_join(transform(col("mb"), (b, i) =>
          concat(lit("<extra_id_"), i.cast("string"), lit("> "), span(b))),
          " ").as("target_text"))
  }
}
