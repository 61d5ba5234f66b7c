package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Relational
import graft.stats.Stats
import Q.{Entry, t, r6}

/** Aggregations, windows, sorts, stats — SURVEY.md §2.4-§2.6 wired to the
  * correctness gate. */
object StatQueries {

  /** DuckDB replay of Profile.profile over lineitem: one UNION ALL arm
    * per column from the same (name, kind) spec the fixture is known to
    * carry. Numeric/timestamp ranges as doubles (timestamps via
    * epoch_us/1e6 — the exact micros-division Spark's cast performs),
    * string ranges binary-collated, each family NULL in the other's
    * columns, so no engine number formatting surfaces. */
  private val lineitemCols = Seq(
    "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
    "l_linenumber" -> "num", "l_quantity" -> "num",
    "l_extendedprice" -> "num", "l_discount" -> "num", "l_tax" -> "num",
    "l_returnflag" -> "str", "l_linestatus" -> "str",
    "l_shipdate" -> "ts")

  private def profileSqlFor(cols: Seq[(String, String)],
                            src: String): String =
    cols.map { case (c, kind) =>
      val (minN, maxN, minS, maxS) = kind match {
        case "num" => (s"CAST(min($c) AS DOUBLE)",
          s"CAST(max($c) AS DOUBLE)",
          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "ts" => (s"epoch_us(min($c)) / 1000000.0",
          s"epoch_us(max($c)) / 1000000.0",
          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          s"min($c)", s"max($c)")
      }
      s"SELECT '$c' AS col_name, count(*) AS n, count(*) - count($c) AS n_null, CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, $minN AS min_num, $maxN AS max_num, $minS AS min_str, $maxS AS max_str FROM $src"
    }.mkString(" UNION ALL ")

  private val lineitemProfileSql: String =
    profileSqlFor(lineitemCols, "lineitem")

  /** The q_profile_drift "current snapshot": l_tax dropped, l_flag
    * added, l_quantity nulled on every 10th order, l_extendedprice
    * shifted ×1.1 — one planted mutation per drift class. */
  private val driftCurSrc =
    "(SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, " +
    "CASE WHEN l_orderkey % 10 = 0 THEN NULL ELSE l_quantity END AS l_quantity, " +
    "l_extendedprice * CAST(1.1 AS DOUBLE) AS l_extendedprice, " +
    "l_discount, l_returnflag, l_linestatus, l_shipdate, " +
    "l_orderkey % 2 AS l_flag FROM lineitem)"
  private val driftCurCols = lineitemCols.filterNot(_._1 == "l_tax") :+
    ("l_flag" -> "num")

  /** DuckDB replay of Profile.profileKmv over lineitem (optionally
    * filtered): per-column exact stats + the KMV sketch as
    * DISTINCT-hash ORDER BY h LIMIT k, with the same (k−1)·2^60/kth
    * estimate and Spark-style rounding. */
  private def lineitemProfileKmvSql(k: Int, where: String = ""): String = {
    val cols = Seq(
      "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
      "l_linenumber" -> "num", "l_quantity" -> "num",
      "l_extendedprice" -> "num", "l_discount" -> "num", "l_tax" -> "num",
      "l_returnflag" -> "str", "l_linestatus" -> "str",
      "l_shipdate" -> "ts")
    val src = if (where.isEmpty) "lineitem" else s"(SELECT * FROM lineitem WHERE $where)"
    val arms = cols.map { case (c, kind) =>
      val (minN, maxN, minS, maxS) = kind match {
        case "num" => (s"CAST(min($c) AS DOUBLE)",
          s"CAST(max($c) AS DOUBLE)",
          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "ts" => (s"epoch_us(min($c)) / 1000000.0",
          s"epoch_us(max($c)) / 1000000.0",
          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          s"min($c)", s"max($c)")
      }
      s"""SELECT b.*, m.kmv, m.n_mins, CASE WHEN m.n_mins < $k THEN CAST(m.n_mins AS DOUBLE) ELSE ${OmicsQueries.rndSql(s"${(k - 1).toDouble} * 1152921504606846976.0 / m.kth", 2)} END AS est_distinct FROM (SELECT '$c' AS col_name, count(*) AS n, count(*) - count($c) AS n_null, $minN AS min_num, $maxN AS max_num, $minS AS min_str, $maxS AS max_str FROM $src) b, (SELECT list(h ORDER BY h) AS kmv, CAST(count(*) AS INTEGER) AS n_mins, max(h) AS kth FROM (SELECT DISTINCT CAST(concat('0x', substr(md5('pf:' || CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM $src WHERE $c IS NOT NULL ORDER BY h LIMIT $k)) m"""
    }
    arms.mkString(" UNION ALL ")
  }

  val entries: Seq[Entry] = Seq(

    Entry("q_group_kmv",
      // per-group approximate distinct (distinct users per event type)
      // via the bounded KMV aggregate — sketch-sized exchange partials
      // where exact distinct would shuffle the whole key set; sketch AND
      // estimate replayed exactly (md5 60-bit draws, (k−1)·2⁶⁰/kth)
      (s, d) => graft.stats.Sketches.groupKmvDistinct(
        Q.events(s, d), "event_type", "user_id", k = 64, seed = 3L)
        .withColumn("kmv", Q.csvInts(col("kmv"))),
      Some(s"""WITH dh AS (SELECT DISTINCT event_type, CAST(concat('0x', substr(md5('gk3:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM events WHERE user_id IS NOT NULL), rk AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM dh), km AS (SELECT event_type, list(h ORDER BY h) AS kmv, CAST(count(*) AS INTEGER) AS n_mins, max(h) AS kth FROM rk WHERE rn <= 64 GROUP BY 1), ne AS (SELECT event_type, count(*) AS n_rows FROM events WHERE user_id IS NOT NULL GROUP BY 1) SELECT ne.event_type, ne.n_rows, ${Q.csvIntsSql("km.kmv")} AS kmv, km.n_mins, CASE WHEN km.n_mins < 64 THEN CAST(km.n_mins AS DOUBLE) ELSE ${OmicsQueries.rndSql("63.0 * 1152921504606846976.0 / km.kth", 2)} END AS est_distinct FROM ne JOIN km USING (event_type)""")),

    Entry("q_group_kmv_merge",
      // mergeability AT THE GATE: sketch two disjoint user-id halves
      // separately, roll up with mergeGroupKmv — the oracle is the
      // WHOLE-corpus sketch, so the hash compare proves
      // merge(sketch(a), sketch(b)) == sketch(a ∪ b) exactly
      (s, d) => {
        val ev = Q.events(s, d)
        val a = graft.stats.Sketches.groupKmvDistinct(
          ev.where(col("user_id") % 2 === 0), "event_type", "user_id",
          k = 64, seed = 3L)
        val b = graft.stats.Sketches.groupKmvDistinct(
          ev.where(col("user_id") % 2 =!= 0), "event_type", "user_id",
          k = 64, seed = 3L)
        graft.stats.Sketches.mergeGroupKmv(
          a.select("event_type", "n_rows", "kmv")
            .unionByName(b.select("event_type", "n_rows", "kmv")), k = 64)
          .withColumn("kmv", Q.csvInts(col("kmv")))
      },
      Some(s"""WITH dh AS (SELECT DISTINCT event_type, CAST(concat('0x', substr(md5('gk3:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM events WHERE user_id IS NOT NULL), rk AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM dh), km AS (SELECT event_type, list(h ORDER BY h) AS kmv, CAST(count(*) AS INTEGER) AS n_mins, max(h) AS kth FROM rk WHERE rn <= 64 GROUP BY 1), ne AS (SELECT event_type, count(*) AS n_rows FROM events WHERE user_id IS NOT NULL GROUP BY 1) SELECT ne.event_type, ne.n_rows, ${Q.csvIntsSql("km.kmv")} AS kmv, km.n_mins, CASE WHEN km.n_mins < 64 THEN CAST(km.n_mins AS DOUBLE) ELSE ${OmicsQueries.rndSql("63.0 * 1152921504606846976.0 / km.kth", 2)} END AS est_distinct FROM ne JOIN km USING (event_type)""")),

    Entry("q_profile_kmv",
      // the mergeable profile: bounded native KMV sketch aggregate
      // (k longs of buffer, map-side combine) in place of the exact
      // distinct count; the oracle replays sketch and estimate exactly.
      // The sketch serializes to a canonical string at the gate surface
      // (the driver's pandas sort cannot handle array cells); the
      // library API keeps the mergeable ARRAY<BIGINT> form.
      (s, d) => graft.stats.Profile.profileKmv(t(s, d, "lineitem"), k = 64)
        .withColumn("kmv", Q.csvInts(col("kmv"))),
      Some(s"SELECT * REPLACE (${Q.csvIntsSql("kmv")} AS kmv) " +
        s"FROM (${lineitemProfileKmvSql(64)})")),

    Entry("q_profile_kmv_merge",
      // mergeability AT THE GATE: profile two disjoint halves
      // separately, roll them up with mergeKmvProfiles — the oracle is
      // the WHOLE-table profile, so the hash compare proves
      // merge(profile(a), profile(b)) == profile(a ∪ b) exactly
      (s, d) => {
        val li = t(s, d, "lineitem")
        val pa = graft.stats.Profile.profileKmv(
          li.where(col("l_orderkey") % 2 === 0), k = 64)
        val pb = graft.stats.Profile.profileKmv(
          li.where(col("l_orderkey") % 2 =!= 0), k = 64)
        graft.stats.Profile.mergeKmvProfiles(pa.unionByName(pb), k = 64)
          .withColumn("kmv", Q.csvInts(col("kmv")))
      },
      Some(s"SELECT * REPLACE (${Q.csvIntsSql("kmv")} AS kmv) " +
        s"FROM (${lineitemProfileKmvSql(64)})")),

    Entry("q_profile_drift",
      // before/after snapshot diff: one planted mutation per drift
      // class (column removed, column added, null-rate jump, numeric
      // range shift); the diff joins two profile outputs, so it is
      // profile-sized, never data-sized
      (s, d) => {
        val li = t(s, d, "lineitem")
        val cur = li.select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_linenumber"),
          when(col("l_orderkey") % 10 === 0, lit(null))
            .otherwise(col("l_quantity")).as("l_quantity"),
          (col("l_extendedprice") * lit(1.1)).as("l_extendedprice"),
          col("l_discount"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate"), (col("l_orderkey") % 2).as("l_flag"))
        graft.stats.Profile.drift(graft.stats.Profile.profile(li),
          graft.stats.Profile.profile(cur))
      },
      Some(s"""WITH bp AS (${profileSqlFor(lineitemCols, "lineitem")}), cp AS (${profileSqlFor(driftCurCols, driftCurSrc)}) SELECT col_name, CASE WHEN bp.n IS NULL THEN 'added' WHEN cp.n IS NULL THEN 'removed' ELSE 'kept' END AS status, cp.n - bp.n AS n_delta, cp.n_null - bp.n_null AS null_delta, cp.n_distinct - bp.n_distinct AS distinct_delta, ${OmicsQueries.rndSql("cp.min_num - bp.min_num", 6)} AS min_num_delta, ${OmicsQueries.rndSql("cp.max_num - bp.max_num", 6)} AS max_num_delta, CASE WHEN bp.n IS NOT NULL AND cp.n IS NOT NULL THEN coalesce(cp.min_str <> bp.min_str, false) OR coalesce(cp.max_str <> bp.max_str, false) END AS str_range_changed FROM bp FULL JOIN cp USING (col_name)""")),

    Entry("q_winsorized_mean",
      // robust group mean: clamp into the [0.05, 0.95] percentile band
      // first (exact percentile == DuckDB quantile_cont interpolation),
      // decimal-mean after — the outlier-resistant location estimate
      (s, d) => Stats.winsorizedMean(t(s, d, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", p = 0.05),
      Some("""WITH b AS (SELECT l_returnflag, CAST(quantile_cont(l_extendedprice, 0.05) AS DOUBLE) AS lo, CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE) AS hi FROM lineitem GROUP BY 1) SELECT l.l_returnflag, CAST(round(CAST(CAST(CAST(sum(CAST(least(b.hi, greatest(b.lo, l.l_extendedprice)) AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS wins_mean, count(*) AS n FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1""")),

    Entry("q_quantile_normalize",
      // Bolstad quantile normalization: per-sample rank window,
      // cross-sample decimal-mean reference per rank, join back —
      // samples = linenumbers, units = orders, values = prices
      (s, d) => Stats.quantileNormalize(
        t(s, d, "lineitem").where(col("l_partkey") % 100 === 0),
        "l_linenumber", "l_orderkey", "l_extendedprice"),
      Some(s"""WITH rr AS (SELECT l_linenumber, l_orderkey, l_extendedprice, row_number() OVER (PARTITION BY l_linenumber ORDER BY l_extendedprice, l_orderkey) AS rank FROM lineitem WHERE l_partkey % 100 = 0), rf AS (SELECT rank, CAST(sum(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS nref FROM rr GROUP BY 1) SELECT rr.l_linenumber, rr.l_orderkey, rr.l_extendedprice, CAST(rr.rank AS INTEGER) AS rank, ${OmicsQueries.rndSql("rf.nref", 6)} AS normalized FROM rr JOIN rf USING (rank)""")),

    Entry("q_table_profile",
      // snapshot validation profile: one melted scan of the table, one
      // aggregate per column — row count, null count, exact cardinality,
      // typed ranges (see Profile scaladoc for the 100 TB HLL swap)
      (s, d) => graft.stats.Profile.profile(t(s, d, "lineitem")),
      Some(lineitemProfileSql)),

    Entry("q1_agg",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Q.sumDec(col("l_quantity")).as("sum_qty"),
          Q.sumDec(col("l_extendedprice")).as("sum_price"),
          (Q.sumDec(col("l_discount")) / count(lit(1))).as("avg_disc0"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_disc", r6(col("avg_disc0"))).drop("avg_disc0"),
      Some("""SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS count_order, CAST(round(CAST(CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS avg_disc FROM lineitem GROUP BY 1, 2""")),

    Entry("q_group_count",
      (s, d) => t(s, d, "orders").groupBy("o_orderpriority").count(),
      Some("""SELECT o_orderpriority, count(*) AS count FROM orders GROUP BY 1""")),

    Entry("q_minby_group",
      // smallest-diameter-per-group keep-first (mapBaseRetroRules.py:164-171)
      (s, d) => Relational.keepFirstAgg(t(s, d, "part"), Seq("p_brand"),
          Seq("p_size", "p_partkey"))
        .select("p_brand", "p_partkey", "p_size"),
      Some("""SELECT p_brand, p_partkey, p_size FROM (SELECT p_brand, p_partkey, p_size, row_number() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS rn FROM part) WHERE rn = 1""")),

    Entry("q_topk_per_group",
      (s, d) => Relational.topKPerGroup(t(s, d, "orders"), Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rank_in_group")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rank_in_group FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3""")),

    Entry("q_topk_per_group_agg",
      // the bounded-buffer twin of q_topk_per_group: CollectTopK ships
      // at most k rows per group per task instead of windowing every
      // row; same oracle — identical output is the contract
      (s, d) => Relational.topKPerGroupAgg(t(s, d, "orders"),
          Seq("o_custkey"),
          struct((-col("o_totalprice")).as("p"), col("o_orderkey").as("t")),
          3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rank_in_group")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rank_in_group FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3""")),

    Entry("q_distinct_subset",
      // order-deterministic drop_duplicates(keep='first') (gizmos.py:509-516)
      // via the struct-min aggregate (map-side combine; ships one candidate
      // per key per partition instead of every row through a window sort)
      (s, d) => Relational.keepFirstAgg(t(s, d, "lineitem"),
          Seq("l_orderkey"), Seq("l_linenumber", "l_partkey", "l_suppkey"))
        .select("l_orderkey", "l_linenumber", "l_partkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey FROM (SELECT l_orderkey, l_linenumber, l_partkey, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn FROM lineitem) WHERE rn = 1""")),

    Entry("q_window_ranks",
      // the remaining rank-family windows: quartile bucket, percent_rank,
      // cume_dist over a TOTAL order (quantity alone ties heavily; the
      // key suffix makes every rank deterministic). percent_rank and
      // cume_dist are ratios of integers — exact in both engines
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, CAST(ntile(4) OVER w AS INTEGER) AS quartile, percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""")),

    Entry("q_rollup",
      // hierarchical subtotals in ONE pass (ROLLUP expands to grouping
      // sets inside a single aggregation — no per-level rescan); the
      // grouping-id distinguishes subtotal rows from real NULL keys
      (s, d) => t(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), Q.sumDec(col("o_totalprice")).as("sum_price"),
          grouping_id(col("o_orderstatus"), col("o_orderpriority"))
            .cast("int").as("lvl")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS lvl FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")),

    Entry("q_unique",
      (s, d) => t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct(),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem""")),

    Entry("q_group_mean",
      (s, d) => t(s, d, "customer").groupBy("c_nationkey")
        .agg(r6(Q.sumDec(col("c_acctbal")) / count(lit(1))).as("mean_acctbal"),
          count(lit(1)).as("n")),
      Some("""SELECT c_nationkey, CAST(round(CAST(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mean_acctbal, count(*) AS n FROM customer GROUP BY 1""")),

    Entry("q_quantiles",
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(r6(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
          r6(expr("percentile(l_quantity, 0.25)")).as("q25"),
          r6(expr("percentile(l_quantity, 0.75)")).as("q75")),
      Some("""SELECT l_returnflag, round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE),6) AS median_qty, round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE),6) AS q25, round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE),6) AS q75 FROM lineitem GROUP BY 1""")),

    Entry("q_mad_filter",
      // MAD > 0 filter (gizmos.py:15-25,121-130)
      (s, d) => Stats.madPerGroup(t(s, d, "lineitem"), Seq("l_partkey"), "l_quantity")
        .where(col("mad") > 0)
        .select(col("l_partkey"), r6(col("med")).as("med"), r6(col("mad")).as("mad")),
      Some("""WITH m AS (SELECT l_partkey AS pk, quantile_cont(l_quantity, 0.5) AS med FROM lineitem GROUP BY 1) SELECT l.l_partkey, round(CAST(max(m.med) AS DOUBLE),6) AS med, round(CAST(quantile_cont(abs(l.l_quantity - m.med), 0.5) AS DOUBLE),6) AS mad FROM lineitem l JOIN m ON l.l_partkey = m.pk GROUP BY 1 HAVING quantile_cont(abs(l.l_quantity - m.med), 0.5) > 0""")),

    Entry("q_sd_guard",
      // variance/sd > 0 guard (getPatientOutlierMatrix.R:6-9)
      (s, d) => t(s, d, "lineitem").groupBy("l_partkey")
        .agg(stddev_samp(col("l_extendedprice")).as("sd0"))
        .where(col("sd0") > 0)
        .select(col("l_partkey"), r6(col("sd0")).as("sd")),
      Some("""SELECT l_partkey, round(stddev_samp(l_extendedprice),6) AS sd FROM lineitem GROUP BY 1 HAVING stddev_samp(l_extendedprice) > 0""")),

    Entry("q_corr_p",
      // corr + p aggregator (corrMultiomics.py:52-63); p is non-SQL (verified
      // in ScalaTest vs published t-tables), r/t/n oracle-checked
      (s, d) => Stats.corrWithP(t(s, d, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), r6(col("r")).as("r"), col("n"),
          r6(col("t")).as("t")),
      Some("""SELECT l_returnflag, round(corr(l_quantity, l_extendedprice),6) AS r, count(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN 1 END) AS n, round(corr(l_quantity, l_extendedprice) * sqrt((count(*) - 2) / (CAST(1.0 AS DOUBLE) - corr(l_quantity, l_extendedprice)*corr(l_quantity, l_extendedprice))),6) AS t FROM lineitem GROUP BY 1""")),

    Entry("q_partial_corr",
      // Goh partial correlation: quantity vs extendedprice controlling for
      // discount, per return flag (p_pcor is non-SQL; checked in ScalaTest)
      (s, d) => Stats.partialCorr(t(s, d, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice", "l_discount")
        .select(col("l_returnflag"), r6(col("pcor")).as("pcor"), col("n")),
      Some("""SELECT l_returnflag, CAST(round(CAST(CAST((corr(l_quantity, l_extendedprice) - corr(l_quantity, l_discount) * corr(l_extendedprice, l_discount)) / nullif(sqrt((CAST(1.0 AS DOUBLE) - corr(l_quantity, l_discount)*corr(l_quantity, l_discount)) * (CAST(1.0 AS DOUBLE) - corr(l_extendedprice, l_discount)*corr(l_extendedprice, l_discount))), 0) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS pcor, count(*) AS n FROM lineitem GROUP BY 1""")),

    Entry("q_spearman",
      (s, d) => Stats.spearman(t(s, d, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_discount")
        .select(col("l_returnflag"), r6(col("rho")).as("rho"), col("n")),
      Some("""WITH r AS (SELECT l_returnflag AS g, rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)/2.0 AS rx, rank() OVER (PARTITION BY l_returnflag ORDER BY l_discount) + (count(*) OVER (PARTITION BY l_returnflag, l_discount) - 1)/2.0 AS ry FROM lineitem) SELECT g AS l_returnflag, round(corr(rx, ry),6) AS rho, count(*) AS n FROM r GROUP BY 1""")),

    Entry("q_ols",
      // per-group OLS moments (MethylMix.R:187-209)
      (s, d) => Stats.olsPerGroup(t(s, d, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          r6(col("slope")).as("slope"), r6(col("intercept")).as("intercept"),
          r6(col("r2")).as("r2")),
      Some("""SELECT l_returnflag, count(*) AS n, round(regr_slope(l_extendedprice, l_quantity),6) AS slope, round(regr_intercept(l_extendedprice, l_quantity),6) AS intercept, round(regr_r2(l_extendedprice, l_quantity),6) AS r2 FROM lineitem GROUP BY 1""")),

    Entry("q_bh_adjust",
      // BH-FDR reverse running-min (Gohs:80)
      (s, d) => {
        val df = t(s, d, "lineitem").select(col("l_returnflag"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          (col("l_discount") * 10).as("p"))
        Stats.bhAdjust(df, Seq("l_returnflag"), "p", "id")
          .select(col("l_returnflag"), col("id"), r6(col("p")).as("p"),
            r6(col("p_adj")).as("p_adj"))
      },
      Some("""WITH t0 AS (SELECT l_returnflag, l_orderkey*10 + l_linenumber AS id, l_discount*10 AS p FROM lineitem), t1 AS (SELECT l_returnflag, id, p, count(*) OVER (PARTITION BY l_returnflag) AS n, row_number() OVER (PARTITION BY l_returnflag ORDER BY p, id) AS rk FROM t0) SELECT l_returnflag, id, round(p,6) AS p, round(least(CAST(1.0 AS DOUBLE), min(p*n/rk) OVER (PARTITION BY l_returnflag ORDER BY p DESC, id DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),6) AS p_adj FROM t1""")),

    Entry("q_fisher",
      // Fisher combined statistic (Gohs:130); chi-sq tail p in ScalaTest
      (s, d) => {
        val df = t(s, d, "lineitem").select(col("l_returnflag"),
          (col("l_discount") * 10).as("p"))
        Stats.fisherCombine(df, Seq("l_returnflag"), "p")
          .select(col("l_returnflag"), r6(col("fisher_stat")).as("fisher_stat"),
            col("k"))
      },
      Some("""SELECT l_returnflag, round(-2.0 * sum(ln(greatest(l_discount*10, 1e-320))),6) AS fisher_stat, count(*) AS k FROM lineitem GROUP BY 1""")),

    Entry("q_zscore_outliers",
      // z>=2 outlier call (getPatientOutlierMatrix.R:4-27)
      (s, d) => Stats.zscoreOutliers(t(s, d, "lineitem"), Seq("l_partkey"),
          "l_extendedprice")
        .where(col("is_outlier"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          r6(col("zscore")).as("zscore")),
      Some("""WITH t AS (SELECT l_orderkey, l_linenumber, l_partkey, (l_extendedprice - avg(l_extendedprice) OVER (PARTITION BY l_partkey)) / nullif(stddev_samp(l_extendedprice) OVER (PARTITION BY l_partkey), 0) AS z, stddev_samp(l_extendedprice) OVER (PARTITION BY l_partkey) AS sd FROM lineitem) SELECT l_orderkey, l_linenumber, l_partkey, round(z,6) AS zscore FROM t WHERE sd > 0 AND abs(z) >= 2""")),

    Entry("q_geomean",
      // geometric-mean centering (run_ABCD-DNA.R:26-64)
      (s, d) => Stats.geometricMean(t(s, d, "lineitem"), Seq("l_returnflag"),
          "l_quantity")
        .select(col("l_returnflag"), r6(col("geo_mean")).as("geo_mean"),
          col("n_pos")),
      Some("""SELECT l_returnflag, round(exp(avg(ln(l_quantity))),6) AS geo_mean, count(*) AS n_pos FROM lineitem WHERE l_quantity > 0 GROUP BY 1""")),

    Entry("q_roc_auc",
      // Robinson ROC evaluation: AUC of extendedprice as a classifier for
      // open linestatus, per return flag (Mann-Whitney rank form)
      (s, d) => Stats.rocAuc(
          t(s, d, "lineitem").withColumn("label",
            when(col("l_linestatus") === "O", 1).otherwise(0)),
          Seq("l_returnflag"), "l_extendedprice", "label")
        .select(col("l_returnflag"), r6(col("auc")).as("auc"),
          col("n_pos"), col("n_neg")),
      Some("""WITH r AS (SELECT l_returnflag AS g, CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS label, rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1)/2.0 AS rk FROM lineitem) SELECT g AS l_returnflag, CAST(round(CAST(CAST((sum(CASE WHEN label = 1 THEN rk END) - sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) * (sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) + 1) / 2) / nullif(sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) * sum(CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END), 0) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS auc, CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg FROM r GROUP BY 1""")),

    Entry("q_ids_collision_checked",
      // full gizmos.py:330-336 semantics: seeded VM_ ids with collision
      // retry against an existing id set; the existing set below is built
      // so that some first-attempt candidates ARE taken and must retry
      (s, d) => {
        val rows = t(s, d, "orders").select(col("o_orderkey"))
        val existing = t(s, d, "orders").where(col("o_orderkey") % 10 === 0)
          .select(graft.ops.Ids.candidate("o_orderkey", 42L, 0).as("vm_id"))
        // maxAttempts matches the oracle's unroll depth exactly (2 attempts
        // + explicit NULL-id leftovers) so parity is deterministic, not
        // probabilistic — a row first resolving at attempt >= 2 would land
        // in BOTH sides' leftover set
        graft.ops.Ids.assignNewIds(rows, "o_orderkey", existing, maxAttempts = 2)
      },
      Some("""WITH rows0 AS (SELECT o_orderkey FROM orders), existing AS (SELECT DISTINCT concat('VM_', substr(md5(concat('42:0:', CAST(o_orderkey AS VARCHAR))), 1, 7)) AS vm_id FROM orders WHERE o_orderkey % 10 = 0), a0 AS (SELECT o_orderkey, concat('VM_', substr(md5(concat('42:0:', CAST(o_orderkey AS VARCHAR))), 1, 7)) AS vm_id FROM rows0), d0 AS (SELECT vm_id, count(*) AS c, min(o_orderkey) AS w FROM a0 GROUP BY 1), ok0 AS (SELECT a0.o_orderkey, a0.vm_id FROM a0 JOIN d0 USING (vm_id) WHERE (d0.c = 1 OR a0.o_orderkey = d0.w) AND a0.vm_id NOT IN (SELECT vm_id FROM existing)), pend1 AS (SELECT o_orderkey FROM rows0 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ok0)), a1 AS (SELECT o_orderkey, concat('VM_', substr(md5(concat('42:1:', CAST(o_orderkey AS VARCHAR))), 1, 7)) AS vm_id FROM pend1), d1 AS (SELECT vm_id, count(*) AS c, min(o_orderkey) AS w FROM a1 GROUP BY 1), ok1 AS (SELECT a1.o_orderkey, a1.vm_id FROM a1 JOIN d1 USING (vm_id) WHERE (d1.c = 1 OR a1.o_orderkey = d1.w) AND a1.vm_id NOT IN (SELECT vm_id FROM existing UNION ALL SELECT vm_id FROM ok0)) SELECT * FROM ok0 UNION ALL SELECT * FROM ok1 UNION ALL SELECT o_orderkey, CAST(NULL AS VARCHAR) AS vm_id FROM rows0 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ok0) AND o_orderkey NOT IN (SELECT o_orderkey FROM ok1)""")),

    Entry("q_tmm_factor",
      // full TMM-style normalization factor (run_ABCD-DNA.R:26-64,
      // Figures_3_5:27-42): per entity M-A pair between two conditions,
      // drop high-abundance outliers above the 99th percentile of A, take
      // the median M as the scaling factor, plus the geometric-mean center
      (s, d) => {
        val li = t(s, d, "lineitem")
        // both conditions in ONE scan + ONE exchange (conditional
        // aggregation; a sum over zero matching rows is null, so the
        // not-null guard reproduces the former x-join-y inner join)
        val ma = li.where(col("l_returnflag").isin("R", "A"))
          .groupBy("l_partkey")
          .agg(
            Q.sumDec(when(col("l_returnflag") === "R", col("l_quantity"))).as("x"),
            Q.sumDec(when(col("l_returnflag") === "A", col("l_quantity"))).as("y"))
          .where(col("x").isNotNull && col("y").isNotNull)
          .where(col("x") > 0 && col("y") > 0)
          .withColumn("m", log2(col("x") / col("y")))
          .withColumn("a", (log2(col("x")) + log2(col("y"))) / 2)
        val cut = ma.agg(expr("percentile(a, 0.99)").as("a99"))
        ma.crossJoin(broadcast(cut))
          .where(col("a") <= col("a99"))
          .agg(r6(expr("percentile(m, 0.5)")).as("tmm_log2"),
            r6(exp(avg(log(col("x"))))).as("geo_mean_x"),
            count(lit(1)).as("n_used"))
      },
      Some("""WITH x AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS x FROM lineitem WHERE l_returnflag='R' GROUP BY 1), y AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS y FROM lineitem WHERE l_returnflag='A' GROUP BY 1), ma AS (SELECT log2(x.x / y.y) AS m, (log2(x.x) + log2(y.y)) / 2 AS a, x.x AS x FROM x JOIN y USING (l_partkey) WHERE x.x > 0 AND y.y > 0), cut AS (SELECT quantile_cont(a, 0.99) AS a99 FROM ma) SELECT round(CAST(quantile_cont(m, 0.5) AS DOUBLE),6) AS tmm_log2, round(exp(avg(ln(x))),6) AS geo_mean_x, count(*) AS n_used FROM ma, cut WHERE a <= a99""")),

    Entry("q_mutual_rank",
      // mutual-rank co-expression weight (wcModules.py:96-98,167-216).
      // Node ids are dictionary-encoded longs (part -> 2k, supplier ->
      // 2k+1) through BOTH rank windows — each hashes and sorts numeric
      // keys, and the "p123"/"s45" labels are reconstructed only in the
      // final projection. At 100 TB the node dictionary is the difference
      // between shuffling ids and shuffling strings. The disjoint
      // even/odd ids are also what lets mutualRank rank the one-row-per-
      // pair list from both sides.
      (s, d) => {
        val edges = t(s, d, "lineitem").groupBy("l_partkey", "l_suppkey")
          .agg(Q.sumDec(col("l_extendedprice")).as("r"))
          .select((col("l_partkey") * 2).as("part"),
            (col("l_suppkey") * 2 + 1).as("supp"), col("r"))
        def lbl(c: org.apache.spark.sql.Column) =
          concat(when(c % 2 === 0, lit("p")).otherwise(lit("s")),
            shiftright(c, 1).cast("string"))
        Stats.mutualRank(edges, "part", "supp", "r")
          .select(lbl(col("a")).as("a"), lbl(col("b")).as("b"),
            r6(col("mr")).as("mr"), r6(col("weight")).as("weight"))
      },
      Some("""WITH e0 AS (SELECT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS r FROM lineitem GROUP BY l_partkey, l_suppkey), edges AS (SELECT a, b, r FROM e0 UNION ALL SELECT b, a, r FROM e0), ranked AS (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY r DESC, b) AS rk FROM edges), p AS (SELECT x.a, x.b, x.rk AS rab, y.rk AS rba FROM ranked x JOIN ranked y ON x.a = y.b AND x.b = y.a WHERE x.a < x.b) SELECT concat(CASE WHEN a % 2 = 0 THEN 'p' ELSE 's' END, CAST(a // 2 AS VARCHAR)) AS a, concat(CASE WHEN b % 2 = 0 THEN 'p' ELSE 's' END, CAST(b // 2 AS VARCHAR)) AS b, round(sqrt(rab * rba),6) AS mr, round(exp((CAST(1.0 AS DOUBLE) - sqrt(rab * rba)) / 25.0),6) AS weight FROM p""")),

    Entry("q_kmv_distinct",
      // approximate distinct count via a K-minimum-values sketch: the k
      // smallest md5 draws per group estimate the distinct cardinality as
      // (k-1)/kth-smallest-fraction. Unlike HLL, every step is exact
      // deterministic arithmetic over the shared md5 draw, so the oracle
      // replays the ESTIMATE bit for bit — and the sketch is mergeable
      // (union the min-sets, re-take k smallest), the 100 TB shape for
      // per-partition profiles that roll up
      (s, d) => {
        val k = 64
        val two60 = 1152921504606846976.0 // 2^60, the draw's range
        // native bounded sketch aggregate (KmvSketchAgg): ≤ k longs of
        // buffer, map-side combine — replaces the round-7 window form,
        // which shuffled EVERY distinct hash to its group before
        // discarding all but k. Output identical (k smallest distinct
        // hashes), so the oracle is unchanged.
        val ev = Q.events(s, d).select(col("event_type"), col("user_id"))
          .distinct()
          .withColumn("h", conv(substring(md5(concat(lit("kmv:"),
            col("user_id").cast("string"))), 1, 15), 16, 10).cast("long"))
        ev.groupBy("event_type")
          .agg(graft.catalyst.SketchFunctions.kmvSketch(col("h"), k).as("kmv"))
          .select(col("event_type"),
            size(col("kmv")).cast("long").as("n_mins"),
            element_at(col("kmv"), size(col("kmv"))).as("kth"))
          .withColumn("est_distinct",
            when(col("n_mins") < k, col("n_mins").cast("double"))
              .otherwise(round(lit((k - 1).toDouble) * lit(two60) / col("kth"), 2)))
      },
      Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events), h AS (SELECT event_type, CAST(concat('0x', substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM u), r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h), m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_mins, max(h) AS kth FROM r WHERE rn <= 64 GROUP BY 1) SELECT event_type, n_mins, kth, CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE) ELSE CAST(round(CAST(CAST(63.0 * 1152921504606846976.0 / kth AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) END AS est_distinct FROM m""")),

    Entry("q_json_extract",
      // semi-structured extraction from the events props JSON column:
      // one from_json parse per row (schema'd JacksonParser — never a
      // regex or a UDF), then a plain rollup; the 100 TB shape is
      // parse-project-aggregate with zero extra shuffle beyond the agg
      (s, d) => Q.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_parsed"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""WITH j AS (SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events) SELECT event_type, count(k) AS n_parsed, CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k FROM j GROUP BY 1""")),

    Entry("q_value_counts",
      (s, d) => Q.events(s, d).groupBy("event_type").count(),
      Some("""SELECT event_type, count(*) AS count FROM events GROUP BY 1""")),

    Entry("q_rowsums",
      // rowSums on long form (ComputeDrivers.R:13, Graph.R:33-35)
      (s, d) => Q.events(s, d).groupBy("user_id")
        .agg(Q.sumDec6(col("value")).as("sum_value"), count(lit(1)).as("n")),
      Some("""SELECT user_id, CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value, count(*) AS n FROM events GROUP BY 1""")),

    Entry("q_cumsum",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total FROM orders""")),

    Entry("q_lag_diff",
      // lag-diff ordered scan (MethylMix.R:460-520 flip-over analogue)
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
        Q.events(s, d).select(col("user_id"), col("event_id"),
          r6(col("value") - lag(col("value"), 1).over(w)).as("diff"))
      },
      Some("""SELECT user_id, event_id, round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),6) AS diff FROM events""")),

    Entry("q_rle",
      // RLE compaction via lag-change + running sum (preprocess.R:29-37)
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Q.events(s, d)
          .withColumn("__chg",
            when(lag(col("event_type"), 1).over(wOrd).isNull ||
              lag(col("event_type"), 1).over(wOrd) =!= col("event_type"), 1)
              .otherwise(0))
          .withColumn("run_id", sum(col("__chg")).over(wRun))
          .groupBy("user_id", "run_id")
          .agg(first(col("event_type")).as("event_type"),
            count(lit(1)).as("run_len"))
      },
      Some("""WITH t AS (SELECT user_id, event_id, ts, event_type, CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), r AS (SELECT user_id, event_type, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id FROM t) SELECT user_id, run_id, min(event_type) AS event_type, count(*) AS run_len FROM r GROUP BY 1, 2"""))
  )
}
