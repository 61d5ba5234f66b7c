package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Relational, RangeJoin, Skew}
import Q.{Entry, t, r6}

/** Scans, filters, joins, set ops, scalar functions — SURVEY.md §2.1-§2.3,
  * §2.7, §2.8 wired to the driver's correctness gate. */
object RelQueries {

  val entries: Seq[Entry] = Seq(

    // ---- §2.1 scans ----
    Entry("q_scan_prune",
      (s, d) => t(s, d, "lineitem")
        .where(col("l_quantity") >= 30)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 30""")),

    Entry("q_scan_rename",
      // positional rename (pandas df.columns = [...]; gizmos.py:641-644)
      (s, d) => t(s, d, "customer")
        .toDF("custkey", "name", "nationkey", "acctbal", "mktsegment"),
      Some("""SELECT c_custkey AS custkey, c_name AS name, c_nationkey AS nationkey, c_acctbal AS acctbal, c_mktsegment AS mktsegment FROM customer""")),

    // ---- §2.2 filters ----
    Entry("q_filter_threshold",
      (s, d) => t(s, d, "lineitem")
        .where(abs(col("l_discount")) >= 0.05 && col("l_tax") <= 0.04)
        .select("l_orderkey", "l_linenumber", "l_discount", "l_tax"),
      Some("""SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem WHERE abs(l_discount) >= 0.05 AND l_tax <= 0.04""")),

    Entry("q_filter_isin",
      (s, d) => t(s, d, "orders")
        .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority"),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')""")),

    Entry("q_filter_anti_isin",
      (s, d) => t(s, d, "customer")
        .where(!col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment NOT IN ('BUILDING','MACHINERY')""")),

    Entry("q_filter_clip",
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        r6(least(greatest(col("l_discount") * 20 - 0.5, lit(0.0)), lit(1.0))).as("clip01"),
        r6(greatest(col("l_quantity") - 25, lit(0.0))).as("clip0")),
      Some("""SELECT l_orderkey, l_linenumber, round(least(greatest(l_discount*20 - 0.5, CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)),6) AS clip01, round(greatest(l_quantity - 25, CAST(0.0 AS DOUBLE)),6) AS clip0 FROM lineitem""")),

    Entry("q_filter_nonzero_rows",
      // row-wise all-nonzero on long form (corrMultiomics.py:200-202)
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_rows"),
          min(when(col("l_discount") =!= 0, 1).otherwise(0)).as("__all_nz"))
        .where(col("__all_nz") === 1).drop("__all_nz"),
      Some("""SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY 1 HAVING min(CASE WHEN l_discount <> 0 THEN 1 ELSE 0 END) = 1""")),

    Entry("q_na_drop",
      (s, d) => t(s, d, "lineitem")
        .withColumn("disc_nn",
          when(col("l_discount") === 0, lit(null)).otherwise(col("l_discount")))
        .na.drop(Seq("disc_nn"))
        .select("l_orderkey", "l_linenumber", "disc_nn"),
      Some("""SELECT l_orderkey, l_linenumber, nullif(l_discount, 0) AS disc_nn FROM lineitem WHERE nullif(l_discount, 0) IS NOT NULL""")),

    // ---- §2.3 joins ----
    Entry("q_join_natural",
      // pandas natural join on shared column names (heraldPathways.py:195)
      (s, d) => {
        val nation = t(s, d, "nation").toDF("c_nationkey", "n_name", "n_regionkey")
        Relational.naturalJoin(t(s, d, "customer"), nation)
          .select("c_custkey", "c_nationkey", "n_name")
      },
      Some("""SELECT c_custkey, c_nationkey, n_name FROM customer JOIN (SELECT n_nationkey AS c_nationkey, n_name, n_regionkey FROM nation) n USING (c_nationkey)""")),

    Entry("q_join_left",
      (s, d) => t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"), "left")
        .select("o_orderkey", "o_custkey", "c_name"),
      Some("""SELECT o_orderkey, o_custkey, c_name FROM orders LEFT JOIN customer ON o_custkey = c_custkey""")),

    Entry("q_join_full",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val r = li.where(col("l_returnflag") === "R").groupBy("l_partkey")
          .agg(Q.sumDec(col("l_quantity")).as("qty_r"))
        val a = li.where(col("l_returnflag") === "A").groupBy("l_partkey")
          .agg(Q.sumDec(col("l_quantity")).as("qty_a"))
        r.join(a, Seq("l_partkey"), "full_outer")
      },
      Some("""WITH r AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_r FROM lineitem WHERE l_returnflag='R' GROUP BY 1), a AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_a FROM lineitem WHERE l_returnflag='A' GROUP BY 1) SELECT l_partkey, qty_r, qty_a FROM r FULL JOIN a USING (l_partkey)""")),

    Entry("q_join_semi",
      (s, d) => t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)""")),

    Entry("q_join_anti",
      (s, d) => t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""")),

    Entry("q_salted_join",
      // skew-salted equi-join on a degenerate hot key (3 distinct values
      // across all of lineitem — the rounded-mass degeneracy shape,
      // treatMassTransitions.py:56-59). full_outer + an unmatched small
      // row exercises the outer-dedup branch (unmatched small rows kept
      // from shard 0 only); the oracle is the PLAIN join — salting must
      // be invisible in the output
      (s, d) => {
        import s.implicits._
        val big = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag").as("flag"))
        val small = Seq(("R", "returned"), ("A", "accepted"),
          ("X", "unmatched")).toDF("flag", "label")
        Skew.saltedJoin(big, small, "flag", shards = 8, how = "full_outer")
      },
      Some("""SELECT flag, l_orderkey, l_linenumber, label FROM (SELECT l_orderkey, l_linenumber, l_returnflag AS flag FROM lineitem) b FULL JOIN (SELECT * FROM (VALUES ('R','returned'),('A','accepted'),('X','unmatched')) v(flag, label)) s USING (flag)""")),

    Entry("q_cross_join",
      // adduct-style cross expansion (queryMassNPDB_mod.py:116-120)
      (s, d) => {
        val a = t(s, d, "region").select(col("r_name").as("name_a"))
        val b = t(s, d, "region").select(col("r_name").as("name_b"))
        a.crossJoin(broadcast(b))
      },
      Some("""SELECT a.r_name AS name_a, b.r_name AS name_b FROM region a CROSS JOIN region b""")),

    Entry("q_range_join",
      // bucketed interval-point range join (queryMassNPDB_mod.py:127-141)
      (s, d) => {
        val iv = t(s, d, "supplier").select(col("s_suppkey"),
          (col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
        val pts = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
        RangeJoin.pointInInterval(iv, pts, "lo", "hi", "c_acctbal", 1000.0)
          .select("s_suppkey", "c_custkey", "c_acctbal")
      },
      Some("""SELECT s_suppkey, c_custkey, c_acctbal FROM supplier JOIN customer ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500""")),

    Entry("q_range_join_auto",
      // the SAME theta join written naively — no library call — with the
      // graft.catalyst.RangeJoinRewrite optimizer rule (installed at
      // session build through spark.sql.extensions) turning it into the
      // bucketed equi join (the rule-based face of q_range_join; its spec
      // additionally asserts the BNLJ is gone from the physical plan)
      (s, d) => {
        s.conf.set(graft.catalyst.RangeJoinRewrite.WidthKey, "1000.0")
        val iv = t(s, d, "supplier").select(col("s_suppkey"),
          (col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
        val pts = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
        iv.join(pts, col("lo") <= col("c_acctbal") && col("c_acctbal") <= col("hi"))
          .select("s_suppkey", "c_custkey", "c_acctbal")
      },
      Some("""SELECT s_suppkey, c_custkey, c_acctbal FROM supplier JOIN customer ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500""")),

    Entry("q_ppm_join",
      // relative-tolerance ppm join, log-space buckets (gizmos.py:133-144)
      (s, d) => {
        val masses = t(s, d, "part").select(col("p_partkey").as("mass_id"),
          col("p_retailprice").as("mm"))
        val structs = t(s, d, "part").select(col("p_partkey").as("struct_id"),
          col("p_retailprice").as("monoisotopic_mass"))
        RangeJoin.ppmJoin(masses, structs, "mm", "monoisotopic_mass", 1000.0)
          .select("mass_id", "struct_id", "monoisotopic_mass")
      },
      Some("""SELECT a.p_partkey AS mass_id, b.p_partkey AS struct_id, b.p_retailprice AS monoisotopic_mass FROM part a JOIN part b ON b.p_retailprice >= a.p_retailprice - a.p_retailprice*1000/1e6 AND b.p_retailprice <= a.p_retailprice + a.p_retailprice*1000/1e6 WHERE a.p_retailprice > 0 AND b.p_retailprice > 0""")),

    Entry("q_interval_overlap",
      // GRanges findOverlaps analogue (Robinson preprocess.R:22-26)
      (s, d) => {
        val a = t(s, d, "supplier").select(col("s_suppkey"),
          (col("s_acctbal") - 500).as("a_start"), (col("s_acctbal") + 500).as("a_end"))
        val b = t(s, d, "customer").select(col("c_custkey"),
          (col("c_acctbal") - 500).as("b_start"), (col("c_acctbal") + 500).as("b_end"))
        RangeJoin.intervalOverlap(a, b, "a_start", "a_end", "b_start", "b_end", 1000.0)
          .select("s_suppkey", "c_custkey")
      },
      Some("""SELECT s_suppkey, c_custkey FROM supplier JOIN customer ON s_acctbal - 500 <= c_acctbal + 500 AND c_acctbal - 500 <= s_acctbal + 500""")),

    Entry("q_rounded_join",
      // rounded-equi surrogate for float range join (treatMassTransitions.py:30)
      (s, d) => {
        val a = t(s, d, "part").select(col("p_partkey").as("pa"),
          col("p_retailprice").as("price_a"))
        val b = t(s, d, "part").select(col("p_partkey").as("pb"),
          col("p_retailprice").as("price_b"))
        Relational.roundedJoin(a, b, "price_a", "price_b", 0)
          .where(col("pa") < col("pb")).select("pa", "pb")
      },
      Some("""SELECT a.p_partkey AS pa, b.p_partkey AS pb FROM part a JOIN part b ON round(a.p_retailprice, 0) = round(b.p_retailprice, 0) AND a.p_partkey < b.p_partkey""")),

    Entry("q_self_theta_join",
      // theta self-join within small equi groups (mapBaseRetroRules.py:201-208)
      (s, d) => {
        val a = t(s, d, "part").select(col("p_brand"), col("p_partkey").as("pa"),
          col("p_retailprice").as("price_a"))
        val b = t(s, d, "part").select(col("p_brand"), col("p_partkey").as("pb"),
          col("p_retailprice").as("price_b"))
        a.join(b, Seq("p_brand"))
          .where(col("price_a") <= col("price_b") && col("pa") =!= col("pb"))
          .select("p_brand", "pa", "pb")
      },
      Some("""SELECT a.p_brand, a.p_partkey AS pa, b.p_partkey AS pb FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_retailprice <= b.p_retailprice AND a.p_partkey <> b.p_partkey""")),

    Entry("q_join_positional",
      // pandas index/positional join (left_index=True, right_index=True;
      // gizmos.py:501, validateRulesWithOrigins.py:57): make the implicit
      // row position an explicit key under a stated order, then equi-join
      (s, d) => {
        val a = Relational.withRowIndex(
          t(s, d, "supplier").select("s_suppkey"), Seq(col("s_suppkey")), "__pos")
        val b = Relational.withRowIndex(
          t(s, d, "region").select("r_name", "r_regionkey"),
          Seq(col("r_regionkey")), "__pos")
        a.join(b, "__pos").select("s_suppkey", "r_name")
      },
      Some("""WITH a AS (SELECT s_suppkey, row_number() OVER (ORDER BY s_suppkey) AS pos FROM supplier), b AS (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS pos FROM region) SELECT s_suppkey, r_name FROM a JOIN b USING (pos)""")),

    // ---- §2.7 set ops ----
    Entry("q_union_all",
      // pandas concat with NaN-fill alignment (pathMassTransitions.py:191)
      (s, d) => Relational.concatRows(Seq(
        t(s, d, "lineitem").select(col("l_orderkey").as("k"),
          col("l_quantity").as("v"), col("l_returnflag").as("flag")),
        t(s, d, "orders").select(col("o_orderkey").as("k"),
          col("o_totalprice").as("v")))),
      Some("""SELECT l_orderkey AS k, l_quantity AS v, l_returnflag AS flag FROM lineitem UNION ALL SELECT o_orderkey, o_totalprice, NULL FROM orders""")),

    Entry("q_union_distinct",
      (s, d) => t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey"))).distinct(),
      Some("""SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier""")),

    Entry("q_intersect_except",
      (s, d) => {
        val withOrders = t(s, d, "orders").select(col("o_custkey").as("k"))
        val rich = t(s, d, "customer").where(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("k"))
        withOrders.intersect(rich).withColumn("tag", lit("both"))
          .union(withOrders.distinct().except(rich).withColumn("tag", lit("only_orders")))
      },
      Some("""SELECT k, 'both' AS tag FROM (SELECT o_custkey AS k FROM orders INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000) UNION ALL SELECT k, 'only_orders' FROM (SELECT DISTINCT o_custkey AS k FROM orders EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""")),

    Entry("q_array_setops",
      // per-cell array set ops (heraldPathways.py:99-100, gizmos.py:358)
      (s, d) => {
        val sw = lit(Array("the", "a", "and", "of", "to", "in", "is"))
        val toks = array_distinct(filter(split(col("text"), " "), x => length(x) > 0))
        t(s, d, "documents").select(col("doc_id"),
          size(toks).as("n_distinct_tokens"),
          size(array_intersect(toks, sw)).as("n_stop"),
          (size(array_intersect(toks, sw)) === size(toks)).as("is_subset"))
      },
      Some("""WITH t AS (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS dt FROM documents) SELECT doc_id, CAST(len(dt) AS INTEGER) AS n_distinct_tokens, CAST(len(list_intersect(dt, ['the','a','and','of','to','in','is'])) AS INTEGER) AS n_stop, len(list_intersect(dt, ['the','a','and','of','to','in','is'])) = len(dt) AS is_subset FROM t""")),

    // ---- §2.8 scalar functions ----
    Entry("q_scalar_str",
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        concat_ws("_", col("p_brand"), col("p_type")).as("key"),
        split(col("p_name"), " ").getItem(0).as("first_tok"),
        regexp_replace(col("p_name"), "[0-9]", "").as("nodigits"),
        substring(col("p_brand"), 1, 5).as("brand5"),
        upper(col("p_type")).as("type_up")),
      Some("""SELECT p_partkey, concat_ws('_', p_brand, p_type) AS key, string_split(p_name, ' ')[1] AS first_tok, regexp_replace(p_name, '[0-9]', '', 'g') AS nodigits, substr(p_brand, 1, 5) AS brand5, upper(p_type) AS type_up FROM part""")),

    Entry("q_scalar_math",
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        r6(abs(col("l_discount") - 0.05)).as("adist"),
        r6(sqrt(col("l_quantity"))).as("sq"),
        r6(log10(col("l_extendedprice"))).as("lg"),
        r6(lit(1.0) / (lit(1.0) + exp(-col("l_discount") * 10))).as("logistic"),
        concat(lit("MM"), col("l_linenumber").cast("string")).as("ghost"),
        r6(col("l_extendedprice") / when(col("l_quantity") =!= 0, col("l_quantity"))).as("unit_price")),
      Some("""SELECT l_orderkey, l_linenumber, round(abs(l_discount - 0.05),6) AS adist, round(sqrt(l_quantity),6) AS sq, round(log10(l_extendedprice),6) AS lg, round(CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + exp(-l_discount * 10)),6) AS logistic, concat('MM', CAST(l_linenumber AS VARCHAR)) AS ghost, CAST(round(CAST(CAST(l_extendedprice / nullif(l_quantity, 0) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS unit_price FROM lineitem""")),

    Entry("q_reaction_split",
      // '>>' reaction split + paren strip (gizmos.py:175-190)
      (s, d) => t(s, d, "part")
        .withColumn("reaction", concat(lit("("), col("p_brand"), lit(")>>"), col("p_type")))
        .select(col("p_partkey"), col("reaction"),
          regexp_replace(split(col("reaction"), ">>").getItem(0), "^\\(|\\)$", "").as("substrate"),
          split(col("reaction"), ">>").getItem(1).as("product")),
      Some("""WITH t AS (SELECT p_partkey, concat('(', p_brand, ')>>', p_type) AS reaction FROM part) SELECT p_partkey, reaction, regexp_replace(string_split(reaction, '>>')[1], '^\(|\)$', '', 'g') AS substrate, string_split(reaction, '>>')[2] AS product FROM t""")),

    Entry("q_ids_seeded",
      // seedable VM_####### id generation (gizmos.py:330-336); md5-derived so
      // the oracle replays the identical draw
      (s, d) => t(s, d, "orders").select(col("o_orderkey"),
        concat(lit("VM_"),
          substring(md5(concat(lit("42:"), col("o_orderkey").cast("string"))), 1, 7)).as("vm_id")),
      Some("""SELECT o_orderkey, concat('VM_', substr(md5(concat('42:', CAST(o_orderkey AS VARCHAR))), 1, 7)) AS vm_id FROM orders""")),

    // ---- §2.9 explode / melt ----
    Entry("q_explode_delimited",
      (s, d) => Relational.explodeDelimited(t(s, d, "documents")
          .select("doc_id", "text"), "text", " ")
        .select("doc_id", "element"),
      Some("""SELECT doc_id, t AS element FROM documents, unnest(string_split(text, ' ')) AS u(t) WHERE len(trim(t)) > 0""")),

    Entry("q_melt",
      (s, d) => Relational.melt(t(s, d, "part"), Seq("p_partkey"),
        Seq("p_size", "p_retailprice"), castTo = Some("double")),
      Some("""SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part UNION ALL SELECT p_partkey, 'p_retailprice', p_retailprice FROM part""")),

    Entry("q_pivot_wide",
      // melt's inverse — the long→wide reshape the reference uses to
      // build its gene × sample matrices (dcast/pivot_table). Pivot
      // values are DECLARED, not discovered: at 100 TB the
      // values-discovery pass of an open pivot is a full extra scan, and
      // a declared list keeps the plan a single partial-aggregated
      // shuffle (one exchange, map-side combine over the pivot CASEs)
      (s, d) => Q.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L),
      Some("""SELECT user_id, count(*) FILTER (event_type = 'click') AS click, count(*) FILTER (event_type = 'view') AS view, count(*) FILTER (event_type = 'purchase') AS purchase, count(*) FILTER (event_type = 'signup') AS signup, count(*) FILTER (event_type = 'error') AS error FROM events GROUP BY 1""")),

    Entry("q_histogram",
      // fixed-width histogram profile of a numeric column: bucket index
      // is row-local arithmetic, the rollup is one exchange — the
      // standard distribution-profile pass over a 100 TB column
      (s, d) => {
        val lo = 900.0; val hi = 105000.0; val n = 20
        val w = (hi - lo) / n
        t(s, d, "lineitem").select(col("l_extendedprice").as("x"))
          .withColumn("bucket",
            when(col("x") < lo, lit(-1))
              .when(col("x") >= hi, lit(n))
              .otherwise(floor((col("x") - lo) / w).cast("int")))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
      },
      Some("""SELECT CASE WHEN l_extendedprice < 900.0 THEN -1 WHEN l_extendedprice >= 105000.0 THEN 20 ELSE CAST(floor((l_extendedprice - 900.0) / ((105000.0 - 900.0) / 20)) AS INTEGER) END AS bucket, count(*) AS n FROM lineitem GROUP BY 1"""))
  )
}
