package graft

import org.apache.spark.sql.functions._
import graft.ops.{RangeJoin, Relational}
import graft.stats.Stats

/** Relational operators: range-join ≡ crossJoin+filter property,
  * melt/explode round trips, deterministic keep-first, BH-FDR vs
  * hand-computed values. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rng = new scala.util.Random(7)

  test("pointInInterval equals naive crossJoin+filter on random data") {
    val intervals = Seq.tabulate(80) { i =>
      val lo = rng.nextDouble() * 100; (i.toLong, lo, lo + rng.nextDouble() * 10)
    }.toDF("iid", "lo", "hi")
    val points = Seq.tabulate(200) { i =>
      (1000L + i, rng.nextDouble() * 120 - 10)
    }.toDF("pid", "v")
    val fast = RangeJoin.pointInInterval(intervals, points, "lo", "hi", "v", 5.0)
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    val naive = intervals.crossJoin(points)
      .where(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    assert(fast == naive && naive.nonEmpty)
  }

  test("ppmJoin equals naive theta join and stays lazy on empty input") {
    val masses = Seq.tabulate(60)(i => (i.toLong, 50.0 + rng.nextDouble() * 2000))
      .toDF("mid", "mm")
    val structs = Seq.tabulate(120)(i => (500L + i, 50.0 + rng.nextDouble() * 2000))
      .toDF("sid", "mass")
    val fast = RangeJoin.ppmJoin(masses, structs, "mm", "mass", 5000.0)
      .select("mid", "sid").as[(Long, Long)].collect().toSet
    val naive = masses.crossJoin(structs)
      .where(col("mass") >= col("mm") - col("mm") * 5000.0 / 1e6 &&
        col("mass") <= col("mm") + col("mm") * 5000.0 / 1e6)
      .select("mid", "sid").as[(Long, Long)].collect().toSet
    assert(fast == naive && naive.nonEmpty)
    // round-1 defect: plan construction ran an eager job and NPE'd on empty
    val empty = masses.where(lit(false))
    assert(RangeJoin.ppmJoin(empty, structs, "mm", "mass", 30.0).count() == 0)
  }

  test("intervalOverlap equals naive overlap join incl. negative coords") {
    val a = Seq.tabulate(50) { i =>
      val s = rng.nextDouble() * 200 - 100; (i.toLong, s, s + rng.nextDouble() * 20)
    }.toDF("aid", "as", "ae")
    val b = Seq.tabulate(70) { i =>
      val s = rng.nextDouble() * 200 - 100; (900L + i, s, s + rng.nextDouble() * 20)
    }.toDF("bid", "bs", "be")
    val fast = RangeJoin.intervalOverlap(a, b, "as", "ae", "bs", "be", 15.0)
      .select("aid", "bid").as[(Long, Long)].collect()
    val naive = a.crossJoin(b)
      .where(col("as") <= col("be") && col("bs") <= col("ae"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(fast.toSet == naive && naive.nonEmpty)
    assert(fast.length == fast.toSet.size, "bucket dedup must emit each pair once")
  }

  test("melt preserves values and explodeDelimited drops empties") {
    val df = Seq((1L, 10, 2.5), (2L, 20, 3.5)).toDF("id", "a", "b")
    val melted = Relational.melt(df, Seq("id"), Seq("a", "b"), castTo = Some("double"))
    assert(melted.count() == 4)
    assert(melted.where(col("variable") === "a" && col("id") === 1)
      .select("value").as[Double].head() == 10.0)
    // string values survive without the old forced double cast
    val sdf = Seq((1L, "x", "y")).toDF("id", "c1", "c2")
    val smelted = Relational.melt(sdf, Seq("id"), Seq("c1", "c2"))
    assert(smelted.select("value").as[String].collect().sorted.toSeq == Seq("x", "y"))
    val ex = Relational.explodeDelimited(
      Seq((1L, "a;b;;c"), (2L, ""), (3L, null: String)).toDF("id", "s"), "s")
    assert(ex.select("element").as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  test("naturalJoin infers shared columns like pd.merge") {
    val a = Seq((1, "x", 10.0)).toDF("k", "name", "va")
    val b = Seq((1, "x", 99.0)).toDF("k", "name", "vb")
    val j = Relational.naturalJoin(a, b)
    assert(j.columns.toSeq == Seq("k", "name", "va", "vb"))
    assert(j.count() == 1)
    intercept[IllegalArgumentException] {
      Relational.naturalJoin(Seq(1).toDF("x"), Seq(1).toDF("y"))
    }
  }

  test("concatRows aligns by name and null-fills like pd.concat") {
    val a = Seq((1L, 2.0)).toDF("k", "v")
    val b = Seq((5L, "z")).toDF("k", "tag")
    val u = Relational.concatRows(Seq(a, b))
    assert(u.columns.toSeq == Seq("k", "v", "tag"))
    assert(u.where(col("tag").isNull).count() == 1)
    assert(u.where(col("v").isNull).count() == 1)
  }

  test("keepFirst is deterministic under explicit ordering") {
    val df = Seq(("g", 2, "b"), ("g", 1, "a"), ("g", 1, "z"), ("h", 3, "c"))
      .toDF("grp", "ord", "payload")
    val kept = Relational.keepFirst(df, Seq("grp"), Seq(col("ord"), col("payload")))
      .select("grp", "payload").as[(String, String)].collect().toSet
    assert(kept == Set(("g", "a"), ("h", "c")))
  }

  test("roundedJoin matches on HALF_UP rounded keys") {
    // Spark round() HALF_UPs the decimal repr: 0.25->0.3, 0.26->0.3, 0.14->0.1
    val a = Seq((1L, 0.26)).toDF("ida", "va")
    val b = Seq((2L, 0.25), (3L, 0.14)).toDF("idb", "vb")
    val j = Relational.roundedJoin(a, b, "va", "vb", 1)
    assert(j.select("idb").as[Long].collect().toSeq == Seq(2L))
  }

  test("BH-FDR matches hand-computed p.adjust values") {
    val df = Seq(("g", 1L, 0.005), ("g", 2L, 0.011), ("g", 3L, 0.02), ("g", 4L, 0.04))
      .toDF("grp", "id", "p")
    val adj = Stats.bhAdjust(df, Seq("grp"), "p", "id")
      .orderBy("id").select("p_adj").as[Double].collect()
    val expected = Seq(0.02, 0.022, 0.02 * 4 / 3.0, 0.04)
    adj.zip(expected).foreach { case (a, e) => assert(math.abs(a - e) < 1e-12) }
    // all-equal ps: adj = p * n / n = p for the last, cummin propagates
    val df2 = Seq(("g", 1L, 0.03), ("g", 2L, 0.03)).toDF("grp", "id", "p")
    val adj2 = Stats.bhAdjust(df2, Seq("grp"), "p", "id")
      .select("p_adj").as[Double].collect()
    assert(adj2.forall(v => math.abs(v - 0.03) < 1e-12))
  }

  test("spearman rho equals Pearson of ranks; perfect monotone = 1") {
    val df = Seq.tabulate(20) { i =>
      ("g", i.toDouble, math.pow(i.toDouble, 3) + 5)
    }.toDF("grp", "x", "y")
    val rho = Stats.spearman(df, Seq("grp"), "x", "y")
      .select("rho").as[Double].head()
    assert(math.abs(rho - 1.0) < 1e-12)
  }

  test("partialCorr removes a confounder and keeps a direct effect") {
    val rng2 = new scala.util.Random(13)
    // confounded: x and y both driven by z -> pcor(x,y|z) ~ 0 though rxy >> 0
    val conf = Seq.tabulate(500) { _ =>
      val z = rng2.nextGaussian()
      ("g", z + rng2.nextGaussian() * 0.3, z + rng2.nextGaussian() * 0.3, z)
    }.toDF("grp", "x", "y", "z")
    val pc = Stats.partialCorr(conf, Seq("grp"), "x", "y", "z")
      .select("pcor", "p_pcor").as[(Double, Double)].head()
    assert(math.abs(pc._1) < 0.15, s"confounded pcor should vanish: $pc")
    // direct: y = x + noise, z independent -> pcor stays high and significant
    val direct = Seq.tabulate(500) { _ =>
      val x = rng2.nextGaussian()
      ("g", x, x + rng2.nextGaussian() * 0.3, rng2.nextGaussian())
    }.toDF("grp", "x", "y", "z")
    val pd = Stats.partialCorr(direct, Seq("grp"), "x", "y", "z")
      .select("pcor", "p_pcor").as[(Double, Double)].head()
    assert(pd._1 > 0.8 && pd._2 < 1e-10, s"direct pcor lost: $pd")
  }

  test("corrWithP ignores null pairs in n") {
    val df = Seq(("g", Some(1.0), Some(2.0)), ("g", Some(2.0), Some(4.0)),
      ("g", Some(3.0), Some(6.1)), ("g", None, Some(9.0)), ("g", Some(4.0), None))
      .toDF("grp", "x", "y")
    val row = Stats.corrWithP(df, Seq("grp"), "x", "y")
      .select("n").as[Long].head()
    assert(row == 3L)
  }

  test("rocAuc: perfect separation = 1, random labels ~ 0.5, ties handled") {
    val perfect = Seq.tabulate(40)(i => ("g", i.toDouble, if (i >= 20) 1 else 0))
      .toDF("grp", "score", "label")
    val a1 = Stats.rocAuc(perfect, Seq("grp"), "score", "label")
      .select("auc").as[Double].head()
    assert(a1 == 1.0)
    // all-tied scores -> AUC exactly 0.5 by midranks
    val tied = Seq.tabulate(40)(i => ("g", 7.0, i % 2)).toDF("grp", "score", "label")
    val a2 = Stats.rocAuc(tied, Seq("grp"), "score", "label")
      .select("auc").as[Double].head()
    assert(math.abs(a2 - 0.5) < 1e-12)
    // inverted classifier -> 0
    val inv = Seq.tabulate(40)(i => ("g", -i.toDouble, if (i >= 20) 1 else 0))
      .toDF("grp", "score", "label")
    assert(Stats.rocAuc(inv, Seq("grp"), "score", "label")
      .select("auc").as[Double].head() == 0.0)
  }

  test("assignNewIds avoids existing ids and batch collisions deterministically") {
    import graft.ops.Ids
    val rows = Seq(1L, 2L, 3L, 4L).toDF("key")
    // existing set contains the attempt-0 candidates of keys 1 and 3 ->
    // those rows MUST retry with attempt 1
    val existing = Seq(1L, 3L).toDF("key")
      .select(Ids.candidate("key", 42L, 0).as("vm_id"))
    val out = Ids.assignNewIds(rows, "key", existing)
      .select("key", "vm_id").as[(Long, String)].collect().toMap
    assert(out.size == 4 && out.values.forall(_ != null))
    assert(out.values.toSet.size == 4, "ids must be unique")
    val taken = existing.as[String].collect().toSet
    assert(out.values.forall(v => !taken(v)), "no id may collide with existing")
    // keys 2,4 keep their attempt-0 draw; 1,3 moved to attempt 1
    val a0 = rows.select(col("key"), Ids.candidate("key", 42L, 0).as("c"))
      .as[(Long, String)].collect().toMap
    assert(out(2L) == a0(2L) && out(4L) == a0(4L))
    assert(out(1L) != a0(1L) && out(3L) != a0(3L))
    // determinism
    val out2 = Ids.assignNewIds(rows, "key", existing)
      .select("key", "vm_id").as[(Long, String)].collect().toMap
    assert(out == out2)
  }

  test("madPerGroup equals the percentile-aggregate reference bit-for-bit") {
    val rng = new scala.util.Random(3)
    val df = Seq.tabulate(501)(i => (s"g${i % 7}", rng.nextDouble() * 100))
      .toDF("g", "x")
    // reference = the declarative percentile/join/percentile shape the
    // DuckDB oracle mirrors; the one-shuffle kernel must match EXACTLY
    // (same linear-interpolation rule), else the correctness gate drifts
    val med = df.groupBy("g").agg(expr("percentile(x, 0.5)").as("med"))
    val ref = df.join(med, Seq("g")).groupBy("g")
      .agg(first(col("med")).as("med"),
        expr("percentile(abs(x - med), 0.5)").as("mad"))
      .select("g", "med", "mad").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val got = Stats.madPerGroup(df, Seq("g"), "x")
      .select("g", "med", "mad").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == ref.keySet && got.size == 7)
    got.foreach { case (g, (m, d)) =>
      assert(m == ref(g)._1, s"$g med")   // exact, not approx
      assert(d == ref(g)._2, s"$g mad")
    }
    // even-sized group interpolation + empty-after-null behavior
    val small = Seq(("e", 1.0), ("e", 2.0), ("e", 4.0), ("e", 8.0))
      .toDF("g", "x")
    val s = Stats.madPerGroup(small, Seq("g"), "x")
      .select("med", "mad").as[(Double, Double)].head()
    assert(s._1 == 3.0 && s._2 == 1.5) // devs [1,1,2,5] -> (1+2)/2
  }

  test("table chem backend replays multi-product reactions from the fixture") {
    import graft.chem.TableChemBackend
    val subs = Seq(("A", 10.0, "A"), ("B", 10.04, "B"), ("C", 55.0, "C"))
      .toDF("id", "mass", "root")
    val rules = Seq("r1").toDF("rule_id")
    val tab = Seq(
      (10.0, "r1", "P20", 20.0), (10.0, "r1", "P30", 30.0), // 2-product fan-out
      (10.0, "r2", "P99", 99.0),                            // rule not in play
      (55.0, "r1", "Pneg", -1.0))                           // non-positive mass
      .toDF("sub_mass_key", "rule_id", "product_id", "product_mass")
    val out = TableChemBackend(tab, keyD = 1)
      .virtualProducts(subs, rules, "id", "mass", "root")
      .select("substrate_id", "rule_id", "product_id", "product_mass", "root")
      .as[(String, String, String, Double, String)].collect().toSet
    // A and B share the 10.0 key -> both get BOTH products; product ids
    // converge across roots (table identity, not root-embedded md5); the
    // r2 row and the negative-mass row never surface
    assert(out == Set(
      ("A", "r1", "P20", 20.0, "A"), ("A", "r1", "P30", 30.0, "A"),
      ("B", "r1", "P20", 20.0, "B"), ("B", "r1", "P30", 30.0, "B")))
  }

  test("madPerGroup two-pass fallback equals the buffered kernel") {
    val rng = new scala.util.Random(17)
    val df = Seq.tabulate(400)(i => (s"g${i % 5}", rng.nextDouble() * 50))
      .toDF("g", "x")
    val buffered = Stats.madPerGroup(df, Seq("g"), "x")
      .select("g", "med", "mad").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // maxBufferedGroup below every group size forces the two-pass plan
    val twoPass = Stats.madPerGroup(df, Seq("g"), "x", maxBufferedGroup = 1)
      .select("g", "med", "mad").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(twoPass.keySet == buffered.keySet)
    buffered.foreach { case (g, (m, d)) =>
      assert(twoPass(g)._1 == m, s"$g med")
      assert(twoPass(g)._2 == d, s"$g mad")
    }
  }

  test("madPerGroup completes on one million-row skewed group") {
    // one entity carrying 1e6 samples: the probe must route to the
    // two-pass plan (value->count state, ~100 distinct values) instead of
    // buffering the group row-per-row
    val big = spark.range(1000000L)
      .select(lit("hot").as("g"), (col("id") % 100).cast("double").as("x"))
      .unionByName(Seq(("cold", 5.0), ("cold", 7.0), ("cold", 11.0))
        .toDF("g", "x"))
    val out = Stats.madPerGroup(big, Seq("g"), "x", maxBufferedGroup = 100000)
      .select("g", "med", "mad").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // 0..99 uniform: median 49.5, deviations |v-49.5| -> median 25.0
    assert(out("hot")._1 == 49.5 && out("hot")._2 == 25.0, out("hot").toString)
    assert(out("cold")._1 == 7.0 && out("cold")._2 == 2.0)
  }

  test("KMV distinct estimate lands within the sketch's error envelope") {
    // 10k distinct keys, k=64: relative error concentrates around
    // 1/sqrt(k-2) ~ 13%; allow 3x that. Mirrors q_kmv_distinct's formula.
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val n = 10000
    val df = (0 until n).map(i => s"u$i").toDF("key")
      .withColumn("h", conv(substring(md5(concat(lit("kmv:"), col("key"))),
        1, 15), 16, 10).cast("long"))
    val kth = df.withColumn("rn",
        row_number().over(Window.orderBy("h")))
      .where(col("rn") <= k).agg(max("h")).head().getLong(0)
    val est = (k - 1).toDouble * 1152921504606846976.0 / kth
    assert(math.abs(est - n) / n < 0.4, s"estimate $est too far from $n")
  }

  test("withRowIndex is dense 1..N in sort order, stays in the DataFrame " +
    "layer, and survives repartitioned input") {
    val df = rng.shuffle((1 to 997).toList).toDF("v").repartition(13)
    val idx = Relational.withRowIndex(df, Seq(col("v").desc), "row_idx")
    val got = idx.select("row_idx", "v").as[(Long, Int)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 997L))         // dense, 1-based
    assert(got.map(_._2).toSeq == (997 to 1 by -1))     // follows the order
    // the contract the rewrite exists for: no RDD scan node in the plan
    // (the old zipWithIndex form re-encoded rows through ExistingRDD)
    assert(!idx.queryExecution.optimizedPlan.toString.contains("ExistingRDD"),
      "withRowIndex must not drop to the RDD layer")
  }

  test("asofJoin survives a planted hot key: 1M probe rows on ONE key") {
    // worst-case skew: every probe row lands in a single window partition,
    // so the whole key sorts in one task. This must complete comfortably
    // (linear sort + one pass), not stall — the scaladoc documents the
    // range-split escape hatch if a key ever outgrows a single executor.
    val n = 1000000L
    val probe = spark.range(n).select(lit(1L).as("key"),
      col("id").as("ts"), (col("id") % 97).as("payload"))
    val ref = spark.range(0L, n, 1000L).select(lit(1L).as("key"),
      col("id").as("ts"), (col("id") / 1000L).cast("long").as("refv"))
    val t0 = System.nanoTime()
    val out = Relational.asofJoin(probe, ref, "key", "ts", Seq("refv"))
    assert(out.count() == n)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"1M-row hot key: $sec%.1f s")
    assert(sec < 120.0, s"hot-key asofJoin too slow: $sec s")
    // spot-check semantics on the hot key: refv = floor(ts/1000)
    val sample = out.where(col("ts").isin(0L, 999L, 1000L, 999999L))
      .select("ts", "refv").as[(Long, Option[Long])].collect().toMap
    assert(sample == Map(0L -> Some(0L), 999L -> Some(0L),
      1000L -> Some(1L), 999999L -> Some(999L)))
  }

  test("asofJoin rejects reserved/overlapping column names") {
    val probe = Seq((1L, 1L, "x")).toDF("key", "ts", "payload")
    val ref = Seq((1L, 1L, "r")).toDF("key", "ts", "refv")
    intercept[IllegalArgumentException] {
      Relational.asofJoin(probe.withColumnRenamed("payload", "__p"),
        ref, "key", "ts", Seq("refv"))
    }
    intercept[IllegalArgumentException] {
      Relational.asofJoin(probe, ref.withColumnRenamed("refv", "__ref"),
        "key", "ts", Seq("__ref"))
    }
    intercept[IllegalArgumentException] { // refCols must exclude key/ts
      Relational.asofJoin(probe, ref, "key", "ts", Seq("ts", "refv"))
    }
  }

  test("zscoreOutliers flags |z|>=2 and guards sd=0 groups") {
    val df = (Seq.fill(20)(10.0) :+ 100.0).zipWithIndex
      .map { case (v, i) => ("g", i.toLong, v) }.toDF("grp", "id", "v")
    val out = Stats.zscoreOutliers(df, Seq("grp"), "v")
    assert(out.where(col("is_outlier")).select("id").as[Long].collect().toSeq == Seq(20L))
    val const = Seq(("c", 1L, 5.0), ("c", 2L, 5.0)).toDF("grp", "id", "v")
    assert(Stats.zscoreOutliers(const, Seq("grp"), "v")
      .where(col("is_outlier")).count() == 0)
  }

  test("winsorizedMean shrugs off a planted outlier the plain mean eats") {
    val rows = ((0 until 99).map(i => ("g", i.toLong, 10.0 + (i % 5))) :+
      (("g", 99L, 1e9))).toDF("grp", "id", "v")
    val w = Stats.winsorizedMean(rows, Seq("grp"), "v", p = 0.05)
      .collect()(0)
    assert(w.getLong(2) == 100L)
    // plain mean ~1e7; winsorized stays near the data's center
    assert(w.getDouble(1) > 10.0 && w.getDouble(1) < 15.0,
      s"winsorized mean ${w.getDouble(1)} not robust")
  }

  test("quantileNormalize: equal-count samples end with IDENTICAL value " +
       "multisets (the defining QN property)") {
    val rnd = new scala.util.Random(11)
    val rows = for (s <- 0 until 4; u <- 0 until 50)
      yield (s.toLong, u.toLong, rnd.nextInt(1000) / 4.0)
    val out = Stats.quantileNormalize(rows.toDF("sample", "unit", "v"),
      "sample", "unit", "v")
    val bySample = out.select("sample", "normalized")
      .as[(Long, Double)].collect().groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).sorted.toSeq }
    assert(bySample.size == 4)
    assert(bySample.values.toSet.size == 1,
      "normalized distributions must be identical across samples")
    // monotone within sample: bigger raw value never maps below a
    // smaller one
    val mono = out.select("sample", "v", "normalized")
      .as[(Long, Double, Double)].collect().groupBy(_._1)
    mono.values.foreach { xs =>
      val sorted = xs.sortBy(_._2)
      assert(sorted.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
    }
  }

  test("topKPerGroupAgg equals the window form on random data with ties") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3000).map { i =>
      (rnd.nextInt(40).toLong, i.toLong, rnd.nextInt(25).toDouble)
    }.toDF("g", "id", "v").repartition(9)
    val win = Relational.topKPerGroup(rows, Seq("g"),
        Seq(col("v").desc, col("id")), 4)
      .select("g", "id", "v", "rank_in_group")
      .collect().map(_.toSeq).toSet
    val agg = Relational.topKPerGroupAgg(rows, Seq("g"),
        struct((-col("v")).as("o"), col("id").as("t")), 4)
      .select("g", "id", "v", "rank_in_group")
      .collect().map(_.toSeq).toSet
    assert(agg == win)
    // the tie-heavy ordering (25 distinct v over 3000 rows) makes any
    // non-total sortKey nondeterministic — equality proves the tiebreak
  }

  test("Profile.profile: counts, nulls, cardinality and typed ranges " +
       "per column in one pass") {
    val df = Seq(
      (1L, Some(2.5), Some("b")),
      (2L, None, Some("a")),
      (3L, Some(7.5), None),
      (4L, Some(2.5), Some("a"))
    ).toDF("id", "x", "s")
    val p = graft.stats.Profile.profile(df)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p.size == 3)
    val idr = p("id")
    assert(idr.getLong(1) == 4 && idr.getLong(2) == 0 &&
      idr.getLong(3) == 4 && idr.getDouble(4) == 1.0 &&
      idr.getDouble(5) == 4.0 && idr.isNullAt(6))
    val xr = p("x")
    assert(xr.getLong(1) == 4 && xr.getLong(2) == 1 &&
      xr.getLong(3) == 2 && xr.getDouble(4) == 2.5 &&
      xr.getDouble(5) == 7.5)
    val sr = p("s")
    assert(sr.getLong(1) == 4 && sr.getLong(2) == 1 &&
      sr.getLong(3) == 2 && sr.isNullAt(4) &&
      sr.getString(6) == "a" && sr.getString(7) == "b")
  }

  // ---- round-16 spread() contract: size-aware width + composition ----

  private def repartitionWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
        r.numPartitions
    }

  test("spread: width clamps to [1, defaultParallelism] by leaf bytes, " +
      "rows are preserved, and a huge target collapses to one partition") {
    val dir = java.nio.file.Files.createTempDirectory("spreadspec").toString
    spark.range(0, 5000).selectExpr("id", "repeat('x', 50) as text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val par = spark.sparkContext.defaultParallelism
    // tiny target: bytes/1 >> parallelism -> width capped at par
    assert(Relational.spreadWidth(250000L, par, 1L) == par)
    // huge target: ceil(bytes/1e12) = 1 -> a single partition
    assert(Relational.spreadWidth(250000L, par, 1e12.toLong) == 1)
    // in between: ceil(bytes / target)
    assert(Relational.spreadWidth(3L * 64 * 1024 + 1, 8, 64L * 1024) == 4)
    // the fixture is one file under maxPartitionBytes: one Repartition
    val spread = Relational.spread(df)
    assert(repartitionWidths(spread).size == 1)
    assert(spread.count() == 5000)
  }

  test("spread composed with spread inserts exactly one exchange, and an " +
      "in-memory (unknown-width) frame fans out to the full parallelism") {
    val dir = java.nio.file.Files.createTempDirectory("spreadspec2").toString
    spark.range(0, 1000).selectExpr("id", "repeat('y', 20) as text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val once = Relational.spread(df)
    val twice = Relational.spread(once) // the ADVICE guard: no second shuffle
    assert(repartitionWidths(twice).size == 1)
    assert(twice.count() == 1000)
    // non-file leaves report unknown width -> full fan-out (safe direction)
    val mem = Seq.tabulate(64)(i => (i.toLong, s"t$i")).toDF("id", "text")
    assert(repartitionWidths(Relational.spread(mem)) ==
      Seq(spark.sparkContext.defaultParallelism))
  }

  // ---- round-16 Goh restructure invariant: a desc RANGE-frame count ----
  // equals the `np2 >= v` theta-join count, ties and nulls included
  test("union-window rank count equals the broadcast theta-join count " +
      "on random data with planted ties and null values") {
    import org.apache.spark.sql.expressions.Window
    val nulls = Seq.tabulate(60) { i =>
      val v: java.lang.Double =
        if (i % 7 == 0) null
        else math.rint(rng.nextDouble() * 10) / 2.0 // coarse grid -> ties
      (s"ds${i % 3}", i.toLong, v)
    }.toDF("ds", "i", "npcor")
    val genes = Seq.tabulate(90) { i =>
      (s"ds${i % 3}", i.toLong, math.rint(rng.nextDouble() * 10) / 2.0)
    }.toDF("ds", "g", "pcor")
    // theta-join form (the pre-round-16 shape)
    val nn = nulls.where(col("npcor").isNotNull)
      .select(col("ds").as("ds2"), col("npcor").as("np2"))
    val kJoin = genes.join(broadcast(nn), col("ds") === col("ds2") &&
        col("np2") >= col("pcor"), "left")
      .groupBy("ds", "g").agg(count(col("np2")).as("k"))
      .as[(String, Long, Long)].collect().toSet
    // union-window form (the round-16 shape)
    val nRows = nulls.select(col("ds"), col("npcor").as("v"),
      lit(1).as("__isn"), col("i"), lit(null).cast("long").as("g"))
    val gRows = genes.select(col("ds"), col("pcor").as("v"),
      lit(0).as("__isn"), lit(null).cast("long").as("i"), col("g"))
    val w = Window.partitionBy("ds").orderBy(col("v").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = nRows.unionByName(gRows)
      .withColumn("k", count(when(col("__isn") === 1, col("v"))).over(w))
    val kWinG = ranked.where(col("__isn") === 0)
      .select(col("ds"), col("g"), col("k"))
      .as[(String, Long, Long)].collect().toSet
    assert(kWinG == kJoin)
    val kWinN = ranked.where(col("__isn") === 1)
      // a null current value's window frame spans everything (nulls sort
      // last under desc), but Goh overrides those rows to p = 1 — mirror
      // that here by comparing only non-null rows, plus the count parity
      .where(col("v").isNotNull)
      .select(col("ds"), col("i"), col("k"))
      .as[(String, Long, Long)].collect().toSet
    val kJoinNonNull = nulls.where(col("npcor").isNotNull)
      .join(broadcast(nn), col("ds") === col("ds2") &&
        col("np2") >= col("npcor"), "left")
      .groupBy("ds", "i").agg(count(col("np2")).as("k"))
      .as[(String, Long, Long)].collect().toSet
    assert(kWinN == kJoinNonNull && kWinN.nonEmpty)
  }
}
