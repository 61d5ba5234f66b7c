package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Relational, RangeJoin}
import graft.stats.Stats
import Q.{Entry, t, r6}

/** End-to-end recompositions of the reference pipelines (SURVEY §3) over
  * the driver's tables, each with a full DuckDB oracle. */
object PipelineQueries {

  val entries: Seq[Entry] = Seq(

    Entry("q_pipeline_massquery",
      // queryMassNPDB_mod.py:75-173: masses → crossJoin(adducts) → ppm
      // window → range join vs structures → dedup keep-first → project.
      // MassQuery.annotate is the library operator: adduct-expanded
      // log-bucketed ppm equi join (no BNLJ) with ROW-LOCAL keep-first
      // dedup — no 11M-key exchange; see its scaladoc for the design.
      // ms_id stays numeric until the final projection; adduct priority =
      // lexicographic label order, matching the oracle's ORDER BY adduct, mm.
      (s, d) => {
        val masses = t(s, d, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("ms_id"),
          (col("l_extendedprice") / when(col("l_quantity") =!= 0, col("l_quantity"))).as("mz"))
        val structs = t(s, d, "part").select(col("p_partkey").as("struct_id"),
          col("p_retailprice").as("monoisotopic_mass"))
        graft.pipelines.MassQuery.annotate(masses, "ms_id", "mz",
            Seq(("2M", 2.0, 0.0), ("M+0", 1.0, 0.0), ("M+10", 1.0, 10.0)),
            structs, "struct_id", "monoisotopic_mass", ppm = 500.0)
          .select(
            concat(lit("m"), col("ms_id").cast("string")).as("ms_name"),
            col("struct_id"), col("adduct"), r6(col("mm")).as("mm"),
            col("monoisotopic_mass"))
      },
      Some("""WITH masses AS (SELECT concat('m', CAST(l_orderkey*10 + l_linenumber AS VARCHAR)) AS ms_name, l_extendedprice / nullif(l_quantity, 0) AS mz FROM lineitem), add AS (SELECT * FROM (VALUES ('M+0', 1.0, 0.0), ('M+10', 1.0, 10.0), ('2M', 2.0, 0.0)) a(adduct, mult, mass)), wm AS (SELECT ms_name, adduct, (mz - CAST(mass AS DOUBLE)) / CAST(mult AS DOUBLE) AS mm FROM masses CROSS JOIN add), j AS (SELECT ms_name, adduct, mm, p_partkey AS struct_id, p_retailprice AS monoisotopic_mass FROM wm JOIN part ON p_retailprice >= mm - mm*500/1e6 AND p_retailprice <= mm + mm*500/1e6 WHERE mm > 0 AND p_retailprice > 0), dd AS (SELECT *, row_number() OVER (PARTITION BY ms_name, struct_id ORDER BY adduct, mm) AS rn FROM j) SELECT ms_name, struct_id, adduct, CAST(round(CAST(CAST(mm AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mm, monoisotopic_mass FROM dd WHERE rn = 1""")),

    Entry("q_pipeline_transitions",
      // pathMassTransitions.py:203-224 get_transitions reshaped Spark-first:
      // instead of melting the quadratic outer-sum matrix (the reference's
      // 2.18M-row pandas blowup), broadcast the small transition list and
      // rounded-equi join mass+transition back to the mass table — linear.
      (s, d) => {
        import s.implicits._
        val masses = t(s, d, "part").select(col("p_partkey").as("mass_id"),
          col("p_retailprice").as("mass"))
        val trans = Seq(("t_plus10", 10.0), ("t_plus25_5", 25.5), ("t_minus0_7", -0.7))
          .toDF("transition", "tmass")
        val targets = masses.crossJoin(broadcast(trans))
          .withColumn("target", col("mass") + col("tmass"))
        val partners = masses.select(col("mass_id").as("partner_id"),
          col("mass").as("partner_mass"))
        Relational.roundedJoin(targets, partners, "target", "partner_mass", 1)
          .where(col("mass_id") =!= col("partner_id"))
          .select("mass_id", "transition", "partner_id")
      },
      Some("""WITH tr AS (SELECT * FROM (VALUES ('t_plus10', 10.0), ('t_plus25_5', 25.5), ('t_minus0_7', -0.7)) t(transition, tmass)), tg AS (SELECT p_partkey AS mass_id, transition, p_retailprice + CAST(tmass AS DOUBLE) AS target FROM part CROSS JOIN tr) SELECT mass_id, transition, p.p_partkey AS partner_id FROM tg JOIN part p ON round(CAST(CAST(tg.target AS VARCHAR) AS DECIMAL(38,18)), 1) = round(CAST(CAST(p.p_retailprice AS VARCHAR) AS DECIMAL(38,18)), 1) AND tg.mass_id <> p.p_partkey""")),

    Entry("q_pipeline_corromics",
      // corrMultiomics.py:158-225: MAD filter → align on shared sample axis
      // → per-pair corr with |r| cutoff → deterministic projection. The Pool
      // fan-out becomes shuffle parallelism.
      (s, d) => {
        val li = t(s, d, "lineitem")
        val madOk = Stats.madPerGroup(li, Seq("l_partkey"), "l_quantity")
          .where(col("mad") > 0).select("l_partkey")
        val filtered = li.join(madOk, Seq("l_partkey"), "left_semi")
        Stats.corrWithP(filtered, Seq("l_partkey"), "l_quantity", "l_extendedprice")
          .where(abs(col("r")) >= 0.9 && col("n") >= 5)
          .select(col("l_partkey"), r6(col("r")).as("r"), col("n"))
      },
      Some("""WITH m AS (SELECT l_partkey AS pk, quantile_cont(l_quantity, 0.5) AS med FROM lineitem GROUP BY 1), madok AS (SELECT l.l_partkey FROM lineitem l JOIN m ON l.l_partkey = m.pk GROUP BY 1 HAVING quantile_cont(abs(l.l_quantity - m.med), 0.5) > 0) SELECT l_partkey, CAST(round(CAST(CAST(corr(l_quantity, l_extendedprice) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS r, count(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN 1 END) AS n FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM madok) GROUP BY 1 HAVING abs(corr(l_quantity, l_extendedprice)) >= 0.9 AND count(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN 1 END) >= 5""")),

    Entry("q_pipeline_wcmodules",
      // wcModules.py:96-216 end-to-end: correlation edge list → mutual rank
      // → decay weight → cutoff (module edge set)
      (s, d) => {
        // numeric node dictionary (see q_mutual_rank): both mutual-rank
        // windows run on long ids; labels appear only in the projection
        val edges = t(s, d, "lineitem").groupBy("l_partkey", "l_suppkey")
          .agg(Q.sumDec(col("l_quantity")).as("r"))
          .select((col("l_partkey") * 2).as("part"),
            (col("l_suppkey") * 2 + 1).as("supp"), col("r"))
        def lbl(c: org.apache.spark.sql.Column) =
          concat(when(c % 2 === 0, lit("p")).otherwise(lit("s")),
            shiftright(c, 1).cast("string"))
        Stats.mutualRank(edges, "part", "supp", "r")
          .where(col("weight") >= 0.8)
          .select(lbl(col("a")).as("a"), lbl(col("b")).as("b"),
            r6(col("weight")).as("weight"))
      },
      Some("""WITH e0 AS (SELECT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS r FROM lineitem GROUP BY l_partkey, l_suppkey), edges AS (SELECT a, b, r FROM e0 UNION ALL SELECT b, a, r FROM e0), ranked AS (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY r DESC, b) AS rk FROM edges), p AS (SELECT x.a, x.b, x.rk AS rab, y.rk AS rba FROM ranked x JOIN ranked y ON x.a = y.b AND x.b = y.a WHERE x.a < x.b AND exp((CAST(1.0 AS DOUBLE) - sqrt(x.rk * y.rk)) / 25.0) >= 0.8) SELECT concat(CASE WHEN a % 2 = 0 THEN 'p' ELSE 's' END, CAST(a // 2 AS VARCHAR)) AS a, concat(CASE WHEN b % 2 = 0 THEN 'p' ELSE 's' END, CAST(b // 2 AS VARCHAR)) AS b, CAST(round(CAST(CAST(exp((CAST(1.0 AS DOUBLE) - sqrt(rab * rba)) / 25.0) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS weight FROM p""")),

    Entry("q_pipeline_enzyme",
      // gizmos.load_enzyme_input (:654-745) + heraldPathways.py:274-281:
      // explode per-gene pfam lists → evidence-level filter → pfam→rule
      // broadcast dict join → attach gene↔metabolite correlations → full
      // outer merge of substrate vs product sides ("outer allows
      // unilateral coexpression") → dedup
      (s, d) => {
        import s.implicits._
        // keys stay NUMERIC (suppkey/partkey) through the correlation
        // aggregate, the joins and both distincts; the 'g'/'s' labels are
        // built only in the final projection (string group keys are ~2×
        // the hash/compare cost in the vectorized aggregate — same lesson
        // as q_combat's round-2 concat-key regression)
        val annotations = Relational.explodeDelimited(
          t(s, d, "part").select(
            col("p_partkey").as("gkey"),
            concat_ws(";", col("p_brand"), col("p_type")).as("pfams")),
          "pfams", ";", "pfam").select("gkey", "pfam")
        val pfamRules = Seq(
          ("PROMO", "r1", "substrate", "strict"),
          ("ECONOMY", "r1", "product", "strict"),
          ("STANDARD", "r2", "substrate", "medium"),
          ("LARGE", "r2", "product", "medium"),
          ("SMALL", "r3", "substrate", "loose"))
          .toDF("pfam", "reaction_id", "role", "level")
          .where(col("level").isin("strict", "medium"))
        val corrs = Stats.corrWithP(
          t(s, d, "lineitem").select(
            col("l_suppkey").as("skey"), col("l_partkey").as("gkey"),
            col("l_quantity"), col("l_extendedprice")),
          Seq("skey", "gkey"), "l_quantity", "l_extendedprice")
          .where(abs(col("r")) >= 0.5 && col("n") >= 3)
          .select(col("skey"), col("gkey"), r6(col("r")).as("correlation"))
        val annotated = annotations.join(broadcast(pfamRules), "pfam")
          .join(corrs, "gkey")
        val sub = annotated.where(col("role") === "substrate")
          .select(col("reaction_id"), col("skey"),
            col("gkey").as("sub_gkey"),
            col("correlation").as("substrate_corr")).distinct()
        val prod = annotated.where(col("role") === "product")
          .select(col("reaction_id"), col("skey"),
            col("gkey").as("prod_gkey"),
            col("correlation").as("product_corr")).distinct()
        sub.join(prod, Seq("reaction_id", "skey"), "full_outer")
          .select(col("reaction_id"),
            concat(lit("s"), col("skey").cast("string")).as("ms_name"),
            concat(lit("g"), col("sub_gkey").cast("string")).as("substrate_gene"),
            col("substrate_corr"),
            concat(lit("g"), col("prod_gkey").cast("string")).as("product_gene"),
            col("product_corr"))
      },
      Some("""WITH ann AS (SELECT concat('g', CAST(p_partkey AS VARCHAR)) AS gene, t AS pfam FROM part, unnest(string_split(concat_ws(';', p_brand, p_type), ';')) AS u(t) WHERE len(trim(t)) > 0), rules AS (SELECT * FROM (VALUES ('PROMO','r1','substrate','strict'), ('ECONOMY','r1','product','strict'), ('STANDARD','r2','substrate','medium'), ('LARGE','r2','product','medium'), ('SMALL','r3','substrate','loose')) r(pfam, reaction_id, role, level) WHERE level IN ('strict','medium')), corrs AS (SELECT concat('s', CAST(l_suppkey AS VARCHAR)) AS ms_name, concat('g', CAST(l_partkey AS VARCHAR)) AS gene, CAST(round(CAST(CAST(corr(l_quantity, l_extendedprice) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS correlation FROM lineitem GROUP BY 1, 2 HAVING abs(corr(l_quantity, l_extendedprice)) >= 0.5 AND count(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN 1 END) >= 3), annotated AS (SELECT a.gene, r.reaction_id, r.role, c.ms_name, c.correlation FROM ann a JOIN rules r USING (pfam) JOIN corrs c USING (gene)), sub AS (SELECT DISTINCT reaction_id, ms_name, gene AS substrate_gene, correlation AS substrate_corr FROM annotated WHERE role = 'substrate'), prod AS (SELECT DISTINCT reaction_id, ms_name, gene AS product_gene, correlation AS product_corr FROM annotated WHERE role = 'product') SELECT reaction_id, ms_name, substrate_gene, substrate_corr, product_gene, product_corr FROM sub FULL JOIN prod USING (reaction_id, ms_name)""")),

    Entry("q_pipeline_methylmix",
      // MethylMix.R:101-150 composed end to end: per-gene lm FILTER
      // (GE ~ MET: slope<0, p<1e-3, R²>0.1) → beta-mixture EM + BIC on
      // the functional genes → DM state vs the normal cohort's mean.
      // Fixture plants the signal: even genes get ge exactly
      // anti-correlated with met (plus a small sample jitter so the
      // residual variance is positive), odd genes get met-independent ge —
      // the filter must keep exactly the even half. Rows-only for the
      // driver (the EM convergence loop is not SQL); the composition and
      // each stage carry golden ScalaTests, and every stage kernel is
      // independently hash-verified (q_ols / q_beta_mixture goldens /
      // q_group_mean).
      (s, d) => {
        val (cancer, normal) = methylMixCohorts(s, d)
        graft.pipelines.MethylMixPipeline.run(cancer, normal)
      },
      // fixed-point-residual certificate (ResidualOracles.methylMix): the
      // generic one-EM-step stationarity check over the claimed genes,
      // bracketed lm-filter universe (necessary t < -3 for every claimed
      // gene; sufficient t < -40 forces membership), normal-mean/dm/state
      // consistency — upgrades the rows-only gate entry to value-checked
      Some(ResidualOracles.methylMix("q_pipeline_methylmix"))),

    Entry("q_pipeline_methylmix_fixed",
      // the hash-verified twin of q_pipeline_methylmix (the
      // q_glm_nb_fixed / q_combat_fixed / q_beta_mixture_fixed recipe
      // applied at the COMPOSITION level): the lm filter thresholds the
      // t-statistic directly (|t| > 10 with negative slope — DuckDB has
      // no t tail; Dist goldens cover the tail lookup) and the mixture
      // stage runs fixed k=2 for exactly 10 EM steps, so the whole
      // lifecycle — filter decision, EM recurrence, normal means, DM
      // call — is replayed in one oracle: the filter as moment CTEs,
      // the EM via the shared unroll (betaMixtureFixedCtes over the
      // functional cancer cells), then dm/state on top.
      (s, d) => {
        val (cancer, normal) = methylMixCohorts(s, d)
        graft.pipelines.MethylMixPipeline.runFixed(cancer, normal)
          .select(col("gene"), col("n_components"), col("comp"),
            r6(col("a")).as("a"), r6(col("b")).as("b"),
            r6(col("weight")).as("weight"), r6(col("mean")).as("mean"),
            round(col("log_lik"), 3).as("log_lik"),
            round(col("bic"), 3).as("bic"),
            r6(col("normal_mean")).as("normal_mean"),
            col("dm"), col("state"))
      },
      Some(methylMixFixedOracleSql(iters = 10))),

    Entry("q_permutation_null",
      // seeded permutation-null machinery (SignificanceTest.R:28-74,
      // Gohs:51-60) — the "random" relabeling is an md5-derived rank so the
      // oracle replays the identical draw deterministically
      (s, d) => {
        val o = t(s, d, "orders")
        val wPerm = Window.partitionBy("o_orderpriority")
          .orderBy(md5(concat(lit("seed42:"), col("o_orderkey").cast("string"))),
            col("o_orderkey"))
        val wOrig = Window.partitionBy("o_orderpriority").orderBy(col("o_orderkey"))
        val orig = o.select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), row_number().over(wOrig).as("slot"))
        val perm = o.select(col("o_orderpriority"),
          col("o_totalprice").as("perm_price"), row_number().over(wPerm).as("slot"))
        orig.join(perm, Seq("o_orderpriority", "slot"))
          .groupBy("o_orderpriority")
          .agg(r6(corr(col("o_totalprice"), col("perm_price"))).as("null_corr"),
            count(lit(1)).as("n"))
      },
      Some("""WITH orig AS (SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS slot FROM orders), perm AS (SELECT o_orderpriority, o_totalprice AS perm_price, row_number() OVER (PARTITION BY o_orderpriority ORDER BY md5(concat('seed42:', CAST(o_orderkey AS VARCHAR))), o_orderkey) AS slot FROM orders) SELECT o.o_orderpriority, CAST(round(CAST(CAST(corr(o.o_totalprice, p.perm_price) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS null_corr, count(*) AS n FROM orig o JOIN perm p ON o.o_orderpriority = p.o_orderpriority AND o.slot = p.slot GROUP BY 1""")),

    Entry("q_pipeline_goh",
      // Gohs_method/integrated_aCGH_expression_relationships.R:99-278
      // composed end to end: per-(dataset, gene) partial correlation →
      // seeded permutation null → per-dataset empirical p → Fisher
      // combine (exact ln-micro-unit statistic) → empirical combined p
      // with the prepended-zero convention → BH-FDR → per-dataset
      // significance count. Datasets = return flags, genes = partkey
      // classes, samples = suppliers, cell values = exact decimal
      // means. See graft.pipelines.Goh for the determinism contract.
      (s, d) => {
        val cells = t(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("ds"),
            (col("l_partkey") % 50).as("g"), col("l_suppkey").as("sample"))
          .agg((Q.sumDec6(col("l_quantity")) / count(lit(1))).as("ac"),
            (Q.sumDec6(col("l_extendedprice")) / count(lit(1))).as("ex"),
            (Q.sumDec6(col("l_discount")) / count(lit(1))).as("cv"))
        graft.pipelines.Goh.run(cells, nGenes = 50, draws = 19)
      },
      Some {
        val pcf = "(rxy - rxz*ryz) / nullif(sqrt((1.0 - rxz*rxz) * (1.0 - ryz*ryz)), 0)"
        s"""WITH cells AS (SELECT l_returnflag AS ds, l_partkey % 50 AS g, l_suppkey AS sample, CAST(sum(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS ac, CAST(sum(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS ex, CAST(sum(CAST(l_discount AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS cv FROM lineitem GROUP BY 1, 2, 3), gpc0 AS (SELECT ds, g, count(*) AS n, corr(ac, ex) AS rxy, corr(ac, cv) AS rxz, corr(ex, cv) AS ryz FROM cells GROUP BY 1, 2), gpc1 AS (SELECT ds, g, n, $pcf AS pc FROM gpc0), gpc AS (SELECT ds, g, ${OmicsQueries.rndSql("pc", 6)} AS pcor FROM gpc1 WHERE n > 2 AND pc IS NOT NULL), dss AS (SELECT DISTINCT ds FROM cells), dr AS (SELECT i, ds, CAST(concat('0x', substr(md5('goh:' || CAST(i AS VARCHAR) || ':' || ds || ':a'), 1, 15)) AS BIGINT) % 50 AS ga, CAST(concat('0x', substr(md5('goh:' || CAST(i AS VARCHAR) || ':' || ds || ':b'), 1, 15)) AS BIGINT) % 50 AS gb FROM generate_series(1, 19) t(i), dss), nc AS (SELECT dr.i, dr.ds, a.ac, a.cv, b.ex FROM dr JOIN cells a ON a.ds = dr.ds AND a.g = dr.ga JOIN cells b ON b.ds = dr.ds AND b.g = dr.gb AND b.sample = a.sample), np0 AS (SELECT i, ds, count(*) AS n, corr(ac, ex) AS rxy, corr(ac, cv) AS rxz, corr(ex, cv) AS ryz FROM nc GROUP BY 1, 2), np1 AS (SELECT i, ds, n, $pcf AS pc FROM np0), npx AS (SELECT i, ds, CASE WHEN n > 2 THEN ${OmicsQueries.rndSql("pc", 6)} END AS npcor FROM np1), npn AS (SELECT ds AS ds2, npcor AS np2 FROM npx WHERE npcor IS NOT NULL), npv AS (SELECT x.i, x.ds, x.npcor, count(b.np2) AS k FROM npx x LEFT JOIN npn b ON b.ds2 = x.ds AND b.np2 >= x.npcor GROUP BY 1, 2, 3), nlm AS (SELECT i, ds, CAST(floor(ln(CASE WHEN npcor IS NOT NULL THEN k / CAST(19 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END) * 1000000 + 0.5) AS BIGINT) AS lnm FROM npv), nf AS (SELECT i, CAST(-2 * sum(lnm) AS BIGINT) AS nf_units FROM nlm GROUP BY 1), gpv AS (SELECT x.ds, x.g, x.pcor, count(b.np2) AS k FROM gpc x LEFT JOIN npn b ON b.ds2 = x.ds AND b.np2 >= x.pcor GROUP BY 1, 2, 3), glm AS (SELECT ds, g, CAST(floor(ln((k + 1) / CAST(20 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lnm, CASE WHEN k = 0 THEN 1 ELSE 0 END AS sig FROM gpv), mm AS (SELECT count(*) AS m FROM dss), gf AS (SELECT g AS gene, CAST(-2 * sum(lnm) AS BIGINT) AS f_units, CAST(sum(sig) AS BIGINT) AS n_sig, count(*) AS kds FROM glm GROUP BY 1), gf2 AS (SELECT gene, f_units, n_sig FROM gf, mm WHERE kds = m), pp AS (SELECT gene, f_units, n_sig, count(nf.nf_units) AS kf FROM gf2 LEFT JOIN nf ON gf2.f_units <= nf.nf_units GROUP BY 1, 2, 3), pv AS (SELECT gene, f_units, n_sig, (kf + 1) / CAST(20 AS DOUBLE) AS perm_pv FROM pp), bh AS (SELECT gene, f_units, n_sig, perm_pv, count(*) OVER () AS n, row_number() OVER (ORDER BY perm_pv, gene) AS rk FROM pv) SELECT gene, f_units, n_sig, ${OmicsQueries.rndSql("perm_pv", 6)} AS perm_pv, ${OmicsQueries.rndSql("least(CAST(1.0 AS DOUBLE), min(perm_pv * n / rk) OVER (ORDER BY perm_pv DESC, gene DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))", 6)} AS p_adj FROM bh"""
      }),

    Entry("q_goh_parametric",
      // the reference's OWN small-sample route through the same chain
      // (integrated_aCGH_expression_relationships.R:121,144,187-188):
      // per-dataset p is the one-sided t tail of the first-order pcor,
      // cor.test(alternative="g") with df = n − 3, sig counted at
      // p <= 0.05 — replacing the empirical null rank of q_pipeline_goh;
      // Fisher combine, empirical combined p and BH are unchanged.
      // Oracle trick: cells keep only genes with the FULL 7-sample
      // complement per dataset (a partitioned count window — one pass),
      // so df = 4 everywhere and the t tail has a closed algebraic form:
      //   P(T_4 > t) = (u²/4)(3+u) / (2·(1 + x·(1+u/2))),
      //   u = 4/(4+t²), x = |t|/√(4+t²), reflected for t < 0
      // — the conjugate-multiplied arrangement, exact for t=0 (=1/2) and
      // cancellation-FREE in the far tail (the naive ½ − F form loses
      // ~12 digits at |t|~1e3, which would shift the ln-micro-unit
      // Fisher terms by ~100 units; this form and the engine's
      // continued-fraction betaInc agree to ~1e-12 relative, far inside
      // the 1e-6 ln grid). Closed-form equivalence to Dist.tTailGreater
      // is golden-tested in PipelineGohAbcdSpec.
      (s, d) => {
        val cells0 = t(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("ds"),
            (col("l_partkey") % 50).as("g"), (col("l_suppkey") % 7).as("sample"))
          .agg((Q.sumDec6(col("l_quantity")) / count(lit(1))).as("ac"),
            (Q.sumDec6(col("l_extendedprice")) / count(lit(1))).as("ex"),
            (Q.sumDec6(col("l_discount")) / count(lit(1))).as("cv"))
        val cells = cells0
          .withColumn("__n", count(lit(1)).over(
            Window.partitionBy("ds", "g")))
          .where(col("__n") === 7).drop("__n")
        graft.pipelines.Goh.run(cells, nGenes = 50, draws = 19,
          parametric = true)
      },
      Some {
        val pcf = "(rxy - rxz*ryz) / nullif(sqrt((1.0 - rxz*rxz) * (1.0 - ryz*ryz)), 0)"
        val tail = "(u*u/4.0)*(3.0+u) / (2.0*(1.0 + xa*(1.0+u/2.0)))"
        s"""WITH cells0 AS (SELECT l_returnflag AS ds, l_partkey % 50 AS g, l_suppkey % 7 AS sample, CAST(sum(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS ac, CAST(sum(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS ex, CAST(sum(CAST(l_discount AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS cv FROM lineitem GROUP BY 1, 2, 3), cells AS (SELECT ds, g, sample, ac, ex, cv FROM (SELECT *, count(*) OVER (PARTITION BY ds, g) AS nn FROM cells0) WHERE nn = 7), gpc0 AS (SELECT ds, g, count(*) AS n, corr(ac, ex) AS rxy, corr(ac, cv) AS rxz, corr(ex, cv) AS ryz FROM cells GROUP BY 1, 2), gpc1 AS (SELECT ds, g, n, $pcf AS pc FROM gpc0), gpc AS (SELECT ds, g, ${OmicsQueries.rndSql("pc", 6)} AS pcor FROM gpc1 WHERE n > 3 AND pc IS NOT NULL), dss AS (SELECT DISTINCT ds FROM cells), dr AS (SELECT i, ds, CAST(concat('0x', substr(md5('goh:' || CAST(i AS VARCHAR) || ':' || ds || ':a'), 1, 15)) AS BIGINT) % 50 AS ga, CAST(concat('0x', substr(md5('goh:' || CAST(i AS VARCHAR) || ':' || ds || ':b'), 1, 15)) AS BIGINT) % 50 AS gb FROM generate_series(1, 19) t(i), dss), nc AS (SELECT dr.i, dr.ds, a.ac, a.cv, b.ex FROM dr JOIN cells a ON a.ds = dr.ds AND a.g = dr.ga JOIN cells b ON b.ds = dr.ds AND b.g = dr.gb AND b.sample = a.sample), np0 AS (SELECT i, ds, count(*) AS n, corr(ac, ex) AS rxy, corr(ac, cv) AS rxz, corr(ex, cv) AS ryz FROM nc GROUP BY 1, 2), np1 AS (SELECT i, ds, n, $pcf AS pc FROM np0), npx AS (SELECT i, ds, CASE WHEN n > 3 THEN ${OmicsQueries.rndSql("pc", 6)} END AS npcor FROM np1), npt AS (SELECT i, ds, npcor, CASE WHEN npcor > -1.0 AND npcor < 1.0 THEN npcor * sqrt(4.0 / (1.0 - npcor*npcor)) END AS tt FROM npx), npu AS (SELECT i, ds, npcor, tt, 4.0 / (4.0 + tt*tt) AS u, abs(tt) / sqrt(4.0 + tt*tt) AS xa FROM npt), npp AS (SELECT i, ds, CASE WHEN npcor IS NULL THEN CAST(1.0 AS DOUBLE) WHEN npcor >= 1.0 THEN 2e-16 WHEN npcor <= -1.0 THEN CAST(1.0 AS DOUBLE) WHEN tt >= 0 THEN $tail ELSE 1.0 - $tail END AS p FROM npu), nlm AS (SELECT i, ds, CAST(floor(ln(p) * 1000000 + 0.5) AS BIGINT) AS lnm FROM npp), nf AS (SELECT i, CAST(-2 * sum(lnm) AS BIGINT) AS nf_units FROM nlm GROUP BY 1), gpt AS (SELECT ds, g, pcor, CASE WHEN pcor > -1.0 AND pcor < 1.0 THEN pcor * sqrt(4.0 / (1.0 - pcor*pcor)) END AS tt FROM gpc), gpu AS (SELECT ds, g, pcor, tt, 4.0 / (4.0 + tt*tt) AS u, abs(tt) / sqrt(4.0 + tt*tt) AS xa FROM gpt), gpp AS (SELECT ds, g, CASE WHEN pcor >= 1.0 THEN 2e-16 WHEN pcor <= -1.0 THEN CAST(1.0 AS DOUBLE) WHEN tt >= 0 THEN $tail ELSE 1.0 - $tail END AS p FROM gpu), glm AS (SELECT ds, g, CAST(floor(ln(p) * 1000000 + 0.5) AS BIGINT) AS lnm, CASE WHEN p <= 0.05 THEN 1 ELSE 0 END AS sig FROM gpp), mm AS (SELECT count(*) AS m FROM dss), gf AS (SELECT g AS gene, CAST(-2 * sum(lnm) AS BIGINT) AS f_units, CAST(sum(sig) AS BIGINT) AS n_sig, count(*) AS kds FROM glm GROUP BY 1), gf2 AS (SELECT gene, f_units, n_sig FROM gf, mm WHERE kds = m), pp AS (SELECT gene, f_units, n_sig, count(nf.nf_units) AS kf FROM gf2 LEFT JOIN nf ON gf2.f_units <= nf.nf_units GROUP BY 1, 2, 3), pv AS (SELECT gene, f_units, n_sig, (kf + 1) / CAST(20 AS DOUBLE) AS perm_pv FROM pp), bh AS (SELECT gene, f_units, n_sig, perm_pv, count(*) OVER () AS n, row_number() OVER (ORDER BY perm_pv, gene) AS rk FROM pv) SELECT gene, f_units, n_sig, ${OmicsQueries.rndSql("perm_pv", 6)} AS perm_pv, ${OmicsQueries.rndSql("least(CAST(1.0 AS DOUBLE), min(perm_pv * n / rk) OVER (ORDER BY perm_pv DESC, gene DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))", 6)} AS p_adj FROM bh"""
      }),

    Entry("q_pipeline_wcmodules_modules",
      // wcModules.py:199-216,412 — the module-detection tail that closes
      // the wcModules pipeline: the mutual-rank edge list at the weight
      // cutoff (exactly the q_pipeline_wcmodules stage) clustered into
      // modules. Connected components over the cutoff graph is the
      // deterministic analogue of the reference's ClusterOne `Members`
      // extraction (a density-seeded heuristic with unstable seeds; CC
      // is its replayable superset — every ClusterOne module lives
      // inside one component). Module id = smallest member (numeric
      // dictionary order), plus the module size.
      (s, d) => {
        val edges = t(s, d, "lineitem").groupBy("l_partkey", "l_suppkey")
          .agg(Q.sumDec(col("l_quantity")).as("r"))
          .select((col("l_partkey") * 2).as("part"),
            (col("l_suppkey") * 2 + 1).as("supp"), col("r"))
        val kept = Stats.mutualRank(edges, "part", "supp", "r")
          .where(col("weight") >= 0.8)
          .select(col("a").as("id_a"), col("b").as("id_b"))
        val comp = graft.dedup.Dedup.duplicateClusters(kept)
        val sizes = comp.groupBy("cluster_id")
          .agg(count(lit(1)).cast("long").as("module_size"))
        def lbl(c: org.apache.spark.sql.Column) =
          concat(when(c % 2 === 0, lit("p")).otherwise(lit("s")),
            shiftright(c, 1).cast("string"))
        comp.join(broadcast(sizes), "cluster_id")
          .select(lbl(col("id")).as("node"),
            lbl(col("cluster_id")).as("module_id"), col("module_size"))
      },
      Some("""WITH RECURSIVE e0 AS (SELECT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS r FROM lineitem GROUP BY l_partkey, l_suppkey), edges0 AS (SELECT a, b, r FROM e0 UNION ALL SELECT b, a, r FROM e0), ranked AS (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY r DESC, b) AS rk FROM edges0), pairs AS (SELECT x.a AS id_a, x.b AS id_b FROM ranked x JOIN ranked y ON x.a = y.b AND x.b = y.a WHERE x.a < x.b AND exp((CAST(1.0 AS DOUBLE) - sqrt(x.rk * y.rk)) / 25.0) >= 0.8), edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), nodes AS (SELECT DISTINCT u AS id FROM edges), reach AS (SELECT id, id AS r FROM nodes UNION SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id), comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1), cs AS (SELECT cluster_id, count(*) AS n FROM comp GROUP BY 1) SELECT concat(CASE WHEN id % 2 = 0 THEN 'p' ELSE 's' END, CAST(id // 2 AS VARCHAR)) AS node, concat(CASE WHEN cluster_id % 2 = 0 THEN 'p' ELSE 's' END, CAST(cluster_id // 2 AS VARCHAR)) AS module_id, CAST(cs.n AS BIGINT) AS module_size FROM comp JOIN cs USING (cluster_id)""")),

    Entry("q_pipeline_abcd",
      // Robinson ABCD-DNA composed end to end (run_ABCD-DNA.R:26-81 +
      // Figures_3_5_normalize_ROC.R:88-139): bins → first-overlap CN →
      // per-CN-group M/A median factor → CN-aware offsets → 8-step
      // fixed NB-GLM → signed z-rank-equivalent score → ROC AUC. The
      // oracle chains the composed upstream into the shared IRLS unroll
      // (OmicsQueries.glmNbUnrollCtes, the q_glm_nb_fixed twin).
      (s, d) => graft.pipelines.Abcd.run(t(s, d, "lineitem"),
        t(s, d, "part")),
      Some {
        val pre = """seg AS (SELECT p_partkey % 30 AS k, 1 + CAST(sum(p_size) AS BIGINT) % 4 AS cn FROM part GROUP BY 1), bins AS (SELECT DISTINCT l_partkey % 100 AS rix FROM lineitem), ov AS (SELECT CAST(b.rix AS VARCHAR) AS region, b.rix, min_by(s.cn, s.k) AS cn FROM bins b JOIN seg s ON b.rix * 150 <= s.k * 500 + 499 AND s.k * 500 <= b.rix * 150 + 149 GROUP BY 1, 2), ma0 AS (SELECT o.region, o.cn, CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS x, CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS y FROM lineitem l JOIN ov o ON o.rix = l.l_partkey % 100 GROUP BY 1, 2), ma AS (SELECT region, cn, log2(x / y) AS m, (log2(x) + log2(y)) / 2.0 AS a FROM ma0 WHERE x > 0 AND y > 0), cuts AS (SELECT cn, floor(quantile_cont(a, 0.75) * 1000000 + 0.5) / 1000000 AS a75 FROM ma GROUP BY 1), fb AS (SELECT ma.cn, floor(quantile_cont(m, 0.5) * 1000000 + 0.5) / 1000000 AS f_log2 FROM ma JOIN cuts USING (cn) WHERE a > a75 GROUP BY 1), offs AS (SELECT o.region, o.rix, o.cn, ln(CAST(o.cn AS DOUBLE) / 2.0) + coalesce(f_log2, CAST(0.0 AS DOUBLE)) * ln(CAST(2.0 AS DOUBLE)) AS cn_off FROM ov o LEFT JOIN fb ON fb.cn = o.cn)"""
        val dSql = """SELECT offs.region, l.l_quantity AS y, CASE WHEN l.l_linestatus = 'O' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS x, ln(CAST(1.0 AS DOUBLE) + l.l_tax) + offs.cn_off AS off FROM lineitem l JOIN offs ON offs.rix = l.l_partkey % 100"""
        val (ctes, fin) = OmicsQueries.glmNbUnrollCtes(8, dSql)
        s"""WITH $pre, $ctes, glm AS ($fin), truth AS (SELECT CAST(l_partkey % 100 AS VARCHAR) AS region, CAST(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) % 2 AS INTEGER) AS label FROM lineitem GROUP BY 1), sc AS (SELECT g.region, o.cn, g.n, g.intercept, g.log_fc, g.lrt_stat, sign(g.log_fc) * g.lrt_stat AS score, t.label FROM glm g JOIN offs o USING (region) JOIN truth t USING (region)), rk AS (SELECT label, rank() OVER (ORDER BY score) + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS rk FROM sc), agg AS (SELECT (sum(CASE WHEN label = 1 THEN rk END) - sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) * (sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) + 1.0) / 2.0) / nullif(sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) * sum(CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END), 0) AS auc FROM rk) SELECT region, cn, n, intercept, log_fc, lrt_stat, ${OmicsQueries.rndSql("score", 4)} AS score, label, ${OmicsQueries.rndSql("auc", 6)} AS auc FROM sc, agg"""
      }),

    Entry("q_feber_roc",
      // Robinson Figure 6 (Feber ROC) composed end to end BY EXECUTION
      // (Figure_6_Feber_ROC.R:19-72 + functions.R:116-146): per-sample
      // norm factors on the modal-CN bins (95%-quantile A cut, median M)
      // → geometric-mean rescale → getOffset-style offsets → the
      // fixed-IRLS NB-GLM twice (naive and CN-adjusted with the ww NA
      // drop) → threshold truth from the external per-bin md → ROC AUC
      // per method in exact rank form. See graft.pipelines.Feber for
      // the determinism contract; the oracle unrolls BOTH IRLS fits
      // side by side via the prefixed glmNbUnrollCtes.
      (s, d) => graft.pipelines.Feber.run(t(s, d, "lineitem"),
        t(s, d, "part")),
      Some {
        def q6s(x: String) = s"floor($x * 1000000 + 0.5) / 1000000"
        val grpx = "CASE WHEN substr(c.sample, 1, 1) = 'A' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
        val pre = s"""part0 AS (SELECT CAST(l_partkey % 100 AS VARCHAR) AS region, concat(l_returnflag, l_linestatus) AS sample, sum(CAST(l_quantity AS DECIMAL(18,2))) AS ydec FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1, 2), regions AS (SELECT DISTINCT region FROM part0), samples AS (SELECT DISTINCT sample FROM part0), counts AS (SELECT r.region, s.sample, coalesce(CAST(p.ydec AS DOUBLE), CAST(0.0 AS DOUBLE)) AS y FROM regions r CROSS JOIN samples s LEFT JOIN part0 p ON p.region = r.region AND p.sample = s.sample), cs AS (SELECT sample, CAST(sum(ydec) AS DOUBLE) AS cs FROM part0 GROUP BY 1), segs0 AS (SELECT p_partkey % 25 AS k, CAST(sum(p_size) AS BIGINT) AS ssum FROM part GROUP BY 1), segs AS (SELECT k, 'A' AS gf, 1 + ssum % 4 AS cn FROM segs0 UNION ALL SELECT k, 'R' AS gf, 1 + (ssum + 1) % 4 AS cn FROM segs0), cnw AS (SELECT region, max(CASE WHEN gf = 'A' THEN cn END) AS cnA, max(CASE WHEN gf = 'R' THEN cn END) AS cnR FROM (SELECT r.region, s.gf, min_by(s.cn, s.k) AS cn FROM regions r JOIN segs s ON CAST(r.region AS INTEGER) * 150 <= s.k * 500 + 499 AND s.k * 500 <= CAST(r.region AS INTEGER) * 150 + 149 GROUP BY 1, 2) GROUP BY 1 HAVING max(CASE WHEN gf = 'A' THEN cn END) IS NOT NULL AND max(CASE WHEN gf = 'R' THEN cn END) IS NOT NULL), prom AS (SELECT cnA, cnR FROM (SELECT cnA, cnR, count(*) AS nb FROM cnw GROUP BY 1, 2) ORDER BY nb DESC, cnA, cnR LIMIT 1), pbins AS (SELECT region FROM cnw JOIN prom USING (cnA, cnR)), ref AS (SELECT min(sample) AS rs FROM samples), cref AS (SELECT c.region, c.y AS yr, k.cs AS csr FROM counts c JOIN ref ON c.sample = ref.rs JOIN cs k ON k.sample = c.sample), matbl AS (SELECT c.sample, c.region, (c.y = 0 OR cr.yr = 0) AS w, ${q6s("(log2(greatest(cr.yr, 0.5) / cr.csr) + log2(greatest(c.y, 0.5) / k.cs)) / 2.0")} AS a, CASE WHEN NOT (c.y = 0 OR cr.yr = 0) THEN ${q6s("log2((c.y / k.cs) / (cr.yr / cr.csr))")} END AS m FROM counts c JOIN cs k ON k.sample = c.sample JOIN ref ON c.sample <> ref.rs JOIN pbins pb ON pb.region = c.region JOIN cref cr ON cr.region = c.region), qcut AS (SELECT sample, ${q6s("quantile_cont(a, 0.95)")} AS qa FROM matbl WHERE NOT w GROUP BY 1), nfoth AS (SELECT m.sample, CAST(floor(quantile_cont(m.m, 0.5) * 1000000 + 0.5) AS BIGINT) AS nf_u FROM matbl m JOIN qcut q ON q.sample = m.sample WHERE NOT m.w AND m.a > q.qa GROUP BY 1), nft AS (SELECT s.sample, coalesce(n.nf_u, 0) AS nf_u FROM samples s LEFT JOIN nfoth n ON n.sample = s.sample), mnf AS (SELECT avg(nf_u) AS mnf_u FROM nft), offs AS (SELECT nft.sample, ln(cs.cs) + ln(${q6s("exp((mnf.mnf_u - nft.nf_u) / 1e6)")}) AS off0 FROM nft CROSS JOIN mnf JOIN cs ON cs.sample = nft.sample), lab AS (SELECT region, CASE WHEN abs(md) > 0.04 THEN 1 WHEN abs(md) < 0.02 THEN 0 END AS label FROM (SELECT region, CAST(CAST(concat('0x', substr(md5('feber:' || region), 1, 15)) AS BIGINT) % 2001 AS DOUBLE) / 1000.0 * 0.1 - 0.1 AS md FROM regions))"""
        val dSqlN = s"""SELECT c.region, c.y AS y, $grpx AS x, o.off0 AS off FROM counts c JOIN offs o ON o.sample = c.sample"""
        val dSqlA = s"""SELECT c.region, c.y AS y, $grpx AS x, o.off0 + ln(CAST(CASE WHEN substr(c.sample, 1, 1) = 'A' THEN w.cnA ELSE w.cnR END AS DOUBLE)) AS off FROM counts c JOIN offs o ON o.sample = c.sample JOIN cnw w ON w.region = c.region"""
        val (ctesN, finN) = OmicsQueries.glmNbUnrollCtes(8, dSqlN, "fn")
        val (ctesA, finA) = OmicsQueries.glmNbUnrollCtes(8, dSqlA, "fa")
        def roc(fit: String, sc: String, rk: String, agg: String) =
          s"""$sc AS (SELECT f.lrt_stat AS score, l.label FROM $fit f JOIN lab l USING (region) WHERE l.label IS NOT NULL), $rk AS (SELECT label, rank() OVER (ORDER BY score) + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS rk FROM $sc), $agg AS (SELECT count(*) AS n_used, CAST(sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) AS BIGINT) AS n_pos, CAST(sum(CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END) AS BIGINT) AS n_neg, ${OmicsQueries.rndSql("(sum(CASE WHEN label = 1 THEN rk END) - sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) * (sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) + 1.0) / 2.0) / nullif(sum(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) * sum(CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END), 0)", 6)} AS auc FROM $rk)"""
        s"""WITH $pre, $ctesN, fitn AS ($finN), $ctesA, fita AS ($finA), ${roc("fitn", "scn", "rkn", "an")}, ${roc("fita", "sca", "rka", "aa")} SELECT 'naive' AS method, n_used, n_pos, n_neg, auc FROM an UNION ALL SELECT 'cnadj' AS method, n_used, n_pos, n_neg, auc FROM aa"""
      })
  )

  /** Shared MethylMix fixture over lineitem: 200 genes × suppkey samples,
    * met = exact-decimal discount mean mapped into (0,1); even genes get
    * ge exactly anti-correlated with met (plus a small sample jitter so
    * residual variance is positive), odd genes met-independent ge. The
    * sk%4 split yields (cancer, normal) cohorts. All arithmetic is a
    * fixed IEEE expression tree over exact decimal sums, so the oracle
    * lands on bit-identical met/ge doubles. */
  private def methylMixCohorts(s: org.apache.spark.sql.SparkSession,
                               d: String): (org.apache.spark.sql.DataFrame,
                                            org.apache.spark.sql.DataFrame) = {
    val cells = t(s, d, "lineitem")
      .groupBy((col("l_partkey") % 200).as("g"), col("l_suppkey").as("sk"))
      .agg(((Q.sumDec(col("l_discount")) / count(lit(1)) + lit(0.005)) / lit(0.12)).as("met"))
      .withColumn("gene", concat(lit("g"), col("g").cast("string")))
      .withColumn("sample", col("sk").cast("string"))
      .withColumn("ge", when(col("g") % 2 === 0,
          lit(2.0) - col("met") * 3.0 + (col("sk") % 7).cast("double") * 0.001)
        .otherwise((col("sk") % 13).cast("double") * 0.05))
    val cancer = cells.where(col("sk") % 4 =!= 0)
      .select("gene", "sample", "met", "ge")
    val normal = cells.where(col("sk") % 4 === 0)
      .select("gene", "sample", "met")
    (cancer, normal)
  }

  /** DuckDB replay of MethylMixPipeline.runFixed over the methylMixCohorts
    * fixture: the fixture as moment-exact CTEs, olsPerGroup's moment
    * algebra mirrored term for term (the t < -10 / r2 > 0.1 / slope < 0
    * decisions ride double sums whose cross-engine ulp drift is far from
    * the planted fixture's decision boundaries), the shared EM unroll
    * (OmicsQueries.betaMixtureFixedCtes) over the functional cancer
    * cells, then normal means, dm and the hyper/hypo/neutral call. */
  private def methylMixFixedOracleSql(iters: Int): String = {
    def rnd = OmicsQueries.rndSql _
    val fixture =
      "mxg AS MATERIALIZED (SELECT l_partkey % 200 AS g, l_suppkey AS sk, (CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) + CAST(0.005 AS DOUBLE)) / CAST(0.12 AS DOUBLE) AS met FROM lineitem GROUP BY 1, 2), " +
      "mxc AS MATERIALIZED (SELECT concat('g', CAST(g AS VARCHAR)) AS gene, g, sk, met, CASE WHEN g % 2 = 0 THEN CAST(2.0 AS DOUBLE) - met * CAST(3.0 AS DOUBLE) + CAST(sk % 7 AS DOUBLE) * CAST(0.001 AS DOUBLE) ELSE CAST(sk % 13 AS DOUBLE) * CAST(0.05 AS DOUBLE) END AS ge FROM mxg), " +
      "cancer AS MATERIALIZED (SELECT gene, met, ge FROM mxc WHERE sk % 4 <> 0), " +
      "normals AS MATERIALIZED (SELECT gene, CAST(sum(CAST(met AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS normal_mean FROM mxc WHERE sk % 4 = 0 GROUP BY 1), " +
      "mxo AS MATERIALIZED (SELECT gene, CAST(count(*) AS DOUBLE) AS n, avg(met) AS xbar, avg(ge) AS ybar, sum(met * met) AS sxx0, sum(met * ge) AS sxy0, sum(ge * ge) AS syy0 FROM cancer GROUP BY 1), " +
      "mxo2 AS MATERIALIZED (SELECT gene, n, sxx0 - n * xbar * xbar AS sxx, sxy0 - n * xbar * ybar AS sxy, syy0 - n * ybar * ybar AS syy FROM mxo), " +
      "mxo3 AS MATERIALIZED (SELECT gene, sxy / sxx AS slope, sxy * sxy / (sxx * syy) AS r2, (sxy / sxx) / sqrt(((syy - (sxy / sxx) * sxy) / (n - 2)) / sxx) AS t FROM mxo2), " +
      "functional AS MATERIALIZED (SELECT gene FROM mxo3 WHERE slope < CAST(0.0 AS DOUBLE) AND t < CAST(-10.0 AS DOUBLE) AND r2 > CAST(0.1 AS DOUBLE))"
    val raw = "SELECT c.gene, least(CAST(1.0 AS DOUBLE) - 1e-6, greatest(1e-6, c.met)) AS v FROM cancer c JOIN functional f USING (gene)"
    s"""WITH $fixture, ${OmicsQueries.betaMixtureFixedCtes(iters, raw)}, ${OmicsQueries.betaMixtureFixedFinCte(iters)}, fin2 AS (SELECT f.gene, f.nd, f.ll, f.a, f.b, f.weight, f.mean, f.j, n.normal_mean, ${rnd("f.mean - n.normal_mean", 6)} AS dm FROM fin f JOIN normals n USING (gene)) SELECT gene, CAST(2 AS INTEGER) AS n_components, CAST(row_number() OVER (PARTITION BY gene ORDER BY mean, j) AS INTEGER) AS comp, ${rnd("a", 6)} AS a, ${rnd("b", 6)} AS b, ${rnd("weight", 6)} AS weight, ${rnd("mean", 6)} AS mean, ${rnd("ll", 3)} AS log_lik, ${rnd("CAST(-2.0 AS DOUBLE) * ll + CAST(5.0 AS DOUBLE) * ln(nd)", 3)} AS bic, ${rnd("normal_mean", 6)} AS normal_mean, dm, CASE WHEN dm > CAST(0.1 AS DOUBLE) THEN 'hyper' WHEN dm < CAST(-0.1 AS DOUBLE) THEN 'hypo' ELSE 'neutral' END AS state FROM fin2"""
  }
}
