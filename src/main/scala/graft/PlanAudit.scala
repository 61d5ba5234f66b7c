package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints physical-plan red flags for every registered query
  * (BroadcastNestedLoopJoin / CartesianProduct outside intentional cross
  * joins, scans without pushed filters where one was expected, exchange
  * counts), and pins plan SHAPES against a committed baseline so a plan
  * regression (a new exchange, a lost codegen span, an accidental nested
  * loop) fails loudly at build time instead of surfacing as a bench
  * mystery.
  *
  * The core lives in [[audit]], which is BOTH the `Tools audit` body and
  * the standing `sbt test` gate (PlanAuditSpec runs it over the full registry
  * against the committed PLANS.json and asserts zero regressions and zero
  * collect violations) — so losing a pin, growing an exchange, or adding
  * an unwhitelisted driver collect fails the build, not just the
  * per-round ritual.
  *
  * Usage: runMain graft.Tools audit <sfDir> [--write PLANS.json]
  *                                          [--diff PLANS.json]
  *                                          [--expect EXPECT.json] [queryName...]
  *  - --write: dump {query -> {bnlj, cart, exchanges, codegen}} JSON
  *  - --diff:  compare against a previously-written baseline; exit 1 on
  *             any regression (exchanges up, codegen spans down, new
  *             nested loop, query lost). Improvements print a note to
  *             refresh the baseline.
  *  - --expect: an expected-diff overlay for the per-round sf0.1
  *             attestation (round-15, verdict-14 Missing-3): queries whose
  *             shape at the audited SF legitimately differs from the
  *             sf0.001 pin (data-sized driver-loop unrolls) are pinned
  *             HERE with their expected shape at that SF. With --expect,
  *             the diff is STRICT: a diff matching the overlay counts as
  *             expected; ANY other diff — regression or would-be
  *             improvement — fails, so a new residue can't hide behind a
  *             hand-written header. Overlay file: tools/PLANS_SF01_EXPECT
  *             .json, same format as PLANS.json. The standing sf0.001
  *             gate (PlanAuditSpec) needs no overlay: it fails on any
  *             diff from PLANS.json, improvements included.
  *
  * Each query's driver collects are drained ([[Jobs.drain]], which throws
  * rather than return early) and audited right after its [[Session.run]].
  * `codegen` counts the WholeStageCodegen spans left in the consumer's
  * plan, so a subtree that moves into a barrier's own job lowers it
  * together with `exchanges`: check such a diff with `Tools explain`
  * before re-pinning.
  */
object PlanAudit {

  final case class Shape(bnlj: Int, cart: Int, exch: Int, wsc: Int,
                         gwin: Int = 0)

  /** Outcome of one audit pass: plan shapes per query, the number of
    * unbounded/over-cap/unknown-size driver collects, (when a diff
    * baseline was given) the number of shape regressions/improvements,
    * and (when an --expect overlay was given) the number of diffs the
    * overlay pinned as expected. */
  final case class Result(shapes: Map[String, Shape], collectViolations: Int,
                          regressions: Int, improvements: Int,
                          expectedDiffs: Int = 0) {
    def clean: Boolean = collectViolations == 0 && regressions == 0
  }

  // intentional non-equi plans: true cross expansions (small broadcast
  // dims), single-row broadcast prunes/cutoffs, q_ann_brute's
  // broadcast-queries-vs-streamed-corpus BNLJ. ppmJoin's lazy range
  // prune adds one single-row broadcast BNLJ to every plan using it.
  private val intentionalCross = Set("q_cross_join", "q_pipeline_massquery",
    "q_pipeline_transitions", "q_pipeline_herald", "q_drivernet_greedy",
    "q_drivernet_permutation", "q_ann_brute", "q_ann_int8",
    "q_ppm_join",   // single-row structure min/max range prune
    "q_tmm_factor", // single-row percentile cutoff broadcast-joined back
    "q_pca_batch",  // single-row grand-mean broadcast-joined back
    "q_dist_shift", // single-row corpus-total broadcast-joined back
    "q_dedup_embedding", // exactness-baseline all-pairs by definition
    "q_text_ann", // bruteForceTopK: broadcast-queries-vs-corpus BNLJ
    "q_multimodal_ann", // same bruteForceTopK shape over decoder features
    "q_corpus_overlap", // two single-row sketch summaries cross-joined
    "q_dsir_weights", // single-row corpus totals broadcast-joined back
    "q_lm_score", // single-row vocabulary-size broadcast-joined back
    "q_pipeline_goh", // dimension-sized empirical-tail theta joins
                      // (draws×datasets broadcast vs gene relation)
    "q_goh_parametric", // combined-p theta join only (draws-sized
                        // null-Fisher relation broadcast vs genes)
    "q_pipeline_abcd", // single-row AUC frame cross-joined back
    "q_dsir_sample",  // same weights stage under the Gumbel top-k
    "q_ann_pq", // ADC scan: broadcast query/ADC tables vs streamed codes
    "q_embedding_drift", // four single-row mean/count frames cross-joined
    // (q_dedup_tier_agreement left this list round 13: the fused
    // union-aggregate replaced its three single-row cross-joins)
    "q_hard_negatives", // broadcast-queries-vs-corpus scoring + all-pairs exclude
    "q_hybrid_retrieval", // bruteForceTopK semantic head: broadcast-query
                          // -vs-corpus BNLJ (declared exactness baseline)
    "q_hybrid_retrieval_ivf", // query-vs-nCells centroid-table cross (IVF
                              // probe ranking: 1 query row × 8 cells)
    "q_ann_ivf_exact", // same probe cross: 5 query rows × 8 cells
    "q_linearity_cn") // single-row library totals + anchor-row rescale crosses

  // unpartitioned windows that are PROVABLY bounded: the relation under
  // the window is aggregate-sized (bins, group cardinalities, top-N
  // heads — never corpus-sized), so "move all data to a single
  // partition" is a dim-table sort, not a scale hazard. Audited
  // round 10 — every entry names its bounded relation.
  private val boundedGlobalWindow = Set(
    "q_bpe_merges",           // char-pair vocabulary (≤ |charset|²) rank
    "q_budget_waterfill",     // lang-cardinality quota relation
    "q_waterfill_sample",     // same quota relation feeding the sampler
    "q_mixture_temperature",  // domain-cardinality quota relation
    "q_pipeline_quality_mix", // waterfill stage: lang-cardinality rows
    "q_dedup_yield",          // cluster-SIZE distribution (distinct sizes)
    "q_quality_calibration",  // 10-bin reliability relation
    "q_quality_tradeoff",     // 10-bin pareto relation
    "q_vocab_cutoff",   // vocab-sized rank — inherently a global order;
                        // vocabulary is sublinear in corpus (Heaps law)
    "q_zipf_fit",       // top-200 rank AFTER the TakeOrdered head
    "q_pipeline_goh",   // BH rank over the gene relation (dim-sized)
    "q_goh_parametric", // same BH rank over the gene relation
    "q_pipeline_abcd",  // ROC rank over the bin relation (dim-sized)
    "q_feber_roc",      // two ROC ranks over the bin relation
    "q_hybrid_retrieval",  // rank windows over TakeOrdered top-N heads
                           // (lex head, fused head - never corpus-sized)
    "q_hybrid_retrieval_ivf") // same lex/fused head windows (the IVF
                              // probe window is partitioned by query)

  // ---- driver-collect audit (round 12): every collect-family action
  // fired while a query is CONSTRUCTED and PLANNED is recorded via a
  // QueryExecutionListener. A collect whose plan root is a Limit /
  // TakeOrdered is bounded by construction; anything else must be
  // whitelisted here with the bounded relation it materializes, or
  // the audit exits 1 — the automated form of the per-round manual
  // ".collect() audit" prose.
  private val collectWhitelist: Map[String, String] = Map(
    "q_kmeans" -> "k-sized centroid means per Lloyd round (lloydFit)",
    "q_kmeans_increment" -> "k-sized merged centroid state",
    "q_semantic_dedup" -> "k-sized cell centroids (lloydFit)",
    "q_cluster_balanced_sample" -> "k-sized cell centroids (lloydFit)",
    "q_embedding_outliers" -> "k-sized centroids + k-sized moment rows",
    "q_split_by_cluster" -> "k-sized cell centroids (lloydFit)",
    "q_split_leakage" -> "k-sized cell centroids + tradeoff heads",
    "q_ann_ivf" -> "k-sized coarse centroids (lloydFit)",
    "q_ann_ivfpq" -> "k-sized coarse + m·ksub sub-codebooks (pqFit)",
    "q_ann_pq" -> "m·ksub sub-codebook rows (pqFit)",
    "q_pq_encode" -> "m·ksub sub-codebook rows (pqFit)",
    "q_embed_whiten" -> "dim-sized moment vector (whitenFit)",
    "q_drivernet_greedy" -> "top-1 argmax row per greedy step",
    "q_drivernet_permutation" -> "top-1 argmax row per greedy step",
    "q_pipeline_herald_table" -> "per-level convergence count (bounded loop)",
    "q_quality_lr_fit" -> "bounded LR fit sample (maxRows-capped)",
    "q_quality_lr_score" -> "bounded LR fit sample (maxRows-capped)",
    "q_pipeline_quality_mix" -> "bounded LR fit sample + quota heads",
    "q_bpe_merges" -> "vocab-bounded merge table per round",
    "q_pack_sequences" -> "P-row partition prefix sums",
    "q_pipeline_traindata" -> "curate composition: LSH union-find budget guard",
    "q_dedup_clusters" -> "budget-guarded union-find edge pull",
    "q_dedup_clusters_incremental" -> "budget-guarded union-find edge pull",
    "q_pipeline_curate" -> "budget-guarded union-find edge pull",
    "q_dedup_best_quality" -> "budget-guarded union-find edge pull",
    "q_dedup_yield" -> "budget-guarded union-find edge pull",
    "q_pipeline_wcmodules_modules" -> "budget-guarded union-find edge pull",
    "q_mmr_select" -> "k bounded argmax pulls",
    "q_hard_negatives" -> "query-set-sized score pulls",
    "q_io_rda" -> "driver-sized .rda parse by format contract",
    "q_io_stride" -> "driver-sized .rda parse by format contract",
    "q_cluster_profile" -> "k-sized centroids + k-sized cluster counts",
    "q_quality_calibration" -> "single-row LR fit moments (QualityModel)",
    "q_quality_tradeoff" -> "single-row LR fit moments (QualityModel)",
    "q_pmi_collocations" -> "single-row unigram/bigram corpus totals",
    "q_join_positional" -> "P-row partition offsets (zip-index join)",
    "q_source_terms" -> "single-row tf/group corpus totals",
    "q_shuffle_order" -> "P-row partition counts (prefix shuffle)",
    "q_pipeline_massquery" -> "single-row structure-mass range prune",
    "q_ppm_join" -> "single-row structure-mass range prune",
    "q_range_join_auto" -> "single-row range-stat prune",
    "q_pipeline_corromics" -> "single-row max-group-size guard",
    "q_pca_batch" -> "gene-dim Gramian + power-iteration vectors",
    "q_mad_filter" -> "single-row max-group-size guard",
    "q_io_tsv_comments" -> "25-row nation fixture (header synthesis)",
    "q_decontaminate_bloom" -> "single-row eval distinct count (bloom sizing)",
    "q_bm25_topk" -> "single-row tf/doc-count corpus totals",
    "q_hybrid_retrieval" -> "single-row tf/doc-count corpus totals (bm25)",
    "q_hybrid_retrieval_ivf" -> "k-sized coarse centroids (lloydFit) + single-row bm25 corpus totals",
    "q_ann_ivf_exact" -> "k-sized coarse centroids (lloydFit)",
    "q_curriculum_budget" -> "domain-cardinality quota rows")

  private val collectFuncs = Set("collect", "collectAsList", "head", "take",
    "first", "tail", "toLocalIterator", "collectToPython")

  private final case class CollectSite(func: String, root: String, rows: Long,
                                       bounded: Boolean)

  /** Parse a {query -> shape} JSON file (PLANS.json / an --expect overlay). */
  private[graft] def readShapes(p: String): Map[String, Shape] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(p)))
    val fields = root.fields()
    val m = scala.collection.mutable.LinkedHashMap[String, Shape]()
    while (fields.hasNext) {
      val e = fields.next()
      val v = e.getValue
      m(e.getKey) = Shape(v.get("bnlj").asInt, v.get("cart").asInt,
        v.get("exchanges").asInt, v.get("codegen").asInt,
        Option(v.get("gwin")).map(_.asInt).getOrElse(0))
    }
    m.toMap
  }

  /** Run the audit over the registered queries (all of them when `names`
    * is empty) on the given session. The session's AQE is switched off
    * and shuffle partitions pinned to 4 for the duration (AQE's wrapper
    * hides codegen spans and double-prints the plan; pins were written
    * at 4 partitions) — pass a DEDICATED session (`newSession()` from a
    * test) so those conf writes don't leak into other work. Each query
    * is built and planned through [[Session.run]], as in Bench and
    * Verify. */
  def audit(spark: SparkSession, sfDir: String, names: Set[String],
            writePath: Option[String], diffPath: Option[String],
            expectPath: Option[String] = None,
            out: String => Unit = println): Result = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    val sites = new java.util.concurrent.ConcurrentLinkedQueue[CollectSite]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = if (collectFuncs(funcName)) {
        val root = qe.executedPlan
        val bounded = root.isInstanceOf[
            org.apache.spark.sql.execution.CollectLimitExec] ||
          root.isInstanceOf[
            org.apache.spark.sql.execution.TakeOrderedAndProjectExec]
        // onSuccess fires after execution, so metrics are final; when the
        // ROOT carries no numOutputRows (WholeStageCodegen and other
        // wrapper nodes don't), fall back to the TOPMOST node in the
        // subtree that does (preorder collect) — the rows leaving that
        // node are the rows the collect received — so the 100k cap stays
        // verifiable instead of vacuously passing on -1
        val rows = root.collect {
          case p if p.metrics.contains("numOutputRows") =>
            p.metrics("numOutputRows").value
        }.headOption.getOrElse(-1L)
        sites.add(CollectSite(funcName, root.nodeName, rows, bounded))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def drainSites(): Seq[CollectSite] = {
      Jobs.drain(spark)
      Iterator.continually(sites.poll()).takeWhile(_ != null).toSeq
    }
    var collectViolations = 0
    // even a whitelisted pull is capped at 100k rows: a "bounded" claim
    // that grows past that is a design break
    def auditSites(name: String): Unit = drainSites().foreach { cSite =>
      val wl = collectWhitelist.get(name)
      val status =
        if (cSite.bounded) "plan-bounded"
        else wl match {
          case Some(why) if cSite.rows >= 0 && cSite.rows <= 100000 =>
            s"whitelisted: $why"
          case Some(why) if cSite.rows < 0 =>
            collectViolations += 1
            s"!!COLLECT_ROWS_UNKNOWN (no numOutputRows on root or " +
              s"children; claimed: $why)"
          case Some(why) =>
            collectViolations += 1
            s"!!COLLECT_OVER_CAP (${cSite.rows} rows; claimed: $why)"
          case None =>
            collectViolations += 1
            "!!UNBOUNDED_COLLECT (not whitelisted)"
        }
      out(f"$name%-28s   collect[${cSite.func}] root=${cSite.root} " +
        f"rows=${cSite.rows} -> $status")
    }

    val shapes = scala.collection.mutable.LinkedHashMap[String, Shape]()
    try {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => names.isEmpty || names(n) }
        .foreach { case (name, fn) =>
          val planned = Session.run(spark, name)(fn(spark, sfDir))(
            _.queryExecution.executedPlan)
          // a query that fails mid-planning may have fired collects too
          auditSites(name)
          planned.fold(m => out(f"$name%-28s PLAN_ERROR ${m.take(80)}"), { pobj =>
            val plan = pobj.toString
            val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
            val cart = "CartesianProduct".r.findAllIn(plan).size
            val exch = "Exchange".r.findAllIn(plan).size
            // WholeStageCodegen spans print as "*(id) Operator" in toString
            val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
            // unpartitioned window: a WindowExec with an empty partition
            // spec is Spark's "moving all data to a single partition"
            // warning case — a latent scale-killer unless the input
            // relation is provably aggregate-sized (counted on the plan
            // TREE: toString omits empty bracket groups, so the string is
            // ambiguous between partition-only and order-only windows)
            val gwin = pobj.collect {
              case w: org.apache.spark.sql.execution.window.WindowExec
                  if w.partitionSpec.isEmpty => 1
              case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
                  if w.partitionSpec.isEmpty => 1
            }.sum
            val flags = new StringBuilder
            if ((bnlj > 0 || cart > 0) && !intentionalCross(name))
              flags.append(s" !!NESTED_LOOP(bnlj=$bnlj,cart=$cart)")
            if (gwin > 0 && !boundedGlobalWindow(name))
              flags.append(s" !!GLOBAL_WINDOW(n=$gwin)")
            // q_pipeline_herald fused-unrolls its levels into one plan, so
            // the intentional broadcast-rules cross appears once per level
            // reference (audited: all BNLJs are the small rules dim, level
            // exchanges dedup via ReusedExchange)
            val crossAllowance = name match {
              case "q_pipeline_herald" => 3
              // goh: draw-table cross, M-count cross, and three
              // empirical-tail theta joins — all dimension-sized
              case "q_pipeline_goh" => 5
              // three single-row mean/count frames cross-joined back
              // (pinned bnlj=3 in PLANS.json since round 10)
              case "q_embedding_drift" => 3
              // broadcast-queries-vs-corpus scoring + all-pairs exclude
              // + mined-set rejoin (pinned bnlj=3)
              case "q_hard_negatives" => 3
              case _ => 2
            }
            if (bnlj + cart > crossAllowance && intentionalCross(name))
              flags.append(s" !!EXTRA_CROSS(bnlj=$bnlj,cart=$cart)")
            shapes(name) = Shape(bnlj, cart, exch, wsc, gwin)
            out(f"$name%-28s exchanges=$exch%-3d codegen=$wsc%-3d$flags")
          })
        }
    } finally spark.listenerManager.unregister(listener)
    if (collectViolations > 0)
      out(s"[planaudit] $collectViolations unbounded/over-cap/unknown-size " +
        "driver collects — whitelist them with their bounded relation or " +
        "fix the plan")

    writePath.foreach { p =>
      // a name-filtered run MERGES into the existing baseline instead of
      // clobbering it with a one-entry file (twice-bitten lesson)
      val merged = scala.collection.mutable.LinkedHashMap[String, Shape]()
      val path = java.nio.file.Paths.get(p)
      if (names.nonEmpty && java.nio.file.Files.exists(path))
        merged ++= readShapes(p)
      shapes.foreach { case (n, s) => merged(n) = s }
      val json = merged.toSeq.sortBy(_._1).map { case (n, s) =>
        s""""$n": {"bnlj": ${s.bnlj}, "cart": ${s.cart}, "exchanges": ${s.exch}, "codegen": ${s.wsc}, "gwin": ${s.gwin}}"""
      }.mkString("{\n  ", ",\n  ", "\n}\n")
      java.nio.file.Files.writeString(path, json)
      out(s"[planaudit] wrote ${shapes.size} plan shapes to $p" +
        (if (names.nonEmpty) s" (merged into ${merged.size})" else ""))
    }

    var regressions = 0
    var improvements = 0
    var expectedDiffs = 0
    diffPath.foreach { p =>
      val baseline = readShapes(p)
      // strict-attest overlay: expected shapes AT THIS SF for queries whose
      // plan legitimately differs from the baseline pin (data-sized loop
      // unrolls). Presence of the overlay makes the diff strict: any diff
      // not matching its overlay entry is a regression, improvements
      // included — a NEW residue must fail loudly, not read as progress.
      val expect = expectPath.map(readShapes).getOrElse(Map.empty)
      def fmtDiff(b: Shape, s: Shape): String =
        s"exchanges ${b.exch}->${s.exch}, codegen ${b.wsc}->${s.wsc}, " +
          s"bnlj ${b.bnlj}->${s.bnlj}, cart ${b.cart}->${s.cart}, " +
          s"gwin ${b.gwin}->${s.gwin}"
      baseline.toSeq.sortBy(_._1).foreach { case (n, b) =>
        // a filtered run only diffs the queries it planned
        if (names.isEmpty || names(n)) shapes.get(n) match {
          case None =>
            out(s"[planaudit] REGRESSION $n: pinned in baseline but " +
              "failed to plan or no longer registered")
            regressions += 1
          case Some(s) if s == b =>
            if (expect.contains(n))
              out(s"[planaudit] note $n: overlay-pinned but matches the " +
                "baseline exactly at this SF - residue gone, drop it from " +
                "the overlay")
          case Some(s) if expect.get(n).contains(s) =>
            expectedDiffs += 1
            out(s"[planaudit] expected diff $n (overlay-pinned): " +
              fmtDiff(b, s))
          case Some(s) if expectPath.isDefined =>
            // strict mode: any non-overlay diff fails, direction ignored
            out(s"[planaudit] REGRESSION $n: unexpected diff under " +
              s"--expect: ${fmtDiff(b, s)}" +
              expect.get(n).fold("")(e => s" (overlay pins ${fmtDiff(b, e)})"))
            regressions += 1
          case Some(s) =>
            if (s.exch > b.exch || s.wsc < b.wsc ||
                s.bnlj > b.bnlj || s.cart > b.cart || s.gwin > b.gwin) {
              out(s"[planaudit] REGRESSION $n: " + fmtDiff(b, s))
              regressions += 1
            } else {
              out(s"[planaudit] improved $n: " +
                s"exchanges ${b.exch}->${s.exch}, codegen ${b.wsc}->${s.wsc} " +
                "(refresh the baseline with --write)")
              improvements += 1
            }
        }
      }
      // a full (unfiltered) diff asserts registry ≡ pins: a registered
      // query with no pinned shape is a silent-regression hole (a future
      // BNLJ/global-window there would land unflagged), so it FAILS the
      // audit rather than printing a note. Filtered runs keep the note.
      shapes.keys.filterNot(baseline.contains).foreach { n =>
        if (names.isEmpty) {
          out(s"[planaudit] REGRESSION $n: registered but not pinned " +
            "in baseline (--write to pin)")
          regressions += 1
        } else out(s"[planaudit] new query $n (no baseline; --write to pin)")
      }
      out(s"[planaudit] diff vs $p: $regressions regressions, " +
        s"$improvements improvements, $expectedDiffs expected diffs, " +
        s"${shapes.size} queries audited")
      expectPath.foreach { ep =>
        out(s"[planaudit] strict attest vs overlay $ep: " +
          s"${regressions + improvements} unexpected diffs, " +
          s"$expectedDiffs expected (overlay-pinned)")
      }
    }
    Result(shapes.toMap, collectViolations, regressions, improvements,
      expectedDiffs)
  }
}
