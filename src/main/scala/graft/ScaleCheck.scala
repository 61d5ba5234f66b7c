package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-evidence harness: synthesizes an N× dataset from a source
  * SF by unioning key-offset copies (same value distributions, N× rows
  * and N× distinct keys — the shape a scale-up actually has), then times
  * the flagship queries on both. Near-linear growth = the plan is
  * shuffle-bound with no quadratic or driver-side step; the numbers land
  * in SCALING.md.
  *
  * Usage: runMain graft.Tools scale <srcDir> <outDir> [--copies N]
  * [--tables a,b] [queryName...] — writes the N× tables once (skipped if
  * present), then prints per-query seconds at 1× and N× (all flagships,
  * or just the named ones — for steal-window rechecks of a single query).
  * `--copies` defaults to 10; `--tables` limits the synthesized set (for
  * a 100× run of a documents-only pipeline there is no reason to write a
  * 60M-row lineitem).
  */
object ScaleCheck {
  val Flagships = Seq("q1_agg", "q_pipeline_massquery", "q_ppm_join",
    "q_range_join", "q_minhash_lsh", "q_ngram_jaccard", "q_dedup_exact",
    "q_pipeline_curate", "q_pipeline_wcmodules", "q_mutual_rank",
    "q_bh_adjust", "q_stream_sliding", "q_topk_per_group",
    // round-6 additions: the fixed-iteration kernel twins (per-group
    // mapGroups fan-out) and the two new composition pipelines
    "q_beta_mixture_fixed", "q_glm_nb_fixed", "q_combat_fixed",
    "q_pipeline_methylmix", "q_pipeline_herald_table",
    // the sampling tier: the distributed prefix-sum kernel, the sequence
    // fan-out upsampler, and the curate->split->pack composition
    "q_pack_sequences", "q_mixture_upsample", "q_pipeline_traindata",
    // round-7 additions: the zero-shuffle repetition kernel, the
    // window-capped domain quota, the fused herald unroll, the as-of
    // window join, the KMV sketch, the token-stream vocab pass, and the
    // drift profile
    "q_text_repetition", "q_domain_quota", "q_pipeline_herald",
    "q_asof_join", "q_kmv_distinct", "q_vocab_topk", "q_dist_shift",
    "q_text_redact", "q_term_salience", "q_decontaminate",
    // round-8 additions: the substring-dedup tier (batch + incremental)
    // and the oracle-gated lake utilities
    "q_repeated_spans", "q_dup_token_profile",
    "q_repeated_spans_incremental", "q_lake_compact", "q_lake_bucketed",
    "q_kmeans", "q_cluster_balanced_sample",
    // round-8 corpus-surgery additions: span strip + keep-first segment
    // dedup (the two substring ACTIONS), cell-bounded SemDeDup, the
    // map-only chunker, and the constant-size count-min build
    "q_strip_spans", "q_line_dedup", "q_semantic_dedup",
    "q_chunk_windows", "q_cms_heavy", "q_lm_score",
    "q_novelty_score", "q_bpe_merges", "q_hash_embed", "q_text_ann",
    "q_quality_lr_fit", "q_quality_lr_score",
    // this session's additions: snapshot diff + KMV overlap, DSIR
    // weights + Gumbel resample, the Bloom decontamination scale path,
    // PQ/ADC search, and the streaming-history dedup batch twin
    "q_corpus_diff", "q_corpus_overlap", "q_dsir_weights",
    "q_dsir_sample", "q_decontaminate_bloom", "q_ann_pq",
    "q_stream_hist_dedup",
    "q_ann_ivfpq", "q_table_profile", "q_containment_pairs",
    "q_strip_markup", "q_decontaminate_fuzzy", "q_split_leakage",
    "q_profile_kmv", "q_profile_kmv_merge", "q_topk_per_group_agg",
    "q_profile_drift", "q_vocab_coverage", "q_embedding_drift",
    "q_kmeans_increment", "q_source_report", "q_dedup_tier_agreement",
    "q_pq_encode", "q_hard_negatives", "q_quantile_normalize",
    "q_dedup_clusters_incremental",
    "q_winsorized_mean", "q_multimodal_dedup",
    // round-9 additions: the Gopher rule report and JL projection
    // (zero-shuffle projections — expect ~linear), MMR (k bounded
    // argmax passes), and integer PageRank (edge-key exchanges only)
    "q_gopher_rules", "q_rand_project", "q_mmr_select",
    "q_graph_pagerank",
    // round-9 second batch: sketch-sized group distinct, term-pruned
    // BM25, domain-cardinality mixture math, moment-broadcast outliers,
    // and the top-N Zipf health fit
    "q_group_kmv", "q_bm25_topk", "q_mixture_temperature",
    "q_embedding_outliers", "q_zipf_fit", "q_pipeline_quality_mix",
    "q_group_kmv_merge", "q_graph_ppr", "q_kn_bigrams", "q_embed_int8",
    "q_ann_int8", "q_curriculum_budget",
    // round-9 third batch: the winnow-thinned fingerprint tier (a
    // denser-than-LSH, sparser-than-gram substring index — expect the
    // posting shuffle to dominate and stay sublinear)
    "q_winnow_fingerprints", "q_winnow_pairs",
    // round-9 fourth batch: per-source chrome strip (df exchange +
    // broadcast decisions), zero-shuffle span corruption, the
    // candidate-bounded edit verify, and the bins-rows calibration
    "q_boilerplate_strip", "q_span_corrupt", "q_edit_verify",
    "q_quality_calibration",
    // round-9 fifth batch: graded decontamination, the source-level
    // duplication matrix, quality-aware representative pick, and the
    // grid-CDF per-source percent rank
    "q_contamination_frac", "q_dup_source_matrix", "q_dedup_best_quality",
    "q_source_quality_norm",
    // round-9 sixth batch: stateful streaming admission (batch face),
    // literal-moment embedding whitening, and the vocab-cutoff report
    "q_stream_quota", "q_embed_whiten", "q_vocab_cutoff",
    // round-9 seventh batch: delta-only quality refresh and PMI mining
    "q_quality_incremental", "q_pmi_collocations",
    // round-9 eighth: perceptual-hash media near-dup (banded, per
    // modality — expect output-bound growth on the clone fixture)
    "q_multimodal_phash",
    // round-10 additions: the two composed reference pipelines (the
    // corpus stage is one aggregate each; everything after is
    // dimension-sized — expect near-flat) and the wcModules module tail
    // (pair-graph-sized CC). q_io_rda is deliberately NOT here: the
    // parse is driver-sized by format contract (.rda is an in-memory R
    // format), so a scale ratio would measure nothing
    "q_pipeline_goh", "q_pipeline_abcd", "q_pipeline_wcmodules_modules",
    // round-12: the parametric-p Goh twin (same one-corpus-aggregate
    // shape as q_pipeline_goh; the t-tail UDF runs on the genes×datasets
    // relation — expect near-flat) and the Feber Figure-6 composition
    // (one corpus aggregate to the bin×sample grid, two bins-sized IRLS
    // fits — expect near-flat)
    "q_goh_parametric", "q_feber_roc",
    // round-13: hybrid BM25+cosine retrieval — both retriever heads are
    // TakeOrdered top-N, fusion joins dim-sized heads (expect the BM25
    // tf shuffle + brute-cosine scan to carry the growth)
    "q_hybrid_retrieval",
    // round-14: the INDEXED-head twin — quantizer fit (iters bounded
    // corpus passes) + zero-shuffle cell assignment + candidate-only
    // rescore; expect corpus-linear from the fit/assignment passes
    "q_hybrid_retrieval_ivf",
    // round-14: the standalone partial-probe IVF gate (5 queries, 2/8
    // cells) — same fit/assignment growth terms
    "q_ann_ivf_exact",
    // round-13: verbatim-containment decontamination — corpus gram
    // stream vs broadcast eval grams; expect corpus-linear
    "q_decontaminate_verbatim",
    // round-12: the fixture-backed REST-scan closures — the KEGG
    // flat-format parse is per-document windows over KB-sized docs
    // (expect linear in documents), the Pfam map one shuffle
    "q_io_kegg", "q_io_uniprot_pfam",
    // round-12: the composed single-job ingest (decontaminate → gate →
    // exact dedup → quota) — every stage is a stateless kernel or a
    // partitioned window; expect corpus-linear
    "q_stream_ingest",
    // round-11: the nonparametric-prior ComBat twin (gene×gene
    // integration is G²-by-definition but over dim-sized relations with
    // the moments side broadcast — expect corpus-linear growth from the
    // standardization front half only)
    "q_combat_nonparam",
    // round-11: the Robinson figure metrics — one corpus aggregate each,
    // everything downstream CN-state-sized (expect near-flat)
    "q_rrpd", "q_linearity_cn",
    // round-9 ninth: dedup yield distribution, c-TF-IDF source cards,
    // and the water-filling quota solver (domain-sized windows)
    "q_dedup_yield", "q_source_terms", "q_budget_waterfill",
    // round-9 tenth: event-lake analytics (user-keyed aggregates only)
    "q_funnel", "q_retention_cohorts",
    // round-9 eleventh: the leak-free cluster split and the threshold
    // tradeoff curve
    "q_split_by_cluster", "q_quality_tradeoff", "q_tokenize_fertility",
    "q_waterfill_sample")

  def run(spark: SparkSession, src: String, out: String, copies: Int,
          tableFilter: Option[Set[String]], nameArgs: Seq[String]): Unit = {
    val names = if (nameArgs.nonEmpty) Flagships.filter(nameArgs.toSet)
                else Flagships
    // key columns to offset per copy so distinct-key counts scale too
    val allKeyCols: Map[String, Seq[String]] = Map(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"),
      "customer" -> Seq("c_custkey", "c_nationkey"),
      "nation" -> Seq(), "region" -> Seq(),
      "events" -> Seq("user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    val keyCols = tableFilter.fold(allKeyCols)(f =>
      allKeyCols.filter { case (t, _) => f(t) })

    if (!new java.io.File(s"$out/${keyCols.keys.head}.parquet").exists()) {
      keyCols.foreach { case (t, keys) =>
        val df = spark.read.parquet(s"$src/$t.parquet")
        val offsets = keys.map(k => k ->
          (df.agg(max(col(k))).head().getAs[Number](0).longValue() + 1L)).toMap
        val copiesDf = (0 until copies).map { i =>
          keys.foldLeft(df) { (acc, k) =>
            acc.withColumn(k, (col(k) + lit(i.toLong * offsets(k))).cast("long"))
          }
        }.reduce(_.union(_))
        copiesDf.write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"[scale] wrote $t x$copies")
      }
    }

    def bench(sfDir: String, label: String): Map[String, Double] = {
      // warm FS cache
      keyCols.keys.foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
      names.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Session.afterQuery(spark)
        println(f"[scale] $label $name%-24s ${sec}%7.2f s  rows=$n")
        name -> sec
      }.toMap
    }
    // JIT/codegen warmup: run every named query once untimed — the 1x
    // pass runs first and was absorbing whole-stage-codegen compilation,
    // which dominates sub-second queries and skews ratios below 1
    names.foreach { name =>
      try { SparkEntry.queries(name)(spark, src).count(); () }
      catch { case _: Throwable => () }
      finally Session.afterQuery(spark)
    }
    val t1 = bench(src, "  1x")
    val t10 = bench(out, f"$copies%3dx")
    println(s"[scale] ---- ratio table (${copies}x time / 1x time; " +
      s"~$copies = linear)")
    names.foreach { n =>
      println(f"[scale] ratio $n%-24s ${t10(n) / t1(n)}%5.1f")
    }
  }
}
