package graft.queries

import org.apache.spark.sql.functions._
import graft.chem.MassOnlyBackend
import graft.multimodal.Multimodal
import graft.omics.PcaBatch
import graft.pipelines.Herald
import Q.{Entry, t, r6}

/** Herald iterative loop + multimodal column plumbing wired to the gate. */
object ExtQueries {

  /** DuckDB replay of PcaBatch.pc1BatchAnova over the q_pca_batch fixture:
    * centered 0-densified cell grid, p×p Gramian, `iters` power-method
    * steps from the uniform unit vector (each step = one matrix-vector CTE
    * + one normalization CTE, MATERIALIZED so the chain evaluates once per
    * level instead of re-inlining exponentially), PC1 scores, one-way
    * ANOVA. Mirrors the engine's arithmetic shape term for term. */
  private def pcaOracleSql(iters: Int): String = {
    val fixed = """cells AS MATERIALIZED (SELECT CAST(l_partkey % 20 AS VARCHAR) AS gene, CAST(l_suppkey AS VARCHAR) AS sample, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS value FROM lineitem GROUP BY 1, 2), grid AS MATERIALIZED (SELECT s.sample, g.gene FROM (SELECT DISTINCT sample FROM cells) s CROSS JOIN (SELECT DISTINCT gene FROM cells) g), dense AS MATERIALIZED (SELECT grid.sample, grid.gene, coalesce(c.value, 0.0) AS value FROM grid LEFT JOIN cells c ON grid.sample = c.sample AND grid.gene = c.gene), mu AS MATERIALIZED (SELECT gene, avg(value) AS mu FROM dense GROUP BY 1), x AS MATERIALIZED (SELECT d.sample, d.gene, d.value - mu.mu AS x FROM dense d JOIN mu USING (gene)), cov AS MATERIALIZED (SELECT a.gene AS gi, b.gene AS gj, sum(a.x * b.x) AS s FROM x a JOIN x b ON a.sample = b.sample GROUP BY 1, 2), v0 AS MATERIALIZED (SELECT gene, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM mu)) AS w FROM mu)"""
    val its = (1 to iters).map { i =>
      s"m$i AS MATERIALIZED (SELECT cov.gi AS gene, sum(cov.s * v${i - 1}.w) AS w FROM cov JOIN v${i - 1} ON cov.gj = v${i - 1}.gene GROUP BY 1), v$i AS MATERIALIZED (SELECT gene, w / (SELECT sqrt(sum(w * w)) FROM m$i) AS w FROM m$i)"
    }.mkString(", ")
    s"""WITH $fixed, $its, scores AS MATERIALIZED (SELECT x.sample, sum(x.x * v$iters.w) AS pc1 FROM x JOIN v$iters ON x.gene = v$iters.gene GROUP BY 1), sb AS (SELECT CAST(s_suppkey AS VARCHAR) AS sample, CAST(s_nationkey % 2 AS VARCHAR) AS batch FROM supplier), sc AS MATERIALIZED (SELECT s.pc1, sb.batch FROM scores s JOIN sb USING (sample)), bb AS (SELECT batch, CAST(count(*) AS DOUBLE) AS nb, avg(pc1) AS mb, sum(pc1 * pc1) AS sq FROM sc GROUP BY 1), gg AS (SELECT count(*) AS n, avg(pc1) AS gm FROM sc), pr AS (SELECT sum(nb * (mb - gg.gm) * (mb - gg.gm)) AS ssb, sum(sq - nb * mb * mb) AS ssw, count(*) AS k, first(gg.n) AS n FROM bb, gg) SELECT CAST(n AS BIGINT) AS n_samples, CAST(k AS BIGINT) AS n_batches, CAST(round(CAST(CAST((ssb / (k - 1)) / (ssw / (n - k)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS f_stat FROM pr"""
  }

  val entries: Seq[Entry] = Seq(

    Entry("q_pipeline_herald",
      // heraldPathways.py:381-491 reaction loop, 2 iterations, MassOnly
      // backend; the oracle unrolls both iterations in SQL (deterministic
      // md5 product keys make the loop fully replayable)
      (s, d) => {
        import s.implicits._
        val part = t(s, d, "part")
        val structures = part.select(
          concat(lit("S"), col("p_partkey").cast("string")).as("id"),
          col("p_retailprice").as("mass"),
          concat(lit("S"), col("p_partkey").cast("string")).as("root"))
        val rules = Seq(("r_plus10", 10.0), ("r_minus25", -25.5))
          .toDF("rule_id", "mass_delta")
        val observed = part.select(col("p_retailprice").as("obs_mass"))
        Herald.reactionLoopFused(structures, rules, observed, MassOnlyBackend,
            iterations = 2, roundD = 1)
          .groupBy("struct_id", "root", "iteration")
          .agg(r6(min(col("mass"))).as("mass"))
      },
      Some("""WITH seeds AS (SELECT concat('S', CAST(p_partkey AS VARCHAR)) AS struct_id, concat('S', CAST(p_partkey AS VARCHAR)) AS root, 0 AS iteration, p_retailprice AS mass FROM part), obs AS (SELECT DISTINCT round(p_retailprice, 1) AS k FROM part), rules AS (SELECT * FROM (VALUES ('r_plus10', 10.0), ('r_minus25', -25.5)) r(rule_id, delta)), g1 AS (SELECT concat('VM_', substr(md5(concat(root, ':', rule_id, ':', CAST(round(mass + CAST(delta AS DOUBLE), 4) AS VARCHAR))), 1, 7)) AS struct_id, root, 1 AS iteration, mass + CAST(delta AS DOUBLE) AS mass FROM seeds CROSS JOIN rules WHERE mass + CAST(delta AS DOUBLE) > 0 AND round(mass + CAST(delta AS DOUBLE), 1) IN (SELECT k FROM obs)), g1d AS (SELECT struct_id, root, iteration, min(mass) AS mass FROM g1 WHERE struct_id NOT IN (SELECT struct_id FROM seeds) GROUP BY 1, 2, 3), g2 AS (SELECT concat('VM_', substr(md5(concat(root, ':', rule_id, ':', CAST(round(mass + CAST(delta AS DOUBLE), 4) AS VARCHAR))), 1, 7)) AS struct_id, root, 2 AS iteration, mass + CAST(delta AS DOUBLE) AS mass FROM g1d CROSS JOIN rules WHERE mass + CAST(delta AS DOUBLE) > 0 AND round(mass + CAST(delta AS DOUBLE), 1) IN (SELECT k FROM obs)), g2d AS (SELECT struct_id, root, iteration, min(mass) AS mass FROM g2 WHERE struct_id NOT IN (SELECT struct_id FROM seeds UNION ALL SELECT struct_id FROM g1d) GROUP BY 1, 2, 3) SELECT struct_id, root, iteration, CAST(round(CAST(CAST(min(mass) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mass FROM (SELECT * FROM seeds UNION ALL SELECT * FROM g1d UNION ALL SELECT * FROM g2d) GROUP BY 1, 2, 3""")),

    Entry("q_pipeline_herald_table",
      // the same reaction loop on the FIXTURE-DRIVEN backend (SURVEY
      // §7.2.5's lookup-table RunReactant): products come from a
      // (substrate-mass-key, rule) table with a 2-product fan-out on
      // r_plus10 — generator multiplicity and cross-root product-id
      // convergence that mass arithmetic cannot express. The table is
      // derived from part masses (seeds + one expansion level), so both
      // iterations hit it; the oracle rebuilds the table and unrolls the
      // loop exactly like the q_pipeline_herald oracle does.
      (s, d) => {
        import s.implicits._
        val part = t(s, d, "part")
        val structures = part.select(
          concat(lit("S"), col("p_partkey").cast("string")).as("id"),
          col("p_retailprice").as("mass"),
          concat(lit("S"), col("p_partkey").cast("string")).as("root"))
        val rules = Seq("r_plus10", "r_minus25").toDF("rule_id")
        val keys0 = part.select(round(col("p_retailprice"), 1).as("k")).distinct()
        val keys = keys0
          .union(keys0.select(round(col("k") + 10.0, 1).as("k")))
          .union(keys0.select(round(col("k") + 18.0, 1).as("k")))
          .union(keys0.select(round(col("k") - 25.5, 1).as("k")))
          .distinct()
        def prows(rule: String, delta: Double) = keys.select(
          col("k").as("sub_mass_key"), lit(rule).as("rule_id"),
          concat(lit("P"), round(col("k") + delta, 4).cast("string")).as("product_id"),
          (col("k") + delta).as("product_mass"))
        val prodTab = prows("r_plus10", 10.0).union(prows("r_plus10", 18.0))
          .union(prows("r_minus25", -25.5))
        val observed = part.select(col("p_retailprice").as("obs_mass"))
        Herald.reactionLoop(structures, rules, observed,
            graft.chem.TableChemBackend(prodTab, keyD = 1),
            iterations = 2, roundD = 1)
          .groupBy("struct_id", "root", "iteration")
          .agg(r6(min(col("mass"))).as("mass"))
      },
      Some("""WITH seeds AS (SELECT concat('S', CAST(p_partkey AS VARCHAR)) AS struct_id, concat('S', CAST(p_partkey AS VARCHAR)) AS root, 0 AS iteration, p_retailprice AS mass FROM part), obs AS (SELECT DISTINCT round(p_retailprice, 1) AS k FROM part), k0 AS (SELECT DISTINCT round(p_retailprice, 1) AS k FROM part), ku AS (SELECT DISTINCT k FROM (SELECT k FROM k0 UNION ALL SELECT round(k + 10.0, 1) FROM k0 UNION ALL SELECT round(k + 18.0, 1) FROM k0 UNION ALL SELECT round(k - 25.5, 1) FROM k0)), ptab AS (SELECT k AS sub_mass_key, rule_id, concat('P', CAST(round(k + delta, 4) AS VARCHAR)) AS product_id, k + delta AS product_mass FROM ku CROSS JOIN (VALUES ('r_plus10', CAST(10.0 AS DOUBLE)), ('r_plus10', CAST(18.0 AS DOUBLE)), ('r_minus25', CAST(-25.5 AS DOUBLE))) r(rule_id, delta)), g1 AS (SELECT p.product_id AS struct_id, s.root, 1 AS iteration, p.product_mass AS mass FROM seeds s JOIN ptab p ON round(s.mass, 1) = p.sub_mass_key WHERE p.product_mass > 0 AND round(p.product_mass, 1) IN (SELECT k FROM obs)), g1d AS (SELECT struct_id, root, iteration, min(mass) AS mass FROM g1 WHERE struct_id NOT IN (SELECT struct_id FROM seeds) GROUP BY 1, 2, 3), g2 AS (SELECT p.product_id AS struct_id, f.root, 2 AS iteration, p.product_mass AS mass FROM g1d f JOIN ptab p ON round(f.mass, 1) = p.sub_mass_key WHERE p.product_mass > 0 AND round(p.product_mass, 1) IN (SELECT k FROM obs)), g2d AS (SELECT struct_id, root, iteration, min(mass) AS mass FROM g2 WHERE struct_id NOT IN (SELECT struct_id FROM seeds UNION ALL SELECT struct_id FROM g1d) GROUP BY 1, 2, 3) SELECT struct_id, root, iteration, CAST(round(CAST(CAST(min(mass) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mass FROM (SELECT * FROM seeds UNION ALL SELECT * FROM g1d UNION ALL SELECT * FROM g2d) GROUP BY 1, 2, 3""")),

    Entry("q_multimodal_features",
      // binary-column feature extraction behind the MediaDecoder boundary
      // (deterministic fake decoder; real codecs drop in behind the trait)
      (s, d) => {
        val media = Multimodal.asMedia(
          t(s, d, "documents").withColumn("content", col("text").cast("binary")),
          "doc_id", "content", "image")
        Multimodal.extractFeatures(media, new Multimodal.HashFeatureDecoder(8))
          .select(col("media_id"), col("n_bytes"),
            round(expr("aggregate(features, CAST(0.0 AS DOUBLE), (a, x) -> a + x)"), 4).as("feat_sum"))
      },
      // the fake decoder is a closed-form byte histogram (exact integer
      // sums per lane, one double division, float cast), so DuckDB can
      // replay it from the hex dump of the UTF-8 bytes lane by lane
      Some("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), bytes AS (SELECT doc_id, (i - 1) % 8 AS j, CAST(concat('0x', substr(hx, 2 * i - 1, 2)) AS BIGINT) AS byte FROM h, unnest(generate_series(1, n)) AS g(i) WHERE n > 0), feats AS (SELECT b.doc_id, b.j, CAST(CAST(sum(b.byte) / 255.0 / greatest(h.n // 8, 1) AS FLOAT) AS DOUBLE) AS f FROM bytes b JOIN h ON b.doc_id = h.doc_id GROUP BY b.doc_id, b.j, h.n), agg AS (SELECT doc_id, sum(f) AS fs FROM feats GROUP BY 1) SELECT h.doc_id AS media_id, CAST(h.n AS BIGINT) AS n_bytes, CASE WHEN h.n > 0 THEN CAST(round(CAST(CAST(a.fs AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) END AS feat_sum FROM h LEFT JOIN agg a ON h.doc_id = a.doc_id""")),

    Entry("q_multimodal_resize",
      // the resize stage of a multimodal ingest behind the MediaResizer
      // boundary: nearest-neighbor over the byte grid (deterministic
      // stand-in — real resamplers drop in behind the trait), 16-wide
      // source grid to 8x4, every output byte exact integer index math
      // the oracle replays from the hex dump; gate compares the hex of
      // the resized payload
      (s, d) => {
        val media = Multimodal.asMedia(
          t(s, d, "documents").withColumn("content", col("text").cast("binary")),
          "doc_id", "content", "image")
        Multimodal.resizeMedia(media, new Multimodal.ByteGridResizer(),
            targetW = 8, targetH = 4, sourceWidth = 16)
          .where(col("content").isNotNull)
          .select(col("media_id"), col("n_bytes_in"), col("width"),
            col("height"), hex(col("content")).as("resized_hex"))
      },
      Some("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents WHERE octet_length(encode(text)) > 0), g AS (SELECT doc_id, hx, n, (n + 15) // 16 AS h0 FROM h), px AS (SELECT doc_id, r1 * 8 + c1 AS pos, least(((r1 * h0) // 4) * 16 + ((c1 * 16) // 8), n - 1) AS src FROM g, unnest(generate_series(0, 3)) t(r1), unnest(generate_series(0, 7)) u(c1)), rb AS (SELECT p.doc_id, string_agg(substr(g.hx, 2 * p.src + 1, 2), '' ORDER BY p.pos) AS resized_hex FROM px p JOIN g ON g.doc_id = p.doc_id GROUP BY 1) SELECT g.doc_id AS media_id, CAST(g.n AS BIGINT) AS n_bytes_in, 8 AS width, 4 AS height, rb.resized_hex FROM g JOIN rb ON rb.doc_id = g.doc_id""")),

    Entry("q_multimodal_dedup",
      // binary-content exact dedup per modality — the pre-decode first
      // pass of a multimodal corpus build; md5 over the raw bytes is
      // identical in both engines
      (s, d) => Multimodal.dedupBinary(Multimodal.asMedia(
        t(s, d, "documents").withColumn("content", col("text").cast("binary")),
        "doc_id", "content", "image")),
      // DuckDB 1.0's md5 takes VARCHAR only; hashing the string hashes
      // the same UTF-8 bytes the engine's binary-cast content carries
      Some("""SELECT 'image' AS modality, md5(text) AS content_hash, min(doc_id) AS kept_id, count(*) AS dup_count FROM documents GROUP BY 2""")),

    Entry("q_multimodal_phash",
      // perceptual near-dup pairs over binary media: aHash signature
      // (bit j = feature j above the vector's own mean) from the
      // deterministic fake decoder, band-bucketed candidates per
      // modality, exact hamming <= 3 verify — re-encoded copies that
      // the raw-content hash can't see collide here. The pigeonhole
      // contract (maxHamming <= bands-1) makes the banded candidate
      // set EXACTLY the hamming ball, so the oracle joins directly
      (s, d) => {
        val media = t(s, d, "documents").select(
          col("doc_id").cast("long").as("media_id"),
          when(col("doc_id") % 2 === 0, "image").otherwise("audio")
            .as("modality"),
          col("text").cast("binary").as("content"))
        Multimodal.perceptualHashPairs(media,
          new Multimodal.HashFeatureDecoder(48), bands = 8, maxHamming = 2)
      },
      // 48-bit signature: a 16-bit space saturates on this fixture (the
      // hamming-3 ball swallowed 130k pairs); 48 bits / hamming <= 2
      // keeps the pair set near-dup sized. Lanes a short doc never
      // touches densify to 0.0 exactly like the decoder's pre-filled
      // accumulator (allj/coalesce).
      Some {
        val fold = (1 to 48).foldLeft("CAST(0.0 AS DOUBLE)")(
          (acc, i) => s"($acc + l[$i])")
        val bitsum = (1 to 48).map(j =>
          s"(CASE WHEN l[$j] > m THEN CAST(${1L << (j - 1)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ")
        s"""WITH h AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), bytes AS (SELECT doc_id, (i - 1) % 48 AS j, CAST(concat('0x', substr(hx, 2 * i - 1, 2)) AS BIGINT) AS byte FROM h, unnest(generate_series(1, n)) AS g(i) WHERE n > 0), feats AS (SELECT b.doc_id, b.j, CAST(CAST(sum(b.byte) / 255.0 / greatest(h.n // 48, 1) AS FLOAT) AS DOUBLE) AS f FROM bytes b JOIN h ON b.doc_id = h.doc_id GROUP BY b.doc_id, b.j, h.n), allj AS (SELECT d.doc_id, gj.j FROM (SELECT DISTINCT doc_id FROM feats) d, unnest(generate_series(0, 47)) AS gj(j)), feats2 AS (SELECT a.doc_id, a.j, coalesce(f.f, CAST(0.0 AS DOUBLE)) AS f FROM allj a LEFT JOIN feats f ON f.doc_id = a.doc_id AND f.j = a.j), fl AS (SELECT doc_id, list(f ORDER BY j) AS l FROM feats2 GROUP BY 1), sg AS (SELECT doc_id, ($fold) / 48 AS m, l FROM fl), sig AS (SELECT doc_id, ($bitsum) AS sig FROM sg) SELECT ha.modality, a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming FROM sig a JOIN sig b ON a.doc_id < b.doc_id JOIN h ha ON ha.doc_id = a.doc_id JOIN h hb ON hb.doc_id = b.doc_id WHERE ha.modality = hb.modality AND bit_count(xor(a.sig, b.sig)) <= 2"""
      }),

    Entry("q_multimodal_ann",
      // media similarity search end to end: decoder features (the
      // deterministic byte-histogram fake; a real codec drops in behind
      // MediaDecoder) -> exact cosine top-3 for three probe items,
      // probes broadcast, corpus streamed — the "find images like this
      // one" plumbing over the same ANN kernel the text tier uses. The
      // oracle replays the feature extraction lane by lane from the hex
      // dump, then the cosine folds in lane order: the feature values
      // are float-narrowed BEFORE the fold in both engines, so every
      // cosine matches bit for bit.
      (s, d) => {
        val media = Multimodal.asMedia(
          t(s, d, "documents").withColumn("content", col("text").cast("binary")),
          "doc_id", "content", "image")
        val feats = Multimodal.extractFeatures(media,
            new Multimodal.HashFeatureDecoder(8))
          .where(col("features").isNotNull)
          .select(col("media_id"), col("features"))
        graft.sim.Similarity.bruteForceTopK(feats,
          feats.where(col("media_id") < 3), "media_id", "features", k = 3)
      },
      Some("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), bytes AS (SELECT doc_id, (i - 1) % 8 AS j, CAST(concat('0x', substr(hx, 2 * i - 1, 2)) AS BIGINT) AS byte FROM h, unnest(generate_series(1, n)) AS g(i) WHERE n > 0), feats AS (SELECT b.doc_id, b.j, CAST(CAST(sum(b.byte) / 255.0 / greatest(h.n // 8, 1) AS FLOAT) AS DOUBLE) AS f FROM bytes b JOIN h ON b.doc_id = h.doc_id GROUP BY b.doc_id, b.j, h.n), vec AS (SELECT doc_id, list(f ORDER BY j) AS v FROM feats GROUP BY 1), s AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]), (a, e) -> a + e) / (sqrt(list_reduce(list_transform(q.v, x -> x * x), (a, e) -> a + e)) * sqrt(list_reduce(list_transform(c.v, x -> x * x), (a, e) -> a + e))) AS cos FROM (SELECT * FROM vec WHERE doc_id < 3) q JOIN vec c ON c.doc_id <> q.doc_id), r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s) SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM r WHERE rn <= 3""")),

    Entry("q_pca_batch",
      // PCA batch check: PC1 of the sample matrix, one-way ANOVA vs batch.
      // The kernel is now a closed-form function of the data (Gramian
      // aggregate + fixed-iteration power method + ANOVA aggregates), so
      // the oracle replays it exactly — the iteration unrolls into
      // MATERIALIZED CTEs (plain CTEs re-inline the chain exponentially).
      // p_value stays kernel-side (F-tail has no SQL form; Dist golden
      // tests cover it) — the gate compares n/k/f_stat.
      (s, d) => {
        val data = t(s, d, "lineitem")
          .groupBy((col("l_partkey") % 20).cast("string").as("gene"),
            col("l_suppkey").cast("string").as("sample"))
          .agg((Q.sumDec(col("l_extendedprice")) / count(lit(1))).as("value"))
        val batches = t(s, d, "supplier").select(
          col("s_suppkey").cast("string").as("sample"),
          (col("s_nationkey") % 2).cast("string").as("batch"))
        PcaBatch.pc1BatchAnova(data, batches)
          .select("n_samples", "n_batches", "f_stat")
      },
      Some(pcaOracleSql(iters = 300))),

    Entry("q_multimodal_frames",
      // frame sampling: binary chunked at 64 bytes, every 2nd kept — the
      // count is pure arithmetic, so it IS oracle-checkable
      (s, d) => {
        val docs = t(s, d, "documents").where(length(col("text")) > 0)
          .withColumn("content", col("text").cast("binary"))
        Multimodal.sampleFrames(
            Multimodal.asMedia(docs, "doc_id", "content", "video"),
            chunkBytes = 64, stride = 2)
          .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
      },
      Some("""SELECT doc_id AS media_id, (CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) + 1) // 2 AS n_frames FROM documents WHERE len(text) > 0""")),

    Entry("q_lake_compact",
      // lake maintenance under the gate: fan documents out into 32 small
      // files (the post-streaming-ingest shape), compact to ~32 MB
      // targets, read the compacted result back. The oracle checks the
      // round trip is LOSSLESS row-for-row (doc_id + content digest
      // against the source table) — stronger than the spec's file-count
      // assertion alone, which stays in IoMultimodalSpec.
      (s, d) => {
        val tmp = Q.tmpDir("lake_compact")
        t(s, d, "documents").select("doc_id", "text")
          .repartition(32).write.mode("overwrite").parquet(s"$tmp/small")
        graft.io.Io.compactParquet(s, s"$tmp/small", s"$tmp/compact",
          targetBytes = 32L << 20)
        s.read.parquet(s"$tmp/compact")
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
      },
      Some("""SELECT doc_id, md5(text) AS text_md5 FROM documents""")),

    Entry("q_lake_bucketed",
      // bucketed-table round trip under the gate: write both join sides
      // bucketed+sorted on the key (the pre-shuffled layout for hot
      // co-located joins — IoMultimodalSpec verifies the join plan is
      // exchange-free), then join the CATALOG tables and aggregate. The
      // oracle replays the same join/agg from the raw tables, so a
      // content defect in the bucketed write/read path hash-mismatches.
      (s, d) => {
        val c = t(s, d, "customer")
          .select("c_custkey", "c_nationkey", "c_acctbal")
        val n = t(s, d, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
        val tmp = Q.tmpDir("lake_bucket")
        graft.io.Io.writeBucketed(c, "graft_gate_bucket_cust",
          Seq("c_nationkey"), 4, path = Some(s"$tmp/cust"))
        graft.io.Io.writeBucketed(n, "graft_gate_bucket_nat",
          Seq("c_nationkey"), 4, path = Some(s"$tmp/nat"))
        s.table("graft_gate_bucket_cust")
          .join(s.table("graft_gate_bucket_nat"), "c_nationkey")
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_cust"),
            r6(Q.sumDec(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      },
      Some("""SELECT n_name, count(*) AS n_cust, CAST(round(CAST(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS avg_bal FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""")),

    Entry("q_graph_pagerank",
      // exact-integer PageRank (3 iterations, d=0.85) over the bipartite
      // user↔event-type interaction graph — graph centrality as a
      // data-selection weight. Rank mass lives in BIGINT units of 1e-12
      // with floor divisions at every step, so the fixpoint math is
      // order-independent and the oracle replays it with `//` — no
      // double-sum nondeterminism anywhere
      (s, d) => {
        val pe = Q.events(s, d)
          .select(concat(lit("u:"), col("user_id").cast("string")).as("u"),
            concat(lit("e:"), col("event_type")).as("e"))
          .distinct()
        val edges = pe.select(col("u").as("src"), col("e").as("dst"))
          .unionByName(pe.select(col("e").as("src"), col("u").as("dst")))
        graft.graph.Graph.pageRank(edges, "src", "dst", iters = 3)
      },
      Some {
        val u = graft.graph.Graph.RankUnit
        def it(i: Int): String =
          pagerankItSql(i)
        val its = (1 to 3).map(it).mkString(", ")
        s"""WITH $pagerankGraphCtes, """ +
        s"""cst AS (SELECT ($u // count(*)) AS r0, (($u // count(*)) * 15) // 100 AS tele FROM nd), """ +
        s"""odeg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1), """ +
        s"""r0 AS (SELECT node, (SELECT r0 FROM cst) AS r FROM nd), $its """ +
        s"""SELECT node, CAST(r AS BIGINT) AS rank_units, ${OmicsQueries.rndSql(s"CAST(r AS DOUBLE) / $u.0", 6)} AS rank FROM r3"""
      }),

    Entry("q_graph_ppr",
      // personalized PageRank: teleport mass only on two seed event-type
      // nodes — ranks measure proximity to the seeds (the graph-side
      // seed-expansion primitive; pair with q_bm25_topk's term-side
      // mining). Same exact-BIGINT fixpoint, replayed with `//`
      (s, d) => {
        val pe = Q.events(s, d)
          .select(concat(lit("u:"), col("user_id").cast("string")).as("u"),
            concat(lit("e:"), col("event_type")).as("e"))
          .distinct()
        val edges = pe.select(col("u").as("src"), col("e").as("dst"))
          .unionByName(pe.select(col("e").as("src"), col("u").as("dst")))
        graft.graph.Graph.personalizedPageRank(edges, "src", "dst",
          seeds = Seq("e:click", "e:purchase"), iters = 3)
      },
      Some {
        val u = graft.graph.Graph.RankUnit
        val r0 = u / 2
        val tele = r0 * 15L / 100L
        val seedCase = "node IN ('e:click', 'e:purchase')"
        def it(i: Int): String =
          s"""c$i AS (SELECT e.dst, sum(r.r // o.deg) AS inflow FROM ed e JOIN p${i - 1} r ON r.node = e.src JOIN odeg o ON o.src = e.src GROUP BY 1), """ +
          s"""p$i AS MATERIALIZED (SELECT nd.node, (CASE WHEN $seedCase THEN ${tele} ELSE 0 END) + CAST((85 * coalesce(c.inflow, 0)) // 100 AS BIGINT) AS r FROM nd LEFT JOIN c$i c ON c.dst = nd.node)"""
        val its = (1 to 3).map(it).mkString(", ")
        s"""WITH $pagerankGraphCtes, """ +
        s"""odeg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1), """ +
        s"""p0 AS (SELECT node, CASE WHEN $seedCase THEN ${r0} ELSE 0 END AS r FROM nd), $its """ +
        s"""SELECT node, CAST(r AS BIGINT) AS rank_units, ${OmicsQueries.rndSql(s"CAST(r AS DOUBLE) / $u.0", 6)} AS rank FROM p3"""
      })
  )

  /** Shared bipartite user↔event-type graph CTEs for the PageRank gates:
    * exposes `ed(src, dst)` and `nd(node)`. */
  private lazy val pagerankGraphCtes: String =
    """pe AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS u, 'e:' || event_type AS e FROM events), """ +
    """ed AS MATERIALIZED (SELECT u AS src, e AS dst FROM pe UNION ALL SELECT e, u FROM pe), """ +
    """nd AS MATERIALIZED (SELECT DISTINCT x AS node FROM (SELECT src AS x FROM ed UNION ALL SELECT dst FROM ed))"""

  /** One uniform-teleport PageRank iteration (q_graph_pagerank). */
  private def pagerankItSql(i: Int): String =
    s"""c$i AS (SELECT e.dst, sum(r.r // o.deg) AS inflow FROM ed e JOIN r${i - 1} r ON r.node = e.src JOIN odeg o ON o.src = e.src GROUP BY 1), """ +
    s"""r$i AS MATERIALIZED (SELECT nd.node, (SELECT tele FROM cst) + CAST((85 * coalesce(c.inflow, 0)) // 100 AS BIGINT) AS r FROM nd LEFT JOIN c$i c ON c.dst = nd.node)"""

}
