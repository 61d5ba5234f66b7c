package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.Text
import Q.{Entry, t, r6}
import graft.ops.Materialize.barrier

/** Training-data-pipeline operators over documents/embeddings: dedup tiers,
  * similarity search, text analysis (driver-brief extensions). */
object LlmQueries {

  /** Shared DuckDB CTE: whitespace tokens / distinct 3-shingles of
    * documents, mirroring Text.tokens + Dedup.shingles semantics; `shh`
    * is the hashed universe (distinct 60-bit md5 prefixes) that
    * Dedup.shingleHashes computes — identical md5 both sides, so even a
    * hash collision collapses the same two shingles in both engines. */
  private val shingleCte =
    """toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts FROM documents), sh0 AS (SELECT doc_id, CASE WHEN len(ts) >= 3 THEN array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS s FROM toks, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS g(i)), sh AS (SELECT DISTINCT doc_id, s FROM sh0), shh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh)"""

  /** DuckDB replay of Dedup.repeatedSpans: lowercase whitespace tokens,
    * positional word k-grams (list slice is 1-based INCLUSIVE in DuckDB,
    * so gram i covers toks[i .. i+k-1] = the kernel's 0-based [i-1,
    * i-1+k)), distinct-doc frequency per 60-bit md5 gram hash (the
    * SAME prefix the engine's tokenGramHashes kernel takes, so
    * collisions collapse identically), then the same gap-and-island
    * window merge. Exposed as a CTE block so the profile oracle can
    * aggregate over the same spans. */
  private def repeatedSpansCtes(k: Int, minDf: Int): String =
    s"""rtoks AS MATERIALIZED (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), """ +
    s"""tk AS MATERIALIZED (SELECT id, ts, len(ts) AS n FROM rtoks WHERE len(ts) >= $k), """ +
    s"""grams AS MATERIALIZED (SELECT id, i - 1 AS pos, CAST(concat('0x', substr(md5(array_to_string(ts[i:i+${k - 1}], ' ')), 1, 15)) AS BIGINT) AS gram FROM tk, unnest(generate_series(1, n - ${k - 1})) AS g(i)), """ +
    s"""dupg AS MATERIALIZED (SELECT gram FROM (SELECT gram, count(DISTINCT id) AS df FROM grams GROUP BY 1) WHERE df >= $minDf), """ +
    s"""hits AS MATERIALIZED (SELECT g.id, g.pos FROM grams g JOIN dupg USING (gram)), """ +
    s"""isl AS (SELECT id, pos, CASE WHEN max(pos + $k) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL OR pos > max(pos + $k) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS ni FROM hits), """ +
    s"""isl2 AS (SELECT id, pos, sum(ni) OVER (PARTITION BY id ORDER BY pos) AS island FROM isl)"""

  /** DuckDB replay of Dedup.winnowHashesKernel: the same positional
    * gram-hash stream as [[repeatedSpansCtes]], gathered into one
    * position-ordered list per doc, then each width-w window's MINIMUM
    * selected via `list_aggregate(slice, 'min')` — pure value selection,
    * so no tie-break semantics to mirror. Docs with fewer grams than w
    * degrade to a single window over everything (`greatest(..., 1)`
    * windows, `least(w, len)` width), exactly the kernel's short-doc
    * path. `fps` is the DISTINCT (id, fp) relation both faces build on. */
  private def winnowCtes(k: Int, w: Int): String =
    s"""rtoks AS MATERIALIZED (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), """ +
    s"""tk AS MATERIALIZED (SELECT id, ts, len(ts) AS n FROM rtoks WHERE len(ts) >= $k), """ +
    s"""grams AS MATERIALIZED (SELECT id, i, CAST(concat('0x', substr(md5(array_to_string(ts[i:i+${k - 1}], ' ')), 1, 15)) AS BIGINT) AS gram FROM tk, unnest(generate_series(1, n - ${k - 1})) AS g(i)), """ +
    s"""gl AS MATERIALIZED (SELECT id, list(gram ORDER BY i) AS g FROM grams GROUP BY 1), """ +
    s"""fps AS MATERIALIZED (SELECT DISTINCT id, list_aggregate(g[wi : wi + least($w, len(g)) - 1], 'min') AS fp FROM gl, unnest(generate_series(1, greatest(len(g) - $w + 1, 1))) AS wv(wi))"""

  private def repeatedSpansOracleSql(k: Int, minDf: Int): String =
    s"""WITH ${repeatedSpansCtes(k, minDf)} SELECT id, CAST(min(pos) AS INTEGER) AS span_start, CAST(max(pos) + $k AS INTEGER) AS span_end, CAST(max(pos) + $k - min(pos) AS INTEGER) AS span_tokens FROM isl2 GROUP BY id, island"""

  /** DuckDB replay of Clustering.kmeansAssign: 1e-6-grid quantized
    * vectors, md5-rank init, then `iters` unrolled assignment/update
    * rounds. Distances are LEFT FOLDS over the dimension axis
    * (list_reduce guarantees fold order — DuckDB's sum sequence then
    * matches Spark's `aggregate` exactly, so even near-tie argmins agree
    * bit for bit), and centroid updates are exact DECIMAL sums / exact
    * counts — the ComBat-kernel recipe. Empty clusters keep their
    * previous centroid via the LEFT JOIN coalesce. */
  private def kmeansCtes(k: Int, iters: Int, seed: Long,
                         pfx: String = "",
                         vecExpr: String = "embedding",
                         where: String = ""): String = {
    val srcW = if (where.isEmpty) "" else s" WHERE $where"
    def dist(v: String, cv: String) =
      s"list_reduce(list_transform(list_zip($v, $cv), p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, e) -> acc + e)"
    val base =
      s"""${pfx}vq AS MATERIALIZED (SELECT vec_id AS id, list_transform($vecExpr, x -> floor(CAST(x AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6) AS v FROM embeddings$srcW), """ +
      s"""${pfx}c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY h, id) - 1 AS INTEGER) AS cluster, v AS cv FROM (SELECT id, v, md5(concat('km$seed:', CAST(id AS VARCHAR))) AS h FROM ${pfx}vq ORDER BY h, id LIMIT $k))"""
    val its = (0 until iters).map { i =>
      s"""${pfx}a$i AS MATERIALIZED (SELECT id, v, cluster FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn FROM (SELECT x.id, x.v, c.cluster, ${dist("x.v", "c.cv")} AS d FROM ${pfx}vq x, ${pfx}c$i c)) WHERE rn = 1), """ +
      s"""${pfx}u$i AS MATERIALIZED (SELECT cluster, i AS dim, CAST(sum(CAST(v[i] AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS m FROM ${pfx}a$i, unnest(generate_series(1, len(v))) AS g(i) GROUP BY 1, 2), """ +
      s"""${pfx}c${i + 1} AS MATERIALIZED (SELECT p.cluster, CASE WHEN n.cv IS NULL THEN p.cv ELSE n.cv END AS cv FROM ${pfx}c$i p LEFT JOIN (SELECT cluster, list(m ORDER BY dim) AS cv FROM ${pfx}u$i GROUP BY 1) n USING (cluster))"""
    }.mkString(", ")
    val fin =
      s"""${pfx}fin AS (SELECT id, cluster, d FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn FROM (SELECT x.id, x.v, c.cluster, ${dist("x.v", "c.cv")} AS d FROM ${pfx}vq x, ${pfx}c$iters c)) WHERE rn = 1)"""
    s"$base, $its, $fin"
  }

  /** DuckDB replay of Pq.pqTopK: per-subspace exact-replay k-means
    * codebooks (the [[kmeansCtes]] machinery over vector slices, seed+s
    * per subspace), corpus encoding = each subspace's `fin` assignment,
    * then ADC scoring — per-subspace left-fold dots against the joined
    * codebook rows, summed in subspace order, normalized by ‖q‖·‖x̂‖ —
    * exactly the engine's float operation sequence. */
  private def pqOracleSql(topK: Int, m: Int, ksub: Int, iters: Int,
                          seed: Long, dim: Int, nQueries: Int): String = {
    val d = dim / m
    val blocks = (0 until m).map { s =>
      kmeansCtes(ksub, iters, seed + s, s"s$s",
        s"embedding[${s * d + 1}:${(s + 1) * d}]")
    }.mkString(", ")
    val encJoins = (1 until m).map(s => s"JOIN s${s}fin f$s USING (id)")
      .mkString(" ")
    val encCols = (0 until m).map(s => s"f$s.cluster AS c$s").mkString(", ")
    val cbJoins = (0 until m)
      .map(s => s"JOIN s${s}c$iters cb$s ON cb$s.cluster = e.c$s")
      .mkString(" ")
    def fold(listExpr: String) =
      s"list_reduce($listExpr, (acc, e) -> acc + e)"
    val adot = (0 until m).map { s =>
      fold(s"list_transform(list_zip(q.qv[${s * d + 1}:${(s + 1) * d}], cb$s.cv), p -> p[1] * p[2])")
    }.mkString(" + ")
    val xn2 = (0 until m)
      .map(s => fold(s"list_transform(cb$s.cv, x -> x * x)"))
      .mkString(" + ")
    s"""WITH $blocks, """ +
    s"""pqq AS (SELECT vec_id AS query_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6) AS qv FROM embeddings WHERE vec_id < $nQueries), """ +
    s"""enc AS (SELECT f0.id, $encCols FROM s0fin f0 $encJoins), """ +
    s"""sc AS (SELECT q.query_id, e.id AS neighbor_id, ($adot) / (sqrt(${fold("list_transform(q.qv, x -> x * x)")}) * sqrt($xn2)) AS ac FROM pqq q, enc e $cbJoins WHERE e.id <> q.query_id), """ +
    s"""pr AS (SELECT query_id, neighbor_id, ac, row_number() OVER (PARTITION BY query_id ORDER BY ac DESC, neighbor_id) AS rn FROM sc) """ +
    s"""SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, ${OmicsQueries.rndSql("ac", 6)} AS adc_cos FROM pr WHERE rn <= $topK"""
  }

  /** Exact-Jaccard verification of a `cand(ia, ib)` candidate-pair CTE —
    * the tail every sketch oracle shares (mirrors
    * Dedup.verifyPairsExactJaccard over the hashed shingle universe).
    * Split into the shared CTE block and the closing SELECT so composite
    * oracles (q_dedup_clusters) can wrap the SELECT as one more CTE. */
  private val verifyCtes =
    """sz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1), it AS (SELECT c.ia, c.ib, count(*) AS inter FROM cand c JOIN shh a ON a.doc_id = c.ia JOIN shh b ON b.doc_id = c.ib AND b.h = a.h GROUP BY 1, 2)"""
  private def verifySelect(threshold: Double) =
    s"""SELECT ia AS id_a, ib AS id_b, CAST(round(CAST(CAST(CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS jaccard FROM it JOIN sz x ON ia = x.doc_id JOIN sz y ON ib = y.doc_id WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= $threshold"""
  private def verifyTailSql(threshold: Double) =
    s"$verifyCtes ${verifySelect(threshold)}"

  /** Full MinHash-LSH pipeline replayed in DuckDB: the md5-derived double-
    * hashing family (Dedup.minhashSignatures), 16 bands × 8 rows banding on
    * the exact band-signature string, then exact-Jaccard verify. The oracle
    * mirrors the banding itself, so parity is deterministic for ANY data —
    * not a recall bet on the S-curve. */
  private val minhashCandCtes =
    """hx AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h1, CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) % 2147483646 + 1 AS h2 FROM sh), mh AS (SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS v FROM hx, unnest(generate_series(0, 127)) AS gi(i) GROUP BY 1, 2), bd AS (SELECT doc_id, i // 8 AS band, array_to_string(list(v ORDER BY i), '_') AS bsig FROM mh GROUP BY 1, 2), cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM bd a JOIN bd b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)"""
  private def minhashLshSql(threshold: Double) =
    s"""WITH $shingleCte, $minhashCandCtes, ${verifyTailSql(threshold)}"""

  /** DuckDB replay of Dedup.clusterDocuments over minhashLshPairs: the
    * full LSH pair pipeline as CTEs, then connected components as a
    * recursive transitive closure — min reachable id per pair-graph node
    * — left-joined back to the corpus (singletons = own cluster of 1).
    * The engine's min-label-propagation fixpoint equals the component
    * minimum, which is exactly what `min(r)` over the closure computes. */
  /** Connected components over the verified `pairs` CTE (min reachable id
    * per node) + per-cluster sizes — shared by the clusters and curate
    * oracles. */
  private val componentCtes =
    """edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), nodes AS (SELECT DISTINCT u AS id FROM edges), reach AS (SELECT id, id AS r FROM nodes UNION SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id), comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1), cs AS (SELECT cluster_id, count(*) AS n FROM comp GROUP BY 1)"""

  private def dedupClustersSql(threshold: Double) =
    s"""WITH RECURSIVE $shingleCte, $minhashCandCtes, $verifyCtes, pairs AS (${verifySelect(threshold)}), $componentCtes SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, CAST(coalesce(cs.n, 1) AS BIGINT) AS cluster_size, d.doc_id = coalesce(c.cluster_id, d.doc_id) AS kept FROM documents d LEFT JOIN comp c ON d.doc_id = c.id LEFT JOIN cs ON c.cluster_id = cs.cluster_id"""

  /** DuckDB replay of pipelines.Curate.curate: the full LSH pair pipeline
    * + connected components (as in dedupClustersSql) restricted to kept
    * representatives, joined with the q_text_quality quality formula and
    * the q_lang_id argmax (CTE names prefixed q/l to avoid colliding with
    * the shingle CTEs), gated on quality >= cut and pred_lang. */
  private def curateSql(threshold: Double, minQuality: Double,
                        lang: String): String =
    s"""WITH RECURSIVE ${curateCtes(threshold)} ${curateSelect(minQuality, lang)}"""

  /** The curate pipeline's CTE chain (dedup tier + quality + lang-id) and
    * closing SELECT, split so composite oracles (q_pipeline_traindata) can
    * wrap the SELECT as one more CTE. */
  /** The q_text_quality formula as a reusable CTE block producing
    * `qq(doc_id, n_tokens, quality)` — the same text curateCtes inlines
    * (kept inline there so the long-verified curate oracles stay
    * byte-identical); consumed by the quality-aware dedup and
    * rank-normalization oracles. Declared lazy: strict vals placed
    * after `entries` interpolate as null (the q_gopher_rules lesson). */
  private lazy val qualityCtes: String = qualityCtesFrom("documents")

  /** Same block over any (doc_id, text) relation — for oracles scoring
    * a MODIFIED snapshot (q_quality_incremental). */
  private def qualityCtesFrom(table: String): String =
    s"""qt AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks FROM $table), qf AS (SELECT doc_id, CAST(len(text) AS INTEGER) AS n_chars, CAST(len(toks) AS INTEGER) AS n_tokens, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INTEGER) AS n_punct, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'], lower(x)))) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio, CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS uniq_token_ratio FROM qt), qg AS (SELECT doc_id, n_tokens, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio, stopword_ratio, uniq_token_ratio FROM qf), qq AS (SELECT doc_id, n_tokens, CAST(round(CAST(CAST(least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE)) * 0.4 + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * 5.0)) * 0.2 + least(CAST(1.0 AS DOUBLE), stopword_ratio * 5.0) * 0.2 + uniq_token_ratio * 0.2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS quality FROM qg)"""

  /** The quality-score (qt..qq) and language-ID (lt..lp) CTE
    * fragment over `documents` — shared by the curate chain and the
    * composed-ingest oracle (q_stream_ingest). */
  private[queries] val qualityLangCtes: String =
    s"""qt AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks FROM documents), qf AS (SELECT doc_id, CAST(len(text) AS INTEGER) AS n_chars, CAST(len(toks) AS INTEGER) AS n_tokens, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INTEGER) AS n_punct, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'], lower(x)))) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio, CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS uniq_token_ratio FROM qt), qg AS (SELECT doc_id, n_tokens, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio, stopword_ratio, uniq_token_ratio FROM qf), qq AS (SELECT doc_id, n_tokens, CAST(round(CAST(CAST(least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE)) * 0.4 + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * 5.0)) * 0.2 + least(CAST(1.0 AS DOUBLE), stopword_ratio * 5.0) * 0.2 + uniq_token_ratio * 0.2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS quality FROM qg), lt AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS dt FROM documents), lh AS (SELECT doc_id, CAST(len(list_intersect(dt, ['der','die','das','und','ist','nicht','ein','mit','zu','ich'])) AS INTEGER) AS hde, CAST(len(list_intersect(dt, ['the','and','of','to','is','in','that','it','for','was'])) AS INTEGER) AS hen, CAST(len(list_intersect(dt, ['el','la','los','las','es','un','una','por','para','como'])) AS INTEGER) AS hes, CAST(len(list_intersect(dt, ['le','la','les','et','est','un','une','que','pour','dans'])) AS INTEGER) AS hfr FROM lt), lp AS (SELECT doc_id, CASE WHEN hde >= hen AND hde >= hes AND hde >= hfr THEN 'de' WHEN hen >= hes AND hen >= hfr THEN 'en' WHEN hes >= hfr THEN 'es' ELSE 'fr' END AS pred_lang FROM lh)"""

  private[queries] def curateCtes(threshold: Double): String =
    s"""$shingleCte, $minhashCandCtes, $verifyCtes, pairs AS (${verifySelect(threshold)}), $componentCtes, clustered AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, CAST(coalesce(cs.n, 1) AS BIGINT) AS cluster_size FROM documents d LEFT JOIN comp c ON d.doc_id = c.id LEFT JOIN cs ON c.cluster_id = cs.cluster_id WHERE d.doc_id = coalesce(c.cluster_id, d.doc_id)), $qualityLangCtes"""

  private[queries] def curateSelect(minQuality: Double, lang: String): String =
    s"""SELECT cl.doc_id, cl.cluster_id, cl.cluster_size, qq.n_tokens, qq.quality, lp.pred_lang FROM clustered cl JOIN qq ON cl.doc_id = qq.doc_id JOIN lp ON cl.doc_id = lp.doc_id WHERE qq.quality >= $minQuality AND lp.pred_lang = '$lang'"""

  /** Full SimHash pipeline replayed in DuckDB: 60-bit md5-derived sketch
    * over lowercased 3-shingles, hamming cut <= 14 (= the deterministic
    * pigeonhole regime of Dedup.simhashPairs with 15 bands), exact-Jaccard
    * verify over raw-case shingles. */
  private def simhashSql(threshold: Double, maxHamming: Int) =
    s"""WITH $shingleCte, toksl AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), shl0 AS (SELECT doc_id, CASE WHEN len(ts) >= 3 THEN array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS s FROM toksl, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS g(i)), shl AS (SELECT DISTINCT doc_id, s FROM shl0), hs AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM shl), bits AS (SELECT doc_id, j, CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END AS bv FROM hs, unnest(generate_series(0, 59)) AS gj(j) GROUP BY 1, 2), sig AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS sh60 FROM bits GROUP BY 1), cand AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND bit_count(xor(a.sh60, b.sh60)) <= $maxHamming), ${verifyTailSql(threshold)}"""

  /** DuckDB replay of Similarity.lshTopK: the seed-7 SRP hyperplanes are
    * regenerated here (same scala.util.Random stream the engine uses) and
    * inlined as double literals; each projection is an explicitly
    * parenthesized left-fold sum so its double value — and hence every
    * sign bit, band chunk, candidate set, and exact rescore — matches the
    * engine bit-for-bit. */
  private def srpLshOracleSql(dim: Int, nBits: Int, bands: Int, seed: Long,
                              k: Int): String = {
    val planes = Similarity.srpPlanes(dim, nBits, seed)
    val bitsPerBand = nBits / bands
    val mask = (1L << bitsPerBand) - 1
    def proj(v: String, p: Array[Double]): String =
      p.zipWithIndex.foldLeft("CAST(0.0 AS DOUBLE)") { case (acc, (w, i)) =>
        s"($acc + CAST($v[${i + 1}] AS DOUBLE) * $w)"
      }
    def sig(v: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN ${proj(v, p)} >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
    val cos = "list_sum(list_transform(list_zip(q.qe, c.ce), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    s"""WITH cs AS (SELECT vec_id, embedding AS ce, ${sig("embedding")} AS sig FROM embeddings), qs AS (SELECT vec_id, ce AS qe, sig FROM cs WHERE vec_id < 5), cb AS (SELECT vec_id, (sig >> (b * $bitsPerBand)) & $mask AS chunk, b FROM cs, unnest(generate_series(0, ${bands - 1})) AS g(b)), qb AS (SELECT vec_id, (sig >> (b * $bitsPerBand)) & $mask AS chunk, b FROM qs, unnest(generate_series(0, ${bands - 1})) AS g(b)), cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id FROM qb JOIN cb ON qb.b = cb.b AND qb.chunk = cb.chunk AND qb.vec_id <> cb.vec_id), sc AS (SELECT cand.query_id, cand.neighbor_id, $cos AS cos FROM cand JOIN qs q ON q.vec_id = cand.query_id JOIN cs c ON c.vec_id = cand.neighbor_id), r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM sc) SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM r WHERE rn <= $k"""
  }

  /** DuckDB replay of QualityModel.irlsFit: feature/label frame, then
    * `iters` unrolled IRLS rounds — each is the grid-quantized per-row
    * weight/working-response stage, nine exact-decimal weighted moment
    * sums (recovered to double via the decimal string), and the Cramer
    * 3×3 solve in the olsTwoCovariatesExact token order. Produces CTEs
    * `f` (features) and `b1..b$iters` (coefficient rows). */
  private[queries] def lrCtes(iters: Int): String = {
    def gq(x: String) = s"floor(($x) * 1e6 + 0.5) / 1e6"
    def dsum(x: String) = s"CAST(CAST(sum($x) AS VARCHAR) AS DOUBLE)"
    val f =
      """f AS MATERIALIZED (SELECT doc_id AS id, CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y, least(CAST(len(ts) AS DOUBLE), 200.0) / 200.0 AS x1, """ +
      gq("CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE)") +
      """ AS x2 FROM (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts FROM documents) WHERE len(ts) > 0), """ +
      """b0x AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1, CAST(0.0 AS DOUBLE) AS b2)"""
    val its = (1 to iters).map { i =>
      val prev = if (i == 1) "b0x" else s"b${i - 1}"
      val w6 = "CAST(w AS DECIMAL(7,6))"
      val u1 = "CAST(x1 AS DECIMAL(7,6))"
      val u2 = "CAST(x2 AS DECIMAL(7,6))"
      val zz = "CAST(z AS DECIMAL(14,6))"
      s"""p$i AS (SELECT f.id, f.y, f.x1, f.x2, b.b0 + b.b1 * f.x1 + b.b2 * f.x2 AS eta FROM f, $prev b), """ +
      s"""q$i AS (SELECT *, ${gq("least(greatest(1.0 / (1.0 + exp(-eta)), 1e-6), 0.999999)")} AS mu FROM p$i), """ +
      s"""r$i AS (SELECT *, greatest(${gq("mu * (1.0 - mu)")}, 1e-6) AS w FROM q$i), """ +
      s"""t$i AS (SELECT *, ${gq("eta + (y - mu) / w")} AS z FROM r$i), """ +
      s"""m$i AS (SELECT ${dsum(w6)} AS sw, ${dsum(s"$w6 * $u1")} AS s1, ${dsum(s"$w6 * $u2")} AS s2, ${dsum(s"$w6 * $u1 * $u1")} AS s11, ${dsum(s"$w6 * $u2 * $u2")} AS s22, ${dsum(s"$w6 * $u1 * $u2")} AS s12, ${dsum(s"$w6 * $zz")} AS sy, ${dsum(s"$w6 * $u1 * $zz")} AS s1y, ${dsum(s"$w6 * $u2 * $zz")} AS s2y FROM t$i), """ +
      s"""k$i AS (SELECT *, sw * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det FROM m$i), """ +
      s"""b$i AS (SELECT (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / det AS b0, (sw * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)) / det AS b1, (sw * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)) / det AS b2 FROM k$i)"""
    }.mkString(", ")
    s"$f, $its"
  }

  /** DuckDB replay of Similarity.mmrSelect on embeddings (probe vec_id=0,
    * corpus = the rest): the greedy loop unrolled to depth k. Stage i
    * re-scores every unpicked row as λ·rel − (1−λ)·max_j cos(v, p_j.v)
    * with the SAME double literals the engine multiplies by (the 1−λ
    * spelling below is the Scala-computed double, e.g.
    * 0.30000000000000004 — not 0.3), and picks the (score desc, id)
    * argmax; the fused-cosine kernel's fold is the proven list_sum
    * replay. */
  private def mmrOracleSql(k: Int, lambda: Double): String = {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    val om = 1.0 - lambda
    val stages = (1 to k).map { i =>
      if (i == 1)
        s"p1 AS (SELECT id, v, rel, score FROM (SELECT id, v, rel, $lambda * rel - $om * CAST(0.0 AS DOUBLE) AS score FROM rel) ORDER BY score DESC, id LIMIT 1)"
      else {
        val prevs = (1 until i).map(j => s"p$j")
        val pens = prevs.map(p => cos("r.v", s"$p.v"))
        val pen =
          if (pens.size == 1) pens.head else s"greatest(${pens.mkString(", ")})"
        val excl = prevs.map(p => s"r.id <> $p.id").mkString(" AND ")
        s"p$i AS (SELECT id, v, rel, score FROM (SELECT r.id, r.v, r.rel, $lambda * r.rel - $om * ($pen) AS score FROM rel r, ${prevs.mkString(", ")} WHERE $excl) ORDER BY score DESC, id LIMIT 1)"
      }
    }.mkString(", ")
    val out = (1 to k)
      .map(i => s"SELECT CAST($i AS INTEGER) AS rank, id, rel, score FROM p$i")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings), rel AS MATERIALIZED (SELECT e.id, e.v, ${cos("e.v", "q.v")} AS rel FROM e, (SELECT v FROM e WHERE id = 0) q WHERE e.id <> 0), $stages SELECT rank, id, ${OmicsQueries.rndSql("rel", 6)} AS rel, ${OmicsQueries.rndSql("score", 6)} AS score FROM ($out)"""
  }

  /** DuckDB replay of Text.dsirLogWeights over documents with target =
    * lang 'en', dim 256, seed 17, alpha 1: the same md5 token→bucket
    * draw, Laplace-smoothed bucket distributions, and per-doc
    * c·lr(bucket) sums over pre-aggregated integer counts. */
  private val dsirWeightsSql =
    """WITH dot AS (SELECT doc_id AS id, lang, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tk FROM documents), """ +
    """db AS MATERIALIZED (SELECT id, CAST(concat('0x', substr(md5('ds17:' || tk), 1, 15)) AS BIGINT) % 256 AS bucket, count(*) AS c FROM dot GROUP BY 1, 2), """ +
    """rd AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cr FROM db GROUP BY 1), """ +
    """td AS (SELECT CAST(concat('0x', substr(md5('ds17:' || tk), 1, 15)) AS BIGINT) % 256 AS bucket, count(*) AS ct FROM dot WHERE lang = 'en' GROUP BY 1), """ +
    """dtot AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM rd) AS rtot, (SELECT CAST(sum(ct) AS DOUBLE) FROM td) AS ttot), """ +
    """lrt AS (SELECT rd.bucket, ln((CAST(coalesce(td.ct, 0) AS DOUBLE) + 1.0) / (dtot.ttot + 256.0)) - ln((CAST(rd.cr AS DOUBLE) + 1.0) / (dtot.rtot + 256.0)) AS lr FROM rd LEFT JOIN td USING (bucket), dtot)"""

  private val dsirWeightsSelect =
    s""" SELECT id, CAST(sum(c) AS BIGINT) AS n_tokens, ${OmicsQueries.rndSql("sum(CAST(c AS DOUBLE) * lr)", 6)} AS log_w FROM db JOIN lrt USING (bucket) GROUP BY 1"""

  /** DuckDB replay of Pq.ivfPqTopK: coarse k-means (prefix cc, seed) +
    * per-subspace codebooks (seed+1+s), nProbe cell routing per query
    * (row_number over (d, cluster) — the argmin tie-break), candidate
    * equi-join on the cell, then the same ADC scoring as
    * [[pqOracleSql]]. */
  private def ivfPqOracleSql(topK: Int, nCells: Int, nProbe: Int, m: Int,
                             ksub: Int, iters: Int, seed: Long, dim: Int,
                             nQueries: Int): String = {
    val d = dim / m
    val blocks = (kmeansCtes(nCells, iters, seed, "cc", "embedding") +:
      (0 until m).map { s =>
        kmeansCtes(ksub, iters, seed + 1 + s, s"s$s",
          s"embedding[${s * d + 1}:${(s + 1) * d}]")
      }).mkString(", ")
    val encJoins = (1 until m).map(s => s"JOIN s${s}fin f$s USING (id)")
      .mkString(" ")
    val encCols = (0 until m).map(s => s"f$s.cluster AS c$s").mkString(", ")
    val cbJoins = (0 until m)
      .map(s => s"JOIN s${s}c$iters cb$s ON cb$s.cluster = e.c$s")
      .mkString(" ")
    def fold(listExpr: String) =
      s"list_reduce($listExpr, (acc, e) -> acc + e)"
    val adot = (0 until m).map { s =>
      fold(s"list_transform(list_zip(q.qv[${s * d + 1}:${(s + 1) * d}], cb$s.cv), p -> p[1] * p[2])")
    }.mkString(" + ")
    val xn2 = (0 until m)
      .map(s => fold(s"list_transform(cb$s.cv, x -> x * x)"))
      .mkString(" + ")
    s"""WITH $blocks, """ +
    s"""pqq AS (SELECT vec_id AS query_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6) AS qv FROM embeddings WHERE vec_id < $nQueries), """ +
    s"""pd AS (SELECT q.query_id, c.cluster, ${fold("list_transform(list_zip(q.qv, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))")} AS d FROM pqq q, ccc$iters c), """ +
    s"""pb AS (SELECT query_id, cluster FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cluster) AS rn FROM pd) WHERE rn <= $nProbe), """ +
    s"""enc AS (SELECT f0.id, ccf.cluster AS cell, $encCols FROM s0fin f0 $encJoins JOIN ccfin ccf USING (id)), """ +
    s"""sc AS (SELECT q.query_id, e.id AS neighbor_id, ($adot) / (sqrt(${fold("list_transform(q.qv, x -> x * x)")}) * sqrt($xn2)) AS ac FROM pqq q JOIN pb ON pb.query_id = q.query_id JOIN enc e ON e.cell = pb.cluster $cbJoins WHERE e.id <> q.query_id), """ +
    s"""pr AS (SELECT query_id, neighbor_id, ac, row_number() OVER (PARTITION BY query_id ORDER BY ac DESC, neighbor_id) AS rn FROM sc) """ +
    s"""SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, ${OmicsQueries.rndSql("ac", 6)} AS adc_cos FROM pr WHERE rn <= $topK"""
  }

  val entries: Seq[Entry] = Seq(

    Entry("q_ann_ivfpq",
      // the full production ANN stack: coarse k-means routing (nProbe=2
      // of 8 cells — a genuinely partial probe) over PQ codes scored by
      // ADC; candidate generation is a broadcast equi-join on the cell
      // id, and the oracle replays routing, codebooks, encoding and
      // scoring exactly
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.sim.Pq.ivfPqTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nCells = 8, nProbe = 2, m = 4,
          ksub = 8, iters = 2, seed = 42L)
      },
      Some(ivfPqOracleSql(topK = 3, nCells = 8, nProbe = 2, m = 4,
        ksub = 8, iters = 2, seed = 42L, dim = 64, nQueries = 5))),

    Entry("q_quality_incremental",
      // incremental derived-table refresh: re-score only added+changed
      // docs (corpus diff by content hash), carry forward persisted
      // scores for unchanged ones. The oracle recomputes quality over
      // the ENTIRE new snapshot — the gate IS the merge-equals-full
      // proof. Snapshot fixture shared with q_corpus_diff
      (s, d) => {
        val docs = t(s, d, "documents")
        val oldS = docs.where(col("doc_id") < 400).select("doc_id", "text")
        val newS = docs.where(col("doc_id") >= 100)
          .select(col("doc_id"),
            when(col("doc_id") % 50 === 0, concat(col("text"), lit(" edited")))
              .otherwise(col("text")).as("text"))
        val oldScores = Text.qualityScore(oldS, "text")
          .select("doc_id", "quality")
        graft.pipelines.Curate.qualityIncremental(oldScores, oldS, newS,
          "doc_id", "text")
      },
      Some(s"""WITH nd AS (SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN concat(text, ' edited') ELSE text END AS text FROM documents WHERE doc_id >= 100), ${qualityCtesFrom("nd")} SELECT q.doc_id, q.quality, (q.doc_id >= 400 OR q.doc_id % 50 = 0) AS refreshed FROM qq q""")),

    Entry("q_corpus_diff",
      // snapshot audit between pipeline runs: old = doc_id < 400, new =
      // doc_id >= 100 with every 50th doc edited — classifies each id as
      // added / removed / changed / unchanged by raw content hash (one
      // full outer equi-join; incremental re-processing consumes
      // added+changed only)
      (s, d) => {
        val docs = t(s, d, "documents")
        val oldS = docs.where(col("doc_id") < 400).select("doc_id", "text")
        val newS = docs.where(col("doc_id") >= 100)
          .select(col("doc_id"),
            when(col("doc_id") % 50 === 0, concat(col("text"), lit(" edited")))
              .otherwise(col("text")).as("text"))
        Dedup.corpusDiff(oldS, newS, "doc_id", "text")
      },
      Some("""WITH oh AS (SELECT doc_id AS id, md5(text) AS old_hash FROM documents WHERE doc_id < 400), nh AS (SELECT doc_id AS id, md5(CASE WHEN doc_id % 50 = 0 THEN text || ' edited' ELSE text END) AS new_hash FROM documents WHERE doc_id >= 100) SELECT id, old_hash, new_hash, CASE WHEN old_hash IS NULL THEN 'added' WHEN new_hash IS NULL THEN 'removed' WHEN old_hash <> new_hash THEN 'changed' ELSE 'unchanged' END AS status FROM oh FULL JOIN nh USING (id)""")),

    Entry("q_corpus_overlap",
      // cross-corpus contamination estimate from two fixed-size KMV
      // sketches over the shared md5 5-shingle draw (corpus A = even ids,
      // B = odd): est_jaccard from the k=256 smallest union draws,
      // checked against the exact distinct-shingle Jaccard in the same
      // row — the "is corpus B already in corpus A" question without
      // pairwise document work
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.stats.Sketches.corpusOverlapKmv(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "text", shingleK = 5, k = 256)
      },
      Some("""WITH tk0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts FROM documents), sh0 AS (SELECT doc_id, CASE WHEN len(ts) >= 5 THEN array_to_string(ts[i:i+4], ' ') ELSE array_to_string(ts, ' ') END AS s FROM tk0, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS g(i)), shh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh0), ua AS (SELECT DISTINCT h FROM shh WHERE doc_id % 2 = 0), ub AS (SELECT DISTINCT h FROM shh WHERE doc_id % 2 = 1), uni AS (SELECT h, max(ia) AS ia, max(ib) AS ib FROM (SELECT h, 1 AS ia, 0 AS ib FROM ua UNION ALL SELECT h, 0 AS ia, 1 AS ib FROM ub) GROUP BY 1), tk AS (SELECT * FROM uni ORDER BY h LIMIT 256), tops AS (SELECT count(*) AS k_used, CAST(sum(ia * ib) AS BIGINT) AS inter_k FROM tk), tot AS (SELECT count(*) AS n_union, CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b, CAST(sum(ia * ib) AS BIGINT) AS n_inter FROM uni) SELECT k_used, n_a, n_b, n_union, n_inter, CAST(round(CAST(CAST(CAST(inter_k AS DOUBLE) / k_used AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS est_jaccard, CAST(round(CAST(CAST(CAST(n_inter AS DOUBLE) / n_union AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS exact_jaccard FROM tops, tot""")),

    Entry("q_dsir_weights",
      // DSIR importance weights: target = the English slice, raw = the
      // whole corpus; per-doc hashed-unigram log likelihood ratio under
      // Laplace-smoothed target-vs-raw bucket distributions (dim=256,
      // broadcast ratio table, corpus exchanged once on (id, bucket))
      (s, d) => {
        val docs = t(s, d, "documents")
        Text.dsirLogWeights(docs, docs.where(col("lang") === "en"),
          "doc_id", "text", dim = 256, seed = 17L)
      },
      Some(dsirWeightsSql + dsirWeightsSelect)),

    Entry("q_dsir_sample",
      // the resampling step on those weights: Gumbel-top-k (weighted
      // sampling w/o replacement in the log domain — exp(log_w) never
      // materializes) over the ROUNDED weights stage, so the sort key
      // is bit-identical in both engines; per-partition top-n, no
      // global sort
      (s, d) => {
        val docs = t(s, d, "documents")
        val w = Text.dsirLogWeights(docs, docs.where(col("lang") === "en"),
          "doc_id", "text", dim = 256, seed = 17L)
        graft.text.Sampling.gumbelTopK(w, "id", "log_w", n = 100,
          seed = 23L)
      },
      Some(s"""$dsirWeightsSql, w AS ($dsirWeightsSelect) SELECT id, n_tokens, log_w FROM w ORDER BY ${graft.text.Sampling.gumbelKeySql("id", "log_w", 23L)} DESC, id LIMIT 100""")),

    Entry("q_quality_lr_fit",
      // trainable quality classifier: logistic y(lang=en) ~ 1 + length +
      // distinct-ratio by DISTRIBUTED IRLS — per iteration one exact-
      // decimal moment aggregate + a driver-side Cramer solve (driver
      // state = 9 numbers at any corpus size). The oracle unrolls all 3
      // rounds; grid quantization makes every weight cross-engine exact.
      (s, d) => {
        val f = barrier(graft.text.QualityModel.features(t(s, d, "documents"),
          "doc_id", "text", "lang", "en"), "llmQueries.f")
        val path = graft.text.QualityModel.irlsFit(f, iters = 3)
        import s.implicits._
        path.zipWithIndex
          .map { case (c, i) => (i + 1, c.b0, c.b1, c.b2) }
          .toDF("iter", "rb0", "rb1", "rb2")
          .select(col("iter"), round(col("rb0"), 6).as("b0"),
            round(col("rb1"), 6).as("b1"), round(col("rb2"), 6).as("b2"))
      },
      Some(s"""WITH ${lrCtes(3)} SELECT * FROM (SELECT CAST(1 AS INTEGER) AS iter, CAST(round(CAST(CAST(b0 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS b0, CAST(round(CAST(CAST(b1 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS b1, CAST(round(CAST(CAST(b2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS b2 FROM b1 UNION ALL SELECT CAST(2 AS INTEGER), CAST(round(CAST(CAST(b0 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE), CAST(round(CAST(CAST(b1 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE), CAST(round(CAST(CAST(b2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) FROM b2 UNION ALL SELECT CAST(3 AS INTEGER), CAST(round(CAST(CAST(b0 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE), CAST(round(CAST(CAST(b1 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE), CAST(round(CAST(CAST(b2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) FROM b3)""")),

    Entry("q_quality_lr_score",
      // the scoring pass under the 3-round fit: per-doc sigmoid score +
      // hard prediction — one zero-shuffle scan once the 3 coefficients
      // are known
      (s, d) => {
        val f = barrier(graft.text.QualityModel.features(t(s, d, "documents"),
          "doc_id", "text", "lang", "en"), "llmQueries.f")
        val b = graft.text.QualityModel.irlsFit(f, iters = 3).last
        graft.text.QualityModel.score(f, b)
      },
      Some(s"""WITH ${lrCtes(3)} SELECT f.id, f.y, CAST(round(CAST(CAST(1.0 / (1.0 + exp(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2))) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS score, 1.0 / (1.0 + exp(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2))) >= 0.5 AS pred FROM f, b3 b""")),


    Entry("q_quality_calibration",
      // reliability report over the trained classifier: 10 equal-width
      // probability bins, per-bin size / mean score / empirical positive
      // rate / |gap|, plus the ECE — the "does 0.8 mean 80%?" ML-ops
      // check. Everything integer-exact after one grid quantization of
      // the score (ECE's numerator is a BIGINT), so the oracle replays
      // every value bit for bit
      (s, d) => {
        val f = barrier(graft.text.QualityModel.features(t(s, d, "documents"),
          "doc_id", "text", "lang", "en"), "llmQueries.f")
        val b = graft.text.QualityModel.irlsFit(f, iters = 3).last
        graft.text.QualityModel.calibrationReport(
          graft.text.QualityModel.score(f, b), "score", "y", bins = 10)
      },
      Some(s"""WITH ${lrCtes(3)}, sc AS (SELECT f.y, CAST(round(CAST(CAST(1.0 / (1.0 + exp(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2))) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS score FROM f, b3 b), uu AS (SELECT CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS u, CAST(y AS BIGINT) AS y FROM sc), pb AS (SELECT CAST(least(u // 100000, 9) AS INTEGER) AS bin, count(*) AS n, CAST(sum(u) AS BIGINT) AS sum_micro, CAST(sum(y) AS BIGINT) AS positives FROM uu GROUP BY 1), pb2 AS (SELECT bin, n, sum_micro, positives, abs(sum_micro - positives * 1000000) AS dev FROM pb), tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n, CAST(sum(dev) AS BIGINT) AS tot_dev FROM pb2) SELECT bin, n, sum_micro, positives, ${OmicsQueries.rndSql("CAST(sum_micro AS DOUBLE) / (n * 1000000)", 6)} AS avg_score, ${OmicsQueries.rndSql("CAST(positives AS DOUBLE) / n", 6)} AS pos_rate, ${OmicsQueries.rndSql("CAST(dev AS DOUBLE) / (n * 1000000)", 6)} AS gap, ${OmicsQueries.rndSql("CAST(tot_dev AS DOUBLE) / (tot_n * 1000000)", 6)} AS ece FROM pb2, tt""")),

    Entry("q_dedup_exact",
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash, min(doc_id) AS kept_id, count(*) AS dup_count FROM documents GROUP BY 1""")),

    Entry("q_repeated_spans",
      // substring-level dedup: maximal token spans whose 8-gram content
      // recurs in >= 2 distinct documents (boilerplate/licence blocks) —
      // grams join on literal text, the island merge is a window scan,
      // so the oracle replays every step exactly
      (s, d) => Dedup.repeatedSpans(t(s, d, "documents"), "doc_id", "text",
        k = 8, minDf = 2),
      Some(repeatedSpansOracleSql(k = 8, minDf = 2))),

    Entry("q_repeated_spans_incremental",
      // ingest gate for the substring tier: the new batch (doc_id >= 250)
      // is span-checked against the persisted gram-df index of the corpus
      // (doc_id < 250) — a batch doc sharing a paragraph with ONE corpus
      // doc is flagged even though neither side alone reaches minDf
      (s, d) => {
        val docs = t(s, d, "documents")
        val oldIdx = Dedup.gramDfIndex(docs.where(col("doc_id") < 250),
          "doc_id", "text", k = 8)
        Dedup.repeatedSpansIncremental(docs.where(col("doc_id") >= 250),
          oldIdx, "doc_id", "text", k = 8, minDf = 2)
      },
      Some(s"""WITH rtoks AS MATERIALIZED (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), tk AS MATERIALIZED (SELECT id, ts, len(ts) AS n FROM rtoks WHERE len(ts) >= 8), grams AS MATERIALIZED (SELECT id, i - 1 AS pos, CAST(concat('0x', substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15)) AS BIGINT) AS gram FROM tk, unnest(generate_series(1, n - 7)) AS g(i)), oldix AS MATERIALIZED (SELECT gram, count(DISTINCT id) AS odf FROM grams WHERE id < 250 GROUP BY 1), bnew AS MATERIALIZED (SELECT id, pos, gram FROM grams WHERE id >= 250), bdf AS MATERIALIZED (SELECT gram, count(DISTINCT id) AS bdf FROM bnew GROUP BY 1), dupg AS MATERIALIZED (SELECT b.gram FROM bdf b LEFT JOIN oldix o USING (gram) WHERE b.bdf + coalesce(o.odf, 0) >= 2), hits AS MATERIALIZED (SELECT b.id, b.pos FROM bnew b JOIN dupg USING (gram)), isl AS (SELECT id, pos, CASE WHEN max(pos + 8) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL OR pos > max(pos + 8) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS ni FROM hits), isl2 AS (SELECT id, pos, sum(ni) OVER (PARTITION BY id ORDER BY pos) AS island FROM isl) SELECT id, CAST(min(pos) AS INTEGER) AS span_start, CAST(max(pos) + 8 AS INTEGER) AS span_end, CAST(max(pos) + 8 - min(pos) AS INTEGER) AS span_tokens FROM isl2 GROUP BY id, island""")),

    Entry("q_dup_token_profile",
      // per-doc duplicated-token fraction over the span set — the policy
      // input for strip-vs-drop decisions
      (s, d) => Dedup.duplicatedTokenProfile(t(s, d, "documents"),
        "doc_id", "text", k = 8, minDf = 2),
      // the oracle casts to Spark's exact widths: dup_tokens would
      // otherwise be an untyped DuckDB HUGEINT (sum over BIGINT) and n
      // a BIGINT where Spark's size() is INT — content-identical values
      // that still diverge under the driver's dtype-sensitive hash
      Some(s"""WITH ${repeatedSpansCtes(8, 2)}, spans AS (SELECT id, min(pos) AS span_start, max(pos) + 8 AS span_end FROM isl2 GROUP BY id, island), agg AS (SELECT id, sum(span_end - span_start) AS dup_tokens FROM spans GROUP BY 1) SELECT t.id, CAST(t.n AS INTEGER) AS n_tokens, CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens, ${OmicsQueries.rndSql("CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / t.n", 6)} AS dup_fraction FROM tk t LEFT JOIN agg a USING (id)""")),

    Entry("q_dedup_exact_incremental",
      // ingest gate for the exact tier: new batch (doc_id >= 250) hashed
      // and joined against the persisted corpus hash index — emits
      // corpus-dup linkage and a within-batch first-keeper flag
      (s, d) => {
        val docs = t(s, d, "documents")
        val oldIdx = Dedup.exact(docs.where(col("doc_id") < 250),
          "doc_id", "text")
        Dedup.exactIncremental(docs.where(col("doc_id") >= 250), oldIdx,
          "doc_id", "text")
      },
      Some("""WITH oldh AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash, min(doc_id) AS dup_of FROM documents WHERE doc_id < 250 GROUP BY 1), newh AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash FROM documents WHERE doc_id >= 250) SELECT n.doc_id, n.content_hash, oldh.dup_of IS NOT NULL AS dup_of_corpus, oldh.dup_of, row_number() OVER (PARTITION BY n.content_hash ORDER BY n.doc_id) = 1 AS first_in_batch FROM newh n LEFT JOIN oldh USING (content_hash)""")),

    Entry("q_fingerprint",
      // bag-of-words fingerprint dedup key
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min(col("doc_id")).as("kept_id"),
          count(lit(1)).as("dup_count")),
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0))), ' ')) AS fp, min(doc_id) AS kept_id, count(*) AS dup_count FROM documents GROUP BY 1""")),

    Entry("q_winnow_fingerprints",
      // winnowing (MOSS) fingerprint sets: per doc, the sorted distinct
      // window-minima of the 4-gram hash stream (window 4) — the
      // ~2/(w+1)-dense substring-robust dedup keys. Docs under k tokens
      // have no grams and are excluded on both sides. One codegen
      // projection, zero shuffle
      (s, d) => {
        val arr = graft.catalyst.ArrayFunctions
          .winnowHashes(col("text"), 4, 4)
        t(s, d, "documents")
          .select(col("doc_id"), arr.as("arr"))
          .where(size(col("arr")) > 0)
          .select(col("doc_id"), size(col("arr")).as("n_fps"),
            Q.csvInts(col("arr")).as("fps"))
      },
      Some(s"""WITH ${winnowCtes(k = 4, w = 4)} SELECT id AS doc_id, CAST(count(*) AS INTEGER) AS n_fps, array_to_string(list_transform(list_sort(list(DISTINCT fp)), x -> CAST(x AS VARCHAR)), ',') AS fps FROM fps GROUP BY 1""")),

    Entry("q_winnow_pairs",
      // the MOSS pair step at corpus scale: docs sharing >= 2 winnowing
      // fingerprints, boilerplate fingerprints (df > 100) dropped before
      // pair generation — any shared run of w+k-1 = 7 tokens still
      // guarantees a shared fingerprint (the winnowing bound), at ~40%
      // of the full-gram tier's index size. One posting shuffle + a
      // map-side-combined pair count; no all-pairs stage
      (s, d) => Dedup.winnowPairs(t(s, d, "documents"), "doc_id", "text",
        k = 4, window = 4, minShared = 2, maxFpDf = 100),
      Some(s"""WITH ${winnowCtes(k = 4, w = 4)}, pdf AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1), ok AS (SELECT fp FROM pdf WHERE df BETWEEN 2 AND 100) SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared FROM fps a JOIN fps b USING (fp) JOIN ok USING (fp) WHERE a.id < b.id GROUP BY 1, 2 HAVING count(*) >= 2""")),

    Entry("q_ngram_jaccard",
      // inverted-index + df-pruned exact Jaccard pairs; pruning is part of
      // the declared semantics, so the oracle applies the same cut
      (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8, maxShingleDf = 100),
      Some(s"""WITH $shingleCte, pr AS (SELECT doc_id, h FROM (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM shh) WHERE df <= 100), sz AS (SELECT doc_id, count(*) AS n FROM pr GROUP BY 1), it AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT ia AS id_a, ib AS id_b, CAST(round(CAST(CAST(CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS jaccard FROM it JOIN sz x ON ia = x.doc_id JOIN sz y ON ib = y.doc_id WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8""")),

    Entry("q_containment_pairs",
      // directional nesting detector: |A∩B|/|A| over the same df-pruned
      // shingle universe as the Jaccard tier — catches a doc quoted
      // inside a longer one, which Jaccard/LSH structurally miss
      (s, d) => Dedup.containmentPairs(t(s, d, "documents"), "doc_id",
        "text", k = 3, threshold = 0.9, maxShingleDf = 100),
      Some(s"""WITH $shingleCte, pr AS (SELECT doc_id, h FROM (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM shh) WHERE df <= 100), sz AS (SELECT doc_id, count(*) AS n FROM pr GROUP BY 1), it AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id <> b.doc_id GROUP BY 1, 2) SELECT ia AS id_a, ib AS id_b, CAST(round(CAST(CAST(CAST(inter AS DOUBLE) / x.n AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS containment FROM it JOIN sz x ON ia = x.doc_id WHERE CAST(inter AS DOUBLE) / x.n >= 0.9""")),

    Entry("q_minhash_lsh",
      // oracle mirrors the md5-derived family AND the 16×8 banding, so the
      // hash-compare is deterministic for any data (no S-curve recall bet)
      (s, d) => Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8, numHashes = 128, bands = 16),
      Some(minhashLshSql(0.8))),

    Entry("q_dedup_incremental",
      // incremental ingestion: docs with doc_id >= 250 arrive as the new
      // batch; only THEY are sketched (the old corpus contributes its
      // persisted banded index), and every emitted pair touches a new
      // doc. The oracle is the full-LSH pair set post-filtered to pairs
      // involving a new id — identical by construction since banding is
      // per-document
      (s, d) => {
        val docs = t(s, d, "documents")
        val old = docs.where(col("doc_id") < 250)
        val fresh = docs.where(col("doc_id") >= 250)
        val oldIdx = Dedup.bandedIndex(old, "doc_id", "text",
          k = 3, numHashes = 128, bands = 16)
        Dedup.minhashLshPairsIncremental(old, fresh, oldIdx, "doc_id", "text",
          k = 3, threshold = 0.8, numHashes = 128, bands = 16)
      },
      Some(s"""SELECT * FROM (${minhashLshSql(0.8)}) WHERE id_a >= 250 OR id_b >= 250""")),

    Entry("q_dedup_tier_agreement",
      // tier self-evaluation: the LSH pair set (full-universe verify)
      // vs the df-pruned inverted-index pair set at the same threshold,
      // as a pair-set Jaccard — the report a pipeline publishes when
      // tuning bands/threshold (the two tiers declare slightly
      // different universes, so agreement < 1 is signal, not a bug)
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        // the shingle universe is materialized ONCE and fed to both
        // tiers. The three counts (each tier's pair count + the
        // intersection) are then ONE fused plan: tag each tier's pairs,
        // union, collapse per pair-key, aggregate membership sums —
        // each tier pipeline appears exactly once in the plan, so the
        // round-12 per-tier pair-set checkpoints (two extra eager
        // materializations, each re-read by two consumers) are gone and
        // the three cross-joined single-row aggregates collapse into one
        // aggregation. Round-13 job floor (JobProbe, sf0.1): ~19 AQE
        // stage-jobs of 33-97 sub-ms tasks each at 32-way shuffle width
        // — per-job task scheduling, not any plan stage, is the
        // remaining cost; it amortizes exactly when tasks carry real
        // data (the 100x ScaleCheck row: ratio 22.8).
        // no spread() on the shingle input: A/B'd round 16 (1.628→1.780
        // matched, 5 passes) — the posting explode downstream dominates
        // and the extra exchange costs more than the 0.6 s single-task
        // kernel build it parallelizes (the r15 containment finding)
        val shArr = barrier(Dedup.shingleRelation(docs, "doc_id", "text", 3),
          "llmQueries.shArr")
        val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, threshold = 0.8, shingled = Some(shArr))
          .select("id_a", "id_b")
        val ngr = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          k = 3, threshold = 0.8, maxShingleDf = 100,
          shingled = Some(shArr))
          .select("id_a", "id_b")
        ngr.select(col("id_a"), col("id_b"),
            lit(1).as("__in_n"), lit(0).as("__in_l"))
          .unionByName(lsh.select(col("id_a"), col("id_b"),
            lit(0).as("__in_n"), lit(1).as("__in_l")))
          .groupBy("id_a", "id_b")
          .agg(max(col("__in_n")).as("__n"), max(col("__in_l")).as("__l"))
          .agg(sum(col("__n")).cast("long").as("n_ngram"),
            sum(col("__l")).cast("long").as("n_lsh"),
            sum(col("__n") * col("__l")).cast("long").as("n_both"))
          .select(col("n_ngram"), col("n_lsh"), col("n_both"),
            r6(col("n_both").cast("double") /
              (col("n_ngram") + col("n_lsh") - col("n_both")))
              .as("agreement"))
      },
      Some(s"""WITH $shingleCte, $minhashCandCtes, $verifyCtes, lshp AS (${verifySelect(0.8)}), npr AS (SELECT doc_id, h FROM (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM shh) WHERE df <= 100), nsz AS (SELECT doc_id, count(*) AS n FROM npr GROUP BY 1), nit AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter FROM npr a JOIN npr b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2), ngr AS (SELECT ia AS id_a, ib AS id_b FROM nit JOIN nsz x ON ia = x.doc_id JOIN nsz y ON ib = y.doc_id WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8), cb AS (SELECT CAST(count(*) AS BIGINT) AS n_both FROM ngr JOIN (SELECT id_a, id_b FROM lshp) l USING (id_a, id_b)), cn AS (SELECT CAST(count(*) AS BIGINT) AS n_ngram FROM ngr), cl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lshp) SELECT n_ngram, n_lsh, n_both, ${OmicsQueries.rndSql("CAST(n_both AS DOUBLE) / (n_ngram + n_lsh - n_both)", 6)} AS agreement FROM cn, cl, cb""")),

    Entry("q_simhash_pairs",
      // sketch over the same 3-shingle features the Jaccard verifier uses;
      // maxHamming 14 <= bands-1 puts the operator in its deterministic
      // pigeonhole regime: output = {hamming <= 14 AND jaccard >= 0.8},
      // which the oracle computes directly from its own 60-bit md5 sketch
      (s, d) => Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
        bands = 15, k = 3, threshold = 0.8, maxHamming = 14),
      Some(simhashSql(0.8, 14))),

    Entry("q_dedup_clusters",
      // pairwise near-dup evidence → connected components → per-doc
      // cluster label + representative pick: the end-to-end dedup
      // pipeline (pairs alone don't dedup a corpus — transitive groups do)
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, threshold = 0.8, numHashes = 128, bands = 16)
        Dedup.clusterDocuments(docs, "doc_id", pairs)
      },
      Some(dedupClustersSql(0.8))),

    Entry("q_split_by_cluster",
      // leak-free split assignment — the FIX for what q_split_leakage
      // detects: the split hash keys on the duplicate-CLUSTER id, so
      // whole clone groups land in one split and test questions cannot
      // leak into training through near-dup copies
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.pipelines.Curate.leakFreeSplit(docs, "doc_id",
          Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3,
            threshold = 0.8, numHashes = 128, bands = 16),
          seed = 31L, cuts = Seq(("train", 0.9), ("test", 0.1)))
      },
      Some(s"""WITH RECURSIVE $shingleCte, $minhashCandCtes, $verifyCtes, pairs AS (${verifySelect(0.8)}), $componentCtes, lab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.id) SELECT doc_id, cluster_id, ${graft.text.Sampling.splitAssignSql("cluster_id", 31L, Seq(("train", 0.9), ("test", 0.1)))} AS split FROM lab""")),

    Entry("q_quality_tradeoff",
      // quantity-vs-quality pareto curve: per candidate threshold, the
      // docs and token mass surviving score >= threshold with corpus
      // shares — the report that picks the filter cutoff. Reverse
      // cumulative BIGINT sums over 10 bins
      (s, d) => graft.text.QualityModel.qualityTradeoffCurve(
        Text.qualityScore(t(s, d, "documents").select("doc_id", "text"),
          "text"),
        "quality", "n_tokens", bins = 10),
      Some(s"""WITH $qualityCtes, uu AS (SELECT CAST(floor(quality * 1000000 + 0.5) AS BIGINT) AS u, CAST(n_tokens AS BIGINT) AS toks FROM qq), pb AS (SELECT CAST(least(u // 100000, 9) AS INTEGER) AS bin, count(*) AS n, CAST(sum(toks) AS BIGINT) AS tok FROM uu GROUP BY 1), cc AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS docs_kept, CAST(sum(tok) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS tokens_kept, CAST(sum(n) OVER () AS BIGINT) AS tot_n, CAST(sum(tok) OVER () AS BIGINT) AS tot_tok FROM pb) SELECT ${OmicsQueries.rndSql("CAST(bin AS DOUBLE) / 10", 6)} AS threshold, docs_kept, tokens_kept, ${OmicsQueries.rndSql("CAST(docs_kept AS DOUBLE) / tot_n", 6)} AS doc_share, ${OmicsQueries.rndSql("CAST(tokens_kept AS DOUBLE) / tot_tok", 6)} AS token_share FROM cc""")),

    Entry("q_dedup_yield",
      // dedup yield report: the cluster-size distribution of the
      // near-dup graph + per-size doc shares — the summary a dedup run
      // is judged by, and the clone-class-blowup early warning
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.dedupYieldProfile(docs, "doc_id",
          Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3,
            threshold = 0.8, numHashes = 128, bands = 16))
      },
      Some(s"""WITH RECURSIVE $shingleCte, $minhashCandCtes, $verifyCtes, pairs AS (${verifySelect(0.8)}), $componentCtes, lab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.id), csz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1), dist AS (SELECT cluster_size, count(*) AS n_clusters FROM csz GROUP BY 1), tt AS (SELECT CAST(sum(cluster_size * n_clusters) AS BIGINT) AS td FROM dist) SELECT CAST(d.cluster_size AS BIGINT) AS cluster_size, d.n_clusters, CAST(d.cluster_size * d.n_clusters AS BIGINT) AS n_docs, ${OmicsQueries.rndSql("CAST(d.cluster_size * d.n_clusters AS DOUBLE) / tt.td", 6)} AS doc_share FROM dist d, tt""")),

    Entry("q_tokenize_fertility",
      // tokens-per-word under a top-25 vocab with char fallback, by
      // source — the fertility number vocab-size decisions come from.
      // Deterministic vocab fit (freq desc, word asc), broadcast tag
      // pass, exact integer emission counts
      (s, d) => Text.tokenizerFertility(t(s, d, "documents"), "source",
        "text", vocabSize = 25),
      Some(s"""WITH wd AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS w FROM documents), vc AS (SELECT w FROM (SELECT w, count(*) AS f FROM wd GROUP BY 1) ORDER BY f DESC, w LIMIT 25) SELECT source, count(*) AS n_words, CAST(sum(CASE WHEN vc.w IS NOT NULL THEN 1 ELSE len(wd.w) END) AS BIGINT) AS n_emitted, CAST(sum(CASE WHEN vc.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_words, ${OmicsQueries.rndSql("CAST(sum(CASE WHEN vc.w IS NOT NULL THEN 1 ELSE len(wd.w) END) AS DOUBLE) / count(*)", 6)} AS fertility FROM wd LEFT JOIN vc ON wd.w = vc.w GROUP BY 1""")),

    Entry("q_source_terms",
      // class-based TF-IDF (c-TF-IDF): top-10 distinctive terms per
      // source, scored as exact BIGINT tf*ln_micro units — corpus-card
      // topic labeling ("what characterizes this source")
      (s, d) => Text.classTfIdfTopK(t(s, d, "documents"), "source",
        "text", topK = 10),
      Some(s"""WITH tf AS (SELECT source AS g, tok AS term, count(*) AS tf FROM (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS tok FROM documents) GROUP BY 1, 2), tot AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT g) AS a FROM tf), ft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f FROM tf GROUP BY 1), sc AS (SELECT tf.g, tf.term, tf.tf, ft.f, CAST(floor(ln(1.0 + tot.a / ft.f) * 1000000 + 0.5) AS BIGINT) AS lnm FROM tf JOIN ft USING (term), tot), r AS (SELECT g, term, tf, f, tf * lnm AS score_units, row_number() OVER (PARTITION BY g ORDER BY tf * lnm DESC, term) AS rn FROM sc) SELECT g AS source, term, tf, f, CAST(score_units AS BIGINT) AS score_units, CAST(score_units AS DOUBLE) / 1000000 AS score FROM r WHERE rn <= 10""")),

    Entry("q_budget_waterfill",
      // water-filling budget allocation across languages (uneven
      // supplies): undersupplied langs taken whole, the freed budget
      // redistributes at an integer water level, remainder to the
      // smallest — the sample-without-replacement quota solver. Pure
      // BIGINT window arithmetic over the lang-cardinality relation
      (s, d) => graft.text.Sampling.waterfillQuota(t(s, d, "documents"),
        "lang", budget = 400L),
      Some("""WITH sup AS (SELECT lang AS g, count(*) AS n FROM documents GROUP BY 1), w AS (SELECT g, n, CAST(row_number() OVER (ORDER BY n, g) AS BIGINT) AS i, CAST(sum(n) OVER (ORDER BY n, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p, CAST(count(*) OVER () AS BIGINT) AS m FROM sup), f AS (SELECT *, (p - n + n * (m - i + 1) <= 400) AS filled FROM w), agg AS (SELECT CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS cut, CAST(coalesce(max(CASE WHEN filled THEN p END), 0) AS BIGINT) AS taken, CAST(max(m) AS BIGINT) AS m FROM f) SELECT f.g AS lang, f.n, CASE WHEN f.filled THEN f.n WHEN agg.m - agg.cut > 0 THEN (400 - agg.taken) // (agg.m - agg.cut) + (CASE WHEN f.i - agg.cut <= (400 - agg.taken) % (agg.m - agg.cut) THEN 1 ELSE 0 END) ELSE 0 END AS quota, f.filled FROM f, agg""")),

    Entry("q_waterfill_sample",
      // execute the water-filled allocation: exactly quota_lang docs
      // per language, chosen by deterministic md5 order — the mixing
      // manifest made real. Output size == min(budget, corpus) always
      (s, d) => {
        val docs = t(s, d, "documents")
        val quotas = graft.text.Sampling.waterfillQuota(docs, "lang",
          budget = 400L)
        graft.text.Sampling.quotaSample(docs.select("doc_id", "lang"),
          "lang", "doc_id", quotas, "lang", "quota", seed = 17L)
      },
      Some(s"""WITH sup AS (SELECT lang AS g, count(*) AS n FROM documents GROUP BY 1), w AS (SELECT g, n, CAST(row_number() OVER (ORDER BY n, g) AS BIGINT) AS i, CAST(sum(n) OVER (ORDER BY n, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p, CAST(count(*) OVER () AS BIGINT) AS m FROM sup), f AS (SELECT *, (p - n + n * (m - i + 1) <= 400) AS filled FROM w), agg AS (SELECT CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS cut, CAST(coalesce(max(CASE WHEN filled THEN p END), 0) AS BIGINT) AS taken, CAST(max(m) AS BIGINT) AS m FROM f), qt AS (SELECT f.g AS lang, CASE WHEN f.filled THEN f.n WHEN agg.m - agg.cut > 0 THEN (400 - agg.taken) // (agg.m - agg.cut) + (CASE WHEN f.i - agg.cut <= (400 - agg.taken) % (agg.m - agg.cut) THEN 1 ELSE 0 END) ELSE 0 END AS quota FROM f, agg), rk AS (SELECT d.doc_id, d.lang, row_number() OVER (PARTITION BY d.lang ORDER BY ${graft.text.Sampling.hashFracSql("d.doc_id", 17L)}, d.doc_id) AS rn FROM documents d) SELECT rk.doc_id, rk.lang FROM rk JOIN qt ON qt.lang = rk.lang WHERE rk.rn <= qt.quota""")),

    Entry("q_dedup_best_quality",
      // quality-aware representative pick: the kept doc per near-dup
      // cluster is the argmax-quality member (id breaks ties), not the
      // min id — first-crawled copies are often the worst ones. Window
      // partitions by cluster id (near-dup class sized, hot-band-guard
      // capped), never the corpus
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, threshold = 0.8, numHashes = 128, bands = 16)
        val q = Text.qualityScore(docs.select("doc_id", "text"), "text")
          .select("doc_id", "quality")
        Dedup.clusterDocumentsByQuality(docs, "doc_id", pairs, q,
          "doc_id", "quality")
      },
      Some(s"""WITH RECURSIVE $shingleCte, $minhashCandCtes, $verifyCtes, pairs AS (${verifySelect(0.8)}), $componentCtes, $qualityCtes, bql AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.id), bqs AS (SELECT cluster_id, count(*) AS n FROM bql GROUP BY 1), bqr AS (SELECT l.doc_id, l.cluster_id, q.quality, row_number() OVER (PARTITION BY l.cluster_id ORDER BY q.quality DESC, l.doc_id) AS rn FROM bql l JOIN qq q ON l.doc_id = q.doc_id) SELECT bqr.doc_id, bqr.cluster_id, CAST(bqs.n AS BIGINT) AS cluster_size, bqr.quality, rn = 1 AS kept FROM bqr JOIN bqs USING (cluster_id)""")),

    Entry("q_dup_source_matrix",
      // cross-source duplication matrix: winnow pair evidence rolled up
      // to unordered (source, source) cells with pair counts and rate =
      // pairs / possible pairs (exact integer denominators) — which
      // sources mirror each other, not which docs. Matrix is source²
      // sized; per-source counts broadcast
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.dupSourceMatrix(docs, "doc_id", "source",
          Dedup.winnowPairs(docs, "doc_id", "text", k = 4, window = 4,
            minShared = 2, maxFpDf = 100))
      },
      Some(s"""WITH ${winnowCtes(k = 4, w = 4)}, pdf AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1), ok AS (SELECT fp FROM pdf WHERE df BETWEEN 2 AND 100), prs AS (SELECT a.id AS id_a, b.id AS id_b FROM fps a JOIN fps b USING (fp) JOIN ok USING (fp) WHERE a.id < b.id GROUP BY 1, 2 HAVING count(*) >= 2), lab AS (SELECT least(da.source, db.source) AS source_a, greatest(da.source, db.source) AS source_b FROM prs JOIN documents da ON da.doc_id = prs.id_a JOIN documents db ON db.doc_id = prs.id_b), mat AS (SELECT source_a, source_b, count(*) AS n_pairs FROM lab GROUP BY 1, 2), sc AS (SELECT source, count(*) AS n FROM documents GROUP BY 1) SELECT m.source_a, m.source_b, m.n_pairs, CAST(CASE WHEN m.source_a = m.source_b THEN a.n * (a.n - 1) // 2 ELSE a.n * b.n END AS BIGINT) AS possible_pairs, ${OmicsQueries.rndSql("CAST(m.n_pairs AS DOUBLE) / (CASE WHEN m.source_a = m.source_b THEN a.n * (a.n - 1) // 2 ELSE a.n * b.n END)", 6)} AS dup_rate FROM mat m JOIN sc a ON a.source = m.source_a JOIN sc b ON b.source = m.source_b""")),

    Entry("q_dedup_clusters_incremental",
      // incremental component maintenance AT THE GATE: cluster the old
      // corpus (doc_id < 250), fold in ONLY the new batch's pair
      // evidence (incremental LSH probe of the persisted banded index),
      // and hash-compare against the FULL-corpus recompute — proving
      // incremental(clusters(P_old), P_new) == clusters(P_old ∪ P_new)
      // exactly (star edges preserve old connectivity; min-label is
      // order-independent)
      (s, d) => {
        val docs = t(s, d, "documents")
        val old = docs.where(col("doc_id") < 250)
        // round-13 job-count shave: the old corpus's banded index and
        // ONE full-corpus shingle relation are materialized once and
        // shared — the old sketch kernel previously ran twice (inside
        // minhashLshPairs AND as the probe index) and each verify built
        // its own shingle checkpoint
        // no spread() here either: A/B'd round 16 (1.689→1.785 matched —
        // see q_dedup_tier_agreement's shArr note)
        val shAll = barrier(Dedup.shingleRelation(docs, "doc_id", "text", 3),
          "llmQueries.shAll")
        val oldIdx = barrier(Dedup.bandedIndex(old, "doc_id", "text",
          k = 3, numHashes = 128, bands = 16), "llmQueries.oldIdx")
        val oldPairs = Dedup.minhashLshPairs(old, "doc_id", "text",
          k = 3, threshold = 0.8, numHashes = 128, bands = 16,
          shingled = Some(shAll), banded = Some(oldIdx))
        val oldAssign = Dedup.duplicateClusters(oldPairs)
        val newPairs = Dedup.minhashLshPairsIncremental(old,
          docs.where(col("doc_id") >= 250), oldIdx, "doc_id", "text",
          k = 3, threshold = 0.8, numHashes = 128, bands = 16,
          shingled = Some(shAll))
        Dedup.duplicateClustersIncremental(oldAssign, newPairs)
      },
      Some(s"""WITH RECURSIVE $shingleCte, $minhashCandCtes, $verifyCtes, pairs AS (${verifySelect(0.8)}), $componentCtes SELECT id, cluster_id FROM comp""")),

    Entry("q_pipeline_curate",
      // end-to-end corpus curation: near-dup clustering keeps one
      // representative per duplicate group, then quality + language gates
      // — the composition a training-data pipeline runs over raw documents
      (s, d) => graft.pipelines.Curate.curate(t(s, d, "documents"),
        "doc_id", "text", k = 3, threshold = 0.8, numHashes = 128,
        bands = 16, minQuality = 0.5, langs = Seq("en")),
      Some(curateSql(0.8, 0.5, "en"))),

    Entry("q_pipeline_traindata",
      // raw corpus -> packed token stream: curate, keep the stable-hash
      // train split, pack into 256-token chunks in shuffled-hash order
      (s, d) => graft.pipelines.TrainData.build(t(s, d, "documents"),
        "doc_id", "text"),
      Some {
        import graft.text.Sampling
        val splitCase = Sampling.splitAssignSql("doc_id", 42L,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val shuffleH = Sampling.hashFracSql("doc_id", 13L)
        s"""WITH RECURSIVE ${curateCtes(0.8)}, cur AS (${curateSelect(0.5, "en")}), tr AS (SELECT doc_id, n_tokens FROM cur WHERE ($splitCase) = 'train'), so AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER (ORDER BY $shuffleH, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset FROM tr) SELECT doc_id, n_tokens, start_offset, CAST(floor(start_offset / 256.0) AS BIGINT) AS chunk_id FROM so"""
      }),

    Entry("q_kmeans_increment",
      // incremental centroid maintenance: fit on the first 400 vectors,
      // then move each centroid to the exact weighted mean of (persisted
      // centroid × persisted count) and the new batch's members — the
      // mini-batch update whose per-ingest cost rides the batch; the
      // oracle replays fit, persisted counts, assignment, and the
      // weighted-mean arithmetic term for term
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val old = emb.where(col("vec_id") < 400)
        val cents = graft.sim.Clustering.kmeansFit(old, "vec_id",
          "embedding", k = 8, iters = 2, seed = 42L)
        val byC = graft.sim.Clustering
          .kmeansAssignWith(old, "vec_id", "embedding", cents)
          .groupBy("cluster").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        graft.sim.Clustering.kmeansIncrement(
          emb.where(col("vec_id") >= 400), "vec_id", "embedding",
          cents, Array.tabulate(8)(j => byC.getOrElse(j, 0L)))
          // gate surface: the rounded centroid serializes to exact
          // integer micro-units (driver's pandas sort can't take arrays)
          .withColumn("centroid", Q.csvMicros(col("centroid")))
      },
      Some(s"""WITH ${kmeansCtes(8, 2, 42L, "ic", "embedding", "vec_id < 400")}, """ +
        s"""pc AS (SELECT cluster, count(*) AS n_prev FROM icfin GROUP BY 1), """ +
        s"""pcf AS (SELECT c.cluster, c.cv, coalesce(pc.n_prev, 0) AS n_prev FROM icc2 c LEFT JOIN pc USING (cluster)), """ +
        s"""nvv AS (SELECT vec_id AS id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6) AS v FROM embeddings WHERE vec_id >= 400), """ +
        s"""nas AS (SELECT id, v, cluster FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn FROM (SELECT x.id, x.v, c.cluster, list_reduce(list_transform(list_zip(x.v, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, e) -> acc + e) AS d FROM nvv x, icc2 c)) WHERE rn = 1), """ +
        s"""nsum AS (SELECT cluster, i AS dim, CAST(sum(CAST(v[i] AS DECIMAL(24,6))) AS DOUBLE) AS s, count(*) AS nn FROM nas, unnest(generate_series(1, len(v))) AS g(i) GROUP BY 1, 2), """ +
        s"""um AS (SELECT n.cluster, n.dim, (CAST(p.n_prev AS DOUBLE) * p.cv[n.dim] + n.s) / CAST(p.n_prev + n.nn AS DOUBLE) AS m, n.nn FROM nsum n JOIN pcf p USING (cluster)), """ +
        s"""uv AS (SELECT cluster, max(nn) AS n_new, list(m ORDER BY dim) AS cv2 FROM um GROUP BY 1) """ +
        s"""SELECT p.cluster, CAST(p.n_prev AS BIGINT) AS n_prev, CAST(coalesce(uv.n_new, 0) AS BIGINT) AS n_new, CAST(p.n_prev + coalesce(uv.n_new, 0) AS BIGINT) AS n_total, ${Q.csvMicrosSql(s"list_transform(coalesce(uv.cv2, p.cv), x -> ${OmicsQueries.rndSql("x", 6)})")} AS centroid FROM pcf p LEFT JOIN uv USING (cluster)""")),

    Entry("q_kmeans",
      // deterministic k-means corpus clustering (mixture shaping):
      // assignments + distance after 4 exact-replay rounds — the oracle
      // unrolls the full fit (quantized grid, md5-rank init, exact
      // decimal centroid means, fold-ordered distances)
      (s, d) => graft.sim.Clustering.kmeansAssign(t(s, d, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 4, seed = 42L)
        .select(col("id").as("vec_id"), col("cluster"), col("dist")),
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 4, seed = 42L)} SELECT id AS vec_id, cluster, ${OmicsQueries.rndSql("d", 6)} AS dist FROM fin""")),

    Entry("q_embedding_outliers",
      // distance-to-own-centroid outlier report over the k-means fit:
      // vectors ≥ 1.5σ above their cluster's mean distance — the junk /
      // out-of-distribution detector. Distances are grid-exact, moments
      // are exact decimal sums, so the z-scores replay bit for bit
      (s, d) => graft.sim.Clustering.clusterOutliers(
        t(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 4, seed = 42L, zThreshold = 1.5),
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 4, seed = 42L)}, ad AS (SELECT id, cluster, ${OmicsQueries.rndSql("d", 6)} AS dist FROM fin), m AS (SELECT cluster, count(*) AS n, CAST(sum(CAST(dist AS DECIMAL(13,6))) AS DOUBLE) AS s1, CAST(sum(CAST(dist AS DECIMAL(13,6)) * CAST(dist AS DECIMAL(13,6))) AS DOUBLE) AS s2 FROM ad GROUP BY 1), st AS (SELECT cluster, mu, sqrt(var) AS sd FROM (SELECT cluster, n, s1 / CAST(n AS DOUBLE) AS mu, (s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0) AS var FROM m) WHERE n > 1 AND var > 0) SELECT ad.id, ad.cluster, ad.dist, ${OmicsQueries.rndSql("(ad.dist - st.mu) / st.sd", 6)} AS z FROM ad JOIN st USING (cluster) WHERE (ad.dist - st.mu) / st.sd >= 1.5""")),

    Entry("q_cluster_profile",
      // cluster occupancy shares — the rebalancing-policy input (compose
      // with domain_quota on the cluster label to cap dominant clusters)
      (s, d) => graft.sim.Clustering.clusterProfile(
        graft.sim.Clustering.kmeansAssign(t(s, d, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 4, seed = 42L)),
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 4, seed = 42L)}, tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM fin) SELECT cluster, count(*) AS size, ${OmicsQueries.rndSql("count(*) / (SELECT t FROM tot)", 6)} AS share FROM fin GROUP BY 1""")),

    Entry("q_cluster_balanced_sample",
      // the mixture-shaping composition end to end: k-means clusters ->
      // deterministic per-cluster quota (anti-domination control over
      // SEMANTIC clusters, the analogue of the per-domain cap) — every
      // stage replayed in one oracle
      (s, d) => {
        val assigns = graft.sim.Clustering.kmeansAssign(
            t(s, d, "embeddings"), "vec_id", "embedding",
            k = 8, iters = 4, seed = 42L)
          .select(col("id"), col("cluster"))
        graft.text.Sampling.domainQuota(assigns, "id", "cluster",
            quota = 30, seed = 9L)
          .select(col("id").as("vec_id"), col("cluster"), col("rn"))
      },
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 4, seed = 42L)}, r AS (SELECT id, cluster, CAST(row_number() OVER (PARTITION BY cluster ORDER BY ${graft.text.Sampling.hashFracSql("id", 9L)}, id) AS INTEGER) AS rn FROM fin) SELECT id AS vec_id, cluster, rn FROM r WHERE rn <= 30""")),

    Entry("q_ann_brute",
      // exact cosine top-k; queries broadcast, corpus streamed
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 3)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5), s AS (SELECT query_id, c.vec_id AS neighbor_id, list_sum(list_transform(list_zip(qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM q, embeddings c WHERE c.vec_id <> query_id), r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s) SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM r WHERE rn <= 3""")),

    Entry("q_dedup_embedding",
      // embedding-cosine near-dup pairs (exactness baseline; the SRP-LSH
      // banding in Similarity.lshTopK is the 100 TB path)
      (s, d) => Similarity.cosineNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.4),
      Some("""WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, list_sum(list_transform(list_zip(a.embedding, b.embedding), q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) SELECT id_a, id_b, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM p WHERE cos >= 0.4""")),

    Entry("q_hard_negatives",
      // contrastive-training negatives: per query, top-3 most-similar
      // vectors AFTER excluding the verified near-dup pair set (random
      // negatives are too easy, duplicates would be false negatives);
      // the exclusion is one anti-join on the pair key
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val dups = Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.4).select("id_a", "id_b")
        Similarity.hardNegatives(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", dups, k = 3)
      },
      Some("""WITH dup AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4), sym AS (SELECT id_a AS query_id, id_b AS neighbor_id FROM dup UNION ALL SELECT id_b, id_a FROM dup), q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5), s AS (SELECT query_id, c.vec_id AS neighbor_id, list_sum(list_transform(list_zip(qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM q, embeddings c WHERE c.vec_id <> query_id), f AS (SELECT s.* FROM s LEFT JOIN sym ON s.query_id = sym.query_id AND s.neighbor_id = sym.neighbor_id WHERE sym.query_id IS NULL), r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM f) SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM r WHERE rn <= 3""")),

    Entry("q_ann_lsh",
      // SRP-LSH approximate top-k: precision 1 (exact re-score), recall < 1
      // by design — but the seeded hyperplanes are BUILD-TIME constants, so
      // the whole pipeline (projections, sign bits, banding, exact rescore)
      // is a deterministic function of the data and DuckDB replays it with
      // the plane values inlined as literals (srpLshOracleSql below). The
      // left-fold addition order of the engine's aggregate() projection is
      // reproduced as an explicitly-parenthesized sum chain, so the sign
      // decisions are bit-identical.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.lshTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, k = 3)
      },
      Some(srpLshOracleSql(dim = 64, nBits = 32, bands = 8, seed = 7L, k = 3))),

    Entry("q_ann_ivf",
      // IVF coarse-quantized ANN with every cell probed: equals exact
      // brute-force top-k, so the brute-force oracle applies verbatim
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nCells = 16, nProbe = 16)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5), s AS (SELECT query_id, c.vec_id AS neighbor_id, list_sum(list_transform(list_zip(qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM q, embeddings c WHERE c.vec_id <> query_id), r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s) SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM r WHERE rn <= 3""")),

    Entry("q_ann_ivf_exact",
      // IVF over the REPLAYABLE Lloyd coarse quantizer with a genuinely
      // partial probe (2 of 8 cells, 5 query vectors) and exact cosine
      // rescore — the standalone gate for the q_hybrid_retrieval_ivf
      // semantic head: the oracle replays quantizer fit (kmeansCtes),
      // per-query probe ranking (gridded left-fold distance, (d, cluster)
      // tie-break), the routed candidate set and the rescore, so the
      // partial-probe top-k hash-matches, not just recall
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfExactTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nCells = 8, nProbe = 2,
          iters = 2, seed = 42L)
      },
      Some {
        val fold = (l: String) => s"list_reduce($l, (acc, e) -> acc + e)"
        val pdist = fold("list_transform(list_zip(q.v, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))")
        s"""WITH ${kmeansCtes(8, 2, 42L, "iv")}, """ +
        s"""pq AS (SELECT id AS query_id, v FROM ivvq WHERE id < 5), """ +
        s"""pd AS (SELECT q.query_id, c.cluster, $pdist AS d FROM pq q, ivc2 c), """ +
        s"""pb AS (SELECT query_id, cluster FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cluster) AS rn FROM pd) WHERE rn <= 2), """ +
        s"""cand AS (SELECT pb.query_id, f.id FROM ivfin f JOIN pb USING (cluster) WHERE f.id <> pb.query_id), """ +
        s"""qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5), """ +
        s"""ss AS (SELECT c.query_id, e.vec_id AS neighbor_id, list_sum(list_transform(list_zip(qe, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM cand c JOIN qv USING (query_id) JOIN embeddings e ON e.vec_id = c.id), """ +
        s"""r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM ss) """ +
        s"""SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, ${OmicsQueries.rndSql("cos", 6)} AS cos FROM r WHERE rn <= 3"""
      }),

    Entry("q_ann_pq",
      // product-quantization ADC search: per-subspace exact-replay
      // codebooks, corpus stored as m=4 codes (16x compression at
      // dim=64/ksub=8), queries score via per-subspace table lookups;
      // the oracle replays codebook fit, encoding, and ADC term for
      // term, so the full top-k hash-matches, not just recall
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.sim.Pq.pqTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, m = 4, ksub = 8, iters = 2,
          seed = 42L)
      },
      Some(pqOracleSql(topK = 3, m = 4, ksub = 8, iters = 2, seed = 42L,
        dim = 64, nQueries = 5))),

    Entry("q_embedding_drift",
      // first-order embedding-distribution monitor: cosine + L2 between
      // the even-id and odd-id slices' exact mean embeddings (decimal
      // per-dim sums on the 1e-6 grid; fixed-order folds) — four
      // single-row frames cross-joined at the end
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.embeddingDrift(emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding")
      },
      Some {
        def slice(pred: String, tag: String) =
          s"""v$tag AS (SELECT list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6) AS v FROM embeddings WHERE $pred), """ +
          s"""m$tag AS (SELECT i AS dim, CAST(sum(CAST(v[i] AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS m FROM v$tag, unnest(generate_series(1, len(v))) AS g(i) GROUP BY 1), """ +
          s"""w$tag AS (SELECT list(m ORDER BY dim) AS mv FROM m$tag), """ +
          s"""n$tag AS (SELECT count(*) AS n_$tag FROM v$tag)"""
        def fold(l: String) = s"list_reduce($l, (acc, e) -> acc + e)"
        val dotAB = fold("list_transform(list_zip(wa.mv, wb.mv), p -> p[1] * p[2])")
        val nA = fold("list_transform(wa.mv, x -> x * x)")
        val nB = fold("list_transform(wb.mv, x -> x * x)")
        val l2 = fold("list_transform(list_zip(wa.mv, wb.mv), p -> (p[1] - p[2]) * (p[1] - p[2]))")
        s"""WITH ${slice("vec_id % 2 = 0", "a")}, ${slice("vec_id % 2 = 1", "b")} SELECT n_a, n_b, ${OmicsQueries.rndSql(s"($dotAB) / (sqrt($nA) * sqrt($nB))", 6)} AS drift_cos, ${OmicsQueries.rndSql(s"sqrt($l2)", 6)} AS l2_dist FROM wa, wb, na, nb"""
      }),

    Entry("q_pq_encode",
      // the persisted PQ artifact itself: every vector as m=4 subspace
      // codes from codebooks fitted on the first 400 vectors — new rows
      // (vec_id >= 400) encode against the SAME persisted codebooks,
      // the incremental-indexing contract; oracle replays fit + argmin
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cbs = graft.sim.Pq.pqFit(emb.where(col("vec_id") < 400),
          "vec_id", "embedding", m = 4, ksub = 8, iters = 2, seed = 42L)
        graft.sim.Pq.pqEncode(emb, "vec_id", "embedding", cbs)
          .withColumnRenamed("id", "vec_id")
          // gate surface: codes ARRAY<INT> -> canonical string (the
          // driver's pandas sort can't take array cells)
          .withColumn("codes", Q.csvInts(col("codes")))
      },
      Some {
        val d = 16
        val blocks = (0 until 4).map { s =>
          kmeansCtes(8, 2, 42L + s, s"s$s",
            s"embedding[${s * d + 1}:${(s + 1) * d}]", "vec_id < 400")
        }.mkString(", ")
        // assign EVERY vector (not just the fit slice) to each fitted
        // subspace codebook — the same argmin/tie-break as the fin CTE
        val asn = (0 until 4).map { s =>
          s"""e$s AS (SELECT id, cluster FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn FROM (SELECT x.vec_id AS id, c.cluster, list_reduce(list_transform(list_zip(list_transform(x.embedding[${s * d + 1}:${(s + 1) * d}], v -> floor(CAST(v AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6), c.cv), p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, e) -> acc + e) AS d FROM embeddings x, s${s}c2 c)) WHERE rn = 1)"""
        }.mkString(", ")
        s"""WITH $blocks, $asn SELECT e0.id AS vec_id, ${Q.csvIntsSql("[e0.cluster, e1.cluster, e2.cluster, e3.cluster]")} AS codes FROM e0 JOIN e1 USING (id) JOIN e2 USING (id) JOIN e3 USING (id)"""
      }),

    Entry("q_lm_score",
      // CCNet-style self-perplexity: add-one bigram LM trained on the
      // corpus scores each doc's mean transition log-prob — the quality
      // threshold signal; exact integer counts until the final ln
      (s, d) => graft.text.Text.lmScore(t(s, d, "documents"),
        "doc_id", "text").withColumnRenamed("id", "doc_id"),
      Some(s"""WITH ltoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), lt2 AS (SELECT doc_id, ts, len(ts) AS n FROM ltoks WHERE len(ts) >= 2), bg AS MATERIALIZED (SELECT doc_id, CAST(concat('0x', substr(md5(ts[i]), 1, 15)) AS BIGINT) AS h1, CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i + 1]), 1, 15)) AS BIGINT) AS h12 FROM lt2, unnest(generate_series(1, n - 1)) AS g(i)), uni AS MATERIALIZED (SELECT h1, count(*) AS c1 FROM bg GROUP BY 1), bi AS MATERIALIZED (SELECT h1, h12, count(*) AS c12 FROM bg GROUP BY 1, 2), occ AS (SELECT doc_id, h1, h12, count(*) AS m FROM bg GROUP BY 1, 2, 3), vv AS (SELECT count(*) AS v FROM uni) SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams, ${OmicsQueries.rndSql("sum(m * ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + (SELECT v FROM vv) AS DOUBLE))) / CAST(sum(m) AS DOUBLE)", 6)} AS avg_logprob FROM occ JOIN bi USING (h1, h12) JOIN uni USING (h1) GROUP BY 1""")),

    Entry("q_source_report",
      // per-source corpus health rollup — the dashboard a curation run
      // publishes per ingestion source: volume, exact-dup rate, mean
      // quality (decimal-sum mean of the rounded per-doc score, so the
      // aggregate replays exactly), mean length, English share
      (s, d) => {
        val docs = t(s, d, "documents")
        Text.qualityScore(docs, "text")
          .withColumn("__ch", md5(Text.normalized(col("text"))))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            r6(Q.sumDec6(col("quality")) / count(lit(1)))
              .as("mean_quality"),
            r6(sum(col("n_tokens")).cast("double") / count(lit(1)))
              .as("mean_tokens"),
            countDistinct(col("__ch")).as("distinct_contents"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
          .withColumn("dup_rate",
            r6((col("n_docs") - col("distinct_contents")).cast("double") /
              col("n_docs")))
      },
      Some("""WITH t AS (SELECT doc_id, source, lang, text, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks FROM documents), f AS (SELECT doc_id, source, lang, text, CAST(len(text) AS INTEGER) AS n_chars, CAST(len(toks) AS INTEGER) AS n_tokens, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_punct, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'], lower(x)))) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio, CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS uniq_token_ratio FROM t), g AS (SELECT doc_id, source, lang, text, n_tokens, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio, stopword_ratio, uniq_token_ratio FROM f), q AS (SELECT source, lang, n_tokens, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ch, CAST(round(CAST(CAST(least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE)) * 0.4 + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * 5.0)) * 0.2 + least(CAST(1.0 AS DOUBLE), stopword_ratio * 5.0) * 0.2 + uniq_token_ratio * 0.2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS quality FROM g), a AS (SELECT source, count(*) AS n_docs, CAST(round(CAST(CAST(CAST(sum(CAST(quality AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mean_quality, CAST(round(CAST(CAST(CAST(sum(n_tokens) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mean_tokens, CAST(count(DISTINCT ch) AS BIGINT) AS distinct_contents, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en FROM q GROUP BY 1) SELECT source, n_docs, mean_quality, mean_tokens, distinct_contents, n_en, CAST(round(CAST(CAST(CAST(n_docs - distinct_contents AS DOUBLE) / n_docs AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS dup_rate FROM a""")),

    Entry("q_text_quality",
      (s, d) => Text.qualityScore(t(s, d, "documents").select("doc_id", "text"), "text")
        .select(col("doc_id"), col("n_tokens"),
          r6(col("punct_ratio")).as("punct_ratio"),
          r6(col("avg_token_len")).as("avg_token_len"),
          r6(col("stopword_ratio")).as("stopword_ratio"),
          r6(col("uniq_token_ratio")).as("uniq_token_ratio"),
          col("quality")),
      Some("""WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks FROM documents), f AS (SELECT doc_id, CAST(len(text) AS INTEGER) AS n_chars, CAST(len(toks) AS INTEGER) AS n_tokens, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_punct, CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS avg_token_len, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'], lower(x)))) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio, CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS uniq_token_ratio FROM t), g AS (SELECT doc_id, n_tokens, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio, avg_token_len, stopword_ratio, uniq_token_ratio FROM f) SELECT doc_id, n_tokens, CAST(round(CAST(CAST(punct_ratio AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS punct_ratio, CAST(round(CAST(CAST(avg_token_len AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS avg_token_len, CAST(round(CAST(CAST(stopword_ratio AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS stopword_ratio, CAST(round(CAST(CAST(uniq_token_ratio AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS uniq_token_ratio, CAST(round(CAST(CAST(least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE)) * 0.4 + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * 5.0)) * 0.2 + least(CAST(1.0 AS DOUBLE), stopword_ratio * 5.0) * 0.2 + uniq_token_ratio * 0.2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS quality FROM g""")),

    Entry("q_source_quality_norm",
      // per-source percent-rank of the quality score — cross-source
      // comparable thresholds (0.6 means different things on a clean vs
      // spammy source; the normalized rank cuts the same fraction
      // everywhere). Grid-CDF construction: the window runs over the
      // per-(source, value) relation, never a corpus-sized partition
      (s, d) => {
        val docs = t(s, d, "documents")
        val q = Text.qualityScore(docs.select("doc_id", "text"), "text")
          .select("doc_id", "quality")
          .join(docs.select("doc_id", "source"), "doc_id")
        graft.text.Sampling.groupPercentRank(q, "source", "quality")
          .select("doc_id", "source", "quality", "pct_rank")
      },
      Some(s"""WITH $qualityCtes SELECT q.doc_id, d.source, q.quality, ${OmicsQueries.rndSql("percent_rank() OVER (PARTITION BY d.source ORDER BY q.quality)", 6)} AS pct_rank FROM qq q JOIN documents d ON d.doc_id = q.doc_id""")),

    Entry("q_lang_id",
      (s, d) => Text.langId(t(s, d, "documents").select("doc_id", "lang", "text"), "text")
        .select("doc_id", "lang", "pred_lang", "pred_hits"),
      Some("""WITH t AS (SELECT doc_id, lang, list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS dt FROM documents), h AS (SELECT doc_id, lang, CAST(len(list_intersect(dt, ['der','die','das','und','ist','nicht','ein','mit','zu','ich'])) AS INTEGER) AS hde, CAST(len(list_intersect(dt, ['the','and','of','to','is','in','that','it','for','was'])) AS INTEGER) AS hen, CAST(len(list_intersect(dt, ['el','la','los','las','es','un','una','por','para','como'])) AS INTEGER) AS hes, CAST(len(list_intersect(dt, ['le','la','les','et','est','un','une','que','pour','dans'])) AS INTEGER) AS hfr FROM t) SELECT doc_id, lang, CASE WHEN hde >= hen AND hde >= hes AND hde >= hfr THEN 'de' WHEN hen >= hes AND hen >= hfr THEN 'en' WHEN hes >= hfr THEN 'es' ELSE 'fr' END AS pred_lang, CAST(greatest(hde, hen, hes, hfr) AS INTEGER) AS pred_hits FROM h""")),

    Entry("q_token_count",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        Text.bpeishTokenCount(col("text")).as("bpeish_tokens"),
        size(Text.tokens(col("text"))).as("ws_tokens")),
      Some("""SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpeish_tokens, CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS INTEGER) AS ws_tokens FROM documents"""))
  ,

    Entry("q_text_repetition",
      // Gopher-style in-document repetition stats via the native
      // struct-returning codegen kernel (one linear pass per doc, row-local
      // state, zero shuffle); the oracle rebuilds the same gram universes
      // with unnest + GROUP BY — counting is over gram STRINGS, so the two
      // engines agree exactly
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.catalyst.TextFunctions.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
          col("r.top2_count").as("top2_count"),
          col("r.top3_count").as("top3_count"),
          col("r.distinct_5grams").as("distinct_5grams")),
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts FROM documents), g2 AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS g FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)), t2 AS (SELECT doc_id, max(c) AS m FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1), g3 AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS g FROM toks, unnest(generate_series(1, len(ts) - 2)) AS u(i)), t3 AS (SELECT doc_id, max(c) AS m FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1), g5 AS (SELECT doc_id, array_to_string(ts[i:i+4], ' ') AS g FROM toks, unnest(generate_series(1, len(ts) - 4)) AS u(i)), d5 AS (SELECT doc_id, count(DISTINCT g) AS m FROM g5 GROUP BY 1) SELECT k.doc_id, CAST(len(k.ts) AS INTEGER) AS n_tokens, CAST(coalesce(t2.m, 0) AS INTEGER) AS top2_count, CAST(coalesce(t3.m, 0) AS INTEGER) AS top3_count, CAST(coalesce(d5.m, 0) AS INTEGER) AS distinct_5grams FROM toks k LEFT JOIN t2 ON k.doc_id = t2.doc_id LEFT JOIN t3 ON k.doc_id = t3.doc_id LEFT JOIN d5 ON k.doc_id = d5.doc_id""")),

    Entry("q_decontaminate",
      // benchmark decontamination: flag corpus docs sharing any word
      // 5-gram with the eval set (docs with doc_id % 40 == 0 stand in
      // for the benchmark). Eval hash set broadcast; corpus never
      // shuffles — only matching (id, hash) pairs reach the aggregate
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val eval = docs.where(col("doc_id") % 40 === 0)
        Dedup.decontaminate(docs, eval, "doc_id", "text", k = 5)
      },
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts FROM documents), sh0 AS (SELECT doc_id, CASE WHEN len(ts) >= 5 THEN array_to_string(ts[i:i+4], ' ') ELSE array_to_string(ts, ' ') END AS s FROM toks, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS g(i)), shh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh0), ev AS (SELECT DISTINCT h FROM shh WHERE doc_id % 40 = 0), hits AS (SELECT shh.doc_id, count(*) AS n_hits FROM shh JOIN ev USING (h) GROUP BY 1) SELECT d.doc_id, coalesce(hits.n_hits, 0) AS n_hits, coalesce(hits.n_hits, 0) > 0 AS contaminated FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id""")),

    Entry("q_contamination_frac",
      // graded decontamination: per corpus doc, the FRACTION of its
      // distinct 5-grams found in the eval set (doc_id % 40 == 0) —
      // pipelines threshold on this, not on any-hit. Same broadcast
      // shape as q_decontaminate; one exact integer division per doc
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        Dedup.contaminationFraction(docs.where(col("doc_id") % 40 =!= 0),
          docs.where(col("doc_id") % 40 === 0), "doc_id", "text", k = 5)
      },
      Some(s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS ts FROM documents), sh0 AS (SELECT doc_id, CASE WHEN len(ts) >= 5 THEN array_to_string(ts[i:i+4], ' ') ELSE array_to_string(ts, ' ') END AS s FROM toks, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS g(i) WHERE len(ts) > 0), shh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh0), ev AS (SELECT DISTINCT h FROM shh WHERE doc_id % 40 = 0), ng AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams FROM shh WHERE doc_id % 40 <> 0 GROUP BY 1), m AS (SELECT shh.doc_id, count(*) AS matched FROM shh JOIN ev USING (h) WHERE shh.doc_id % 40 <> 0 GROUP BY 1) SELECT ng.doc_id, ng.n_grams, CAST(coalesce(m.matched, 0) AS BIGINT) AS matched, ${OmicsQueries.rndSql("CAST(coalesce(m.matched, 0) AS DOUBLE) / ng.n_grams", 6)} AS contamination FROM ng LEFT JOIN m USING (doc_id)""")),

    Entry("q_decontaminate_verbatim",
      // verbatim-containment decontamination (round 13) — the STRICT
      // tier: flag corpus docs containing an eval entry's ENTIRE token
      // sequence as a contiguous run. Eval = 10-token slices (tokens
      // 4..13) of every 50th document, so each is verbatim-contained in
      // its source doc (and its clones) by construction while most docs
      // stay clean. Relational containment: positional gram hashes both
      // sides, contained iff some offset matches every eval gram — the
      // oracle replays offsets, counts, and md5 collisions identically
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val toks = filter(split(col("text"), "\\s+"),
          x => length(x) > lit(0))
        val eval = docs
          .select(col("doc_id"), slice(toks, 4, 10).as("__sl"))
          .where(col("doc_id") % 50 === 0 && size(col("__sl")) === 10)
          .select(col("doc_id"), array_join(col("__sl"), " ").as("text"))
        Dedup.decontaminateVerbatim(docs, eval, "doc_id", "text", k = 5)
      },
      Some("""WITH rtoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts FROM documents), ev AS (SELECT doc_id AS eid, ts[4:13] AS ets FROM rtoks WHERE doc_id % 50 = 0 AND len(ts) >= 13), eg AS (SELECT eid, i - 1 AS ep, CAST(concat('0x', substr(md5(array_to_string(ets[i:i+4], ' ')), 1, 15)) AS BIGINT) AS h FROM ev, unnest(generate_series(1, len(ets) - 4)) AS g(i)), egc AS (SELECT eid, count(*) AS egn FROM eg GROUP BY 1), dg AS (SELECT doc_id, i - 1 AS dp, CAST(concat('0x', substr(md5(array_to_string(ts[i:i+4], ' ')), 1, 15)) AS BIGINT) AS h FROM rtoks, unnest(generate_series(1, len(ts) - 4)) AS g(i) WHERE len(ts) >= 5), m AS (SELECT dg.doc_id, eg.eid, dg.dp - eg.ep AS off, count(*) AS mm FROM dg JOIN eg USING (h) GROUP BY 1, 2, 3), hits AS (SELECT doc_id, count(DISTINCT m.eid) AS n_verbatim FROM m JOIN egc ON m.eid = egc.eid WHERE m.mm = egc.egn GROUP BY 1) SELECT d.doc_id, CAST(coalesce(h.n_verbatim, 0) AS BIGINT) AS n_verbatim, coalesce(h.n_verbatim, 0) > 0 AS verbatim FROM documents d LEFT JOIN hits h USING (doc_id)""")),

    Entry("q_decontaminate_fuzzy",
      // fuzzy benchmark decontamination (the GPT-3/PaLM-style NEAR-dup
      // variant of q_decontaminate): corpus docs that are minhash-LSH
      // near-duplicates of any eval doc, via the incremental probe
      // against the eval set's persisted banded index — only the corpus
      // batch is sketched. Every corpus doc is emitted with its eval
      // match count and best jaccard.
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val eval = docs.where(col("doc_id") % 40 === 0)
        val corpus = docs.where(col("doc_id") % 40 =!= 0)
        val evalIdx = Dedup.bandedIndex(eval, "doc_id", "text",
          k = 3, numHashes = 128, bands = 16)
        val pairs = Dedup.minhashLshPairsIncremental(eval, corpus, evalIdx,
          "doc_id", "text", k = 3, threshold = 0.8)
        // keep only eval↔corpus pairs (the probe also yields
        // corpus↔corpus); sides are disjoint so the fixture's eval
        // predicate identifies them
        val hits = pairs
          .where((col("id_a") % 40 === 0) =!= (col("id_b") % 40 === 0))
          .withColumn("cid", when(col("id_a") % 40 === 0, col("id_b"))
            .otherwise(col("id_a")))
          .groupBy("cid")
          .agg(count(lit(1)).as("n_eval_matches"),
            max(col("jaccard")).as("best_jaccard"))
        corpus.select(col("doc_id"))
          .join(hits, corpus("doc_id") === hits("cid"), "left")
          .select(col("doc_id"),
            coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
            col("best_jaccard"),
            (coalesce(col("n_eval_matches"), lit(0L)) > 0)
              .as("near_contaminated"))
      },
      Some(s"""WITH $shingleCte, $minhashCandCtes, $verifyCtes, prs AS (${verifySelect(0.8)}) SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_matches, h.best_jaccard, coalesce(h.n, 0) > 0 AS near_contaminated FROM (SELECT doc_id FROM documents WHERE doc_id % 40 <> 0) d LEFT JOIN (SELECT CASE WHEN id_a % 40 = 0 THEN id_b ELSE id_a END AS cid, count(*) AS n, max(jaccard) AS best_jaccard FROM prs WHERE (id_a % 40 = 0) <> (id_b % 40 = 0) GROUP BY 1) h ON d.doc_id = h.cid""")),

    Entry("q_split_leakage",
      // split-leakage auditor: near-dup pairs that CROSS the train/test
      // assignment — the check that catches test questions leaking into
      // training via duplicates the split hash cannot see
      (s, d) => {
        val docs = t(s, d, "documents")
        val sp = graft.text.Sampling.splitAssign(docs, "doc_id", 31L,
          Seq(("train", 0.9), ("test", 0.1)))
          .select(col("doc_id"), col("split"))
        val pairs = Dedup.minhashLshPairs(docs.select("doc_id", "text"),
          "doc_id", "text", k = 3, threshold = 0.8)
        pairs
          .join(sp.select(col("doc_id").as("id_a"),
            col("split").as("split_a")), "id_a")
          .join(sp.select(col("doc_id").as("id_b"),
            col("split").as("split_b")), "id_b")
          .where(col("split_a") =!= col("split_b"))
          .select("id_a", "id_b", "jaccard", "split_a", "split_b")
      },
      Some {
        val splitCase = graft.text.Sampling.splitAssignSql("doc_id", 31L,
          Seq(("train", 0.9), ("test", 0.1)))
        s"""WITH $shingleCte, $minhashCandCtes, $verifyCtes, prs AS (${verifySelect(0.8)}), sp AS (SELECT doc_id, $splitCase AS split FROM documents) SELECT p.id_a, p.id_b, p.jaccard, a.split AS split_a, b.split AS split_b FROM prs p JOIN sp a ON p.id_a = a.doc_id JOIN sp b ON p.id_b = b.doc_id WHERE a.split <> b.split"""
      }),

    Entry("q_decontaminate_bloom",
      // the big-eval-set scale path of q_decontaminate: Bloom-filter
      // pre-pass (codegen membership test over the serialized bitmap)
      // then exact shuffle-join verify of the surviving sliver — no
      // false negatives, so the verified output is bit-identical to the
      // broadcast-exact tier and the two share one oracle
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val eval = docs.where(col("doc_id") % 40 === 0)
        Dedup.decontaminateBloom(docs, eval, "doc_id", "text", k = 5,
          fpp = 0.01)
      },
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts FROM documents), sh0 AS (SELECT doc_id, CASE WHEN len(ts) >= 5 THEN array_to_string(ts[i:i+4], ' ') ELSE array_to_string(ts, ' ') END AS s FROM toks, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS g(i)), shh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh0), ev AS (SELECT DISTINCT h FROM shh WHERE doc_id % 40 = 0), hits AS (SELECT shh.doc_id, count(*) AS n_hits FROM shh JOIN ev USING (h) GROUP BY 1) SELECT d.doc_id, coalesce(hits.n_hits, 0) AS n_hits, coalesce(hits.n_hits, 0) > 0 AS contaminated FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id""")),

    Entry("q_vocab_coverage",
      // tokenizer-vocab coverage: the English slice's distinct tokens
      // stand in for the vocab; per-doc OOV rate flags wrong-language /
      // junk docs before they reach tokenization
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = docs.where(col("lang") === "en")
          .select(explode(Text.tokens(lower(col("text")))).as("token"))
        Text.vocabCoverage(docs, "doc_id", "text", vocab)
      },
      Some(s"""WITH vt AS (SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS token FROM documents WHERE lang = 'en'), dt AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS token FROM documents) SELECT doc_id AS id, count(*) AS n_tokens, CAST(sum(CASE WHEN vt.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens, ${OmicsQueries.rndSql("CAST(sum(CASE WHEN vt.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS oov_rate FROM dt LEFT JOIN vt USING (token) GROUP BY 1""")),

    Entry("q_strip_markup",
      // crawl extraction: planted html/script/comment/entity wrapper
      // around each doc, stripped by the staged RE2-subset regex
      // pipeline (script/style content first so it can't leak into the
      // text); n_tags counts the tag stage's own removals
      (s, d) => {
        val wrapped = t(s, d, "documents").select(col("doc_id"),
          concat(lit("<html><body class=\"x\">"), col("text"),
            lit(" <!-- footer --> <script>var x = 1 < 2;</script>&nbsp;</body></html>"))
            .as("text"))
        Text.stripMarkup(wrapped, "text")
          .select("doc_id", "n_tags", "clean_text")
      },
      Some("""WITH w AS (SELECT doc_id, '<html><body class="x">' || text || ' <!-- footer --> <script>var x = 1 < 2;</script>&nbsp;</body></html>' AS text FROM documents), s2 AS (SELECT doc_id, regexp_replace(regexp_replace(text, '(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g') AS t FROM w) SELECT doc_id, CAST(len(regexp_extract_all(t, '</?[A-Za-z][^>]*>')) AS INTEGER) AS n_tags, trim(regexp_replace(regexp_replace(regexp_replace(t, '</?[A-Za-z][^>]*>', ' ', 'g'), '&[A-Za-z]+;|&#[0-9]+;', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text FROM s2""")),

    Entry("q_text_redact",
      // PII scrub (emails / SSNs / IPv4s / phones): sequential
      // count-then-replace regexp pipeline, zero shuffle; the oracle
      // replays the same stage order so counts are over each stage's
      // input exactly like the engine's fold
      (s, d) => graft.text.Text.redactPii(
        t(s, d, "documents").select("doc_id", "text"), "text")
        .select("doc_id", "redacted", "n_email", "n_ssn", "n_ipv4", "n_phone"),
      Some {
        val stages = graft.text.Text.PiiPatterns
        // fold the same pipeline into chained CTEs r1..r4, each counting
        // on its input then replacing (EXCLUDE carries the accumulator)
        val ctes = stages.zipWithIndex.map { case ((name, re, tok), i) =>
          val esc = re.replace("'", "''")
          s"r${i + 1} AS (SELECT * EXCLUDE (redacted), CAST(len(regexp_extract_all(redacted, '$esc')) AS INTEGER) AS n_$name, regexp_replace(redacted, '$esc', '$tok', 'g') AS redacted FROM r$i)"
        }.mkString(", ")
        s"""WITH r0 AS (SELECT doc_id, text AS redacted FROM documents), $ctes SELECT doc_id, redacted, n_email, n_ssn, n_ipv4, n_phone FROM r${stages.size}"""
      }),

    Entry("q_term_salience",
      // per-document salient terms: tf x (N/df) top-3 — the
      // no-transcendentals TF-IDF (integer-ratio scores are exact IEEE
      // divisions, bit-reproducible across engines)
      (s, d) => graft.text.Text.termSalienceTopK(
        t(s, d, "documents").select("doc_id", "text"), "doc_id", "text", k = 3)
        .select("doc_id", "term", "tf", "df", "salience"),
      Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), n AS (SELECT count(*) AS nd FROM documents), s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, CAST(tf.tf * n.nd AS DOUBLE) / dfq.df AS salience FROM tf JOIN dfq USING (term), n), r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY salience DESC, term) AS rn FROM s) SELECT doc_id, term, tf, df, salience FROM r WHERE rn <= 3""")),

    Entry("q_pmi_collocations",
      // PMI collocation mining over adjacent bigrams (count floor 5,
      // top 50 by grid-quantized pmi, lexicographic tie-break) — the
      // multi-word-expression detector for tokenizer/phrase decisions.
      // Corpus streams twice into vocab-bounded aggregates; totals are
      // two driver BIGINTs
      (s, d) => Text.pmiCollocations(t(s, d, "documents"), "text",
        minCount = 5, topK = 50),
      Some(s"""WITH tk AS (SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), un AS (SELECT unnest(ts) AS w FROM tk), uc AS (SELECT w, count(*) AS cu FROM un GROUP BY 1), nuv AS (SELECT CAST(sum(cu) AS BIGINT) AS nu FROM uc), bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2 FROM tk, unnest(generate_series(1, len(ts) - 1)) AS g(i) WHERE len(ts) >= 2), bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2), nbv AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM bc), sc AS (SELECT b.w1, b.w2, b.c, a1.cu AS c1, a2.cu AS c2, floor(ln(CAST(b.c AS DOUBLE) * nuv.nu * nuv.nu / (CAST(a1.cu AS DOUBLE) * a2.cu * nbv.nb)) * 1000000 + 0.5) / 1000000 AS pmi FROM bc b JOIN uc a1 ON a1.w = b.w1 JOIN uc a2 ON a2.w = b.w2, nuv, nbv WHERE b.c >= 5) SELECT w1, w2, c, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2, pmi FROM sc ORDER BY pmi DESC, w1, w2 LIMIT 50""")),

    Entry("q_vocab_cutoff",
      // tokenizer-design report: smallest frequency-ranked vocabulary
      // reaching 50/90/95/99% of token mass (exact integer coverage
      // gate, lexicographic tie-break). Corpus collapses to the vocab
      // relation first; the ranking window is vocab-sized
      (s, d) => Text.vocabSizeForCoverage(t(s, d, "documents"), "text",
        targetsPct = Seq(50, 90, 95, 99)),
      Some(s"""WITH fr AS (SELECT tok, count(*) AS f FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS tok FROM documents) GROUP BY 1), rk AS (SELECT tok, f, CAST(row_number() OVER (ORDER BY f DESC, tok) AS INTEGER) AS r, CAST(sum(f) OVER (ORDER BY f DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, CAST(sum(f) OVER () AS BIGINT) AS total FROM fr), xx AS (SELECT p.pct, rk.r, rk.cum, rk.total FROM rk, (VALUES (50), (90), (95), (99)) p(pct) WHERE rk.cum * 100 >= rk.total * p.pct) SELECT CAST(pct AS INTEGER) AS pct, CAST(min(r) AS INTEGER) AS vocab_size, CAST(min_by(cum, r) AS BIGINT) AS covered_tokens, CAST(max(total) AS BIGINT) AS total_tokens, ${OmicsQueries.rndSql("CAST(min_by(cum, r) AS DOUBLE) / max(total)", 6)} AS coverage FROM xx GROUP BY 1""")),

    Entry("q_vocab_topk",
      // vocabulary pass: token frequencies over the corpus, top 50 by
      // (count desc, token) — explode + partial-aggregated groupBy (the
      // map-side combine collapses each partition's token stream before
      // the exchange) + TakeOrdered; no global sort
      (s, d) => t(s, d, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(50),
      Some("""SELECT token, count(*) AS n FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token FROM documents) GROUP BY 1 ORDER BY n DESC, token LIMIT 50""")),

    Entry("q_dist_shift",
      // corpus drift profile: per-source language-distribution entropy and
      // KL(source || corpus) — the monitoring pass that catches a source
      // whose mix shifted between corpus builds. Pure count ratios + ln,
      // two exchanges (per-(source,lang) rollup, per-source agg), dim
      // joins broadcast
      (s, d) => {
        val docs = t(s, d, "documents").select("source", "lang")
        val bySl = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
        val byS = bySl.groupBy("source").agg(sum("n_sl").as("n_s"))
        val byL = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
        val tot = docs.agg(count(lit(1)).as("n_tot"))
        bySl.join(byS, "source").join(broadcast(byL), "lang")
          .crossJoin(broadcast(tot))
          .withColumn("p", col("n_sl") / col("n_s"))
          .withColumn("q", col("n_l") / col("n_tot"))
          .groupBy("source")
          .agg(r6(-sum(col("p") * log(col("p")))).as("entropy"),
            r6(sum(col("p") * log(col("p") / col("q")))).as("kl_vs_corpus"),
            count(lit(1)).as("n_langs"))
      },
      Some("""WITH sl AS (SELECT source, lang, count(*) AS n_sl FROM documents GROUP BY 1, 2), s AS (SELECT source, sum(n_sl) AS n_s FROM sl GROUP BY 1), l AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1), t AS (SELECT count(*) AS n_tot FROM documents), j AS (SELECT sl.source, CAST(sl.n_sl AS DOUBLE) / s.n_s AS p, CAST(l.n_l AS DOUBLE) / t.n_tot AS q FROM sl JOIN s USING (source) JOIN l USING (lang), t) SELECT source, CAST(round(CAST(CAST(-sum(p * ln(p)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS entropy, CAST(round(CAST(CAST(sum(p * ln(p / q)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS kl_vs_corpus, count(*) AS n_langs FROM j GROUP BY 1""")),

    Entry("q_text_normalize",
      // Unicode canonicalization pass (NFC + accent strip + casefold) via
      // the native codegen kernels — row-local, zero shuffle; the fixture
      // is ASCII so the oracle guards the plumbing while CatalystSpec
      // goldens pin the non-ASCII semantics against known strings
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        graft.catalyst.TextFunctions.nfcNormalize(col("text")).as("nfc"),
        lower(graft.catalyst.TextFunctions.stripAccents(col("text"))).as("folded")),
      Some("""SELECT doc_id, nfc_normalize(text) AS nfc, lower(strip_accents(text)) AS folded FROM documents""")),

    Entry("q_strip_spans",
      // the ACTION half of substring dedup: remove every token the
      // repeated-span detector covers and reassemble the cleaned text —
      // the pass that actually shrinks the training set. Oracle replays
      // span detection, coverage expansion, anti-join, reassembly.
      (s, d) => Dedup.stripRepeatedSpans(t(s, d, "documents"),
        "doc_id", "text", k = 8, minDf = 2),
      Some(s"""WITH ${repeatedSpansCtes(8, 2)}, spans AS (SELECT id, min(pos) AS ss, max(pos) + 8 AS se FROM isl2 GROUP BY id, island), cov AS (SELECT DISTINCT id, i AS pos FROM spans, unnest(generate_series(ss, se - 1)) AS g(i)), alltok AS (SELECT id, i - 1 AS pos, ts[i] AS tok FROM (SELECT id, ts, len(ts) AS n FROM rtoks WHERE len(ts) > 0), unnest(generate_series(1, n)) AS g(i)), kept AS (SELECT a.id, a.pos, a.tok FROM alltok a LEFT JOIN cov ON cov.id = a.id AND cov.pos = a.pos WHERE cov.id IS NULL) SELECT t.id, t.cnt AS n_tokens, t.cnt - coalesce(k.kc, 0) AS dup_tokens, coalesce(k.kc, 0) AS kept_tokens, coalesce(k.ct, '') AS clean_text FROM (SELECT id, count(*) AS cnt FROM alltok GROUP BY 1) t LEFT JOIN (SELECT id, count(*) AS kc, string_agg(tok, ' ' ORDER BY pos) AS ct FROM kept GROUP BY 1) k USING (id)""")),

    Entry("q_line_dedup",
      // CCNet-style keep-first paragraph dedup: the corpus is segmented
      // into 12-token windows, every later occurrence of a duplicated
      // segment is dropped (exactly one copy survives, the globally
      // first), docs reassembled from survivors — the other substring
      // policy next to q_strip_spans' remove-ALL-copies threshold strip
      (s, d) => Dedup.segmentDedupKeepFirst(
        Dedup.tokenWindowSegments(t(s, d, "documents"), "doc_id", "text",
          segTokens = 12)),
      Some("""WITH rt AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts FROM documents), t2 AS (SELECT id, ts, len(ts) AS n FROM rt WHERE len(ts) > 0), segs AS (SELECT id, i AS seg_pos, array_to_string(ts[i * 12 + 1 : i * 12 + 12], ' ') AS segment FROM t2, unnest(generate_series(0, (n - 1) // 12)) AS g(i)), r AS (SELECT id, seg_pos, segment, row_number() OVER (PARTITION BY segment ORDER BY id, seg_pos) AS rn FROM segs) SELECT id, count(*) AS n_segments, CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_segments, CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed_segments, coalesce(string_agg(CASE WHEN rn = 1 THEN segment END, ' ' ORDER BY seg_pos), '') AS clean_text FROM r GROUP BY 1""")),

    Entry("q_edit_verify",
      // the two-phase near-dup pipeline end to end: winnowing
      // fingerprints generate candidates (recall tier, minShared=1),
      // Levenshtein verifies each pair exactly (precision tier) — dup
      // iff dist*100 <= max_len*40, pure integer gate. Cost bounded by
      // the candidate set; the DP runs as the engines' native kernels
      (s, d) => {
        val docs = t(s, d, "documents")
        val cands = Dedup.winnowPairs(docs, "doc_id", "text", k = 4,
          window = 4, minShared = 1, maxFpDf = 100)
        Dedup.editVerifyPairs(docs, "doc_id", "text", cands, simPct = 60)
      },
      Some(s"""WITH ${winnowCtes(k = 4, w = 4)}, pdf AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1), ok AS (SELECT fp FROM pdf WHERE df BETWEEN 2 AND 100), cand AS (SELECT a.id AS id_a, b.id AS id_b FROM fps a JOIN fps b USING (fp) JOIN ok USING (fp) WHERE a.id < b.id GROUP BY 1, 2) SELECT c.id_a, c.id_b, CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist, CAST(greatest(len(da.text), len(db.text)) AS INTEGER) AS max_len, (levenshtein(da.text, db.text) * 100 <= greatest(len(da.text), len(db.text)) * 40) AS is_dup FROM cand c JOIN documents da ON da.doc_id = c.id_a JOIN documents db ON db.doc_id = c.id_b""")),

    Entry("q_boilerplate_strip",
      // per-SOURCE boilerplate removal (CCNet/RefinedWeb chrome pass):
      // 3-token segments appearing in >= 2 docs AND >= 8% of a source's
      // docs are site chrome — every copy removed from that source. The
      // ratio gate is exact integer arithmetic (df*100 >= docs*8), the
      // df exchange carries 60-bit hashes, the decision set is broadcast
      (s, d) => Dedup.boilerplateStrip(t(s, d, "documents"), "doc_id",
        "text", "source", segTokens = 3, minDf = 2, maxDfPct = 8),
      Some("""WITH rt AS (SELECT doc_id AS id, source, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts FROM documents), t2 AS (SELECT id, source, ts, len(ts) AS n FROM rt WHERE len(ts) > 0), segs AS (SELECT id, source, i AS seg_pos, array_to_string(ts[i * 3 + 1 : i * 3 + 3], ' ') AS segment FROM t2, unnest(generate_series(0, (n - 1) // 3)) AS g(i)), sd AS (SELECT source, count(DISTINCT id) AS src_docs FROM segs GROUP BY 1), dfr AS (SELECT source, segment, count(DISTINCT id) AS df FROM segs GROUP BY 1, 2), boiler AS (SELECT source, segment FROM dfr JOIN sd USING (source) WHERE df >= 2 AND df * 100 >= src_docs * 8) SELECT s.id, s.source AS source, count(*) AS n_segments, CAST(sum(CASE WHEN b.segment IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed_segments, CAST(count(*) - sum(CASE WHEN b.segment IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept_segments, coalesce(string_agg(CASE WHEN b.segment IS NULL THEN s.segment END, ' ' ORDER BY s.seg_pos), '') AS clean_text FROM segs s LEFT JOIN boiler b ON b.source = s.source AND b.segment = s.segment GROUP BY 1, 2""")),

    Entry("q_semantic_dedup",
      // SemDeDup: k-means cells bound the quadratic cosine scoring (the
      // scale path next to the all-pairs q_dedup_embedding baseline);
      // prune rule = "duplicate of the smallest earlier id in MY cluster
      // with cos >= 0.4". Oracle replays the exact k-means fit and the
      // within-cluster scoring term for term.
      (s, d) => graft.sim.Clustering.semanticDedup(t(s, d, "embeddings"),
          "vec_id", "embedding", threshold = 0.4, k = 8, iters = 4,
          seed = 42L)
        .select(col("id").as("vec_id"), col("cluster"), col("pruned"),
          col("dup_of"), col("dup_cos")),
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 4, seed = 42L)}, av AS (SELECT f.id, f.cluster, e.embedding AS v FROM fin f JOIN embeddings e ON e.vec_id = f.id), p AS (SELECT a.id AS id_a, b.id AS id_b, list_sum(list_transform(list_zip(a.v, b.v), q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM av a JOIN av b ON a.cluster = b.cluster AND a.id < b.id), dm AS (SELECT id_b AS id, min(id_a) AS dup_of FROM p WHERE cos >= 0.4 GROUP BY 1), dc AS (SELECT dm.id, dm.dup_of, CAST(round(CAST(CAST(p.cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS dup_cos FROM dm JOIN p ON p.id_b = dm.id AND p.id_a = dm.dup_of) SELECT f.id AS vec_id, f.cluster, dc.dup_of IS NOT NULL AS pruned, dc.dup_of, dc.dup_cos FROM fin f LEFT JOIN dc ON dc.id = f.id""")),

    Entry("q_chunk_windows",
      // training-sequence construction for LONG documents: 32-token
      // context windows advancing by 24 (8-token overlap); the map-only
      // complement of q_pack (which concatenates short docs). The last
      // chunk is the first that reaches the doc end — every token
      // covered, no fully-redundant tail.
      (s, d) => graft.text.Sampling.chunkWindows(t(s, d, "documents"),
        "doc_id", "text", window = 32, stride = 24),
      Some("""WITH rt AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts FROM documents), t2 AS (SELECT id, ts, len(ts) AS n FROM rt WHERE len(ts) > 0), ch AS (SELECT id, CAST(i AS INTEGER) AS chunk_idx, CAST(i * 24 AS INTEGER) AS start_tok, ts[i * 24 + 1 : i * 24 + 32] AS chunk FROM t2, unnest(generate_series(0, (greatest(n - 32, 0) + 23) // 24)) AS g(i)) SELECT id, chunk_idx, start_tok, CAST(len(chunk) AS INTEGER) AS n_chunk_tokens, array_to_string(chunk, ' ') AS chunk_text FROM ch""")),

    Entry("q_span_corrupt",
      // T5-style denoising pairs: 3-token spans masked at 15% by an
      // md5-derived draw (pure function of seed/doc/bucket — re-runs
      // regenerate identical pairs), input gets <extra_id_K> sentinels
      // in doc order, target lists sentinel + hidden tokens. One
      // zero-shuffle projection; the mask draw replays exactly in SQL
      (s, d) => graft.text.Sampling.spanCorrupt(t(s, d, "documents"),
        "doc_id", "text", spanTokens = 3, maskPct = 15, seed = 7L),
      Some("""WITH rt AS (SELECT doc_id AS id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts FROM documents), t2 AS (SELECT id, ts, len(ts) AS n FROM rt WHERE len(ts) > 0), bs AS (SELECT id, n, i AS b, array_to_string(ts[i * 3 + 1 : i * 3 + 3], ' ') AS seg, least(3, n - i * 3) AS seglen, (CAST(concat('0x', substr(md5(concat('sc7:', CAST(id AS VARCHAR), '_', CAST(i AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 15) AS m FROM t2, unnest(generate_series(0, (n - 1) // 3)) AS g(i)), mr AS (SELECT id, n, b, seg, seglen, m, sum(CASE WHEN m THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY b) - 1 AS k FROM bs) SELECT id, CAST(n AS INTEGER) AS n_tokens, CAST(coalesce(sum(CASE WHEN m THEN seglen END), 0) AS BIGINT) AS n_masked, string_agg(CASE WHEN m THEN concat('<extra_id_', CAST(k AS VARCHAR), '>') ELSE seg END, ' ' ORDER BY b) AS input_text, coalesce(string_agg(CASE WHEN m THEN concat('<extra_id_', CAST(k AS VARCHAR), '> ', seg) END, ' ' ORDER BY b), '') AS target_text FROM mr GROUP BY id, n""")),

    Entry("q_cms_heavy",
      // count-min sketch (depth 4 x width 512, md5 row hashes): the
      // mergeable heavy-hitter summary next to q_kmv_distinct's distinct
      // sketch. The gate compares every token's point estimate against
      // its true count (est >= true always; overshoot = collisions) —
      // both sides replay the identical md5 bucket draws.
      (s, d) => {
        val toks = t(s, d, "documents").select(
          explode(filter(split(lower(col("text")), "\\s+"),
            x => length(x) > 0)).as("tok"))
        val sketch = graft.stats.Sketches.cmsBuild(toks, "tok",
          depth = 4, width = 512, seed = 7L)
        val truec = toks.groupBy("tok").agg(count(lit(1)).as("true_count"))
        truec.join(graft.stats.Sketches.cmsEstimate(sketch,
            truec.select("tok"), "tok", depth = 4, width = 512, seed = 7L),
          Seq("tok"))
          .select(col("tok"), col("true_count"), col("cms_est"),
            (col("cms_est") - col("true_count")).as("overcount"))
      },
      Some("""WITH occ AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok FROM documents), cell AS (SELECT r, bucket, count(*) AS c FROM (SELECT g.r, CAST(concat('0x', substr(md5('cms7:' || CAST(g.r AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT) % 512 AS bucket FROM occ, unnest(generate_series(0, 3)) AS g(r)) GROUP BY 1, 2), tc AS (SELECT tok, count(*) AS true_count FROM occ GROUP BY 1), est AS (SELECT tok, min(c) AS cms_est FROM (SELECT t.tok, cell.c FROM (SELECT DISTINCT tok FROM occ) t, unnest(generate_series(0, 3)) AS g(r) JOIN cell ON cell.r = g.r AND cell.bucket = CAST(concat('0x', substr(md5('cms7:' || CAST(g.r AS VARCHAR) || ':' || t.tok), 1, 15)) AS BIGINT) % 512) GROUP BY 1) SELECT tok, true_count, cms_est, cms_est - true_count AS overcount FROM tc JOIN est USING (tok)""")),

    Entry("q_novelty_score",
      // content-novelty: fraction of a doc's 8-gram occurrences unique
      // to it corpus-wide — the inverse of the repeated-span signal
      // (low novelty = assembled from shared spans even if no single
      // span crosses a strip threshold)
      (s, d) => Text.noveltyScore(t(s, d, "documents"), "doc_id", "text",
        k = 8),
      Some("""WITH rt AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts FROM documents), tk AS (SELECT id, ts, len(ts) AS n FROM rt WHERE len(ts) >= 8), g AS (SELECT id, CAST(concat('0x', substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15)) AS BIGINT) AS gram FROM tk, unnest(generate_series(1, n - 7)) AS gi(i)), gdf AS (SELECT gram, count(DISTINCT id) AS df FROM g GROUP BY 1) SELECT id, count(*) AS n_grams, CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams, CAST(round(CAST(CAST(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS novelty FROM g JOIN gdf USING (gram) GROUP BY 1""")),

    Entry("q_bpe_merges",
      // BPE vocabulary-training pair scan: within-token adjacent char
      // pairs counted per OCCURRENCE, top 20 merge candidates with a
      // lexicographic tie-break — the deterministic inner step of a BPE
      // trainer (the loop is scan + re-segment, the EM fixed-point shape)
      (s, d) => Text.bpeMergeStats(t(s, d, "documents"), "text", topK = 20),
      Some("""WITH ot AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tk FROM documents), t2 AS (SELECT tk FROM ot WHERE len(tk) >= 2), p AS (SELECT substr(tk, i, 2) AS pair FROM t2, unnest(generate_series(1, len(tk) - 1)) AS g(i)), c AS (SELECT pair, count(*) AS pair_count FROM p GROUP BY 1), r AS (SELECT pair, pair_count, CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS INTEGER) AS rank FROM c) SELECT pair, pair_count, rank FROM r WHERE rank <= 20""")),

    Entry("q_hash_embed",
      // feature-hashing document embedding: md5-bucketed token counts →
      // dense L2-normalized vector — the text→vector bridge for corpora
      // without model embeddings; exact integers until the final
      // normalize, so the whole vector replays in the oracle
      // gate surface: the L2-normalized vector serializes to exact
      // integer micro-units (driver's pandas sort can't take arrays)
      (s, d) => Text.hashEmbed(t(s, d, "documents"), "doc_id", "text",
        dim = 64, seed = 11L)
        .withColumn("vec", Q.csvMicros(col("vec"))),
      Some(s"""WITH ot AS (SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS tk FROM documents), b AS (SELECT id, CAST(concat('0x', substr(md5('he11:' || tk), 1, 15)) AS BIGINT) % 64 AS bucket, count(*) AS c FROM ot GROUP BY 1, 2), grid AS (SELECT i.id, gd.dim FROM (SELECT DISTINCT id FROM b) i, unnest(generate_series(0, 63)) AS gd(dim)), d AS (SELECT grid.id, list(CAST(coalesce(b.c, 0) AS DOUBLE) ORDER BY grid.dim) AS raw FROM grid LEFT JOIN b ON b.id = grid.id AND b.bucket = grid.dim GROUP BY 1), n AS (SELECT id, raw, sqrt(list_reduce(list_transform(raw, x -> x * x), (a, e) -> a + e)) AS nn FROM d) SELECT id, ${Q.csvMicrosSql(s"list_transform(raw, x -> ${OmicsQueries.rndSql("x / nn", 6)})")} AS vec FROM n""")),

    Entry("q_text_ann",
      // end-to-end content similarity search with NO model embeddings:
      // hash-embed the corpus, then exact cosine top-5 for three query
      // docs (broadcast queries, corpus streamed; the SRP/IVF tiers are
      // the scale path once vectors exist). The engine's cosine kernel
      // narrows to float32 — the oracle replicates the narrowing with
      // CAST(.. AS REAL) so every cosine matches bit for bit.
      (s, d) => {
        val emb = Text.hashEmbed(t(s, d, "documents"), "doc_id", "text",
            dim = 64, seed = 11L)
          .select(col("id").as("vec_id"), col("vec").as("embedding"))
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 5)
      },
      Some {
        val he = s"""WITH ot AS (SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS tk FROM documents), b AS (SELECT id, CAST(concat('0x', substr(md5('he11:' || tk), 1, 15)) AS BIGINT) % 64 AS bucket, count(*) AS c FROM ot GROUP BY 1, 2), grid AS (SELECT i.id, gd.dim FROM (SELECT DISTINCT id FROM b) i, unnest(generate_series(0, 63)) AS gd(dim)), d AS (SELECT grid.id, list(CAST(coalesce(b.c, 0) AS DOUBLE) ORDER BY grid.dim) AS raw FROM grid LEFT JOIN b ON b.id = grid.id AND b.bucket = grid.dim GROUP BY 1), n AS (SELECT id, raw, sqrt(list_reduce(list_transform(raw, x -> x * x), (a, e) -> a + e)) AS nn FROM d), emb AS (SELECT id, list_transform(raw, x -> CAST(${OmicsQueries.rndSql("x / nn", 6)} AS REAL)) AS v FROM n)"""
        val cos = "list_sum(list_transform(list_zip(q.v, c.v), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
        s"""$he, q AS (SELECT id AS query_id, v FROM emb WHERE id < 3), s AS (SELECT query_id, c.id AS neighbor_id, $cos AS cos FROM q, emb c WHERE c.id <> q.query_id), r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s) SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM r WHERE rn <= 5"""
      }),

    Entry("q_curriculum_budget",
      // token-budget curriculum head: the best-quality documents up to a
      // 20k-token budget — quality-desc global order via the distributed
      // two-pass prefix sum (range exchange + per-partition offsets, no
      // single-task window), keep rows whose running offset is under
      // budget. The quality key is the rounded 6-decimal score, so the
      // total order and every offset replay exactly
      (s, d) => {
        val q = Text.qualityScore(
            t(s, d, "documents").select("doc_id", "text"), "text")
          .select(col("doc_id"), col("n_tokens"), col("quality"))
          .withColumn("__negq", -col("quality"))
        graft.text.Sampling.withRunningOffset(q, Seq("__negq", "doc_id"),
          col("n_tokens"), "start_offset")
          .where(col("start_offset") < 20000L)
          .select(col("doc_id"), col("n_tokens"), col("quality"),
            col("start_offset"))
      },
      Some("""WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks FROM documents), f AS (SELECT doc_id, CAST(len(text) AS INTEGER) AS n_chars, CAST(len(toks) AS INTEGER) AS n_tokens, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_punct, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'], lower(x)))) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio, CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS uniq_token_ratio FROM t), g AS (SELECT doc_id, n_tokens, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio, stopword_ratio, uniq_token_ratio FROM f), qq AS (SELECT doc_id, n_tokens, CAST(round(CAST(CAST(least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE)) * 0.4 + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_ratio * 5.0)) * 0.2 + least(CAST(1.0 AS DOUBLE), stopword_ratio * 5.0) * 0.2 + uniq_token_ratio * 0.2 AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS quality FROM g), so AS (SELECT doc_id, n_tokens, quality, CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset FROM qq) SELECT doc_id, n_tokens, quality, start_offset FROM so WHERE start_offset < 20000""")),

    Entry("q_embed_whiten",
      // per-dimension whitening of the embedding lake (retrieval
      // hygiene before cosine/IP search): one exact-decimal moment pass
      // to 64 rows, then a zero-shuffle literal-moment projection. The
      // oracle recomputes the same moments and replays each (x-m)/sd
      // bit for bit; output serialized as exact micro-units
      (s, d) => Similarity.whiten(t(s, d, "embeddings"), "vec_id",
          "embedding")
        .select(col("id"), Q.csvMicros(col("w")).as("w")),
      Some(s"""WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), ex AS (SELECT id, i, v[i] AS x FROM e, unnest(generate_series(1, len(v))) AS g(i)), mo AS (SELECT i, count(*) AS n, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS s, CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS ss FROM ex GROUP BY 1), st AS (SELECT i, s / n AS m, sqrt((ss - s * s / n) / (n - 1)) AS sd FROM mo), wv AS (SELECT ex.id, ex.i, CASE WHEN st.sd = 0 THEN CAST(0.0 AS DOUBLE) ELSE (ex.x - st.m) / st.sd END AS w FROM ex JOIN st USING (i)) SELECT id, string_agg(CAST(CAST(round(w * 1000000) AS BIGINT) AS VARCHAR), ',' ORDER BY i) AS w FROM wv GROUP BY 1""")),

    Entry("q_embed_int8",
      // symmetric int8 embedding quantization (absmax/127 per vector) —
      // the 4x storage/shuffle compression for an embedding lake; codes
      // and scales replay bit for bit (away-from-zero rounding spelled
      // as shared floor arithmetic). Zero shuffle
      (s, d) => Similarity.quantizeInt8(t(s, d, "embeddings"), "vec_id",
        "embedding")
        .withColumn("q", Q.csvInts(col("q"))),
      Some(s"""WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), m AS (SELECT id, v, list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma FROM e), sq AS (SELECT id, v, CASE WHEN ma = 0 THEN CAST(0.0 AS DOUBLE) ELSE ma / 127.0 END AS s FROM m) SELECT id, ${OmicsQueries.rndSql("s", 6)} AS scale, ${Q.csvIntsSql("list_transform(v, x -> CAST(CASE WHEN s = 0 THEN 0 WHEN x >= 0 THEN floor(x / s + 0.5) ELSE -floor(-x / s + 0.5) END AS BIGINT))")} AS q FROM sq""")),

    Entry("q_ann_int8",
      // similarity search OVER THE COMPRESSED LAKE: quantize to int8,
      // dequantize (codes × rounded scale), exact cosine top-5 — proves
      // the 4x-compressed embeddings remain queryable end to end; the
      // float32 narrowing inside the scoring kernel is replicated with
      // CAST(.. AS REAL) so every cosine matches bit for bit
      (s, d) => {
        val deq = Similarity.quantizeInt8(t(s, d, "embeddings"), "vec_id",
            "embedding")
          .select(col("id").as("vec_id"),
            expr("transform(q, c -> c * scale)").as("embedding"))
        Similarity.bruteForceTopK(deq, deq.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 5)
      },
      Some {
        val dq = s"""WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), m AS (SELECT id, v, list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma FROM e), sq AS (SELECT id, v, CASE WHEN ma = 0 THEN CAST(0.0 AS DOUBLE) ELSE ma / 127.0 END AS s FROM m), dq AS (SELECT id, ${OmicsQueries.rndSql("s", 6)} AS sc, list_transform(v, x -> CAST(CASE WHEN s = 0 THEN 0 WHEN x >= 0 THEN floor(x / s + 0.5) ELSE -floor(-x / s + 0.5) END AS BIGINT)) AS qc FROM sq), emb AS (SELECT id, list_transform(qc, c -> CAST(CAST(c AS DOUBLE) * sc AS REAL)) AS v FROM dq)"""
        val cos = "list_sum(list_transform(list_zip(q.v, c.v), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
        s"""$dq, qv AS (SELECT id AS query_id, v FROM emb WHERE id < 3), sc2 AS (SELECT query_id, c.id AS neighbor_id, $cos AS cos FROM qv q, emb c WHERE c.id <> q.query_id), r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM sc2) SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, CAST(round(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cos FROM r WHERE rn <= 5"""
      }),

    Entry("q_kn_bigrams",
      // Kneser-Ney smoothed bigram table (top 50): the LM-training counts
      // a perplexity filter is built from — exact integer count/
      // continuation/type aggregates, one fixed IEEE p_kn expression per
      // row, no double sums anywhere, fully hash-gated
      (s, d) => Text.knSmoothedBigrams(t(s, d, "documents"), "text",
        topK = 50, discount = 0.75),
      Some(s"""WITH tk AS (SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2 FROM tk, unnest(generate_series(1, len(ts) - 1)) AS g(i) WHERE len(ts) >= 2), pc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2), lt AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1, count(*) AS n1_left FROM pc GROUP BY 1), rt AS (SELECT w2, count(*) AS n1_right FROM pc GROUP BY 1), tt AS (SELECT count(*) AS t FROM pc) SELECT p.w1, p.w2, p.c, l.cw1, l.n1_left, r.n1_right, ${OmicsQueries.rndSql("(p.c - 0.75) / l.cw1 + 0.75 * l.n1_left / l.cw1 * (r.n1_right / CAST((SELECT t FROM tt) AS DOUBLE))", 6)} AS p_kn FROM pc p JOIN lt l USING (w1) JOIN rt r USING (w2) ORDER BY p.c DESC, p.w1, p.w2 LIMIT 50""")),

    Entry("q_zipf_fit",
      // corpus-health Zipf fit: OLS of ln(freq) on ln(rank) over the top
      // 200 terms — slope near −1 is natural language; drift means
      // template/synthetic flooding. Both logs grid-quantize after the
      // transcendental and the OLS moments are exact decimal sums, so
      // the single row replays bit for bit
      (s, d) => Text.zipfFit(t(s, d, "documents"), "text", topN = 200),
      Some {
        def g(x: String) = s"CAST(floor(ln($x) * 1e6 + 0.5) / 1e6 AS DECIMAL(13,6))"
        val slope = "(CAST(n_terms AS DOUBLE) * sxy - sx * sy) / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)"
        val intercept = s"(sy - ($slope) * sx) / CAST(n_terms AS DOUBLE)"
        val r2 = "((CAST(n_terms AS DOUBLE) * sxy - sx * sy) * (CAST(n_terms AS DOUBLE) * sxy - sx * sy)) / ((CAST(n_terms AS DOUBLE) * sxx - sx * sx) * (CAST(n_terms AS DOUBLE) * syy - sy * sy))"
        s"""WITH tc AS (SELECT tok, count(*) AS freq FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS tok FROM documents) GROUP BY 1), top AS (SELECT tok, freq FROM tc ORDER BY freq DESC, tok LIMIT 200), rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS r FROM top), xy AS (SELECT ${g("CAST(r AS DOUBLE)")} AS x, ${g("CAST(freq AS DOUBLE)")} AS y FROM rk), m AS (SELECT count(*) AS n_terms, CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy FROM xy) SELECT n_terms, ${OmicsQueries.rndSql(slope, 6)} AS slope, ${OmicsQueries.rndSql(intercept, 6)} AS intercept, ${OmicsQueries.rndSql(r2, 6)} AS r2 FROM m"""
      }),

    Entry("q_bm25_topk",
      // BM25 corpus mining against a seed term bag — top-20 most relevant
      // documents. idf is 1e-6-grid-quantized straight after the ln (libm
      // ulp guard) and each per-term score floors to integer micro-units
      // before the per-doc sum, so the BIGINT score is shuffle-order
      // independent and the oracle replays sketch arithmetic exactly
      (s, d) => Text.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        terms = Seq("table", "merge", "stream"), topK = 20),
      Some {
        val (k1, b) = (1.2, 0.75)
        val k1p1 = k1 + 1.0
        val omb = 1.0 - b
        s"""WITH tk AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), """ +
        s"""dlr AS (SELECT id, CAST(len(ts) AS INTEGER) AS dl, ts FROM tk), """ +
        s"""st AS (SELECT count(*) AS n, CAST(sum(CAST(len(ts) AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS avgdl FROM tk), """ +
        s"""tf AS (SELECT id, dl, tok, count(*) AS tf FROM (SELECT d.id, d.dl, unnest(d.ts) AS tok FROM dlr d) WHERE tok IN ('table', 'merge', 'stream') GROUP BY 1, 2, 3), """ +
        s"""dfc AS (SELECT tok, count(DISTINCT id) AS df FROM tf GROUP BY 1), """ +
        s"""idf AS (SELECT tok, floor(ln(1.0 + (CAST((SELECT n FROM st) AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1e6 + 0.5) / 1e6 AS idf FROM dfc), """ +
        s"""tu AS (SELECT t.id, t.dl, CAST(floor(i.idf * (t.tf * $k1p1 / (t.tf + $k1 * ($omb + $b * t.dl / (SELECT avgdl FROM st)))) * 1e6 + 0.5) AS BIGINT) AS u FROM tf t JOIN idf i USING (tok)), """ +
        s"""sc AS (SELECT id, dl, CAST(sum(u) AS BIGINT) AS score_units FROM tu GROUP BY 1, 2) """ +
        s"""SELECT id, dl, score_units, ${OmicsQueries.rndSql("CAST(score_units AS DOUBLE) / 1e6", 6)} AS score FROM sc ORDER BY score_units DESC, id LIMIT 20"""
      }),

    Entry("q_hybrid_retrieval",
      // hybrid corpus mining (round 13): BM25 over the seed term bag
      // (top-50 lexical head) fused with exact cosine against the
      // vec_id=0 query embedding (top-50 semantic head) by Reciprocal
      // Rank Fusion, rrf = Σ 1/(60+rank), missing side contributes 0.
      // Ranks are exact integers and each term one IEEE division in
      // fixed fold order, so the oracle replays the fusion bit-for-bit;
      // the fused/head rank windows run over TakeOrdered heads (bounded
      // global windows), and the brute cosine side is the declared
      // exactness baseline (lshTopK/IVF swap in at scale)
      (s, d) => graft.sim.Retrieval.hybridTopK(
        t(s, d, "documents"), t(s, d, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("table", "merge", "stream"), queryVecId = 0L,
        topN = 50, c = 60, k = 20),
      Some {
        val (k1, b) = (1.2, 0.75)
        val k1p1 = k1 + 1.0
        val omb = 1.0 - b
        s"""WITH tk AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), """ +
        s"""dlr AS (SELECT id, CAST(len(ts) AS INTEGER) AS dl, ts FROM tk), """ +
        s"""st AS (SELECT count(*) AS n, CAST(sum(CAST(len(ts) AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS avgdl FROM tk), """ +
        s"""tf AS (SELECT id, dl, tok, count(*) AS tf FROM (SELECT d.id, d.dl, unnest(d.ts) AS tok FROM dlr d) WHERE tok IN ('table', 'merge', 'stream') GROUP BY 1, 2, 3), """ +
        s"""dfc AS (SELECT tok, count(DISTINCT id) AS df FROM tf GROUP BY 1), """ +
        s"""idf AS (SELECT tok, floor(ln(1.0 + (CAST((SELECT n FROM st) AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1e6 + 0.5) / 1e6 AS idf FROM dfc), """ +
        s"""tu AS (SELECT t.id, t.dl, CAST(floor(i.idf * (t.tf * $k1p1 / (t.tf + $k1 * ($omb + $b * t.dl / (SELECT avgdl FROM st)))) * 1e6 + 0.5) AS BIGINT) AS u FROM tf t JOIN idf i USING (tok)), """ +
        s"""sc AS (SELECT id, CAST(sum(u) AS BIGINT) AS score_units FROM tu GROUP BY 1), """ +
        s"""lexh AS (SELECT id, score_units FROM sc ORDER BY score_units DESC, id LIMIT 50), """ +
        s"""lexr AS (SELECT id, CAST(row_number() OVER (ORDER BY score_units DESC, id) AS INTEGER) AS rank_lex FROM lexh), """ +
        s"""qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), """ +
        s"""ss AS (SELECT c.vec_id AS id, list_sum(list_transform(list_zip(qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM qv, embeddings c WHERE c.vec_id <> 0), """ +
        s"""semr AS (SELECT id, rank_sem FROM (SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS INTEGER) AS rank_sem FROM ss) WHERE rank_sem <= 50), """ +
        s"""fused AS (SELECT id, rank_lex, rank_sem, coalesce(1.0 / (60 + rank_lex), 0) + coalesce(1.0 / (60 + rank_sem), 0) AS rrf FROM lexr FULL JOIN semr USING (id)), """ +
        s"""fh AS (SELECT * FROM fused ORDER BY rrf DESC, id LIMIT 20) """ +
        s"""SELECT id AS doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INTEGER) AS fused_rank, ${OmicsQueries.rndSql("rrf", 6)} AS rrf_score, rank_lex, rank_sem FROM fh"""
      }),

    Entry("q_hybrid_retrieval_ivf",
      // the INDEXED-head hybrid composition (round 14): same BM25 lexical
      // head, but the semantic head is IVF-routed — Clustering.kmeansFit's
      // replayable Lloyd quantizer (8 cells, 2 iters, seed 42), a genuinely
      // PARTIAL probe (2 of 8 cells, recall < 1 by construction), exact
      // cosine rescore of the routed candidates only. The oracle replays
      // the quantizer fit (kmeansCtes — the q_ann_ivfpq machinery), the
      // probe ranking (same gridded left-fold distance, (d, cluster)
      // tie-break), the candidate set, the rescore, and the RRF fusion —
      // so the fused ranking a 100 TB run would produce is hash-pinned
      // end to end, not asserted via the brute-force baseline
      (s, d) => graft.sim.Retrieval.hybridTopKIvf(
        t(s, d, "documents"), t(s, d, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("table", "merge", "stream"), queryVecId = 0L,
        nCells = 8, nProbe = 2, iters = 2, seed = 42L,
        topN = 50, c = 60, k = 20),
      Some {
        val (k1, b) = (1.2, 0.75)
        val k1p1 = k1 + 1.0
        val omb = 1.0 - b
        val fold = (l: String) => s"list_reduce($l, (acc, e) -> acc + e)"
        val pdist = fold("list_transform(list_zip(q.v, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))")
        s"""WITH tk AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts FROM documents), """ +
        s"""dlr AS (SELECT id, CAST(len(ts) AS INTEGER) AS dl, ts FROM tk), """ +
        s"""st AS (SELECT count(*) AS n, CAST(sum(CAST(len(ts) AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS avgdl FROM tk), """ +
        s"""tf AS (SELECT id, dl, tok, count(*) AS tf FROM (SELECT d.id, d.dl, unnest(d.ts) AS tok FROM dlr d) WHERE tok IN ('table', 'merge', 'stream') GROUP BY 1, 2, 3), """ +
        s"""dfc AS (SELECT tok, count(DISTINCT id) AS df FROM tf GROUP BY 1), """ +
        s"""idf AS (SELECT tok, floor(ln(1.0 + (CAST((SELECT n FROM st) AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1e6 + 0.5) / 1e6 AS idf FROM dfc), """ +
        s"""tu AS (SELECT t.id, t.dl, CAST(floor(i.idf * (t.tf * $k1p1 / (t.tf + $k1 * ($omb + $b * t.dl / (SELECT avgdl FROM st)))) * 1e6 + 0.5) AS BIGINT) AS u FROM tf t JOIN idf i USING (tok)), """ +
        s"""sc AS (SELECT id, CAST(sum(u) AS BIGINT) AS score_units FROM tu GROUP BY 1), """ +
        s"""lexh AS (SELECT id, score_units FROM sc ORDER BY score_units DESC, id LIMIT 50), """ +
        s"""lexr AS (SELECT id, CAST(row_number() OVER (ORDER BY score_units DESC, id) AS INTEGER) AS rank_lex FROM lexh), """ +
        s"""${kmeansCtes(8, 2, 42L, "iv")}, """ +
        s"""pbq AS (SELECT v FROM ivvq WHERE id = 0), """ +
        s"""pb AS (SELECT cluster FROM (SELECT c.cluster, row_number() OVER (ORDER BY $pdist, c.cluster) AS rn FROM pbq q, ivc2 c) WHERE rn <= 2), """ +
        s"""cand AS (SELECT f.id FROM ivfin f JOIN pb USING (cluster) WHERE f.id <> 0), """ +
        s"""qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), """ +
        s"""ss AS (SELECT c.vec_id AS id, list_sum(list_transform(list_zip(qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos FROM qv, embeddings c, cand WHERE c.vec_id = cand.id), """ +
        s"""semr AS (SELECT id, rank_ivf FROM (SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS INTEGER) AS rank_ivf FROM ss) WHERE rank_ivf <= 50), """ +
        s"""fused AS (SELECT id, rank_lex, rank_ivf, coalesce(1.0 / (60 + rank_lex), 0) + coalesce(1.0 / (60 + rank_ivf), 0) AS rrf FROM lexr FULL JOIN semr USING (id)), """ +
        s"""fh AS (SELECT * FROM fused ORDER BY rrf DESC, id LIMIT 20) """ +
        s"""SELECT id AS doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INTEGER) AS fused_rank, ${OmicsQueries.rndSql("rrf", 6)} AS rrf_score, rank_lex, rank_ivf FROM fh"""
      }),

    Entry("q_mmr_select",
      // Maximal-Marginal-Relevance selection: greedy diverse top-5 around
      // probe vec_id=0 — pick what's relevant but NOT a near-dup of
      // earlier picks (the diversity-aware data-selection step). The
      // oracle unrolls the greedy loop to depth 5 (the drivernet
      // pattern): each stage re-scores the remainder with the exact
      // engine arithmetic (fused-cosine replay, the same λ/1−λ double
      // literals) and takes the same (score desc, id) argmax
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val qv = emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<float>"))
          .collect()(0).getSeq[Float](0).toArray
        Similarity.mmrSelect(emb.where(col("vec_id") =!= 0), "vec_id",
          "embedding", qv, k = 5, lambda = 0.7)
      },
      Some(mmrOracleSql(k = 5, lambda = 0.7))),

    Entry("q_rand_project",
      // Johnson-Lindenstrauss compression: 64-float embeddings → 16 dense
      // lanes through a seeded Gaussian plane matrix (the SRP plane stream)
      // scaled by 1/sqrt(16) — the cheap pre-ANN narrowing. The oracle
      // regenerates the planes from the same RNG stream and replays each
      // lane as an explicitly parenthesized left fold, so all 16 doubles
      // match bit for bit; the gate serializes to exact micro-units
      (s, d) => Similarity.randomProject(t(s, d, "embeddings"), "vec_id",
        "embedding", inDim = 64, outDim = 16, seed = 5L)
        .withColumn("proj", Q.csvMicros(col("proj"))),
      Some {
        val planes = Similarity.srpPlanes(64, 16, 5L)
        val scale = 1.0 / math.sqrt(16.0)
        def lane(p: Array[Double]): String = {
          val fold = p.zipWithIndex.foldLeft("CAST(0.0 AS DOUBLE)") {
            case (acc, (w, i)) =>
              s"($acc + CAST(embedding[${i + 1}] AS DOUBLE) * $w)"
          }
          OmicsQueries.rndSql(s"($fold) * $scale", 6)
        }
        val list = planes.map(lane).mkString("[", ", ", "]")
        s"""SELECT vec_id AS id, ${Q.csvMicrosSql(list)} AS proj FROM embeddings"""
      }),

    Entry("q_gopher_rules",
      // Gopher/MassiveText document-quality rule report: word-count
      // bounds, mean-word-length band, symbol-to-word ratio, bullet- and
      // ellipsis-line ratios, alphabetic-word fraction, required-stopword
      // hits, and the conjunction `pass`. The fixture text is a flat word
      // stream, so the query first structures it deterministically
      // (doc_id-mod cases add bullet lines, ellipsis endings, '#' tags —
      // literal replace/concat, replayed verbatim in the oracle) so every
      // rule fires on a real subset. Zero shuffle: one codegen projection
      (s, d) => {
        val nl = lit("\n")
        val structured = t(s, d, "documents").withColumn("stext",
          when(col("doc_id") % 3 === 1,
            concat(lit("- "),
              replace(col("text"), lit(" the "), concat(nl, lit("- the "))),
              nl, lit("...")))
          .when(col("doc_id") % 3 === 2,
            concat(col("text"), nl, lit("# trailing … line ..."), nl,
              lit("## tag")))
          .otherwise(col("text")))
        Text.gopherRules(structured.select("doc_id", "stext"),
          "doc_id", "stext", minWords = 10, maxWords = 100000,
          requiredStopwords = Seq("the", "a", "and", "of", "value", "table"))
      },
      Some(s"""WITH gsrc AS (SELECT doc_id, CASE WHEN doc_id % 3 = 1 THEN '- ' || replace(text, ' the ', chr(10) || '- the ') || chr(10) || '...' WHEN doc_id % 3 = 2 THEN text || chr(10) || '# trailing … line ...' || chr(10) || '## tag' ELSE text END AS stext FROM documents), $gopherCtes SELECT doc_id, n_words, n_lines, stopword_hits, mean_word_len, symbol_ratio, bullet_ratio, ellipsis_ratio, alpha_ratio, (n_words >= 10 AND n_words <= 100000) AS ok_word_count, (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len, (symbol_ratio <= 0.1) AS ok_symbol, (bullet_ratio <= 0.9) AS ok_bullet, (ellipsis_ratio <= 0.3) AS ok_ellipsis, (alpha_ratio >= 0.8) AS ok_alpha, (stopword_hits >= 2) AS ok_stopwords, ($gopherPassSql) AS pass FROM gv""")),

    Entry("q_pipeline_quality_mix",
      // composition: Gopher rule gate -> exact-dedup keep-first ->
      // temperature-quota mixture pick — the end-to-end "filter, dedup,
      // rebalance" curation skeleton with every stage an already-gated
      // operator; the oracle replays the whole chain as one CTE stack
      (s, d) => {
        import graft.text.Sampling
        val docs = t(s, d, "documents")
        val g = Text.gopherRules(docs, "doc_id", "text", minWords = 10,
          requiredStopwords = Seq("the", "a", "and", "of", "value", "table"))
        val passed = docs.join(g.where(col("pass")).select("doc_id"), "doc_id")
        val kept = Dedup.exact(passed, "doc_id", "text")
          .select(col("kept_id").as("doc_id"))
        val corpus = passed.join(kept, "doc_id").select("doc_id", "source")
        val quotas = Sampling.mixtureTemperature(corpus, "source",
          alpha = 0.7, budget = 150L).select(col("source"), col("quota"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(Sampling.hashFrac(col("doc_id"), 7L), col("doc_id"))
        corpus.withColumn("rn", row_number().over(w))
          .join(broadcast(quotas), "source")
          .where(col("rn") <= col("quota"))
          .select(col("doc_id"), col("source"), col("rn"), col("quota"))
      },
      Some {
        val h7 = graft.text.Sampling.hashFracSql("doc_id", 7L)
        s"""WITH gsrc AS (SELECT doc_id, text AS stext FROM documents), $gopherCtes, """ +
        s"""gp AS (SELECT doc_id FROM gv WHERE $gopherPassSql), """ +
        s"""pd AS (SELECT d.doc_id, d.source, d.text FROM documents d JOIN gp USING (doc_id)), """ +
        s"""kh AS (SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch, min(doc_id) AS kept FROM pd GROUP BY 1), """ +
        s"""cp AS (SELECT p.doc_id, p.source FROM pd p JOIN kh ON p.doc_id = kh.kept), """ +
        s"""cc AS (SELECT source, count(*) AS n FROM cp GROUP BY 1), """ +
        s"""qq AS (SELECT source, CAST(floor(pow(CAST(n AS DOUBLE) / CAST((SELECT sum(n) FROM cc) AS DOUBLE), 0.7) * 1e6 + 0.5) AS BIGINT) AS qu FROM cc), """ +
        // largest-remainder top-up mirrors Sampling.mixtureTemperature:
        // sum(quota) == budget exactly
        s"""q0 AS (SELECT source, CAST((150 * qu) // (SELECT sum(qu) FROM qq) AS BIGINT) AS q0, CAST((150 * qu) % (SELECT sum(qu) FROM qq) AS BIGINT) AS rem FROM qq), """ +
        s"""qt AS (SELECT source, CAST(q0 + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= 150 - (SELECT sum(q0) FROM q0) THEN 1 ELSE 0 END AS BIGINT) AS quota FROM q0), """ +
        s"""rr AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source ORDER BY $h7, doc_id) AS INTEGER) AS rn FROM cp) """ +
        s"""SELECT rr.doc_id, rr.source, rr.rn, qt.quota FROM rr JOIN qt USING (source) WHERE rr.rn <= qt.quota"""
      })
  )

  /** Shared Gopher-report CTE block: expects a `gsrc(doc_id, stext)` CTE
    * upstream and exposes `gv(doc_id, n_words, n_lines, stopword_hits,
    * mean_word_len, symbol_ratio, bullet_ratio, ellipsis_ratio,
    * alpha_ratio)` — the exact Text.gopherRules measured values. */
  private lazy val gopherCtes: String = {
    val r = (x: String) => OmicsQueries.rndSql(x, 6)
    val ratio = (num: String, den: String) =>
      s"CASE WHEN $den > 0 THEN ${r(s"CAST($num AS DOUBLE) / $den")} ELSE CAST(0.0 AS DOUBLE) END"
    s"""gtok AS (SELECT doc_id, list_filter(string_split_regex(stext, '\\s+'), x -> len(x) > 0) AS toks, list_filter(string_split_regex(stext, '\\n'), l -> len(trim(l)) > 0) AS lns FROM gsrc), """ +
    s"""gm AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_words, CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS chars, CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS INTEGER) AS alpha, CAST(len(list_filter(toks, x -> starts_with(x, '#') OR contains(x, '…') OR contains(x, '...'))) AS INTEGER) AS symb, CAST(len(lns) AS INTEGER) AS n_lines, CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) AS INTEGER) AS bullet, CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS INTEGER) AS ellip, CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), ['the','a','and','of','value','table'])) AS INTEGER) AS stopword_hits FROM gtok), """ +
    s"""gv AS (SELECT doc_id, n_words, n_lines, stopword_hits, ${ratio("chars", "n_words")} AS mean_word_len, ${ratio("symb", "n_words")} AS symbol_ratio, ${ratio("bullet", "n_lines")} AS bullet_ratio, ${ratio("ellip", "n_lines")} AS ellipsis_ratio, ${ratio("alpha", "n_words")} AS alpha_ratio FROM gm)"""
  }

  /** The Gopher conjunction over `gv` columns (the engine's thresholds in
    * q_gopher_rules / q_pipeline_quality_mix). */
  private lazy val gopherPassSql: String =
    "n_words >= 10 AND n_words <= 100000 AND mean_word_len >= 3.0 AND " +
    "mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND " +
    "bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3 AND " +
    "alpha_ratio >= 0.8 AND stopword_hits >= 2"
}
