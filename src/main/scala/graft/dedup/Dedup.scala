package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.Text
import graft.ops.Materialize.barrier

/** Deduplication operators for web-scale corpora.
  *
  * Four tiers, in increasing fuzziness, all shuffle-on-key (no all-pairs
  * comparison anywhere — the 100 TB constraint):
  *  - exact: hash of normalized text, groupBy
  *  - n-gram Jaccard: inverted shingle index with document-frequency
  *    pruning, candidate pairs from co-occurring shingles, exact verify
  *  - MinHash + LSH banding: constant signatures per doc, band-bucket join
  *  - SimHash: 64-bit sketch, near-hamming buckets via bit-band keys
  */
object Dedup {

  /** Heavy per-document expressions (128-hash signatures) must not run on
    * a handful of input splits: a small-but-dense corpus file arrives as
    * one partition and serializes the whole computation. Fan the rows out
    * to the session's parallelism first (at real scale the input already
    * has >= that many splits and this is a no-op). */
  private def spread(df: DataFrame): DataFrame =
    graft.ops.Relational.spread(df) // shared home since round 15

  /** Exact dedup on normalized-text hash. Returns one surviving row per
    * distinct content (min id wins, deterministic) plus the duplicate-group
    * size. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("content_hash", md5(Text.normalized(col(textCol))))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup: which NEW documents are exact duplicates of
    * the existing corpus (or of each other)? `oldHashes` is the persisted
    * (content_hash, kept_id) relation from a prior [[exact]] run — only
    * the new batch is hashed, a broadcast-or-shuffle join against the
    * index does the rest. Emits one row per new doc: its hash, whether it
    * duplicates the existing corpus (and whom), and a within-batch
    * first-keeper flag — everything an ingest gate needs to admit or
    * drop. */
  def exactIncremental(newDocs: DataFrame, oldHashes: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val hashed = newDocs.select(col(idCol).as("doc_id"),
      md5(Text.normalized(col(textCol))).as("content_hash"))
    val batchFirst = Window.partitionBy("content_hash").orderBy("doc_id")
    hashed
      .join(oldHashes.select(col("content_hash"),
        col("kept_id").as("dup_of")), Seq("content_hash"), "left")
      .withColumn("dup_of_corpus", col("dup_of").isNotNull)
      .withColumn("first_in_batch",
        row_number().over(batchFirst) === 1)
      .select("doc_id", "content_hash", "dup_of_corpus", "dup_of",
        "first_in_batch")
  }

  /** Asymmetric CONTAINMENT near-dup pairs: |sh(A) ∩ sh(B)| / |sh(A)| ≥
    * threshold — "document A is (mostly) contained in document B", the
    * relation Jaccard dedup structurally misses (a paragraph quoted
    * inside a much longer page has high containment but near-zero
    * Jaccard, so LSH banding never candidates it). This is the
    * scraped-corpus nesting detector: quotes, mirrored articles inside
    * portals, README blobs inside aggregator dumps.
    *
    * Same df-pruned shingle-hash universe and candidate rule as
    * [[ngramJaccardPairs]] (pairs sharing ≥ 1 shingle with document
    * frequency ≤ maxShingleDf; pruning is part of the declared
    * semantics, replayed by the oracle) — but pairs are ORDERED, since
    * containment is directional, and verification divides the exact
    * intersection (native [[graft.catalyst.InterLongsExpr]] kernel) by
    * the PROBE side's set size. Scale shape mirrors the Jaccard tier:
    * one posting exchange, then PREFIX-SEEDED candidates — only A's
    * |A|−⌈t·|A|⌉+1 rarest shingles seed pairs (lossless for the A-side
    * denominator, see inline proof), joined against the full pruned
    * posting lists — and the verify fans wide on the pair key.
    *
    * Output: (id_a, id_b, containment) with sh(id_a) the contained
    * side, rounded 6. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.9,
                       maxShingleDf: Long = 100): DataFrame = {
    // no spread() on the text root: A/B'd round 15 (0.93 vs 1.24 s
    // matched) — the posting groupBy right after already provides the
    // parallelism, the same finding as the ngramJaccardPairs note
    val sh = df.select(col(idCol).as("id"),
      explode(graft.catalyst.ArrayFunctions.shingleHashes(col(textCol), k)).as("h"))
    val posting = barrier(sh.groupBy("h")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")) <= maxShingleDf),
      "dedup.posting") // feeds candidates AND the per-doc sets
    // per-doc sets in GLOBAL RARITY order (df asc, hash asc) — the same
    // ordering the Jaccard tier uses, so the A-side prefix below prunes
    // maximally; the verify kernel sorts locally, order-insensitive
    val docSets = barrier(posting
      .select(explode(col("ids")).as("id"),
        struct(size(col("ids")).as("df"), col("h").as("s")).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("id"), transform(col("es"), e => e.getField("s")).as("shs")),
      "dedup.docSets")
    // All-Pairs prefix filter, CONTAINED-side only: containment
    // |A∩B|/|A| >= t needs |A∩B| >= ceil(t·|A|), so if NONE of A's
    // |A| − ⌈t·|A|⌉ + 1 rarest shingles occurs in B then
    // |A∩B| <= ⌈t|A|⌉ − 1 and the pair can never qualify — lossless.
    // B carries no such bound (its size is not in the denominator), so
    // the prefix seeds join the FULL pruned posting lists. This replaces
    // the round-8 plan's posting-list self-explode (every ordered pair
    // in every list, both directions) with prefix-seeded candidates —
    // at t=0.9 the prefix is ~1/10th of each doc's shingles.
    val prefix = docSets.select(col("id").as("id_a"),
      explode(slice(col("shs"), lit(1),
        (size(col("shs")) -
          ceil(size(col("shs")) * lit(threshold) - lit(1e-9)) + 1)
          .cast("int"))).as("h"))
    val candidates = prefix
      .join(posting, "h")
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .dropDuplicates()
    candidates
      .join(docSets.select(col("id").as("id_a"), col("shs").as("sh_a")), "id_a")
      .join(docSets.select(col("id").as("id_b"), col("shs").as("sh_b")), "id_b")
      .withColumn("containment",
        graft.catalyst.ArrayFunctions.interLongs(col("sh_a"), col("sh_b"))
          .cast("double") / size(col("sh_a")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Word k-shingles of a document as a distinct array column.
    *
    * Declarative form — kept as the semantic definition (it is what the
    * DuckDB oracles mirror), but Catalyst INTERPRETS the transform/
    * array_join lambdas, so the hot paths below use [[shingleSet]], a
    * compiled kernel with identical output, instead. */
  def shingles(text: Column, k: Int): Column = {
    val toks = Text.tokens(text)
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => array_join(slice(toks, i + 1, lit(k)), " ")))
        .otherwise(array(array_join(toks, " "))))
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Compiled twin of [[shingles]]: distinct word k-shingles of `text`.
    * Same output set (whitespace split, empties dropped, windows of k
    * joined by single spaces; short docs collapse to one whole-doc
    * shingle); compiled loop instead of interpreted HOF lambdas. */
  private[graft] def shingleSet(text: String, k: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = wsPattern.split(text).filter(_.nonEmpty)
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length >= k) {
      var i = 0
      while (i <= toks.length - k) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    } else out.add(toks.mkString(" "))
    out.toArray(new Array[String](0))
  }

  /** POSITIONAL word-k-gram 60-bit md5-prefix hashes of `text`
    * (lowercased in the kernel): element i is the hash of tokens
    * [i, i+k) joined by single spaces — the gram stream
    * [[repeatedSpans]] and friends dedupe on. One compiled pass:
    * tokenize once, build each gram string locally, digest, emit the
    * LONG — the multi-word gram text never leaves the kernel, so the
    * downstream df-count/join-back exchanges carry 8-byte keys instead
    * of ~8-word strings (the round-8 q_repeated_spans plan shipped the
    * strings and was 20× DuckDB). Same replay guarantee as
    * [[shingleHashes]]: a 60-bit collision collapses two grams
    * identically in the engine and in the DuckDB oracle (both take the
    * same md5 prefix of the same gram text). Docs with fewer than k
    * tokens yield an empty array (no whole-doc fallback — span
    * semantics, not set semantics). */
  def tokenGramHashesKernel(text: String, k: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val toks = wsPattern.split(text.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)
    if (toks.length < k) return Array.emptyLongArray
    val out = new Array[Long](toks.length - k + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = java.lang.Long.parseLong(md5hex(sb.toString).substring(0, 15), 16)
      i += 1
    }
    out
  }

  /** Winnowing (MOSS) fingerprint selection over the positional k-gram
    * hash stream: slide a window of `w` consecutive gram hashes and keep
    * the window MINIMUM — the classic guarantee that any shared run of
    * at least w+k-1 tokens contributes at least one shared fingerprint,
    * while only ~2/(w+1) of the grams survive (the density bound from
    * the winnowing paper, Schleimer/Wilkerson/Aiken SIGMOD'03). Returns
    * the selected hashes as a SORTED DISTINCT long array (position is
    * irrelevant once selected — the pair tier intersects VALUE sets, and
    * sorted-distinct makes the array a canonical per-doc fingerprint
    * set). Docs shorter than w+k-1 tokens collapse to one window over
    * whatever grams exist (the standard short-doc degeneration: their
    * single minimum is still comparable); docs under k tokens yield an
    * empty array, matching [[tokenGramHashesKernel]].
    *
    * O(n·w) scan — w is a small constant (4–8) so the deque-based O(n)
    * variant buys nothing at these widths; the whole selection runs
    * inside one codegen projection ([[graft.catalyst.WinnowHashesExpr]]),
    * so only the ~2/(w+1)-dense fingerprint stream ever reaches an
    * exchange. The min-of-window is pure VALUE selection (no tie-break
    * dependence): the DuckDB oracle replays it as `list_aggregate(slice,
    * 'min')` over the same md5-prefix hashes, bit for bit. */
  def winnowHashesKernel(text: String, k: Int, w: Int): Array[Long] = {
    val grams = tokenGramHashesKernel(text, k)
    if (grams.length == 0) return Array.emptyLongArray
    val ww = math.min(w, grams.length) // short docs: one window over all
    val nWin = grams.length - ww + 1
    val sel = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < nWin) {
      var m = grams(i)
      var j = i + 1
      while (j < i + ww) {
        if (grams(j) < m) m = grams(j)
        j += 1
      }
      sel.add(m)
      i += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    out
  }

  /** Per-document winnowing fingerprints, exploded to (id, fp) rows —
    * the substring-robust dedup key set (each fp witnesses some k-gram
    * that was minimal in a w-window; see [[winnowHashesKernel]]). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, window: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(window >= 1, s"window must be positive: $window")
    df.select(col(idCol).as("id"),
      explode(graft.catalyst.ArrayFunctions.winnowHashes(col(textCol), k,
        window)).as("fp"))
  }

  /** Candidate near-dup pairs by shared winnowing fingerprints: docs
    * sharing at least `minShared` selected hashes, with boilerplate
    * fingerprints (document frequency above `maxFpDf`) dropped before
    * pair generation — the MOSS pipeline's plagiarism-pair step as a
    * corpus-scale operator. Compared to the full-gram tiers the
    * inverted index is ~2/(w+1) the size for the same substring-match
    * guarantee (any shared window+k-1-token run still collides).
    *
    * Scale shape: one fingerprint explode (winnow-thinned), ONE shuffle
    * for the df-capped posting lists, pairs exploded inside each
    * posting (ids sorted so id_a < id_b by construction), then a
    * map-side-combined pair count — no all-pairs stage anywhere; the
    * df cap bounds the per-posting fan-out at maxFpDf². */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, window: Int = 4, minShared: Int = 2,
                  maxFpDf: Long = 100): DataFrame = {
    require(minShared >= 1, s"minShared must be positive: $minShared")
    require(maxFpDf >= 2, s"maxFpDf must be at least 2: $maxFpDf")
    val fps = winnowFingerprints(df, idCol, textCol, k, window)
    val posting = fps.groupBy("fp")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxFpDf))
    posting
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Distinct word k-shingles of `text` as SORTED 60-bit md5-prefix
    * hashes — the declared Jaccard universe of the exact-verify operators
    * below. Hashing the shingle space: the inverted-index shuffle carries
    * 8-byte keys instead of multi-word strings (~3× narrower at k=3) and
    * set intersection becomes a primitive-long merge. A 60-bit collision
    * collapses two shingles IDENTICALLY in the engine and in the DuckDB
    * oracle (both take the same md5 prefix of the same shingle string), so
    * hash-parity is preserved by construction rather than probabilistically. */
  private[graft] def shingleHashes(text: String, k: Int): Array[Long] = {
    shingleHashesKernel(text, k)
  }

  /** Public static twin of [[shingleHashes]] for the
    * [[graft.catalyst.ArrayKernels]] codegen surface. */
  def shingleHashesKernel(text: String, k: Int): Array[Long] = {
    val ss = shingleSet(text, k)
    val out = new Array[Long](ss.length)
    var i = 0
    while (i < ss.length) {
      out(i) = java.lang.Long.parseLong(md5hex(ss(i)).substring(0, 15), 16)
      i += 1
    }
    java.util.Arrays.sort(out)
    var n = 0 // dedupe adjacent (collisions only; shingleSet is distinct)
    var j = 0
    while (j < out.length) {
      if (j == 0 || out(j) != out(j - 1)) { out(n) = out(j); n += 1 }
      j += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Exact Jaccard of two long-hash sets: sort local copies, two-pointer
    * merge — compiled, no per-element hashing, no boxing in the loop.
    * Inputs need not arrive sorted (the inverted-index path stores sets in
    * global-rarity order). Empty ∩ empty = NaN, which every >= threshold
    * predicate rejects. */
  private[graft] def jaccardLongs(a: Seq[Long], b: Seq[Long]): Double = {
    val x = a.toArray; val y = b.toArray
    java.util.Arrays.sort(x); java.util.Arrays.sort(y)
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    inter.toDouble / (x.length + y.length - inter)
  }

  /** Exact n-gram Jaccard near-duplicate pairs over the HASHED shingle
    * universe (distinct 60-bit md5 prefixes, [[shingleHashes]] — the same
    * oracle-replayable hash space the minhash/simhash sketches use).
    *
    * Candidate generation is a PREFIX-FILTERED inverted-index self-join
    * (Bayardo et al. "Scaling Up All Pairs Similarity Search" / PPJoin —
    * public-knowledge algorithms) over df-pruned shingle hashes:
    *
    *  - a shingle occurring in more than `maxShingleDf` documents is
    *    dropped (it cannot be discriminative and it is what makes the join
    *    quadratic); the pruned set is the operator's declared Jaccard
    *    universe, and the per-ID set is the DISTINCT union over the id's
    *    rows — both mirrored by the oracle;
    *  - each document's pruned shingles are sorted by a global
    *    (rarity, hash) order and only the first |d| - ceil(t*|d|) + 1
    *    are indexed. If J(A,B) >= t then |A∩B| >= ceil(t*|A|), and the
    *    global-order-smallest common element provably sits inside BOTH
    *    prefixes, so prefix-index candidates are lossless; everything the
    *    suffixes share is unindexed — measured at sf0.1/t=0.8: 118k
    *    distinct candidates vs 1.13M pair-occurrence rows through the old
    *    full-index groupBy, and the 10× ScaleCheck run dropped 52 s →
    *    9.7 s (ceil is biased down 1e-9 so float error can only lengthen
    *    a prefix, never lose a pair);
    *  - every candidate is then verified with the exact pruned-universe
    *    Jaccard ([[jaccardLongs]] merge kernel over the per-doc sets), so
    *    the output never depends on the prefix math.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  /** Repeated-span detection — SUBSTRING-level dedup, the tier below
    * whole-document near-dup: find each document's maximal token spans
    * whose k-gram content also appears in at least `minDf` distinct
    * documents (boilerplate paragraphs, licence blocks, navigation text —
    * the shapes substring dedup removes from a pre-training corpus where
    * document-level dedup cannot, because the host documents differ).
    *
    * Spark shape, all relational — no per-doc UDF:
    *  1. tokenize (lowercase, whitespace split) and emit every word
    *     k-gram WITH its token position;
    *  2. one shuffle counts each gram's distinct-document frequency
    *     (map-side partial on (gram, id) first — the classic inverted
    *     index build; at corpus scale this is the dominant, linear cost);
    *  3. positions of duplicated grams flow back per document and a
    *     gap-and-island window merge (running `max(pos + k)` over the
    *     per-doc position order) coalesces overlapping/touching gram
    *     hits into MAXIMAL spans — one hash exchange on the doc id, one
    *     in-partition sort, no quadratic step anywhere.
    *
    * Every step is deterministic and SQL-expressible: grams join on
    * their 60-bit md5 hash, and the oracle takes the SAME md5 prefix of
    * the SAME gram text, so a collision collapses two grams identically
    * in both engines — replay is exact by construction.
    *
    * Output: (id, span_start, span_end, span_tokens) — token positions,
    * 0-based, end exclusive; spans never overlap and are maximal. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minDf: Int = 2): DataFrame = {
    // grams as 60-bit md5 LONGS from one compiled kernel pass
    // ([[tokenGramHashesKernel]]): the df-count exchange and the
    // position join-back carry 8-byte keys — the literal ~k-word gram
    // text never goes on the wire (at corpus scale the string-keyed
    // exchange was ~8× the corpus in bytes). No checkpoint: recomputing
    // the kernel scan for the two consumers is cheaper than
    // materializing the gram relation (the spread() lesson). The TEXT
    // input is spread (round 15): each consumer's kernel re-evaluation
    // was single-task on an unsplittable input; no-op at real scale.
    val grams = graft.ops.Relational.spread(df)
      .select(col(idCol).as("id"), posexplode(
        graft.catalyst.ArrayFunctions.tokenGramHashes(col(textCol), k)))
      .toDF("id", "pos", "gram")
    val dup = grams.groupBy("gram")
      .agg(count_distinct(col("id")).as("df"))
      .where(col("df") >= minDf)
      .select("gram")
    val hits = grams.join(dup, "gram").select("id", "pos")
    val w = Window.partitionBy("id").orderBy("pos")
    hits
      .withColumn("__prev_end", max(col("pos") + k)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(col("__prev_end").isNull ||
        col("pos") > col("__prev_end"), 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(w))
      .groupBy("id", "__isl")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** The k-gram document-frequency relation (gram, df) — the persistable
    * artifact an INCREMENTAL substring-dedup pipeline keeps between
    * ingests (the [[bandedIndex]] pattern applied to the span tier). `df`
    * counts DISTINCT documents. Sketch params ride as field metadata so
    * a mismatched reuse fails fast instead of silently missing spans. */
  def gramDfIndex(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.gramdf.k", k).build()
    // persisted keys are the 60-bit gram hashes (8 bytes/entry instead
    // of the ~k-word text) — same keyspace the span queries join on
    df.select(col(idCol).as("id"), explode(
        graft.catalyst.ArrayFunctions.tokenGramHashes(col(textCol), k))
        .as("gram"))
      .groupBy("gram").agg(count_distinct(col("id")).as("df"))
      .withColumn("gram", col("gram").as("gram", meta))
  }

  /** Roll up per-slice [[gramDfIndex]] outputs into the union's index by
    * SUMMING dfs — exact when the slices partition the corpus by
    * document (each doc contributes its distinct grams to exactly one
    * slice), which is precisely the ingest-batch shape; the k metadata
    * is re-attached so the mismatch guard keeps firing on reuse. This is
    * the refresh step an incremental substring-dedup pipeline runs after
    * each batch instead of rescanning the corpus. */
  def mergeGramDfIndexes(indexes: DataFrame): DataFrame = {
    val meta = indexes.schema.fields.find(_.name == "gram")
      .map(_.metadata)
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    indexes.groupBy("gram").agg(sum(col("df")).as("df"))
      .withColumn("gram", col("gram").as("gram", meta))
  }

  /** Incremental [[repeatedSpans]]: spans of the NEW batch against the
    * gram frequencies of (corpus ∪ batch), without re-scanning the
    * corpus — `oldIndex` is a previously-built [[gramDfIndex]] read back
    * from its saved table. A gram is duplicated when its corpus df plus
    * its batch df reaches `minDf`, so a batch doc sharing a paragraph
    * with one CORPUS doc is flagged even though neither side alone
    * crosses the threshold. (Corpus docs whose grams only now cross the
    * threshold are the previous ingests' responsibility — the gate runs
    * per batch, the same contract as [[minhashLshPairsIncremental]].)
    * Per-ingest cost rides the batch size plus one join against the
    * index. Returns the batch's span rows; persist the refreshed index
    * with [[gramDfIndex]] over the unioned corpus or by summing dfs. */
  def repeatedSpansIncremental(newDocs: DataFrame, oldIndex: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 8, minDf: Int = 2): DataFrame = {
    oldIndex.schema.fields.find(_.name == "gram").foreach { f =>
      if (f.metadata.contains("graft.gramdf.k")) {
        val ik = f.metadata.getLong("graft.gramdf.k")
        require(ik == k, s"repeatedSpansIncremental: stored index was " +
          s"built with k=$ik but this call uses k=$k — spans would be " +
          "silently missed; rebuild the index or match the parameter")
      }
    }
    val grams = newDocs.select(col(idCol).as("id"), posexplode(
        graft.catalyst.ArrayFunctions.tokenGramHashes(col(textCol), k)))
      .toDF("id", "pos", "gram")
    val batchDf = grams.groupBy("gram")
      .agg(count_distinct(col("id")).as("bdf"))
    val dup = batchDf
      .join(oldIndex.select(col("gram"), col("df").as("odf")),
        Seq("gram"), "left")
      .where(col("bdf") + coalesce(col("odf"), lit(0L)) >= minDf)
      .select("gram")
    val hits = grams.join(dup, "gram").select("id", "pos")
    val w = Window.partitionBy("id").orderBy("pos")
    hits
      .withColumn("__prev_end", max(col("pos") + k)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(col("__prev_end").isNull ||
        col("pos") > col("__prev_end"), 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(w))
      .groupBy("id", "__isl")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Per-document duplicated-token profile over [[repeatedSpans]]:
    * (id, n_tokens, dup_tokens, dup_fraction) for every document large
    * enough to carry a k-gram — the decision input for span-stripping or
    * document-dropping policies (docs that are MOSTLY shared boilerplate
    * get dropped; docs with one shared paragraph get cleaned). */
  def duplicatedTokenProfile(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 8, minDf: Int = 2): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, k, minDf)
      .groupBy("id").agg(sum(col("span_tokens")).as("dup_tokens"))
    df.select(col(idCol).as("id"),
        size(filter(split(lower(col(textCol)), "\\s+"),
          t => length(t) > 0)).as("n_tokens"))
      .where(col("n_tokens") >= k)
      .join(spans, Seq("id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_fraction",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** The ACTION half of substring dedup: remove every token covered by a
    * [[repeatedSpans]] span and re-join the survivors — the cleaned
    * corpus a boilerplate-stripping pass actually emits (detection alone
    * never shrinks the training set). Reference analogue: the dedup
    * utilities only FLAG duplicated mass rows; stripping is the
    * LLM-pipeline extension of the same span machinery.
    *
    * Shape: one extra linear stage over the span pipeline — each
    * duplicated-gram hit explodes to its k covered token positions
    * (bounded fan-out k, de-overlapped by a distinct on (id, pos)), the
    * token stream anti-joins that coverage set on (id, pos), and the
    * survivors reassemble per doc with a sort_array over (pos, token)
    * structs. Two hash exchanges on the doc id, no window over the whole
    * corpus, no quadratic step. Docs shorter than k tokens carry no gram
    * and pass through verbatim.
    *
    * Output: (id, n_tokens, dup_tokens, kept_tokens, clean_text). */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, minDf: Int = 2): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        posexplode(filter(split(lower(col(textCol)), "\\s+"),
          t => length(t) > 0)))
      .toDF("id", "pos", "tok")
    val covered = repeatedSpans(df, idCol, textCol, k, minDf)
      .select(col("id"),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("pos"))
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").as("clean_text"))
    toks.groupBy("id").agg(count(lit(1)).as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("dup_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CCNet-style paragraph/line dedup with GLOBAL keep-first semantics:
    * the corpus is segmented, each segment is hashed, and every
    * occurrence of a segment except the globally first (smallest
    * (doc id, segment position)) is dropped; documents are reassembled
    * from their surviving segments. This is the other substring-dedup
    * policy next to [[stripRepeatedSpans]]: the df-threshold strip
    * removes ALL copies of corpus-frequent spans, keep-first retains
    * exactly one copy of every duplicated unit (the CCNet/ccnet-dedup
    * contract for shared paragraphs).
    *
    * `segments` is any (id, seg_pos, segment) relation; use
    * [[tokenWindowSegments]] to segment by fixed token windows (newline-
    * free corpora) or split on a real separator upstream. Scale shape:
    * one exchange on the segment hash (the keep-first window ranks
    * occurrences per hash — skew note: a boilerplate segment with 10⁶
    * occurrences lands its rank sort in one partition, but the sort key
    * (id, seg_pos) is tiny and rank>1 rows are discarded immediately),
    * then one exchange on the doc id to reassemble.
    *
    * Output: (id, n_segments, kept_segments, removed_segments,
    * clean_text); a doc whose every segment appeared earlier comes back
    * with empty clean_text rather than vanishing (the caller decides
    * drop-vs-keep policy). */
  def segmentDedupKeepFirst(segments: DataFrame): DataFrame = {
    // the keep-first rank runs over (id, seg_pos, 16-byte hash) ONLY —
    // the round-9 plan sorted full segment text through the window
    // exchange (a corpus-sized text sort); text now crosses a single
    // id-partitioned hash join instead, and the reassembly groupBy
    // reuses that join's partitioning (no further text exchange)
    val hashed = segments.withColumn("__h", md5(col("segment")))
    val w = Window.partitionBy("__h").orderBy(col("id"), col("seg_pos"))
    // the kept set keys on (seg_pos, HASH), not position alone: a
    // removed duplicate sharing its seg_pos with a kept segment must
    // not be resurrected into clean_text (possible for callers feeding
    // arbitrary (id, seg_pos, segment) relations)
    val perDoc = hashed.select("id", "seg_pos", "__h")
      .withColumn("__rn", row_number().over(w))
      .groupBy("id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("kept_segments"),
        sort_array(collect_list(when(col("__rn") === 1,
          struct(col("seg_pos"), col("__h"))))).as("__kept"))
    // collect_SET: fully-identical duplicate rows collapse to the one
    // copy the rank-filtered form kept (exactly one row had __rn = 1)
    val keptText = hashed.join(perDoc.select("id", "__kept"), "id")
      .where(array_contains(col("__kept"),
        struct(col("seg_pos"), col("__h"))))
      .groupBy("id")
      .agg(array_join(transform(sort_array(collect_set(
          struct(col("seg_pos"), col("segment")))),
        e => e.getField("segment")), " ").as("clean_text"))
    // left join: a doc whose every segment is owned by earlier docs
    // keeps its row with an empty clean_text
    perDoc.join(keptText, Seq("id"), "left")
      .select(col("id"), col("n_segments"), col("kept_segments"),
        (col("n_segments") - col("kept_segments")).as("removed_segments"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Edit-distance exact-verify tier over CANDIDATE pairs — the last
    * stage of the classic two-phase near-dup pipeline (cheap recall
    * tier generates candidates: [[winnowPairs]], [[minhashLshPairs]],
    * SimHash; this verifies precisely). For every (id_a, id_b) pair the
    * texts are joined in and the Levenshtein distance computed with the
    * engine-native codegen expression; the duplicate gate is exact
    * integer arithmetic — dup iff dist·100 ≤ max_len·(100−simPct) — so
    * no float boundary can disagree with the SQL oracle.
    *
    * Scale shape: cost is bounded by the CANDIDATE set, never the
    * corpus (two hash joins of pairs against docs, then a per-row DP).
    * The per-pair DP is O(len_a·len_b) chars — the tier is meant for
    * paragraph/segment-sized units or LSH-thinned doc pairs, not for
    * brute-forcing a corpus (that would be the all-pairs shape every
    * other tier here exists to avoid). Parity caveat: Spark's
    * levenshtein counts CHARACTERS while DuckDB's counts BYTES — equal
    * on ASCII (this fixture, verified), divergent on multi-byte UTF-8;
    * a multilingual oracle would need a byte-level recode first.
    *
    * @param pairs any (id_a, id_b) relation
    * @return (id_a, id_b, edit_dist, max_len, is_dup) */
  def editVerifyPairs(docs: DataFrame, idCol: String, textCol: String,
                      pairs: DataFrame, simPct: Int = 80): DataFrame = {
    require(simPct >= 1 && simPct <= 100, s"simPct in [1,100]: $simPct")
    val a = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val b = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb")).as("edit_dist"),
        greatest(length(col("__ta")), length(col("__tb"))).as("max_len"))
      .withColumn("is_dup",
        col("edit_dist") * 100 <= col("max_len") * (100 - simPct))
  }

  /** Per-SOURCE boilerplate segment strip (the CCNet/RefinedWeb cleaning
    * pass): within each source, a segment whose document frequency
    * reaches `minDf` docs AND `maxDfPct` percent of the source's docs is
    * boilerplate (navigation chrome, footers, cookie banners — content
    * that repeats across a site but is unique to it), and every copy is
    * removed from every doc of that source. Differs from
    * [[segmentDedupKeepFirst]] (global, keeps one copy) and from the
    * span strip (global gram threshold): the ratio is per-source, which
    * is how real pipelines separate site chrome from legitimately
    * popular content.
    *
    * The ratio gate is exact integer arithmetic (`df*100 >= src_docs *
    * maxDfPct`) — no float boundary to disagree with the SQL oracle.
    * Segments travel the df exchange as 60-bit md5-prefix longs, never
    * strings; the boilerplate decision relation (rare by construction —
    * only segments crossing the ratio) is broadcast back, so the corpus
    * is exchanged once for the df count and once for doc reassembly.
    *
    * Output: (id, source, n_segments, removed_segments, kept_segments,
    * clean_text); a fully-boilerplate doc comes back with empty
    * clean_text rather than vanishing. */
  def boilerplateStrip(df: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, segTokens: Int = 3,
                       minDf: Long = 2, maxDfPct: Int = 8): DataFrame = {
    require(segTokens >= 1, s"segTokens must be positive: $segTokens")
    require(minDf >= 2, s"minDf below 2 strips unique content: $minDf")
    require(maxDfPct >= 1 && maxDfPct <= 100, s"maxDfPct in [1,100]: $maxDfPct")
    val segs = df.select(col(idCol).as("id"), col(sourceCol).as("source"),
        filter(split(lower(col(textCol)), "\\s+"),
          t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("id"), col("source"), posexplode(transform(
        sequence(lit(0),
          floor((size(col("toks")) - 1) / lit(segTokens)).cast("int")),
        i => array_join(slice(col("toks"), i * segTokens + 1, lit(segTokens)),
          " "))))
      .toDF("id", "source", "seg_pos", "segment")
      .withColumn("h",
        conv(substring(md5(col("segment")), 1, 15), 16, 10).cast("long"))
    // per-source doc counts come from the RAW table (a doc with >= 1
    // token produces >= 1 segment, so the denominators agree) — one
    // narrow map-side-combined aggregate instead of re-counting the
    // exploded segment relation; the result is domain-cardinality small
    // and broadcast into the ratio gate
    val srcDocs = df
      .where(size(filter(split(lower(col(textCol)), "\\s+"),
        t => length(t) > 0)) > 0)
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("src_docs"))
    val boiler = segs.groupBy("source", "h")
      .agg(countDistinct(col("id")).as("df"))
      .join(broadcast(srcDocs), "source")
      .where(col("df") >= minDf &&
        col("df") * 100 >= col("src_docs") * maxDfPct)
      .select(col("source"), col("h"), lit(true).as("is_boiler"))
    segs.join(broadcast(boiler), Seq("source", "h"), "left")
      .groupBy("id", "source")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("removed_segments"),
        array_join(transform(sort_array(collect_list(
            when(col("is_boiler").isNull,
              struct(col("seg_pos"), col("segment"))))),
          e => e.getField("segment")), " ").as("clean_text"))
      .select(col("id"), col("source"), col("n_segments"),
        col("removed_segments"),
        (col("n_segments") - col("removed_segments")).as("kept_segments"),
        col("clean_text"))
  }

  /** Segment a newline-free corpus into consecutive `segTokens`-token
    * windows (last window may be short) — the segment relation
    * [[segmentDedupKeepFirst]] consumes when no natural paragraph
    * separator exists. Zero-shuffle: pure per-row array slicing. */
  def tokenWindowSegments(df: DataFrame, idCol: String, textCol: String,
                          segTokens: Int): DataFrame = {
    require(segTokens >= 1, "segTokens must be positive")
    df.select(col(idCol).as("id"),
        filter(split(lower(col(textCol)), "\\s+"),
          t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("id"), posexplode(transform(
        sequence(lit(0),
          floor((size(col("toks")) - 1) / lit(segTokens)).cast("int")),
        i => array_join(slice(col("toks"), i * segTokens + 1, lit(segTokens)),
          " "))))
      .toDF("id", "seg_pos", "segment")
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * versions as added / removed / changed / unchanged by exact content
    * hash — the audit step between pipeline runs (what did the refresh
    * actually touch?) and the input to incremental re-processing (only
    * added+changed docs re-enter the dedup/quality tiers).
    *
    * Raw-byte md5, deliberately NOT the normalized hash [[exact]] uses:
    * a diff answers "did the stored content change", not "is it a
    * near-duplicate". One full outer equi-join on the id — linear, and
    * at lake scale it prunes to changed partitions first.
    *
    * Output: (id, old_hash, new_hash, status). */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val oh = oldDocs.select(col(idCol).as("id"),
      md5(col(textCol)).as("old_hash"))
    val nh = newDocs.select(col(idCol).as("id"),
      md5(col(textCol)).as("new_hash"))
    oh.join(nh, Seq("id"), "full")
      .withColumn("status",
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged"))
  }

  /** Column-metadata key [[shingleRelation]] stamps on the `sh` column
    * so consumers can assert the prebuilt universe matches their k. */
  private val ShingleKMeta = "graft.shingle.k"

  /** Materialize the k-shingle universe of a corpus ONCE as an
    * (id, sh ARRAY&lt;LONG&gt;) relation for reuse across several dedup
    * tiers — [[ngramJaccardPairs]], [[minhashLshPairs]] and
    * [[verifyPairsExactJaccard]] accept it via their `shingled` param.
    * The shingle size is stamped into the `sh` column's metadata so a
    * consumer invoked with a DIFFERENT k fails loudly instead of
    * silently computing pairs against the wrong shingle universe. */
  def shingleRelation(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ShingleKMeta, k.toLong).build()
    df.select(col(idCol).as("id"),
      graft.catalyst.ArrayFunctions.shingleHashes(col(textCol), k)
        .as("sh", meta))
  }

  /** Contract check for caller-prebuilt `shingled` relations: when the
    * relation was built via [[shingleRelation]] its tagged k must equal
    * the consumer's k. Untagged relations (built by hand) pass unchecked
    * — the caller owns the k agreement, per the param scaladoc. */
  private def requireShingleK(shingled: DataFrame, k: Int): DataFrame = {
    shingled.schema.find(_.name == "sh").map(_.metadata)
      .filter(_.contains(ShingleKMeta))
      .map(_.getLong(ShingleKMeta))
      .foreach(kk => require(kk == k,
        s"shingled relation was built with k=$kk but this consumer runs " +
          s"k=$k — pairs would be computed against the wrong shingle universe"))
    shingled
  }

  /** Contract check for caller-prebuilt [[bandedIndex]] relations: a
    * band_sig built under different (k, numHashes, bands) never collides
    * with this consumer's, so the failure mode of a mismatch is MISSED
    * pairs, not an error — assert the params the index carries in its
    * band_sig field metadata instead. Untagged (hand-built) relations
    * pass unchecked — the caller owns the agreement. */
  private def requireBandParams(idx: DataFrame, k: Int, numHashes: Int,
                                bands: Int): DataFrame = {
    idx.schema.fields.find(_.name == "band_sig").map(_.metadata)
      .filter(_.contains("graft.minhash.k"))
      .foreach { md =>
        val (ik, ih, ib) = (md.getLong("graft.minhash.k"),
          md.getLong("graft.minhash.numHashes"),
          md.getLong("graft.minhash.bands"))
        require(ik == k && ih == numHashes && ib == bands,
          s"banded index was built with (k=$ik, numHashes=$ih, bands=$ib) " +
            s"but this consumer runs (k=$k, numHashes=$numHashes, " +
            s"bands=$bands) — pairs would be silently missed; rebuild the " +
            "index or match the parameters")
      }
    idx
  }

  /** @param shingled optional prebuilt (id, sh) k-shingle relation from
    *   [[shingleRelation]] — MUST be built with the same `k`; tagged
    *   relations are asserted, hand-built ones are the caller's promise. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.8,
                        maxShingleDf: Long = 100,
                        shingled: Option[DataFrame] = None): DataFrame = {
    // no spread() here: the shingle kernel is ~20 µs/doc, so even a
    // single-split input computes it faster than the full-text repartition
    // it would take to fan out (the posting groupBy right after provides
    // the parallelism for everything downstream).
    // `shingled` (id, sh ARRAY<LONG>): a caller running SEVERAL tiers
    // over the same corpus (q_dedup_tier_agreement) materializes the
    // shingle universe once and passes it in, so the kernel is not
    // re-run per tier
    val sh = shingled
      .map(s => requireShingleK(s, k).select(col("id"), explode(col("sh")).as("h")))
      .getOrElse(df.select(col(idCol).as("id"),
        explode(graft.catalyst.ArrayFunctions.shingleHashes(col(textCol), k)).as("h")))
    // one shuffle builds the pruned inverted index; collect_set dedups ids
    // so a duplicated doc id contributes one set membership (the oracle's
    // DISTINCT doc_id, h universe)
    val posting = sh.groupBy("h")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")) <= maxShingleDf)
    // per-doc pruned shingle sets ordered by (df, hash) — the global
    // rarity order that maximizes prefix pruning. Feeds BOTH the prefix
    // index and the verify joins: barrier so the subtree runs once.
    val docSets = barrier(posting
      .select(explode(col("ids")).as("id"),
        struct(size(col("ids")).as("df"), col("h").as("s")).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("id"), transform(col("es"), e => e.getField("s")).as("shs")),
      "dedup.docSets")
    // prefix length |d| - ceil(t*|d|) + 1 (epsilon-down ceil: safe side)
    val prefix = docSets.select(col("id"),
        explode(slice(col("shs"), lit(1),
          (size(col("shs")) -
            ceil(size(col("shs")) * lit(threshold) - lit(1e-9)) + 1)
            .cast("int"))).as("h"))
    val prefPosting = prefix.groupBy("h")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    // candidate pairs exploded inside each prefix posting list (ids
    // sorted, so id_a < id_b by construction)
    val candidates = prefPosting
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      // candidate pairs are few BYTES but verify is CPU per ROW; AQE
      // coalesces a plain distinct's output to one task on byte size and
      // serializes the verification. Hash-repartition on the pair key
      // (user repartition — exempt from AQE coalescing) satisfies the
      // dedup's clustering requirement, so dropDuplicates runs in the
      // same wide stage with no second exchange.
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .dropDuplicates()
    // exact pruned-universe verify; AQE broadcasts the candidate side of
    // the doc-set joins when it fits. The jaccard is a native codegen
    // expression over the Tungsten arrays — a Scala UDF here paid ~800 µs
    // PER ROW of encoder deserialization (see ArrayExpressions scaladoc)
    candidates
      .join(docSets.select(col("id").as("id_a"), col("shs").as("sh_a")), "id_a")
      .join(docSets.select(col("id").as("id_b"), col("shs").as("sh_b")), "id_b")
      .withColumn("jaccard",
        graft.catalyst.ArrayFunctions.jaccardLongs(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** md5 hex digest in a compiled kernel (ThreadLocal digest instance —
    * MessageDigest is not thread-safe and per-row allocation is wasteful).
    * The sketches below derive every hash bit from md5 ON PURPOSE: DuckDB
    * computes the identical digest, so the correctness oracle replays the
    * ENTIRE sketch + banding pipeline deterministically instead of leaning
    * on a probabilistic recall bound that fresh data could violate. */
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexDigits = "0123456789abcdef".toCharArray
  private def md5hex(s: String): String = {
    val d = mdLocal.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((bytes(i) >> 4) & 0xF)
      out(2 * i + 1) = hexDigits(bytes(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** 2^31 - 1; the minhash family works mod this Mersenne prime so every
    * product in h_i = (h1 + i*h2) mod p stays far inside 63 bits. */
  val MinhashP = 2147483647L

  /** MinHash signature. Per shingle, two 60-bit base hashes come from the
    * md5 hex digest (chars 1-15 and 16-30); the family is double hashing
    * h_i(x) = (h1 + i*h2) mod (2^31-1) with h2 forced nonzero
    * (Kirsch-Mitzenmacher construction — public knowledge). md5 rather
    * than xxhash64 so a DuckDB oracle reproduces the signatures bit-for-bit
    * (`CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`).
    *
    * A compiled per-row kernel instead of 128 nested higher-order-function
    * expressions: Catalyst interprets HOF lambdas (no codegen), which
    * measured ~50× slower than this loop at 5k docs × 300 shingles. The
    * kernel is surfaced as a native codegen expression
    * ([[graft.catalyst.MinhashSigExpr]]) — an Array[Long]-returning Scala
    * UDF pays a per-row encoder conversion on the output side.
    * Deterministic across runs/JVMs. Returns (id, sig ARRAY<LONG>).
    *
    * NULL text yields a NULL signature (standard expression null
    * propagation; the pre-round-5 UDF returned the empty-set sentinel
    * Long.MaxValue per slot — pair outputs were and are unaffected, since
    * the exact-Jaccard verify rejects empty-universe pairs as NaN). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 128): DataFrame =
    spread(df).select(col(idCol).as("id"),
      graft.catalyst.ArrayFunctions.minhashSig(col(textCol), k, numHashes).as("sig"))

  /** Static minhash-signature kernel behind [[minhashSignatures]] /
    * [[graft.catalyst.ArrayKernels.minhashSig]]. */
  def minhashSigKernel(text: String, k: Int, n: Int): Array[Long] = {
    val sig = Array.fill(n)(Long.MaxValue)
    shingleSet(text, k).foreach { s =>
      val m = md5hex(s)
      val h1 = java.lang.Long.parseLong(m.substring(0, 15), 16) % MinhashP
      val h2 = java.lang.Long.parseLong(m.substring(15, 30), 16) % (MinhashP - 1) + 1
      var i = 0
      while (i < n) {
        val h = (h1 + i * h2) % MinhashP
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** MinHash-LSH near-duplicate pairs: band the signature into
    * `bands` groups of `numHashes/bands` rows, bucket-join on the exact
    * band signature, then verify every candidate pair with EXACT n-gram
    * Jaccard so the output contains no false positives.
    *
    * The declared semantics are "pairs sharing >= 1 band signature AND
    * exact Jaccard >= threshold" — a deterministic function of the data
    * that the DuckDB oracle mirrors band-for-band (md5-derived family, see
    * minhashSignatures), so the correctness gate does not depend on the
    * S-curve. Recall vs the full exact-Jaccard pair set is the usual
    * 1-(1-J^r)^b (128/16: >0.9999 at J=0.9, ~0.95 at exactly 0.8). The
    * band key is the joined value string, not a 32-bit hash of it: a hash
    * would re-introduce an (astronomically small but nonzero) collision
    * dependence the oracle cannot replay.
    *
    * HOT-BAND GUARD (`hotBucketThreshold`): a degenerate bucket — 10^5+
    * near-identical docs sharing one band_sig, the boilerplate-page shape
    * every real corpus has — makes the all-pairs self-join QUADRATIC in
    * that bucket (10^10 candidates from one 10^5 clone class). Buckets
    * above the threshold therefore emit a STAR instead of a clique: every
    * member pairs with the bucket's minimum id. Exact verification is
    * unchanged, connectivity (what the downstream union-find clustering
    * consumes) is preserved whenever the bucket members are true
    * near-dups of the representative — exactly the clone-class case that
    * creates hot buckets — and the declared all-pairs semantics hold
    * verbatim whenever no bucket exceeds the threshold (all gate
    * fixtures; the DuckDB oracle replays that regime). The cap is not
    * silent: within a hot bucket, member↔member pairs whose members are
    * near-dups of each other but NOT of the representative are the
    * documented recall loss. */
  /** @param shingled optional prebuilt (id, sh) k-shingle relation from
    *   [[shingleRelation]] — MUST be built with the same `k` (asserted
    *   for tagged relations inside the verify stage).
    * @param banded optional prebuilt (and already-materialized)
    *   [[bandedIndex]] of `df` — a caller that ALSO probes the index
    *   incrementally (q_dedup_clusters_incremental builds clusters(old)
    *   and then probes the same old index with the new batch) passes it
    *   here so the sketch kernel runs once, not once per consumer.
    *   Tagged (k, numHashes, bands) metadata is asserted. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, threshold: Double = 0.8,
                      numHashes: Int = 128, bands: Int = 16,
                      hotBucketThreshold: Int = 4096,
                      shingled: Option[DataFrame] = None,
                      banded: Option[DataFrame] = None): DataFrame = {
    // the index is materialized ONCE (id/band/sig rows — a fraction of
    // the corpus; spills to disk if needed) and shared by the stats
    // aggregate, both self-join sides, and the hot arm. Without the
    // checkpoint, per-consumer column pruning makes each copy's
    // exchange DIFFERENT, exchange reuse fails, and the minhash sketch
    // kernel runs once per consumer (observed 3× in the plan).
    val bandedRel = banded.map(requireBandParams(_, k, numHashes, bands))
      .getOrElse(barrier(bandedIndex(df, idCol, textCol, k, numHashes, bands),
        "dedup.bandedRel"))
    // HOT-ONLY bucket stats: a map-side-combined aggregate replaces the
    // round-8 per-row window (whose SORT was a ~0.5-1 s fixed cost on
    // every banded query), filtered to buckets over the threshold. That
    // relation is tiny by nature (mega-buckets are rare boilerplate
    // clone classes; on every gate fixture it is EMPTY), so it
    // broadcast-joins back and the cool path pays a null-check per row.
    val hotStats = bandedRel.groupBy("band", "band_sig")
      .agg(count(lit(1)).as("__n"), min(col("id")).as("__rep"))
      .where(col("__n") > hotBucketThreshold)
    val marked = bandedRel.join(broadcast(hotStats),
      Seq("band", "band_sig"), "left")
    val cool = marked.where(col("__n").isNull)
      .select("id", "band", "band_sig")
    val candNormal = cool.as("x").join(cool.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    // hot buckets: linear star to the representative, not a clique
    val candHot = marked
      .where(col("__n").isNotNull && col("id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("id").as("id_b"))
    // per-band duplicate pairs are deduped inside the verify's pair-key
    // exchange — no separate distinct shuffle
    verifyPairsExactJaccard(df, candNormal.unionByName(candHot),
      idCol, textCol, k, threshold, shingled)
  }

  /** The banded minhash index as a first-class relation (id, band,
    * band_sig) — the persistable artifact an INCREMENTAL corpus build
    * keeps between runs. The repartition on the join keys doubles as the
    * materialization barrier: without it, projection collapsing inlines
    * the signature expression into the join condition and recomputes it
    * per candidate pair (measured 246 s vs 3 s). */
  def bandedIndex(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, numHashes: Int = 128,
                  bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // sketch params travel as field metadata on band_sig (Spark persists
    // StructField metadata through a parquet write/read), so an
    // incremental probe against a stored index can verify the index was
    // built with the SAME (k, numHashes, bands) — a silent mismatch never
    // collides on band_sig and yields zero pairs instead of an error
    val paramsMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.minhash.k", k)
      .putLong("graft.minhash.numHashes", numHashes)
      .putLong("graft.minhash.bands", bands).build()
    minhashSignatures(df, idCol, textCol, k, numHashes)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => array_join(transform(
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string")), "_"))))
      .toDF("id", "band", "band_sig")
      .withColumn("band_sig", col("band_sig").as("band_sig", paramsMeta))
      .repartition(col("band"), col("band_sig"))
  }

  /** Incremental near-dup detection: pairs involving AT LEAST one new
    * document — (new × old) and (new × new) — without recomputing the old
    * corpus's sketches. `oldIndex` is a previously-built [[bandedIndex]]
    * (in production read back from its saved table); only the new batch
    * is sketched here, so per-ingest cost rides the batch size, not the
    * corpus size. Old↔old pairs are by definition already known. */
  def minhashLshPairsIncremental(oldDocs: DataFrame, newDocs: DataFrame,
                                 oldIndex: DataFrame, idCol: String,
                                 textCol: String, k: Int = 3,
                                 threshold: Double = 0.8, numHashes: Int = 128,
                                 bands: Int = 16,
                                 hotBucketThreshold: Int = 4096,
                                 shingled: Option[DataFrame] = None): DataFrame = {
    // fail fast on a parameter-mismatched stored index: band_sigs from a
    // different (k, numHashes, bands) never collide with this call's, so
    // the bug mode is MISSED pairs, not an error — check the params the
    // index carries in its band_sig field metadata instead
    requireBandParams(oldIndex, k, numHashes, bands)
    val newIdx = bandedIndex(newDocs, idCol, textCol, k, numHashes, bands)
    // tag sides so the hot-band guard can keep the "every pair touches a
    // new doc" contract while probing a single unioned frame
    val all = barrier(oldIndex.withColumn("__new", lit(0))
      .unionByName(newIdx.withColumn("__new", lit(1))),
      "dedup.all") // shared by stats + join sides, see above
    // hot-only bucket stats via aggregate + broadcast back (no per-row
    // window sort — see minhashLshPairs); min over (id, __new) structs
    // recovers the representative AND whether it is a new doc in one agg
    val hotStats = all.groupBy("band", "band_sig")
      .agg(count(lit(1)).as("__n"),
        min(struct(col("id"), col("__new"))).as("__m"))
      .where(col("__n") > hotBucketThreshold)
      .select(col("band"), col("band_sig"), col("__n"),
        col("__m").getField("id").as("__rep"),
        col("__m").getField("__new").as("__repNew"))
    val marked = all.join(broadcast(hotStats),
      Seq("band", "band_sig"), "left")
    val cool = marked.where(col("__n").isNull)
      .select("id", "band", "band_sig", "__new")
    // probe only from the new side: every emitted pair touches a new doc
    val candidates = cool.where(col("__new") === 1).as("x").join(cool.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig") &&
          col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
    // hot buckets (see minhashLshPairs): star to the representative. New
    // members always pair with the rep; when the rep is itself NEW, the
    // bucket's old members pair with it too (those pairs touch a new doc
    // and carry the old↔new connectivity the full join would have found).
    val candHot = marked
      .where(col("__n").isNotNull && col("id") =!= col("__rep") &&
        (col("__new") === 1 || col("__repNew") === 1))
      .select(col("__rep").as("id_a"), col("id").as("id_b"))
    verifyPairsExactJaccard(oldDocs.unionByName(newDocs),
      candidates.unionByName(candHot), idCol, textCol, k, threshold, shingled)
  }

  /** Width of the simhash sketch: 60 bits, so the whole sketch derives
    * from the first 15 hex chars of one md5 digest and a DuckDB oracle can
    * rebuild it exactly (`(h >> j) & 1` per bit). */
  val SimhashBits = 60

  /** SimHash signatures as (id, simhash LONG, 60 bits): bit j of the
    * sketch is the sign of Σ_features ±1 according to bit j of the
    * md5-derived feature hash; near-dups land at small hamming distance.
    *
    * `featureK` picks the feature space: 1 = unigram tokens (classic
    * simhash ≈ bag-of-words cosine), k>1 = word k-shingles. Use the SAME k
    * as the Jaccard metric you verify with — on a topically-homogeneous
    * corpus every doc pair has high *token* cosine, so a token-simhash
    * degenerates to all-pairs candidates (measured: 6.7M candidates from
    * 5k docs) even though shingle-Jaccard separates dups cleanly.
    *
    * Entirely per-document arithmetic in a compiled kernel — ZERO shuffles
    * (the round-1 version exploded every token into 64 rows and shuffled
    * twice; at 100 TB that shuffles 64× the token count; the interim
    * nested-HOF expression was interpreted by Catalyst and ~50× slower). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        featureK: Int = 1): DataFrame = {
    // text -> lowercase -> features -> sketch in one compiled kernel.
    // Feature universe is the DISTINCT token/shingle set at every k (the
    // round-2 featureK=1 path hashed tokens once per OCCURRENCE; set
    // semantics are the declared contract now — each feature votes once,
    // which is what the DuckDB oracle computes). Locale.ROOT pins the
    // lowercase fold: the default-locale fold diverges from the oracle's
    // lower() on e.g. Turkish-locale JVMs (I -> dotless ı). NULL text
    // yields a NULL sketch (expression null propagation; the pre-round-5
    // UDF returned 0L — pair outputs unaffected, see minhashSignatures).
    val fk = math.max(featureK, 1)
    spread(df).select(col(idCol).as("id"),
      graft.catalyst.ArrayFunctions.simhashSig(col(textCol), fk).as("simhash"))
  }

  /** Static simhash-sketch kernel behind [[simhashSignatures]] /
    * [[graft.catalyst.ArrayKernels.simhashSig]]. */
  def simhashSigKernel(text: String, fk: Int): Long = {
    val fs = shingleSet(
      if (text == null) null else text.toLowerCase(java.util.Locale.ROOT), fk)
    val acc = new Array[Int](SimhashBits)
    fs.foreach { f =>
      val h = java.lang.Long.parseLong(md5hex(f).substring(0, 15), 16)
      var j = 0
      while (j < SimhashBits) {
        acc(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < SimhashBits) {
      if (acc(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** SimHash near-dup pairs: chunk-bucket candidates, a hamming cut on the
    * sketches inside the candidate join, then exact-Jaccard verification.
    *
    * Determinism contract: when `maxHamming <= bands - 1`, the pigeonhole
    * principle makes the candidate set EXACTLY {pairs: hamming <=
    * maxHamming} — at most maxHamming bit flips can touch at most
    * maxHamming of the `bands` chunks, so one shared chunk always survives
    * — and the output is the deterministic set {hamming <= maxHamming AND
    * jaccard >= threshold}, which a DuckDB oracle replays exactly (the
    * sketch is md5-derived, see simhashSignatures). With maxHamming >
    * bands-1 the extra pairs are found only probabilistically.
    *
    * The in-join hamming cut is also the scale lever: random band
    * collisions vastly outnumber true near-dups, and without the cut every
    * collision pays the full shingle-set verification join (a J=0.8 pair
    * sits near hamming ~12 of 60; unrelated docs near ~30). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bands: Int = 15, k: Int = 3,
                   threshold: Double = 0.8, maxHamming: Int = 14,
                   hotBucketThreshold: Int = 4096): DataFrame = {
    require(SimhashBits % bands == 0, s"bands must divide $SimhashBits")
    val bitsPerBand = SimhashBits / bands
    val sigs = simhashSignatures(df, idCol, textCol, featureK = k)
    val mask = (1L << bitsPerBand) - 1
    // the sketch rides along with the band key, so the hamming filter runs
    // inside the candidate join itself — signatures are computed once per
    // side and random collisions die before the distinct
    val banded = barrier(sigs.select(col("id"), col("simhash"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => call_function("shiftright", col("simhash"), b * bitsPerBand)
            .bitwiseAND(lit(mask)))))
      .toDF("id", "simhash", "band", "chunk")
      // materialized once, shared by stats + join sides (see
      // minhashLshPairs: per-consumer pruning otherwise defeats
      // exchange reuse and the sketch kernel runs once per consumer)
      .repartition(col("band"), col("chunk")), "dedup.banded")
    // hot-chunk guard (see minhashLshPairs — the clone-class shape is the
    // same here: identical docs share every chunk): buckets above the
    // threshold emit a star to the min-id representative, with the same
    // in-join hamming cut against the representative's sketch. The
    // exactness contract (candidates == {hamming <= maxHamming} when
    // maxHamming <= bands-1) holds verbatim whenever no bucket exceeds
    // the threshold — all gate fixtures.
    // hot-only bucket stats via aggregate + broadcast back (no per-row
    // window sort — see minhashLshPairs); the struct-min carries the
    // representative's sketch for the star's hamming cut
    val hotStats = banded.groupBy("band", "chunk")
      .agg(count(lit(1)).as("__n"),
        min(struct(col("id"), col("simhash"))).as("__rep"))
      .where(col("__n") > hotBucketThreshold)
    val marked = banded.join(broadcast(hotStats),
      Seq("band", "chunk"), "left")
    val cool = marked.where(col("__n").isNull)
      .select("id", "simhash", "band", "chunk")
    val candidates = cool.as("x").join(cool.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .unionByName(marked
        .where(col("__n").isNotNull &&
          col("id") =!= col("__rep").getField("id") &&
          bit_count(col("simhash")
            .bitwiseXOR(col("__rep").getField("simhash"))) <= maxHamming)
        .select(col("__rep").getField("id").as("id_a"), col("id").as("id_b")))
    // per-chunk duplicate pairs are deduped inside the verify's pair-key
    // exchange — no separate distinct shuffle
    verifyPairsExactJaccard(df, candidates, idCol, textCol, k, threshold)
  }

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise evidence (from [[ngramJaccardPairs]],
    * [[minhashLshPairs]], [[simhashPairs]] or an embedding-cosine pair
    * set) into dedup groups. Returns one row per node OF THE PAIR GRAPH:
    * (id, cluster_id) with cluster_id = the smallest id in the node's
    * component — the canonical representative a dedup pipeline keeps.
    *
    * ADAPTIVE execution. The pair graph after LSH + exact verification is
    * orders of magnitude smaller than the corpus (only near-dup evidence
    * survives), so when it fits in a bounded driver budget
    * (`driverMaxPairs`) a driver-side union-find answers in ONE job —
    * the distributed loop's ~4 jobs per round are pure scheduling
    * overhead at that size (same bounded-driver pattern as the IVF
    * quantizer fit). Above the budget — the 100 TB regime — it runs
    * iterative min-label propagation with pointer jumping: each round
    * takes the min over neighbour labels (one hop) and then jumps
    * label := label(label) (path halving), so rounds grow with
    * log(component diameter), not diameter. Near-dup components are
    * near-cliques, so 2-4 rounds in practice; maxRounds=50 bounds even
    * adversarial chains of ~2^49 hops. The state is node-of-pair-graph
    * sized — singletons never enter the iteration — and each round is
    * two equi-joins + a barrier to truncate lineage. Both paths
    * compute the identical fixpoint (component minimum, order
    * independent), so the result is deterministic and SQL-replayable (a
    * recursive transitive closure); non-convergence inside maxRounds
    * throws rather than returning silently-partial clusters.
    * `driverMaxPairs = 0` forces the distributed path (used by tests and
    * callers that know the graph is huge). */
  /** Incremental [[duplicateClusters]]: fold a NEW batch's pair
    * evidence into an EXISTING (id, cluster_id) assignment without
    * re-deriving the old pair graph — each old assignment row becomes a
    * star edge (id — cluster_id), which preserves the old components'
    * connectivity exactly, and the new pairs bridge/extend them. Because
    * the canonical label is the component MINIMUM (order-independent),
    * the result is BIT-IDENTICAL to clustering the union of all pairs
    * from scratch — the q_dedup_clusters_incremental gate proves
    * incremental(clusters(P_old), P_new) ≡ clusters(P_old ∪ P_new) by
    * hash-comparing against the full-recompute oracle. Per-ingest cost:
    * the state is assignment-sized (nodes of the old pair graph, not the
    * corpus) plus the new pairs; composes with
    * [[minhashLshPairsIncremental]]'s batch pair stream and the
    * [[graft.streaming.Events.streamingNearDup]] pair log. */
  def duplicateClustersIncremental(assignments: DataFrame,
                                   newPairs: DataFrame, maxRounds: Int = 50,
                                   driverMaxPairs: Int = 1000000): DataFrame =
    duplicateClusters(
      assignments.select(col("id").as("id_a"), col("cluster_id").as("id_b"))
        .unionByName(newPairs.select(col("id_a"), col("id_b"))),
      maxRounds, driverMaxPairs)

  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 50,
                        driverMaxPairs: Int = 1000000): DataFrame = {
    val idType = pairs.schema("id_a").dataType
    val driverEligible = driverMaxPairs > 0 && (idType match {
      case _: org.apache.spark.sql.types.LongType => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _: org.apache.spark.sql.types.StringType => true
      case _ => false
    })
    // barrier: the pair pipeline above this (sketch + banding + verify) is
    // expensive — size probe, collect/loop must not re-execute it
    val p0 = barrier(pairs.select(col("id_a"), col("id_b")), "dedup.p0")
    // clamp so a driverMaxPairs of Int.MaxValue cannot overflow the probe
    // limit to a negative value
    val budget = math.min(driverMaxPairs, Int.MaxValue - 1)
    if (driverEligible &&
        p0.limit(budget + 1).count() <= budget) {
      return driverUnionFind(p0, idType)
    }
    val edges = barrier(p0.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(p0.select(col("id_b").as("u"), col("id_a").as("v"))),
      "dedup.edges")
    var labels = barrier(edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")), "dedup.labels")
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val nbr = edges
        .join(labels.select(col("id").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u").as("id")).agg(min(col("vl")).as("nl"))
      val stepped = labels
        .join(nbr, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("l1"))
      // pointer jump: every label is itself a node id, so one self-join
      // rebinds label(u) := label(label(u)) (path halving)
      val next = barrier(stepped
        .join(stepped.select(col("id").as("__jid"), col("l1").as("__jl")),
          col("l1") === col("__jid"), "left")
        .select(col("id"), col("old"),
          least(col("l1"), coalesce(col("__jl"), col("l1"))).as("label")),
        "dedup.next")
      converged = next.where(col("label") =!= col("old")).isEmpty
      labels = next.select("id", "label")
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: no fixpoint after $maxRounds rounds")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Bounded driver-side path of [[duplicateClusters]]: classic union-find
    * with path compression over the collected pair list, then per-root
    * minimum as the canonical label. One collect job + one tiny
    * createDataFrame; only reached when the pair count fits the caller's
    * driver budget and ids are Long/Int/String (orderable identically to
    * Spark's `least`). */
  private def driverUnionFind(pairs: DataFrame,
                              idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = pairs.sparkSession
    val lt: (Any, Any) => Boolean = idType match {
      case _: org.apache.spark.sql.types.LongType =>
        (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case _: org.apache.spark.sql.types.IntegerType =>
        (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
      case _ =>
        // Spark's least()/min() compare UTF8String BYTES (code-point
        // order); Java String < is UTF-16 code-unit order, which ranks
        // supplementary chars BELOW [U+E000,U+FFFF] — compare UTF-8 bytes
        // so both paths pick the identical representative
        (a, b) => {
          val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(x.length, y.length)
          var res = 0
          while (res == 0 && i < n) {
            res = java.lang.Integer.compare(x(i) & 0xFF, y(i) & 0xFF)
            i += 1
          }
          if (res != 0) res < 0 else x.length < y.length
        }
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.collect().foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    val minOf = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { n =>
      val r = find(n)
      val m = minOf.get(r)
      if (m == null || lt(n, m)) minOf.put(r, n)
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    parent.keySet().forEach { n =>
      rows.add(org.apache.spark.sql.Row(n, minOf.get(find(n))))
    }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  /** End-to-end dedup grouping for a corpus: every document labelled with
    * its near-dup cluster (cluster id = smallest member id), the cluster
    * size, and whether this row is the kept representative.
    *
    * Scale shape: the component state and per-cluster sizes are pair-graph
    * sized, so they attach to the corpus via two small-side joins (AQE
    * broadcasts them when they fit) — the corpus itself is never shuffled;
    * singletons fall out of the left joins as their own cluster of 1. */
  def clusterDocuments(docs: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    val comp = duplicateClusters(pairs)
    val sizes = comp.groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    docs.select(col(idCol).as("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("kept"))
  }

  /** Join candidate (id_a, id_b) pairs back to documents and keep those
    * with exact shingle-Jaccard >= threshold, over the hashed universe
    * ([[shingleHashes]]; jaccard via the [[jaccardLongs]] merge kernel —
    * the hash arrays arrive pre-sorted here).
    *
    * Candidates may arrive with duplicates (one pair per colliding band/
    * chunk): ONE hash exchange on the pair key both dedups them and fans
    * the per-row-CPU verify out wide (user repartition is exempt from
    * AQE's byte-based coalescing — see ngramJaccardPairs). */
  def verifyPairsExactJaccard(df: DataFrame, candidates: DataFrame,
                              idCol: String, textCol: String,
                              k: Int, threshold: Double,
                              shingled: Option[DataFrame] = None): DataFrame = {
    // the shingled docs join the candidates twice (id_a side and id_b
    // side) — barrier them so the shingle kernel runs once per document,
    // not once per side (no spread: see ngramJaccardPairs). A caller
    // sharing the universe across tiers passes its own (already
    // materialized) (id, sh) relation via `shingled`.
    val docs = shingled.map(requireShingleK(_, k)).getOrElse(
      barrier(df.select(col(idCol).as("id"),
          graft.catalyst.ArrayFunctions.shingleHashes(col(textCol), k).as("sh")),
        "dedup.docs"))
    candidates
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      // dedup on the PAIR KEY (matching the repartition key and the
      // documented contract), not all columns — a caller passing extra
      // columns (e.g. an LSH band score) must still get one verified row
      // per (id_a, id_b)
      .dropDuplicates("id_a", "id_b")
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        graft.catalyst.ArrayFunctions.jaccardLongs(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * k-gram with an evaluation set — the standard train/test-overlap
    * check a pre-training pipeline runs before shipping a corpus (an eval
    * question leaked into training data invalidates the benchmark).
    *
    * The overlap universe is the same distinct 60-bit md5 shingle-hash
    * space as the Jaccard dedup tier ([[shingleHashes]]): a hash collision
    * collapses identically in engine and oracle, so parity is by
    * construction. `n_hits` counts the DISTINCT contaminated k-grams per
    * corpus document; every corpus document is emitted (zero hits
    * included) so the caller can filter or join without re-deriving the
    * corpus.
    *
    * Scale shape: the eval side collapses to a distinct hash SET before
    * touching the corpus — eval benchmarks are tiny next to a 100 TB
    * corpus by nature (the broadcast is the point: the corpus-side
    * explode then joins hash-local with NO corpus shuffle). Callers with a
    * pathologically large eval set should pre-partition instead of
    * broadcasting; the corpus-side aggregate shuffles only matching
    * (id, hash) pairs, which contamination keeps rare. */
  def decontaminate(corpus: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, k: Int = 5): DataFrame = {
    val evalHashes = eval
      .select(explode(graft.catalyst.ArrayFunctions.shingleHashes(
        col(textCol), k)).as("__h"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(graft.catalyst.ArrayFunctions.shingleHashes(
        col(textCol), k)).as("__h"))
      .join(broadcast(evalHashes), Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Per-document contamination FRACTION against the eval set — the
    * graded companion to [[decontaminate]]'s any-hit flag: real
    * pipelines drop above a fraction threshold (a doc quoting one
    * benchmark sentence is different from a verbatim test-set copy),
    * so the report carries matched / total distinct k-grams and their
    * ratio. Same scale shape as the flag variant: the eval hash set is
    * broadcast, the corpus never shuffles its text — only matching
    * (id, hash) rows reach the count, the per-doc gram totals ride the
    * same projection that computed the array.
    *
    * @return (idCol, n_grams, matched, contamination) for every corpus
    *         doc with >= 1 token; contamination = matched/n_grams
    *         rounded to 6 (one division of exact integers). */
  def contaminationFraction(corpus: DataFrame, eval: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 5): DataFrame = {
    val evalHashes = eval
      .select(explode(graft.catalyst.ArrayFunctions.shingleHashes(
        col(textCol), k)).as("__h"))
      .distinct()
    val withG = corpus.select(col(idCol),
        graft.catalyst.ArrayFunctions.shingleHashes(col(textCol), k).as("__g"))
      .where(size(col("__g")) > 0)
    val matched = withG.select(col(idCol), explode(col("__g")).as("__h"))
      .join(broadcast(evalHashes), Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched"))
    withG.select(col(idCol), size(col("__g")).as("n_grams"))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("matched"), lit(0L)).as("matched"))
      .withColumn("contamination",
        round(col("matched").cast("double") / col("n_grams"), 6))
  }

  /** Verbatim (token-aligned) decontamination — the STRICT tier above
    * [[decontaminate]]'s any-shared-k-gram flag and the fuzzy near-dup
    * tier: a corpus document is flagged when an eval entry's ENTIRE
    * token sequence appears as a contiguous token run inside it (the
    * "test question pasted verbatim into a training document" case,
    * which an any-hit flag over-triggers on and a near-dup tier misses
    * when the document is long).
    *
    * Relational containment, no per-pair string scan: both sides emit
    * POSITIONAL k-gram hashes ([[tokenGramHashesKernel]] — lowercased,
    * 60-bit md5 prefixes, so a collision collapses identically in the
    * DuckDB oracle), and eval e is contained in doc d at offset o iff
    * every eval gram position matches the doc gram at o + that
    * position — i.e. the per-(d, e, o) gram-match count equals e's
    * positional gram count (duplicate grams inside e are handled: for
    * a fixed offset each eval position pairs with exactly one doc
    * position, so the count is "eval positions matched"). Containment
    * is case-insensitive and whitespace-tokenized by the kernel's
    * contract. Eval entries need >= k tokens (shorter ones have an
    * empty gram stream — same domain as the n-gram tier). Eval ids
    * must be DISTINCT — a duplicated id would sum gram counts across
    * its rows and make the per-offset equality unreachable — so the
    * eval frame is deduped on idCol up front with a DETERMINISTIC
    * keeper (the lexicographically-least text per id): a plan-dependent
    * arbitrary pick would let two runs, or the engine vs a SQL oracle,
    * flag different documents when eval ids collide. Callers with
    * id-colliding variants should still disambiguate ids before
    * calling — min(text) is a tie-break, not a semantic merge.
    *
    * Scale shape: the eval gram stream and per-entry gram counts are
    * eval-sized and broadcast; the corpus never shuffles its text —
    * only matching (doc, eval, offset) gram rows reach the count,
    * bounded by gram-match volume exactly like [[decontaminate]].
    * Every corpus doc is emitted (n_verbatim = 0 included). */
  def decontaminateVerbatim(corpus: DataFrame, eval: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 5): DataFrame = {
    val evalU = eval.groupBy(col(idCol)).agg(min(col(textCol)).as(textCol))
    val eg = evalU.select(col(idCol).as("__eid"),
      posexplode(graft.catalyst.ArrayFunctions
        .tokenGramHashes(col(textCol), k)).as(Seq("__ep", "__h")))
    val egCnt = eg.groupBy("__eid").agg(count(lit(1)).as("__eg"))
    val dg = corpus.select(col(idCol),
      posexplode(graft.catalyst.ArrayFunctions
        .tokenGramHashes(col(textCol), k)).as(Seq("__dp", "__h")))
    val hits = dg.join(broadcast(eg), Seq("__h"))
      .groupBy(col(idCol), col("__eid"),
        (col("__dp") - col("__ep")).as("__off"))
      .agg(count(lit(1)).as("__m"))
      .join(broadcast(egCnt), Seq("__eid"))
      .where(col("__m") === col("__eg"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__eid")).as("n_verbatim"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_verbatim"), lit(0L)).as("n_verbatim"))
      .withColumn("verbatim", col("n_verbatim") > 0)
  }

  /** Cross-source duplication matrix: near-dup pair evidence aggregated
    * to the (source, source) level — the corpus-analytics view that
    * tells you WHICH sources mirror each other (syndication, scraper
    * overlap) rather than which docs do. For each unordered source pair
    * the report carries the pair count and the duplication RATE =
    * pairs / possible pairs (n_a·n_b across sources, n·(n−1)/2 within
    * one — exact integer denominators, one rounded division).
    *
    * Scale shape: the heavy lifting already happened in the pair tier
    * (candidates, not all-pairs); here the pair relation joins the
    * doc→source map twice (broadcast-eligible dimension at any corpus
    * size: one row per doc id is corpus-sized, so this rides shuffle
    * joins on the id), then collapses to a source²-sized matrix with a
    * broadcast of the per-source counts. */
  def dupSourceMatrix(docs: DataFrame, idCol: String, sourceCol: String,
                      pairs: DataFrame): DataFrame = {
    val src = docs.select(col(idCol).as("__id"), col(sourceCol).as("__s"))
    val counts = docs.groupBy(col(sourceCol).as("__s"))
      .agg(count(lit(1)).as("__n"))
    val labeled = pairs.select(col("id_a"), col("id_b"))
      .join(src.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(src.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
    labeled
      .join(broadcast(counts.select(col("__s").as("source_a"),
        col("__n").as("__na"))), "source_a")
      .join(broadcast(counts.select(col("__s").as("source_b"),
        col("__n").as("__nb"))), "source_b")
      .withColumn("possible_pairs",
        when(col("source_a") === col("source_b"),
          col("__na") * (col("__na") - 1) / 2)
          .otherwise(col("__na") * col("__nb")).cast("long"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("possible_pairs"),
        round(col("n_pairs").cast("double") / col("possible_pairs"), 6)
          .as("dup_rate"))
  }

  /** Dedup yield report: the cluster-SIZE distribution of the near-dup
    * graph — how much of the corpus is singletons vs small clone groups
    * vs mega-classes, and what fraction survives representative-only
    * keep. THE summary a dedup run is judged by (yield = kept/total)
    * and the early-warning for clone-class blowups (a fat tail here is
    * what the hot-band guard exists for).
    *
    * Scale shape: components from [[duplicateClusters]], one
    * cluster-size aggregate, then a size-distribution aggregate —
    * output is distinct-size-count rows. Shares are single divisions
    * of exact longs, rounded at 6.
    *
    * @return (cluster_size, n_clusters, n_docs, doc_share) */
  def dedupYieldProfile(docs: DataFrame, idCol: String,
                        pairs: DataFrame): DataFrame = {
    val total = Window.partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    clusterDocuments(docs, idCol, pairs)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(total), 6))
  }

  /** Quality-aware representative pick: like [[clusterDocuments]] but
    * the kept doc per duplicate cluster is the HIGHEST-QUALITY member
    * (id ascending breaks ties), not the smallest id — what production
    * dedup actually does, since the first-crawled copy is often the
    * worst one (truncated, boilerplate-ridden). `scores` is any
    * (id, score) relation, e.g. [[graft.text.Text.qualityScore]]'s
    * output; docs missing a score sort last.
    *
    * Scale shape: components from [[duplicateClusters]] (pair-graph
    * sized), then one window ranked per cluster — the partition key is
    * the cluster id, and cluster sizes are near-dup class sizes (the
    * hot-band guard upstream caps the pathological ones), so no
    * corpus-sized partition exists. */
  def clusterDocumentsByQuality(docs: DataFrame, idCol: String,
                                pairs: DataFrame, scores: DataFrame,
                                scoreIdCol: String,
                                scoreCol: String): DataFrame = {
    val comp = duplicateClusters(pairs)
    val q = scores.select(col(scoreIdCol).as("doc_id"),
      col(scoreCol).as("quality"))
    val labeled = docs.select(col(idCol).as("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(q, Seq("doc_id"), "left")
    val rank = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc_nulls_last, col("doc_id").asc)
    val size = Window.partitionBy("cluster_id")
    labeled
      .withColumn("__rn", row_number().over(rank))
      .withColumn("cluster_size", count(lit(1)).over(size).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality"), (col("__rn") === 1).as("kept"))
  }

  /** The 100 TB-eval-set variant of [[decontaminate]], same output: when
    * the eval k-gram universe outgrows a comfortable broadcast (10^8+
    * hashes = GBs as an exact set), ship a Bloom filter instead
    * (~1.2 bytes/key at 1% fpp, order-independent build so the bitmap is
    * deterministic under any partitioning) and let the corpus side
    * pre-filter its (id, hash) stream through the codegen membership
    * test [[graft.catalyst.BloomContainsExpr]]. Only the surviving
    * sliver — true hits plus ~fpp false positives — reaches the EXACT
    * verify, a plain shuffle equi-join against the real eval-hash set
    * (deliberately NOT broadcast: avoiding that broadcast is the point;
    * the join's left side is candidate-sized, not corpus-sized). Bloom
    * filters have no false negatives, so the verified output is
    * bit-identical to [[decontaminate]]'s — the two share one oracle.
    *
    * The `expectedItems` count() action is one exact distinct aggregate
    * over the EVAL side (small by definition); sizing the filter from it
    * keeps the fpp honest instead of guessed. */
  def decontaminateBloom(corpus: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, k: Int = 5,
                         fpp: Double = 0.01): DataFrame = {
    val (evalHashes, bloom) = evalHashIndex(eval, textCol, k, fpp)
    decontaminateBloomWith(corpus, evalHashes, bloom, idCol, textCol, k)
  }

  /** The prebuilt eval side of [[decontaminateBloom]]: the distinct
    * shingle-hash relation (persisted — it feeds the bloom build AND
    * every exact-verify join) and a bloom filter sized from its exact
    * count, or None for an empty eval set. Build ONCE and reuse across
    * repeated corpus slices or streaming micro-batches
    * ([[graft.streaming.Events.streamingDecontaminate]]) — rebuilding
    * per batch would re-scan the eval set every trigger. */
  def evalHashIndex(eval: DataFrame, textCol: String, k: Int,
                    fpp: Double = 0.01)
      : (DataFrame, Option[org.apache.spark.util.sketch.BloomFilter]) = {
    require(fpp > 0 && fpp < 1, s"fpp out of (0,1): $fpp")
    // stamp k into the __h column metadata (the shingleRelation contract)
    // so decontaminateBloomWith can refuse a k-mismatched reuse — hash
    // universes of different k are disjoint, so a mismatch would silently
    // report every document uncontaminated
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ShingleKMeta, k.toLong).build()
    val evalHashes = barrier(eval
      .select(explode(graft.catalyst.ArrayFunctions.shingleHashes(
        col(textCol), k)).as("__h"))
      .distinct()
      // re-alias AFTER the distinct: an explicit-metadata alias directly
      // on a generator output does not survive resolution
      .select(col("__h").as("__h", meta)), "dedup.evalHashes")
    val expectedItems = evalHashes.count()
    // an EMPTY eval set contaminates nothing — and Spark's
    // stat.bloomFilter NPEs on an empty frame (null aggregate buffer),
    // so short-circuit before building the filter
    if (expectedItems == 0L) (evalHashes, None)
    else (evalHashes,
      Some(evalHashes.stat.bloomFilter("__h", expectedItems, fpp)))
  }

  /** [[decontaminateBloom]] against a prebuilt eval index from
    * [[evalHashIndex]] — MUST be built with the same shingle k.
    * Indexes built by [[evalHashIndex]] carry k in the `__h` column
    * metadata and a mismatch fails loudly here (a k mismatch makes the
    * hash universes disjoint → every document reads uncontaminated);
    * hand-built untagged indexes are the caller's promise. */
  def decontaminateBloomWith(corpus: DataFrame, evalHashes: DataFrame,
                             bloom: Option[org.apache.spark.util.sketch.BloomFilter],
                             idCol: String, textCol: String,
                             k: Int): DataFrame = {
    evalHashes.schema.find(_.name == "__h").map(_.metadata)
      .filter(_.contains(ShingleKMeta))
      .map(_.getLong(ShingleKMeta))
      .foreach(kk => require(kk == k,
        s"eval hash index was built with shingle k=$kk but this probe " +
          s"runs k=$k — the hash universes would be disjoint and every " +
          "document would silently read uncontaminated"))
    bloom match {
    case None =>
      corpus.select(col(idCol), lit(0L).as("n_hits"),
        lit(false).as("contaminated"))
    case Some(bf) =>
      val candidates = corpus
        .select(col(idCol), explode(graft.catalyst.ArrayFunctions.shingleHashes(
          col(textCol), k)).as("__h"))
        .where(graft.catalyst.ArrayFunctions.bloomContainsLong(col("__h"), bf))
      val hits = candidates
        .join(evalHashes, Seq("__h"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_hits"))
      corpus.select(col(idCol))
        .join(hits, Seq(idCol), "left")
        .select(col(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("contaminated", col("n_hits") > 0)
    }
  }
}
