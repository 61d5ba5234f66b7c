package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All are
  * built-in-function pipelines (codegen'd, no UDFs in the hot path) so they
  * stream through a parquet scan at full width — the 100 TB design point is
  * "one narrow projection, one pass, no shuffle" for every per-document
  * score.
  */
object Text {

  /** Whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish token count: word pieces + standalone punctuation, the usual
    * cheap proxy for LLM token budgeting. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Per-document quality features: length, token stats, punctuation and
    * stopword ratios — the standard pre-training quality heuristics.
    *
    * The integer inputs come from ONE linear-pass native kernel
    * ([[graft.catalyst.QualityStatsExpr]]) instead of the higher-order
    * filter/aggregate/transform pipeline: HOFs are CodegenFallback in
    * Spark, and the interpreted per-row cost measured ~17× the codegen
    * cost on a 500k-doc materialization — on a 100 TB curation pass the
    * scoring projection IS the job. The kernel is bit-parity
    * property-tested against the declarative form (TextSpec); every
    * downstream ratio keeps the original expression shape, so all
    * consuming oracles are unchanged. */
  def qualityFeatures(df: DataFrame, textCol: String,
                      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    df.withColumn("__qs",
        graft.catalyst.TextFunctions.qualityStats(col(textCol), stopwords))
      .withColumn("n_chars", col("__qs.n_chars"))
      .withColumn("n_tokens", col("__qs.n_tokens"))
      .withColumn("n_punct", col("__qs.n_punct"))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, col("n_punct").cast("double") / col("n_chars"))
          .otherwise(0.0))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          col("__qs.sum_tok_len").cast("double") / col("n_tokens"))
          .otherwise(0.0))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0,
          col("__qs.stopword_hits").cast("double") / col("n_tokens"))
          .otherwise(0.0))
      .withColumn("uniq_token_ratio",
        when(col("n_tokens") > 0,
          col("__qs.uniq_tokens").cast("double") / col("n_tokens"))
          .otherwise(0.0))
      .drop("__qs")
  }

  /** Composite quality score in [0,1]: favors mid-length documents with
    * moderate punctuation, some stopwords, and lexical diversity. Purely
    * arithmetic over [[qualityFeatures]] so it is also expressible in the
    * SQL oracle. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    qualityFeatures(df, textCol).withColumn("quality",
      round(
        least(lit(1.0), col("n_tokens") / 100.0) * 0.4 +
          (lit(1.0) - least(lit(1.0), col("punct_ratio") * 5.0)) * 0.2 +
          least(lit(1.0), col("stopword_ratio") * 5.0) * 0.2 +
          col("uniq_token_ratio") * 0.2, 6))

  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this")

  /** n-gram-profile language ID heuristic: score each candidate language by
    * marker-token hits and pick the argmax (ties → lexicographic language
    * order, deterministic). Marker lists are data, not code — callers pass
    * their own profiles; the default covers common European languages. */
  def langId(df: DataFrame, textCol: String,
             profiles: Map[String, Seq[String]] = DefaultLangProfiles): DataFrame = {
    val toks = array_distinct(tokens(lower(col(textCol))))
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(array_intersect(toks, lit(markers.toArray))).as("hits"),
        lit(lang).as("lang"))
    }
    // argmax by (hits desc, lang asc): greatest(struct) orders by hits then
    // lang — negate nothing, invert lang order by scoring structs manually
    df.withColumn("__scores", array(scored: _*))
      .withColumn("pred_lang",
        expr("array_sort(__scores, (l, r) -> CASE WHEN l.hits > r.hits THEN -1" +
          " WHEN l.hits < r.hits THEN 1 WHEN l.lang < r.lang THEN -1" +
          " WHEN l.lang > r.lang THEN 1 ELSE 0 END)[0].lang"))
      .withColumn("pred_hits", expr("array_max(transform(__scores, s -> s.hits))"))
      .drop("__scores")
  }

  val DefaultLangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "ich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "por", "para", "como"))

  /** Document fingerprint: md5 of the sorted distinct token set of the
    * normalized text — robust to reordering and duplication, the cheap
    * "same bag of words" dedup key. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(lower(text)))), " "))

  /** Normalized text for exact dedup: lowercase, collapse whitespace,
    * strip leading/trailing space. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Order-sensitive 64-bit rolling (polynomial) content hash of the
    * normalized text — the classic Rabin-Karp-style fingerprint
    * (complements [[fingerprint]], which is order-INsensitive).
    * h = h*1000003 + byte over the UTF-8 bytes, wrapping mod 2^64, FNV
    * offset basis as seed. Native codegen expression
    * ([[graft.catalyst.RollingHashExpr]]) reading UTF8String bytes
    * directly — the normalize→hash projection stays one whole-stage
    * codegen span with no per-row String decode. */
  def rollingHash(text: Column): Column =
    graft.catalyst.ArrayFunctions.rollingHash(normalized(text))

  /** Gopher-style in-document repetition signals: top word-2-gram and
    * word-3-gram multiplicity and the duplicated-5-gram fraction — the
    * standard "is this document mostly itself repeated" quality cuts a
    * pre-training corpus filter applies before any cross-document dedup.
    *
    * Row-local and zero-shuffle: the gram frequency maps are built per
    * document by one native linear-pass kernel
    * ([[graft.catalyst.RepetitionStatsExpr]]) — NOT by exploding grams and
    * re-aggregating, which would shuffle the corpus's entire token stream
    * to compute per-document numbers. All counts are exact integers over
    * gram strings; the two emitted fractions are single IEEE divisions of
    * those integers, so a SQL oracle replays them bit-for-bit.
    *
    * Output per row: idCol, n_tokens, n_2grams, top2_count, top2_frac,
    * n_3grams, top3_count, top3_frac, n_5grams, distinct_5grams,
    * dup5_frac (fraction of 5-gram OCCURRENCES that are repeats of an
    * earlier occurrence = 1 - distinct/total). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val frac = (num: Column, den: Column) =>
      when(den > 0, round(num.cast("double") / den, 6)).otherwise(0.0)
    df.select(col(idCol),
        graft.catalyst.TextFunctions.repetitionStats(col(textCol)).as("__r"))
      .select(col(idCol), col("__r.n_tokens").as("n_tokens"),
        greatest(col("__r.n_tokens") - 1, lit(0)).as("n_2grams"),
        col("__r.top2_count").as("top2_count"),
        greatest(col("__r.n_tokens") - 2, lit(0)).as("n_3grams"),
        col("__r.top3_count").as("top3_count"),
        greatest(col("__r.n_tokens") - 4, lit(0)).as("n_5grams"),
        col("__r.distinct_5grams").as("distinct_5grams"))
      .withColumn("top2_frac", frac(col("top2_count"), col("n_2grams")))
      .withColumn("top3_frac", frac(col("top3_count"), col("n_3grams")))
      .withColumn("dup5_frac",
        when(col("n_5grams") > 0,
          round(lit(1.0) - col("distinct_5grams").cast("double") / col("n_5grams"), 6))
          .otherwise(0.0))
  }

  /** Kneser-Ney smoothed bigram table — the LM-training counts primitive
    * (the interpolated-KN tables a perplexity filter or a cheap LM is
    * built from): per observed bigram,
    * `p_kn = (c−D)/c(w1) + D·N1+(w1,·)/c(w1) · N1+(·,w2)/T`, with
    * c the bigram count, c(w1) the left-context total, N1+ the distinct
    * continuation counts, T the number of distinct bigram types, and
    * D the absolute discount. Top `topK` bigrams by (count desc, w1, w2).
    *
    * Every quantity is an exact integer aggregate; p_kn is then one fixed
    * IEEE expression per row (no double sums anywhere), so the table
    * hash-gates. Bigrams never cross document boundaries.
    *
    * Scale shape: one bigram explode (linear fan-out) + map-side-combined
    * counts; the context/continuation tables are vocabulary-sized joins;
    * T is a single collected scalar (bounded driver state). */
  def knSmoothedBigrams(df: DataFrame, textCol: String, topK: Int = 50,
                        discount: Double = 0.75): DataFrame = {
    require(topK >= 1, s"topK must be positive: $topK")
    require(discount > 0.0 && discount < 1.0, s"discount in (0,1): $discount")
    val toks = tokens(lower(col(textCol)))
    val pairs = barrier(df.select(toks.as("ts"))
      .where(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c")), "text.pairs")
    val types = pairs.count() // T: distinct bigram types, driver scalar
    val left = pairs.groupBy("w1")
      .agg(sum(col("c")).as("cw1"), count(lit(1)).as("n1_left"))
    val right = pairs.groupBy("w2").agg(count(lit(1)).as("n1_right"))
    pairs.join(left, "w1").join(right, "w2")
      .withColumn("p_kn", round(
        (col("c") - lit(discount)) / col("cw1") +
          lit(discount) * col("n1_left") / col("cw1") *
            (col("n1_right") / lit(types.toDouble)), 6))
      .orderBy(col("c").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .select(col("w1"), col("w2"), col("c"), col("cw1"),
        col("n1_left"), col("n1_right"), col("p_kn"))
  }

  /** Tokenizer fertility report per source — how many tokens a
    * fixed-size vocabulary actually emits per word: in-vocab words cost
    * one token, out-of-vocab words fall back to characters (the
    * byte/char-fallback floor every real tokenizer has). Fertility
    * (emitted/words) by source is the number vocab-size decisions and
    * multilingual-cost estimates are made from; pairs with
    * [[vocabSizeForCoverage]] (which sizes the vocab) and
    * [[vocabCoverage]] (per-doc hit rate).
    *
    * Deterministic vocab: top `vocabSize` corpus words by (freq desc,
    * word asc). Scale shape: one word-count aggregate, a broadcast
    * vocab, one per-source aggregate over the tagged stream — all
    * map-side combined; fertility is a single exact-integer division.
    *
    * @return (source, n_words, n_emitted, oov_words, fertility) */
  def tokenizerFertility(df: DataFrame, sourceCol: String, textCol: String,
                         vocabSize: Int = 25): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive: $vocabSize")
    val words = barrier(df.select(col(sourceCol).as("source"),
        explode(tokens(lower(col(textCol)))).as("w")),
        "text.words") // feeds the vocab fit AND the scoring pass
    val vocab = words.groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(vocabSize)
      .select(col("w"), lit(1).as("__v"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("__v").isNotNull, 1L)
          .otherwise(length(col("w")).cast("long"))).as("n_emitted"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("oov_words"))
      .withColumn("fertility",
        round(col("n_emitted").cast("double") / col("n_words"), 6))
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF construction) per group:
    * each source/domain/cluster is treated as ONE class document, and a
    * term's salience for the class is tf(t,class) · ln(1 + A / f_t)
    * with A the average class token mass and f_t the term's corpus
    * count — "what characterizes this source" for corpus cards and
    * topic labeling, where the per-DOC tf-idf ([[termSalienceTopK]])
    * answers a different question.
    *
    * Determinism: the BM25 recipe — ln quantizes to exact integer
    * MICRO-UNITS immediately, the score is the BIGINT product
    * tf · ln_micro (no float ranking anywhere), top-k per class orders
    * on (score_units desc, term asc).
    *
    * Scale shape: one (class, term) count aggregate (map-side
    * combined), a vocab-sized term-total join, a per-class window over
    * the class's vocab slice. The corpus streams once.
    *
    * @return (groupCol, term, tf, f, score_units, score) top `topK`
    *         rows per class */
  def classTfIdfTopK(df: DataFrame, groupCol: String, textCol: String,
                     topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be positive: $topK")
    val tf = barrier(df.select(col(groupCol).as("g"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("g", "term").agg(count(lit(1)).as("tf")),
      "text.tf") // feeds the scalars AND the score join
    val totals = tf.agg(sum(col("tf")), countDistinct(col("g"))).head()
    val a = totals.getLong(0).toDouble / totals.getLong(1)
    val ft = tf.groupBy("term").agg(sum(col("tf")).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score_units").desc, col("term").asc)
    tf.join(ft, "term")
      .withColumn("ln_micro",
        floor(log(lit(1.0) + lit(a) / col("f")) * 1e6 + 0.5).cast("long"))
      .withColumn("score_units", col("tf") * col("ln_micro"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= topK)
      .select(col("g").as(groupCol), col("term"), col("tf"), col("f"),
        col("score_units"),
        (col("score_units").cast("double") / 1e6).as("score"))
  }

  /** PMI collocation mining over adjacent bigrams — the "new york",
    * "machine learning" detector: pmi(a,b) = ln( p(ab) / (p(a)·p(b)) )
    * with bigram probability over the bigram total and unigram
    * probabilities over the token total; pairs below `minCount` are cut
    * first (PMI's low-count bias is the classic failure mode), top-k by
    * (pmi desc, pair asc).
    *
    * Determinism: the PMI argument is one fixed IEEE product/quotient
    * chain over exact counts (totals are driver scalars — two BIGINTs),
    * ln quantizes to the 1e-6 grid immediately (the transcendental
    * recipe), and the top-k orders on the grid value with a
    * lexicographic tie-break — a SQL oracle replays the ranking exactly.
    *
    * Scale shape: one unigram and one bigram count aggregate (map-side
    * combined, vocab/vocab²-bounded), two vocab-sized joins on the
    * count-floored pair relation, a top-k TakeOrdered. The corpus
    * streams twice and never shuffles by itself.
    *
    * @return (w1, w2, c, c1, c2, pmi) — top `topK` rows */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long = 5,
                      topK: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be positive: $minCount")
    require(topK >= 1, s"topK must be positive: $topK")
    val grid = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val toks = tokens(lower(col(textCol)))
    val uni = barrier(df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu")), "text.uni") // feeds the total AND two joins
    val nu = uni.agg(sum(col("cu"))).head().getLong(0)
    val bigAll = barrier(df.select(toks.as("ts"))
      .where(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c")),
      "text.bigAll") // feeds the total AND the floor cut
    val nb = bigAll.agg(sum(col("c"))).head().getLong(0)
    bigAll.where(col("c") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
      .withColumn("pmi", grid(log(
        col("c").cast("double") * nu * nu /
          (col("c1").cast("double") * col("c2") * nb))))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .select(col("w1"), col("w2"), col("c"), col("c1"), col("c2"),
        col("pmi"))
  }

  /** Zipf's-law fit over the corpus term-frequency distribution: OLS of
    * ln(freq) on ln(rank) for the top-N terms — natural language sits
    * near slope −1, so a corpus whose slope drifts (template spam,
    * boilerplate floods, synthetic fill) fails the health check before
    * any document-level filter sees it.
    *
    * Determinism: both logs quantize to the 1e-6 grid right after the
    * transcendental, the OLS moment sums are exact DECIMAL arithmetic
    * over those grid values (order-independent), and slope/intercept/R²
    * are then fixed IEEE sequences — the single output row hash-gates.
    *
    * Scale shape: one term-count aggregate (map-side combined), a top-N
    * TakeOrdered (N terms, broadcast-sized), and a single-task moment
    * pass over N rows. The corpus is touched once.
    *
    * @return one row: (n_terms, slope, intercept, r2), rounded at 6 */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 200): DataFrame = {
    require(topN >= 3, s"topN must be >= 3: $topN")
    val grid = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val freqs = df.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("tok").asc)
    val xy = freqs
      .withColumn("r", row_number().over(w))
      .select(
        grid(log(col("r").cast("double"))).cast("decimal(13,6)").as("x"),
        grid(log(col("freq").cast("double"))).cast("decimal(13,6)").as("y"))
    xy.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .withColumn("nd", col("n_terms").cast("double"))
      .withColumn("slope",
        (col("nd") * col("sxy") - col("sx") * col("sy")) /
          (col("nd") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("nd"))
      .withColumn("r2",
        ((col("nd") * col("sxy") - col("sx") * col("sy")) *
          (col("nd") * col("sxy") - col("sx") * col("sy"))) /
          ((col("nd") * col("sxx") - col("sx") * col("sx")) *
            (col("nd") * col("syy") - col("sy") * col("sy"))))
      .select(col("n_terms"), round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("r2"), 6).as("r2"))
  }

  /** BM25 retrieval scoring of the corpus against a bag of query terms —
    * the "mine documents relevant to X" curation primitive (seed-document
    * expansion, domain mining). Okapi BM25 with the Lucene idf
    * (ln(1 + (N−df+0.5)/(df+0.5))):
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * Determinism contract: idf is quantized to the 1e-6 grid right after
    * the transcendental (the IRLS recipe — ln's last ulp is libm-specific)
    * and every per-term score is floored to exact integer MICRO-UNITS
    * before the per-document sum, so the sum is BIGINT — order-independent
    * under any shuffle, and a SQL oracle replays it bit for bit. avgdl is
    * an exact decimal mean.
    *
    * Scale shape: terms are a broadcast-sized list; the corpus pass
    * explodes ONLY matching tokens (the `isin` prunes before the
    * per-doc combine), df/N/avgdl are one tiny aggregate each, and the
    * final rank is a top-k TakeOrdered on (score_units desc, id) — no
    * global sort, no corpus-wide shuffle beyond the doc-id combine.
    *
    * @return top-k rows (id, dl, score_units BIGINT, score double) */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topK: Int = 20, k1: Double = 1.2,
               b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: empty term list")
    val grid = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val toksed = df.select(col(idCol).as("id"),
        tokens(lower(col(textCol))).as("ts"))
      .withColumn("dl", size(col("ts")))
    val stats = toksed.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl").cast("decimal(24,6)")).cast("double") /
          count(lit(1))).as("avgdl"))
      .collect()(0)
    val nDocs = stats.getLong(0)
    val avgdl = stats.getDouble(1)
    val tf = toksed
      .select(col("id"), col("dl"), explode(col("ts")).as("tok"))
      .where(col("tok").isin(lowered: _*))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("tok").agg(countDistinct(col("id")).as("df"))
      .withColumn("idf", grid(log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5))))
    tf.join(broadcast(idf.select("tok", "idf")), "tok")
      .withColumn("term_units",
        floor(col("idf") * (col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / avgdl))) * 1e6 + 0.5).cast("long"))
      .groupBy("id", "dl").agg(sum(col("term_units")).as("score_units"))
      .orderBy(col("score_units").desc, col("id").asc)
      .limit(topK)
      .withColumn("score",
        round(col("score_units").cast("double") / 1e6, 6))
  }

  /** Gopher-style document-quality rule report (Rae et al. 2021 §A1.1, the
    * MassiveText filter): per-document word-count bounds, mean word length
    * band, symbol-to-word ratio, bullet-/ellipsis-line ratios, alphabetic
    * word fraction, and the ≥2-required-stopwords test, each emitted as its
    * own boolean next to the measured value, plus the conjunction `pass`.
    * Thresholds are parameters (defaults = the published ones, except the
    * word-count floor which callers tune to their corpus).
    *
    * Scale shape: row-local regexp/split arithmetic only — one projection
    * over the scan, zero shuffle, whole-stage codegen; the 100 TB cost is
    * the read itself. All counts are exact integers and every emitted ratio
    * is one IEEE division of two integers rounded at 6, so a SQL oracle
    * replays the report bit-for-bit. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 5, maxWords: Int = 10000000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
                  maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
                  requiredStopwords: Seq[String] = GopherStopwords,
                  minStopwordHits: Int = 2): DataFrame = {
    // integer inputs from ONE linear-pass native kernel (GopherStatsExpr)
    // — same HOF-fallback motivation and bit-parity contract as
    // qualityFeatures; every downstream ratio/threshold keeps its shape
    val ratio = (num: Column, den: Column) =>
      when(den > 0, round(num.cast("double") / den, 6)).otherwise(lit(0.0))
    df.select(col(idCol),
        graft.catalyst.TextFunctions
          .gopherStats(col(textCol), requiredStopwords).as("__gs"))
      .select(col(idCol),
        col("__gs.n_words").as("n_words"),
        col("__gs.chars").as("__chars"),
        col("__gs.alpha").as("__alpha"),
        col("__gs.symbol").as("__symbol"),
        col("__gs.n_lines").as("n_lines"),
        col("__gs.bullet").as("__bullet"),
        col("__gs.ellipsis").as("__ellipsis"),
        col("__gs.stopword_hits").as("stopword_hits"))
      .withColumn("mean_word_len", ratio(col("__chars"), col("n_words")))
      .withColumn("symbol_ratio", ratio(col("__symbol"), col("n_words")))
      .withColumn("bullet_ratio", ratio(col("__bullet"), col("n_lines")))
      .withColumn("ellipsis_ratio", ratio(col("__ellipsis"), col("n_lines")))
      .withColumn("alpha_ratio", ratio(col("__alpha"), col("n_words")))
      .withColumn("ok_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("ok_symbol", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("ok_bullet", col("bullet_ratio") <= maxBulletRatio)
      .withColumn("ok_ellipsis", col("ellipsis_ratio") <= maxEllipsisRatio)
      .withColumn("ok_alpha", col("alpha_ratio") >= minAlphaRatio)
      .withColumn("ok_stopwords", col("stopword_hits") >= minStopwordHits)
      .withColumn("pass",
        col("ok_word_count") && col("ok_mean_len") && col("ok_symbol") &&
          col("ok_bullet") && col("ok_ellipsis") && col("ok_alpha") &&
          col("ok_stopwords"))
      .drop("__chars", "__alpha", "__symbol", "__bullet", "__ellipsis")
  }

  /** The Gopher "must contain two of" stopword list. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** PII redaction patterns, in application order. Sequential: each stage
    * runs on the previous stage's output, so an already-redacted span can't
    * double-match (an all-digit email local part would otherwise also match
    * the IPv4 rule). Pattern syntax is the common RE2 ∩ java.util.regex
    * subset — char classes, bounded repetition, `\b` — so a SQL engine
    * replays the same replacements. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** Redact emails / SSNs / IPv4s / phone numbers, emitting the redacted
    * text plus a per-pattern hit count (counted on each stage's INPUT, i.e.
    * the number of replacements that stage actually made). Pure codegen'd
    * regexp pipeline — zero shuffle, one pass. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    PiiPatterns.foldLeft(df.withColumn("redacted", col(textCol))) {
      case (acc, (name, re, tok)) =>
        acc.withColumn(s"n_$name",
            size(regexp_extract_all(col("redacted"), lit(re), lit(0))))
          .withColumn("redacted", regexp_replace(col("redacted"), re, tok))
    }

  /** Markup-strip regex stages, in application order. Restricted to the
    * RE2-compatible subset (no backreferences/lookaround) so the DuckDB
    * oracle replays them verbatim; non-greedy and inline (?is) flags are
    * in both engines' dialects. */
  val ScriptStyleRe = "(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>"
  val CommentRe = "(?s)<!--.*?-->"
  val TagRe = "</?[A-Za-z][^>]*>"
  val EntityRe = "&[A-Za-z]+;|&#[0-9]+;"

  /** Strip HTML/markup boilerplate from scraped documents — the
    * extraction step between raw crawl and every text-quality tier:
    * script/style blocks and comments go first (their CONTENT must not
    * leak into the text), then tags, then entities, then whitespace
    * collapse. Pure codegen'd regexp pipeline, zero shuffle, one pass —
    * same shape as [[redactPii]]. `n_tags` counts the tags the tag stage
    * actually removed (measured on its own input, after the block
    * stages), the usual markup-density quality signal.
    *
    * Output: input columns + (n_tags, clean_text). */
  def stripMarkup(df: DataFrame, textCol: String): DataFrame = {
    val s1 = regexp_replace(col(textCol), ScriptStyleRe, " ")
    val s2 = regexp_replace(s1, CommentRe, " ")
    df.withColumn("n_tags",
        size(regexp_extract_all(s2, lit(TagRe), lit(0))))
      .withColumn("clean_text",
        trim(regexp_replace(
          regexp_replace(regexp_replace(s2, TagRe, " "), EntityRe, " "),
          "\\s+", " ")))
  }

  /** Per-document salient terms: tf × (N/df) ranked top-k per document —
    * the no-transcendentals cousin of TF-IDF (the ratio N/df IS the raw
    * inverse document frequency; skipping the log keeps every score one
    * exact IEEE division of integers, so ranks and values are
    * bit-reproducible across engines — same reason the oracle-parity
    * rules in [[graft.queries.Q]] avoid ln/exp in compared output).
    *
    * Shapes: one shuffle for tf (groupBy doc,term over the exploded token
    * stream), one term-sized aggregate for df, a join back on term (AQE
    * broadcasts the df side when small — it is vocabulary-sized, not
    * corpus-sized), and the per-doc top-k window partitioned by document.
    * N is a driver scalar (one count), the only driver-side state. */
  def termSalienceTopK(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3): DataFrame = {
    val nDocs = df.count()
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("salience").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .withColumn("salience", (col("tf") * lit(nDocs)).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("rank"), col("salience"))
  }

  /** Corpus SELF-perplexity score — the CCNet-style quality signal: train
    * an add-one-smoothed bigram language model on the corpus itself and
    * score each document by its mean bigram log-probability. Documents
    * whose word transitions are unusual relative to the corpus (garbled
    * text, wrong-language fragments, symbol soup) score far below the
    * bulk; in the reference pipeline the score drives a keep threshold or
    * a head/middle/tail bucket split.
    *
    * Everything is exact integer counting until the final ln: two
    * count aggregates (unigram, bigram — the "training" pass, one shuffle
    * each with map-side combine) and one join-back per document DISTINCT
    * bigram (the "scoring" pass). Log-probs are ln((c12 + 1) / (c1 + V))
    * per bigram occurrence; ln/avg ulp drift across engines is far
    * inside the 1e-6 output rounding (the q_dist_shift precedent).
    *
    * Scale shape (the round-9 re-plan): every exchange carries 60-bit
    * md5 gram hashes, never token strings — h1 = hash(w1) from the
    * k=1 positional kernel, h12 = hash("w1 w2") from the k=2 kernel
    * ([[graft.catalyst.ArrayFunctions.tokenGramHashes]], the same
    * compiled kernel that fixed repeatedSpans). No checkpoint: the
    * kernel recomputes per consumer, cheaper than materializing the
    * corpus-sized bigram relation. The scoring join runs on the
    * per-doc DISTINCT bigram relation (multiplicity m folded in as
    * m·lp), and the vocabulary size V joins in as a broadcast 1-row
    * aggregate instead of an eager driver count. A 60-bit collision
    * collapses identically in the DuckDB oracle (same md5 prefix of
    * the same gram text).
    *
    * @return (id, n_bigrams, avg_logprob) for every doc with >= 2 tokens */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.catalyst.ArrayFunctions.tokenGramHashes
    // h1 aligned with h12: context hash stream is the first n-1 entries
    // of the k=1 positional hash array (kernel lowercases internally).
    // No spread() on the text input: A/B'd round 15 — the four
    // per-consumer kernel re-evaluations overlap on idle cores, so the
    // spread exchange bought nothing (1.24 vs 1.30 s matched).
    val g = df.select(col(idCol).as("id"),
        tokenGramHashes(col(textCol), 1).as("g1"),
        tokenGramHashes(col(textCol), 2).as("g2"))
      .where(size(col("g2")) >= 1)
    val bigrams = g.select(col("id"), explode(
        zip_with(slice(col("g1"), lit(1), size(col("g2"))), col("g2"),
          (a, b) => struct(a.as("h1"), b.as("h12")))).as("p"))
      .select(col("id"), col("p.h1").as("h1"), col("p.h12").as("h12"))
    val uni = bigrams.groupBy("h1").agg(count(lit(1)).as("c1"))
    val bi = bigrams.groupBy("h1", "h12").agg(count(lit(1)).as("c12"))
    val occ = bigrams.groupBy("id", "h1", "h12").agg(count(lit(1)).as("m"))
    // vocabulary size for the smoothing denominator: distinct CONTEXT
    // tokens — a broadcast 1-row aggregate, not an eager driver count
    val vrow = uni.agg(count(lit(1)).as("__v"))
    occ
      .join(bi, Seq("h1", "h12"))
      .join(uni, Seq("h1"))
      .crossJoin(broadcast(vrow))
      .withColumn("__lp",
        col("m").cast("double") *
          log((col("c12") + lit(1)).cast("double") /
            (col("c1") + col("__v")).cast("double")))
      .groupBy("id")
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("__lp")) / sum(col("m")).cast("double"), 6)
          .as("avg_logprob"))
  }

  /** Content-novelty score: the fraction of a document's k-gram
    * occurrences whose gram appears in NO other document (corpus
    * document-frequency 1) — the inverse signal of the repeated-span
    * detector. High novelty = original content worth keeping; low
    * novelty = the doc is largely assembled from corpus-shared spans
    * even when no single span crosses a strip threshold.
    *
    * Shape: the same inverted gram index the span tier builds (one
    * map-side-combined exchange on the gram), then one join-back and a
    * per-doc aggregate — linear, no window, no quadratic step.
    *
    * @return (id, n_grams, novel_grams, novelty) for docs with >= k
    *         tokens (shorter docs carry no k-gram). */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8): DataFrame = {
    // grams as 60-bit md5 LONGS from the compiled span-tier kernel
    // (Dedup.tokenGramHashesKernel via TokenGramHashesExpr): the gram
    // exchange carries 8-byte keys, never the ~k-word text — the same
    // re-plan that took repeatedSpans from ratio 6.2 to 2.2 at 10×; the
    // oracle takes the SAME md5 prefix of the SAME gram text, so
    // collisions collapse identically in both engines
    // no checkpoint: recomputing the gram kernel for the two consumers
    // is cheaper than materializing the corpus-sized gram relation
    // (the repeatedSpans lesson)
    // spread() the text input: same two-consumer re-evaluation as
    // lmScore, single-task on an unsplittable input (no-op at scale)
    val grams = graft.ops.Relational.spread(df).select(col(idCol).as("id"),
        explode(graft.catalyst.ArrayFunctions.tokenGramHashes(col(textCol), k))
        .as("gram"))
    val gdf = grams.groupBy("gram").agg(count_distinct(col("id")).as("df"))
    grams.join(gdf, "gram")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel_grams"))
      .withColumn("novelty",
        round(col("novel_grams").cast("double") / col("n_grams"), 6))
  }

  /** BPE merge-candidate statistics: within-token adjacent character
    * pairs counted over the corpus (each token OCCURRENCE contributes),
    * ranked by count with a lexicographic tie-break — the pair-count
    * scan that is one step of byte-pair-encoding vocabulary training.
    * Deterministic and SQL-replayable (the merge LOOP itself is the
    * same fixed-point shape as the EM kernels: each round is this scan
    * plus a re-segmentation; the gate pins the scan).
    *
    * Shape: one bounded fan-out (token length − 1 pairs per token) into
    * a map-side-combined count — the vocabulary of 2-grams of characters
    * is tiny, so the exchange carries ≤ |charset|² partial rows per
    * task. Output: (pair, pair_count, rank), top `topK` by count. */
  def bpeMergeStats(df: DataFrame, textCol: String,
                    topK: Int = 20): DataFrame = {
    // spread(): single-task tokenize+explode on an unsplittable input
    val toks = graft.ops.Relational.spread(df)
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .where(length(col("tok")) >= 2)
    val pairs = toks.select(explode(
        transform(sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("pair_count"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pair_count").desc, col("pair"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** Feature-hashing document embedding (the hashing trick): tokens hash
    * into `dim` buckets via the shared md5 draw, bucket counts become a
    * dense vector, L2-normalized — the text→vector bridge that lets the
    * ANN/semantic-dedup tier run on corpora with no model embeddings.
    * Exact integer counts until the final normalization, so the whole
    * vector — and any cosine computed from it — is oracle-replayable.
    *
    * Shape: token explode → one (id, bucket) map-side-combined count →
    * one per-doc dense-assembly aggregate. The vector never exceeds
    * `dim` doubles; no vocabulary state anywhere.
    *
    * @return (id, vec ARRAY<DOUBLE> of length dim, unit L2 norm). */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
                dim: Int = 64, seed: Long = 11L): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    // no spread() here: A/B'd round 15 (q_text_ann/q_semantic_dedup
    // flat-to-worse) — the (id,bucket) groupBy provides the parallelism
    val counts = df.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit(s"he$seed:"), col("tok"))), 1, 15),
          16, 10).cast("long") % dim)
      .groupBy("id", "bucket").agg(count(lit(1)).as("c"))
    counts.groupBy("id")
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), col("c")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0L))
            .cast("double")).as("raw"))
      .withColumn("__n", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("id"),
        transform(col("raw"), x => round(x / col("__n"), 6)).as("vec"))
  }

  /** Per-document vocabulary coverage against a reference token set —
    * the "how much of this doc will the tokenizer/embedding vocab
    * actually recognize" signal (high OOV rate = wrong language, heavy
    * markup residue, or binary junk). The vocab is a one-column
    * relation, broadcast (vocabulary-sized, not corpus-sized); the
    * corpus streams through one exploded left join and one per-doc
    * aggregate — no corpus shuffle beyond the doc-id combine.
    *
    * Output: (id, n_tokens, oov_tokens, oov_rate rounded 6) for docs
    * with ≥ 1 token. */
  /** Tokenizer-design report: the smallest frequency-ranked vocabulary
    * covering each target percentage of the corpus token MASS — "how
    * many types do 95% of tokens need?" drives vocab-size choices and
    * OOV-rate expectations before a tokenizer train. Ranking ties break
    * lexicographically (deterministic); the coverage gate is exact
    * integer arithmetic (cum·100 ≥ total·pct).
    *
    * Scale shape: the corpus collapses to the vocabulary relation in one
    * map-side-combined count; the ranking window is a single partition
    * over the VOCAB (millions of rows at worst, never the corpus), and
    * the report is targets-sized.
    *
    * @return (pct, vocab_size, covered_tokens, total_tokens, coverage) */
  def vocabSizeForCoverage(df: DataFrame, textCol: String,
                           targetsPct: Seq[Int] =
                             Seq(50, 90, 95, 99)): DataFrame = {
    require(targetsPct.nonEmpty && targetsPct.forall(p => p >= 1 && p <= 100),
      s"targets must be percents in [1,100]: $targetsPct")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").desc, col("tok").asc)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    df.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .withColumn("r", row_number().over(w))
      .withColumn("cum", sum(col("f")).over(w.rowsBetween(Long.MinValue, 0)))
      .withColumn("total", sum(col("f")).over(all))
      .select(col("r"), col("cum"), col("total"),
        explode(typedLit(targetsPct)).as("pct"))
      .where(col("cum") * 100 >= col("total") * col("pct"))
      .groupBy("pct")
      .agg(min(col("r")).as("vocab_size"),
        min_by(col("cum"), col("r")).as("covered_tokens"),
        max(col("total")).as("total_tokens"))
      .withColumn("coverage",
        round(col("covered_tokens").cast("double") / col("total_tokens"), 6))
  }

  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame): DataFrame = {
    val vtok = vocab.columns.head
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("token"))
    toks
      .join(broadcast(vocab.select(col(vtok).as("token")).distinct()
        .withColumn("__v", lit(1))), Seq("token"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate",
        round(col("oov_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** DSIR-style importance log-weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public method):
    * score every raw-corpus document by the log likelihood ratio of its
    * hashed-unigram bag under the TARGET corpus distribution vs the RAW
    * corpus distribution. High log_w = the document "looks like" the
    * target domain; feed the weights to [[Sampling.gumbelTopK]] for the
    * resampling step.
    *
    * Per md5 bucket b (the same deterministic token→bucket family as
    * [[hashEmbed]], so the oracle replays it):
    * lr(b) = ln((ct(b)+α)/(Tt+α·dim)) − ln((cr(b)+α)/(Tr+α·dim))
    * (Laplace-smoothed target/raw bucket frequencies), and a document's
    * log_w = Σ_tokens lr(bucket(token)) = Σ_buckets c(doc,b)·lr(b).
    *
    * Scale shape: both distributions are dim-row aggregates (map-side
    * combined), the ratio table is ≤ dim rows and broadcast back onto
    * the per-doc bucket counts — the corpus is exchanged once on
    * (id, bucket) and never again; totals ride as single-row broadcast
    * cross joins. Per-doc float work sums over ≤ dim pre-aggregated
    * integer counts, not raw tokens, so the parity surface is small.
    *
    * Output: (id, n_tokens, log_w rounded 6) for docs with ≥ 1 token. */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
                     textCol: String, dim: Int = 256, seed: Long = 17L,
                     alpha: Double = 1.0): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    require(alpha > 0, s"alpha must be positive (smoothing): $alpha")
    def bucket(c: Column) =
      conv(substring(md5(concat(lit(s"ds$seed:"), c)), 1, 15), 16, 10)
        .cast("long") % dim
    // spread() both text roots: the per-token md5 bucketing is the
    // heavy kernel here and each checkpoint/aggregate fill ran
    // single-task on an unsplittable input (no-op at real scale)
    val docBuckets = barrier(graft.ops.Relational.spread(raw).select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .select(col("id"), bucket(col("tok")).as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("c")),
      "text.docBuckets") // feeds the raw distribution AND the scoring
    val rawDist = docBuckets.groupBy("bucket").agg(sum(col("c")).as("cr"))
    val tgtDist = graft.ops.Relational.spread(target).select(
        explode(tokens(lower(col(textCol)))).as("tok"))
      .select(bucket(col("tok")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    // coalesce: an EMPTY target corpus must degrade to the all-alpha
    // (uniform) target distribution, not to null weights (sum over an
    // empty frame is null)
    val totals = rawDist.agg(coalesce(sum(col("cr")), lit(0L)).as("rtot"))
      .crossJoin(tgtDist.agg(coalesce(sum(col("ct")), lit(0L)).as("ttot")))
    // ratio over the raw-side bucket universe (a bucket no raw token hits
    // can never appear in a document); ≤ dim rows, broadcast
    val ratio = rawDist
      .join(tgtDist, Seq("bucket"), "left")
      .crossJoin(totals)
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + alpha) /
             (col("ttot").cast("double") + alpha * dim)) -
         log((col("cr").cast("double") + alpha) /
             (col("rtot").cast("double") + alpha * dim))).as("lr"))
    docBuckets.join(broadcast(ratio), Seq("bucket"))
      .groupBy("id")
      .agg(sum(col("c")).as("n_tokens"),
        round(sum(col("c").cast("double") * col("lr")), 6).as("log_w"))
  }
}
