package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Similarity

/** Dedup tiers and similarity search on synthetic corpora with known
  * ground truth. */
class DedupSimSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  /** Every directory this spec writes lives under here. */
  private val scratch = java.nio.file.Files.createTempDirectory("graft_dedupsim")

  override def afterAll(): Unit =
    try SparkSpec.deleteTree(scratch) finally super.afterAll()
  import spark.implicits._

  private def corpus() = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "while birds sing in the tall green trees near the quiet river bank"
    Seq(
      (1L, base),
      (2L, base),                                   // exact dup of 1
      (3L, base.replace("quiet", "loud")),          // near dup of 1
      (4L, "completely different text about spark catalyst optimizer rules " +
        "and distributed shuffle partitioning strategies for large clusters"),
      (5L, "Another unrelated document mentioning beta mixture models and " +
        "methylation driver genes in cancer cohorts with many samples")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized text") {
    val res = Dedup.exact(corpus(), "doc_id", "text")
    assert(res.count() == 4)
    val dupGroup = res.where(col("dup_count") === 2).select("kept_id").as[Long].collect()
    assert(dupGroup.toSeq == Seq(1L))
  }

  test("ngramJaccardPairs finds the exact and near dup with consistent sizes") {
    val pairs = Dedup.ngramJaccardPairs(corpus(), "doc_id", "text",
      k = 3, threshold = 0.5, maxShingleDf = 100)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val exact = pairs.find(p => p._1 == 1 && p._2 == 2).get._3
    assert(exact == 1.0)
  }

  test("a prebuilt shingled relation is accepted at the matching k and " +
    "rejected loudly at a different k") {
    val docs = corpus()
    val sh3 = Dedup.shingleRelation(docs, "doc_id", "text", 3)
    // same k: identical pair set to the self-shingling path
    val viaPrebuilt = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.5, maxShingleDf = 100, shingled = Some(sh3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaPrebuilt == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // mismatched k: the tag must fail the call before any wrong-universe
    // pair computation (both the ngram and the LSH/verify entry points)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        k = 4, threshold = 0.5, shingled = Some(sh3))
    }
    assert(e1.getMessage.contains("k=3") && e1.getMessage.contains("k=4"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 5, threshold = 0.5, shingled = Some(sh3))
    }
    assert(e2.getMessage.contains("k=3") && e2.getMessage.contains("k=5"))
  }

  test("incremental pairs off a PERSISTED banded index equal the filtered " +
    "full-corpus pairs") {
    val docs = corpus()
    val old = docs.where(col("doc_id") <= 2)   // contains the dup pair (1,2)
    val fresh = docs.where(col("doc_id") >= 3) // doc 3 near-dups 1 and 2
    // the index survives a write/read round trip (the production shape)
    val dir = java.nio.file.Files.createTempDirectory(scratch, "graft_idx").toString
    Dedup.bandedIndex(old, "doc_id", "text", k = 3, numHashes = 128,
      bands = 32).write.parquet(s"$dir/idx")
    val oldIdx = spark.read.parquet(s"$dir/idx")
    val inc = Dedup.minhashLshPairsIncremental(old, fresh, oldIdx,
        "doc_id", "text", k = 3, threshold = 0.5, numHashes = 128, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.5, numHashes = 128, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inc == full.filter { case (a, b) => a >= 3 || b >= 3 })
    assert(inc == Set((1L, 3L), (2L, 3L))) // old-old pair (1,2) excluded
  }

  test("incremental probe rejects a stored index built with different " +
    "sketch parameters") {
    val docs = corpus()
    val old = docs.where(col("doc_id") <= 2)
    val fresh = docs.where(col("doc_id") >= 3)
    val dir = java.nio.file.Files.createTempDirectory(scratch, "graft_idx_mm").toString
    Dedup.bandedIndex(old, "doc_id", "text", k = 3, numHashes = 128,
      bands = 32).write.parquet(s"$dir/idx")
    val oldIdx = spark.read.parquet(s"$dir/idx")
    // a mismatched (bands) call would silently miss every pair — it must
    // throw instead (params round-trip via band_sig field metadata)
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairsIncremental(old, fresh, oldIdx, "doc_id", "text",
        k = 3, threshold = 0.5, numHashes = 128, bands = 16)
    }
    assert(e.getMessage.contains("bands=32"))
  }

  test("repeatedSpans finds exactly the planted shared paragraph as one " +
    "maximal span, and the profile fractions follow") {
    // 13-token boilerplate shared by docs 1 and 2 at DIFFERENT positions;
    // the rest of each doc is unique, so with k=4 the duplicated grams
    // tile the paragraph and must merge into ONE maximal span per doc
    val boiler = "all rights reserved contact the site administrator for " +
      "takedown requests and licensing questions" // 13 tokens
    val d1 = s"alpha beta gamma delta $boiler epsilon zeta"
    val d2 = s"$boiler one two three four five six seven eight nine"
    val d3 = "totally unrelated content with no repeated blocks anywhere " +
      "in this corpus of documents at all thanks"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", k = 4, minDf = 2)
      .select("id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect().toSet
    // doc 1: boiler occupies tokens [4, 17); doc 2: [0, 13); doc 3: none
    assert(spans == Set((1L, 4, 17), (2L, 0, 13)))
    val prof = Dedup.duplicatedTokenProfile(docs, "doc_id", "text",
        k = 4, minDf = 2)
      .select("id", "n_tokens", "dup_tokens")
      .as[(Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(prof(1L) == ((19, 13L)) && prof(2L) == ((22, 13L)) &&
      prof(3L) == ((16, 0L)))
  }

  test("repeatedSpansIncremental flags a batch doc sharing a paragraph " +
    "with ONE corpus doc, off a persisted index, and rejects k mismatch") {
    val boiler = "all rights reserved contact the site administrator for " +
      "takedown requests and licensing questions" // 13 tokens
    val corpus = Seq(
      (1L, s"alpha beta gamma delta $boiler epsilon zeta"),
      (2L, "totally unrelated corpus content with no repeated blocks " +
        "anywhere at all in here thanks")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"$boiler one two three four five six seven eight nine"),
      (11L, "fresh unique batch document with nothing shared across any " +
        "other text in the whole set")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory(scratch, "graft_gramdf").toString
    Dedup.gramDfIndex(corpus, "doc_id", "text", k = 4)
      .write.parquet(s"$dir/idx")
    val idx = spark.read.parquet(s"$dir/idx")
    // neither side alone reaches minDf=2 for the boiler grams — only the
    // corpus-df + batch-df sum crosses the threshold
    val spans = Dedup.repeatedSpansIncremental(batch, idx,
        "doc_id", "text", k = 4, minDf = 2)
      .select("id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect().toSet
    assert(spans == Set((10L, 0, 13)))
    // a mismatched k must throw (params round-trip via field metadata)
    val e = intercept[IllegalArgumentException] {
      Dedup.repeatedSpansIncremental(batch, idx, "doc_id", "text",
        k = 5, minDf = 2)
    }
    assert(e.getMessage.contains("k=4"))
  }

  test("hot-band guard: star pairs preserve clone-class clustering and " +
    "leave normal buckets untouched") {
    val clone = "same boilerplate page text repeated across many mirrors " +
      "of the site with identical navigation and footer content blocks"
    val docs = ((1L to 50L).map(i => (i, clone)) ++ Seq(
      (100L, "a genuinely unique document about catalyst optimizer rules"),
      (101L, "another distinct text mentioning streaming watermarks"))).toDF("doc_id", "text")
    // guard forced on (threshold 10 << 50 clones): clone buckets go star
    val guarded = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.8, hotBucketThreshold = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(guarded == (2L to 50L).map(i => (1L, i)).toSet)
    // connectivity is what downstream consumes: same clusters as the
    // un-guarded clique
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full.size == 49 * 50 / 2)
    def clusters(pairs: Set[(Long, Long)]) =
      Dedup.duplicateClusters(pairs.toSeq.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
    assert(clusters(guarded) == clusters(full))
    // normal (sub-threshold) buckets: guard is a no-op — identical pairs
    val normal = Dedup.minhashLshPairs(corpus(), "doc_id", "text",
        k = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val normalHuge = Dedup.minhashLshPairs(corpus(), "doc_id", "text",
        k = 3, threshold = 0.5, hotBucketThreshold = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(normal == normalHuge && normal.nonEmpty)
  }

  test("hot-band guard: incremental probe stars new members (and old ones " +
    "when the representative is new) without old-old pairs") {
    val clone = "same boilerplate page text repeated across many mirrors " +
      "of the site with identical navigation and footer content blocks"
    val old = (10L to 30L).map(i => (i, clone)).toDF("doc_id", "text")
    val fresh = (31L to 45L).map(i => (i, clone)).toDF("doc_id", "text")
    val oldIdx = Dedup.bandedIndex(old, "doc_id", "text")
    val inc = Dedup.minhashLshPairsIncremental(old, fresh, oldIdx,
        "doc_id", "text", threshold = 0.8, hotBucketThreshold = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // rep is old doc 10: every NEW doc stars to it; no old-old pairs
    assert(inc == (31L to 45L).map(i => (10L, i)).toSet)
    // rep NEW: old members must star to it so old-new connectivity holds
    val fresh2 = Seq((1L, clone)).toDF("doc_id", "text") // new min id
    val inc2 = Dedup.minhashLshPairsIncremental(old, fresh2, oldIdx,
        "doc_id", "text", threshold = 0.8, hotBucketThreshold = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inc2 == (10L to 30L).map(i => (1L, i)).toSet)
  }

  test("hot-band guard: a 100k-doc clone class completes (the unguarded " +
    "clique would generate ~10^10 candidates)") {
    val clone = "boilerplate mirror page body with shared navigation text"
    val n = 100000L
    val docs = spark.range(1L, n + 1L)
      .select(col("id").as("doc_id"),
        when(col("id") <= n - 1000, lit(clone))
          .otherwise(concat(lit("unique tail document number "),
            col("id").cast("string"), lit(" with distinct content words")))
          .as("text"))
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.8)
    // 99k clones -> one star: (1, i) for i in 2..99000
    assert(pairs.count() == (n - 1000) - 1)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"100k clone class: $sec%.1f s")
    assert(sec < 300.0, s"hot-band path too slow: $sec s")
  }

  test("verifyPairsExactJaccard dedups on the pair key even with extra " +
    "candidate columns") {
    // duplicate pairs that differ in a band column must collapse to ONE
    // verified row per (id_a, id_b)
    val cands = Seq((1L, 2L, 0), (1L, 2L, 7), (1L, 3L, 1), (1L, 3L, 3))
      .toDF("id_a", "id_b", "band")
    val verified = Dedup.verifyPairsExactJaccard(corpus(), cands,
      "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(verified.sorted == Seq((1L, 2L), (1L, 3L)))
  }

  test("minhash LSH pairs equal exact pairs at high threshold (recall) and " +
    "signatures are overflow-free") {
    val lsh = Dedup.minhashLshPairs(corpus(), "doc_id", "text",
      k = 3, threshold = 0.5, numHashes = 128, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val sigs = Dedup.minhashSignatures(corpus(), "doc_id", "text")
      .select("sig").as[Seq[Long]].collect()
    assert(sigs.forall(_.size == 128))
    // identical docs -> identical signatures
    val s = Dedup.minhashSignatures(corpus(), "doc_id", "text")
      .where(col("id").isin(1, 2)).select("sig").as[Seq[Long]].collect()
    assert(s(0) == s(1))
  }

  test("simhash: identical docs collide, near dups land at small hamming") {
    val sigs = Dedup.simhashSignatures(corpus(), "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs.values.forall(s => (s >>> Dedup.SimhashBits) == 0L), "60-bit sketch")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) <= 14)
    assert(hamming(sigs(1L), sigs(4L)) > 14)
    // 30 bands of 2 bits: pigeonhole-deterministic up to hamming 24 — wide
    // enough that the J~0.76 near-dup (expected hamming ~13) is guaranteed
    val pairs = Dedup.simhashPairs(corpus(), "doc_id", "text",
      bands = 30, k = 3, threshold = 0.5, maxHamming = 24)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
  }

  test("kmeansAssign recovers two planted clusters, is deterministic, " +
    "and the profile shares sum to 1") {
    import graft.sim.Clustering
    // two tight blobs far apart in 8-d; ids interleaved so the md5 init
    // can pick seeds from either blob
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      val v = Array.tabulate(8)(d => base + 0.01f * ((i + d) % 5))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val out = Clustering.kmeansAssign(vecs, "vec_id", "embedding",
        k = 2, iters = 4, seed = 42L)
      .select("id", "cluster").as[(Long, Int)].collect()
    val byBlob = out.groupBy(_._1 % 2).map { case (b, xs) =>
      b -> xs.map(_._2).toSet
    }
    // each blob maps to exactly one cluster, and the clusters differ
    assert(byBlob(0L).size == 1 && byBlob(1L).size == 1)
    assert(byBlob(0L) != byBlob(1L))
    // determinism: same seed, same assignment
    val again = Clustering.kmeansAssign(vecs, "vec_id", "embedding",
        k = 2, iters = 4, seed = 42L)
      .select("id", "cluster").as[(Long, Int)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    val prof = Clustering.clusterProfile(
      Clustering.kmeansAssign(vecs, "vec_id", "embedding", k = 2,
        iters = 4, seed = 42L))
    val shares = prof.select("share").as[Double].collect()
    assert(math.abs(shares.sum - 1.0) < 1e-9 && shares.forall(_ > 0))
  }

  test("kmeansIncrement moves touched centroids to the exact weighted " +
       "mean and leaves untouched clusters verbatim") {
    import graft.sim.Clustering
    // persisted state: two centroids far apart, 10 members each
    val cents = Array(Array(0.0, 0.0), Array(100.0, 100.0))
    val counts = Array(10L, 10L)
    // batch: 5 vectors at (2, 2) — all join cluster 0
    val batch = (0 until 5).map(i => (i.toLong, Seq(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.kmeansIncrement(batch, "vec_id", "embedding",
        cents, counts)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getSeq[Double](4)))
      .toMap
    // cluster 0: (10*0 + 5*2)/15 = 2/3 per dim
    assert(out(0)._1 == 10L && out(0)._2 == 5L && out(0)._3 == 15L)
    assert(out(0)._4.forall(x => math.abs(x - 0.666667) < 1e-9))
    // cluster 1 untouched: counts unchanged, centroid verbatim
    assert(out(1) == ((10L, 0L, 10L, Seq(100.0, 100.0))))
  }

  test("bruteForceTopK returns correct neighbors on a hand-checked fixture") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 1),
      "vec_id", "embedding", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(2L, 3L))
  }

  test("cosineNearDupPairs finds the planted near-identical vector pair") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f)),
      (2L, Array(0.99f, 0.12f, 0.01f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("rollingHash is order-sensitive and normalization-stable") {
    import graft.text.Text
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "  A   B  C "), (4L, "a b c"))
      .toDF("id", "t").withColumn("h", Text.rollingHash(col("t")))
    val hs = df.select("id", "h").as[(Long, Long)].collect().toMap
    assert(hs(1L) != hs(2L))  // order matters
    assert(hs(1L) == hs(3L))  // case/whitespace normalized
    assert(hs(1L) == hs(4L))  // deterministic
  }

  test("ivfTopK: precision 1, recall grows with nProbe, full probe = exact") {
    val rng = new scala.util.Random(19)
    val dim = 16
    val vecs = Seq.tabulate(150) { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 4)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfAll = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfAll == brute, "probing every cell must equal brute force")
    val ivf2 = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf2.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("ivfExactTopK: replayable-quantizer routing — full probe = brute " +
      "force, partial-probe candidates only from probed cells (round 14)") {
    val rng = new scala.util.Random(23)
    val dim = 16
    val vecs = Seq.tabulate(150) { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 4)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfExactTopK(vecs, queries, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 8, iters = 2, seed = 42L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "probing every cell must equal brute force")
    // partial probe: every returned neighbor must live in one of the
    // query's nProbe nearest cells under the SAME persisted centroids —
    // the routed-candidate-set contract the oracle replays
    val cents = graft.sim.Clustering.kmeansFit(vecs, "vec_id", "embedding",
      8, 2, 42L)
    val cellOf = graft.sim.Clustering
      .kmeansAssignWith(vecs, "vec_id", "embedding", cents)
      .select(col("id"), col("cluster")).as[(Long, Int)].collect().toMap
    def grid(x: Float): Double = math.floor(x.toDouble * 1e6 + 0.5) / 1e6
    val part = Similarity.ivfExactTopK(vecs, queries, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 2, iters = 2, seed = 42L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val qvs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    qvs.foreach { case (qid, v) =>
      val g = v.map(grid)
      val probed = cents.zipWithIndex.map { case (cv, ci) =>
        (g.zip(cv).map { case (x, c) => (x - c) * (x - c) }.sum, ci)
      }.sortBy(identity).take(2).map(_._2).toSet
      part.filter(_._1 == qid).foreach { case (_, nb) =>
        assert(probed.contains(cellOf(nb)),
          s"neighbor $nb of query $qid outside its probed cells $probed")
      }
    }
    val recall = part.toSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"partial-probe recall=$recall")
  }

  test("hybridTopKIvf: fused head over the IVF-routed semantic head " +
      "(round 14)") {
    import graft.sim.Retrieval
    val rng = new scala.util.Random(31)
    val docs = Seq.tabulate(40) { i =>
      val filler = Seq.fill(5 + rng.nextInt(5))("w" + rng.nextInt(20))
      val kw = if (i % 3 == 0) Seq("table", "merge") else Seq.empty
      (i.toLong, (filler ++ kw).mkString(" "))
    }.toDF("doc_id", "text")
    val emb = Seq.tabulate(40) { i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val out = Retrieval.hybridTopKIvf(docs, emb, "doc_id", "text",
      "vec_id", "embedding", terms = Seq("table", "merge"),
      queryVecId = 0L, nCells = 4, nProbe = 2, iters = 2, seed = 42L,
      topN = 10, c = 60, k = 5).collect()
    assert(out.length == 5)
    assert(out.map(_.getInt(1)).toSeq == (1 to 5))
    val scores = out.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse, "rrf_score must be descending")
    val cols = out.head.schema.fieldNames.toSeq
    assert(cols == Seq("doc_id", "fused_rank", "rrf_score",
      "rank_lex", "rank_ivf"))
    // at least one fused row carries an IVF-head rank (the semantic head
    // actually contributed, not just BM25)
    assert(out.exists(r => !r.isNullAt(4)))
  }

  test("hybridTopKIvf under FULL probe (nProbe = nCells) fuses to exactly " +
      "hybridTopK — the invariant binding the two retrieval gates " +
      "(round 15)") {
    import graft.sim.Retrieval
    // randomized fixtures over several seeds: when the IVF head
    // degenerates to exact (every cell probed), the fused ranking must
    // be IDENTICAL to the brute-force-head composition row for row —
    // ranks, rrf scores, and both per-list rank columns
    for (seed <- Seq(5, 17, 29)) {
      val rng = new scala.util.Random(seed)
      val docs = Seq.tabulate(50) { i =>
        val filler = Seq.fill(5 + rng.nextInt(6))("w" + rng.nextInt(25))
        val kw = if (i % 4 == 0) Seq("spark", "shuffle") else Seq.empty
        (i.toLong, (filler ++ kw).mkString(" "))
      }.toDF("doc_id", "text")
      val emb = Seq.tabulate(50) { i =>
        (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding")
      val terms = Seq("spark", "shuffle")
      def rows(df: org.apache.spark.sql.DataFrame, semCol: String) = df
        .select(col("doc_id"), col("fused_rank"), col("rrf_score"),
          col("rank_lex"), col(semCol).as("rank_sem"))
        .collect().map(_.toSeq).toSeq
      val brute = Retrieval.hybridTopK(docs, emb, "doc_id", "text",
        "vec_id", "embedding", terms, queryVecId = 0L,
        topN = 12, c = 60, k = 8)
      val fullProbe = Retrieval.hybridTopKIvf(docs, emb, "doc_id", "text",
        "vec_id", "embedding", terms, queryVecId = 0L,
        nCells = 5, nProbe = 5, iters = 2, seed = 42L,
        topN = 12, c = 60, k = 8)
      assert(rows(fullProbe, "rank_ivf") == rows(brute, "rank_sem"),
        s"full-probe IVF fusion diverged from brute fusion at seed $seed")
    }
  }

  test("lshTopK has precision 1 vs brute force and decent recall") {
    val rng = new scala.util.Random(11)
    val dim = 16
    val vecs = Seq.tabulate(120) { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(vecs, queries, "vec_id", "embedding", dim, 5,
      nBits = 32, bands = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // candidates are re-scored exactly: anything returned at rank<=k that is
    // also in the brute set is correctly ranked; recall bounded below
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("degenerate corpora: empty, whitespace, unicode, single-token docs") {
    val weird = Seq(
      (1L, ""), (2L, "   \t  "), (3L, "one"),
      (4L, "\u00fcber str\u00dfe \u00e9t\u00e9"), // non-ASCII survives
      (5L, "a b"), (6L, "a b")
    ).toDF("doc_id", "text")
    // none of the tiers may throw; identical short docs still pair up
    val ex = Dedup.exact(weird, "doc_id", "text")
    assert(ex.count() > 0)
    // "" and whitespace-only normalize to the same empty fingerprint
    assert(ex.where(col("kept_id") === 1L).select("dup_count").head().getLong(0) == 2)
    val nj = Dedup.ngramJaccardPairs(weird, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nj.contains((5L, 6L)))
    assert(Dedup.minhashLshPairs(weird, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet.contains((5L, 6L)))
    assert(Dedup.simhashPairs(weird, "doc_id", "text", bands = 15, k = 3,
      threshold = 0.5, maxHamming = 14)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet.contains((5L, 6L)))
    val q = graft.text.Text.qualityScore(weird, "text")
    assert(q.count() == 6) // empty docs get a row, not an exception
  }

  test("duplicateClusters finds component minima on chains and multiple components") {
    // component {1..5} is a pure CHAIN (1-2, 2-3, 3-4, 4-5: transitivity
    // required, no clique shortcut) + component {10, 11} + an isolated
    // pair graph never sees node 99
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters matches brute-force components on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = Seq.fill(55)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // brute-force union-find on the driver
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct.map { v =>
      val root = find(v.toInt)
      val members = (0 until n).filter(find(_) == root).map(_.toLong)
      v -> members.min
    }.toMap
    val got = Dedup.duplicateClusters(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("clusterDocuments labels singletons, sizes clusters, picks min-id representative") {
    val docs = corpus() // near-dup trio 1,2,3; singletons 4,5
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.5, numHashes = 128, bands = 32)
    val out = Dedup.clusterDocuments(docs, "doc_id", pairs)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 1L, true), (5L, 5L, 1L, true)))
  }

  test("duplicateClusters distributed path equals the driver union-find") {
    // driverMaxPairs = 0 forces the pointer-jumping loop; both paths must
    // produce the identical component-minimum fixpoint on a chain (worst
    // case for propagation depth) and on a random graph
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val viaLoop = Dedup.duplicateClusters(chain, driverMaxPairs = 0)
      .as[(Long, Long)].collect().toMap
    val viaDriver = Dedup.duplicateClusters(chain)
      .as[(Long, Long)].collect().toMap
    assert(viaLoop == viaDriver && viaLoop(5L) == 1L)
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(40)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("id_a", "id_b")
    val l2 = Dedup.duplicateClusters(edges, driverMaxPairs = 0)
      .as[(Long, Long)].collect().toMap
    val d2 = Dedup.duplicateClusters(edges).as[(Long, Long)].collect().toMap
    assert(l2 == d2 && l2.nonEmpty)
  }

  test("duplicateClusters orders string ids like least() on both paths") {
    // "doc10" < "doc2" lexicographically — the driver path must use the
    // same string ordering Spark's least()/min() applies, not numeric
    val pairs = Seq(("doc2", "doc10"), ("doc10", "doc3")).toDF("id_a", "id_b")
    val viaDriver = Dedup.duplicateClusters(pairs)
      .as[(String, String)].collect().toMap
    val viaLoop = Dedup.duplicateClusters(pairs, driverMaxPairs = 0)
      .as[(String, String)].collect().toMap
    assert(viaDriver == viaLoop)
    assert(viaDriver == Map("doc2" -> "doc10", "doc10" -> "doc10", "doc3" -> "doc10"))
    // non-BMP ordering: Spark compares UTF-8 BYTES (code points), Java
    // String < compares UTF-16 code units, which would rank the emoji
    // (surrogate pair, U+1F600) BELOW U+FFFF — both paths must pick the
    // U+FFFF id as the representative like Spark's min() does
    val bmp = "￿"
    val emoji = new String(Character.toChars(0x1F600))
    val tricky = Seq((bmp, emoji)).toDF("id_a", "id_b")
    val dr = Dedup.duplicateClusters(tricky).as[(String, String)].collect().toMap
    val lp = Dedup.duplicateClusters(tricky, driverMaxPairs = 0)
      .as[(String, String)].collect().toMap
    assert(dr == lp, s"driver $dr vs loop $lp")
    assert(dr(emoji) == bmp && dr(bmp) == bmp)
  }

  test("duplicateClusters and clusterDocuments handle an empty pair set") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(empty).count() == 0)
    val out = Dedup.clusterDocuments(corpus(), "doc_id", empty)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.length == 5 && out.forall(r => r._1 == r._2 && r._3 == 1L && r._4))
  }

  test("Curate keeps one representative per near-dup group and gates quality/language") {
    val res = graft.pipelines.Curate.curate(corpus(), "doc_id", "text",
      k = 3, threshold = 0.8, minQuality = 0.0, langs = Seq("en"))
      .orderBy("doc_id")
      .select("doc_id", "cluster_id", "cluster_size", "pred_lang")
      .as[(Long, Long, Long, String)].collect()
    // docs 1,2 are exact dups (J=1) -> representative 1 survives; doc 3's
    // one-word edit lands at J~0.76 < 0.8 so it stays its own cluster;
    // 4 and 5 are singletons; every fixture doc is English-heavy
    assert(res.map(_._1).toSeq == Seq(1L, 3L, 4L, 5L))
    assert(res.head == ((1L, 1L, 2L, "en")))
    assert(res.forall(_._4 == "en"))
    // a quality bar above every score drops everything
    val none = graft.pipelines.Curate.curate(corpus(), "doc_id", "text",
      minQuality = 1.01)
    assert(none.count() == 0)
    // language gate: no fixture doc is German
    val de = graft.pipelines.Curate.curate(corpus(), "doc_id", "text",
      minQuality = 0.0, langs = Seq("de"))
    assert(de.count() == 0)
  }

  test("duplicated doc ids never produce self-pairs in ngramJaccardPairs") {
    val dup = Seq(
      (7L, "alpha beta gamma delta epsilon zeta"),
      (7L, "alpha beta gamma delta epsilon zeta"), // same id twice
      (8L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(dup, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a != b }, pairs.mkString(","))
    assert(pairs.toSet == Set((7L, 8L)))
  }

  test("containmentPairs is directional: the quoted doc is contained, " +
       "the container is not") {
    val quote = (0 until 10).map(i => s"q$i").mkString(" ")
    val filler = (0 until 40).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                 // the quoted paragraph
      (2L, s"$filler $quote"),     // a long page containing it
      (3L, (0 until 30).map(i => s"z$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
        threshold = 0.9, maxShingleDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1 ⊂ 2 at containment 1.0; the reverse direction is far below 0.9;
    // doc 3 shares nothing
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
    // jaccard would have missed it: |∩|/|∪| = 8/49 ≈ 0.16
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.8, maxShingleDf = 100).count()
    assert(jac == 0)
  }

  test("pqTopK: codes recover planted structure, determinism under " +
       "repartition, ADC ranks near-duplicates first") {
    import graft.sim.Pq
    // three tight blobs in 16-d; queries sit on blob centers
    val vecs = (0 until 60).map { i =>
      val blob = i % 3
      val v = Array.tabulate(16)(d =>
        (if (d / 6 == blob) 5.0f else 0.1f) + 0.01f * ((i + d) % 4))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    val out = Pq.pqTopK(vecs, queries, "vec_id", "embedding", k = 5,
        m = 4, ksub = 4, iters = 2, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3)))
    assert(out.length == 15) // 3 queries x top-5
    // every neighbor of query q (blob q%3) is from the same blob: the
    // 4-subspace codebooks easily separate blobs 5.0 apart
    out.foreach { case (q, n, _, _) =>
      assert(n % 3 == q % 3, s"query $q got cross-blob neighbor $n") }
    // adc_cos is a cosine-like score in [-1, 1.0001]
    assert(out.forall(r => r._4 >= -1.0001 && r._4 <= 1.0001))
    // determinism under physical layout
    val again = Pq.pqTopK(vecs.repartition(7), queries.repartition(2),
        "vec_id", "embedding", k = 5, m = 4, ksub = 4, iters = 2,
        seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3)))
    assert(out.sortBy(r => (r._1, r._3)).toSeq ==
      again.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("edge cases: empty eval set decontaminates nothing; empty batch " +
       "leaves incremental k-means state verbatim") {
    import graft.sim.Clustering
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateBloom(docs, docs.where(lit(false)),
        "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    assert(out.length == 2 && out.forall(_ == ((0L, false))))
    val cents = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val noop = Clustering.kmeansIncrement(
        Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
          .where(lit(false)),
        "vec_id", "embedding", cents, Array(5L, 7L))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[Double](4))).sortBy(_._1).toSeq
    assert(noop == Seq((0, 5L, 0L, 5L, Seq(1.0, 2.0)),
      (1, 7L, 0L, 7L, Seq(3.0, 4.0))))
  }

  test("decontaminateBloomWith refuses a shingle-k-mismatched prebuilt " +
       "eval index (disjoint hash universes would read as a clean corpus)") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y z p q r s t"))
      .toDF("doc_id", "text")
    val (eh, bl) = Dedup.evalHashIndex(docs, "text", k = 5)
    val ex = intercept[IllegalArgumentException] {
      Dedup.decontaminateBloomWith(docs, eh, bl, "doc_id", "text", k = 3)
    }
    assert(ex.getMessage.contains("k=5") && ex.getMessage.contains("k=3"))
    // matched k passes and self-contaminates every doc
    val ok = Dedup.decontaminateBloomWith(docs, eh, bl, "doc_id", "text",
        k = 5)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(ok == Map(1L -> true, 2L -> true))
  }

  test("pqEncode: codes bounded by ksub, deterministic, and a new batch " +
       "encodes identically against persisted codebooks") {
    import graft.sim.Pq
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d) % 11).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cbs = Pq.pqFit(vecs.where(col("vec_id") < 60), "vec_id",
      "embedding", m = 2, ksub = 4, iters = 2, seed = 9L)
    assert(cbs.length == 2 && cbs.forall(_.length == 4))
    val all = Pq.pqEncode(vecs, "vec_id", "embedding", cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(all.size == 80)
    assert(all.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 4)))
    // encoding is per-row: the "new batch" slice encodes identically
    // whether encoded alone or with the corpus
    val newOnly = Pq.pqEncode(vecs.where(col("vec_id") >= 60).repartition(5),
        "vec_id", "embedding", cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(newOnly == all.filter(_._1 >= 60))
  }

  test("ivfPqTopK: full probe equals plain PQ, partial probe routes " +
       "within the query's blob") {
    import graft.sim.Pq
    val vecs = (0 until 60).map { i =>
      val blob = i % 3
      val v = Array.tabulate(16)(d =>
        (if (d / 6 == blob) 5.0f else 0.1f) + 0.01f * ((i + d) % 4))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1))
        .toMap
    // probing every cell makes routing a no-op: IVF-PQ == plain PQ
    // (identical codebooks need identical seeds: ivfPq shifts subspace
    // seeds by +1, so compare against pqTopK seeded to match)
    val full = Pq.ivfPqTopK(vecs, queries, "vec_id", "embedding", k = 5,
      nCells = 6, nProbe = 6, m = 4, ksub = 4, iters = 2, seed = 42L)
    val plain = Pq.pqTopK(vecs, queries, "vec_id", "embedding", k = 5,
      m = 4, ksub = 4, iters = 2, seed = 43L)
    assert(norm(full) == norm(plain))
    // partial probe: every neighbor still comes from the query's blob
    val part = Pq.ivfPqTopK(vecs, queries, "vec_id", "embedding", k = 5,
      nCells = 6, nProbe = 2, m = 4, ksub = 4, iters = 2, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(part.nonEmpty)
    part.foreach { case (q, n) =>
      assert(n % 3 == q % 3, s"query $q got cross-blob neighbor $n") }
  }

  test("decontaminateBloom is bit-identical to the broadcast-exact tier") {
    // corpus: 120 docs; eval = every 10th; plant partial contamination
    // (doc i shares a 5-gram run with eval doc i-1 when i % 10 == 1)
    val docs = (0 until 120).map { i =>
      val base = (0 until 12).map(j => s"w${(i * 31 + j) % 997}")
      val txt = if (i % 10 == 1)
        ((0 until 12).map(j => s"w${((i - 1) * 31 + j) % 997}").take(6) ++
          base.drop(6)).mkString(" ")
      else base.mkString(" ")
      (i.toLong, txt)
    }.toDF("doc_id", "text")
    val eval = docs.where(col("doc_id") % 10 === 0)
    val exact = Dedup.decontaminate(docs, eval, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val bloom = Dedup.decontaminateBloom(docs, eval, "doc_id", "text",
        k = 5, fpp = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(bloom == exact)
    // the plant worked: eval docs self-contaminate, planted docs hit
    assert(exact.filter(_._1 % 10 == 0).forall(_._3))
    assert(exact.filter(r => r._1 % 10 == 1 && r._1 < 120).forall(_._3))
    assert(exact.exists(!_._3))
  }

  test("decontaminateVerbatim: token-aligned containment only — some " +
      "offset must match EVERY positional eval gram; duplicate-gram " +
      "evals counted per position; partial overlaps and shifted-token " +
      "lookalikes stay clean") {
    val evalTxt = "one two three four five six seven" // 7 toks, 3 grams @k=5
    val dupTxt = "a b a b a b a b c"                  // dup grams inside
    val docs = Seq(
      (1L, "head pad " + evalTxt + " tail pad"), // contained mid-doc
      (2L, "one two three four five NOPE seven"), // shares gram 0 only
      (3L, "xone two three four five six seven"), // first token differs
      (4L, evalTxt),                               // exact equality
      (5L, "zz " + dupTxt + " zz"),                // dup-gram eval inside
      (6L, "a b a b a b a c b")                    // same bag, wrong order
    ).toDF("doc_id", "text")
    val eval = Seq((100L, evalTxt), (200L, dupTxt)).toDF("doc_id", "text")
    val out = Dedup.decontaminateVerbatim(docs, eval, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    assert(out(4L) == ((1L, true)))
    assert(out(5L) == ((1L, true)))
    assert(out(6L) == ((0L, false)))
    // CASE-insensitive by the kernel contract
    val up = Seq((7L, ("head " + evalTxt + " tail").toUpperCase))
      .toDF("doc_id", "text")
    val out2 = Dedup.decontaminateVerbatim(up, eval, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out2(7L))
    // id-colliding eval rows: the keeper must be DETERMINISTIC (the
    // lexicographically-least text per id), never a plan-order pick —
    // the doc containing only the dropped variant must stay clean on
    // every run and in the SQL-oracle replay
    val collide = Seq((300L, "zz yy xx ww vv uu"),
      (300L, "aa bb cc dd ee ff")).toDF("doc_id", "text")
    val docs3 = Seq(
      (8L, "pad aa bb cc dd ee ff pad"), // contains the kept MIN text
      (9L, "pad zz yy xx ww vv uu pad")  // contains only the dropped one
    ).toDF("doc_id", "text")
    val out3 = Dedup.decontaminateVerbatim(docs3, collide,
      "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out3(8L) && !out3(9L))
  }

  test("decontaminateVerbatim equals brute-force token-run containment " +
      "on randomized corpora (small alphabet forces heavy gram overlap)") {
    val rnd = new scala.util.Random(19)
    val vocab = Vector("aa", "bb", "cc", "dd")  // tiny: dup grams everywhere
    def randToks(n: Int): Vector[String] =
      Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val evals = (0 until 6).map(i => (100L + i, randToks(5 + rnd.nextInt(4))))
    val docs = (0 until 60).map { i =>
      val base = randToks(8 + rnd.nextInt(15))
      // plant ~1/3 of docs with a random eval at a random position
      val toks = if (i % 3 == 0) {
        val e = evals(rnd.nextInt(evals.length))._2
        val at = rnd.nextInt(base.length + 1)
        base.take(at) ++ e ++ base.drop(at)
      } else base
      (i.toLong, toks)
    }
    val k = 5
    def contains(doc: Vector[String], e: Vector[String]): Boolean =
      e.size >= k && doc.indices.exists(o =>
        o + e.size <= doc.size && doc.slice(o, o + e.size) == e)
    val want = docs.map { case (id, toks) =>
      id -> evals.count { case (_, e) => contains(toks, e) }.toLong
    }.toMap
    val docsDf = docs.map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val evalDf = evals.map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = Dedup.decontaminateVerbatim(docsDf, evalDf, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=$got\nwant=$want")
    // the fixture exercised both directions
    assert(want.values.exists(_ > 0) && want.values.exists(_ == 0))
  }

  test("rrfFuse: missing-side zeros, fixed fold order, id tie-break, " +
      "k cut (round-13 hybrid retrieval)") {
    import graft.sim.Retrieval
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val sem = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem),
        c = 60, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4))))
    // 20: 1/62 + 1/61 wins; 10: 1/61; 40: 1/62; 30 (1/63) cut by k=3
    assert(out.map(_._1).toSeq == Seq(20L, 10L, 40L))
    assert(out.map(_._2).toSeq == Seq(1, 2, 3))
    assert(out(0)._3 == math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6)
    assert(out(0)._4 == Some(2) && out(0)._5 == Some(1))
    assert(out(1)._4 == Some(1) && out(1)._5 == None)
    assert(out(2)._4 == None && out(2)._5 == Some(2))
    // equal rrf from symmetric ranks -> id tie-break, both present
    val t1 = Seq((2L, 5)).toDF("id", "rank")
    val t2 = Seq((1L, 5)).toDF("id", "rank")
    val tied = Retrieval.rrfFuse(Seq("a" -> t1, "b" -> t2), c = 60, k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(tied == Seq(1L, 2L))
  }
}
