package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.catalyst.{ArrayFunctions => AF, TextFunctions => TF}

/** The graft.catalyst kernel layer, called directly through
  * `ArrayFunctions` / `TextFunctions` on the fixture's text and embedding
  * columns: a rows/s figure per kernel, and checks of properties the
  * methods guarantee. `seed` picks the k-means centroids and the documents
  * the property checks sample; the timed row counts do not depend on it. */
object Kernels {
  /** Fixture rows are replicated to about this many before timing, so the
    * kernel, not the scan or the per-job overhead, dominates each call. */
  val TextRows = 8000
  val VectorRows = 100000
  val KeyRows = 400000
  val Reps = 3
  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  def run(spark: SparkSession, data: String,
          seed: Long): (Seq[(String, Double)], Seq[(String, String)]) = {
    val docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
    val embs = spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
    val vecs: Array[Array[Double]] = embs.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val cents = new scala.util.Random(seed).shuffle(vecs.toSeq).take(16).toArray
    val sample = docs.orderBy(xxhash64(col("doc_id"), lit(seed)))
    val keys = docs.select(xxhash64(col("text"))).collect().map(_.getLong(0))
    val bloom = BloomFilter.create(keys.length.toLong, 0.01)
    keys.foreach(bloom.putLong)

    def replicate(df: DataFrame, target: Int): DataFrame = {
      val n = df.count()
      val r = math.max(1L, (target + n - 1) / n)
      val out = df.crossJoin(spark.range(r).withColumnRenamed("id", "rep")).cache()
      out.count()
      out
    }
    val texts = replicate(docs.select("text"), TextRows)
    val vectors = replicate(embs.select(col("embedding"),
      reverse(col("embedding")).as("other")), VectorRows)
    val hashes = replicate(docs.select(xxhash64(col("text")).as("h")), KeyRows)
    val textRows = texts.count()
    val vecRows = vectors.count()
    val keyRows = hashes.count()

    def rate(src: DataFrame, rows: Long, c: Column): Double = {
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        src.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      rows / Stats.median(times)
    }
    val text = col("text")
    val rates = Seq(
      "minhash_sig" -> rate(texts, textRows, AF.minhashSig(text, 5, 128)),
      "shingle_hashes" -> rate(texts, textRows, AF.shingleHashes(text, 5)),
      "simhash_sig" -> rate(texts, textRows, AF.simhashSig(text, 3)),
      "token_gram_hashes" -> rate(texts, textRows, AF.tokenGramHashes(text, 5)),
      "winnow_hashes" -> rate(texts, textRows, AF.winnowHashes(text, 5, 4)),
      "quality_stats" -> rate(texts, textRows, TF.qualityStats(text, Stopwords)),
      "gopher_stats" -> rate(texts, textRows, TF.gopherStats(text, Stopwords)),
      "repetition_stats" -> rate(texts, textRows, TF.repetitionStats(text)),
      "kmeans_argmin" -> rate(vectors, vecRows, AF.kmeansArgmin(col("embedding"), cents)),
      "bloom_contains" -> rate(hashes, keyRows, AF.bloomContainsLong(col("h"), bloom)),
      "cosine_f" -> rate(vectors, vecRows, AF.cosineF(col("embedding"), col("other")))
    ).map { case (k, v) => s"catalyst.$k.rows_per_s" -> v }
    Seq(texts, vectors, hashes).foreach(_.unpersist())

    val checks = Seq(
      "jaccard_self_and_range" -> check(jaccard(sample)),
      "equal_text_equal_signatures" -> check(signatures(sample)),
      "cosine_self_is_one" -> check(cosineSelf(embs)),
      "bloom_no_false_negative" -> check(bloomHits(docs, bloom)),
      "kmeans_argmin_matches_loop" -> check(argmin(embs, vecs, cents)))
    (rates, checks)
  }

  private def check(problem: Option[String]): String = problem.getOrElse("ok")

  /** jaccardLongs(s, s) = 1 and every pair lies in [0, 1]. */
  private def jaccard(sample: DataFrame): Option[String] = {
    val sh = sample.limit(60)
      .select(col("doc_id"), AF.shingleHashes(col("text"), 5).as("sh"))
      .where(size(col("sh")) > 0)
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        AF.jaccardLongs(col("a.sh"), col("b.sh")).as("jac"))
      .collect()
    if (pairs.isEmpty) return Some("no shingled documents")
    pairs.collectFirst {
      case r if r.getLong(0) == r.getLong(1) && r.getDouble(2) != 1.0 =>
        s"jaccard(s, s) = ${r.getDouble(2)} for doc ${r.getLong(0)}"
      case r if !(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0) =>
        s"jaccard = ${r.getDouble(2)} for docs ${r.getLong(0)}, ${r.getLong(1)}"
    }
  }

  /** Equal texts get equal MinHash and SimHash signatures, and MinHash
    * signatures have the declared length. */
  private def signatures(sample: DataFrame): Option[String] = {
    val n = 64
    val some = sample.limit(100)
    val rows = some.union(some)
      .select(col("text"), AF.minhashSig(col("text"), 5, n).as("mh"),
        AF.simhashSig(col("text"), 3).as("sim"))
      .groupBy("text")
      .agg(count(lit(1)).as("c"), countDistinct(col("mh")).as("nmh"),
        countDistinct(col("sim")).as("nsim"), max(size(col("mh"))).as("len"),
        min(size(col("mh"))).as("minlen"))
      .drop("text").collect()
    rows.collectFirst {
      case r if r.getLong(1) != 1 || r.getLong(2) != 1 =>
        s"a text repeated ${r.getLong(0)} times got ${r.getLong(1)} MinHash and ${r.getLong(2)} SimHash signatures"
      case r if r.getInt(3) != n || r.getInt(4) != n =>
        s"MinHash signature length ${r.getInt(4)}..${r.getInt(3)}, declared $n"
    }
  }

  /** cosineF(v, v) = 1 within 1e-6 for every non-zero vector. */
  private def cosineSelf(embs: DataFrame): Option[String] =
    embs.select(col("vec_id"), AF.cosineF(col("embedding"), col("embedding")).as("c"))
      .collect().collectFirst {
        case r if !(math.abs(r.getDouble(1) - 1.0) <= 1e-6) =>
          s"cosine(v, v) = ${r.getDouble(1)} for vector ${r.getLong(0)}"
      }

  /** bloomContainsLong is true for every inserted key. */
  private def bloomHits(docs: DataFrame, bloom: BloomFilter): Option[String] = {
    val misses = docs
      .where(!AF.bloomContainsLong(xxhash64(col("text")), bloom)).count()
    if (misses == 0) None else Some(s"$misses inserted keys reported absent")
  }

  /** kmeansArgmin equals the nearest centroid found by a plain loop
    * (squared Euclidean distance, first minimum on ties). */
  private def argmin(embs: DataFrame, vecs: Array[Array[Double]],
                     cents: Array[Array[Double]]): Option[String] = {
    val got = embs.orderBy("vec_id")
      .select(AF.kmeansArgmin(col("embedding"), cents).getField("c")).collect().map(_.getInt(0))
    val want = vecs.map { v =>
      var best = -1; var bestD = Double.PositiveInfinity
      cents.indices.foreach { j =>
        var d = 0.0
        v.indices.foreach { i => val x = v(i) - cents(j)(i); d += x * x }
        if (d < bestD) { bestD = d; best = j }
      }
      best
    }
    if (got.length != want.length) Some(s"${got.length} assignments for ${want.length} vectors")
    else got.indices.find(i => got(i) != want(i))
      .map(i => s"vector $i: kernel chose ${got(i)}, loop chose ${want(i)}")
  }
}
