package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Materialize.barrier

/** Multimodal (image/audio/video) column support for training-data
  * pipelines: media travel as opaque BINARY columns with typed metadata;
  * decode / feature-extraction / frame-sampling run as partition-batched
  * kernels behind a pluggable decoder trait.
  *
  * The actual image/audio codecs are NOT in this container, so
  * [[HashFeatureDecoder]] provides a deterministic fake (documented, test
  *-covered) while the Spark-side plumbing — schema, batch shape,
  * partition-level batching, feature vector layout — is real. A production
  * decoder (JavaCV / TwelveMonkeys / ffmpeg-over-pipe) drops in behind
  * [[MediaDecoder]] without touching any pipeline code.
  */
object Multimodal {

  /** Canonical media schema: content is opaque; metadata is typed. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Decode boundary. Implementations MUST be deterministic per byte
    * content (results are joined back by media_id downstream). */
  trait MediaDecoder extends Serializable {
    def featureDim: Int
    /** bytes -> feature vector; None for undecodable content. */
    def features(modality: String, content: Array[Byte]): Option[Array[Float]]
  }

  /** Deterministic stand-in decoder: features are a folded byte histogram —
    * stable across runs/JVMs, zero native deps. Clearly NOT a real codec;
    * swap for a production decoder behind the same trait.
    *
    * The fold accumulates exact integer byte sums and divides once at the
    * end, so feature j is the closed form float((Σ bytes[i≡j mod dim] /
    * 255) / max(len/dim, 1)) — order-independent and replayable by the
    * DuckDB oracle (a float running sum would be accumulation-order
    * sensitive and only approximately reproducible). */
  final class HashFeatureDecoder(val featureDim: Int = 16) extends MediaDecoder {
    override def features(modality: String, content: Array[Byte]): Option[Array[Float]] = {
      if (content == null || content.isEmpty) None
      else {
        val acc = new Array[Long](featureDim)
        var i = 0
        while (i < content.length) {
          acc(i % featureDim) += (content(i) & 0xff)
          i += 1
        }
        val n = math.max(content.length / featureDim, 1)
        Some(acc.map(a => (a.toDouble / 255.0 / n).toFloat))
      }
    }
  }

  /** Partition-batched feature extraction — the mapInPandas analogue:
    * each task decodes its partition's rows in one pass (the decoder can
    * amortize model/codec init per partition, never per row). Output:
    * (media_id, modality, features ARRAY<FLOAT>, n_bytes). */
  def extractFeatures(media: DataFrame, decoder: MediaDecoder): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // spread(): the per-row decode is the heavy kernel and an
    // unsplittable input serializes it on one core (no-op at real scale,
    // same contract as the dedup tier's signature kernels)
    val out = graft.ops.Relational.spread(
        media.select(col("media_id").cast("long"), col("modality"),
          col("content")))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init happens here (codec handles, model weights…)
        it.map { case (id, mod, bytes) =>
          val f = decoder.features(mod, bytes)
          (id, mod, f.orNull, if (bytes == null) 0L else bytes.length.toLong)
        }
      }
    out.toDF("media_id", "modality", "features", "n_bytes")
  }

  /** Frame sampling for video-ish payloads: split the binary into
    * fixed-size chunks and keep every `stride`-th — the relational shape of
    * frame extraction (one row in, many frame rows out, ordinal preserved). */
  def sampleFrames(media: DataFrame, chunkBytes: Int, stride: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes == null) Iterator.empty
        else bytes.grouped(chunkBytes).zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (chunk, ord) => (id, ord, chunk) }
      }
      .toDF("media_id", "frame_ordinal", "frame_bytes")
  }

  /** Exact dedup of binary media by raw content hash, per modality —
    * the first pass of any multimodal corpus build (identical images
    * re-crawled under different URLs collapse here before any decode
    * cost is paid). Same keep-min-id/groupBy shape as the text tier's
    * `Dedup.exact`; perceptual near-dup (pHash etc.) plugs in behind
    * the [[MediaDecoder]] boundary as a feature-space pass. */
  def dedupBinary(media: DataFrame): DataFrame =
    media.withColumn("content_hash", md5(col("content")))
      .groupBy("modality", "content_hash")
      .agg(min(col("media_id")).as("kept_id"),
        count(lit(1)).as("dup_count"))

  /** Perceptual-hash near-duplicate pairs — the feature-space pass the
    * [[dedupBinary]] scaladoc promises: an aHash-style signature (bit j
    * set iff feature j exceeds the vector's own mean — the classic
    * average-hash construction, here over whatever the [[MediaDecoder]]
    * emits: pixel-block means for a real image codec, the byte
    * histogram for the deterministic fake), then band-bucketed
    * candidate generation per modality and an exact hamming verify —
    * the SimHash shape transplanted to binary media, so re-encoded /
    * lightly-edited copies that [[dedupBinary]]'s raw-content hash
    * cannot see collide here.
    *
    * Pigeonhole contract: with `bands` bands over featureDim bits, any
    * pair with hamming <= bands − 1 shares at least one band chunk, so
    * candidates are EXACTLY {hamming <= maxHamming} whenever
    * maxHamming <= bands − 1 (enforced). Scale shape: one decode
    * projection, one bucket equi-join keyed (modality, band, chunk) —
    * no all-pairs stage; the mean threshold and the fold both run in
    * array order, so a SQL oracle replays every bit.
    *
    * @return (modality, id_a, id_b, hamming) */
  def perceptualHashPairs(media: DataFrame, decoder: MediaDecoder,
                          bands: Int = 8, maxHamming: Int = 3): DataFrame = {
    val dim = decoder.featureDim
    require(dim <= 63, s"featureDim must fit a long signature: $dim")
    require(bands >= 2 && dim % bands == 0,
      s"bands must divide featureDim: $bands / $dim")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"maxHamming must be <= bands - 1 for the pigeonhole guarantee: " +
        s"$maxHamming / $bands")
    val bpb = dim / bands
    val mask = (1L << bpb) - 1
    val sigs = barrier(extractFeatures(media, decoder)
      .where(col("features").isNotNull)
      .withColumn("__mean", expr(
        "aggregate(features, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)) / size(features)"))
      .withColumn("sig", expr(
        "aggregate(transform(features, (x, i) -> CASE WHEN CAST(x AS DOUBLE) > __mean THEN shiftleft(1L, i) ELSE 0L END), 0L, (a, x) -> a + x)"))
      .select(col("modality"), col("media_id"), col("sig")), "multimodal.sigs")
      // barrier: the decode (mapPartitions, deliberately non-codegen —
      // that's the codec boundary) feeds BOTH sides of the self-join;
      // without it the lineage decodes the corpus twice
    val banded = sigs
      .select(col("modality"), col("media_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("chunk", expr(s"shiftright(sig, band * $bpb) & $mask"))
    banded.as("x").join(banded.as("y"),
        col("x.modality") === col("y.modality") &&
          col("x.band") === col("y.band") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.media_id") < col("y.media_id") &&
          bit_count(col("x.sig").bitwiseXOR(col("y.sig"))) <= maxHamming)
      .select(col("x.modality").as("modality"),
        col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
  }

  /** Wrap arbitrary keyed binary data into the canonical media schema. */
  def asMedia(df: DataFrame, idCol: String, contentCol: String,
              modality: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      lit(modality).as("modality"),
      col(contentCol).cast("binary").as("content"),
      lit(null).cast("string").as("mime"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"))

  /** Resize boundary — the third decode-adjacent kernel next to
    * feature extraction and frame sampling. Implementations MUST be
    * deterministic per (bytes, dims): results are content-addressed
    * downstream (dedup/phash re-run on the resized lake). */
  trait MediaResizer extends Serializable {
    /** bytes at w0×h0 → bytes at w1×h1; None for undecodable input. */
    def resize(modality: String, content: Array[Byte], w0: Int,
               w1: Int, h1: Int): Option[Array[Byte]]
  }

  /** Deterministic stand-in resizer (the codecs are not in this
    * container): the payload is read as a row-major `w0`-wide byte
    * grid (height = ceil(n/w0), ragged last row clamped) and
    * nearest-neighbor sampled to w1×h1 with EXACT integer index math —
    * src(r1,c1) = min((r1·h0)/h1 · w0 + (c1·w0)/w1, n−1) — so a SQL
    * oracle replays every output byte. A production image/audio
    * resampler drops in behind [[MediaResizer]] without touching the
    * pipeline plumbing. */
  final class ByteGridResizer extends MediaResizer {
    override def resize(modality: String, content: Array[Byte], w0: Int,
                        w1: Int, h1: Int): Option[Array[Byte]] = {
      if (content == null || content.isEmpty || w0 <= 0) None
      else {
        val n = content.length
        val h0 = (n + w0 - 1) / w0
        val out = new Array[Byte](w1 * h1)
        var r1 = 0
        while (r1 < h1) {
          val r0 = r1 * h0 / h1
          var c1 = 0
          while (c1 < w1) {
            val c0 = c1 * w0 / w1
            out(r1 * w1 + c1) = content(math.min(r0 * w0 + c0, n - 1))
            c1 += 1
          }
          r1 += 1
        }
        Some(out)
      }
    }
  }

  /** Partition-batched media resize — the mapInPandas analogue for the
    * resize stage of a multimodal ingest (decode → RESIZE → feature /
    * hash): each task transforms its partition in one pass, metadata is
    * rewritten to the target dims, undecodable rows carry null content
    * (the extractFeatures convention). `sourceWidth` supplies the grid
    * width when the media metadata doesn't (the fixture case); a real
    * deployment reads it from the `width` column.
    * Output: (media_id, modality, content, mime, width, height,
    * duration_ms, n_bytes_in) — the canonical media schema plus the
    * input size, so the resized lake is a drop-in for every downstream
    * media operator. */
  def resizeMedia(media: DataFrame, resizer: MediaResizer,
                  targetW: Int, targetH: Int,
                  sourceWidth: Int = 0): DataFrame = {
    require(targetW >= 1 && targetH >= 1, "target dims must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("modality"),
        col("content"), col("mime"),
        coalesce(col("width"), lit(sourceWidth)).as("width"))
      .as[(Long, String, Array[Byte], String, Int)]
      .mapPartitions { it =>
        // per-partition init point (codec/resampler handles)
        it.map { case (id, mod, bytes, mime, w0) =>
          val resized = resizer.resize(mod, bytes, w0, targetW, targetH)
          (id, mod, resized.orNull, mime,
            if (bytes == null) 0L else bytes.length.toLong)
        }
      }
      .toDF("media_id", "modality", "content", "mime", "n_bytes_in")
      .withColumn("width", lit(targetW))
      .withColumn("height", lit(targetH))
      .withColumn("duration_ms", lit(null).cast("long"))
      .select("media_id", "modality", "content", "mime", "width",
        "height", "duration_ms", "n_bytes_in")
  }
}
