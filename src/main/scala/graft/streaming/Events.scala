package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Structured Streaming over the `events` table (driver-brief extension;
  * SURVEY §2.10). Stock building blocks only — watermarks, tumbling/
  * sliding/session windows, within-watermark dedup — wired so the batch
  * entries in StreamQueries and these streaming versions share identical
  * window semantics (verified against each other in StreamingSpec).
  */
object Events {

  /** True when `dir` already holds `batch=` partitions from prior
    * micro-batches. Resolved through Hadoop's FileSystem API so any
    * lake URI works (hdfs://, s3a://, local) — the round-9 java.io.File
    * version silently returned false for every non-driver-local path,
    * making cross-batch near-dup pairs / repeated spans never emit. */
  private def hasBatches(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith("batch="))
  }

  /** Open a DIRECTORY of events parquet files as a stream (the file
    * source's contract — new files appearing in the directory become new
    * micro-batches; this is the real deployment shape). The fixture's ts
    * arrives either as a nanos long (nanosAsLong) or a native
    * timestamp[us]; graft.queries.Q.normalizeEventTs adapts both to a
    * micros `ts` + exact nanos `ts_ns`, same as the batch reader. */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    graft.queries.Q.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir))
  }

  /** Tumbling 10-minute counts+sums per event type with a 30-minute
    * watermark. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(24,6)")).cast("double").as("sum_value"))
      .select(col("event_type"), unix_timestamp(col("w.start")).as("ws"),
        col("n"), col("sum_value"))

  /** Sliding 10/5-minute counts per event type. */
  def slidingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), unix_timestamp(col("w.start")).as("ws"), col("n"))

  /** 30-minute-gap session windows per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("session_start"),
        col("n_events"))

  /** Within-watermark dedup on (user_id, event_type). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type", "event_id")

  /** Stream-stream interval join (click→purchase attribution): purchases
    * joined to the same user's clicks within the FOLLOWING 30 minutes of
    * the click. Both sides carry a watermark and the join condition
    * bounds p_ts relative to c_ts, so the state store can evict rows
    * once the watermark passes — the canonical bounded-state
    * stream-stream join. Works unchanged on a batch frame (withWatermark
    * is a no-op there), which is how the oracle-checked q_stream_join
    * entry runs it; StreamingSpec drives the same function through a
    * real readStream and compares. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases, expr(
        "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_sec"))
  }

  /** Stream-static enrichment join: events (streaming or batch) joined to
    * a small static dimension, broadcast so the stream side never
    * shuffles — the canonical "enrich events with a dim table" shape. In
    * streaming mode Spark re-plans the static side per micro-batch, so a
    * dim refresh (new parquet snapshot) is picked up without restarting
    * the query. Left join: an event with no dim match survives with
    * nulls (enrichment must not drop data). */
  def enrichStatic(events: DataFrame, dim: DataFrame,
                   eventKey: org.apache.spark.sql.Column,
                   dimKey: org.apache.spark.sql.Column): DataFrame =
    events.join(broadcast(dim), eventKey === dimKey, "left")

  /** Idempotent parquet lake sink via foreachBatch: every micro-batch
    * lands under its own `batch=<id>` partition directory with
    * mode("overwrite"). Exactly-once by construction — a batch replayed
    * after a failure rewrites the SAME directory instead of appending
    * duplicates (the checkpoint's batch ids are the unit of replay), which
    * is the standard recipe for streaming ingestion into a parquet lake
    * without a transactional table format. Readers see the whole lake with
    * `spark.read.parquet(dir)`; `batch` surfaces as a partition column and
    * prunes. */
  def writeParquetIdempotent(df: DataFrame, dir: String,
                             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/batch=$id")
      }
      .start()

  final case class SeenHash(keptId: Long)
  final case class DedupDecision(doc_id: Long, content_hash: String,
                                 kept: Boolean, dup_of: Long)

  /** Sequential funnel over the landed event lake: for each user, the
    * FIRST time of step 0, then the first step-1 event AT OR AFTER it,
    * then the first step-2 event after that, … — the classic
    * view→click→purchase conversion analysis (order matters: a
    * purchase before the first view does not count). Timestamps are
    * exact epoch MICROS (never raw), `reached` counts completed steps.
    *
    * Scale shape: ONE user-partitioned window pass — step i's running
    * "first qualifying time" is a chained window min over the same
    * (user, time, step-rank) sort, so k steps plan as k window
    * expressions inside a single Window node; one exchange on the
    * user, then a groupBy that reuses the same partitioning. A click
    * at row j qualifies iff the running step-(i−1) min at j is set —
    * equivalent to "at or after the sequential first" because sort
    * order makes the running min ≤ the row's own time, with funnel
    * position breaking timestamp ties so same-instant step pairs count
    * (the >= contract).
    *
    * @return (user_id, t0..t{k-1} BIGINT micros nullable, reached) */
  def funnelSteps(events: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    import org.apache.spark.sql.expressions.Window
    val rank = steps.zipWithIndex
      .foldLeft(lit(steps.size): Column) { case (acc, (s, i)) =>
        when(col("et") === s, i).otherwise(acc)
      }
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("sr").asc)
      .rowsBetween(Long.MinValue, 0)
    var ev = events.select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("et"), expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("sr", rank)
    steps.zipWithIndex.foreach { case (s, i) =>
      val qualifies =
        if (i == 0) col("et") === s
        else col("et") === s && col(s"r${i - 1}").isNotNull
      ev = ev.withColumn(s"r$i",
        min(when(qualifies, col("us"))).over(w))
    }
    ev.groupBy("user_id")
      .agg(min(col("r0")).as("t0"),
        steps.indices.drop(1).map(i => min(col(s"r$i")).as(s"t$i")): _*)
      .withColumn("reached",
        steps.indices.map(i =>
          when(col(s"t$i").isNotNull, 1).otherwise(0)).reduce(_ + _))
  }

  /** Retention cohorts over the event lake: users are cohorted by the
    * DAY of their first event; for every (cohort day, day offset) the
    * report counts users active that many days later — the standard
    * product-retention triangle. Day arithmetic is exact integer
    * division of epoch micros.
    *
    * Scale shape: one first-day aggregate per user, one distinct
    * (user, cohort, offset) pass, one count — all map-side combined on
    * narrow longs.
    *
    * @return (cohort_day, day_offset, active_users) */
  def retentionCohorts(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = events.select(col(userCol).cast("long").as("user_id"),
      expr(s"unix_micros($tsCol) div $dayUs").as("day"))
    val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("active_users"))
  }

  final case class SourceAdmitted(n: Long)
  final case class QuotaDecision(doc_id: Long, source: String,
                                 admit_seq: Long, admitted: Boolean)

  /** Stateful per-source admission quota — the streaming ingest rate
    * limiter: each source may land at most `quota` documents EVER
    * (across all micro-batches); later arrivals are emitted with
    * admitted = false so the caller can divert them (sample lake,
    * reject log) instead of silently dropping. Arrival order within a
    * batch is ascending doc id (deterministic replay); across batches
    * it is batch order, which the state encodes.
    *
    * State per source is ONE counter — the smallest possible state
    * record, keyed by the source, so the only exchange is the
    * groupByKey on the source and the state store stays
    * domain-cardinality sized at any corpus size. A single-batch drain
    * reproduces the batch face exactly: admit_seq = rank by id within
    * the source, admitted = rank <= quota.
    *
    * Output per input doc (Append): (doc_id, source, admit_seq,
    * admitted). */
  def streamingSourceQuota(docs: DataFrame, idCol: String,
                           sourceCol: String,
                           quota: Long): Dataset[QuotaDecision] = {
    require(quota >= 1, s"quota must be positive: $quota")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).cast("string").as("source"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (src: String, it: Iterator[(Long, String)],
         state: GroupState[SourceAdmitted]) =>
          val ids = it.map(_._1).toArray.sorted
          val before = state.getOption.map(_.n).getOrElse(0L)
          state.update(SourceAdmitted(before + ids.length))
          ids.iterator.zipWithIndex.map { case (id, i) =>
            val seq = before + i + 1
            QuotaDecision(id, src, seq, seq <= quota)
          }
      }
  }

  /** Streaming exact-dedup against ALL history — the streaming twin of
    * the batch ingest gate (`Dedup.exactIncremental`, which anti-joins a
    * persisted hash index): documents arrive as a stream, and a doc is
    * kept iff its normalized content hash was never seen in any earlier
    * micro-batch nor earlier (smaller id) in its own batch. The keeper's
    * id is the state — one tiny record per DISTINCT content hash, keyed
    * by the hash, so the only exchange is the groupByKey on the hash and
    * the state store IS the persisted index (RocksDB-backed at scale,
    * see the backend test; changelog checkpointing keeps recovery
    * incremental). Same keep-min-id semantics as `Dedup.exact`, so a
    * single-batch drain reproduces the batch result exactly.
    *
    * Output per input doc (Append): (doc_id, content_hash, kept,
    * dup_of) — dup_of is the keeper (itself when kept). */
  def streamingExactDedup(docs: DataFrame, idCol: String,
                          textCol: String): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.select(col(idCol).cast("long").as("doc_id"),
        md5(graft.text.Text.normalized(col(textCol))).as("content_hash"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (hash: String, it: Iterator[(Long, String)],
         state: GroupState[SeenHash]) =>
          // a batch's occupants of one hash: smallest id is the batch
          // keeper; bounded by the batch, not the corpus
          val ids = it.map(_._1).toArray.sorted
          state.getOption match {
            case Some(seen) =>
              ids.iterator.map(id => DedupDecision(id, hash, kept = false,
                dup_of = seen.keptId))
            case None =>
              val keeper = ids.head
              state.update(SeenHash(keeper))
              ids.iterator.map(id => DedupDecision(id, hash,
                kept = id == keeper, dup_of = keeper))
          }
      }
  }

  /** End-to-end STREAMING ingest curation: documents arrive as a stream
    * and flow through (1) the zero-shuffle quality/language gate,
    * (2) exact-dedup against ALL history ([[streamingExactDedup]]'s
    * state store = the persisted hash index), (3) an idempotent
    * partitioned parquet lake sink — the continuous-ingestion twin of
    * the batch `pipelines.Curate` flow. Near-dup tiers run as the
    * periodic BATCH compaction over the landed lake (their banded
    * indexes are incremental too: `Dedup.minhashLshPairsIncremental`),
    * which is the standard lambda split: per-document decisions stream,
    * cross-document candidate generation batches.
    *
    * Returns the started query; read the lake with
    * `spark.read.parquet(dir)` (batch id is a partition column). */
  def streamingCurate(docs: DataFrame, idCol: String, textCol: String,
                      minQuality: Double, lang: String, dir: String,
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val gated = graft.text.Text.qualityScore(docs, textCol)
      .where(col("quality") >= minQuality)
    val langGated = graft.text.Text.langId(gated, textCol)
      .where(col("pred_lang") === lang)
      .select(col(idCol), col(textCol), col("quality"), col("pred_lang"))
    // keep only history-new content; carry the doc payload through the
    // stateful operator by joining the decision back is not possible on
    // a stream — so the dedup keys on (id, hash) and the payload rides
    // inside the state function's input via a composite tuple
    val hashed = langGated.withColumn("content_hash",
      md5(graft.text.Text.normalized(col(textCol))))
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val kept = hashed.select(col(idCol).cast("long").as("doc_id"),
        col("content_hash"), col(textCol).cast("string").as("text"),
        col("quality").cast("double"), col("pred_lang"))
      .as[(Long, String, String, Double, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (hash: String, it: Iterator[(Long, String, String, Double, String)],
         state: GroupState[SeenHash]) =>
          val rows = it.toArray.sortBy(_._1)
          if (state.exists) Iterator.empty
          else {
            state.update(SeenHash(rows.head._1))
            Iterator.single(rows.head) // min-id keeper, payload intact
          }
      }
      .toDF("doc_id", "content_hash", "text", "quality", "pred_lang")
    writeParquetIdempotent(kept, dir, checkpoint)
  }

  /** Streaming NEAR-DUP ingest — the lambda split COLLAPSED into the
    * stream: each micro-batch (1) sketches ONLY its own documents,
    * (2) emits every near-dup pair touching the batch by probing the
    * persisted banded index ([[graft.dedup.Dedup.minhashLshPairsIncremental]]
    * against the lake, so per-batch cost rides the batch), and
    * (3) appends its documents to the lake and its band rows to the
    * index, each under an idempotent `batch=<id>` partition. Because
    * banding is per-document, the union of the per-batch pair logs over
    * a drained stream is EXACTLY `Dedup.minhashLshPairs` of the whole
    * corpus — a pair is emitted once, in the batch where its later
    * member arrives (proven stream ≡ batch in StreamingSpec).
    *
    * Replay safety: history reads filter `batch < id`, so a batch
    * replayed after a failure never sees its own half-written output as
    * "history" — the same reason the writes are partition overwrites.
    *
    * Runs with Trigger.AvailableNow (drain-what-is-there-and-stop): the
    * modern shape for an incremental ingest job that a scheduler invokes
    * per interval; a continuous deployment re-invokes it.
    *
    * Layout: `lakeDir` (idCol, textCol), `indexDir` (id, band,
    * band_sig — sketch params ride the band_sig field metadata, so a
    * parameter-mismatched resume FAILS before silently missing pairs),
    * `pairsDir` (id_a, id_b, jaccard), each `batch=`-partitioned. */
  def streamingNearDup(docs: DataFrame, idCol: String, textCol: String,
                       lakeDir: String, indexDir: String, pairsDir: String,
                       checkpoint: String, k: Int = 3,
                       threshold: Double = 0.8, numHashes: Int = 128,
                       bands: Int = 16, hotBucketThreshold: Int = 4096)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val cols = batch.select(col(idCol), col(textCol))
        val history = if (hasBatches(spark, lakeDir))
          spark.read.parquet(lakeDir).where(col("batch") < id)
            .select(col(idCol), col(textCol))
        else cols.limit(0)
        val oldIdx = if (hasBatches(spark, indexDir))
          spark.read.parquet(indexDir).where(col("batch") < id)
            .select("id", "band", "band_sig")
        else Dedup.bandedIndex(cols.limit(0), idCol, textCol,
          k, numHashes, bands)
        val pairs = Dedup.minhashLshPairsIncremental(history, cols, oldIdx,
          idCol, textCol, k, threshold, numHashes, bands,
          hotBucketThreshold)
        pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$id")
        Dedup.bandedIndex(cols, idCol, textCol, k, numHashes, bands)
          .write.mode("overwrite").parquet(s"$indexDir/batch=$id")
        cols.write.mode("overwrite").parquet(s"$lakeDir/batch=$id")
      }
      .start()
  }

  /** Streaming SUBSTRING-DEDUP ingest gate: the span tier's incremental
    * contract run per micro-batch — each batch's token spans are checked
    * against the merged gram-df index of ALL earlier batches
    * ([[graft.dedup.Dedup.repeatedSpansIncremental]]: a batch doc
    * sharing a paragraph with ONE earlier doc is flagged even though
    * neither side alone reaches minDf), then the batch's own
    * [[graft.dedup.Dedup.gramDfIndex]] lands under its `batch=<id>`
    * partition; the running index is the df-SUM rollup
    * ([[graft.dedup.Dedup.mergeGramDfIndexes]] — exact because ingest
    * batches partition the corpus by document). Same idempotency and
    * replay-safety shape as [[streamingNearDup]].
    *
    * Emits per batch: (id, span_start, span_end, span_tokens) under
    * `spansDir/batch=<id>`. Per the incremental contract, a span is
    * charged to the batch whose arrival crossed the threshold — earlier
    * batches' docs are their own ingests' responsibility. */
  def streamingSpanIngest(docs: DataFrame, idCol: String, textCol: String,
                          indexDir: String, spansDir: String,
                          checkpoint: String, k: Int = 8, minDf: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val cols = batch.select(col(idCol), col(textCol))
        val oldIdx = if (hasBatches(spark, indexDir))
          Dedup.mergeGramDfIndexes(
            spark.read.parquet(indexDir).where(col("batch") < id)
              .select("gram", "df"))
        else Dedup.gramDfIndex(cols.limit(0), idCol, textCol, k)
        Dedup.repeatedSpansIncremental(cols, oldIdx, idCol, textCol,
            k, minDf)
          .write.mode("overwrite").parquet(s"$spansDir/batch=$id")
        Dedup.gramDfIndex(cols, idCol, textCol, k)
          .write.mode("overwrite").parquet(s"$indexDir/batch=$id")
      }
      .start()
  }

  /** Streaming MERGEABLE PROFILE: profile each micro-batch with the
    * bounded KMV sketch ([[graft.stats.Profile.profileKmv]]) and land it
    * under its `batch=<id>` partition; the running whole-corpus profile
    * is [[graft.stats.Profile.mergeKmvProfiles]] over the landed slices
    * — BIT-IDENTICAL to profiling the union directly (counts sum, ranges
    * re-min/max, the sketch union re-takes the k smallest hashes), so a
    * snapshot validator never rescans the lake. Proven
    * stream-merge ≡ whole-corpus in StreamingSpec. */
  def streamingProfile(docs: DataFrame, profileDir: String,
                       checkpoint: String, k: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.stats.Profile.profileKmv(batch, k)
          .write.mode("overwrite").parquet(s"$profileDir/batch=$id")
      }
      .start()

  /** Streaming per-group cardinality monitoring: each micro-batch lands
    * its own [[graft.stats.Sketches.groupKmvDistinct]] relation under
    * `outDir/batch=<id>` (idempotent overwrite per batch id — replay-safe);
    * the running per-group estimate is `Sketches.mergeGroupKmv` over the
    * landed slices — sketch-sized state, never a re-scan of history. The
    * batch face and the merge are both oracle-gated (q_group_kmv), and
    * StreamingSpec proves merge-of-batches ≡ whole-corpus bit for bit. */
  def streamingGroupKmv(rows: DataFrame, groupCol: String, valueCol: String,
                        outDir: String, checkpoint: String, k: Int = 64,
                        seed: Long = 3L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.stats.Sketches
          .groupKmvDistinct(batch, groupCol, valueCol, k, seed)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .start()

  /** Streaming eval-set decontamination at ingest — the continuous twin
    * of [[graft.dedup.Dedup.decontaminateBloom]]: the EVAL side is
    * static (built once — bloom bitmap + exact hash relation, both
    * eval-sized), and each arriving document batch flows through the
    * same bloom pre-filter → exact-verify join → per-doc hit count, so
    * per-ingest cost rides the batch, never the corpus or the history.
    * Per-doc decisions are independent of batching by construction
    * (contamination is doc-vs-eval, no cross-doc state), which is the
    * ≡-batch property StreamingSpec pins. Decisions land under
    * `outDir/batch=<id>` (idempotent overwrite per batch id —
    * replay-safe), ready for the downstream curation join. */
  def streamingDecontaminate(docs: DataFrame, eval: DataFrame,
                             idCol: String, textCol: String,
                             outDir: String, checkpoint: String,
                             k: Int = 5, fpp: Double = 0.01)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // static eval side: hash relation + bloom built ONCE, shared by
    // every micro-batch (a per-batch rebuild would re-scan the eval set
    // each trigger)
    val (evalHashes, bloom) =
      graft.dedup.Dedup.evalHashIndex(eval, textCol, k, fpp)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.dedup.Dedup.decontaminateBloomWith(batch, evalHashes, bloom,
            idCol, textCol, k)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .start()
  }

  /** The COMPOSED single-job ingest — the full training-data admission
    * chain in one pass, in production order: (1) eval-set
    * decontamination, (2) quality + language gating, (3) exact
    * content-hash dedup against everything already ingested, (4)
    * per-source quota admission. Emits one AUDIT row PER INPUT
    * DOCUMENT: `(id, source, contaminated, quality, pred_lang,
    * pass_gate, exact_dup, admit_seq, admitted)` — the observability
    * relation a 100 TB ingest needs to explain WHY a document was or
    * wasn't admitted, with NULL stage flags for documents eliminated
    * upstream (a contaminated document never competes for a hash or a
    * quota slot).
    *
    * This is the whole-corpus BATCH face (the `q_stream_ingest`
    * oracle); [[streamingIngest]] runs the identical decision chain per
    * micro-batch over persisted hash/admission stores, and a drained
    * id-ordered stream equals this face row for row (StreamingSpec).
    *
    * ==Skew contract==
    * The per-source `admit_seq` here is a
    * `row_number().over(partitionBy(source))` over ALL unique
    * survivors — with few sources at 100 TB that is a per-source
    * single-partition sort, so this face is the ORACLE-DEFINITION
    * face: it states the admission semantics in one plan and is the
    * thing the gate hashes. The SCALE face is [[streamingIngest]],
    * which bounds the same window to one micro-batch and carries
    * per-source history as a broadcast prior-count ledger, so its
    * per-trigger cost is batch-sized no matter how skewed the source
    * distribution is. The committed ScaleCheck skew probe
    * (`ingest_skew`, one source holding ~90% of rows, batch face vs
    * drained streaming face at growing corpus) records the measured
    * contrast. At production scale, run [[streamingIngest]] (a bounded
    * backfill loop over batch ids replays history identically). */
  def ingestDecisions(docs: DataFrame, eval: DataFrame, idCol: String,
                      textCol: String, sourceCol: String,
                      minQuality: Double = 0.5, lang: String = "en",
                      quota: Long = 20L, k: Int = 5): DataFrame = {
    val cont = graft.dedup.Dedup.decontaminate(docs, eval, idCol, textCol, k)
      .select(col(idCol), col("contaminated"))
    val scored = graft.text.Text.langId(
        graft.text.Text.qualityScore(docs, textCol), textCol)
      .select(col(idCol), col(sourceCol).as("source"), col(textCol),
        col("quality"), col("pred_lang"))
    val flagged = barrier(scored.join(cont, Seq(idCol))
      .withColumn("pass_gate", !col("contaminated") &&
        col("quality") >= minQuality && col("pred_lang") === lang),
      "events.flagged") // corpus-sized; audit + survivor consumers
    val surv = barrier(flagged.where(col("pass_gate"))
      .withColumn("content_hash",
        md5(graft.text.Text.normalized(col(textCol))))
      .withColumn("exact_dup", row_number().over(
        Window.partitionBy("content_hash").orderBy(col(idCol))) > 1),
      "events.surv") // survivor-sized; audit + quota consumers
    val uniq = surv.where(!col("exact_dup"))
      .withColumn("admit_seq", row_number().over(
        Window.partitionBy("source").orderBy(col(idCol))).cast("long"))
      .withColumn("admitted", col("admit_seq") <= quota)
    flagged.select(col(idCol), col("source"), col("contaminated"),
        col("quality"), col("pred_lang"), col("pass_gate"))
      .join(surv.select(col(idCol), col("exact_dup")), Seq(idCol), "left")
      .join(uniq.select(col(idCol), col("admit_seq"), col("admitted")),
        Seq(idCol), "left")
  }

  /** [[ingestDecisions]] as ONE streaming job per micro-batch — the
    * 100 TB ingest shape: the eval index is built ONCE and probed per
    * batch (the [[streamingDecontaminate]] bloom tier), quality/lang
    * are stateless kernels, exact dedup probes the persisted
    * content-hash store of all EARLIER batches (claimed hashes land
    * under `hashDir/batch=<id>`), and the quota carries the per-source
    * unique-survivor count forward through the admission ledger
    * (`admitDir/batch=<id>` — ALL unique survivors, admitted or not,
    * because `admit_seq` numbers every candidate exactly as the batch
    * face does). Decision rows land under `decisionsDir/batch=<id>`.
    * Same idempotency and replay-safety shape as [[streamingNearDup]]:
    * history reads filter `batch < id`, writes are partition
    * overwrites. With batches ordered by id, the drained union of
    * decision rows EQUALS the batch face (StreamingSpec). */
  def streamingIngest(docs: DataFrame, eval: DataFrame, idCol: String,
                      textCol: String, sourceCol: String,
                      decisionsDir: String, hashDir: String,
                      admitDir: String, checkpoint: String,
                      minQuality: Double = 0.5, lang: String = "en",
                      quota: Long = 20L, k: Int = 5, fpp: Double = 0.01)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (evalHashes, bloom) =
      graft.dedup.Dedup.evalHashIndex(eval, textCol, k, fpp)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val cont = graft.dedup.Dedup.decontaminateBloomWith(batch,
            evalHashes, bloom, idCol, textCol, k)
          .select(col(idCol), col("contaminated"))
        val scored = graft.text.Text.langId(
            graft.text.Text.qualityScore(batch, textCol), textCol)
          .select(col(idCol), col(sourceCol).as("source"), col(textCol),
            col("quality"), col("pred_lang"))
        val flagged = barrier(scored.join(cont, Seq(idCol))
          .withColumn("pass_gate", !col("contaminated") &&
            col("quality") >= minQuality && col("pred_lang") === lang),
          "events.flagged")
        val seen = if (hasBatches(spark, hashDir))
          spark.read.parquet(hashDir).where(col("batch") < id)
            .select("content_hash").distinct()
        else flagged.select(md5(col(textCol)).as("content_hash")).limit(0)
        val surv = barrier(flagged.where(col("pass_gate"))
          .withColumn("content_hash",
            md5(graft.text.Text.normalized(col(textCol))))
          .join(seen.withColumn("__seen", lit(true)),
            Seq("content_hash"), "left")
          // history dup OR later within-batch twin — identical keeper
          // rule to the batch face under id-ordered batches
          .withColumn("exact_dup", col("__seen").isNotNull ||
            row_number().over(Window.partitionBy("content_hash")
              .orderBy(col(idCol))) > 1), "events.surv")
        val priorCnt = if (hasBatches(spark, admitDir))
          spark.read.parquet(admitDir).where(col("batch") < id)
            .groupBy("source").agg(count(lit(1)).as("__prior"))
        else flagged.select(col("source")).limit(0)
          .groupBy("source").agg(count(lit(1)).as("__prior"))
        val uniq = barrier(surv.where(!col("exact_dup"))
          .join(broadcast(priorCnt), Seq("source"), "left")
          .withColumn("admit_seq", (coalesce(col("__prior"), lit(0L)) +
            row_number().over(Window.partitionBy("source")
              .orderBy(col(idCol)))).cast("long"))
          .withColumn("admitted", col("admit_seq") <= quota), "events.uniq")
        flagged.select(col(idCol), col("source"), col("contaminated"),
            col("quality"), col("pred_lang"), col("pass_gate"))
          .join(surv.select(col(idCol), col("exact_dup")), Seq(idCol), "left")
          .join(uniq.select(col(idCol), col("admit_seq"), col("admitted")),
            Seq(idCol), "left")
          .write.mode("overwrite").parquet(s"$decisionsDir/batch=$id")
        surv.where(!col("exact_dup")).select("content_hash").distinct()
          .write.mode("overwrite").parquet(s"$hashDir/batch=$id")
        uniq.select(col(idCol), col("source"))
          .write.mode("overwrite").parquet(s"$admitDir/batch=$id")
      }
      .start()
  }

  final case class UserState(n: Long, total: Double, lastTsMicros: Long)
  final case class UserUpdate(user_id: Long, n_events: Long, total_value: Double,
                              last_ts: Long)

  /** Custom per-key state via flatMapGroupsWithState (SURVEY §2.10): a
    * running per-user aggregate (event count, value total, last event
    * time) emitted as an update stream — the building block the stock
    * windows can't express (state that never expires with per-batch
    * emission). ProcessingTimeTimeout keeps state alive across batches. */
  def statefulUserAgg(events: DataFrame): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("user_id").cast("long"), col("value").cast("double"),
        col("ts_ns").cast("long"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Double, Long)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
          var n = prev.n; var tot = prev.total; var last = prev.lastTsMicros
          it.foreach { case (_, v, tsNs) =>
            n += 1; tot += v
            val micros = tsNs / 1000
            if (micros > last) last = micros
          }
          state.update(UserState(n, tot, last))
          Iterator.single(UserUpdate(user, n, math.rint(tot * 1e6) / 1e6, last))
      }
  }
}
