package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Events

/** Real Structured Streaming runs (readStream → watermark/window →
  * memory sink, AvailableNow trigger) checked against the batch
  * equivalents that the DuckDB oracle validates — closing the loop
  * batch ≡ stream ≡ oracle. */
class StreamingSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  /** Every directory this spec writes lives under here. */
  private val scratch = java.nio.file.Files.createTempDirectory("graft_stream")

  override def afterAll(): Unit =
    try SparkSpec.deleteTree(scratch) finally super.afterAll()

  /** The fixture is a single file; the file stream source reads
    * directories, so stage a directory containing (a link to) it. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory(scratch, "graft_events")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Path.of(sf001, "events.parquet"))
    d.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          complete: Boolean = true): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(if (complete) "complete" else "append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  test("stream-stream interval join equals the batch entry") {
    val stream = Events.readStream(spark, streamDir)
    val streamed = runToMemory(Events.clickPurchaseJoin(stream), "t_join",
        complete = false) // stream-stream inner join is append-only
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_stream_join")(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming tumbling window equals the batch entry") {
    val stream = Events.readStream(spark, streamDir)
    val streamed = runToMemory(Events.tumblingAgg(stream), "t_tumbling")
      .select("event_type", "ws", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_stream_tumbling")(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming sliding window equals the batch entry") {
    val stream = Events.readStream(spark, streamDir)
    val streamed = runToMemory(Events.slidingAgg(stream), "t_sliding")
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_stream_sliding")(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming session window equals the batch entry") {
    val stream = Events.readStream(spark, streamDir)
    val streamed = runToMemory(Events.sessionAgg(stream), "t_session")
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_stream_session")(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("flatMapGroupsWithState running aggregate matches batch totals") {
    import org.apache.spark.sql.functions._
    val stream = Events.readStream(spark, streamDir)
    val streamed = runToMemory(Events.statefulUserAgg(stream).toDF(), "t_state",
      complete = false)
      .select("user_id", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_rowsums")(spark, sf001)
      .select(col("user_id"), col("n").as("n_events"),
        round(col("sum_value"), 6).as("total_value"))
      .collect().map(_.toSeq).toSet
    // single AvailableNow batch -> one update per user carrying the totals
    assert(streamed.map(r => r.head) == batch.map(r => r.head))
    val sTot = streamed.map(r => (r.head, r(1))).toMap
    val bTot = batch.map(r => (r.head, r(1))).toMap
    assert(sTot == bTot)
  }

  test("stream-static broadcast enrichment equals the batch entry") {
    val stream = Events.readStream(spark, streamDir)
      .withColumn("nkey", col("user_id") % 25)
    val dim = spark.read.parquet(s"$sf001/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    val streamed = runToMemory(
      Events.enrichStatic(stream, dim, col("nkey"), col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n")),
      "t_enrich")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = graft.SparkEntry.queries("q_stream_enrich")(spark, sf001)
      .select("n_name", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch)
    assert(streamed.values.sum > 0)
  }

  test("multi-batch run: watermark advances, append emits finalized windows") {
    // split events into 3 time-ordered files and feed ONE file per
    // trigger — the watermark then actually advances between batches and
    // append mode emits each 10-min window only once it is finalized
    // (single-batch drains never exercise state eviction)
    val ev = spark.read.parquet(s"$sf001/events.parquet")
      .orderBy("ts", "event_id") // total order: ts alone has ties
    val n = ev.count()
    val dir = java.nio.file.Files.createTempDirectory(scratch, "graft_batches")
    val parts = Seq(
      ev.limit((n / 3).toInt),
      ev.orderBy("ts", "event_id").offset((n / 3).toInt).limit((n / 3).toInt),
      ev.orderBy("ts", "event_id").offset((2 * n / 3).toInt))
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$dir/f$i")
    }
    // flatten the part dirs into one source dir of single files
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_src")
    (0 until 3).foreach { i =>
      val f = new java.io.File(s"$dir/f$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, src.resolve(f"part$i%02d.parquet"))
    }
    val schema = spark.read.parquet(src.toString).schema
    val stream = graft.queries.Q.normalizeEventTs(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString))
    val q = Events.tumblingAgg(stream).writeStream
      .format("memory").queryName("t_multibatch")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val emitted = spark.table("t_multibatch")
      .select("event_type", "ws", "n", "sum_value")
      .collect().map(_.toSeq)
    // append emits each finalized window EXACTLY once (no updates)
    assert(emitted.length == emitted.toSet.size)
    val batchAll = SparkEntry.queries("q_stream_tumbling")(spark, sf001)
      .collect().map(_.toSeq).toSet
    // every emitted window matches the batch result exactly
    assert(emitted.toSet.subsetOf(batchAll))
    // the watermark genuinely advanced: windows older than
    // (max ts - 30 min watermark) in the first two thirds are finalized
    assert(emitted.length > batchAll.size / 2,
      s"only ${emitted.length} of ${batchAll.size} windows finalized — " +
        "watermark did not advance across batches")
  }

  test("streamingExactDedup: history state dedups across micro-batches, " +
       "min-id keeper within a batch") {
    import spark.implicits._
    // batch 0: ids 1(A) 2(B) 3(A); batch 1: 4(A dup-of-history) 5(C)
    // 6(C within-batch dup) — one file per trigger
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_dedup_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_dedup_src")
    Seq((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$staging/b0")
    Seq((4L, "alpha text"), (5L, "gamma text"), (6L, "gamma text"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$staging/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      // the file source batches in modification-time order; copies land
      // with identical mtimes, so pin them a minute apart
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$staging/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    val q = Events.streamingExactDedup(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("t_hist_dedup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("t_hist_dedup")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(3)))
      .toMap
    assert(out.size == 6)
    assert(out(1L) == (true, 1L) && out(2L) == (true, 2L))
    assert(out(3L) == (false, 1L)) // within-batch dup of the min id
    assert(out(4L) == (false, 1L)) // cross-batch dup via history state
    assert(out(5L) == (true, 5L) && out(6L) == (false, 5L))
    // single-batch drain == the batch keep-min semantics of Dedup.exact
    val allOnce = Events.streamingExactDedup(
      spark.readStream.schema(schema).parquet(src.toString),
      "doc_id", "text")
    val q2 = allOnce.writeStream.format("memory").queryName("t_hist_once")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val keepers = spark.table("t_hist_once").where(col("kept"))
      .select("doc_id").as[Long].collect().toSet
    assert(keepers == Set(1L, 2L, 5L))
  }

  test("streamingCurate: quality + language gate, history dedup, " +
       "idempotent lake landing across micro-batches") {
    import spark.implicits._
    val goodEn = "the quick brown fox jumps over the lazy dog and it " +
      "runs on with many more words in this long and fine sentence " +
      "that goes on for a while with the usual glue words of english"
    val goodEn2 = "this is another long and entirely different document " +
      "with the usual english glue words and it keeps going for a while " +
      "so that the quality score is clearly above the modest threshold"
    val german = "der schnelle braune fuchs springt und der hund ist " +
      "nicht schnell der und die das mit von ist nicht ein eine"
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_cur_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_cur_src")
    Seq((1L, goodEn), (2L, "zzz"), (3L, german))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b0")
    Seq((4L, goodEn), (5L, goodEn2))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$staging/b0").schema
    val lake = java.nio.file.Files.createTempDirectory(scratch, "graft_cur_lake")
    val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_cur_ckpt")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingCurate(stream, "doc_id", "text",
      minQuality = 0.3, lang = "en", dir = lake.toString,
      checkpoint = ckpt.toString)
    q.awaitTermination(120000)
    // 1 kept (good en, first); 2 fails quality; 3 fails language;
    // 4 is a history dup of 1; 5 kept
    val landed = spark.read.parquet(lake.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(landed == Set(1L, 5L), s"landed $landed")
  }

  test("stateful aggregate runs on the RocksDB state store backend") {
    // HDFSBackedStateStore keeps state on the executor heap — fine for
    // tests, a memory ceiling at real scale. The deployment-grade backend
    // is RocksDB (spilling, changelog checkpointing); prove the custom
    // flatMapGroupsWithState state round-trips through it unchanged.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = Events.readStream(spark, streamDir)
      val streamed = runToMemory(Events.statefulUserAgg(stream).toDF(),
          "t_state_rocks", complete = false)
        .groupBy("user_id").agg(max("n_events").as("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val batch = spark.read.parquet(s"$sf001/events.parquet")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("foreachBatch parquet sink is idempotent and lands every row") {
    val out = java.nio.file.Files.createTempDirectory(scratch, "graft_lake")
    val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_ckpt")
    def runOnce(): Unit = {
      val stream = Events.readStream(spark, streamDir)
        .select("event_id", "user_id", "event_type", "value")
      val q = Events.writeParquetIdempotent(stream, out.toString, ckpt.toString)
      // AvailableNow isn't applicable through start(); the source drains
      // in the first trigger for a static directory — wait for idle
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    val first = spark.read.parquet(out.toString)
    val expected = spark.read.parquet(s"$sf001/events.parquet").count()
    assert(first.count() == expected)
    assert(first.columns.contains("batch")) // partition column surfaces
    // re-running against the SAME checkpoint replays nothing and the same
    // lake count holds (no duplicate append)
    runOnce()
    assert(spark.read.parquet(out.toString).count() == expected)
    assert(spark.read.parquet(out.toString)
      .select("event_id").distinct().count() == expected)
  }

  test("dropDuplicatesWithinWatermark emits one row per key") {
    val stream = Events.readStream(spark, streamDir)
    val streamed = runToMemory(Events.dedupWithinWatermark(stream), "t_dedup",
      complete = false)
    val nKeys = SparkEntry.queries("q_stream_dedup")(spark, sf001).count()
    assert(streamed.select("user_id", "event_type").distinct().count() == nKeys)
    assert(streamed.count() == nKeys)
  }

  test("streamingNearDup: per-batch incremental LSH over the persisted " +
       "index reassembles the exact batch pair set") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away while birds sing in the tall green trees near the " +
      "quiet river bank under a bright blue sky with soft white clouds"
    val other = "completely different text about spark catalyst " +
      "optimizer rules and distributed shuffle partitioning strategies " +
      "for very large analytical clusters running columnar scans today"
    // batch 0: 1 and its near-dup 2, plus unrelated 3;
    // batch 1: 4 near-dups 1 (cross-batch pair!), 5 near-dups 3
    val b0 = Seq((1L, base), (2L, base.replace("quiet", "loud")), (3L, other))
    val b1 = Seq((4L, base.replace("bright", "pale")),
      (5L, other.replace("today", "nightly")))
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_nd_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_nd_src")
    b0.toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b0")
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$staging/b0").schema
    val lake = java.nio.file.Files.createTempDirectory(scratch, "graft_nd_lake").toString
    val idx = java.nio.file.Files.createTempDirectory(scratch, "graft_nd_idx").toString
    val prs = java.nio.file.Files.createTempDirectory(scratch, "graft_nd_prs").toString
    val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_nd_ck").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingNearDup(stream, "doc_id", "text",
      lake, idx, prs, ckpt, k = 3, threshold = 0.5)
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(prs)
      .select("id_a", "id_b", "jaccard")
      .collect().map(_.toSeq).toSet
    val batch = graft.dedup.Dedup.minhashLshPairs(
        (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text",
        k = 3, threshold = 0.5)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
    // the cross-batch pair (1,4) only exists because batch 1 probed the
    // PERSISTED index + lake; assert it explicitly
    assert(streamed.exists(r => r(0) == 1L && r(1) == 4L))
    // the lake and index carry both batches
    assert(spark.read.parquet(lake).count() == 5)
    assert(spark.read.parquet(idx).select("id").distinct().count() == 5)
  }

  test("streamingNearDup drives lake/index/pairs through explicit " +
       "FileSystem URIs (file://) — locks the Hadoop-FS prior-batch " +
       "detection against a java.io.File regression") {
    import spark.implicits._
    // same planted shape as the local-path test, smaller: the ONLY
    // near-dup pair is cross-batch, so it emits iff batch 1 actually
    // SEES batch 0's persisted index under the URI form. A java.io.File
    // regression in hasBatches treats "file:/…" as a nonexistent
    // relative path, reports no prior batches, and loses the pair.
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away while birds sing in the tall green trees near the " +
      "quiet river bank under a bright blue sky with soft white clouds"
    val other = "completely different text about spark catalyst " +
      "optimizer rules and distributed shuffle partitioning strategies " +
      "for very large analytical clusters running columnar scans today"
    val b0 = Seq((1L, base), (3L, other))
    val b1 = Seq((4L, base.replace("bright", "pale")))
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_ndu_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_ndu_src")
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b$i")
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    def uriDir(tag: String): String =
      "file://" + java.nio.file.Files.createTempDirectory(scratch, tag).toString
    val lake = uriDir("graft_ndu_lake")
    val idx = uriDir("graft_ndu_idx")
    val prs = uriDir("graft_ndu_prs")
    val ckpt = uriDir("graft_ndu_ck")
    val schema = spark.read.parquet(s"$staging/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingNearDup(stream, "doc_id", "text",
      lake, idx, prs, ckpt, k = 3, threshold = 0.5)
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(prs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed == Set((1L, 4L)),
      s"cross-batch pair lost under URI paths: $streamed")
    assert(spark.read.parquet(lake).count() == 3)
    assert(spark.read.parquet(idx).select("id").distinct().count() == 3)
  }

  test("streamingDecontaminate: per-batch decisions over the once-built " +
       "eval index equal the whole-corpus batch decontamination") {
    import spark.implicits._
    val evalTxt = "what is the capital of france paris is the capital " +
      "of france and it is known for the eiffel tower landmark"
    val clean = "spark structured streaming processes micro batches " +
      "of files appearing in a monitored directory as a table"
    // doc 1 contains a verbatim eval span (contaminated); 2 and 4 are
    // clean; 3 contains a shorter eval fragment
    val b0 = Seq((1L, "intro text " + evalTxt + " outro text"), (2L, clean))
    val b1 = Seq((3L, "prefix capital of france paris is the capital suffix"),
      (4L, clean.replace("table", "relation")))
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_dc_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_dc_src")
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b$i")
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val eval = Seq((100L, evalTxt)).toDF("eval_id", "text")
    val out = java.nio.file.Files.createTempDirectory(scratch, "graft_dc_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_dc_ck").toString
    val schema = spark.read.parquet(s"$staging/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingDecontaminate(stream, eval, "doc_id", "text",
      out, ckpt, k = 5, fpp = 0.01)
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val whole = graft.dedup.Dedup.decontaminateBloom(
        (b0 ++ b1).toDF("doc_id", "text"), eval, "doc_id", "text",
        k = 5, fpp = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(streamed == whole, s"streamed=$streamed whole=$whole")
    // the planted structure actually exercised both directions
    val byId = streamed.map(t => t._1 -> t._3).toMap
    assert(byId(1L) && byId(3L) && !byId(2L) && !byId(4L))
    // empty eval set: every doc passes, no bloom is built
    val (eh, bl) = graft.dedup.Dedup.evalHashIndex(
      eval.where(lit(false)), "text", 5)
    assert(bl.isEmpty)
    val none = graft.dedup.Dedup.decontaminateBloomWith(
        b0.toDF("doc_id", "text"), eh, bl, "doc_id", "text", 5)
      .collect()
    assert(none.length == 2 && none.forall(!_.getBoolean(2)))
  }

  test("streamingIngest: the composed decontaminate→gate→dedup→quota " +
       "chain drained over id-ordered micro-batches equals the " +
       "whole-corpus batch face row for row") {
    import spark.implicits._
    val evalTxt = "what is the capital of france paris is the capital " +
      "of france and it is known for the eiffel tower landmark"
    val docX = "the quick brown fox jumps over the lazy dog and it was " +
      "a fine day for running in the field with friends"
    val docY = "a storm was coming in from the coast and the fishermen " +
      "pulled their boats up onto the sand for the night"
    val docZ = "the library was quiet in the morning and the readers " +
      "settled into their chairs with novels and coffee"
    val docW = "it is a truth universally acknowledged that a reader " +
      "in possession of a good book is in want of nothing"
    val b0 = Seq(
      (1L, "intro " + evalTxt + " outro", "A"), // contaminated
      (2L, docX, "A"),                          // unique survivor A#1
      (3L, docX + " ", "A"),                    // exact dup of 2 (norm trim)
      (4L, "der hund ist nicht mit der katze und ich bin zu haus mit " +
        "ein brot und das ist nicht gut", "B")) // lang fail (de)
    val b1 = Seq(
      (5L, docX, "A"),   // cross-batch exact dup of 2
      (6L, docY, "A"),   // unique survivor A#2 -> admitted (quota 2)
      (7L, docZ, "A"),   // unique survivor A#3 -> NOT admitted
      (8L, "zzz !!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", "B"), // low quality
      (9L, docW, "B"))   // unique survivor B#1 -> admitted
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_ing_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_ing_src")
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text", "source").coalesce(1)
        .write.parquet(s"$staging/b$i")
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val eval = Seq((100L, evalTxt)).toDF("doc_id", "text")
    def dir(n: String) =
      java.nio.file.Files.createTempDirectory(scratch, s"graft_ing_$n").toString
    val (dec, hsh, adm, ck) = (dir("dec"), dir("hsh"), dir("adm"), dir("ck"))
    val schema = spark.read.parquet(s"$staging/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingIngest(stream, eval, "doc_id", "text", "source",
      dec, hsh, adm, ck, minQuality = 0.5, lang = "en", quota = 2L)
    q.awaitTermination(180000)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "source", "contaminated", "quality", "pred_lang",
        "pass_gate", "exact_dup", "admit_seq", "admitted")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getDouble(3), r.getString(4), r.getBoolean(5),
        if (r.isNullAt(6)) None else Some(r.getBoolean(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        if (r.isNullAt(8)) None else Some(r.getBoolean(8)))).toSet
    val streamed = norm(spark.read.parquet(dec))
    val whole = norm(Events.ingestDecisions(
      (b0 ++ b1).toDF("doc_id", "text", "source"), eval,
      "doc_id", "text", "source", minQuality = 0.5, lang = "en",
      quota = 2L))
    assert(streamed == whole, s"streamed=$streamed\nwhole=$whole")
    // the fixture exercised every stage the way it was planted
    val by = streamed.map(t => t._1 -> t).toMap
    assert(by(1L)._3 && !by(1L)._6)                  // contaminated
    assert(by(4L)._5 == "de" && !by(4L)._6)          // lang fail
    assert(by(8L)._4 < 0.5 && !by(8L)._6)            // quality fail
    assert(by(3L)._7 == Some(true))                  // in-batch dup
    assert(by(5L)._7 == Some(true))                  // CROSS-BATCH dup
    assert(by(2L)._9 == Some(true) && by(6L)._9 == Some(true))
    assert(by(7L)._9 == Some(false))                 // quota overflow
    assert(by(9L)._9 == Some(true))
  }

  // ---- streamingIngest replay/ordering property tests (round-13): the
  // ≡-batch test above proves the happy path; these pin exactly which
  // guarantees survive a batch-id REPLAY and out-of-id-order arrival.

  /** Shared fixture for the ingest property tests — the same planted
    * rows as the ≡-batch test above. */
  private def ingestFixture: (Seq[(Long, String, String)], Seq[(Long, String, String)], String) = {
    val evalTxt = "what is the capital of france paris is the capital " +
      "of france and it is known for the eiffel tower landmark"
    val docX = "the quick brown fox jumps over the lazy dog and it was " +
      "a fine day for running in the field with friends"
    val docY = "a storm was coming in from the coast and the fishermen " +
      "pulled their boats up onto the sand for the night"
    val docZ = "the library was quiet in the morning and the readers " +
      "settled into their chairs with novels and coffee"
    val docW = "it is a truth universally acknowledged that a reader " +
      "in possession of a good book is in want of nothing"
    val b0 = Seq(
      (1L, "intro " + evalTxt + " outro", "A"),
      (2L, docX, "A"),
      (3L, docX + " ", "A"),
      (4L, "der hund ist nicht mit der katze und ich bin zu haus mit " +
        "ein brot und das ist nicht gut", "B"))
    val b1 = Seq(
      (5L, docX, "A"),
      (6L, docY, "A"),
      (7L, docZ, "A"),
      (8L, "zzz !!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", "B"),
      (9L, docW, "B"))
    (b0, b1, evalTxt)
  }

  /** Stage batches as one parquet file each with the given mtime order
    * (the file source processes by modification time). */
  private def stageIngestFiles(batches: Seq[Seq[(Long, String, String)]])
      : (String, org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_rp_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_rp_src")
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text", "source").coalesce(1)
        .write.parquet(s"$staging/b$i")
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    (src.toString, spark.read.parquet(s"$staging/b0").schema)
  }

  private def normIngest(df: org.apache.spark.sql.DataFrame) = df
    .select("doc_id", "source", "contaminated", "quality", "pred_lang",
      "pass_gate", "exact_dup", "admit_seq", "admitted")
    .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
      r.getDouble(3), r.getString(4), r.getBoolean(5),
      if (r.isNullAt(6)) None else Some(r.getBoolean(6)),
      if (r.isNullAt(7)) None else Some(r.getLong(7)),
      if (r.isNullAt(8)) None else Some(r.getBoolean(8)))).toSet

  test("streamingIngest replay-safety: re-firing every batch id with a " +
       "fresh checkpoint against ALREADY-POPULATED stores reproduces " +
       "identical decisions (batch<id history filters + idempotent " +
       "partition overwrites)") {
    import spark.implicits._
    val (b0, b1, evalTxt) = ingestFixture
    val (srcDir, schema) = stageIngestFiles(Seq(b0, b1))
    val eval = Seq((100L, evalTxt)).toDF("doc_id", "text")
    def dir(n: String) =
      java.nio.file.Files.createTempDirectory(scratch, s"graft_rp_$n").toString
    val (dec, hsh, adm) = (dir("dec"), dir("hsh"), dir("adm"))
    def drain(ck: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = Events.streamingIngest(stream, eval, "doc_id", "text",
        "source", dec, hsh, adm, ck, minQuality = 0.5, lang = "en",
        quota = 2L)
      q.awaitTermination(180000)
    }
    drain(dir("ck1"))
    val first = normIngest(spark.read.parquet(dec))
    val firstHashes = spark.read.parquet(hsh)
      .select("content_hash", "batch").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    // second full drain: NEW checkpoint, same source, SAME stores — every
    // batch id re-fires against stores holding its own and LATER batches'
    // prior writes. The batch<id filter must hide both (its own write:
    // batch<0 is empty; stale later writes: 1<0 … all false), so the
    // decisions, the hash ledger, and the admission ledger come out
    // identical — the replay-after-crash guarantee.
    drain(dir("ck2"))
    val second = normIngest(spark.read.parquet(dec))
    assert(second == first)
    val secondHashes = spark.read.parquet(hsh)
      .select("content_hash", "batch").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(secondHashes == firstHashes)
    // and the replayed run still matches the whole-corpus batch face
    val whole = normIngest(Events.ingestDecisions(
      (b0 ++ b1).toDF("doc_id", "text", "source"), eval,
      "doc_id", "text", "source", minQuality = 0.5, lang = "en",
      quota = 2L))
    assert(second == whole)
  }

  test("streamingIngest out-of-id-order arrival: per-doc stateless stages " +
       "and per-hash/per-source cardinalities survive; keeper and " +
       "admission IDENTITY follow arrival order (the pinned limit of " +
       "the ≡-batch guarantee)") {
    import spark.implicits._
    val (b0, b1, evalTxt) = ingestFixture
    // feed b1 FIRST: the logically-later rows become micro-batch 0
    val (srcDir, schema) = stageIngestFiles(Seq(b1, b0))
    val eval = Seq((100L, evalTxt)).toDF("doc_id", "text")
    def dir(n: String) =
      java.nio.file.Files.createTempDirectory(scratch, s"graft_oo_$n").toString
    val dec = dir("dec")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Events.streamingIngest(stream, eval, "doc_id", "text",
      "source", dec, dir("hsh"), dir("adm"), dir("ck"),
      minQuality = 0.5, lang = "en", quota = 2L)
    q.awaitTermination(180000)
    val got = normIngest(spark.read.parquet(dec))
    val by = got.map(t => t._1 -> t).toMap
    val whole = normIngest(Events.ingestDecisions(
      (b0 ++ b1).toDF("doc_id", "text", "source"), eval,
      "doc_id", "text", "source", minQuality = 0.5, lang = "en",
      quota = 2L))
    val wholeBy = whole.map(t => t._1 -> t).toMap
    // SURVIVES: the stateless per-doc stages are arrival-order invariant
    got.foreach { t =>
      val w = wholeBy(t._1)
      assert((t._3, t._4, t._5, t._6) == (w._3, w._4, w._5, w._6),
        s"stateless stages changed for doc ${t._1}")
    }
    // SURVIVES: exactly one keeper per duplicate-content group (docs
    // 2/3/5 share docX modulo normalization)
    val dupGroup = Seq(2L, 3L, 5L).map(by(_))
    assert(dupGroup.count(_._7 == Some(false)) == 1)
    // SURVIVES: per-source admitted COUNT = min(quota, #uniques)
    val admitted = got.filter(_._9 == Some(true))
    assert(admitted.count(_._2 == "A") == 2 && admitted.count(_._2 == "B") == 1)
    // DOES NOT survive: keeper identity follows arrival order — doc 5
    // (arriving in batch 0) now keeps docX's hash and doc 2 is the dup,
    // the mirror image of the id-ordered run; doc 5 inherits admission
    assert(by(5L)._7 == Some(false) && by(2L)._7 == Some(true))
    assert(by(5L)._9 == Some(true))
    // quota overflow still lands on the 3rd unique A survivor by arrival
    assert(by(7L)._9 == Some(false))
  }

  test("streamingSpanIngest: cross-batch shared paragraph flagged via " +
       "the merged gram-df index") {
    import spark.implicits._
    val shared = "one two three four five six seven eight nine ten " +
      "eleven twelve"
    val b0 = Seq(
      (1L, s"intro words then $shared and a tail here"),
      (2L, "totally unrelated first batch document with distinct words"))
    // batch doc 3 shares the paragraph with ONLY doc 1 — neither side
    // alone reaches minDf=2; the merged index must flag it
    val b1 = Seq((3L, s"different prefix $shared trailing material now"))
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_sp_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_sp_src")
    b0.toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b0")
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$staging/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$staging/b0").schema
    val idx = java.nio.file.Files.createTempDirectory(scratch, "graft_sp_idx").toString
    val spans = java.nio.file.Files.createTempDirectory(scratch, "graft_sp_sp").toString
    val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_sp_ck").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingSpanIngest(stream, "doc_id", "text",
      idx, spans, ckpt, k = 4, minDf = 2)
    q.awaitTermination(120000)
    val out = spark.read.parquet(spans)
      .select("id", "span_start", "span_end").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // batch 0 has no duplicated grams at all; batch 1's doc 3 carries
    // the shared 12-token run at positions 2..13 (end exclusive 14)
    assert(out == Set((3L, 2, 14)), s"got $out")
    // the merged running index equals a fresh index over the union
    val merged = graft.dedup.Dedup.mergeGramDfIndexes(
        spark.read.parquet(idx).select("gram", "df"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = graft.dedup.Dedup.gramDfIndex(
        (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == direct)
  }

  test("streamingProfile: merged per-batch KMV profiles equal the " +
       "whole-corpus profile bit for bit") {
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_pf_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_pf_src")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "source", "lang", "n_chars")
    docs.where(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$staging/b0")
    docs.where(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.parquet(s"$staging/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$staging/b0").schema
    val prof = java.nio.file.Files.createTempDirectory(scratch, "graft_pf_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_pf_ck").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingProfile(stream, prof, ckpt, k = 32)
    q.awaitTermination(120000)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("col_name", "n", "n_null", "min_num", "max_num",
        "min_str", "max_str", "kmv", "n_mins", "est_distinct")
      .collect().map(_.toSeq).toSet
    val merged = canon(graft.stats.Profile.mergeKmvProfiles(
      spark.read.parquet(prof)
        .select("col_name", "n", "n_null", "min_num", "max_num",
          "min_str", "max_str", "kmv"), k = 32))
    val whole = canon(graft.stats.Profile.profileKmv(docs, k = 32))
    assert(merged == whole)
  }

  test("streamingGroupKmv: merged per-batch group sketches equal the " +
       "whole-corpus groupKmvDistinct bit for bit") {
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_gk_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_gk_src")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "source")
    docs.where(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$staging/b0")
    docs.where(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.parquet(s"$staging/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$staging/b0").schema
    val out = java.nio.file.Files.createTempDirectory(scratch, "graft_gk_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_gk_ck").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingGroupKmv(stream, "source", "doc_id",
      out, ckpt, k = 16)
    q.awaitTermination(120000)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "n_rows", "kmv", "n_mins", "est_distinct")
      .collect().map(_.toSeq).toSet
    val merged = canon(graft.stats.Sketches.mergeGroupKmv(
      spark.read.parquet(out).select("source", "n_rows", "kmv"), k = 16))
    val whole = canon(graft.stats.Sketches.groupKmvDistinct(
      docs, "source", "doc_id", k = 16))
    assert(merged == whole)
  }

  test("streamingSourceQuota: the admission counter persists across " +
    "micro-batches and a single-batch drain equals the batch face") {
    import spark.implicits._
    // quota 3 per source; batch 0 admits 2 of a + 1 of b, batch 1 must
    // remember: only ONE more a-slot remains
    val staging = java.nio.file.Files.createTempDirectory(scratch, "graft_q_stg")
    val src = java.nio.file.Files.createTempDirectory(scratch, "graft_q_src")
    Seq((1L, "a"), (2L, "a"), (3L, "b"))
      .toDF("doc_id", "source").coalesce(1).write.parquet(s"$staging/b0")
    Seq((4L, "a"), (5L, "a"), (6L, "b"))
      .toDF("doc_id", "source").coalesce(1).write.parquet(s"$staging/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$staging/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(s"$staging/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = Events.streamingSourceQuota(stream, "doc_id", "source",
        quota = 3L)
      .writeStream.format("memory").queryName("t_quota")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("t_quota").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == (1L, true) && out(2L) == (2L, true))
    assert(out(3L) == (1L, true))
    assert(out(4L) == (3L, true))  // the remembered third a-slot
    assert(out(5L) == (4L, false)) // over quota via history state
    assert(out(6L) == (2L, true))
    // batch-mode run (empty state) == rank-by-id semantics
    val batch = Events.streamingSourceQuota(
        Seq((1L, "a"), (2L, "a"), (4L, "a"), (5L, "a"), (3L, "b"), (6L, "b"))
          .toDF("doc_id", "source"), "doc_id", "source", quota = 3L)
      .collect().map(d => d.doc_id -> (d.admit_seq, d.admitted)).toMap
    assert(batch == out) // same six docs in one batch -> identical report
  }
}
