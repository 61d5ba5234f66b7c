package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Io
import graft.multimodal.Multimodal

class IoMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def tmpFile(content: String, suffix: String = ".csv"): String = {
    val f = Files.createTempFile("graft", suffix)
    Files.writeString(f, content)
    f.toString
  }

  test("readJdbc runs SQL DB-side and honors partitioned reads") {
    // Derby's embedded driver ships with Spark, so the wrapper is testable
    // end-to-end here even though the target deployment (sqlite/postgres)
    // has no driver in this image
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE masses (id INT, kind VARCHAR(10), mass DOUBLE)")
      (1 to 20).foreach(i => st.execute(
        s"INSERT INTO masses VALUES ($i, '${if (i % 2 == 0) "even" else "odd"}', ${i * 1.5})"))
    } finally conn.close()
    // the reference's first touch is SQL with a WHERE — it must run DB-side
    val df = Io.readJdbc(spark, url,
      "SELECT id, mass FROM masses WHERE kind = 'even'")
    assert(df.columns.map(_.toLowerCase).toSeq == Seq("id", "mass"))
    assert(df.count() == 10)
    assert(df.agg(sum(col("mass"))).as[Double].head() == (2 to 20 by 2).map(_ * 1.5).sum)
    // partitioned scan: the classic one-connection trap must be avoidable
    val part = Io.readJdbc(spark, url, "SELECT id, mass FROM masses",
      partitioning = Some(("id", 1L, 21L, 4)))
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 20)
    // Spark-side predicates remain pushdown-eligible on top of the subquery
    val pushed = Io.readJdbc(spark, url, "SELECT id, mass FROM masses")
      .where(col("mass") > 15.0)
    assert(pushed.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(pushed.count() == 10)
  }

  test("csvPositional renames by position like pandas df.columns=[...]") {
    val p = tmpFile("colA,colB,colC\n1,x,2.5\n2,y,3.5\n")
    val df = Io.csvPositional(spark, p, Seq("ms_name", "gene", "correlation"))
    assert(df.columns.toSeq == Seq("ms_name", "gene", "correlation"))
    assert(df.count() == 2)
    assert(df.where(col("gene") === "x").select("correlation")
      .as[Double].head() == 2.5)
  }

  test("csvNoHeader applies caller names to anonymous columns") {
    val p = tmpFile("7,foo\n8,bar\n")
    val df = Io.csvNoHeader(spark, p, Seq("id", "name"))
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.select(sum("id")).as[Long].head() == 15)
  }

  test("tsvWithComments skips # lines") {
    val p = tmpFile("# generated file\nid\tmass\n# another comment\n1\t10.5\n2\t20.5\n", ".tsv")
    val df = Io.tsvWithComments(spark, p)
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("id", "mass"))
  }

  test("csvWithSchema forces dtypes with no inference pass") {
    val p = tmpFile("reaction_id,validated\n001,true\n010,false\n")
    val schema = StructType(Seq(StructField("reaction_id", StringType),
      StructField("validated", BooleanType)))
    val df = Io.csvWithSchema(spark, p, schema)
    // string dtype preserves leading zeros (the pandas dtype= motivation)
    assert(df.select("reaction_id").as[String].collect().toSet == Set("001", "010"))
    assert(df.schema == schema)
  }

  test("appendParquet accumulates across writes") {
    val dir = Files.createTempDirectory("graft_append").toString + "/out"
    Io.appendParquet(Seq((1, "a")).toDF("k", "v"), dir)
    Io.appendParquet(Seq((2, "b")).toDF("k", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("orc and json-lines round-trip with schema intact") {
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, null, 3.5))
      .toDF("id", "name", "x")
    val base = Files.createTempDirectory("graft_fmt").toString
    df.write.orc(s"$base/orc")
    df.write.json(s"$base/jsonl")
    val orc = spark.read.orc(s"$base/orc")
    // file formats relax primitive nullability on read; names/types hold
    assert(orc.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(orc.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // json needs the schema pinned to avoid inference drift (long->long)
    val jsonl = spark.read.schema(df.schema).json(s"$base/jsonl")
    assert(jsonl.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("malformed CSV rows: permissive capture vs drop") {
    import org.apache.spark.sql.types._
    val path = tmpFile("1,alpha,2.5\nBAD ROW NO COMMAS\n2,beta,notanumber\n3,gamma,7.5\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("x", DoubleType), StructField("_corrupt_record", StringType)))
    // PERMISSIVE: bad rows survive with the raw line in _corrupt_record —
    // at corpus scale you quarantine them, never silently drop
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path).cache()
    assert(perm.count() == 4)
    val bad = perm.where(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").as[String].collect()
    assert(bad.length == 2 && bad.exists(_.contains("BAD ROW")))
    // DROPMALFORMED: only clean rows remain. NOTE: a bare count() would
    // report 4 — CSV column pruning skips field parsing entirely when no
    // columns are needed, so malformed detection never fires; any check
    // on this mode must materialize columns
    val dropped = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").csv(path)
    val rows = dropped.collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    perm.unpersist()
  }

  test("partitioned writes prune partitions at the scan") {
    val base = Files.createTempDirectory("graft_part").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.partitionBy("lang").parquet(s"$base/by_lang")
    val one = spark.read.parquet(s"$base/by_lang").where(col("lang") === "en")
    // the filter must become a PartitionFilter (directory pruning), not a
    // row-level PushedFilter over all files
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"), s"lang filter not pruned to partitions:\n$plan")
    val expected = docs.where(col("lang") === "en").count()
    assert(one.count() == expected && expected > 0)
    // round-trip integrity: partition column rehydrates on read
    assert(spark.read.parquet(s"$base/by_lang").count() == docs.count())
  }

  test("compactParquet collapses a many-file directory, preserving rows") {
    val base = Files.createTempDirectory("graft_compact").toString
    // simulate the per-batch lake layout: 8 tiny single-file writes
    (0 until 8).foreach { i =>
      Seq.tabulate(100)(j => (i * 100 + j, s"row$i$j")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$base/in/batch=$i")
    }
    val before = new java.io.File(s"$base/in").listFiles().length
    assert(before == 8)
    Io.compactParquet(spark, s"$base/in", s"$base/out")
    val files = new java.io.File(s"$base/out").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"expected 1 compacted file, got ${files.length}")
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 800)
    assert(out.select("id").distinct().count() == 800)
  }

  test("strideSelect keeps every nth column (TCGA 4-col stride)") {
    val df = Seq((1, 2, 3, 4, 5, 6, 7, 8, 9))
      .toDF("id", "b1", "b2", "b3", "s1", "b4", "b5", "b6", "s2")
    val out = Io.strideSelect(df, Seq("id"), stride = 4, offset = 4)
    assert(out.columns.toSeq == Seq("id", "s1", "s2"))
  }

  test("bucketed tables join with zero exchanges") {
    import graft.io.Io
    val a = (1 to 2000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 2000).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    // the metastore is per-JVM but the warehouse dir survives across runs
    Seq("graft_bucket_a", "graft_bucket_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Path.of("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Io.writeBucketed(a, "graft_bucket_a", Seq("k"), 8)
    Io.writeBucketed(b, "graft_bucket_b", Seq("k"), 8)
    // force a sort-merge join: at test size the planner would broadcast,
    // which bypasses (and so fails to exercise) the bucketed layout
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucket_a").join(spark.table("graft_bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 2000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("lake queries write under the run-scoped temp root") {
    // the root is deleted at JVM exit, so repeated runs leave nothing
    // behind in the system temp dir
    val root = graft.queries.Q.tmpRoot.toUri.getPath
    Seq("q_lake_compact", "q_lake_bucketed").foreach { q =>
      val files = SparkEntry.queries(q)(spark, sf001).inputFiles
        .map(f => new java.net.URI(f).getPath)
      assert(files.nonEmpty, q)
      assert(files.forall(_.startsWith(root)),
        s"$q reads outside $root: ${files.mkString(", ")}")
    }
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    // one hot key carrying ~all rows: AQE's skew-join optimization must
    // split the oversized partition (finalPlan marks the SMJ skew=true).
    // This is the runtime complement to the explicit ops/Skew.saltedJoin.
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force SMJ
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          concat(lit("payload_payload_payload_"), col("id")).as("v"))
      val small = spark.range(1000).select(col("id").as("k"),
        col("id").cast("string").as("w"))
      val joined = big.join(small, "k")
      // collect() executes joined's OWN queryExecution, finalizing its
      // AQE plan (count() would build a separate Aggregate execution and
      // leave this one isFinalPlan=false)
      assert(joined.collect().length == 198010) // 198000 hot-key + 10 cold
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(2000)}")
    } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("saltedJoin equals the plain join under a skewed key") {
    import graft.ops.Skew
    // 90% of big rows share one hot key
    val big = (1 to 3000).map(i => (if (i % 10 == 0) i.toLong % 7 else 999L, i))
      .toDF("key", "payload")
    val small = Seq((999L, "hot"), (0L, "c0"), (1L, "c1"), (5L, "c5"))
      .toDF("key", "tag")
    val salted = Skew.saltedJoin(big, small, "key")
      .select("key", "payload", "tag").as[(Long, Int, String)].collect().sorted.toSeq
    val plain = big.join(small, Seq("key"))
      .select("key", "payload", "tag").as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
    // left join keeps unmatched big rows exactly once
    val saltedLeft = Skew.saltedJoin(big, small, "key", how = "left")
    assert(saltedLeft.count() == big.count())
    // full outer: unmatched small rows (keys 0,1,5 — no big row has them)
    // must appear exactly once, not once per shard
    def sortedRows(df: org.apache.spark.sql.DataFrame) = df
      .select("key", "payload", "tag")
      .collect().map(r => (r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0),
        r.isNullAt(1), if (r.isNullAt(1)) 0 else r.getInt(1),
        Option(r.getString(2)).getOrElse(""))).sorted.toSeq
    val smallMiss = small.union(Seq((777L, "unmatched")).toDF("key", "tag"))
    val saltedFull = Skew.saltedJoin(big, smallMiss, "key", how = "full")
    val plainFull = big.join(smallMiss, Seq("key"), "full")
    assert(sortedRows(saltedFull) == sortedRows(plainFull))
    val saltedRight = Skew.saltedJoin(big, smallMiss, "key", how = "right")
    val plainRight = big.join(smallMiss, Seq("key"), "right")
    assert(sortedRows(saltedRight) == sortedRows(plainRight))
    assert(saltedRight.count() == plainRight.count())
  }

  test("multimodal feature extraction is deterministic and batch-shaped") {
    val media = Multimodal.asMedia(
      Seq((1L, "hello world"), (2L, ""), (3L, "another payload"))
        .toDF("id", "txt").withColumn("bin", col("txt").cast("binary")),
      "id", "bin", "image")
    assert(media.schema == Multimodal.mediaSchema)
    val dec = new Multimodal.HashFeatureDecoder(4)
    val f1 = Multimodal.extractFeatures(media, dec).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media, dec).orderBy("media_id").collect()
    assert(f1.toSeq == f2.toSeq)
    assert(f1(0).getAs[scala.collection.Seq[Float]]("features").size == 4)
    assert(f1(1).getAs[AnyRef]("features") == null) // empty content
    assert(f1(2).getAs[Long]("n_bytes") == "another payload".length)
  }

  test("sampleFrames keeps every stride-th chunk with ordinals") {
    val media = Multimodal.asMedia(
      Seq((1L, "a" * 300)).toDF("id", "txt")
        .withColumn("bin", col("txt").cast("binary")),
      "id", "bin", "video")
    val frames = Multimodal.sampleFrames(media, chunkBytes = 64, stride = 2)
    // 300 bytes -> chunks 0..4 -> keep ordinals 0,2,4
    assert(frames.select("frame_ordinal").as[Int].collect().sorted.toSeq == Seq(0, 2, 4))
  }

  test("Kegg flat-format parse: 12-column sections fill forward across " +
      "continuation lines and the GENE payload splits per kegg.py:33-44") {
    val doc =
      "ENTRY       hsa1\n" +
      "NAME        demo; with semicolon\n" +  // non-GENE '; ' must not leak
      "GENE        10  SYM_A; alpha protein\n" +
      "            20  SYM_B; beta protein\n" +
      // a description containing '; ' itself: the reference's strict
      // 2-tuple unpack would crash here; the engine's pinned total
      // extension keeps everything after the FIRST '; ' (and the
      // q_io_kegg oracle agrees: substr(payload, strpos+2))
      "            30  SYM_C; gamma; tail part\n" +
      "            malformed-no-split\n" +    // no '; ' -> dropped
      "COMPOUND    C00001  H2O\n" +
      "///"
    val docs = Seq(("hsa1", doc)).toDF("doc_entry", "text")
    val secs = graft.io.Kegg.sectionLines(docs, "doc_entry", "text")
      .collect().map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    // continuation lines inherit GENE; COMPOUND switches; /// switches
    assert(secs.map(_._2).toSeq == Seq("ENTRY", "NAME", "GENE", "GENE",
      "GENE", "GENE", "COMPOUND", "///"))
    val genes = graft.io.Kegg.geneSection(docs, "doc_entry", "text")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(genes.toSeq == Seq(("10", "SYM_A", "alpha protein"),
      ("20", "SYM_B", "beta protein"),
      ("30", "SYM_C", "gamma; tail part")))
    // pathwayList: TSV split, short lines dropped
    val pl = graft.io.Kegg.pathwayList(
      Seq("hsa1\tbase excision repair", "garbage").toDF("line"), "line")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pl.toSeq == Seq(("hsa1", "base excision repair")))
  }

  test("Kegg.sectionLines equals the reference's sequential " +
      "current_section loop on randomized flat documents") {
    // the sequential semantics of kegg.py:33-38, written directly
    def seqParse(text: String): Seq[(Int, String, String)] = {
      var cur: String = null
      // lines before the first header carry section = null, exactly as
      // the engine's ignoreNulls fill-forward leaves them
      text.split("\n", -1).zipWithIndex.map { case (line, i) =>
        val head = line.take(12).trim
        if (head.nonEmpty) cur = head
        (i, cur, line.drop(12))
      }.toSeq
    }
    val rnd = new scala.util.Random(7)
    val sections = Seq("ENTRY", "NAME", "GENE", "COMPOUND", "REF", "///")
    val docs = (0 until 25).map { d =>
      val n = 1 + rnd.nextInt(20)
      val lines = (0 until n).map { _ =>
        val body = (0 until rnd.nextInt(4))
          .map(_ => s"w${rnd.nextInt(50)}").mkString(" ")
        if (rnd.nextBoolean()) {
          val s = sections(rnd.nextInt(sections.length))
          s + " " * math.max(0, 12 - s.length) + body
        } else " " * 12 + body // continuation
      }
      (s"d$d", lines.mkString("\n"))
    }
    val df = docs.toDF("doc_entry", "text")
    val got = graft.io.Kegg.sectionLines(df, "doc_entry", "text")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .toSet
    val want = docs.flatMap { case (id, text) =>
      seqParse(text).map { case (pos, sec, pay) => (id, pos, sec, pay) }
    }.toSet
    assert(got == want)
  }

  test("UniprotPfam.map: duplicate accessions collapse, ids join sorted " +
      "and ';'-separated, accessions with no hit drop (the try/continue)") {
    val accs = Seq("A1", "A1", "A2", "A9").toDF("acc")
    val pfam = Seq(("A1", "PF00002"), ("A1", "PF00001"), ("A1", "PF00002"),
      ("A2", "PF00007")).toDF("pacc", "pf")
    val out = graft.io.UniprotPfam.map(accs, "acc", pfam, "pacc", "pf")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq(("A1", "PF00001;PF00002"), ("A2", "PF00007")))
  }
}
