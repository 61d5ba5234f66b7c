package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.catalyst.{GraftExtensions, RangeJoinRewrite, StatFunctions}

/** Native stat expressions: interpreted + codegen paths agree with the
  * Dist kernels, and SQL registration via GraftExtensions works. */
class CatalystSpec extends SparkSpec {
  import spark.implicits._

  /** A child session in which `names` resolve only because
    * [[GraftExtensions.register]] put them back: the shared session
    * already carries every graft_* function through spark.sql.extensions,
    * so they are dropped from the child's own registry first. */
  private def registeredAfterDrop(names: String*): SparkSession = {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    names.foreach { n =>
      assert(reg.dropFunction(FunctionIdentifier(n)), n)
      assert(!reg.functionExists(FunctionIdentifier(n)), n)
    }
    GraftExtensions.register(s)
    s
  }

  test("native expressions match Dist and survive codegen") {
    val df = Seq((1.96, 3.8414588206941245, 2.2281388519862735, 0.5, 12L))
      .toDF("z", "chi", "t", "r", "n")
    val row = df.select(
      StatFunctions.pnorm(col("z")).as("p1"),
      StatFunctions.chisqTail(col("chi"), lit(1.0)).as("p2"),
      StatFunctions.tTail2(col("t"), lit(10.0)).as("p3"),
      StatFunctions.corrPValue(col("r"), col("n")).as("p4")).head()
    assert(math.abs(row.getDouble(0) - 0.9750021048517795) < 1e-9)
    assert(math.abs(row.getDouble(1) - 0.05) < 1e-9)
    assert(math.abs(row.getDouble(2) - 0.05) < 1e-9)
    assert(math.abs(row.getDouble(3) -
      graft.stats.Dist.corrPValue(0.5, 12)) < 1e-12)
    // nulls propagate
    val n = Seq((Option.empty[Double], 1.0)).toDF("x", "df")
      .select(StatFunctions.chisqTail(col("x"), col("df"))).head()
    assert(n.isNullAt(0))
  }

  test("GraftExtensions.register exposes the SQL functions") {
    val s = registeredAfterDrop(
      "graft_pnorm", "graft_corr_p", "graft_chisq_tail", "graft_t_tail2")
    // the rule reaches a live session only through register, once
    assert(s.experimental.extraOptimizations == Seq(RangeJoinRewrite))
    GraftExtensions.register(s)
    assert(s.experimental.extraOptimizations == Seq(RangeJoinRewrite))
    val v = s.sql(
      "SELECT graft_pnorm(1.96) AS p, graft_corr_p(0.5, 12L) AS cp, " +
        "graft_chisq_tail(3.841458820694124, 1) AS ct, " +
        "graft_t_tail2(2.2281388519862735, 10) AS tt").head()
    assert(math.abs(v.getDouble(0) - 0.9750021048517795) < 1e-9)
    assert(v.getDouble(1) > 0 && v.getDouble(1) < 1)
    assert(math.abs(v.getDouble(2) - 0.05) < 1e-9)
    assert(math.abs(v.getDouble(3) - 0.05) < 1e-9)
  }

  test("array-kernel expressions match their Scala kernels on both eval paths") {
    import graft.catalyst.ArrayFunctions
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat", "one two", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    def run(codegen: Boolean): Seq[org.apache.spark.sql.Row] = {
      spark.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      // factoryMode only controls the projection/predicate factories;
      // whole-stage codegen is gated separately and would otherwise keep
      // running doGenCode in the "interpreted" leg
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try df.select(col("id"),
          ArrayFunctions.shingleHashes(col("text"), 3).as("sh"),
          ArrayFunctions.minhashSig(col("text"), 3, 16).as("mh"),
          ArrayFunctions.simhashSig(col("text"), 3).as("simh"))
        .orderBy("id").collect().toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val gen = run(codegen = true)
    val interp = run(codegen = false)
    texts.zipWithIndex.foreach { case (t, i) =>
      val expSh = graft.dedup.Dedup.shingleHashesKernel(t, 3).toSeq
      val expMh = graft.dedup.Dedup.minhashSigKernel(t, 3, 16).toSeq
      val expSimh = graft.dedup.Dedup.simhashSigKernel(t, 3)
      for (rows <- Seq(gen, interp)) {
        assert(rows(i).getSeq[Long](1) == expSh)
        assert(rows(i).getSeq[Long](2) == expMh)
        assert(rows(i).getLong(3) == expSimh)
      }
    }
    // jaccard + cosine against hand values
    val jc = Seq((Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L),
        Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 4.0f, 4.0f)))
      .toDF("a", "b", "va", "vb")
      .select(ArrayFunctions.jaccardLongs(col("a"), col("b")).as("j"),
        ArrayFunctions.dotF(col("va"), col("vb")).as("d"),
        ArrayFunctions.cosineF(col("va"), col("vb")).as("c")).head()
    assert(math.abs(jc.getDouble(0) - 2.0 / 5.0) < 1e-15)
    assert(math.abs(jc.getDouble(1) - 18.0) < 1e-12)
    assert(math.abs(jc.getDouble(2) - 1.0) < 1e-12) // parallel vectors
    // null propagation
    val nu = Seq((Option.empty[String], Option(Seq(1L)))).toDF("t", "a")
      .select(ArrayFunctions.shingleHashes(col("t"), 3).as("sh"),
        ArrayFunctions.jaccardLongs(col("a"), lit(null).cast("array<long>")).as("j"))
      .head()
    assert(nu.isNullAt(0) && nu.isNullAt(1))
    // null ELEMENTS are rejected loudly (toLongArray would silently
    // coerce them to 0 — a wrong similarity, not an error)
    val bad = Seq((Seq(Option(1L), None), Seq(Option(1L), Option(2L))))
      .toDF("a", "b")
      .select(ArrayFunctions.jaccardLongs(col("a"), col("b")).as("j"))
    val ex = intercept[Exception] { bad.head() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("null array element")))
  }

  test("bloom-contains expression: no false negatives, bounded false " +
       "positives, both eval paths agree") {
    import graft.catalyst.ArrayFunctions
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0L until 1000L).foreach(i => bloom.putLong(i * 7L))
    val probes = (0L until 4000L).toDF("h") // 1000 members + 3000 others
    def run(codegen: Boolean): Map[Long, Boolean] = {
      spark.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try probes.select(col("h"),
          ArrayFunctions.bloomContainsLong(col("h"), bloom).as("in"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val gen = run(codegen = true)
    assert(gen == run(codegen = false))
    // every inserted key answers true (no false negatives — the property
    // the exact-verify design depends on)
    (0L until 1000L).map(_ * 7L).filter(_ < 4000L)
      .foreach(k => assert(gen(k), s"false negative at $k"))
    // non-members answer true at ~fpp, not wholesale
    val nonMembers = (0L until 4000L).filterNot(h => h % 7 == 0 && h / 7 < 1000)
    val fp = nonMembers.count(gen)
    assert(fp < nonMembers.size / 10,
      s"implausible false-positive count: $fp of ${nonMembers.size}")
  }

  test("KmvSketchAgg keeps the k smallest distinct hashes under any " +
       "partitioning, ignores nulls, and matches brute force") {
    import graft.catalyst.SketchFunctions
    val vals: Seq[java.lang.Long] =
      (0 until 5000).map(i => java.lang.Long.valueOf((i * 2654435761L) % 1000003L)) :+
        (null: java.lang.Long)
    val df = vals.toDF("h")
    val brute = vals.filter(_ != null).map(_.longValue).distinct
      .sorted.take(64)
    def sketch(parts: Int): Seq[Long] =
      df.repartition(parts)
        .agg(SketchFunctions.kmvSketch(col("h"), 64).as("kmv"))
        .collect()(0).getSeq[Long](0)
    // partial-aggregate path (many partitions) == single partition ==
    // brute force, proving merge correctness and order independence
    assert(sketch(1) == brute)
    assert(sketch(17) == brute)
    // under-full group: fewer distinct values than k returns them all
    val small = (0 until 10).map(i => (i % 3).toLong).toDF("h")
      .agg(SketchFunctions.kmvSketch(col("h"), 64))
      .collect()(0).getSeq[Long](0)
    assert(small == Seq(0L, 1L, 2L))
  }

  test("unicode kernels: NFC composes, strip_accents drops marks, nulls pass") {
    import graft.catalyst.TextFunctions
    // "école" with a decomposed e+combining-acute must compose to the
    // precomposed form; strip_accents removes marks from both spellings
    val decomposed = "e\u0301cole"
    val df = Seq((decomposed, "São naïve Ωμέγα")).toDF("a", "b")
      .select(TextFunctions.nfcNormalize(col("a")).as("nfc"),
        TextFunctions.stripAccents(col("a")).as("sa"),
        TextFunctions.stripAccents(col("b")).as("sb"))
    val r = df.head()
    assert(r.getString(0) == "\u00e9cole")
    assert(r.getString(1) == "ecole")
    assert(r.getString(2) == "Sao naive Ωμεγα")
    val n = Seq(Option.empty[String]).toDF("t")
      .select(TextFunctions.nfcNormalize(col("t"))).head()
    assert(n.isNullAt(0))
    // SQL registration
    val s = registeredAfterDrop("graft_nfc", "graft_strip_accents").sql(
      s"SELECT graft_nfc('$decomposed') AS n, graft_strip_accents('\u00e0') AS a").head()
    assert(s.getString(0) == "\u00e9cole" && s.getString(1) == "a")
  }

  test("array-kernel SQL functions are registered") {
    val s = registeredAfterDrop("graft_jaccard_longs", "graft_cosine_f",
      "graft_shingle_hashes", "graft_minhash_sig", "graft_simhash_sig",
      "graft_rolling_hash", "graft_inter_longs", "graft_kmv_sketch")
    val r = s.sql(
      "SELECT graft_jaccard_longs(array(1L,2L,3L), array(2L,3L,4L)) AS j, " +
        "graft_cosine_f(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c, " +
        "size(graft_shingle_hashes('a b c d', 3)) AS ns, " +
        "size(graft_minhash_sig('a b c d', 3, 32)) AS nm, " +
        "graft_simhash_sig('a b c d', 3) AS sh, " +
        "graft_rolling_hash('a b c') AS rh").head()
    assert(math.abs(r.getDouble(0) - 0.5) < 1e-15)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    val r2 = s.sql(
      "SELECT graft_inter_longs(array(1L,2L,3L), array(2L,3L,4L)) AS i, " +
        "graft_kmv_sketch(h, 3) AS kmv " +
        "FROM (SELECT explode(array(9L,5L,7L,5L,1L)) AS h)").head()
    assert(r2.getLong(0) == 2L)
    assert(r2.getSeq[Long](1) == Seq(1L, 5L, 7L))
    assert(r.getInt(2) == 2)   // "a b c", "b c d"
    assert(r.getInt(3) == 32)
    assert(r.getLong(4) == graft.dedup.Dedup.simhashSigKernel("a b c d", 3))
    // pin the rolling-hash recurrence bit-exactly to its documented form
    val expected = "a b c".getBytes("UTF-8")
      .foldLeft(1469598103934665603L)((h, b) => h * 1000003L + (b & 0xff))
    assert(r.getLong(5) == expected)
  }
}
