package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the driver-facing query registry.
  *
  * Oracle-parity discipline (the driver hash-compares against DuckDB):
  *  - sums of money-like doubles go through DECIMAL(18,2) (exact, order
  *    independent) and are cast back to double;
  *  - means are computed as exact-decimal-sum / count in double on BOTH
  *    sides (never the engines' own avg-of-decimal, whose internal rounding
  *    differs);
  *  - every remaining double output is round(x, 6) — UNLESS the value's
  *    magnitude pushes a double's ulp near or past the rounding grid
  *    (|x| ≳ 1e4 for 6 decimals: ulp(1e5) = 1.5e-11): there the decimal
  *    mimic is unsound because Java's pre-19 Double.toString is not
  *    always shortest, so Spark and DuckDB can round two DIFFERENT
  *    decimal spellings of the same double (q_combat_fixed lost 1 row in
  *    600k this way at sf0.1). Large-magnitude outputs use the
  *    string-free quantizer floor(x*1e6+0.5)/1e6 on BOTH sides — the
  *    same IEEE sequence, bit-identical regardless of representation;
  *  - timestamps are never emitted raw — epoch seconds as BIGINT;
  *  - divisions are guarded (`nullif` in SQL, `when` here) so both engines
  *    yield NULL rather than one erroring.
  */
object Q {
  /** A registered query: name, Spark implementation, optional DuckDB oracle
    * (None → the driver records a weaker rows-only check). */
  final case class Entry(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** One run-scoped temp ROOT, recursively deleted at JVM exit: repeated
    * Verify/Bench/Tools runs must not accumulate the fixture copies that
    * the io and lake queries write in the system temp dir forever
    * (round-9 ADVICE). */
  lazy val tmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_run")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(root) catch { case _: Throwable => () }
    }))
    root
  }

  /** A fresh directory under [[tmpRoot]]; the random name suffix keeps
    * concurrent runs inside one JVM collision-free. */
  def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tmpRoot, s"graft_$tag").toString

  /** events.parquet has shipped with `ts` as either TIMESTAMP(NANOS)
    * (which Spark reads only as a nanos long under
    * spark.sql.legacy.parquet.nanosAsLong=true, set in Session.local) or a
    * plain timestamp[us]. Adapt to whichever the fixture carries and
    * normalise to the same two columns: `ts` as a microsecond timestamp
    * and `ts_ns` as an exact nanos BIGINT for total ordering. */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(t(s, dir, "events"))

  /** Shared ts normalisation for the batch and streaming events readers. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long fixture
        df.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => // native timestamp[us] fixture (arrives as TIMESTAMP_NTZ;
        // sessions run UTC, so the cast to TIMESTAMP is the identity
        // wall-clock mapping DuckDB's epoch_ns uses on naive timestamps)
        df.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }

  /** Exact order-independent sum of a 2-decimal money column, as double
    * (canonical home: [[graft.ops.Exact]], shared with pipeline code). */
  def sumDec(c: Column): Column = graft.ops.Exact.sumDec(c)

  /** Canonical string form of an integer array — the driver's pandas
    * gate cannot sort rows on numpy-array cells (its `sort_values`
    * raises "unhashable type"), so every REGISTERED query serializes
    * array outputs at the query surface; the library APIs stay
    * array-typed. DuckDB twin:
    * `array_to_string(list_transform(c, x -> CAST(x AS VARCHAR)), ',')`. */
  def csvInts(c: Column): Column =
    array_join(transform(c, x => x.cast("string")), ",")

  /** Canonical string form of a 6-decimal-rounded double array: each
    * element scaled to exact integer micro-units (round(x*1e6) as LONG)
    * before joining — integer serialization sidesteps every cross-engine
    * float-repr seam (scientific notation under 1e-4, negative zero).
    * DuckDB twin: `array_to_string(list_transform(c, x ->
    * CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')`. */
  def csvMicros(c: Column): Column =
    array_join(transform(c,
      x => round(x * lit(1e6)).cast("long").cast("string")), ",")

  /** DuckDB-side twin of [[csvInts]]. */
  def csvIntsSql(c: String): String =
    s"array_to_string(list_transform($c, x -> CAST(x AS VARCHAR)), ',')"

  /** DuckDB-side twin of [[csvMicros]]. */
  def csvMicrosSql(c: String): String =
    s"array_to_string(list_transform($c, x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')"

  /** Exact sum at 6 decimals (for arbitrary-precision doubles). */
  def sumDec6(c: Column): Column = graft.ops.Exact.sumDec6(c)

  def r6(c: Column): Column = round(c, 6)
}
