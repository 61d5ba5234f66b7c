package graft

import org.apache.spark.sql.functions._
import graft.io.Io

/** Live integration test for the JDBC scan wrapper (the reference's
  * SQLite-with-SQL first touch — queryMassNPDB.py:33-40,
  * getMassTransitions.py:62-86: open a file database, run a LEFT JOIN +
  * WHERE, get a frame). The embedded engine here is DuckDB-over-JDBC —
  * same shape as sqlite-jdbc (file database, in-process driver) — wired
  * in test scope by build.sbt from the image's artifact cache. When the
  * driver jar is absent the whole suite cancels (assume), so the build
  * does not depend on it.
  */
class JdbcSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  /** Every directory this spec writes lives under here. */
  private val scratch = java.nio.file.Files.createTempDirectory("graft_jdbcspec")

  override def afterAll(): Unit =
    try SparkSpec.deleteTree(scratch) finally super.afterAll()
  import spark.implicits._

  private def driverPresent: Boolean =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: Throwable => false }

  private def withDb[A](f: String => A): A = {
    val path = java.nio.file.Files.createTempDirectory(scratch, "graft_jdbc")
      .resolve("test.duckdb").toString
    val url = s"jdbc:duckdb:$path"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE genes (gene_id INTEGER, symbol VARCHAR, mass DOUBLE)")
      st.execute("CREATE TABLE annotations (gene_id INTEGER, pathway VARCHAR)")
      st.execute("INSERT INTO genes VALUES (1,'TP53',43.6),(2,'BRCA1',207.7)," +
        "(3,'EGFR',134.3),(4,'MYC',48.8)")
      st.execute("INSERT INTO annotations VALUES (1,'apoptosis'),(1,'cell_cycle')," +
        "(2,'repair'),(3,'signaling')")
      // pre-created sink table: Spark's existence probe + CREATE race
      // through separate connections confuses DuckDB's catalog, and the
      // reference's SQLite sink appends into an existing table anyway
      st.execute("CREATE TABLE sink_out (gene_id INTEGER, symbol VARCHAR, mass DOUBLE)")
      st.close()
    } finally conn.close()
    f(url)
  }

  test("readJdbc runs a LEFT JOIN + WHERE inside the database") {
    assume(driverPresent, "duckdb_jdbc driver not on test classpath")
    withDb { url =>
      // the SQL executes IN the database (derived-table dbtable), so the
      // join/filter never cross the wire — the reference's first-touch shape
      val df = Io.readJdbc(spark, url,
        "SELECT g.gene_id, g.symbol, g.mass, a.pathway FROM genes g " +
          "LEFT JOIN annotations a ON g.gene_id = a.gene_id WHERE g.mass > 45")
      val rows = df.orderBy("gene_id", "pathway")
        .as[(Long, String, Double, Option[String])].collect().toSeq
      assert(rows == Seq(
        (2L, "BRCA1", 207.7, Some("repair")),
        (3L, "EGFR", 134.3, Some("signaling")),
        (4L, "MYC", 48.8, None)))
      // Spark-side predicates on the derived table still push down to JDBC
      val one = df.where(col("symbol") === "EGFR")
      val pushed = one.queryExecution.executedPlan.toString
      assert(pushed.contains("PushedFilters") && pushed.contains("symbol"))
      assert(one.count() == 1)
    }
  }

  test("readJdbc partitioned scan splits the read and preserves rows") {
    assume(driverPresent, "duckdb_jdbc driver not on test classpath")
    withDb { url =>
      val df = Io.readJdbc(spark, url,
        "SELECT gene_id, symbol FROM genes",
        partitioning = Some(("gene_id", 1L, 5L, 2)))
      assert(df.rdd.getNumPartitions == 2)
      assert(df.select("gene_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    }
  }

  test("jdbc sink appends and reads back") {
    assume(driverPresent, "duckdb_jdbc driver not on test classpath")
    withDb { url =>
      val out = Seq((10, "NEW1", 1.5), (11, "NEW2", 2.5))
        .toDF("gene_id", "symbol", "mass")
      out.write.format("jdbc").option("url", url)
        .option("dbtable", "sink_out").mode("append").save()
      out.write.format("jdbc").option("url", url)
        .option("dbtable", "sink_out").mode("append").save()
      val back = Io.readJdbc(spark, url,
        "SELECT gene_id, count(*) AS n FROM sink_out GROUP BY gene_id")
        // duckdb's JDBC metadata reports the count as DECIMAL(20,0)
        .select(col("gene_id"), col("n").cast("long").as("n"))
      assert(back.as[(Long, Long)].collect().toMap == Map(10L -> 2L, 11L -> 2L))
    }
  }
}
