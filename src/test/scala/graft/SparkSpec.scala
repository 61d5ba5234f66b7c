package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (tests fork one JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Delete `root` and everything under it. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally s.close()
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
}
