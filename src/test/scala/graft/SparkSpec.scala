package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy): the shipped
  * [[GraftSession]] on the test fixture, at a fixed 4 cores. */
object TestSpark {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession(sf, cpus = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = TestSpark.sf

  /** A new empty directory under the session's scratch root, which Spark
    * deletes when the session stops or the JVM exits. */
  def scratchDir(prefix: String): String = java.nio.file.Files
    .createTempDirectory(GraftSession.scratchRoot(spark), prefix).toString
}
