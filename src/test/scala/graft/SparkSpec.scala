package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `body`'s result and the Spark jobs started while it ran, as the SQL
    * execution id of each job ("" outside any) — e.g. the eager jobs a
    * verb runs while its DataFrame is only built. One action is one
    * execution id, but under AQE it runs a job per query stage. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse(""))
    }
    org.apache.spark.grafttest.Bus.drain(sc) // earlier jobs don't count
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.grafttest.Bus.drain(sc)
      (out, jobs.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
