package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkTestBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestBase.session

  /** Driver fixture location — single edit point if the fixtures move. */
  def testDataRoot: String = SparkTestBase.TestDataRoot
  def testDataSfs: Seq[String] = SparkTestBase.TestDataSfs
  def testData(sf: String): String = s"$testDataRoot/$sf"

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Spark jobs `body` starts from this thread (tagged by a job group). */
  def jobsOf(body: => Any): Int = {
    val sc    = spark.sparkContext
    val group = s"jobs-of-${UUID.randomUUID()}"
    val jobs  = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}

object SparkTestBase {
  /** Where the driver writes its parquet fixtures, and which scale
    * factors it ships — shared by every spec that reads them.
    */
  val TestDataRoot: String = "/root/testdata"
  val TestDataSfs: Seq[String] = Seq("sf0.001", "sf0.01", "sf0.1")

  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test", "local[4]", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
