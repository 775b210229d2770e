package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: small core count + shuffle
  * partitions so tests run fast; UTC to match the oracle contract. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf: String = "/root/testdata/sf0.001"

  /** Fresh temp dir per call. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs a streaming job and checks that none of its queries is
    * still active once it has returned. */
  def noQueryOutlives[T](job: => T): T = {
    val result = job
    assert(spark.streams.active.isEmpty,
      s"queries outlived the job: ${spark.streams.active.map(_.id).mkString(", ")}")
    result
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointLocation.deleteOnExit", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
