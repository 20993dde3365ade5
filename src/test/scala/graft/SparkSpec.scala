package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  /** The shared session config (`Sessions`) at 4 cores, so the specs
    * and `PlanDigestSpec`'s pinned plans run under the measured config.
    * WARN keeps Spark's INFO chatter out of the test log.
    */
  lazy val session: SparkSession = {
    val s = Sessions.local("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
