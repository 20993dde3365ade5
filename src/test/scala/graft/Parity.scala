package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.Assertions.assert

/** The driver path and the Spark path of `Catalog.scan`'s size rule,
  * compared. The Spark path is `body` run with `Catalog.sparkOnly` set
  * on the calling thread, so no scan it starts there is read on the
  * driver; the session's settings are not touched.
  */
object Parity {
  /** `body` run on the Spark path. */
  def sparkPath[T](body: => T): T = graft.core.Catalog.sparkOnly.withValue(true)(body)

  /** `body` run as the session is, then again on the Spark path; asserts
    * the two values are equal and returns the first with the Spark jobs
    * its run started. `body` builds its own tables each time.
    */
  def same[T](spark: SparkSession)(body: => T): (T, Long) = {
    val (driver, jobs) = JobCounter.jobs(spark)(body)
    val onSpark = sparkPath(body)
    assert(driver == onSpark, s"\ndriver path: $driver\nSpark path:  $onSpark")
    (driver, jobs)
  }

  /** `read` run twice; asserts the runs agree and, off the Spark path,
    * that the second decoded no file: its scans are served by the
    * driver read cache. Returns the second run's value.
    */
  def twice[T](read: => T): T = {
    val first = read
    val decoded = graft.core.Catalog.decodedFiles.get
    val second = read
    if (!graft.core.Catalog.sparkOnly.value)
      assert(graft.core.Catalog.decodedFiles.get == decoded, "the second read decoded files")
    assert(first == second, s"\nfirst read:  $first\nsecond read: $second")
    second
  }

  /** A frame's schema and its rows as sorted strings: comparable values. */
  def rows(df: DataFrame): (StructType, Seq[String]) =
    (df.schema, df.collect().map(_.toString).toSeq.sorted)
}
