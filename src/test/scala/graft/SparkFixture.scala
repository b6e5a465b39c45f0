package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for specs (one JVM for the forked test run),
  * built by the same factory as Bench and Verify — UTC-pinned like the
  * harness (FIXTURES.md: assertions drift otherwise). */
trait SparkFixture { this: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  def sf: String = "/root/testdata/sf0.001"
}

object SparkFixture {
  lazy val session: SparkSession = Session.local(4)
}
