package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs — one JVM-wide session (getOrCreate)
  * so the suite pays startup once. UTC + tiny shuffle fan-out mirror the
  * driver's Verify config. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkFixture {
  lazy val session: SparkSession = GraftSession.builder(2,
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "warehouse").toString)
    .appName("graft-test")
    .getOrCreate()
}
