package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Entries and writers share one session, so a conf they write is seen
  * by every query running beside them, and a restore leaves the key set
  * explicitly. This spec keeps `src/main` free of new session-conf
  * writes, and pins the two entries that used to write the zone and
  * the CBO switch. */
class SessionConfSpec extends AnyFunSuite with SparkFixture {

  /** A permitted conf write: `file` lines containing `marker`, `count`
    * of them. */
  private final case class Site(file: String, marker: String, count: Int, reason: String)

  private val allowed = Seq(
    Site("org/apache/spark/sql/graft/StagedWrite.scala", "clone.conf.set", 1,
      "writes a fresh clone of the session, never the shared one"),
    Site("graft/core/ScaleOps.scala", "key", 3,
      "withShuffleWidth pins the shuffle width around an eager block and restores it"),
    Site("graft/streaming/StreamOps.scala", "providerKey", 6,
      "stream_t6b and stream_t22 switch to the RocksDB state store their operator " +
        "needs and restore the previous provider"))

  test("no session-conf write in src/main beyond the listed sites") {
    val root = Paths.get("src/main/scala")
    val write = """\.conf\.(set|unset)\(""".r
    val hits: Seq[(String, String)] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p: Path =>
        val rel = root.relativize(p).toString
        Files.readAllLines(p).asScala.toSeq.filter(l => write.findFirstIn(l).nonEmpty)
          .map(l => rel -> l.trim)
      }
    val stray = hits.filterNot { case (f, l) =>
      allowed.exists(s => s.file == f && l.contains(s.marker))
    }
    assert(stray.isEmpty, s"session-conf writes outside the listed sites: ${stray.mkString("; ")}")
    allowed.foreach { s =>
      val n = hits.count { case (f, l) => f == s.file && l.contains(s.marker) }
      assert(n == s.count, s"${s.file}: $n conf writes, ${s.count} listed (${s.reason})")
    }
  }

  private val zoneKey = "spark.sql.session.timeZone"

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf()).collect().map(_.toString).toSeq

  test("a stream entry keeps the session conf and reads the same in any session zone") {
    val before = spark.conf.getAll
    val utc = rows("stream_t1_tumbling")
    assert(spark.conf.getAll == before)
    spark.conf.set(zoneKey, "America/Los_Angeles")
    try {
      val la = rows("stream_t1_tumbling")
      assert(spark.conf.get(zoneKey) == "America/Los_Angeles", "the entry moved the session zone")
      assert(la == utc)
    } finally spark.conf.set(zoneKey, before(zoneKey))
  }

  test("s68 plans its CBO probe without writing the session conf") {
    val before = spark.conf.getAll
    assert(rows("s68_puffin_stats").nonEmpty)
    assert(spark.conf.getAll == before)
  }
}
