package graft.streaming

import graft.SparkFixture
import graft.ingest.{Versioned, Writers}
import graft.interop.{DeltaLake, Iceberg}
import java.nio.file.Paths
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap

/** A table tail or change feed serves each commit with the same generated
  * code: per-commit values (commit version, sequence number, snapshot id,
  * partition values) reach the plan as data or bound references, never as
  * inlined literals. After one warm batch, a batch over a new commit of
  * the same shape compiles no class.
  *
  * The batches run in ONE query: Spark keys its codegen cache by the
  * session's class loader, and every query start clones the session, so
  * a restarted query recompiles its task-side classes whatever the plan.
  * Each batch's `foreachBatch` lands the next commit itself, so the count
  * from the end of batch 1's callback to the end of batch 2's collect
  * covers exactly batch 2's offsets, planning, scan and collect. */
class TailCodegenSpec extends AnyFunSuite with SparkFixture {

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    p.toString
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Rows of commit `p`: two keys in partition `p`, which no earlier
    * commit used. */
  private def rows(p: Int): DataFrame = {
    import spark.implicits._
    Seq((10L * p + 1, p, s"a$p"), (10L * p + 2, p, s"b$p")).toDF("k", "p", "v")
  }

  /** Streams batches 0..2 of `stream`: batch 0 serves commit 0 and each
    * batch's callback lands the next commit. Checks batches 1 and 2
    * against `expect` (given the offset of their commit) and that batch 2
    * compiled nothing. */
  private def assertSecondBatchCompilesNothing(
      name: String, stream: DataFrame, cols: Seq[String], append: DataFrame => Unit,
      head: () => Long, expect: (Int, Long) => Set[Row]): Unit = {
    val got = TrieMap.empty[Int, Set[Row]]
    val heads, collectEnd, callbackEnd = TrieMap.empty[Int, Long]
    val q = stream.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val k = id.toInt
        got(k) = b.selectExpr(cols: _*).collect().toSet
        collectEnd(k) = compiles
        if (k < 2) { append(rows(k + 1)); heads(k + 1) = head() }
        callbackEnd(k) = compiles
      }
      .option("checkpointLocation", freshDir(s"tcg_${name}_ckpt"))
      .start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!callbackEnd.contains(2) && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(20)
      }
    } finally q.stop()
    assert(callbackEnd.contains(2), s"$name: the query served ${got.size} batches, not 3")
    Seq(1, 2).foreach(k => assert(got(k) == expect(k, heads(k)), s"$name: batch $k rows"))
    val compiled = collectEnd(2) - callbackEnd(1)
    assert(compiled == 0, s"$name: the second batch compiled $compiled generated classes")
  }

  private def tailRows(p: Int, at: Long): Set[Row] =
    Set(Row(10L * p + 1, p), Row(10L * p + 2, p))
  private def feedRows(p: Int, at: Long): Set[Row] =
    Set(Row(10L * p + 1, "insert", at), Row(10L * p + 2, "insert", at))

  test("delta: a partitioned tail and the change feed compile nothing for a new commit") {
    val base = freshDir("tcg_delta")
    val tail = s"$base/tail"
    DeltaLake.write(rows(0), tail, partitionBy = Seq("p"))
    assertSecondBatchCompilesNothing("delta_tail",
      spark.readStream.format("delta").load(tail), Seq("k", "p"),
      DeltaLake.write(_, tail, mode = SaveMode.Append): Unit,
      () => DeltaLake.versions(tail).last, tailRows)
    val feed = s"$base/feed"
    DeltaLake.write(rows(0), feed, partitionBy = Seq("p"))
    DeltaLake.enableChangeDataFeed(spark, feed)
    assertSecondBatchCompilesNothing("delta_feed",
      spark.readStream.format("delta").option("readChangeFeed", "true")
        .option("startingVersion", "0").load(feed),
      Seq("k", "_change_type", "_commit_version"),
      DeltaLake.write(_, feed, mode = SaveMode.Append): Unit,
      () => DeltaLake.versions(feed).last, feedRows)
  }

  test("iceberg: a partitioned tail and the changelog compile nothing for a new commit") {
    val base = freshDir("tcg_iceberg")
    val tail = s"$base/tail"
    Iceberg.write(rows(0), tail, partitionBy = Seq("p"))
    assertSecondBatchCompilesNothing("iceberg_tail",
      spark.readStream.format("iceberg").load(tail), Seq("k", "p"),
      Iceberg.write(_, tail, mode = SaveMode.Append): Unit,
      () => Iceberg.currentMainSequence(tail), tailRows)
    val feed = s"$base/feed"
    Iceberg.write(rows(0), feed, partitionBy = Seq("p"))
    assertSecondBatchCompilesNothing("iceberg_feed",
      spark.readStream.format("iceberg").option("changelog", "true")
        .option("fromSeq", "0").load(feed),
      Seq("k", "_change_type", "_sequence_number"),
      Iceberg.write(_, feed, mode = SaveMode.Append): Unit,
      () => Iceberg.currentMainSequence(feed), feedRows)
  }

  test("versioned: a partitioned tail and the change feed compile nothing for a new commit") {
    val base = freshDir("tcg_versioned")
    val tail = s"$base/tail"
    Versioned.commitPartitioned(rows(0), tail, "p")
    assertSecondBatchCompilesNothing("versioned_tail",
      spark.readStream.format("graft-versioned").option("path", tail).load(), Seq("k", "p"),
      Versioned.appendCommitPartitioned(_, tail): Unit,
      () => Versioned.currentVersion(tail).get, tailRows)
    val feed = s"$base/feed"
    Versioned.commitPartitioned(rows(0), feed, "p")
    assertSecondBatchCompilesNothing("versioned_feed",
      spark.readStream.format("graft-versioned").option("path", feed)
        .option("readChangeFeed", "true").option("keyColumn", "k").load(),
      Seq("k", "change_type", "commit_version"),
      Versioned.appendCommitPartitioned(_, feed): Unit,
      () => Versioned.currentVersion(feed).get, feedRows)
  }
}
