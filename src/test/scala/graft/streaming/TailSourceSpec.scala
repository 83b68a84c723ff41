package graft.streaming

import graft.SparkFixture
import graft.ingest.{Versioned, Writers}
import graft.interop.{DeltaLake, Iceberg}
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The tail/feed contract every format serves through the one
  * [[org.apache.spark.sql.graft.TailSource]]: each format × {file tail,
  * change feed} × {fresh start, start option, restart from checkpoint,
  * AvailableNow with a commit landing mid-run, non-append commit}, every
  * delivery checked against an in-memory model of the commits. Tables are
  * INT-partitioned, so every tail batch also injects partition values.
  * The Iceberg file tail has no start option; its row is skipped. */
class TailSourceSpec extends AnyFunSuite with SparkFixture {

  private type R = (Long, Int, String)

  /** One table format: its writes and its two stream shapes. Offsets
    * are the format's commit counter; `feedCols` projects a feed row to
    * (key, change type, offset). */
  private abstract class Fmt(val name: String) {
    def create(t: String, df: DataFrame, feed: Boolean): Unit
    def append(t: String, df: DataFrame): Unit
    def overwrite(t: String, df: DataFrame): Unit
    def delete(t: String, keys: DataFrame): Unit
    def head(t: String): Long
    def tail(t: String, opts: Map[String, String]): DataFrame
    def feed(t: String, opts: Map[String, String]): DataFrame
    /** The option serving commits from offset `at` on (None: none exists). */
    def tailFrom(at: Long): Option[(String, String)]
    def feedFrom(at: Long): (String, String)
    def feedCols: Seq[String]
    /** Whether an unwindowed feed replays retained history (else it
      * serves only commits after its first run). */
    def feedReplays: Boolean = false
  }

  private val formats = Seq(
    new Fmt("delta") {
      def create(t: String, df: DataFrame, feed: Boolean): Unit = {
        DeltaLake.write(df, t, partitionBy = Seq("p"))
        if (feed) DeltaLake.enableChangeDataFeed(spark, t)
      }
      def append(t: String, df: DataFrame): Unit =
        DeltaLake.write(df, t, mode = SaveMode.Append): Unit
      def overwrite(t: String, df: DataFrame): Unit =
        DeltaLake.write(df, t, Seq("p"), SaveMode.Overwrite): Unit
      def delete(t: String, keys: DataFrame): Unit =
        DeltaLake.deleteMatched(spark, t, keys, "k"): Unit
      def head(t: String): Long = DeltaLake.versions(t).last
      def tail(t: String, opts: Map[String, String]): DataFrame =
        spark.readStream.format("delta").options(opts).load(t)
      def feed(t: String, opts: Map[String, String]): DataFrame =
        spark.readStream.format("delta").option("readChangeFeed", "true").options(opts).load(t)
      def tailFrom(at: Long): Option[(String, String)] = Some("startingVersion" -> at.toString)
      def feedFrom(at: Long): (String, String) = "startingVersion" -> at.toString
      val feedCols = Seq("k", "_change_type", "_commit_version")
    },
    new Fmt("iceberg") {
      def create(t: String, df: DataFrame, feed: Boolean): Unit =
        Iceberg.write(df, t, partitionBy = Seq("p")): Unit
      def append(t: String, df: DataFrame): Unit =
        Iceberg.write(df, t, mode = SaveMode.Append): Unit
      def overwrite(t: String, df: DataFrame): Unit =
        Iceberg.write(df, t, Seq("p"), SaveMode.Overwrite): Unit
      def delete(t: String, keys: DataFrame): Unit =
        Iceberg.deleteMatched(spark, t, keys, "k"): Unit
      def head(t: String): Long = Iceberg.currentMainSequence(t)
      def tail(t: String, opts: Map[String, String]): DataFrame =
        spark.readStream.format("iceberg").options(opts).load(t)
      def feed(t: String, opts: Map[String, String]): DataFrame =
        spark.readStream.format("iceberg").option("changelog", "true").options(opts).load(t)
      def tailFrom(at: Long): Option[(String, String)] = None
      def feedFrom(at: Long): (String, String) = "fromSeq" -> (at - 1).toString
      val feedCols = Seq("k", "_change_type", "_sequence_number")
    },
    new Fmt("versioned") {
      def create(t: String, df: DataFrame, feed: Boolean): Unit =
        Versioned.commitPartitioned(df, t, "p"): Unit
      def append(t: String, df: DataFrame): Unit =
        Versioned.appendCommitPartitioned(df, t): Unit
      def overwrite(t: String, df: DataFrame): Unit =
        Versioned.commitPartitioned(df, t, "p"): Unit
      def delete(t: String, keys: DataFrame): Unit =
        Versioned.deleteMergeOnRead(spark, t, keys, "k"): Unit
      def head(t: String): Long = Versioned.currentVersion(t).get
      def tail(t: String, opts: Map[String, String]): DataFrame =
        spark.readStream.format("graft-versioned").option("path", t).options(opts).load()
      def feed(t: String, opts: Map[String, String]): DataFrame =
        spark.readStream.format("graft-versioned").option("path", t)
          .option("readChangeFeed", "true").option("keyColumn", "k").options(opts).load()
      def tailFrom(at: Long): Option[(String, String)] = Some("startingVersion" -> at.toString)
      def feedFrom(at: Long): (String, String) = "startingVersion" -> at.toString
      val feedCols = Seq("k", "change_type", "commit_version")
      override val feedReplays = true
    },
  )

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    p.toString
  }

  private def frame(rows: Seq[R]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "p", "v")
  }

  // the model: rows of each commit, in commit order
  private val c0: Seq[R] = Seq((1L, 1, "a"), (2L, 0, "b"))
  private val c1: Seq[R] = Seq((3L, 1, "c"))
  private val c2: Seq[R] = Seq((4L, 0, "d"))
  private val late: Seq[R] = Seq((5L, 1, "e"))
  private val rewrite: Seq[R] = Seq((9L, 1, "z"))

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(r => (r.getLong(0), r.get(1).toString))
  private def tailRows(rs: Seq[R]): Seq[Row] = sorted(rs.map { case (k, p, v) => Row(k, p, v) })
  private def inserts(at: Long, rs: Seq[R]): Seq[Row] = rs.map(r => Row(r._1, "insert", at))

  /** One AvailableNow run from `ckpt`: the rows it delivered, sorted;
    * `during` runs inside each batch after its rows are collected. */
  private def drain(stream: DataFrame, ckpt: String, cols: Seq[String],
      during: Long => Unit = _ => ()): Seq[Row] = {
    val got = mutable.ArrayBuffer.empty[Row]
    val q = stream.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        got ++= b.selectExpr(cols: _*).collect(); during(id)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sorted(got.toSeq)
  }

  private val tailCols = Seq("k", "p", "v")

  /** A table at `dir/t` holding commits c0 and c1, with their offsets. */
  private def twoCommits(f: Fmt, dir: String, feed: Boolean): (String, Long, Long) = {
    val t = s"$dir/t"
    f.create(t, frame(c0), feed)
    val h0 = f.head(t)
    f.append(t, frame(c1))
    (t, h0, f.head(t))
  }

  // ---------------------------------------------------------- file tail

  test("file tail, fresh start: the live snapshot at the head, partition values injected") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_fresh_${f.name}")
      val (t, _, _) = twoCommits(f, dir, feed = false)
      assert(drain(f.tail(t, Map.empty), s"$dir/ckpt", tailCols) == tailRows(c0 ++ c1), f.name)
    }
  }

  test("file tail, start option: a fresh stream serves only the commits from the given offset") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_start_${f.name}")
      val (t, _, h1) = twoCommits(f, dir, feed = false)
      f.tailFrom(h1).foreach { opt =>
        assert(drain(f.tail(t, Map(opt)), s"$dir/ckpt", tailCols) == tailRows(c1), f.name)
      }
    }
  }

  test("file tail, restart: a checkpointed stream serves each later commit exactly once") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_restart_${f.name}")
      val (t, _, _) = twoCommits(f, dir, feed = false)
      val ckpt = s"$dir/ckpt"
      drain(f.tail(t, Map.empty), ckpt, tailCols)
      assert(drain(f.tail(t, Map.empty), ckpt, tailCols).isEmpty, s"${f.name}: idle restart")
      f.append(t, frame(c2))
      assert(drain(f.tail(t, Map.empty), ckpt, tailCols) == tailRows(c2), f.name)
    }
  }

  test("file tail, AvailableNow: a commit landing mid-run waits for the next run") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_avnow_${f.name}")
      val (t, _, _) = twoCommits(f, dir, feed = false)
      val ckpt = s"$dir/ckpt"
      val first = drain(f.tail(t, Map.empty), ckpt, tailCols,
        id => if (id == 0) f.append(t, frame(late)))
      assert(first == tailRows(c0 ++ c1), s"${f.name}: the run served the late commit")
      assert(drain(f.tail(t, Map.empty), ckpt, tailCols) == tailRows(late), f.name)
    }
  }

  test("file tail, non-append commit: refused by default, re-emitted under ignoreChanges") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_rewrite_${f.name}")
      val (t, _, _) = twoCommits(f, dir, feed = false)
      val ckpt = s"$dir/ckpt"
      drain(f.tail(t, Map.empty), ckpt, tailCols)
      f.overwrite(t, frame(rewrite))
      val e = intercept[Exception](drain(f.tail(t, Map.empty), ckpt, tailCols))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
      assert(msgs.exists(_.contains("ignoreChanges=true")), s"${f.name}: $msgs")
      assert(drain(f.tail(t, Map("ignoreChanges" -> "true")), ckpt, tailCols) ==
        tailRows(rewrite), f.name)
    }
  }

  // -------------------------------------------------------- change feed

  test("change feed, fresh start: Versioned replays history, the others start at the head") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_ffresh_${f.name}")
      val (t, h0, h1) = twoCommits(f, dir, feed = true)
      val ckpt = s"$dir/ckpt"
      val first = drain(f.feed(t, Map.empty), ckpt, f.feedCols)
      assert(first == (if (f.feedReplays) sorted(inserts(h0, c0) ++ inserts(h1, c1)) else Nil),
        f.name)
      f.append(t, frame(c2))
      assert(drain(f.feed(t, Map.empty), ckpt, f.feedCols) == inserts(f.head(t), c2), f.name)
    }
  }

  test("change feed, start option: a fresh stream serves the changes from the given offset") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_fstart_${f.name}")
      val (t, _, h1) = twoCommits(f, dir, feed = true)
      assert(drain(f.feed(t, Map(f.feedFrom(h1))), s"$dir/ckpt", f.feedCols) ==
        inserts(h1, c1), f.name)
    }
  }

  test("change feed, restart: a checkpointed feed serves each later commit exactly once") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_frestart_${f.name}")
      val (t, _, h1) = twoCommits(f, dir, feed = true)
      val ckpt = s"$dir/ckpt"
      assert(drain(f.feed(t, Map(f.feedFrom(h1))), ckpt, f.feedCols) == inserts(h1, c1), f.name)
      assert(drain(f.feed(t, Map(f.feedFrom(h1))), ckpt, f.feedCols).isEmpty, f.name)
      f.append(t, frame(c2))
      assert(drain(f.feed(t, Map(f.feedFrom(h1))), ckpt, f.feedCols) ==
        inserts(f.head(t), c2), f.name)
    }
  }

  test("change feed, AvailableNow: a commit landing mid-run waits for the next run") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_favnow_${f.name}")
      val (t, _, h1) = twoCommits(f, dir, feed = true)
      val ckpt = s"$dir/ckpt"
      val first = drain(f.feed(t, Map(f.feedFrom(h1))), ckpt, f.feedCols,
        id => if (id == 0) f.append(t, frame(late)))
      assert(first == inserts(h1, c1), s"${f.name}: the run served the late commit")
      assert(drain(f.feed(t, Map(f.feedFrom(h1))), ckpt, f.feedCols) ==
        inserts(f.head(t), late), f.name)
    }
  }

  test("change feed, non-append commit: a delete streams as delete images, never refused") {
    formats.foreach { f =>
      val dir = freshDir(s"tss_fdelete_${f.name}")
      val (t, _, h1) = twoCommits(f, dir, feed = true)
      val ckpt = s"$dir/ckpt"
      drain(f.feed(t, Map(f.feedFrom(h1))), ckpt, f.feedCols)
      import spark.implicits._
      f.delete(t, Seq(1L).toDF("k"))
      assert(drain(f.feed(t, Map(f.feedFrom(h1))), ckpt, f.feedCols) ==
        Seq(Row(1L, "delete", f.head(t))), f.name)
    }
  }

  // ------------------------------------------------------ source scan

  test("src/main builds streaming plans in one file and tails tables through one Source class") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val code: Map[String, String] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map { p =>
        root.relativize(p).toString -> java.nio.file.Files.readAllLines(p).asScala
          .map(_.trim).filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
          .mkString("\n")
      }.toMap
    val streaming = code.collect { case (f, c) if c.contains("isStreaming = true") => f }
    assert(streaming.toSeq == Seq("org/apache/spark/sql/graft/TailSource.scala"),
      s"files building a streaming plan: $streaming")
    val sourceClass = """class\s+(\w+)((?!class\b)[^{}])*\bextends\s+Source\b""".r
    val sources = code.values.toSeq.flatMap(c => sourceClass.findAllMatchIn(c).map(_.group(1)))
    assert(sources == Seq("TailSource"), s"streaming Source classes: $sources")
  }
}
