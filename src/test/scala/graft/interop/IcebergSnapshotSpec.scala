package graft.interop

import graft.SparkFixture
import graft.ingest.Writers
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every Iceberg commit path that produces a snapshot, scripted on v2
  * and v3. After each step the table passes [[IcebergCheck.verify]],
  * reads as an in-memory model of its rows, and has gained exactly the
  * metadata files the step is known to write (`.crc` not counted). A
  * source scan keeps the manifest-list record, the manifest-list name
  * and the snapshot-log append inside the one snapshot producer. */
class IcebergSnapshotSpec extends AnyFunSuite with SparkFixture {
  import IcebergSnapshotSpec.R

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    p.toString
  }

  private def metaFiles(path: String): Set[String] = {
    val dir = Paths.get(new java.net.URI(path).getPath, "metadata")
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSet
  }

  /** The table at `path` as it is driven step by step: each step runs
    * one operation, applies it to the model, then checks the table. */
  private final class Script(val path: String) {
    var rows: Seq[R] = Nil
    var withW = false
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]

    def frame(rs: Seq[R], w: Boolean = withW): DataFrame = {
      import spark.implicits._
      val df = rs.toDF().coalesce(1)
      if (w) df else df.drop("w")
    }

    def step(name: String)(op: => Any)(model: Seq[R] => Seq[R]): Unit = {
      val before = metaFiles(path)
      op
      rows = model(rows)
      added += name -> (metaFiles(path) -- before).size
      val bad = IcebergCheck.verify(path)
      assert(bad.isEmpty, s"after $name: ${bad.mkString("; ")}")
      val got = Iceberg.read(spark, path)
        .select((Seq("k", "v", "p") ++ Option.when(withW)("w")).map(col): _*)
        .collect().map(r => R(r.getLong(0), r.getString(1), r.getInt(2),
          if (withW) r.getString(3) else null)).sortBy(_.k).toSeq
      assert(got == rows.sortBy(_.k), s"after $name the table reads other rows than its model")
    }
  }

  private def r(k: Long, v: String = null, w: String = null) =
    R(k, Option(v).getOrElse(s"v$k"), (k % 3).toInt, w)

  /** The whole producer script on one format version; returns the
    * metadata files each step added. */
  private def script(name: String, v3: Boolean): Seq[(String, Int)] = {
    val s = new Script(freshDir(name))
    val path = s.path
    s.step("create")(Iceberg.write(s.frame((0L to 8L).map(r(_))), path))(
      _ => (0L to 8L).map(r(_)))
    if (v3) s.step("upgradeToV3")(Iceberg.upgradeToV3(spark, path))(identity)
    s.step("append")(Iceberg.write(s.frame((9L to 11L).map(r(_))), path, mode = SaveMode.Append))(
      _ ++ (9L to 11L).map(r(_)))
    s.withW = true
    val merged = Seq(r(12, w = "w12"), r(13, w = "w13"))
    s.step("mergeSchema append")(Iceberg.write(s.frame(merged), path, mode = SaveMode.Append,
      mergeSchema = true))(_ ++ merged)
    s.step("overwrite with a new spec")(Iceberg.write(s.frame(s.rows), path,
      partitionBy = Seq("p")))(identity)
    val staged = Seq(r(20, w = "b"), r(21, w = "b"))
    s.step("branch write")(Iceberg.write(s.frame(staged), path, mode = SaveMode.Append,
      toBranch = Some("audit")))(identity)
    s.step("fastForward")(Iceberg.fastForward(spark, path, "audit"))(_ ++ staged)
    s.step("copy-on-write delete")(Iceberg.deleteWhere(spark, path, col("k") === 1))(
      _.filterNot(_.k == 1))
    s.step("copy-on-write update")(Iceberg.updateWhere(spark, path, Map("v" -> lit("upd")),
      Some(col("k") === 4)))(_.map(x => if (x.k == 4) x.copy(v = "upd") else x))
    val ups = Seq(r(5, v = "ups", w = "u"), r(100, w = "u"))
    s.step("upsert with fresh rows")(Iceberg.upsertByKey(spark, path, s.frame(ups), "k"))(
      rs => rs.filterNot(x => ups.exists(_.k == x.k)) ++ ups)
    val p1 = Seq(r(31, w = "p1"), r(34, w = "p1"))
    s.step("replacePartitions")(Iceberg.replacePartitions(spark, path, s.frame(p1)))(
      rs => rs.filterNot(_.p == 1) ++ p1)
    if (v3) {
      // the second delete replaces one of the first's two vectors and
      // keeps the other
      s.step("DV delete")(Iceberg.deleteMergeOnRead(spark, path, col("k").isin(6, 8)))(
        _.filterNot(x => x.k == 6 || x.k == 8))
      s.step("DV delete, replacing a vector")(Iceberg.deleteMergeOnRead(spark, path,
        col("k") === 9))(_.filterNot(_.k == 9))
    } else s.step("position delete")(Iceberg.deleteMergeOnRead(spark, path, col("k") === 6))(
      _.filterNot(_.k == 6))
    s.step("rewriteDeletes")(Iceberg.rewriteDeletes(spark, path))(identity)
    val more = Seq(r(40, w = "m"), r(43, w = "m"))
    s.step("append small files")(Iceberg.write(s.frame(more), path, mode = SaveMode.Append))(
      _ ++ more)
    s.step("compact")(Iceberg.compact(spark, path))(identity)
    val tail = Seq(r(50, w = "t"), r(53, w = "t"))
    s.step("append")(Iceberg.write(s.frame(tail.take(1)), path, mode = SaveMode.Append))(
      _ ++ tail.take(1))
    s.step("append")(Iceberg.write(s.frame(tail.drop(1)), path, mode = SaveMode.Append))(
      _ ++ tail.drop(1))
    s.step("rewriteManifests")(Iceberg.rewriteManifests(spark, path))(identity)
    s.step("expireSnapshots")(Iceberg.expireSnapshots(spark, path, keepLast = 2))(identity)
    s.added.toSeq
  }

  // the metadata files each step writes: its manifests (new, and
  // rewritten ones), the manifest list and the metadata version
  private val common = Seq("append" -> 3, "mergeSchema append" -> 3,
    "overwrite with a new spec" -> 3, "branch write" -> 3, "fastForward" -> 1,
    "copy-on-write delete" -> 4, "copy-on-write update" -> 4)
  private val tail = Seq("append small files" -> 3, "compact" -> 8, "append" -> 3,
    "append" -> 3, "rewriteManifests" -> 3, "expireSnapshots" -> 1)

  test("v2: every snapshot producer keeps the table checkable and readable") {
    assert(script("snapshot_v2", v3 = false) == Seq("create" -> 4) ++ common ++
      Seq("upsert with fresh rows" -> 4, "replacePartitions" -> 5, "position delete" -> 3,
        "rewriteDeletes" -> 4) ++ tail)
  }

  test("v3: every snapshot producer keeps the table checkable and readable") {
    // v3 upserts stage their fresh rows in a manifest of their own
    assert(script("snapshot_v3", v3 = true) == Seq("create" -> 4, "upgradeToV3" -> 1) ++
      common ++ Seq("upsert with fresh rows" -> 5, "replacePartitions" -> 5, "DV delete" -> 3,
        "DV delete, replacing a vector" -> 4, "rewriteDeletes" -> 5) ++ tail)
  }

  test("conversion: deltaToIceberg, resyncIceberg and syncIceberg publish checkable snapshots") {
    val s = new Script(freshDir("snapshot_convert"))
    val first = (0L to 5L).map(r(_))
    DeltaLake.write(s.frame(first), s.path, partitionBy = Seq("p"))
    s.step("deltaToIceberg")(Convert.deltaToIceberg(spark, s.path))(_ => first)
    val more = (6L to 8L).map(r(_))
    DeltaLake.write(s.frame(more), s.path, mode = SaveMode.Append)
    s.step("resyncIceberg")(Convert.resyncIceberg(spark, s.path))(_ ++ more)
    val synced = (9L to 10L).map(r(_))
    DeltaLake.write(s.frame(synced), s.path, mode = SaveMode.Append)
    s.step("syncIceberg append")(Convert.syncIceberg(spark, s.path))(_ ++ synced)
    val replaced = (20L to 22L).map(r(_))
    DeltaLake.write(s.frame(replaced), s.path, partitionBy = Seq("p"))
    s.step("syncIceberg overwrite")(Convert.syncIceberg(spark, s.path))(_ => replaced)
    // a resync republishes the whole layer as the next metadata
    // version: a manifest, a manifest list and the metadata version
    assert(s.added == Seq("deltaToIceberg" -> 4, "resyncIceberg" -> 3,
      "syncIceberg append" -> 3, "syncIceberg overwrite" -> 5))
  }

  test("a crash at resyncIceberg's publish leaves the stale layer readable") {
    import spark.implicits._
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val path = HookFs.freshDir("snapshot_resync_crash")
    DeltaLake.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    Convert.deltaToIceberg(spark, path)
    DeltaLake.write(Seq((3L, "c")).toDF("k", "v"), path, mode = SaveMode.Append)
    HookFs.crashAtCommit()
    try intercept[Exception](Convert.resyncIceberg(spark, path)) finally HookFs.disarm()
    assert(Iceberg.read(spark, path).select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "the crashed resync must leave the pre-resync snapshot readable")
    Convert.resyncIceberg(spark, path)
    val bad = IcebergCheck.verify(path)
    assert(bad.isEmpty, s"after a clean resync: ${bad.mkString("; ")}")
    assert(Iceberg.read(spark, path).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("total-* summaries follow the live data files through append, delete, compact, upsert") {
    val s = new Script(freshDir("snapshot_totals"))
    def totalsHold(step: String): Unit = {
      val sn = IcebergCheck.currentSnapshot(IcebergCheck.metadata(s.path)).get
      val bytes = IcebergCheck.liveData(sn)._3
      assert(sn.get("summary").path("total-files-size").asText == bytes.toString,
        s"after $step total-files-size is ${sn.get("summary").get("total-files-size")}, " +
          s"the live data files hold $bytes bytes")
    }
    s.step("create")(Iceberg.write(s.frame((0L to 5L).map(r(_))), s.path))(
      _ => (0L to 5L).map(r(_)))
    totalsHold("create")
    s.step("append")(Iceberg.write(s.frame((6L to 8L).map(r(_))), s.path,
      mode = SaveMode.Append))(_ ++ (6L to 8L).map(r(_)))
    totalsHold("append")
    s.step("merge-on-read delete")(Iceberg.deleteMergeOnRead(spark, s.path, col("k") === 1))(
      _.filterNot(_.k == 1))
    totalsHold("merge-on-read delete")
    s.step("compact")(Iceberg.compact(spark, s.path))(identity)
    totalsHold("compact")
    val ups = Seq(r(2, v = "u"), r(60))
    s.step("upsert")(Iceberg.upsertByKey(spark, s.path, s.frame(ups), "k"))(
      rs => rs.filterNot(x => ups.exists(_.k == x.k)) ++ ups)
    totalsHold("upsert")
    s.step("append")(Iceberg.write(s.frame(Seq(r(70))), s.path, mode = SaveMode.Append))(
      _ :+ r(70))
    totalsHold("final append")
  }

  test("expireSnapshots publishes before it deletes: a crash or a lost race keeps history readable") {
    import spark.implicits._
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val path = HookFs.freshDir("snapshot_expire")
    Iceberg.write(Seq((0L, "a")).toDF("k", "v"), path)
    (1L to 3L).foreach(k => Iceberg.write(Seq((k, "a")).toDF("k", "v"), path,
      mode = SaveMode.Append))
    def everySnapshotReads(after: String): Unit = {
      val bad = IcebergCheck.verify(path)
      assert(bad.isEmpty, s"after $after: ${bad.mkString("; ")}")
      Iceberg.snapshots(path).foreach { case (id, _) =>
        Iceberg.read(spark, path, snapshotId = Some(id)).count()
      }
    }
    HookFs.crashAtCommit()
    try intercept[Exception](Iceberg.expireSnapshots(spark, path, keepLast = 1))
    finally HookFs.disarm()
    assert(Iceberg.snapshots(path).size == 4, "the crashed expiry must not publish")
    everySnapshotReads("a crash at the publish")
    HookFs.beforeCommit(Iceberg.write(Seq((9L, "r")).toDF("k", "v"), path,
      mode = SaveMode.Append))
    try intercept[Exception](Iceberg.expireSnapshots(spark, path, keepLast = 1))
    finally HookFs.disarm()
    assert(Iceberg.snapshots(path).size == 5, "the rival append wins; the expiry refuses")
    everySnapshotReads("a lost race at the publish")
    Iceberg.expireSnapshots(spark, path, keepLast = 1)
    assert(Iceberg.snapshots(path).size == 1)
    everySnapshotReads("a clean expiry")
    assert(Iceberg.read(spark, path).count() == 5L)
  }

  test("one snapshot producer builds list records, names manifest lists and logs snapshots") {
    val root = Paths.get("src/main/scala")
    val markers = Seq("""new GenericData\.Record\(manifestFileSchema\)""",
      """-manifest-list\.avro""", """withArray.*\("snapshot-log"\)""")
    val hits: Seq[(String, String, Int)] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        for (m <- markers; i <- lines.indices if m.r.findFirstIn(lines(i)).nonEmpty)
          yield (m, root.relativize(p).toString, i)
      }
    val ice = Files.readAllLines(root.resolve("graft/interop/Iceberg.scala")).asScala.toIndexedSeq
    val start = ice.indexWhere(_.contains("final class SnapshotProducer"))
    val end = ice.indexWhere(_ == "  }", ice.indexWhere(_.contains("object SnapshotProducer")))
    assert(start >= 0 && end > start, "Iceberg.scala defines no SnapshotProducer")
    val outside = hits.filterNot { case (_, file, i) =>
      file == "graft/interop/Iceberg.scala" && i > start && i < end
    }
    assert(outside.isEmpty, s"snapshot building outside the producer: $outside")
    markers.foreach(m => assert(hits.count(_._1 == m) == 1, s"$m appears ${hits.count(_._1 == m)} times"))
  }
}

object IcebergSnapshotSpec {
  final case class R(k: Long, v: String, p: Int, w: String)
}
