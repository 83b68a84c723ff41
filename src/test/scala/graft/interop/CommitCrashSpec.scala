package graft.interop

import graft.SparkFixture
import graft.ingest.Writers
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** A writer that dies after writing its commit payload and before
  * publishing it must leave nothing a reader or the next writer can
  * see: the table reads at its old snapshot and the next commit takes
  * the same version. A commit file an older writer left EMPTY is
  * refused at once, naming the file, not waited on. The crash is
  * injected by [[HookFs]] at the commit file's publish. */
class CommitCrashSpec extends AnyFunSuite with SparkFixture {

  private def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select("k").as[Long].collect().toSeq.sorted
  }

  private def crashed(write: => Unit): Unit = {
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    HookFs.crashAtCommit()
    try intercept[Exception](write) finally HookFs.disarm()
  }

  private def local(path: String): java.nio.file.Path =
    Paths.get(new java.net.URI(path).getPath)

  test("Delta: a crash before the commit file is published leaves the table at its old version") {
    import spark.implicits._
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val path = HookFs.freshDir("crash_delta")
    DeltaLake.write(Seq((1L, "a")).toDF("k", "v"), path)
    DeltaLake.write(Seq((2L, "b")).toDF("k", "v"), path, mode = SaveMode.Append)
    crashed(DeltaLake.write(Seq((3L, "c")).toDF("k", "v"), path, mode = SaveMode.Append))
    assert(!Files.exists(local(path).resolve("_delta_log/00000000000000000002.json")),
      "the crashed commit left a visible commit file")
    assert(DeltaLake.snapshot(spark, path).version == 1L)
    assert(keys(DeltaLake.read(spark, path)) == Seq(1L, 2L))
    DeltaLake.write(Seq((4L, "d")).toDF("k", "v"), path, mode = SaveMode.Append)
    assert(DeltaLake.snapshot(spark, path).version == 2L,
      "the next commit must land at the version the crashed one never took")
    assert(keys(DeltaLake.read(spark, path)) == Seq(1L, 2L, 4L))
  }

  test("Iceberg: a crash before the metadata file is published leaves the table at its old snapshot") {
    import spark.implicits._
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val path = HookFs.freshDir("crash_ice")
    Iceberg.write(Seq((1L, "a")).toDF("k", "v"), path)
    Iceberg.write(Seq((2L, "b")).toDF("k", "v"), path, mode = SaveMode.Append)
    val (fs, root) = Writers.fsFor(path)
    assert(Iceberg.metaVersions(fs, root) == Seq(1L, 2L))
    crashed(Iceberg.write(Seq((3L, "c")).toDF("k", "v"), path, mode = SaveMode.Append))
    assert(Iceberg.metaVersions(fs, root) == Seq(1L, 2L),
      "the crashed commit left a visible metadata file")
    assert(Iceberg.snapshots(path).size == 2)
    assert(keys(Iceberg.read(spark, path)) == Seq(1L, 2L))
    Iceberg.write(Seq((4L, "d")).toDF("k", "v"), path, mode = SaveMode.Append)
    assert(Iceberg.metaVersions(fs, root) == Seq(1L, 2L, 3L),
      "the next commit must land at the version the crashed one never took")
    assert(keys(Iceberg.read(spark, path)) == Seq(1L, 2L, 4L))
  }

  private def refusedAtOnce(file: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val e = intercept[Exception](body)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(e.getMessage.contains(file), s"the refusal must name $file: ${e.getMessage}")
    assert(ms < 1500, s"an empty commit file must be refused at once, not waited on ($ms ms)")
  }

  test("an empty commit file left by an older writer is refused at once, by name") {
    import spark.implicits._
    val delta = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "crash_empty_delta")
    Writers.deleteTree(delta)
    DeltaLake.write(Seq((1L, "a")).toDF("k", "v"), delta.toString)
    val dEmpty = "00000000000000000001.json"
    Files.createFile(delta.resolve("_delta_log").resolve(dEmpty))
    refusedAtOnce(dEmpty)(DeltaLake.read(spark, delta.toString).count())
    refusedAtOnce(dEmpty)(
      DeltaLake.write(Seq((2L, "b")).toDF("k", "v"), delta.toString, mode = SaveMode.Append))

    val ice = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "crash_empty_ice")
    Writers.deleteTree(ice)
    Iceberg.write(Seq((1L, "a")).toDF("k", "v"), ice.toString)
    val iEmpty = "v00002.metadata.json"
    Files.createFile(ice.resolve("metadata").resolve(iEmpty))
    refusedAtOnce(iEmpty)(Iceberg.read(spark, ice.toString).count())
  }
}
