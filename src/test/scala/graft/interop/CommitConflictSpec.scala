package graft.interop

import graft.SparkFixture
import graft.ingest.{LocalExclusiveLock, LockProvider, Versioned, Writers}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The optimistic-commit conflict table, cell by cell, on all three
  * table formats. Each cell lands a rival commit exactly between our
  * staging and our publish (Delta and Iceberg through [[HookFs]],
  * Versioned through its claim provider), then checks whether our
  * commit rebased or refused and which rows the table reads after. A
  * source scan keeps the loop in one place: only the commit core and
  * the publish primitives construct the conflict. */
class CommitConflictSpec extends AnyFunSuite with SparkFixture {

  /** One format under test: how to create, append to, compact, evolve
    * and read a table, and how to run `ours` with `rival` landing just
    * before our commit publishes. */
  private trait Format {
    def name: String
    def freshDir(cell: String): String
    def create(df: DataFrame, path: String): Unit
    def append(df: DataFrame, path: String): Unit
    def compact(path: String): Unit
    def addColumn(path: String): Unit
    def read(path: String): DataFrame
    def underRival[T](rival: => Unit)(ours: => T): T
  }

  private object DeltaF extends Format {
    def name = "Delta"
    def freshDir(cell: String) = HookFs.freshDir(s"conflict_delta_$cell")
    def create(df: DataFrame, path: String) = DeltaLake.write(df, path): Unit
    def append(df: DataFrame, path: String) =
      DeltaLake.write(df, path, mode = SaveMode.Append): Unit
    def compact(path: String) = DeltaLake.compact(spark, path): Unit
    def addColumn(path: String) = DeltaLake.addColumn(spark, path, "extra", StringType): Unit
    def read(path: String) = DeltaLake.read(spark, path)
    def underRival[T](rival: => Unit)(ours: => T): T = hooked(rival)(ours)
  }

  private object IcebergF extends Format {
    def name = "Iceberg"
    def freshDir(cell: String) = HookFs.freshDir(s"conflict_ice_$cell")
    def create(df: DataFrame, path: String) = Iceberg.write(df, path): Unit
    def append(df: DataFrame, path: String) =
      Iceberg.write(df, path, mode = SaveMode.Append): Unit
    def compact(path: String) = Iceberg.compact(spark, path): Unit
    def addColumn(path: String) = Iceberg.addColumn(spark, path, "extra", StringType): Unit
    def read(path: String) = Iceberg.read(spark, path)
    def underRival[T](rival: => Unit)(ours: => T): T = hooked(rival)(ours)
  }

  private object VersionedF extends Format {
    def name = "Versioned"
    def freshDir(cell: String) = {
      val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_test",
        s"conflict_versioned_$cell")
      Writers.deleteTree(p)
      p.toString
    }
    def create(df: DataFrame, path: String) = Versioned.commit(df, path): Unit
    def append(df: DataFrame, path: String) = Versioned.appendCommit(df, path): Unit
    def compact(path: String) = Versioned.compactFiles(spark, path): Unit
    def addColumn(path: String) = Versioned.addColumn(path, "extra", StringType): Unit
    def read(path: String) = Versioned.read(spark, path)
    def underRival[T](rival: => Unit)(ours: => T): T = {
      // the rival lands at our first version claim, before it is taken
      var pending = true
      var fired = false
      val p = new LockProvider {
        def tryAcquire(fs: FileSystem, dir: HPath) = {
          if (pending) { pending = false; rival; fired = true }
          LocalExclusiveLock.tryAcquire(fs, dir)
        }
        def release(fs: FileSystem, dir: HPath) = LocalExclusiveLock.release(fs, dir)
        def isHeld(fs: FileSystem, dir: HPath) = LocalExclusiveLock.isHeld(fs, dir)
        def heldSinceMs(fs: FileSystem, dir: HPath) = LocalExclusiveLock.heldSinceMs(fs, dir)
      }
      try Versioned.withLockProvider(p)(ours)
      finally assert(fired, "the rival never ran under our commit")
    }
  }

  private def hooked[T](rival: => Unit)(ours: => T): T = {
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    var fired = false
    HookFs.beforeCommit { rival; fired = true }
    try ours
    finally {
      HookFs.disarm()
      assert(fired, "the rival never ran under our commit")
    }
  }

  private val formats = Seq(DeltaF, IcebergF, VersionedF)

  /** A table of two commits (keys 1, 2 then 3), so compaction has work. */
  private def base(f: Format, cell: String): String = {
    import spark.implicits._
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val path = f.freshDir(cell)
    f.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    f.append(Seq((3L, "c")).toDF("k", "v"), path)
    path
  }

  private def keys(f: Format, path: String): Seq[Long] = {
    import spark.implicits._
    f.read(path).select("k").as[Long].collect().toSeq.sorted
  }

  /** Run `ours` under `rival`: Right when it committed, Left with the
    * refusal's message when it lost. */
  private def outcome(f: Format)(rival: => Unit)(ours: => Unit): Either[String, Unit] =
    try Right(f.underRival(rival)(ours))
    catch { case e: java.util.ConcurrentModificationException => Left(e.getMessage) }

  formats.foreach { f =>
    test(s"${f.name}: a rival append under our append rebases; both land") {
      import spark.implicits._
      val path = base(f, "aa")
      val got = outcome(f)(f.append(Seq((10L, "rival")).toDF("k", "v"), path))(
        f.append(Seq((20L, "ours")).toDF("k", "v"), path))
      assert(got.isRight, s"our append must rebase over a rival append: $got")
      assert(keys(f, path) == Seq(1L, 2L, 3L, 10L, 20L))
    }

    test(s"${f.name}: a rival append under our compaction") {
      import spark.implicits._
      val path = base(f, "ac")
      val got = outcome(f)(f.append(Seq((10L, "rival")).toDF("k", "v"), path))(
        f.compact(path))
      if (f eq VersionedF)
        // a Versioned compaction publishes a whole manifest from its
        // base, so any rival commit refuses it
        assert(got.isLeft, s"a Versioned compaction never rebases: $got")
      else
        assert(got.isRight, s"a compaction must rebase over a rival append: $got")
      assert(keys(f, path) == Seq(1L, 2L, 3L, 10L), "no row lost, none duplicated")
    }

    test(s"${f.name}: a rival rewrite of our read set under our compaction refuses") {
      val path = base(f, "cc")
      val got = outcome(f)(f.compact(path))(f.compact(path))
      assert(got.isLeft, s"a compaction whose files a rival rewrote must refuse: $got")
      assert(keys(f, path) == Seq(1L, 2L, 3L))
    }

    test(s"${f.name}: a rival schema change under our append refuses") {
      import spark.implicits._
      val path = base(f, "sa")
      val got = outcome(f)(f.addColumn(path))(
        f.append(Seq((20L, "ours")).toDF("k", "v"), path))
      assert(got.isLeft, s"an append over a rival schema change must refuse: $got")
      assert(keys(f, path) == Seq(1L, 2L, 3L))
      assert(f.read(path).columns.contains("extra"), "the rival's column must survive")
    }
  }

  test("only the commit core and the publish primitives construct the conflict") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val marker = "new java.util.ConcurrentModificationException"
    val hits: Map[String, Seq[Int]] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.filter(i => lines(i).contains(marker))
          .map(i => root.relativize(p).toString -> i)
      }.groupMap(_._1)(_._2)
    assert(hits.keySet == Set("graft/interop/OptimisticCommit.scala",
      "graft/interop/CommitIntrospect.scala", "graft/ingest/Versioned.scala"),
      s"the conflict is constructed outside the core and the publish primitives: $hits")
    assert(hits.values.forall(_.size == 1), s"one construction site per file: $hits")
    // Versioned's one site is its version claim
    val versioned = java.nio.file.Files.readAllLines(
      root.resolve("graft/ingest/Versioned.scala")).asScala.toIndexedSeq
    val claim = versioned.indexWhere(_.contains("private def claimExact("))
    val next = versioned.indexWhere(_.trim.startsWith("/**"), claim)
    assert(claim >= 0 && hits("graft/ingest/Versioned.scala").forall(i => i > claim && i < next),
      "Versioned constructs the conflict outside claimExact")
  }
}
