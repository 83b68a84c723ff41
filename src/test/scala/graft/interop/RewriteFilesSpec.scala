package graft.interop

import graft.SparkFixture
import graft.ingest.{Versioned, Writers}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The file-set replacement core ([[RewriteFiles]]) run as one tiny
  * script per table shape: dynamic partition overwrite on all three
  * formats (replace one partition and add one, an empty source, a NULL
  * partition value, a timestamp partition) and small-file compaction on
  * Delta and Iceberg (small files in two partitions, deletion-vector
  * and position-delete debt, a scoped call, a partition value holding
  * '%'). After each step the table must read as an in-memory model,
  * the removed file set must be exactly what the selection rule
  * predicts, every other file must stay live by identity, and the verb
  * must return the table's version. */
class RewriteFilesSpec extends AnyFunSuite with SparkFixture {
  import CopyOnWriteSpec.R

  /** The format face the scripts drive. */
  private trait Fmt {
    def replace(path: String, df: DataFrame): Long
    def read(path: String): DataFrame
    /** Live data files: absolute path → partition value of `p`. */
    def files(path: String): Map[String, String]
    def version(path: String): Long
  }

  /** A format that also compacts. */
  private trait Compacting extends Fmt {
    def compact(path: String, filter: Map[String, String]): Long
    /** Live data files carrying delete debt a compaction folds. */
    def debt(path: String): Set[String]
    /** Data file sizes in bytes. */
    def sizes(path: String): Map[String, Long]
  }

  private def abs(root: String, rel: String) = new HPath(new HPath(root), rel).toUri.getPath

  private object DeltaFmt extends Compacting {
    def replace(path: String, df: DataFrame) = DeltaLake.replacePartitions(spark, path, df)
    def read(path: String) = DeltaLake.read(spark, path)
    def files(path: String) = {
      val s = DeltaLake.snapshot(spark, path)
      s.files.map(f => abs(path, f.path) ->
        f.partitionValues(s.physicalName("p")).orNull).toMap
    }
    def version(path: String) = DeltaLake.snapshot(spark, path).version
    def compact(path: String, filter: Map[String, String]) =
      DeltaLake.compact(spark, path, targetBytes = 1L << 30, partitionFilter = filter)
    def debt(path: String) =
      DeltaLake.snapshot(spark, path).files.filter(_.dv.nonEmpty).map(f => abs(path, f.path)).toSet
    def sizes(path: String) =
      DeltaLake.snapshot(spark, path).files.map(f => abs(path, f.path) -> f.size).toMap
  }

  private object IcebergFmt extends Compacting {
    def replace(path: String, df: DataFrame) = Iceberg.replacePartitions(spark, path, df)
    def read(path: String) = Iceberg.read(spark, path)
    private def absOf(raw: String) = new HPath(raw).toUri.getPath
    def files(path: String) = Iceberg.snapshot(spark, path).files
      .map(f => absOf(f.path) -> f.partitionValues("p").orNull).toMap
    def version(path: String) = Iceberg.snapshot(spark, path).snapshotId
    def compact(path: String, filter: Map[String, String]) =
      Iceberg.compact(spark, path, targetBytes = 1L << 30, partitionFilter = filter)
    def debt(path: String) = Iceberg.snapshot(spark, path).deletes.flatMap { d =>
      spark.read.parquet(new HPath(d.path).toString).select("file_path").collect()
        .map(r => absOf(r.getString(0)))
    }.toSet
    def sizes(path: String) = Iceberg.snapshot(spark, path).files
      .map(f => absOf(f.path) -> f.sizeInBytes).toMap
  }

  private object VersionedFmt extends Fmt {
    def replace(path: String, df: DataFrame) = Versioned.replacePartitions(spark, path, df)
    def read(path: String) = Versioned.read(spark, path)
    def files(path: String) = Versioned.manifest(path, version(path))
      .filter(_.kind == Versioned.KindData)
      .map(e => abs(path, e.relPath) ->
        ExternalCatalogUtils.unescapePathName(e.partDir.stripPrefix("p="))).toMap
    def version(path: String) = Versioned.currentVersion(path).get
  }

  private def frame(rows: Seq[R]): DataFrame = {
    import spark.implicits._
    rows.toDF().coalesce(1)
  }

  private def rowsOf(df: DataFrame): Seq[R] = {
    import spark.implicits._
    df.select("id", "k", "p", "v").as[R].collect().toSeq.sortBy(_.id)
  }

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test",
      "rf_" + name.replaceAll("[^A-Za-z0-9]+", "_"))
    Writers.deleteTree(p)
    p.toString
  }

  /** Three writes of one file per partition each: partition "x" ends
    * with three files, `hot` with two, "z" and "u" with one. */
  private def batches(hot: String): Seq[Seq[R]] =
    Seq(Seq("x", hot, "z", "u"), Seq("x", hot), Seq("x")).zipWithIndex.map { case (ps, b) =>
      ps.zipWithIndex.flatMap { case (p, i) =>
        val id = 10L * b + 2 * i + 1
        Seq(R(id, id, p, Some(id * 10)), R(id + 1, id + 1, p, None))
      }
    }

  private def deltaTable(columnMapping: Option[String] = None)(path: String,
      bs: Seq[Seq[R]]): Unit =
    bs.zipWithIndex.foreach { case (b, i) =>
      DeltaLake.write(frame(b), path, partitionBy = Seq("p"),
        mode = if (i == 0) SaveMode.Overwrite else SaveMode.Append, columnMapping = columnMapping)
    }

  private def icebergTable(path: String, bs: Seq[Seq[R]]): Unit =
    bs.zipWithIndex.foreach { case (b, i) =>
      Iceberg.write(frame(b), path, partitionBy = Seq("p"),
        mode = if (i == 0) SaveMode.Overwrite else SaveMode.Append)
    }

  private def versionedTable(path: String, bs: Seq[Seq[R]]): Unit = {
    Versioned.commitPartitioned(frame(bs.head), path, "p")
    bs.tail.foreach(b => Versioned.appendCommitPartitioned(frame(b), path))
  }

  private final class Shape(val name: String, val fmt: Fmt,
      val create: (String, Seq[Seq[R]]) => Unit, val hot: String = "y")

  private val replaceShapes = Seq(
    new Shape("delta plain", DeltaFmt, deltaTable()),
    new Shape("delta CDF", DeltaFmt, (p, bs) => {
      deltaTable()(p, bs); DeltaLake.enableChangeDataFeed(spark, p)
    }),
    new Shape("delta row-tracked", DeltaFmt, (p, bs) => {
      deltaTable()(p, bs); DeltaLake.enableRowTracking(spark, p)
    }),
    new Shape("delta name-mapped", DeltaFmt, deltaTable(columnMapping = Some("name"))),
    new Shape("delta partitioned on 'a%b'", DeltaFmt, deltaTable(), hot = "a%b"),
    new Shape("iceberg v2", IcebergFmt, icebergTable),
    new Shape("iceberg v3 partitioned on 'a%b'", IcebergFmt, (p, bs) => {
      icebergTable(p, bs.take(1)); Iceberg.upgradeToV3(spark, p)
      bs.drop(1).foreach(b => Iceberg.write(frame(b), p, mode = SaveMode.Append))
    }, hot = "a%b"),
    new Shape("versioned plain", VersionedFmt, versionedTable),
    new Shape("versioned partitioned on 'a%b'", VersionedFmt, versionedTable, hot = "a%b"))

  replaceShapes.foreach { shape =>
    test(s"dynamic partition overwrite script: ${shape.name}") {
      val path = freshDir("rp_" + shape.name)
      val fmt = shape.fmt
      val bs = batches(shape.hot)
      shape.create(path, bs)
      var model = bs.flatten
      assert(rowsOf(fmt.read(path)) == model, "setup")
      val ids0 = if (shape.name.contains("row-tracked")) rowIds(path) else Map.empty[Long, Long]

      // replace the hot partition and add the new partition "n"
      val repl = Seq(R(100L, 100L, shape.hot, Some(1L)), R(101L, 101L, shape.hot, None),
        R(102L, 102L, "n", Some(2L)))
      val touched = Set(shape.hot, "n")
      val pre = fmt.files(path)
      val v0 = fmt.version(path)
      val got = fmt.replace(path, frame(repl))
      val replaced = model.filter(r => touched(r.p))
      model = model.filterNot(r => touched(r.p)) ++ repl
      assert(rowsOf(fmt.read(path)) == model.sortBy(_.id), "replace: rows")
      val post = fmt.files(path)
      assert(pre.keySet -- post.keySet == pre.filter(f => touched(f._2)).keySet,
        "replace: removed exactly the touched partitions' files")
      assert(post.keySet -- pre.keySet == post.filter(f => touched(f._2)).keySet,
        "replace: every added file lies in a touched partition")
      assert(got == fmt.version(path) && got != v0, "replace: returns the new version")
      if (shape.name.contains("CDF")) {
        import spark.implicits._
        val images = DeltaLake.changeFeed(spark, path, got, Some(got))
          .select("_change_type", "id").as[(String, Long)].collect().toSet
        assert(images == replaced.map("delete" -> _.id).toSet ++ repl.map("insert" -> _.id),
          "replace: change-feed images")
      }
      if (ids0.nonEmpty) {
        val ids = rowIds(path)
        assert(model.filterNot(r => touched(r.p)).forall(r => ids(r.id) == ids0(r.id)),
          "untouched rows keep their row ids")
        assert(ids.values.toSet.size == ids.size, s"row ids must not collide: $ids")
        assert(repl.forall(r => !ids0.values.toSet.contains(ids(r.id))),
          "replacement rows take fresh row ids")
      }

      // an empty source replaces nothing and commits nothing
      val v1 = fmt.version(path)
      assert(fmt.replace(path, frame(Nil)) == v1, "empty source: returns the version")
      assert(fmt.version(path) == v1 && fmt.files(path) == post, "empty source: no commit")

      // a NULL partition value is refused before anything is staged
      val e = intercept[IllegalArgumentException](
        fmt.replace(path, frame(Seq(R(200L, 200L, null, None)))))
      assert(e.getMessage.contains("NULL"), e.getMessage)
      assert(fmt.version(path) == v1 && rowsOf(fmt.read(path)) == model.sortBy(_.id))
    }
  }

  private def rowIds(path: String): Map[Long, Long] = {
    import spark.implicits._
    DeltaLake.readWithRowTracking(spark, path).select("id", "_row_id").as[(Long, Long)]
      .collect().toMap
  }

  test("dynamic partition overwrite refuses a timestamp partition on all three formats") {
    import spark.implicits._
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("k", "ts")
    val tables = Seq[(String, Fmt, String => Unit)](
      ("delta", DeltaFmt, p => { DeltaLake.write(df, p, partitionBy = Seq("ts")); () }),
      ("iceberg", IcebergFmt, p => { Iceberg.write(df, p, partitionBy = Seq("ts")); () }),
      ("versioned", VersionedFmt, p => { Versioned.commitPartitioned(df, p, "ts"); () }))
    tables.foreach { case (name, fmt, create) =>
      val path = freshDir(s"ts_$name")
      create(path)
      val v0 = fmt.version(path)
      val e = intercept[IllegalArgumentException](fmt.replace(path, fmt.read(path)))
      assert(e.getMessage.contains("canonical string"), s"$name: ${e.getMessage}")
      assert(fmt.version(path) == v0, s"$name: a refusal commits nothing")
    }
  }

  test("SQL dynamic INSERT OVERWRITE matches columns by name when the partition column is not last") {
    import spark.implicits._
    // catalog relations serve partition columns last, so the source
    // arrives as (k, v, p) against tables written as (k, p, v)
    val wh = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "warehouse", "dbrf")
    Writers.deleteTree(wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dbrf")
    val base = Seq((1L, "a", "keep-a"), (2L, "b", "old-b")).toDF("k", "p", "v")
    DeltaLake.write(base, wh.resolve("td").toString, partitionBy = Seq("p"))
    Iceberg.write(base, wh.resolve("ti").toString, partitionBy = Seq("p"))
    Versioned.commitPartitioned(base, wh.resolve("tg").toString, "p")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try Seq("td", "ti", "tg").foreach { t =>
      spark.sql(s"INSERT OVERWRITE graft.dbrf.$t VALUES (20, 'new-b', 'b')")
      spark.sql(s"REFRESH TABLE graft.dbrf.$t")
      val got = spark.table(s"graft.dbrf.$t").select("k", "p", "v")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, "a", "keep-a"), (20L, "b", "new-b")), s"$t: $got")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // a frame missing a table column is still refused
    val e = intercept[IllegalArgumentException](DeltaLake.replacePartitions(spark,
      wh.resolve("td").toString, Seq((3L, "c")).toDF("k", "p")))
    assert(e.getMessage.contains("schema differs"), e.getMessage)
  }

  private final class CompactShape(val name: String, val fmt: Compacting,
      val create: (String, Seq[Seq[R]]) => Unit, val hot: String = "y",
      val filter: Map[String, String] = Map.empty, val debt: Option[R => Boolean] = None)

  private val compactShapes = Seq(
    new CompactShape("delta small files in two partitions", DeltaFmt, deltaTable()),
    new CompactShape("delta with deletion vectors", DeltaFmt, deltaTable(),
      debt = Some(r => r.p == "z" && r.v.isEmpty)),
    new CompactShape("delta scoped to one partition", DeltaFmt, deltaTable(),
      filter = Map("p" -> "x")),
    new CompactShape("delta partitioned on 'a%b'", DeltaFmt, deltaTable(), hot = "a%b"),
    new CompactShape("iceberg v2 with position-delete debt", IcebergFmt, icebergTable,
      debt = Some(r => r.p == "z" && r.v.isEmpty)),
    new CompactShape("iceberg scoped to one partition", IcebergFmt, icebergTable,
      filter = Map("p" -> "y")))

  compactShapes.foreach { shape =>
    test(s"small-file compaction script: ${shape.name}") {
      val path = freshDir("cp_" + shape.name)
      val fmt = shape.fmt
      val bs = batches(shape.hot)
      shape.create(path, bs)
      var model = bs.flatten
      shape.debt.foreach { d =>
        val ids = model.filter(d).map(_.id)
        fmt match {
          case DeltaFmt => DeltaLake.deleteMergeOnRead(spark, path, col("id").isin(ids: _*))
          case _ => Iceberg.deleteMergeOnRead(spark, path, col("id").isin(ids: _*))
        }
        model = model.filterNot(d)
      }
      assert(rowsOf(fmt.read(path)) == model, "setup")

      // the selection rule: in scope, and either under half the target
      // with another such file in its partition, or carrying debt
      val pre = fmt.files(path)
      val sizes = fmt.sizes(path)
      val inScope = pre.filter { case (_, p) => shape.filter.get("p").forall(_ == p) }
      val small = inScope.filter(f => sizes(f._1) < (1L << 29))
      val predicted = small.filter(f => small.count(_._2 == f._2) > 1).keySet ++
        fmt.debt(path).intersect(inScope.keySet)
      assert(predicted.nonEmpty && predicted != pre.keySet, "the shape selects a strict subset")

      val v0 = fmt.version(path)
      val got = fmt.compact(path, shape.filter)
      assert(rowsOf(fmt.read(path)) == model, "compact: rows")
      val post = fmt.files(path)
      assert(pre.keySet -- post.keySet == predicted, "compact: removed the predicted files")
      assert(post.keySet -- pre.keySet == post.filter(f => predicted.map(pre)(f._2)).keySet,
        "compact: every added file lies in a compacted partition")
      assert(got == fmt.version(path) && got != v0, "compact: returns the new version")
      assert(fmt.debt(path).forall(post.contains), "compact: no debt on a removed file")
      if (shape.filter.isEmpty) {
        assert(fmt.debt(path).isEmpty, "a whole-table compaction folds the debt")
        // every partition now holds one file: nothing left to compact
        assert(fmt.compact(path, Map.empty) == got && fmt.version(path) == got,
          "a compaction with nothing to select commits nothing")
      }
    }
  }

  test("src/main holds the output-count formula and the stable partition types once, in RewriteFiles") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    val t = """\s*\|\s*(?:_:\s*)?"""
    Seq(
      "the output-count ceil division" -> """\+\s*targetBytes\s*-\s*1\s*\)\s*/\s*targetBytes""".r,
      "the stable partition-type list" ->
        Seq("StringType", "IntegerType", "LongType", "ShortType", "ByteType", "BooleanType",
          "DateType").mkString(t).r
    ).foreach { case (what, re) =>
      val hits = sources.flatMap { case (f, text) => re.findAllIn(text).map(_ => f) }
      assert(hits == Seq("graft/interop/RewriteFiles.scala"),
        s"$what is written in ${hits.mkString(", ")}")
    }
  }

  test("delta: overwrite and restore remove files whose partition value holds '%'") {
    val path = freshDir("delta_pct_restore")
    DeltaLake.write(frame(Seq(R(1L, 1L, "a%b", None))), path, partitionBy = Seq("p"))
    DeltaLake.write(frame(Seq(R(2L, 2L, "a%b", None))), path, partitionBy = Seq("p"))
    assert(rowsOf(DeltaLake.read(spark, path)).map(_.id) == Seq(2L), "overwrite")
    DeltaLake.restore(spark, path, 0L)
    assert(rowsOf(DeltaLake.read(spark, path)).map(_.id) == Seq(1L), "restore")
    assert(DeltaLake.snapshot(spark, path).files.size == 1)
  }
}
