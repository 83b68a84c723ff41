package graft.interop

import graft.SparkFixture
import graft.ingest.{Versioned, Writers}
import java.nio.file.Paths
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

/** The merge-on-read delete core ([[MergeOnRead]]) run as ONE script —
  * a predicate delete (rows whose predicate is NULL kept), a keyed
  * delete (one key matching two rows, one matching none), a second
  * delete over files that already carry a vector, and a delete that
  * matches nothing — over every table shape of the three formats.
  * After each step the table must read as an in-memory model, the
  * (file, position) pairs the format recorded on disk must be exactly
  * the rows deleted so far, no data file may be rewritten, and Delta
  * must keep each file's `baseRowId`. */
class MergeOnReadSpec extends AnyFunSuite with SparkFixture {
  import CopyOnWriteSpec.R

  /** The format face the script drives. */
  private trait Fmt {
    def deleteWhere(path: String, p: Column): Long
    def deleteMatched(path: String, keys: DataFrame, key: String): Long
    def read(path: String): DataFrame
    /** Absolute paths of the live data files. */
    def files(path: String): Set[String]
    /** The data files' physical name of the `id` column. */
    def idColumn(path: String): String = "id"
    /** Every deleted (absolute file, position) the table records. */
    def recorded(path: String): Set[(String, Long)]
    def version(path: String): Long
    /** Whether a delete matching nothing still commits. */
    def commitsEmpty: Boolean = false
    /** Per-file state a vector commit must keep (Delta's row ids). */
    def kept(path: String): Map[String, Any] = Map.empty
  }

  private def conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

  private object DeltaFmt extends Fmt {
    def deleteWhere(path: String, p: Column) = DeltaLake.deleteMergeOnRead(spark, path, p)
    def deleteMatched(path: String, keys: DataFrame, key: String) =
      DeltaLake.deleteMatched(spark, path, keys, key)
    def read(path: String) = DeltaLake.read(spark, path)
    private def abs(path: String, rel: String) = new HPath(new HPath(path), rel).toUri.getPath
    def files(path: String) = DeltaLake.snapshot(spark, path).files.map(f => abs(path, f.path)).toSet
    override def idColumn(path: String) = DeltaLake.snapshot(spark, path).physicalName("id")
    def recorded(path: String) = DeltaLake.snapshot(spark, path).files.flatMap { f =>
      f.dv.toSeq.flatMap { d =>
        val src = d.storageType match {
          case "i" => DvSources.Inline(DeltaDv.z85Decode(d.pathOrInlineDv), d.cardinality)
          case _ => DvSources.DeltaBlob(d.pathOrInlineDv, d.offset.getOrElse(1),
            d.sizeInBytes, d.cardinality, conf)
        }
        src.positions().map(abs(path, f.path) -> _)
      }
    }.toSet
    def version(path: String) = DeltaLake.snapshot(spark, path).version
    override def kept(path: String) =
      DeltaLake.snapshot(spark, path).files.map(f => f.path -> f.baseRowId).toMap
  }

  private object IcebergFmt extends Fmt {
    def deleteWhere(path: String, p: Column) = Iceberg.deleteMergeOnRead(spark, path, p)
    def deleteMatched(path: String, keys: DataFrame, key: String) =
      Iceberg.deleteMatched(spark, path, keys, key)
    def read(path: String) = Iceberg.read(spark, path)
    private def abs(raw: String) = new HPath(raw).toUri.getPath
    def files(path: String) = Iceberg.snapshot(spark, path).files.map(f => abs(f.path)).toSet
    def recorded(path: String) = {
      val s = Iceberg.snapshot(spark, path)
      val v2 = s.deletes.flatMap { d =>
        spark.read.parquet(new HPath(d.path).toString).collect()
          .map(r => abs(r.getString(0)) -> r.getLong(1))
      }
      val v3 = s.dvDeletes.flatMap { d =>
        DvSources.PuffinBlob(new HPath(d.path).toString, d.contentOffset, d.contentSize, conf)
          .positions().map(abs(d.referencedDataFile) -> _)
      }
      (v2 ++ v3).toSet
    }
    def version(path: String) = Iceberg.snapshot(spark, path).snapshotId
  }

  private object VersionedFmt extends Fmt {
    def deleteWhere(path: String, p: Column) = Versioned.deleteWhere(spark, path, p)
    def deleteMatched(path: String, keys: DataFrame, key: String) =
      Versioned.deleteMergeOnRead(spark, path, keys, key)
    def read(path: String) = Versioned.read(spark, path)
    private def abs(path: String, rel: String) = new HPath(new HPath(path), rel).toUri.getPath
    private def entries(path: String) =
      Versioned.manifest(path, Versioned.currentVersion(path).get)
    def files(path: String) =
      entries(path).filter(_.kind == Versioned.KindData).map(e => abs(path, e.relPath)).toSet
    def recorded(path: String) = {
      val dvs = entries(path).filter(_.kind == Versioned.KindDv)
      if (dvs.isEmpty) Set.empty
      else spark.read.schema("rel_path STRING, pos BIGINT, len BIGINT")
        .parquet(dvs.map(e => new HPath(new HPath(path), e.relPath).toString): _*).collect()
        .flatMap(r => (r.getLong(1) until r.getLong(1) + r.getLong(2))
          .map(abs(path, r.getString(0)) -> _)).toSet
    }
    def version(path: String) = Versioned.currentVersion(path).get
    override val commitsEmpty = true
  }

  private final class Variant(val name: String, val fmt: Fmt,
      val create: (String, Seq[Seq[R]]) => Unit, val debt: String => Set[Long] = _ => Set.empty,
      val pruned: Boolean = false)

  /** Rows 1..30 in three batches (one write each, so several files).
    * `v` is NULL on every 7th row; rows 2 and 3 share k=3 (the
    * multi-match key); every 3rd row sits in the `p` partition whose
    * value carries a space and a `%`. */
  private val batches: Seq[Seq[R]] = (1L to 30L).map { id =>
    R(id, if (id == 2L) 3L else id, if (id % 3 == 0) "a b%c" else "x",
      Option.when(id % 7 != 0)(id * 10))
  }.grouped(10).toSeq

  private def frame(rows: Seq[R]): DataFrame = {
    import spark.implicits._
    rows.toDF().coalesce(1)
  }

  private def deltaTable(partitionBy: Seq[String] = Nil, columnMapping: Option[String] = None)(
      path: String, bs: Seq[Seq[R]]): Unit =
    bs.zipWithIndex.foreach { case (b, i) =>
      DeltaLake.write(frame(b), path, partitionBy = partitionBy,
        mode = if (i == 0) SaveMode.Overwrite else SaveMode.Append, columnMapping = columnMapping)
    }

  private def icebergTable(path: String, bs: Seq[Seq[R]]): Unit =
    bs.zipWithIndex.foreach { case (b, i) =>
      Iceberg.write(frame(b), path, mode = if (i == 0) SaveMode.Overwrite else SaveMode.Append)
    }

  private val variants = Seq(
    new Variant("delta plain", DeltaFmt, deltaTable()),
    new Variant("delta CDF", DeltaFmt, (p, bs) => {
      deltaTable()(p, bs); DeltaLake.enableChangeDataFeed(spark, p)
    }),
    new Variant("delta row-tracked", DeltaFmt, (p, bs) => {
      deltaTable()(p, bs); DeltaLake.enableRowTracking(spark, p)
    }),
    new Variant("delta name-mapped", DeltaFmt, deltaTable(columnMapping = Some("name"))),
    new Variant("delta partitioned on 'a b%c'", DeltaFmt, deltaTable(partitionBy = Seq("p"))),
    new Variant("iceberg v2", IcebergFmt, icebergTable),
    new Variant("iceberg v2 with equality-delete debt", IcebergFmt, icebergTable, debt = p => {
      import spark.implicits._
      Iceberg.deleteEquality(spark, p, Seq(6L).toDF("k")); Set(6L)
    }),
    new Variant("iceberg v3", IcebergFmt, (p, bs) => {
      icebergTable(p, bs.take(1)); Iceberg.upgradeToV3(spark, p)
      bs.drop(1).foreach(b => Iceberg.write(frame(b), p, mode = SaveMode.Append))
    }),
    new Variant("versioned plain", VersionedFmt, (p, bs) => {
      Versioned.commit(frame(bs.head), p)
      bs.tail.foreach(b => Versioned.appendCommit(frame(b), p))
    }),
    new Variant("versioned partitioned on 'a b%c'", VersionedFmt,
      (p, bs) => { Versioned.commitPartitioned(frame(bs.flatten), p, "p"); () }),
    // three files clustered on k with per-file bounds: the keyed step's
    // narrow key range scans only the first
    new Variant("versioned stats-pruned keyed", VersionedFmt,
      (p, bs) => { Versioned.commitClustered(frame(bs.flatten), p, "k", nFiles = 3); () },
      pruned = true))

  /** One delete: the call and the rows it removes. */
  private final class Step(val name: String, val run: (Fmt, String) => Long,
      val matches: R => Boolean)

  private val script = Seq(
    new Step("delete v > 250 (NULL v kept)",
      (f, p) => f.deleteWhere(p, col("v") > 250L), _.v.exists(_ > 250L)),
    new Step("keyed delete of k in (0, 3)", (f, p) => {
      import spark.implicits._
      f.deleteMatched(p, Seq(0L, 3L, 3L).toDF("k"), "k")
    }, _.k == 3L),
    // row 21 shares a file with step 1's rows, row 4 with step 2's
    new Step("second delete over existing vectors",
      (f, p) => f.deleteWhere(p, col("k") % 10L === 1L || col("k") === 4L),
      r => r.k % 10 == 1 || r.k == 4L),
    new Step("delete matching nothing",
      (f, p) => f.deleteWhere(p, col("k") === 12345L), _ => false))

  private def rowsOf(df: DataFrame): Seq[R] = {
    import spark.implicits._
    df.select("id", "k", "p", "v").as[R].collect().toSeq.sortBy(_.id)
  }

  /** id → (absolute file, row position), read straight from the data
    * files' bytes (deleted rows included). */
  private def placeOf(fmt: Fmt, path: String): Map[Long, (String, Long)] = {
    val idc = fmt.idColumn(path)
    spark.read.schema(StructType(Seq(StructField(idc, LongType))))
      .parquet(fmt.files(path).toSeq: _*)
      .select(col(idc), col("_metadata.file_path"), col("_metadata.row_index")).collect()
      .map(r => r.getLong(0) -> (new java.net.URI(r.getString(1)).getPath -> r.getLong(2)))
      .toMap
  }

  variants.foreach { variant =>
    test(s"merge-on-read delete script: ${variant.name}") {
      val safe = variant.name.replaceAll("[^A-Za-z0-9]+", "_")
      val path = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", s"mor_$safe")
      Writers.deleteTree(path)
      val p = path.toString
      val fmt = variant.fmt
      variant.create(p, batches)
      val all = batches.flatten
      var model = all.map(r => r.id -> r).toMap -- variant.debt(p)
      assert(rowsOf(fmt.read(p)) == model.values.toSeq.sortBy(_.id), "setup")
      val dataFiles = fmt.files(p)
      val placed = placeOf(fmt, p)
      val kept = fmt.kept(p)
      val removable = all.map(_.id).toSet -- variant.debt(p)
      script.foreach { step =>
        val v0 = fmt.version(p)
        val hit = model.values.filter(step.matches).map(_.id).toSet
        val got = step.run(fmt, p)
        model = model -- hit
        assert(rowsOf(fmt.read(p)) == model.values.toSeq.sortBy(_.id), step.name)
        assert(fmt.files(p) == dataFiles, s"${step.name}: no data file may be rewritten")
        val deleted = removable -- model.keySet
        assert(fmt.recorded(p) == deleted.map(placed), s"${step.name}: recorded positions")
        val committed = hit.nonEmpty || fmt.commitsEmpty
        assert((fmt.version(p) != v0) == committed, s"${step.name}: a commit exactly when " +
          (if (fmt.commitsEmpty) "called" else "rows match"))
        assert(got == fmt.version(p), s"${step.name}: returns the table's version")
        assert(fmt.kept(p) == kept, s"${step.name}: per-file row ids must survive")
        if (variant.pruned && step.name.startsWith("keyed")) {
          val (scanned, total) = Versioned.lastDvDiscovery(p).get
          assert(total == 3 && scanned == 1, s"keyed discovery scanned $scanned of $total files")
        }
        if (committed && variant.name == "delta CDF") {
          import spark.implicits._
          val images = DeltaLake.changeFeed(spark, p, got, Some(got))
            .select("_change_type", "id").as[(String, Long)].collect().toSet
          assert(images == hit.map("delete" -> _), s"${step.name}: change-feed images")
        }
      }
    }
  }
}
