package graft.interop

import graft.SparkFixture
import graft.ingest.Writers
import java.nio.file.Paths
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, functions}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The copy-on-write DML core ([[CopyOnWrite]]) run as ONE script —
  * DELETE (rows whose predicate is NULL included), UPDATE with and
  * without a condition, MERGE with matched, unmatched and multi-match
  * keys, and a DELETE that matches nothing — over every table shape it
  * serves. After each step the table must read as an in-memory model,
  * the commit must remove exactly the files that held a matching live
  * row, row lineage must follow the carry/bump/fresh rules, and a
  * change feed must record exactly the step's images. */
class CopyOnWriteSpec extends AnyFunSuite with SparkFixture {
  import CopyOnWriteSpec.R

  /** One DML step: the call, its effect on the model, which live rows
    * it matches (their files are the touched ones), which rows keep
    * their lineage id under a new version, which are fresh, and the
    * change-feed images it records. */
  private final class Step(val name: String, val run: (Fmt, String) => Long,
      val model: Map[Long, R] => Map[Long, R], val matches: R => Boolean,
      val changed: Map[Long, R] => Set[Long], val fresh: Set[Long],
      val images: Map[Long, R] => Seq[(String, R)])

  /** The format face the script drives. */
  private trait Fmt {
    def deleteWhere(path: String, p: Column): Long
    def updateWhere(path: String, set: Map[String, Column], cond: Option[Column]): Long
    def upsertByKey(path: String, updates: DataFrame, key: String): Long
    def read(path: String): DataFrame
    /** Absolute paths of the live data files. */
    def files(path: String): Set[String]
    /** The data files' physical name of the `id` column. */
    def idColumn(path: String): String
    /** (id, row id, lineage version) when the table tracks lineage. */
    def lineage(path: String): Option[DataFrame]
    /** The version the last commit stamped on the rows it changed. */
    def stamp(path: String): Long
    /** The change-feed images of commit `v` when the table records them. */
    def feed(path: String, v: Long): Option[DataFrame]
  }

  private object DeltaFmt extends Fmt {
    def deleteWhere(path: String, p: Column) = DeltaLake.deleteWhere(spark, path, p)
    def updateWhere(path: String, set: Map[String, Column], cond: Option[Column]) =
      DeltaLake.updateWhere(spark, path, set, cond)
    def upsertByKey(path: String, updates: DataFrame, key: String) =
      DeltaLake.upsertByKey(spark, path, updates, key)
    def read(path: String) = DeltaLake.read(spark, path)
    def files(path: String) = DeltaLake.snapshot(spark, path).files
      .map(f => new HPath(new HPath(path), f.path).toUri.getPath).toSet
    def idColumn(path: String) = DeltaLake.snapshot(spark, path).physicalName("id")
    def lineage(path: String) = Option.when(DeltaLake.snapshot(spark, path).rowTrackingEnabled)(
      DeltaLake.readWithRowTracking(spark, path)
        .select(col("id"), col("_row_id"), col("_row_commit_version")))
    def stamp(path: String) = DeltaLake.snapshot(spark, path).version
    def feed(path: String, v: Long) = Option.when(DeltaLake.snapshot(spark, path).cdfEnabled)(
      DeltaLake.changeFeed(spark, path, v, Some(v)))
  }

  private object IcebergFmt extends Fmt {
    def deleteWhere(path: String, p: Column) = Iceberg.deleteWhere(spark, path, p)
    def updateWhere(path: String, set: Map[String, Column], cond: Option[Column]) =
      Iceberg.updateWhere(spark, path, set, cond)
    def upsertByKey(path: String, updates: DataFrame, key: String) =
      Iceberg.upsertByKey(spark, path, updates, key)
    def read(path: String) = Iceberg.read(spark, path)
    def files(path: String) =
      Iceberg.snapshot(spark, path).files.map(f => new HPath(f.path).toUri.getPath).toSet
    def idColumn(path: String) = "id"
    def lineage(path: String) = Option.when(Iceberg.formatVersion(path) == 3)(
      Iceberg.readWithRowLineage(spark, path)
        .select(col("id"), col(Iceberg.RowIdCol), col(Iceberg.LastUpdCol)))
    def stamp(path: String) = Iceberg.snapshot(spark, path).sequenceNumber
    def feed(path: String, v: Long) = None
  }

  private final class Variant(val name: String, val fmt: Fmt,
      val create: (String, Seq[Seq[R]]) => Unit, val debt: String => Set[Long] = _ => Set.empty)

  /** Rows 1..30 in three batches (one write each, so several files).
    * `v` is NULL on every 7th row; keys 18 and 19 share k=200 (the
    * multi-match key); every 3rd row sits in the `p` partition whose
    * value carries a space and a `%`. */
  private val batches: Seq[Seq[R]] = (1L to 30L).map { id =>
    R(id, if (id == 18L || id == 19L) 200L else id, if (id % 3 == 0) "a b%c" else "x",
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
    new Variant("delta with outstanding DVs", DeltaFmt, deltaTable(), debt = p => {
      DeltaLake.deleteMergeOnRead(spark, p, col("k") === 5L); Set(5L)
    }),
    new Variant("delta partitioned on 'a b%c'", DeltaFmt, deltaTable(partitionBy = Seq("p"))),
    new Variant("iceberg v2", IcebergFmt, icebergTable),
    new Variant("iceberg v2 with equality-delete debt", IcebergFmt, icebergTable, debt = p => {
      import spark.implicits._
      Iceberg.deleteEquality(spark, p, Seq(6L).toDF("k")); Set(6L)
    }),
    // the first batch predates the upgrade, so its rows carry NULL lineage
    new Variant("iceberg v3", IcebergFmt, (p, bs) => {
      icebergTable(p, bs.take(1)); Iceberg.upgradeToV3(spark, p)
      bs.drop(1).foreach(b => Iceberg.write(frame(b), p, mode = SaveMode.Append))
    }))

  private val merged = Seq(R(4L, 4L, "x", Some(-4L)), R(18L, 200L, "x", Some(-200L)),
    R(99L, 99L, "x", Some(990L)))
  private val mergeKeys = merged.map(_.k).toSet

  private val script = Seq(
    new Step("delete v > 250 (NULL v kept)",
      (f, p) => f.deleteWhere(p, col("v") > 250L),
      _.filterNot(_._2.v.exists(_ > 250L)), _.v.exists(_ > 250L), _ => Set.empty, Set.empty,
      m => m.values.filter(_.v.exists(_ > 250L)).map("delete" -> _).toSeq),
    // one match per batch: on v3 two of them carry lineage, one not
    new Step("update v = v + 1 where k % 10 = 3",
      (f, p) => f.updateWhere(p, Map("v" -> (col("v") + lit(1)).cast("int")),
        Some(col("k") % 10L === 3L)),
      _.map { case (id, r) => id -> (if (r.k % 10 == 3) r.copy(v = r.v.map(_ + 1)) else r) },
      _.k % 10 == 3, m => m.values.filter(_.k % 10 == 3).map(_.id).toSet, Set.empty,
      m => m.values.filter(_.k % 10 == 3).toSeq.flatMap(r =>
        Seq("update_preimage" -> r, "update_postimage" -> r.copy(v = r.v.map(_ + 1))))),
    new Step("update v = v * 2 (no condition)",
      (f, p) => f.updateWhere(p, Map("v" -> col("v") * 2), None),
      _.map { case (id, r) => id -> r.copy(v = r.v.map(_ * 2)) },
      _ => true, _.keySet, Set.empty,
      m => m.values.toSeq.flatMap(r =>
        Seq("update_preimage" -> r, "update_postimage" -> r.copy(v = r.v.map(_ * 2))))),
    new Step("merge: single match, multi match, insert",
      (f, p) => f.upsertByKey(p, frame(merged), "k"),
      m => m.filterNot(e => mergeKeys.contains(e._2.k)) ++ merged.map(r => r.id -> r),
      r => mergeKeys.contains(r.k), _ => Set(4L), Set(18L, 99L),
      m => m.values.filter(r => mergeKeys.contains(r.k)).map("update_preimage" -> _).toSeq ++
        merged.map(r =>
          (if (m.values.exists(_.k == r.k)) "update_postimage" else "insert") -> r)),
    new Step("delete matching nothing",
      (f, p) => f.deleteWhere(p, col("k") === 12345L),
      identity, _ => false, _ => Set.empty, Set.empty, _ => Nil))

  private def rowsOf(df: DataFrame): Seq[R] = {
    import spark.implicits._
    df.select("id", "k", "p", "v").as[R].collect().toSeq.sortBy(_.id)
  }

  /** id → absolute file, read straight from the live files' bytes
    * (deleted rows included — the model decides which are live). */
  private def fileOf(fmt: Fmt, path: String): Map[Long, Set[String]] = {
    val idc = fmt.idColumn(path)
    spark.read.schema(StructType(Seq(StructField(idc, LongType))))
      .parquet(fmt.files(path).toSeq: _*)
      .select(col(idc), col("_metadata.file_path")).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => new java.net.URI(r.getString(1)).getPath).toSet }
  }

  private def lineageOf(fmt: Fmt, path: String): Map[Long, (Option[Long], Option[Long])] =
    fmt.lineage(path).toSeq.flatMap(_.collect().map(r => r.getLong(0) ->
      (Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap

  private def show(images: Seq[(String, R)]): Seq[String] = images.map(_.toString).sorted

  variants.foreach { variant =>
    test(s"copy-on-write DML script: ${variant.name}") {
      val safe = variant.name.replaceAll("[^A-Za-z0-9]+", "_")
      val path = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", s"cow_$safe")
      Writers.deleteTree(path)
      val p = path.toString
      val fmt = variant.fmt
      variant.create(p, batches)
      var model = batches.flatten.map(r => r.id -> r).toMap -- variant.debt(p)
      assert(rowsOf(fmt.read(p)) == model.values.toSeq.sortBy(_.id), "setup")
      script.foreach { step =>
        val before = fmt.files(p)
        val placed = fileOf(fmt, p)
        val touched = model.values.filter(step.matches).flatMap(r => placed(r.id)).toSet
        val lin0 = lineageOf(fmt, p)
        val stamp0 = fmt.stamp(p)
        val changed = step.changed(model)
        val images = step.images(model)
        step.run(fmt, p)
        model = step.model(model)
        assert(rowsOf(fmt.read(p)) == model.values.toSeq.sortBy(_.id), step.name)
        assert(before -- fmt.files(p) == touched,
          s"${step.name}: removed files must be exactly the files holding a matching row")
        val committed = fmt.stamp(p) != stamp0
        assert(committed == (touched.nonEmpty || step.fresh.nonEmpty),
          s"${step.name}: a commit exactly when rows change")
        val lin = lineageOf(fmt, p)
        if (lin0.nonEmpty) {
          val next = fmt.stamp(p)
          val oldIds = lin0.values.flatMap(_._1).toSet
          model.keys.foreach { id =>
            val got = lin(id)
            if (step.fresh.contains(id))
              assert(got._1.exists(!oldIds.contains(_)) && got._2.contains(next),
                s"${step.name}: row $id must take a fresh id at version $next, got $got")
            else if (changed.contains(id))
              assert(got == (if (lin0(id)._1.isEmpty) (None, None) else (lin0(id)._1, Some(next))),
                s"${step.name}: row $id must keep its id at version $next, was ${lin0(id)}, got $got")
            else assert(got == lin0(id), s"${step.name}: untouched lineage of row $id moved")
          }
        }
        fmt.feed(p, fmt.stamp(p)).filter(_ => committed).foreach { f =>
          import spark.implicits._
          val got = f.select("_change_type", "id", "k", "p", "v")
            .as[(String, Long, Long, String, Option[Long])].collect()
            .map { case (t, id, k, pv, v) => t -> R(id, k, pv, v) }.toSeq
          assert(show(got) == show(images), s"${step.name}: change-feed images")
        }
      }
    }
  }

  test("the lineage stamp binds the commit's version: two commits run the same generated code") {
    def code(next: Long): Seq[String] = {
      val l = CopyOnWrite.Lineage("_row_id", "_version", next)
      val live = spark.range(8).select(
        functions.when(col("id") % 3 =!= 0, col("id")).as("_row_id"), col("id").as("_version"))
      val stamped = live.select(CopyOnWrite.stamped(l, Some(col("_version") > 4)).as("a"),
        CopyOnWrite.stamped(l, None).as("b"))
      assert(stamped.collect().map(r => (r.get(0), r.get(1))).toSeq == (0 until 8).map(i =>
        if (i % 3 == 0) (null, null) else (if (i > 4) next else i.toLong, next)))
      org.apache.spark.sql.execution.debug.codegenStringSeq(stamped.queryExecution.executedPlan).map(_._2)
    }
    val (seven, eight) = (code(7L), code(8L))
    assert(seven.nonEmpty)
    val differ = seven.flatMap(_.linesIterator).zip(eight.flatMap(_.linesIterator)).find(p => p._1 != p._2)
    assert(seven.size == eight.size && differ.isEmpty,
      s"the stamped projection's generated code depends on `next`: $differ")
  }
}

object CopyOnWriteSpec {
  final case class R(id: Long, k: Long, p: String, v: Option[Long])
}
