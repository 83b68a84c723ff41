package graft.interop

import graft.SparkFixture
import graft.ingest.Writers
import java.nio.file.Paths
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VARIANT SHREDDING gates (r11 verdict next #4, the s65b entry's
  * spec-locked half): the parquet variant-shredding layout's protocol
  * contract on Delta, the mixed-era read identity, and the
  * shredding-disabled reader refusal. */
class VariantShreddingSpec extends AnyFunSuite with SparkFixture {

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    p.toString
  }

  private def variantDf(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo to hi).toDF("id").select(col("id").cast("long").as("event_id"),
      expr("parse_json(to_json(named_struct('k', id, 'name', concat('n', id))))").as("props"))
  }

  /** Spark 4.1 SHREDS BY DEFAULT (writeShredding.enabled and
    * inferShreddingSchema both default true) — the UNSHREDDED side of
    * every mixed-era test is the explicit opt-out, standing in for a
    * legacy or foreign pre-shredding writer. */
  private def shredding[T](on: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.variant.writeShredding.enabled",
      "spark.sql.variant.inferShreddingSchema")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, on.toString))
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private def withShredding[T](body: => T): T = shredding(on = true)(body)

  /** The same two keys scoped to this thread's staged writes only,
    * over whatever the session says. */
  private def scopedShredding[T](on: Boolean)(body: => T): T =
    org.apache.spark.sql.graft.StagedWrite.withWriterConf(
      "spark.sql.variant.writeShredding.enabled" -> on.toString,
      "spark.sql.variant.inferShreddingSchema" -> on.toString)(body)

  /** Parquet footers carry the `typed_value` group iff shredded. */
  private def isShredded(path: String): Boolean = {
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
    try footer.getFileMetaData.getSchema.toString.contains("typed_value")
    finally footer.close()
  }

  /** (variantShredding declared, some data file shredded) for a Delta table. */
  private def deltaShredState(path: String): (Boolean, Boolean) = {
    val snap = DeltaLake.snapshot(spark, path)
    val root = new org.apache.hadoop.fs.Path(path).toUri.getPath
    (snap.protocol.readerFeatures.contains("variantShredding"),
      snap.files.exists(f => isShredded(s"$root/${f.path}")))
  }

  // the staged write's scope and the session disagree: the scope is
  // what the staging clone writes with, so it must also be what the
  // protocol decision reads — the feature is declared exactly when the
  // bytes are shredded
  Seq(true, false).foreach { scopeOn =>
    val label = s"scope ${if (scopeOn) "on" else "off"} over session ${if (scopeOn) "off" else "on"}"
    test(s"Delta: a fresh table declares variantShredding iff its files shred ($label)") {
      val path = freshDir(s"shred_delta_scoped_fresh_$scopeOn")
      shredding(on = !scopeOn) { scopedShredding(scopeOn) { DeltaLake.write(variantDf(1, 20), path) } }
      assert(deltaShredState(path) == ((scopeOn, scopeOn)))
    }
    test(s"Delta: an existing table declares variantShredding iff its files shred ($label)") {
      val path = freshDir(s"shred_delta_scoped_existing_$scopeOn")
      shredding(on = false) { DeltaLake.write(variantDf(1, 20), path) }
      val appended = scala.util.Try(shredding(on = !scopeOn) {
        scopedShredding(scopeOn) { DeltaLake.write(variantDf(21, 40), path, mode = SaveMode.Append) }
      })
      // shredded bytes refuse until the feature ratchets; unshredded ones land
      assert(appended.isSuccess == !scopeOn, appended)
      assert(DeltaLake.read(spark, path).count() == (if (scopeOn) 20L else 40L))
      assert(deltaShredState(path) == ((false, false)))
    }
  }

  test("Delta: shredded writes refuse until the feature ratchets; then mixed eras read identically") {
    val path = freshDir("shred_delta_gate")
    // unshredded creation (explicit opt-out) => variantType only
    shredding(on = false) { DeltaLake.write(variantDf(1, 50), path) }
    // shredded bytes must not land under a protocol that does not
    // require readers to understand them
    val e = intercept[IllegalArgumentException] {
      withShredding { DeltaLake.write(variantDf(51, 100), path, mode = SaveMode.Append) }
    }
    assert(e.getMessage.contains("variantShredding"), e.getMessage)
    val v = DeltaLake.enableVariantShredding(spark, path)
    assert(DeltaLake.enableVariantShredding(spark, path) == v, "idempotent")
    withShredding { DeltaLake.write(variantDf(51, 100), path, mode = SaveMode.Append) }
    import spark.implicits._
    val got = DeltaLake.read(spark, path)
      .select(expr("variant_get(props, '$.k', 'long')").as("k"),
        expr("variant_get(props, '$.name', 'string')").as("n"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.length == 100 && got.head == ((1L, "n1")) && got.last == ((100L, "n100")),
      s"mixed shredded/unshredded eras must read identically: ${got.take(3).toSeq}")
  }

  test("Delta: a fresh table created under the shredding conf ratchets BOTH features") {
    val path = freshDir("shred_delta_fresh")
    withShredding { DeltaLake.write(variantDf(1, 20), path) }
    val p = DeltaLake.snapshot(spark, path).protocol
    assert(p.readerFeatures.contains("variantType") &&
      p.readerFeatures.contains("variantShredding"), p.toString)
    assert(DeltaLake.read(spark, path).count() == 20)
  }

  test("enableVariantShredding refuses on a table without variantType") {
    import spark.implicits._
    val path = freshDir("shred_delta_novariant")
    DeltaLake.write(Seq((1L, "a")).toDF("k", "v"), path)
    val e = intercept[IllegalArgumentException](
      DeltaLake.enableVariantShredding(spark, path))
    assert(e.getMessage.contains("variantType"), e.getMessage)
  }

  test("a shredding-disabled reader refuses shredded files loudly (both formats)") {
    val ip = freshDir("shred_ice_refuse")
    withShredding { Iceberg.write(variantDf(1, 30), ip) }
    // sanity: the shredded table reads under the default session
    assert(Iceberg.read(spark, ip).count() == 30)
    // the variant-into-scan rewrite handles shredded files on its own
    // even when plain shredded reading is disabled; with BOTH off, the
    // unshredded-only reader REFUSES the file loudly — Spark's gate,
    // locked here as the downgrade story (never nulls)
    spark.conf.set("spark.sql.variant.allowReadingShredded", "false")
    spark.conf.set("spark.sql.variant.pushVariantIntoScan", "false")
    try {
      val e = intercept[Exception] {
        Iceberg.read(spark, ip)
          .select(expr("variant_get(props, '$.k', 'long')")).collect()
      }
      assert(e.getMessage.contains("FAILED_READ_FILE") ||
        e.getMessage.toLowerCase.contains("variant"), e.getMessage)
    } finally {
      spark.conf.set("spark.sql.variant.allowReadingShredded", "true")
      spark.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
    }
  }

  test("Iceberg: shredding needs no table feature but stays v3-gated; eras read identically") {
    val path = freshDir("shred_ice_eras")
    shredding(on = false) { Iceberg.write(variantDf(1, 50), path) }
    assert(Iceberg.formatVersion(path) == 3)
    withShredding { Iceberg.write(variantDf(51, 100), path, mode = SaveMode.Append) }
    import spark.implicits._
    val got = Iceberg.read(spark, path)
      .select(expr("variant_get(props, '$.k', 'long')").as("k")).as[Long].collect().sorted
    assert(got.toSeq == (1L to 100L))
  }

  /** s65b's LAYOUT + PUSHDOWN legs, spec-moved r16 (the claim-moved
    * pattern): each era's files genuinely differ on DISK (parquet
    * footers carry the `typed_value` group iff shredded), and a
    * shredded-path predicate plans as a NARROWED struct scan with the
    * filter pushed to parquet — on BOTH formats. */
  test("era footers differ on disk; shredded-path predicates push down (both formats)") {
    def requireEras(fmt: String, eraOf: Map[String, Int]): Unit = {
      assert(eraOf.nonEmpty && eraOf.values.toSet == Set(1, 2),
        s"the $fmt table must hold files of both eras")
      eraOf.foreach { case (f, era) =>
        assert(isShredded(f) == (era == 2),
          s"$fmt era-$era file $f has the wrong layout on disk")
      }
    }
    val dp = freshDir("shred_delta_layout")
    shredding(on = false) { DeltaLake.write(variantDf(1, 50), dp) }
    val dEra1 = DeltaLake.snapshot(spark, dp).files.map(_.path).toSet
    DeltaLake.enableVariantShredding(spark, dp)
    withShredding { DeltaLake.write(variantDf(51, 100), dp, mode = SaveMode.Append) }
    val rootD = new org.apache.hadoop.fs.Path(dp).toUri.getPath
    requireEras("delta", DeltaLake.snapshot(spark, dp).files.map(f =>
      s"$rootD/${f.path}" -> (if (dEra1.contains(f.path)) 1 else 2)).toMap)
    val ip = freshDir("shred_ice_layout")
    shredding(on = false) { Iceberg.write(variantDf(1, 50), ip) }
    val iEra1 = Iceberg.snapshot(spark, ip).files.map(_.path).toSet
    withShredding { Iceberg.write(variantDf(51, 100), ip, mode = SaveMode.Append) }
    requireEras("iceberg", Iceberg.snapshot(spark, ip).files.map(f =>
      f.path -> (if (iEra1.contains(f.path)) 1 else 2)).toMap)
    // pushdown: the scan narrows to the typed_value struct and the
    // parquet filter carries the shredded path
    Seq(DeltaLake.read(spark, dp), Iceberg.read(spark, ip)).foreach { frame =>
      val probe = frame.filter(expr("variant_get(props, '$.k', 'long') = 3"))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("props:struct<") &&
        plan.contains("PushedFilters") && plan.contains("EqualTo(props."),
        s"the shredded-path predicate must plan as a pushed struct scan; got\n$plan")
    }
  }
}
