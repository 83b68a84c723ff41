package graft.ingest

import graft.SparkFixture
import graft.interop.{Convert, DeltaLake, Evolve, Iceberg}
import graft.interop.Evolve._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The shared schema-evolution core ([[Evolve]]) over the three table
  * formats. Every change runs on Versioned, Delta and Iceberg against
  * an in-memory model (a schema plus rows): after each change the
  * served schema and rows match the model, and time travel to the
  * version before the change serves the model before it. Then each
  * universal rule once per format, each format-specific refusal once
  * (the commit count must not move), and three Delta contracts: one
  * table id for the table's lifetime, the writer-protocol gate on
  * every metadata verb, and the case-insensitive rename collision. */
class EvolveSpec extends AnyFunSuite with SparkFixture {

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    p.toString
  }

  // ------------------------------------------------------------ model

  private val baseSchema = StructType(Seq(
    StructField("k", LongType), StructField("a", IntegerType),
    StructField("b", StringType), StructField("c", FloatType)))
  private val baseRows: Seq[Seq[Any]] =
    Seq(Seq(1L, 10, "x", 1.5f), Seq(2L, 20, "y", 2.25f), Seq(3L, null, "z", null))

  private final case class Model(schema: StructType, rows: Seq[Seq[Any]]) {
    def apply(c: Change): Model = c match {
      case Add(n, dt) => Model(StructType(schema.fields :+ StructField(n, dt)), rows.map(_ :+ null))
      case Rename(from, to) => Model(StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)), rows)
      case Drop(n) =>
        val i = schema.fieldIndex(n)
        Model(StructType(schema.fields.patch(i, Nil, 1)), rows.map(_.patch(i, Nil, 1)))
      case Widen(n, to) =>
        val i = schema.fieldIndex(n)
        Model(StructType(schema.fields.updated(i, schema.fields(i).copy(dataType = to))),
          rows.map(r => r.updated(i, (r(i), to) match {
            case (null, _) => null
            case (v: Int, LongType) => v.toLong
            case (v: Float, DoubleType) => v.toDouble
            case (v, _) => v
          })))
      case SetDefault(_, _) | ClearDefault(_) => this
    }
    def frame: DataFrame = spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
  }

  private def assertServes(df: DataFrame, m: Model, clue: String): Unit = withClue(clue) {
    assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      m.schema.fields.map(f => f.name -> f.dataType).toSeq)
    assert(df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq ==
      m.rows.sortBy(_.head.asInstanceOf[Long]))
  }

  /** One format as the model test drives it; `version` is the token
    * time travel reads at (Iceberg: the current snapshot id). */
  private trait Fmt {
    def name: String
    def create(df: DataFrame, path: String): Unit
    def version(path: String): Long
    def read(path: String): DataFrame
    def readAt(path: String, v: Long): DataFrame
    def append(df: DataFrame, path: String): Unit
    def defaults(path: String): Map[String, String]
  }
  private val versioned = new Fmt {
    def name = "graft"
    def create(df: DataFrame, path: String): Unit = Versioned.commit(df, path): Unit
    def version(path: String): Long = Versioned.currentVersion(path).get
    def read(path: String): DataFrame = Versioned.read(spark, path)
    def readAt(path: String, v: Long): DataFrame = Versioned.readAt(spark, path, v)
    def append(df: DataFrame, path: String): Unit = Versioned.appendCommit(df, path): Unit
    def defaults(path: String): Map[String, String] = Versioned.columnDefaults(path)
  }
  private val delta = new Fmt {
    def name = "delta"
    def create(df: DataFrame, path: String): Unit =
      DeltaLake.write(df, path, columnMapping = Some("name")): Unit
    def version(path: String): Long = DeltaLake.snapshot(spark, path).version
    def read(path: String): DataFrame = DeltaLake.read(spark, path)
    def readAt(path: String, v: Long): DataFrame = DeltaLake.read(spark, path, Some(v))
    def append(df: DataFrame, path: String): Unit =
      DeltaLake.write(df, path, mode = SaveMode.Append): Unit
    def defaults(path: String): Map[String, String] = DeltaLake.columnDefaults(spark, path)
  }
  private val iceberg = new Fmt {
    def name = "iceberg"
    def create(df: DataFrame, path: String): Unit = {
      Iceberg.write(df, path); Iceberg.upgradeToV3(spark, path)
    }
    def version(path: String): Long = Iceberg.snapshot(spark, path).snapshotId
    def read(path: String): DataFrame = Iceberg.read(spark, path)
    def readAt(path: String, v: Long): DataFrame = Iceberg.read(spark, path, Some(v))
    def append(df: DataFrame, path: String): Unit =
      Iceberg.write(df, path, mode = SaveMode.Append): Unit
    def defaults(path: String): Map[String, String] = Iceberg.writeDefaults(path)
  }

  private val changes = Seq(Add("d", StringType), Rename("b", "bb"), Widen("a", LongType),
    Widen("c", DoubleType), SetDefault("d", "'dflt'"), ClearDefault("d"), Drop("c"))

  for (f <- Seq(versioned, delta, iceberg))
    test(s"${f.name}: every change matches the model, and time travel serves the model before it") {
      val path = freshDir(s"evolve_model_${f.name}")
      var model = Model(baseSchema, baseRows)
      f.create(model.frame, path)
      assertServes(f.read(path), model, "created")
      // the model each version was committed with: every format's time
      // travel serves the schema its version was written under (an
      // Iceberg column change adds no snapshot, so the snapshot before
      // it keeps the schema of the commit that made it)
      var committed = Map(f.version(path) -> model)
      def record(): Unit =
        if (!committed.contains(f.version(path))) committed += f.version(path) -> model
      for (c <- changes) {
        val vBefore = f.version(path)
        Evolve.alter(spark, f.name, path, c)
        model = model(c)
        record()
        assertServes(f.read(path), model, s"after $c")
        assertServes(f.readAt(path, vBefore), committed(vBefore), s"time travel before $c")
        c match {
          case SetDefault(n, sql) =>
            assert(f.defaults(path) == Map(n -> sql))
            // an append omitting the column fills the default
            val row = Seq[Any](4L, 40L, "w", 4.5d, "dflt")
            val omitting = Model(StructType(model.schema.filterNot(_.name == n)),
              Seq(row.patch(model.schema.fieldIndex(n), Nil, 1)))
            f.append(omitting.frame, path)
            model = model.copy(rows = model.rows :+ row)
            record()
            assertServes(f.read(path), model, "after the defaulted append")
          case ClearDefault(n) => assert(!f.defaults(path).contains(n))
          case _ => ()
        }
      }
    }

  // ---------------------------------------------------- universal rules

  for (f <- Seq(versioned, delta, iceberg))
    test(s"${f.name}: the universal rules refuse before anything is committed") {
      val path = freshDir(s"evolve_rules_${f.name}")
      f.create(Model(baseSchema, baseRows).frame, path)
      Evolve.alter(spark, f.name, path, SetDefault("b", "'q'"))
      val two = freshDir(s"evolve_rules2_${f.name}")
      f.create(Model(baseSchema, baseRows).frame.select("k"), two)
      Evolve.alter(spark, f.name, two, Add("z", LongType))
      Evolve.alter(spark, f.name, two, Drop("k"))
      for ((rule, p, c, says) <- Seq(
        ("missing column", path, Drop("nope"), "no column nope"),
        ("add collides case-insensitively", path, Add("A", LongType), "already exists"),
        ("rename collides case-insensitively", path, Rename("a", "B"), "already exists"),
        ("last column", two, Drop("z"), "last column"),
        ("narrowing", path, Widen("k", IntegerType), "not a widening promotion"),
        ("cross-family widening", path, Widen("b", LongType), "not a widening promotion"),
        ("non-constant default", path, SetDefault("b", "upper(b)"), "not a constant"),
        ("nothing to clear", path, ClearDefault("a"), "no default"))) withClue(rule) {
        val before = metaCommits(f, p)
        val e = intercept[IllegalArgumentException](Evolve.alter(spark, f.name, p, c))
        assert(e.getMessage.contains(says), e.getMessage)
        assert(metaCommits(f, p) == before, "a refusal commits nothing")
      }
      // a case-only rename of the column itself is no collision
      Evolve.alter(spark, f.name, path, Rename("a", "A"))
      assert(f.read(path).columns.toSeq == Seq("k", "A", "b", "c"))
    }

  /** Commits so far, metadata-only ones included. */
  private def metaCommits(f: Fmt, path: String): Long = f.name match {
    case "iceberg" => Files.list(Paths.get(path, "metadata")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".metadata.json")).toLong
    case _ => f.version(path)
  }

  private def refuses(f: Fmt, path: String, says: String)(body: => Any): Unit = {
    val before = metaCommits(f, path)
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(says), e.getMessage)
    assert(metaCommits(f, path) == before, "a refusal commits nothing")
  }

  // ------------------------------------------------ format refusals

  test("graft: legacy keyed deletes, partition columns and the bloom hash domain refuse") {
    import spark.implicits._
    val df = Model(baseSchema, baseRows).frame
    withClue("legacy keyed deletes") {
      val p = freshDir("evolve_v_legacy")
      Versioned.commit(df, p)
      Versioned.deleteMergeOnReadKeys(spark, p, Seq(1L).toDF("k"), "k")
      refuses(versioned, p, "legacy keyed")(Versioned.addColumn(p, "z", LongType))
    }
    withClue("partition column") {
      val p = freshDir("evolve_v_part")
      Versioned.commitPartitioned(df, p, "b")
      refuses(versioned, p, "partition column")(Versioned.renameColumn(p, "b", "b2"))
    }
    withClue("bloom hash domain") {
      val p = freshDir("evolve_v_bloom")
      Versioned.commit(df, p, bloomCols = Seq("a"))
      refuses(versioned, p, "xxhash64")(Versioned.widenColumn(spark, p, "a", LongType))
    }
  }

  test("delta: mapping, partition, clustering, generation, CHECK and generated-default refusals") {
    val df = Model(baseSchema, baseRows).frame
    def mapped(name: String): String = {
      val p = freshDir(s"evolve_d_$name"); delta.create(df, p); p
    }
    withClue("column mapping") {
      val p = freshDir("evolve_d_unmapped")
      DeltaLake.write(df, p)
      refuses(delta, p, "not column-mapped")(DeltaLake.renameColumn(spark, p, "b", "b2"))
      refuses(delta, p, "not column-mapped")(DeltaLake.dropColumn(spark, p, "b"))
    }
    withClue("mapped generated column") {
      val p = mapped("gen_mapped")
      refuses(delta, p, "column-mapped")(
        DeltaLake.addGeneratedColumn(spark, p, "g", LongType, "k * 2"))
    }
    withClue("partition column") {
      val p = freshDir("evolve_d_part")
      DeltaLake.write(df, p, partitionBy = Seq("a"), columnMapping = Some("name"))
      refuses(delta, p, "partition column")(DeltaLake.widenColumnType(spark, p, "a", LongType))
      refuses(delta, p, "partition column")(DeltaLake.dropColumn(spark, p, "a"))
    }
    withClue("clustering column") {
      val p = mapped("cluster")
      DeltaLake.enableClustering(spark, p, Seq("a"))
      refuses(delta, p, "clustering column")(DeltaLake.dropColumn(spark, p, "a"))
    }
    withClue("generation-expression reference") {
      val p = freshDir("evolve_d_genref")
      DeltaLake.write(df, p)
      DeltaLake.addGeneratedColumn(spark, p, "g", LongType, "k * 2")
      DeltaLake.upgradeColumnMapping(spark, p)
      assert(DeltaLake.snapshot(spark, p).rawSchema("g").metadata
        .contains("delta.generationExpression"), "the upgrade keeps declarations")
      refuses(delta, p, "generation expression")(DeltaLake.dropColumn(spark, p, "k"))
      refuses(delta, p, "generated column")(DeltaLake.setColumnDefault(spark, p, "g", "5"))
    }
    withClue("CHECK constraint reference") {
      val p = mapped("check")
      DeltaLake.addCheckConstraint(spark, p, "a_pos", "a >= 0")
      refuses(delta, p, "CHECK constraint")(DeltaLake.dropColumn(spark, p, "a"))
    }
  }

  test("iceberg: v1, name mapping, partition source, sort order, equality deletes and v3 refusals") {
    import spark.implicits._
    val df = Model(baseSchema, baseRows).frame
    withClue("format version 1") {
      val p = freshDir("evolve_i_v1")
      Files.createDirectories(Paths.get(p, "metadata"))
      Files.write(Paths.get(p, "metadata", "v00001.metadata.json"),
        s"""{"format-version": 1, "table-uuid": "v1t", "location": "$p",
           |"last-updated-ms": 1, "last-column-id": 1,
           |"schema": {"type": "struct", "fields": [
           |  {"id": 1, "name": "k", "required": false, "type": "long"}]},
           |"partition-spec": [], "properties": {}}""".stripMargin.getBytes("UTF-8"))
      Files.write(Paths.get(p, "metadata", "version-hint.text"), "1".getBytes("UTF-8"))
      refuses(iceberg, p, "format-version 1")(Iceberg.addColumn(spark, p, "z", LongType))
    }
    withClue("name mapping") {
      val p = freshDir("evolve_i_namemap")
      DeltaLake.write(df, p)
      Convert.deltaToIceberg(spark, p)
      refuses(iceberg, p, "NAME MAPPING")(Iceberg.renameColumn(spark, p, "b", "b2"))
    }
    withClue("partition source") {
      val p = freshDir("evolve_i_part")
      Iceberg.write(df, p, partitionBy = Seq("a"))
      refuses(iceberg, p, "partition source")(Iceberg.widenColumnType(spark, p, "a", LongType))
      refuses(iceberg, p, "partition source")(Iceberg.renameColumn(spark, p, "a", "a2"))
    }
    withClue("sort order and equality-delete debt") {
      val p = freshDir("evolve_i_sort")
      Iceberg.write(df, p)
      Iceberg.setSortOrder(spark, p, Seq("c"))
      refuses(iceberg, p, "sort-order")(Iceberg.dropColumn(spark, p, "c"))
      Iceberg.deleteEquality(spark, p, Seq(Tuple1("x")).toDF("b"))
      refuses(iceberg, p, "equality-delete")(Iceberg.dropColumn(spark, p, "b"))
    }
    withClue("defaults need format version 3") {
      val p = freshDir("evolve_i_v2")
      Iceberg.write(df, p)
      refuses(iceberg, p, "format-version 3")(Iceberg.setWriteDefault(spark, p, "b", Some("q")))
      refuses(iceberg, p, "format-version 3")(
        Iceberg.addColumn(spark, p, "z", LongType, initialDefault = Some("5")))
    }
  }

  // ------------------------------------------------ delta contracts

  /** Every `metaData.id` the log's JSON commits carry, in order. */
  private def logIds(path: String): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.list(Paths.get(path, "_delta_log")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json")).sortBy(_.getFileName.toString)
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.trim.nonEmpty).map(om.readTree))
      .filter(_.has("metaData")).map(_.get("metaData").get("id").asText)
  }

  test("delta: the table id survives every metadata verb and a checkpoint; a clone mints its own") {
    val p = freshDir("evolve_d_id")
    DeltaLake.write(Model(baseSchema, baseRows).frame, p, columnMapping = Some("name"))
    val id0 = logIds(p).head
    DeltaLake.addColumn(spark, p, "d", StringType)
    DeltaLake.renameColumn(spark, p, "b", "bb")
    DeltaLake.dropColumn(spark, p, "c")
    DeltaLake.widenColumnType(spark, p, "a", LongType)
    DeltaLake.setColumnDefault(spark, p, "d", "'q'")
    DeltaLake.setTableProperties(spark, p, Map("owner" -> "ops"))
    assert(logIds(p).size == 7)
    assert(logIds(p).distinct == Seq(id0), "every metaData re-emission keeps the id")
    val cp = DeltaLake.checkpoint(spark, p)
    val cpIds = spark.read.parquet(Paths.get(p, "_delta_log", f"$cp%020d.checkpoint.parquet")
      .toString).where(col("metaData").isNotNull).select("metaData.id").collect().map(_.getString(0))
    assert(cpIds.toSeq == Seq(id0), "the checkpoint folds the same id")
    val q = freshDir("evolve_d_id_clone")
    DeltaLake.shallowClone(spark, p, q)
    assert(logIds(q).size == 1 && logIds(q).head != id0, "a clone is a new table")
  }

  test("delta: every metadata verb refuses a table declaring an unknown writer feature") {
    val df = Model(baseSchema, baseRows).frame
    /** Lands a foreign protocol upgrade declaring `futureWriterMagic`. */
    def forge(p: String, reader: Int, feats: String): Unit = {
      val v = DeltaLake.snapshot(spark, p).version + 1
      Files.write(Paths.get(p, "_delta_log", f"$v%020d.json"),
        (s"""{"protocol":{"minReaderVersion":$reader,"minWriterVersion":7,""" +
          s""""writerFeatures":[$feats,"futureWriterMagic"]}}""" + "\n" +
          """{"commitInfo":{"timestamp":0,"operation":"UPGRADE"}}""" + "\n").getBytes("UTF-8"))
    }
    val plain = freshDir("evolve_d_gate")
    DeltaLake.write(df, plain)
    DeltaLake.addCheckConstraint(spark, plain, "k_pos", "k >= 0")
    forge(plain, 1, "\"appendOnly\",\"invariants\",\"checkConstraints\"")
    val mapped = freshDir("evolve_d_gate_mapped")
    delta.create(df, mapped)
    forge(mapped, 2, "\"appendOnly\",\"invariants\",\"columnMapping\"")
    for ((verb, p, run) <- Seq[(String, String, () => Any)](
      ("addColumn", plain, () => DeltaLake.addColumn(spark, plain, "z", LongType)),
      ("renameColumn", mapped, () => DeltaLake.renameColumn(spark, mapped, "b", "b2")),
      ("addGeneratedColumn", plain,
        () => DeltaLake.addGeneratedColumn(spark, plain, "g", LongType, "k * 2")),
      ("addCheckConstraint", plain,
        () => DeltaLake.addCheckConstraint(spark, plain, "k_small", "k < 100")),
      ("dropCheckConstraint", plain, () => DeltaLake.dropCheckConstraint(spark, plain, "k_pos")),
      ("upgradeColumnMapping", plain, () => DeltaLake.upgradeColumnMapping(spark, plain))))
      withClue(verb)(refuses(delta, p, "futureWriterMagic")(run()))
  }

  test("rename refuses a case-insensitive collision on every format") {
    val df = Model(baseSchema, baseRows).frame
    val v = freshDir("evolve_ci_graft")
    Versioned.commit(df, v)
    refuses(versioned, v, "already exists")(Versioned.renameColumn(v, "a", "B"))
    val d = freshDir("evolve_ci_delta")
    delta.create(df, d)
    refuses(delta, d, "already exists")(DeltaLake.renameColumn(spark, d, "a", "B"))
    val i = freshDir("evolve_ci_iceberg")
    Iceberg.write(df, i)
    refuses(iceberg, i, "already exists")(Iceberg.renameColumn(spark, i, "a", "B"))
  }
}
