package graft.interop

import graft.SparkFixture
import graft.ingest.Writers
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, concat, format_string, lit}
import org.scalatest.funsuite.AnyFunSuite

class IcebergSpec extends AnyFunSuite with SparkFixture {

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    p.toString
  }

  test("round trip; metadata.json and the avro manifests are spec-shaped with field ids") {
    import spark.implicits._
    val path = freshDir("ice_rt")
    val snapId = Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    val got = Iceberg.read(spark, path).as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")))
    // metadata.json: v2, schemas carry per-column ids, snapshot listed
    val metaText = new String(Files.readAllBytes(
      Paths.get(path, "metadata", "v00001.metadata.json")), "UTF-8")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(metaText)
    assert(meta.get("format-version").asInt == 2)
    val fields = meta.get("schemas").get(0).get("fields")
    assert(fields.get(0).get("id").asInt == 1 && fields.get(0).get("name").asText == "k")
    assert(meta.get("current-snapshot-id").asLong == snapId)
    assert(meta.get("snapshots").get(0).get("sequence-number").asLong == 1L)
    // the manifest list's avro schema carries the spec field-ids
    val listFile = meta.get("snapshots").get(0).get("manifest-list").asText
    val in = new java.io.FileInputStream(listFile)
    val r = new org.apache.avro.file.DataFileStream[org.apache.avro.generic.GenericRecord](
      in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val avroSchema = r.getSchema
    r.close()
    assert(avroSchema.getField("manifest_path").getObjectProp("field-id") != null ||
      avroSchema.getField("manifest_path").getProp("field-id") == "500")
    // the parquet data files carry parquet field ids (spec requirement)
    val dataFile = Iceberg.snapshot(spark, path).files.head.path
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile),
        spark.sparkContext.hadoopConfiguration))
    val pqSchema = footer.getFileMetaData.getSchema
    footer.close()
    assert(pqSchema.getType(0).getId != null && pqSchema.getType(0).getId.intValue() == 1,
      s"data files must carry parquet field ids, got schema $pqSchema")
  }

  test("partitioned writes prune at planning; append carries prior manifests; time travel works") {
    import spark.implicits._
    val path = freshDir("ice_part")
    val s1 = Iceberg.write(Seq((1L, "x", "F"), (2L, "y", "O")).toDF("k", "v", "status"),
      path, partitionBy = Seq("status"))
    val s2 = Iceberg.write(Seq((3L, "z", "F")).toDF("k", "v", "status"),
      path, mode = SaveMode.Append)
    assert(Iceberg.read(spark, path).count() == 3L)
    assert(Iceberg.snapshots(path).map(_._1) == Seq(s1, s2))
    // partition pruning through the shared FileIndex
    val f = Iceberg.read(spark, path).filter(col("status") === "F")
    assert(f.count() == 2L)
    val (kept, total) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(path).get
    assert(kept < total, s"partition filter must prune Iceberg files at planning ($kept/$total)")
    // time travel to the first snapshot
    assert(Iceberg.read(spark, path, snapshotId = Some(s1)).count() == 2L)
    // overwrite replaces the live set; the old snapshots stay readable
    Iceberg.write(Seq((9L, "w", "P")).toDF("k", "v", "status"),
      path, partitionBy = Seq("status"), mode = SaveMode.Overwrite)
    val after = Iceberg.read(spark, path).as[(Long, String, String)].collect()
    assert(after.toSeq == Seq((9L, "w", "P")))
    assert(Iceberg.read(spark, path, snapshotId = Some(s2)).count() == 3L)
  }

  test("a hand-forged format-version 1 table READS; every mutation refuses") {
    import spark.implicits._
    val path = freshDir("ice_v1")
    // data file, exactly as a v1 writer lays it out — WITH parquet
    // field ids (the spec has required them since v1)
    val v1Schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType,
        nullable = true, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", 1L).build()),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType,
        nullable = true, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", 2L).build())))
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")),
      v1Schema).coalesce(1).write.parquet(s"$path/data")
    val dataFile = java.nio.file.Files.list(Paths.get(path, "data")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    // a V1 manifest: no content / sequence_number fields anywhere
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    val dfr = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema())
    dfr.put("file_path", dataFile)
    dfr.put("file_format", "PARQUET")
    dfr.put("partition", new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema().getField("partition").schema()))
    dfr.put("record_count", 2L)
    dfr.put("file_size_in_bytes", java.nio.file.Files.size(Paths.get(dataFile)))
    val entry = new org.apache.avro.generic.GenericData.Record(entrySchema)
    entry.put("status", 1); entry.put("snapshot_id", 77L); entry.put("data_file", dfr)
    java.nio.file.Files.createDirectories(Paths.get(path, "metadata"))
    val manifestPath = s"$path/metadata/v1-manifest.avro"
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](entrySchema))
    w.create(entrySchema, new java.io.File(manifestPath))
    w.append(entry); w.close()
    // V1 metadata: top-level schema, partition-spec, inline manifests
    val metaJson = s"""{
      |"format-version": 1, "table-uuid": "v1t", "location": "$path",
      |"last-updated-ms": 1, "last-column-id": 2,
      |"schema": {"type": "struct", "fields": [
      |  {"id": 1, "name": "k", "required": false, "type": "long"},
      |  {"id": 2, "name": "v", "required": false, "type": "string"}]},
      |"partition-spec": [],
      |"properties": {},
      |"current-snapshot-id": 77,
      |"snapshots": [{"snapshot-id": 77, "timestamp-ms": 1000,
      |  "manifests": ["$manifestPath"]}]
      |}""".stripMargin
    java.nio.file.Files.write(Paths.get(path, "metadata", "v00001.metadata.json"),
      metaJson.getBytes("UTF-8"))
    java.nio.file.Files.write(Paths.get(path, "metadata", "version-hint.text"),
      "1".getBytes("UTF-8"))
    // READS work: the v1 shapes (top-level schema, inline manifests,
    // absent sequence/content fields) all resolve
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().sortBy(_._1)
      .toSeq == Seq((1L, "a"), (2L, "b")))
    assert(spark.read.format("iceberg").load(path).count() == 2L)
    // no snapshot-log and no summary in this forge — timestamp travel
    // falls back to the snapshots list, history reads "unknown"
    assert(Iceberg.snapshotAsOf(path, 5000L) == 77L)
    assert(Iceberg.files(spark, path).count() == 1L)
    assert(Iceberg.history(spark, path).collect().head.getString(3) == "unknown")
    // every MUTATION refuses loudly — v1 is read-only here
    val eW = intercept[IllegalArgumentException](
      Iceberg.write(Seq((3L, "c")).toDF("k", "v"), path, mode = SaveMode.Append))
    assert(eW.getMessage.contains("format-version 1"))
    val eR = intercept[IllegalArgumentException](
      Iceberg.renameColumn(spark, path, "v", "w"))
    assert(eR.getMessage.contains("format-version 1"))
    val eT = intercept[IllegalArgumentException](
      Iceberg.rollback(spark, path, 77L))
    assert(eT.getMessage.contains("READ-ONLY"))
    intercept[IllegalArgumentException](Iceberg.expireSnapshots(spark, path, 1))
    intercept[IllegalArgumentException](
      Iceberg.removeOrphanFiles(spark, path, Long.MaxValue))
  }

  test("unsupported partition transforms and foreign snapshots fail loudly") {
    import spark.implicits._
    val path = freshDir("ice_gate")
    Iceberg.write(Seq((1L, "a", "F")).toDF("k", "v", "status"),
      path, partitionBy = Seq("status"))
    // a foreign writer's UNKNOWN transform must be refused, not misread
    val mf = Paths.get(path, "metadata", "v00001.metadata.json")
    // drop the local-FS checksum sidecar so the doctored bytes read back
    Files.deleteIfExists(Paths.get(path, "metadata", ".v00001.metadata.json.crc"))
    val doctored = new String(Files.readAllBytes(mf), "UTF-8")
      .replace("\"identity\"", "\"zorder[4]\"")
    Files.write(mf, doctored.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Iceberg.read(spark, path).count())
    assert(e.getMessage.contains("not implemented by this reader"))
    // unknown snapshot id
    Files.write(mf, doctored.replace("\"zorder[4]\"", "\"identity\"").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](
      Iceberg.read(spark, path, snapshotId = Some(42L)).count())
    assert(e2.getMessage.contains("snapshot 42"))
  }

  test("format(\"iceberg\") serves the familiar read/write surface") {
    import spark.implicits._
    val path = freshDir("ice_fmt")
    Seq((1L, "a", "F"), (2L, "b", "O")).toDF("k", "v", "status")
      .write.format("iceberg").partitionBy("status").save(path)
    Seq((3L, "c", "F")).toDF("k", "v", "status")
      .write.format("iceberg").mode("append").save(path)
    assert(spark.read.format("iceberg").load(path).count() == 3L)
    val s1 = Iceberg.snapshots(path).head._1
    assert(spark.read.format("iceberg").option("snapshotId", s1.toString)
      .load(path).count() == 2L)
    val f = spark.read.format("iceberg").load(path).filter(col("status") === "O")
    assert(f.count() == 1L)
    val (kept, total) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(path).get
    assert(kept < total, s"format(iceberg) read must prune partitions ($kept/$total)")
  }

  test("manifest column bounds skip data files on a value predicate") {
    import spark.implicits._
    val path = freshDir("ice_stats")
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k"))
    Iceberg.write(df, path)
    // the bounds really round-trip the spec's single-value serialization
    val snap = Iceberg.snapshot(spark, path)
    assert(snap.files.forall(_.bounds.contains("k")), "every file must carry k bounds")
    val probe = Iceberg.read(spark, path).filter(col("k") === 42L)
    assert(probe.count() == 1L)
    val (kept, total) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(path).get
    assert(total >= 4 && kept < total,
      s"decoded lower/upper bounds must skip whole files ($kept/$total)")
    // string bounds too: UTF-8 single-value serialization
    val p2 = freshDir("ice_stats_str")
    Iceberg.write(spark.range(0, 100)
      .select(concat(lit("user_"), format_string("%03d", col("id"))).as("name"))
      .repartitionByRange(4, col("name")), p2)
    val probe2 = Iceberg.read(spark, p2).filter(col("name") === "user_042")
    assert(probe2.count() == 1L)
    val (kept2, total2) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(p2).get
    assert(kept2 < total2, s"string bounds must prune ($kept2/$total2)")
  }

  test("SQL INSERT INTO an iceberg catalog table lands as a snapshot, never as raw files") {
    import spark.implicits._
    val path = freshDir("ice_sql")
    Seq((1L, "a")).toDF("k", "v").write.format("iceberg").save(path)
    spark.sql("DROP TABLE IF EXISTS ice_sql_t")
    spark.sql(s"CREATE TABLE ice_sql_t USING iceberg OPTIONS (path '$path')")
    Seq((2L, "b")).toDF("k", "v").createOrReplaceTempView("ice_sql_src")
    spark.sql("INSERT INTO ice_sql_t SELECT k, v FROM ice_sql_src")
    assert(Iceberg.snapshots(path).size == 2,
      "INSERT INTO must land as exactly one Iceberg snapshot")
    assert(Iceberg.read(spark, path).count() == 2L)
    spark.sql("REFRESH TABLE ice_sql_t")
    assert(spark.sql("SELECT count(*) FROM ice_sql_t").head().getLong(0) == 2L)
    spark.sql("DROP TABLE ice_sql_t")
  }

  test("readStream.format(\"iceberg\") tails the snapshot log: bootstrap, O(new) batches, overwrite gate") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = freshDir("ice_stream")
    val path = s"$base/tbl"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    Seq((1L, "a", "F"), (2L, "b", "O")).toDF("k", "v", "status")
      .write.format("iceberg").partitionBy("status").save(path)
    Seq((3L, "c", "F")).toDF("k", "v", "status")
      .write.format("iceberg").mode("append").save(path)
    def drainOnce(): Unit = {
      val q = spark.readStream.format("iceberg").load(path)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce() // bootstrap: both snapshots' live set, partition values intact
    val got = spark.read.parquet(sink).as[(Long, String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", "F"), (2L, "b", "O"), (3L, "c", "F")))
    // tail: only the new snapshot's adds stream on resume
    Seq((4L, "d", "O")).toDF("k", "v", "status")
      .write.format("iceberg").mode("append").save(path)
    drainOnce()
    assert(spark.read.parquet(sink).count() == 4L, "resume must deliver only the new snapshot")
    // an overwrite breaks the tail loudly...
    Seq((9L, "z", "P")).toDF("k", "v", "status")
      .write.format("iceberg").mode("overwrite").partitionBy("status").save(path)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drainOnce())
    assert(e.getMessage.contains("non-append") || e.getCause.getMessage.contains("non-append"))
    // ...unless ignoreChanges re-emits its files
    val q2 = spark.readStream.format("iceberg").option("ignoreChanges", "true").load(path)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(sink).count() == 5L)
  }

  test("history and asOfTimestamp resolve off the snapshot log") {
    import spark.implicits._
    val path = freshDir("ice_hist")
    val s1 = Iceberg.write(Seq((1L, "a")).toDF("k", "v"), path)
    Iceberg.write(Seq((2L, "b")).toDF("k", "v"), path, mode = SaveMode.Append)
    val hist = spark.read.format("iceberg").option("history", "true").load(path)
      .orderBy("sequence_number").collect()
    assert(hist.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(hist.map(_.getString(3)).toSeq == Seq("overwrite", "append"))
    val t1 = Iceberg.snapshots(path).head._2
    assert(Iceberg.snapshotAsOf(path, t1) == s1 || Iceberg.snapshots(path).map(_._2).distinct.size == 1)
    intercept[IllegalArgumentException](Iceberg.snapshotAsOf(path, t1 - 100000L))
  }

  test("expireSnapshots bounds metadata and reclaims expired-only files") {
    import spark.implicits._
    val path = freshDir("ice_expire")
    Iceberg.write(Seq((1L, "a")).toDF("k", "v"), path) // s1
    Iceberg.write(Seq((9L, "z")).toDF("k", "v"), path, mode = SaveMode.Overwrite) // s2: s1's files dead
    Iceberg.write(Seq((10L, "y")).toDF("k", "v"), path, mode = SaveMode.Append) // s3
    assert(Iceberg.snapshots(path).size == 3)
    val reclaimed = Iceberg.expireSnapshots(spark, path, keepLast = 2)
    assert(reclaimed >= 1, "s1's overwritten file must be reclaimed")
    assert(Iceberg.snapshots(path).size == 2)
    // the kept snapshots still read, including time travel within the horizon
    assert(Iceberg.read(spark, path).count() == 2L)
    val keptFirst = Iceberg.snapshots(path).head._1
    assert(Iceberg.read(spark, path, snapshotId = Some(keptFirst)).count() == 1L)
    // expiring everything but the head is idempotent on re-run
    assert(Iceberg.expireSnapshots(spark, path, keepLast = 2) == 0)
  }

  test("racing writers arbitrate on the metadata-version create") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("ice_race")
    Iceberg.write(Seq((0L, "base")).toDF("k", "v"), path)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val attempts = (1 to 3).map { i =>
      Future {
        gate.await()
        try Right(Iceberg.write(Seq((i.toLong, s"w$i")).toDF("k", "v"), path,
          mode = SaveMode.Append))
        catch { case _: java.util.ConcurrentModificationException => Left(()) }
      }
    }
    gate.countDown()
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    val wins = results.collect { case Right(id) => id }
    assert(wins.nonEmpty, "at least one racing append must land")
    // the winners' rows all landed exactly once; no lost update
    assert(Iceberg.read(spark, path).count() == 1L + wins.size)
    assert(Iceberg.snapshots(path).size == 1 + wins.size)
  }

  test("merge-on-read DELETE: spec-shaped position-delete file, join-free reads, zero rewrites") {
    val path = freshDir("ice_mor")
    val df = spark.range(0, 200).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k"))
    Iceberg.write(df, path)
    val before = Iceberg.snapshot(spark, path)
    Iceberg.deleteMergeOnRead(spark, path, col("k") % 10 === 0)
    val after = Iceberg.snapshot(spark, path)
    assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet,
      "a merge-on-read delete must rewrite ZERO data files")
    assert(after.deletes.size == 1 && after.deletes.head.recordCount == 20L)
    val got = Iceberg.read(spark, path)
    assert(got.count() == 180L)
    assert(got.filter(col("k") % 10 === 0).count() == 0L)
    assert(!got.queryExecution.executedPlan.toString.toLowerCase.contains("join"),
      "position deletes must apply as a row-index filter, not a join")
    // the delete file itself is spec-shaped: reserved field ids, sorted rows
    val delFile = after.deletes.head.path
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(delFile),
        spark.sparkContext.hadoopConfiguration))
    val pqSchema = footer.getFileMetaData.getSchema
    footer.close()
    assert(pqSchema.getType(pqSchema.getFieldIndex("file_path")).getId.intValue() == 2147483546 &&
      pqSchema.getType(pqSchema.getFieldIndex("pos")).getId.intValue() == 2147483545,
      s"position-delete files must carry the spec's reserved field ids, got $pqSchema")
    val delRows = spark.read.parquet(delFile)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(delRows == delRows.sorted, "delete rows must be sorted by (file_path, pos)")
    assert(delRows.forall { case (f, _) => after.files.exists(df2 =>
      new java.net.URI(df2.path).getPath == f) },
      "every recorded path must match a manifest data-file path byte-for-byte")
    // a second delete composes and never re-records already-deleted rows
    Iceberg.deleteMergeOnRead(spark, path, col("k") < 20)
    val after2 = Iceberg.snapshot(spark, path)
    assert(after2.deletes.map(_.recordCount).sum == 38L,
      "discovery reads the materialized snapshot — 0 and 10 are already deleted")
    assert(Iceberg.read(spark, path).count() == 162L)
    // an empty delete is not a commit
    val nSnaps = Iceberg.snapshots(path).size
    Iceberg.deleteMergeOnRead(spark, path, col("k") === -1L)
    assert(Iceberg.snapshots(path).size == nSnaps)
    // sequencing: an appended row reusing a deleted key/position is not swallowed
    import spark.implicits._
    Iceberg.write(Seq((0L, 0L)).toDF("k", "v"), path, mode = SaveMode.Append)
    assert(Iceberg.read(spark, path).filter(col("k") === 0L).count() == 1L)
    assert(Iceberg.read(spark, path).count() == 163L)
    // time travel to the pre-delete snapshot still serves every row
    assert(Iceberg.read(spark, path, snapshotId = Some(before.snapshotId)).count() == 200L)
  }

  test("bucket/truncate/day partition transforms: spec layout, equality pruning, full round-trip") {
    val path = freshDir("ice_bucket")
    val df = spark.range(0, 1000).coalesce(1)
      .select(col("id").as("k"), concat(lit("u"), format_string("%04d", col("id"))).as("name"),
        (col("id") % 7).as("v"))
    Iceberg.write(df, path, partitionBy = Seq("bucket(8, k)"))
    // the spec metadata records the transform, and the SOURCE column
    // stays in the data files (unlike identity partitioning)
    val metaText = new String(Files.readAllBytes(
      Paths.get(path, "metadata", "v00001.metadata.json")), "UTF-8")
    assert(metaText.contains("\"bucket[8]\""))
    val snap = Iceberg.snapshot(spark, path)
    assert(snap.partitionColumns.isEmpty, "a bucket field must not surface as a column")
    assert(snap.files.size == 8, s"one file per bucket expected, got ${snap.files.size}")
    val full = Iceberg.read(spark, path)
    assert(full.columns.toSeq == Seq("k", "name", "v"))
    assert(full.count() == 1000L)
    // dir values match the spec's murmur3 exactly
    val expected = graft.functions.IcebergTransforms.bucketLong(42L, 8)
    val hit = snap.files.find(_.partitionValues("k_bucket").contains(expected.toString))
    assert(hit.nonEmpty, "the bucket dir for k=42 must exist under the spec hash")
    // equality on the source column prunes to ONE bucket at planning
    assert(Iceberg.read(spark, path).filter(col("k") === 42L).count() == 1L)
    val (kept, total) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(path).get
    assert(total == 8 && kept == 1,
      s"k=42 must plan exactly its bucket's file ($kept/$total)")
    // string bucket pruning too — and appends keep the spec
    Iceberg.write(spark.range(1000, 1100).coalesce(1)
      .select(col("id").as("k"), concat(lit("u"), format_string("%04d", col("id"))).as("name"),
        (col("id") % 7).as("v")), path, mode = SaveMode.Append)
    assert(Iceberg.read(spark, path).count() == 1100L)
    assert(Iceberg.read(spark, path).filter(col("k") === 1050L).count() == 1L)
    val (kept2, total2) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(path).get
    assert(kept2 <= 2 && total2 == 16,
      s"after the append, k=1050 must plan at most one bucket per snapshot ($kept2/$total2)")

    // truncate(100, k): range files named by their lower bound
    val p2 = freshDir("ice_trunc")
    Iceberg.write(df.coalesce(1), p2, partitionBy = Seq("truncate(100, k)"))
    assert(Iceberg.read(spark, p2).filter(col("k") === 742L).count() == 1L)
    val (keptT, totalT) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(p2).get
    assert(totalT == 10 && keptT == 1, s"k=742 must plan only the 700-bucket ($keptT/$totalT)")

    // days(ts): calendar layout off a timestamp column, UTC domain
    val p3 = freshDir("ice_days")
    val events = spark.range(0, 96).coalesce(1)
      .select(col("id").as("n"),
        (lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).cast("timestamp") +
          org.apache.spark.sql.functions.expr("make_interval(0, 0, 0, 0, id * 6, 0, 0)")).as("ts"))
    Iceberg.write(events, p3, partitionBy = Seq("days(ts)"))
    val snap3 = Iceberg.snapshot(spark, p3)
    val dayOrdinals = snap3.files.flatMap(_.partitionValues("ts_day")).distinct.sorted
    val mar1 = java.time.LocalDate.parse("2024-03-01").toEpochDay
    assert(dayOrdinals == (mar1 until mar1 + 24).map(_.toString).sorted,
      "day ordinals must be the spec's days-from-epoch ints")
    assert(Iceberg.read(spark, p3)
      .filter(col("ts") === java.sql.Timestamp.valueOf("2024-03-05 12:00:00")).count() == 1L)
    val (keptD, totalD) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(p3).get
    assert(keptD == 1 && totalD == 24, s"a ts equality must plan one day file ($keptD/$totalD)")

    // months(ts) and hours(ts): spec ordinals (months since 1970-01,
    // hours since epoch) both in the dirs and in pruning
    val p4 = freshDir("ice_months")
    Iceberg.write(events, p4, partitionBy = Seq("months(ts)"))
    val snap4 = Iceberg.snapshot(spark, p4)
    assert(snap4.files.flatMap(_.partitionValues("ts_month")).distinct.sorted ==
      Seq(((2024 - 1970) * 12 + 2).toString), "March 2024 is month ordinal 650")
    assert(Iceberg.read(spark, p4)
      .filter(col("ts") === java.sql.Timestamp.valueOf("2024-03-05 12:00:00")).count() == 1L)
    val p5 = freshDir("ice_hours")
    Iceberg.write(events.limit(8), p5, partitionBy = Seq("hours(ts)"))
    assert(Iceberg.read(spark, p5)
      .filter(col("ts") === java.sql.Timestamp.valueOf("2024-03-01 18:00:00")).count() == 1L)
    val (keptH, totalH) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(p5).get
    assert(keptH == 1 && totalH == 8, s"hour equality must plan one file ($keptH/$totalH)")
  }

  test("copy-on-write DELETE and MERGE rewrite only the touched files") {
    import spark.implicits._
    val path = freshDir("ice_cow")
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k"))
    Iceberg.write(df, path)
    val before = Iceberg.snapshot(spark, path)
    assert(before.files.size == 4)
    // delete hits only the first range file: k-bounds confine the match
    Iceberg.deleteWhere(spark, path, col("k") < 50L)
    val afterDel = Iceberg.snapshot(spark, path)
    assert(Iceberg.read(spark, path).count() == 350L)
    val carried = before.files.map(_.path).toSet intersect afterDel.files.map(_.path).toSet
    assert(carried.size == 3,
      s"only the file holding k<50 may be rewritten (carried ${carried.size}/4)")
    assert(afterDel.deletes.isEmpty, "copy-on-write leaves no read-side debt")
    // a no-match delete is not a commit
    val nSnaps = Iceberg.snapshots(path).size
    Iceberg.deleteWhere(spark, path, col("k") === -5L)
    assert(Iceberg.snapshots(path).size == nSnaps)
    // MERGE: one matched key (rewrites its file), one new key (insert)
    Iceberg.upsertByKey(spark, path,
      Seq((399L, 999L), (1000L, 1L)).toDF("k", "v"), "k")
    val afterUp = Iceberg.snapshot(spark, path)
    val got = Iceberg.read(spark, path)
    assert(got.count() == 351L)
    assert(got.filter(col("k") === 399L).select("v").head().getLong(0) == 999L)
    assert(got.filter(col("k") === 1000L).count() == 1L)
    val carried2 = afterDel.files.map(_.path).toSet intersect afterUp.files.map(_.path).toSet
    assert(carried2.size == afterDel.files.size - 1,
      "MERGE must rewrite only the file holding the matched key")
    // time travel across the rewrites still serves the old images
    assert(Iceberg.read(spark, path, snapshotId = Some(before.snapshotId)).count() == 400L)
  }

  test("rewriteDeletes folds position-delete debt and re-enables the streaming tail") {
    val path = freshDir("ice_fold")
    Iceberg.write(spark.range(0, 300).select(col("id").as("k"), (col("id") % 5).as("v"))
      .repartitionByRange(3, col("k")), path)
    Iceberg.deleteMergeOnRead(spark, path, col("k") >= 280L)
    val debt = Iceberg.snapshot(spark, path)
    assert(debt.deletes.nonEmpty)
    Iceberg.rewriteDeletes(spark, path)
    val clean = Iceberg.snapshot(spark, path)
    assert(clean.deletes.isEmpty, "rewriteDeletes must clear every delete manifest")
    assert(Iceberg.read(spark, path).count() == 280L)
    // only the file the vector named was rewritten
    val carried = debt.files.map(_.path).toSet intersect clean.files.map(_.path).toSet
    assert(carried.size == debt.files.size - 1,
      s"only the covered file may be rewritten (carried ${carried.size}/${debt.files.size})")
    // idempotent on a clean table
    assert(Iceberg.rewriteDeletes(spark, path) == clean.snapshotId)
    // and the streaming bootstrap accepts the table again
    val q = spark.readStream.format("iceberg").load(path).writeStream
      .format("memory").queryName("ice_fold_tail")
      .option("checkpointLocation", freshDir("ice_fold_cp")).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("ice_fold_tail").count() == 280L)
  }

  test("mergeSchema append evolves the schema with fresh field ids") {
    import spark.implicits._
    val path = freshDir("ice_evolve")
    Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    val e = intercept[IllegalArgumentException](
      Iceberg.write(Seq((3L, "c", 0.5)).toDF("k", "v", "score"), path,
        mode = SaveMode.Append))
    assert(e.getMessage.contains("mergeSchema"))
    Iceberg.write(Seq((3L, "c", 0.5)).toDF("k", "v", "score"), path,
      mode = SaveMode.Append, mergeSchema = true)
    val got = Iceberg.read(spark, path)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(got.as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))))
    // the spec bookkeeping: a NEW schema-id, the new column under a
    // FRESH field id above the prior last-column-id, old schema retained
    val metaText = new String(Files.readAllBytes(
      Paths.get(path, "metadata", "v00002.metadata.json")), "UTF-8")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(metaText)
    assert(meta.get("current-schema-id").asInt == 1)
    assert(meta.get("schemas").size == 2, "the prior schema must stay in the list")
    val newSchema = meta.get("schemas").get(1)
    val scoreField = {
      val it = newSchema.get("fields").elements()
      var found: com.fasterxml.jackson.databind.JsonNode = null
      while (it.hasNext) { val f = it.next(); if (f.get("name").asText == "score") found = f }
      found
    }
    assert(scoreField != null && scoreField.get("id").asInt == 3)
    // an append omitting the evolved column still lands; reads fill NULL
    Iceberg.write(Seq((4L, "d")).toDF("k", "v"), path,
      mode = SaveMode.Append, mergeSchema = true)
    assert(Iceberg.read(spark, path).count() == 4L)
    assert(Iceberg.read(spark, path).filter(col("score").isNull).count() == 3L)
  }

  test("compact bin-packs small files as a replace snapshot; a tail skips it") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val path = freshDir("ice_compact")
    for (k <- 0L until 6L)
      Iceberg.write(Seq((k, k % 3)).toDF("k", "v"), path,
        mode = if (k == 0) SaveMode.Overwrite else SaveMode.Append)
    assert(Iceberg.snapshot(spark, path).files.size == 6)
    val base = freshDir("ice_compact_tail")
    val sink = s"$base/sink"; val cp = s"$base/cp"
    def drain(): Unit = {
      val q = spark.readStream.format("iceberg").load(path).writeStream
        .format("parquet").option("path", sink).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(sink).count() == 6L)
    Iceberg.compact(spark, path, targetBytes = 1L << 20)
    val snap = Iceberg.snapshot(spark, path)
    assert(snap.files.size == 1, s"6 tiny files must bin-pack into one, got ${snap.files.size}")
    assert(Iceberg.read(spark, path).count() == 6L)
    assert(Iceberg.history(spark, path).filter(col("operation") === "replace").count() >= 1)
    // the resumed tail skips the replace snapshot and serves only the append
    Iceberg.write(Seq((100L, 0L)).toDF("k", "v"), path, mode = SaveMode.Append)
    drain()
    assert(spark.read.parquet(sink).count() == 7L,
      "the tail must skip the replace snapshot and deliver only the append")
    // compaction folds delete debt too (position + equality)
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 100L)
    Iceberg.deleteEquality(spark, path, Seq(0L).toDF("k"))
    assert(Iceberg.snapshot(spark, path).hasDeleteDebt)
    Iceberg.compact(spark, path, targetBytes = 1L << 20)
    assert(!Iceberg.snapshot(spark, path).hasDeleteDebt)
    assert(Iceberg.read(spark, path).count() == 5L)
    // nothing left to do -> no commit
    val sNow = Iceberg.snapshot(spark, path).snapshotId
    assert(Iceberg.compact(spark, path) == sNow)
  }

  test("equality deletes: retraction write, sequenced null-safe reads, debt fold") {
    import spark.implicits._
    val path = freshDir("ice_eq")
    Iceberg.write((0L until 100L).map(k => (k, k % 5)).toDF("k", "v")
      .repartitionByRange(2, col("k")), path)
    val dataFiles = Iceberg.snapshot(spark, path).files.map(_.path).toSet
    // single-column retraction: no table scan, O(keys) write
    Iceberg.deleteEquality(spark, path, Seq(3L, 7L).toDF("k"))
    val s1 = Iceberg.snapshot(spark, path)
    assert(s1.eqDeletes.size == 1 && s1.eqDeletes.head.columns == Seq("k"))
    assert(s1.files.map(_.path).toSet == dataFiles, "zero data files rewritten")
    assert(Iceberg.read(spark, path).count() == 98L)
    assert(Iceberg.read(spark, path).filter(col("k") === 3L).count() == 0L)
    // SEQUENCING: a row with a deleted key appended AFTER the delete
    // has a higher sequence number — the delete must not swallow it
    Iceberg.write(Seq((3L, 99L)).toDF("k", "v"), path, mode = SaveMode.Append)
    assert(Iceberg.read(spark, path).filter(col("k") === 3L).count() == 1L)
    assert(Iceberg.read(spark, path).count() == 99L)
    // multi-column equality delete matches on every named column
    Iceberg.deleteEquality(spark, path, Seq((4L, 4L)).toDF("k", "v"))
    assert(Iceberg.read(spark, path).count() == 98L)
    assert(Iceberg.read(spark, path).filter(col("k") === 4L).count() == 0L)
    // the later (3, 99) row still survives both deletes
    assert(Iceberg.read(spark, path).filter(col("k") === 3L).count() == 1L)
    // the manifest records the spec's equality_ids for foreign readers
    assert(Iceberg.snapshot(spark, path).eqDeletes.map(_.columns).toSet ==
      Set(Seq("k"), Seq("k", "v")))
    // a fold rewrites the covered files and clears every delete manifest
    Iceberg.rewriteDeletes(spark, path)
    val clean = Iceberg.snapshot(spark, path)
    assert(!clean.hasDeleteDebt)
    assert(Iceberg.read(spark, path).count() == 98L)
    assert(Iceberg.read(spark, path).filter(col("k") === 3L).count() == 1L)
  }

  test("SQL DELETE/UPDATE/MERGE on an iceberg catalog table land through the log") {
    import spark.implicits._
    val path = freshDir("ice_sqldml")
    Iceberg.write((0L until 100L).map(k => (k, k % 7)).toDF("k", "v")
      .repartitionByRange(4, col("k")), path)
    spark.sql("DROP TABLE IF EXISTS ice_dml_t")
    spark.sql(s"CREATE TABLE ice_dml_t USING iceberg OPTIONS (path '$path')")
    // DELETE lands as a position-delete file: zero data files rewritten
    val before = Iceberg.snapshot(spark, path)
    spark.sql("DELETE FROM ice_dml_t WHERE k >= 90")
    val after = Iceberg.snapshot(spark, path)
    assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet &&
      after.deletes.nonEmpty, "SQL DELETE must land as a position-delete file")
    assert(spark.sql("SELECT count(*) FROM ice_dml_t").head().getLong(0) == 90L)
    // UPDATE is the copy-on-write rewrite of only the touched files
    spark.sql("UPDATE ice_dml_t SET v = v + 1000 WHERE k < 10")
    assert(spark.sql("SELECT sum(v) FROM ice_dml_t WHERE k < 10").head().getLong(0) ==
      (0L until 10L).map(k => k % 7 + 1000).sum)
    // MERGE upsert: one matched update + one insert
    Seq((5L, 777L), (500L, 1L)).toDF("k", "v").createOrReplaceTempView("ice_dml_src")
    spark.sql("""MERGE INTO ice_dml_t t USING ice_dml_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT v FROM ice_dml_t WHERE k = 5").head().getLong(0) == 777L)
    assert(spark.sql("SELECT count(*) FROM ice_dml_t").head().getLong(0) == 91L)
    // MERGE matched-DELETE: keyed merge-on-read position delete
    Seq(500L).toDF("k").createOrReplaceTempView("ice_dml_del")
    spark.sql("""MERGE INTO ice_dml_t t USING ice_dml_del s ON t.k = s.k
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT count(*) FROM ice_dml_t").head().getLong(0) == 90L)
    assert(spark.sql("SELECT count(*) FROM ice_dml_t WHERE k = 500").head().getLong(0) == 0L)
    spark.sql("DROP TABLE ice_dml_t")
  }

  test("delete debt through SQL, history, streaming gate, and reclamation") {
    import spark.implicits._
    val path = freshDir("ice_mor_sql")
    Iceberg.write(spark.range(0, 100).select(col("id").as("k"),
      (col("id") % 3).as("v")), path)
    Iceberg.deleteMergeOnRead(spark, path, col("k") >= 90L)
    // format("iceberg") serves the debt-carrying snapshot via the MoR fallback
    assert(spark.read.format("iceberg").load(path).count() == 90L)
    // and it stays insertable through SQL
    spark.sql("DROP TABLE IF EXISTS ice_mor_t")
    spark.sql(s"CREATE TABLE ice_mor_t USING iceberg OPTIONS (path '$path')")
    Seq((1000L, 0L)).toDF("k", "v").createOrReplaceTempView("ice_mor_src")
    spark.sql("INSERT INTO ice_mor_t SELECT k, v FROM ice_mor_src")
    spark.sql("REFRESH TABLE ice_mor_t")
    assert(spark.sql("SELECT count(*) FROM ice_mor_t").head().getLong(0) == 91L)
    spark.sql("DROP TABLE ice_mor_t")
    // DESCRIBE HISTORY shows the delete operation
    val ops = Iceberg.history(spark, path).select("operation")
      .collect().map(_.getString(0)).toSeq
    assert(ops.count(_ == "delete") == 1)
    // a fresh streaming bootstrap over delete debt refuses rather than over-serving
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("iceberg").load(path).writeStream
        .format("memory").queryName("ice_mor_tail")
        .option("checkpointLocation", freshDir("ice_mor_cp")).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getCause.getMessage.contains("position-delete"),
      s"bootstrap over delete debt must gate loudly, got: ${e.getCause.getMessage}")
    // overwrite clears the debt; expiring history reclaims the delete file too
    val delFile = Iceberg.snapshot(spark, path).deletes.head.path
    Iceberg.write(Seq((1L, 1L)).toDF("k", "v"), path, mode = SaveMode.Overwrite)
    assert(Iceberg.expireSnapshots(spark, path, keepLast = 1) >= 1)
    assert(!Files.exists(Paths.get(delFile)),
      "an expired delete snapshot's position-delete file must be reclaimed")
    assert(Iceberg.snapshot(spark, path).deletes.isEmpty)
    assert(Iceberg.read(spark, path).count() == 1L)
  }

  test("renameColumn is pure metadata: field-id resolution keeps pre-rename files readable") {
    import spark.implicits._
    val path = freshDir("ice_rename")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "amount")
      .write.format("iceberg").save(path)
    def dataFiles(): Set[String] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.toString)
          .filter(f => f.endsWith(".parquet") && !f.contains("/metadata/")).toSet
      } finally st.close()
    }
    val before = dataFiles()
    Iceberg.renameColumn(spark, path, "amount", "total")
    assert(dataFiles() == before, "rename must write zero data files")
    val got = Iceberg.read(spark, path)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "total"))
    // the VALUES come from pre-rename files: only footer field ids can
    // resolve a column the file calls 'amount' under the name 'total'
    assert(got.select("k", "total").as[(Long, Long)].collect().sortBy(_._1)
      .toSeq == Seq((1L, 10L), (2L, 20L)))
    // filters on the renamed column still stats-prune and evaluate
    assert(got.filter(col("total") === 20L).count() == 1L)
    // appends under the NEW name mix with old files transparently
    Seq((3L, "c", 30L)).toDF("k", "v", "total")
      .write.format("iceberg").mode("append").save(path)
    assert(Iceberg.read(spark, path).select("k", "total").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // a partition source column refuses (the spec would go stale)
    val p2 = freshDir("ice_rename_part")
    Seq((1L, 10L)).toDF("k", "p").write.format("iceberg").partitionBy("p").save(p2)
    val e = intercept[IllegalArgumentException](
      Iceberg.renameColumn(spark, p2, "p", "q"))
    assert(e.getMessage.contains("partition source"))
    // unknown columns refuse
    intercept[IllegalArgumentException](Iceberg.renameColumn(spark, path, "zz", "yy"))
    intercept[IllegalArgumentException](Iceberg.renameColumn(spark, path, "k", "v"))
  }

  test("removeOrphanFiles reclaims unreferenced files, never history or metadata") {
    import spark.implicits._
    val path = freshDir("ice_orphans")
    Seq((1L, "a")).toDF("k", "v").write.format("iceberg").save(path)
    Seq((2L, "b")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    // plant orphans: a stray data parquet and a crashed staging dir
    val stray = java.nio.file.Paths.get(path, "data", "orphan.parquet")
    java.nio.file.Files.createDirectories(stray.getParent)
    java.nio.file.Files.write(stray, Array[Byte](1, 2, 3))
    val staged = java.nio.file.Paths.get(path, ".staged-deadbeef", "part-0.parquet")
    java.nio.file.Files.createDirectories(staged.getParent)
    java.nio.file.Files.write(staged, Array[Byte](1))
    // a too-recent cutoff deletes nothing (in-flight commit safety)
    assert(Iceberg.removeOrphanFiles(spark, path, 0L) == 0)
    val n = Iceberg.removeOrphanFiles(spark, path, System.currentTimeMillis() + 1000L)
    assert(n == 2, s"both orphans reclaimed, got $n")
    assert(!java.nio.file.Files.exists(stray) && !java.nio.file.Files.exists(staged.getParent))
    // the table (both snapshots) still reads in full
    assert(Iceberg.read(spark, path).count() == 2L)
    assert(Iceberg.snapshots(path).size == 2)
    val first = Iceberg.snapshots(path).minBy(_._2)._1
    assert(Iceberg.read(spark, path, Some(first)).count() == 1L, "history intact")
    // the files inspection table serves the live manifest walk
    val files = spark.read.format("iceberg").option("files", "true").load(path)
    assert(files.count() == 2L &&
      files.select("record_count").as[Long].collect().sum == 2L)
  }

  test("streaming sink: snapshot-summary epochs make batch replays exactly-once") {
    import spark.implicits._
    val src = freshDir("ice_sink_src"); val tbl = freshDir("ice_sink_tbl")
    val cp = freshDir("ice_sink_cp")
    java.nio.file.Files.createDirectories(Paths.get(src))
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/b1")
    def runOnce(): Unit = {
      val q = spark.readStream.schema("k LONG, v STRING").parquet(s"$src/*")
        .writeStream.format("iceberg").option("checkpointLocation", cp)
        .option("appId", "icet").start(tbl)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(Iceberg.read(spark, tbl).count() == 2L)
    val epoch = Iceberg.lastCommittedEpoch(tbl, "icet").get
    // restart with the same checkpoint: nothing re-committed
    runOnce()
    assert(Iceberg.read(spark, tbl).count() == 2L)
    // an application-level replay of the committed epoch is skipped
    val sink = new org.apache.spark.sql.graft.IcebergSink(tbl, "icet", Nil)
    sink.addBatch(epoch, Seq((99L, "dup")).toDF("k", "v"))
    assert(Iceberg.read(spark, tbl).count() == 2L,
      "a batch at the committed epoch is a replay and must be skipped")
    sink.addBatch(epoch + 1, Seq((3L, "c")).toDF("k", "v"))
    assert(Iceberg.read(spark, tbl).count() == 3L)
    assert(Iceberg.lastCommittedEpoch(tbl, "icet").contains(epoch + 1))
    // a different app's epochs are independent
    assert(Iceberg.lastCommittedEpoch(tbl, "other").isEmpty)
  }

  test("refs: tags pin snapshots against expiry and resolve as read anchors") {
    import spark.implicits._
    val path = freshDir("ice_refs")
    Seq((1L, "a")).toDF("k", "v").write.format("iceberg").save(path)           // seq 1
    val s1 = Iceberg.snapshots(path).head._1
    Seq((2L, "b")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    Seq((3L, "c")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    Iceberg.createRef(spark, path, "v1-audit", s1, "tag")
    assert(Iceberg.refs(path) == Map("v1-audit" -> (s1, "tag")))
    // the tag resolves as a read anchor
    assert(spark.read.format("iceberg").option("tag", "v1-audit").load(path)
      .count() == 1L)
    intercept[IllegalArgumentException](
      spark.read.format("iceberg").option("tag", "nope").load(path).count())
    // refs survive later commits
    Seq((4L, "d")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    assert(Iceberg.refs(path).contains("v1-audit"))
    // expiry keeps the PINNED snapshot even outside the keep-last
    // window (no data reclaims here — an append-only history's files
    // are all still live in the current snapshot)
    Iceberg.expireSnapshots(spark, path, keepLast = 1)
    assert(Iceberg.snapshots(path).size == 2, "kept = the pinned one + the newest")
    assert(Iceberg.snapshots(path).map(_._1).contains(s1),
      "a tagged snapshot must never expire")
    assert(spark.read.format("iceberg").option("tag", "v1-audit").load(path)
      .count() == 1L, "the tag must stay readable after expiry")
    assert(Iceberg.read(spark, path).count() == 4L)
    // duplicate / unknown-snapshot / main refusals
    intercept[IllegalArgumentException](Iceberg.createRef(spark, path, "v1-audit", s1))
    intercept[IllegalArgumentException](Iceberg.createRef(spark, path, "x", 42L))
    intercept[IllegalArgumentException](Iceberg.createRef(spark, path, "main", s1))
    // drop unpins; the next expiry may reclaim it
    Iceberg.dropRef(spark, path, "v1-audit")
    assert(Iceberg.refs(path).isEmpty)
    Iceberg.expireSnapshots(spark, path, keepLast = 1)
    assert(!Iceberg.snapshots(path).map(_._1).contains(s1))
  }

  test("snapshots + refs inspection tables answer from metadata alone") {
    import spark.implicits._
    val path = freshDir("ice_inspect_meta")
    Seq((1L, "a")).toDF("k", "v").write.format("iceberg").save(path)
    Seq((2L, "b")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    val ids = Iceberg.snapshots(path).map(_._1)
    Iceberg.createRef(spark, path, "pin", ids.head, "tag")
    Iceberg.createRef(spark, path, "stage", ids.last, "branch")
    val snaps = spark.read.format("iceberg").option("snapshots", "true").load(path)
    val refs = spark.read.format("iceberg").option("refs", "true").load(path)
    assert(snaps.inputFiles.isEmpty && refs.inputFiles.isEmpty,
      "inspection tables must plan zero data files")
    assert(snaps.columns.toSeq == Seq("committed_at", "snapshot_id", "parent_id",
      "operation", "manifest_list"))
    val byId = snaps.collect().map(r => r.getLong(1) ->
      ((if (r.isNullAt(2)) None else Some(r.getLong(2))), r.getString(3))).toMap
    assert(byId(ids.head) == (None, "overwrite"))
    assert(byId(ids.last) == (Some(ids.head), "append"), "parent lineage must chain")
    assert(snaps.collect().forall(_.getString(4).contains("snap-")),
      "each row must carry its manifest list")
    val refRows = refs.as[(String, String, Long)].collect().toSet
    assert(refRows == Set(("main", "BRANCH", ids.last),
      ("pin", "TAG", ids.head), ("stage", "BRANCH", ids.last)))
    // the manifests table: one row per current-snapshot manifest,
    // counts straight from the list file, zero data files planned
    val mans = spark.read.format("iceberg").option("manifests", "true").load(path)
    assert(mans.inputFiles.isEmpty)
    val mRows = mans.collect()
    assert(mRows.length == 2 && mRows.forall(_.getString(1) == "data"))
    assert(mRows.map(r => r.getLong(5)).toSeq.sorted == Seq(1L, 1L),
      "each append's manifest added exactly one file")
    assert(mRows.forall(r => r.getString(0).endsWith(".avro") && r.getLong(2) > 0L))
  }

  test("branch writes + fastForward implement write-audit-publish") {
    import spark.implicits._
    val path = freshDir("ice_wap")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.format("iceberg").save(path)
    // STAGE: write to a branch — main is untouched
    Iceberg.write(Seq((3L, "c")).toDF("k", "v"), path, mode = SaveMode.Append,
      toBranch = Some("wap"))
    assert(Iceberg.read(spark, path).count() == 2L, "main must not see staged rows")
    assert(spark.read.format("iceberg").option("branch", "wap").load(path)
      .count() == 3L, "the branch sees main's base plus the staged rows")
    assert(Iceberg.refs(path)("wap")._2 == "branch")
    // AUDIT: a streaming tail of main must not deliver the staged commit
    val cp = freshDir("ice_wap_cp"); val sinkDir = freshDir("ice_wap_sink")
    def drain(): Long = {
      val q = spark.readStream.format("iceberg").load(path)
        .writeStream.format("parquet").option("path", sinkDir)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(sinkDir).count()
    }
    assert(drain() == 2L, "the tail must follow main's lineage only")
    // a second staged batch stacks on the branch head
    Iceberg.write(Seq((4L, "d")).toDF("k", "v"), path, mode = SaveMode.Append,
      toBranch = Some("wap"))
    assert(spark.read.format("iceberg").option("branch", "wap").load(path).count() == 4L)
    assert(Iceberg.read(spark, path).count() == 2L)
    // timestamp travel resolves over the MAIN lineage — never a
    // staged snapshot, even though the staged ones are newer
    val asOf = Iceberg.snapshotAsOf(path, System.currentTimeMillis() + 60000L)
    assert(Iceberg.read(spark, path, Some(asOf)).count() == 2L,
      "as-of-timestamp must not resolve a staged branch snapshot")
    // PUBLISH: fastForward repoints main at the branch head
    Iceberg.fastForward(spark, path, "wap")
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().sortBy(_._1)
      .map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // ...and the resumed tail delivers EVERY published commit,
    // including the intermediate staged batch
    assert(drain() == 4L, "publish must flow to the checkpointed tail in full")
    // refusals: overwrite to a branch; fast-forward of a tag
    intercept[IllegalArgumentException](Iceberg.write(Seq((9L, "z")).toDF("k", "v"),
      path, mode = SaveMode.Overwrite, toBranch = Some("wap")))
    Iceberg.createRef(spark, path, "t1", Iceberg.snapshots(path).head._1, "tag")
    intercept[IllegalArgumentException](Iceberg.fastForward(spark, path, "t1"))
  }

  test("fastForward refuses when main advanced past the fork; branch forks are guarded") {
    import spark.implicits._
    val path = freshDir("ice_ff_guard")
    Seq((1L, "a")).toDF("k", "v").write.format("iceberg").save(path)
    Iceberg.write(Seq((2L, "b")).toDF("k", "v"), path, mode = SaveMode.Append,
      toBranch = Some("wap"))
    // main advances INDEPENDENTLY after the fork
    Seq((3L, "c")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    val e = intercept[IllegalArgumentException](Iceberg.fastForward(spark, path, "wap"))
    assert(e.getMessage.contains("not a fast-forward"))
    assert(Iceberg.read(spark, path).count() == 2L, "main must keep its own commits")
    // a branch write must not clobber a TAG of the same name
    Iceberg.createRef(spark, path, "pin", Iceberg.snapshots(path).head._1, "tag")
    val e2 = intercept[IllegalArgumentException](
      Iceberg.write(Seq((9L, "z")).toDF("k", "v"), path, mode = SaveMode.Append,
        toBranch = Some("pin")))
    assert(e2.getMessage.contains("clobber"))
    // a branch write on a NONEXISTENT table refuses (nothing to fork)
    val e3 = intercept[IllegalArgumentException](
      Iceberg.write(Seq((1L, "a")).toDF("k", "v"), freshDir("ice_ff_empty"),
        mode = SaveMode.Append, toBranch = Some("wap")))
    assert(e3.getMessage.contains("does not exist"))
  }

  test("streaming offsets stay monotonic across a rollback: no re-delivery") {
    import spark.implicits._
    val path = freshDir("ice_rb_tail")
    val cp = freshDir("ice_rb_tail_cp"); val sink = freshDir("ice_rb_tail_sink")
    Seq((1L, "a")).toDF("k", "v").write.format("iceberg").save(path)          // seq 1
    Seq((2L, "b")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    def drain(): Long = {
      val q = spark.readStream.format("iceberg").load(path)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(sink).count()
    }
    assert(drain() == 2L)
    Iceberg.rollback(spark, path, Iceberg.snapshotIdAtSeq(path, 1L).get)
    // the offset must NOT regress: draining after the rollback
    // re-delivers nothing
    assert(drain() == 2L, "a rolled-back table must not re-deliver old rows")
    // the next append delivers ONLY itself
    Seq((4L, "d")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    assert(drain() == 3L, "exactly the new append flows after a rollback")
  }

  test("expireSnapshots never expires the current snapshot after a rollback") {
    import spark.implicits._
    val path = freshDir("ice_expire_rb")
    Seq((1L, "a")).toDF("k", "v").write.format("iceberg").save(path)
    Seq((2L, "b")).toDF("k", "v").write.format("iceberg").mode("append").save(path)
    val target = Iceberg.snapshotIdAtSeq(path, 1L).get
    Iceberg.rollback(spark, path, target)
    // the rolled-back-to snapshot is NOT the newest by sequence — the
    // keep-last window alone would expire it and dangle the pointer
    Iceberg.expireSnapshots(spark, path, keepLast = 1)
    assert(Iceberg.snapshots(path).map(_._1).contains(target),
      "the current snapshot must never expire")
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("rollback repoints current-snapshot-id; appends sequence after it") {
    import spark.implicits._
    val path = freshDir("ice_rollback")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.format("iceberg").save(path)       // seq 1
    Seq((3L, "c")).toDF("k", "v").write.format("iceberg").mode("append").save(path)   // seq 2
    val target = Iceberg.snapshotIdAtSeq(path, 1L).get
    assert(Iceberg.rollback(spark, path, target) == target)
    // pure metadata: history keeps BOTH snapshots, sequence stays monotonic
    assert(Iceberg.snapshots(path).size == 2 && Iceberg.currentSequence(path) == 2L)
    val got = Iceberg.read(spark, path).as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")))
    // a post-rollback append bases on the rolled-back set and sequences after
    Seq((4L, "d")).toDF("k", "v").write.format("iceberg").mode("append").save(path)   // seq 3
    assert(Iceberg.currentSequence(path) == 3L)
    val after = Iceberg.read(spark, path).as[(Long, String)].collect().sortBy(_._1)
    assert(after.toSeq == Seq((1L, "a"), (2L, "b"), (4L, "d")))
    // an unknown (never committed / expired) snapshot refuses loudly
    intercept[IllegalArgumentException](Iceberg.rollback(spark, path, 12345L))
  }

  test("stream bootstrap pins the snapshot AT the end offset, not the live set") {
    import spark.implicits._
    val path = freshDir("ice_stream_pin")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("iceberg").save(path)                       // seq 1
    Seq((3L, "c")).toDF("k", "v")
      .write.format("iceberg").mode("append").save(path)        // seq 2
    val schema = Iceberg.read(spark, path).schema
    val src = new IcebergSourceProvider().createSource(spark.sqlContext,
      freshDir("ice_stream_pin_meta"), Some(schema), "iceberg", Map("path" -> path))
    // the engine checkpointed end=1 before seq 2 landed (crash-replay,
    // or a commit racing between getOffset and getBatch): the bootstrap
    // must serve snapshot seq 1 — the live set would re-deliver seq 2's
    // file in the next batch, breaking exactly-once
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val seq1Files = Iceberg.snapshot(spark, path,
      Iceberg.snapshotIdAtSeq(path, 1L)).files.map(_.path).toSet
    // a streaming frame refuses batch execution, so read the file set
    // off the analyzed relations instead of inputFiles
    def filesOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.asInstanceOf[org.apache.spark.sql.sources.BaseRelation] match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.inputFiles.toSeq
            case _ => Nil
          }
      }.flatten.map(new java.net.URI(_).getPath).toSet
    val served = filesOf(src.getBatch(None, LongOffset(1L)))
    assert(served.nonEmpty && served.forall(f => seq1Files.exists(f.endsWith)),
      s"bootstrap served files beyond the end offset: $served vs $seq1Files")
    // the follow-up batch (1, 2] delivers exactly seq 2's adds — no overlap
    val tail = filesOf(src.getBatch(Some(LongOffset(1L)), LongOffset(2L)))
    assert(tail.nonEmpty && tail.intersect(served).isEmpty,
      "tail batch must not re-deliver bootstrap files")
  }

  test("timestamp identity partition values keep microsecond precision in the manifest") {
    import spark.implicits._
    val path = freshDir("ice_ts_micros")
    // sub-millisecond timestamps: toEpochMilli*1000 would truncate both
    // to ...123000, colliding the partitions and drifting equality prunes
    val ts1 = java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123456")
    val ts2 = java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123999")
    Iceberg.write(Seq((1L, ts1), (2L, ts2)).toDF("k", "ts"), path, partitionBy = Seq("ts"))
    // the manifest's avro partition value round-trips to the exact micros
    val manifestVals = Iceberg.snapshot(spark, path).files
      .flatMap(_.partitionValues.get("ts")).flatten.toSet
    assert(manifestVals == Set("2024-01-15 10:30:00.123456", "2024-01-15 10:30:00.123999"),
      s"staging-dir strings must survive the manifest round trip, got $manifestVals")
    val got = Iceberg.read(spark, path).as[(Long, java.sql.Timestamp)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(ts1, ts2))
    // equality on the sub-ms value prunes to exactly one of two files and
    // returns its row — the compare the round-8 advice flagged as drifting
    val f = Iceberg.read(spark, path).filter(col("ts") === lit(ts1))
    assert(f.as[(Long, java.sql.Timestamp)].collect().toSeq == Seq((1L, ts1)))
    val (kept, total) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(path).get
    assert(kept == 1 && total == 2, s"sub-ms equality must prune exactly ($kept/$total)")
  }

  test("addColumn: new schema version with a fresh field id; old files read NULL") {
    import spark.implicits._
    val path = freshDir("ice_addcol")
    Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    Iceberg.addColumn(spark, path, "score", org.apache.spark.sql.types.DoubleType)
    val cur = Iceberg.read(spark, path)
    assert(cur.columns.toSeq == Seq("k", "v", "score"))
    assert(cur.filter(col("score").isNull).count() == 2L)
    // the new field got a FRESH id above the prior last-column-id
    val latestMeta = java.nio.file.Files.list(Paths.get(path, "metadata")).toArray
      .map(_.toString).filter(_.endsWith(".metadata.json")).sorted.last
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(Paths.get(latestMeta)))
    assert(meta.get("last-column-id").asInt == 3)
    // appends after the addition carry real values; old files stay NULL
    Iceberg.write(Seq((3L, "c", 0.5)).toDF("k", "v", "score"), path,
      mode = SaveMode.Append)
    val got = Iceberg.read(spark, path).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> Some(0.5)))
    intercept[IllegalArgumentException](
      Iceberg.addColumn(spark, path, "K", org.apache.spark.sql.types.LongType))
  }

  test("position deletes apply on partition dirs containing spaces, byte-equal to the manifest") {
    import spark.implicits._
    val path = freshDir("ice_ts_delete")
    // identity timestamp partitions render with a raw space; Spark's
    // `_metadata.file_path` URL-encodes it, so recording the encoded
    // form in the delete file would silently unapply the delete
    val ts1 = java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123456")
    val ts2 = java.sql.Timestamp.valueOf("2024-02-20 08:15:00.5")
    Iceberg.write(Seq((1L, "a", ts1), (2L, "b", ts1), (3L, "c", ts2))
      .toDF("k", "v", "ts"), path, partitionBy = Seq("ts"))
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 2L)
    val got = Iceberg.read(spark, path).as[(Long, String, java.sql.Timestamp)]
      .collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 3L), s"MoR delete must drop k=2, got ${got.toSeq}")
    // spec conformance: the delete file's file_path targets are
    // byte-equal to the data manifest's file_path entries (a foreign
    // reader compares them as strings)
    val s = Iceberg.snapshot(spark, path)
    assert(s.deletes.nonEmpty, "expected outstanding position-delete debt")
    val manifestPaths = s.files.map(_.path).toSet
    val targets = spark.read.parquet(s.deletes.map(_.path): _*)
      .select("file_path").distinct().collect().map(_.getString(0)).toSet
    assert(targets.subsetOf(manifestPaths),
      s"delete targets must match manifest paths byte-for-byte:\n $targets\n vs $manifestPaths")
  }

  private def latestMeta(path: String): com.fasterxml.jackson.databind.JsonNode = {
    val dir = Paths.get(path, "metadata")
    val v = Files.list(dir).toArray.map(_.toString)
      .filter(_.endsWith(".metadata.json")).max
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(Files.readAllBytes(Paths.get(v)), "UTF-8"))
  }

  test("v3 lifecycle: upgrade, row-lineage appends, puffin DV deletes that merge") {
    import spark.implicits._
    val path = freshDir("ice_v3")
    // one data file, so the second delete MERGES into the first's DV
    Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), path)
    Iceberg.upgradeToV3(spark, path)
    Iceberg.upgradeToV3(spark, path) // idempotent
    val m1 = latestMeta(path)
    assert(m1.get("format-version").asInt == 3)
    assert(m1.get("next-row-id").asLong == 0L)
    // append on v3: rows 3..5 get ids [0, 3); the new manifest records
    // the range start explicitly, the snapshot stamps first-row-id
    Iceberg.write(Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v"), path,
      mode = SaveMode.Append)
    val m2 = latestMeta(path)
    assert(m2.get("next-row-id").asLong == 3L)
    val appendSnap = {
      val arr = m2.get("snapshots")
      arr.get(arr.size() - 1)
    }
    assert(appendSnap.get("first-row-id").asLong == 0L)
    val listRecs = {
      val in = new java.io.FileInputStream(appendSnap.get("manifest-list").asText)
      val r = new org.apache.avro.file.DataFileStream[org.apache.avro.generic.GenericRecord](
        in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.avro.generic.GenericRecord]
      while (r.hasNext) out += r.next()
      r.close()
      out.toSeq
    }
    // the pre-upgrade manifest keeps null lineage; the new one is stamped
    assert(listRecs.map(r => Option(r.get("first_row_id")).map(_.asInstanceOf[Long]))
      .toSet == Set(None, Some(0L)))
    // merge-on-read delete on v3 writes a puffin DELETION VECTOR, not
    // a parquet position-delete file
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 1L)
    val s1 = Iceberg.snapshot(spark, path)
    assert(s1.deletes.isEmpty && s1.dvDeletes.size == 1)
    assert(s1.dvDeletes.head.path.endsWith(".puffin"))
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().map(_._1).sorted
      .toSeq == Seq(2L, 3L, 4L, 5L))
    // a second delete hitting the SAME file merges into one DV and
    // drops the superseded entry (the v3 one-DV-per-file invariant)
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 2L)
    val s2 = Iceberg.snapshot(spark, path)
    assert(s2.dvDeletes.map(_.referencedDataFile).distinct.size == s2.dvDeletes.size,
      s"at most one DV per data file, got ${s2.dvDeletes}")
    val affected = s2.dvDeletes.filter(d =>
      s1.dvDeletes.head.referencedDataFile == d.referencedDataFile)
    assert(affected.size == 1 && affected.head.path != s1.dvDeletes.head.path,
      "the merged DV must supersede the old entry")
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().map(_._1).sorted
      .toSeq == Seq(3L, 4L, 5L))
    // the changelog diffs position SETS, so the merged successor DV
    // reports only the newly deleted row — never its predecessor's
    assert(Iceberg.changeLog(spark, path, 3L, Some(4L))
      .select("k").as[Long].collect().toSeq == Seq(2L),
      "a merged DV must not re-report already-deleted rows")
    // deleteMatched rides the same DV path
    Iceberg.deleteMatched(spark, path, Seq(Tuple1(3L)).toDF("k"), "k")
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().map(_._1).sorted
      .toSeq == Seq(4L, 5L))
    // time travel: pre-delete snapshots still read whole
    val snapIds = Iceberg.snapshots(path).map(_._1)
    assert(Iceberg.read(spark, path, snapshotId = Some(snapIds(1))).count() == 5L)
    // delete commits keep next-row-id unchanged and stamp first-row-id
    val m3 = latestMeta(path)
    assert(m3.get("next-row-id").asLong == 3L)
    val delSnap = { val arr = m3.get("snapshots"); arr.get(arr.size() - 1) }
    assert(delSnap.get("first-row-id").asLong == 3L)
    // metadata-only ops stay available
    Iceberg.renameColumn(spark, path, "v", "label")
    assert(Iceberg.read(spark, path).columns.toSeq == Seq("k", "label"))
    val ids2 = Iceberg.snapshots(path).map(_._1)
    Iceberg.createRef(spark, path, "pin", ids2.last, "tag")
    assert(Iceberg.refs(path).contains("pin"))
    // equality deletes remain parquet on v3 (the spec keeps them)
    Iceberg.deleteEquality(spark, path, Seq(Tuple1(4L)).toDF("k"))
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().map(_._1)
      .toSeq == Seq(5L))
    // the delete_files triage table censuses the debt by kind, from
    // metadata alone
    val delTable = spark.read.format("iceberg").option("delete_files", "true").load(path)
    assert(delTable.inputFiles.isEmpty)
    val byKind = delTable.groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(byKind("equality") == 1L && byKind("deletion-vector") >= 1L)
    assert(delTable.filter(col("kind") === "deletion-vector")
      .select("target").as[String].collect().forall(_.endsWith(".parquet")))
    assert(delTable.filter(col("kind") === "deletion-vector")
      .select("record_count").as[Long].collect().forall(_ > 0L),
      "DV rows must carry their cardinality")
    // MERGE works on v3 (identity contract locked in the lineage test)
    Iceberg.upsertByKey(spark, path,
      Seq((5L, "upd"), (6L, "new")).toDF("k", "label"), "k")
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().sortBy(_._1)
      .toSeq == Seq((5L, "upd"), (6L, "new")))
  }

  test("v3 overwrite restarts the live set and advances row lineage") {
    import spark.implicits._
    val path = freshDir("ice_v3_ow")
    Iceberg.write(Seq((1L, "a")).toDF("k", "v"), path)
    Iceberg.upgradeToV3(spark, path)
    Iceberg.write(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), path,
      mode = SaveMode.Append)
    Iceberg.write(Seq((9L, "z")).toDF("k", "v"), path, mode = SaveMode.Overwrite)
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    val m = latestMeta(path)
    assert(m.get("format-version").asInt == 3, "a write must never downgrade v3")
    // appended 2 rows then overwrote with 1: ids 0,1 then 2
    assert(m.get("next-row-id").asLong == 3L)
    val owSnap = { val arr = m.get("snapshots"); arr.get(arr.size() - 1) }
    assert(owSnap.get("first-row-id").asLong == 2L)
    // cleanup ops run on v3: expire history, reclaim orphans
    assert(Iceberg.expireSnapshots(spark, path, 1) >= 1)
    assert(Iceberg.read(spark, path).count() == 1L)
    Iceberg.removeOrphanFiles(spark, path, Long.MaxValue)
    assert(Iceberg.read(spark, path).count() == 1L)
  }

  test("v3 puffin DVs expire with their snapshots") {
    import spark.implicits._
    val path = freshDir("ice_v3_expire")
    Iceberg.write((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), path)
    Iceberg.upgradeToV3(spark, path)
    Iceberg.deleteMergeOnRead(spark, path, col("k") <= 3L)
    val dv1 = Iceberg.snapshot(spark, path).dvDeletes.head.path
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 4L) // merged DV replaces dv1
    assert(Iceberg.read(spark, path).count() == 6L)
    assert(Iceberg.expireSnapshots(spark, path, 1) >= 0)
    // the superseded puffin file is only referenced by expired
    // snapshots — after expiry it is reclaimable as an orphan would be
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration()).getRaw
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dv1)) ||
      Iceberg.removeOrphanFiles(spark, path, Long.MaxValue) >= 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dv1)),
      "the replaced DV file must be reclaimed with its history")
    assert(Iceberg.read(spark, path).count() == 6L)
  }

  test("v3 row lineage: reads inherit; compaction and copy-on-write preserve ids") {
    import spark.implicits._
    val path = freshDir("ice_v3_lineage")
    // pre-upgrade rows have NO lineage — null forever
    Iceberg.write(Seq((1L, "pre")).toDF("k", "v").coalesce(1), path)
    Iceberg.upgradeToV3(spark, path)
    Iceberg.write((2L to 4L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), path,
      mode = SaveMode.Append)
    Iceberg.write(Seq((5L, "v5")).toDF("k", "v").coalesce(1), path,
      mode = SaveMode.Append)
    def lineage(): Map[Long, (Option[Long], Option[Long])] =
      Iceberg.readWithRowLineage(spark, path)
        .select("k", Iceberg.RowIdCol, Iceberg.LastUpdCol)
        .as[(Long, Option[Long], Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val lin1 = lineage()
    assert(lin1(1L) == ((None, None)), "pre-upgrade rows read null lineage")
    // inheritance: the 3-row append starts at 0, the next at 3; the
    // inherited last-updated is each file's data sequence number
    assert(Seq(2L, 3L, 4L).map(k => lin1(k)._1) == Seq(Some(0L), Some(1L), Some(2L)))
    assert(lin1(5L) == ((Some(3L), Some(3L))))
    assert(Seq(2L, 3L, 4L).map(k => lin1(k)._2).forall(_ == Some(2L)))
    // COW update: k=3 keeps id 1 and bumps last-updated to the new
    // commit's sequence; its file-mates carry both through unchanged
    Iceberg.updateWhere(spark, path, Map("v" -> lit("v3x")), Some(col("k") === 3L))
    val lin2 = lineage()
    assert(lin2(3L)._1 == Some(1L), "an updated row keeps its _row_id")
    assert(lin2(3L)._2.exists(_ > 2L), "an updated row bumps _last_updated")
    assert(lin2(2L) == lin1(2L) && lin2(4L) == lin1(4L) && lin2(5L) == lin1(5L))
    assert(lin2(1L) == ((None, None)))
    // the rewritten file physically materializes the lineage columns
    val rewrittenFiles = Iceberg.snapshot(spark, path).files.map(_.path)
    assert(rewrittenFiles.exists { p =>
      val cols = spark.read.parquet(p).columns.toSet
      cols.contains(Iceberg.RowIdCol) && cols.contains(Iceberg.LastUpdCol)
    }, "a v3 rewrite must materialize the lineage columns in its files")
    // compaction: many files -> one, every id and last-updated stable
    Iceberg.compact(spark, path, targetBytes = 1L << 20)
    assert(Iceberg.snapshot(spark, path).files.size == 1)
    assert(lineage() == lin2, "compaction must not disturb row lineage")
    // COW delete: survivors keep their identity
    Iceberg.deleteWhere(spark, path, col("k") === 2L)
    val lin4 = lineage()
    assert(lin4.keySet == Set(1L, 3L, 4L, 5L))
    assert(Seq(1L, 3L, 4L, 5L).forall(k => lin4(k) == lin2(k)))
    // and the table read itself stays clean (no lineage cols leak)
    assert(Iceberg.read(spark, path).columns.toSeq == Seq("k", "v"))
    // v3 MoR deletes compose with lineage reads: DV-applied rows vanish
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 4L)
    val lin5 = lineage()
    assert(lin5.keySet == Set(1L, 3L, 5L) && lin5(3L) == lin2(3L))
    // MERGE: a matched update is the same logical row — it keeps its
    // _row_id with a bumped last-updated; an insert mints a fresh id
    // from next-row-id (its own manifest's range)
    val beforeNext = latestMeta(path).get("next-row-id").asLong
    Iceberg.upsertByKey(spark, path,
      Seq((3L, "merged"), (9L, "brand-new")).toDF("k", "v"), "k")
    val lin6 = lineage()
    assert(lin6.keySet == Set(1L, 3L, 5L, 9L))
    assert(lin6(3L)._1 == lin2(3L)._1, "a merged update keeps its _row_id")
    assert(lin6(3L)._2.exists(u => lin2(3L)._2.exists(_ < u)),
      "a merged update bumps _last_updated")
    assert(lin6(9L)._1 == Some(beforeNext), "an insert consumes the fresh range")
    assert(latestMeta(path).get("next-row-id").asLong == beforeNext + 1,
      "next-row-id advances by exactly the inserted rows")
    assert(lin6(1L) == ((None, None)) && lin6(5L) == lin2(5L))
    // a matched pre-upgrade row (null lineage) stays null through MERGE
    Iceberg.upsertByKey(spark, path, Seq((1L, "pre2")).toDF("k", "v"), "k")
    val lin7 = lineage()
    assert(lin7(1L) == ((None, None)))
    assert(latestMeta(path).get("next-row-id").asLong == beforeNext + 1)
    // the format("iceberg") surface serves the same lineage read
    val viaOpt = spark.read.format("iceberg").option("rowLineage", "true").load(path)
    assert(viaOpt.columns.takeRight(2).toSeq ==
      Seq("_row_id", "_last_updated_sequence_number"))
    assert(viaOpt.count() == 4L)
  }

  test("rewrites survive manifests written under the narrower pre-v3 entry schema") {
    import spark.implicits._
    val path = freshDir("ice_narrow_manifest")
    Iceberg.write(Seq((1L, "a")).toDF("k", "v").coalesce(1), path)
    Iceberg.write(Seq((2L, "b")).toDF("k", "v").coalesce(1), path, mode = SaveMode.Append)
    // rewrite every manifest with the entry schema THIS LIBRARY WROTE
    // BEFORE the v3 fields existed (9-field data_file record) — what a
    // pre-upgrade table on disk actually carries. Avro writes records
    // by POSITION, so a rewrite that re-used these records against the
    // wider current schema would read past their value arrays.
    val narrow = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"file_sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    val metaDir = Paths.get(path, "metadata")
    val manifests = Files.list(metaDir).toArray.map(_.toString)
      .filter(p => p.endsWith(".avro") && !p.contains("snap-"))
    assert(manifests.nonEmpty)
    manifests.foreach { m =>
      val in = new java.io.FileInputStream(m)
      val r = new org.apache.avro.file.DataFileStream[org.apache.avro.generic.GenericRecord](
        in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      val olds = scala.collection.mutable.ArrayBuffer.empty[org.apache.avro.generic.GenericRecord]
      while (r.hasNext) olds += r.next()
      r.close()
      val r2 = narrow.getField("data_file").schema()
      val rows = olds.map { e =>
        val odf = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        val ndf = new org.apache.avro.generic.GenericData.Record(r2)
        Seq("content", "file_path", "file_format", "record_count", "file_size_in_bytes")
          .foreach(f => ndf.put(f, odf.get(f)))
        ndf.put("partition", new org.apache.avro.generic.GenericData.Record(
          r2.getField("partition").schema()))
        val ne = new org.apache.avro.generic.GenericData.Record(narrow)
        Seq("status", "snapshot_id", "sequence_number", "file_sequence_number")
          .foreach(f => ne.put(f, e.get(f)))
        ne.put("data_file", ndf)
        ne
      }
      Files.deleteIfExists(metaDir.resolve(
        "." + Paths.get(m).getFileName.toString + ".crc"))
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](narrow))
      w.create(narrow, new java.io.File(m))
      rows.foreach(w.append)
      w.close()
    }
    // a copy-on-write delete rewrites the touched manifest: the narrow
    // records must re-emit safely under the current wider schema
    Iceberg.deleteWhere(spark, path, col("k") === 1L)
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // and compaction carries the other manifest through the same path
    Iceberg.compact(spark, path, targetBytes = 1L << 20)
    assert(Iceberg.read(spark, path).as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("changeLog mirrors the change feed: inserts, MoR + eq deletes, replace-neutral") {
    import spark.implicits._
    val path = freshDir("ice_changelog")
    Iceberg.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), path)
    Iceberg.write(Seq((4L, "d")).toDF("k", "v").coalesce(1), path,
      mode = SaveMode.Append)                                      // seq2
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 2L)        // seq3
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 1L)        // seq4
    Iceberg.deleteEquality(spark, path, Seq(Tuple1(4L)).toDF("k")) // seq5
    Iceberg.compact(spark, path, targetBytes = 1L << 20)           // seq6: replace
    def images(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select("k", "_change_type", "_sequence_number")
        .as[(Long, String, Long)].collect().toSet
    val all = images(Iceberg.changeLog(spark, path, 0L))
    assert(all == Set(
      (1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 1L),
      (4L, "insert", 2L),
      (2L, "delete", 3L),
      (1L, "delete", 4L),
      (4L, "delete", 5L)), s"got $all")
    // window scoping: (2, 4] sees only the two MoR deletes
    assert(images(Iceberg.changeLog(spark, path, 2L, Some(4L))) ==
      Set((2L, "delete", 3L), (1L, "delete", 4L)))
    // a COW overwrite reports the touched rows as delete + insert
    Iceberg.write(Seq((9L, "z")).toDF("k", "v").coalesce(1), path,
      mode = SaveMode.Overwrite)                                   // seq7
    assert(images(Iceberg.changeLog(spark, path, 6L)) ==
      Set((3L, "delete", 7L), (9L, "insert", 7L)))
    // the format surface serves the same read
    val viaOpt = spark.read.format("iceberg")
      .option("changelog", "true").option("fromSeq", "6").load(path)
    assert(images(viaOpt) == Set((3L, "delete", 7L), (9L, "insert", 7L)))
    // an empty window is an empty frame with the full schema
    val none = Iceberg.changeLog(spark, path, 7L)
    assert(none.isEmpty && none.columns.toSeq ==
      Seq("k", "v", "_change_type", "_sequence_number", "_snapshot_id"))
  }

  test("changeLog reads every window snapshot through the head schema after a column change") {
    import spark.implicits._
    val path = freshDir("ice_changelog_evolved")
    Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), path) // seq1
    // column changes add no snapshot: seq1's snapshot still records the old schema
    Iceberg.addColumn(spark, path, "n", org.apache.spark.sql.types.IntegerType)
    Iceberg.renameColumn(spark, path, "v", "w")
    Iceberg.write(Seq((3L, "c", 7)).toDF("k", "w", "n").coalesce(1), path,
      mode = SaveMode.Append)                                                 // seq2
    val all = Iceberg.changeLog(spark, path, 0L)
    assert(all.columns.toSeq ==
      Seq("k", "w", "n", "_change_type", "_sequence_number", "_snapshot_id"))
    val rows = all.select("k", "w", "n", "_change_type", "_sequence_number")
      .as[(Long, String, Option[Int], String, Long)].collect().toSet
    assert(rows == Set((1L, "a", None, "insert", 1L), (2L, "b", None, "insert", 1L),
      (3L, "c", Some(7), "insert", 2L)), s"got $rows")
    // a window that starts after the old snapshot reads it as its base too
    assert(Iceberg.changeLog(spark, path, 1L).select("k").as[Long].collect().toSeq ==
      Seq(3L))
  }

  test("streaming changelog source delivers per-commit images exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = freshDir("ice_cl_stream")
    val path = s"$base/tbl"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), path) // seq1
    def drainOnce(): Unit = {
      val q = spark.readStream.format("iceberg")
        .option("changelog", "true").option("fromSeq", "0").load(path)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def images(): Set[(Long, String, Long)] =
      spark.read.parquet(sink).select("k", "_change_type", "_sequence_number")
        .as[(Long, String, Long)].collect().toSet
    drainOnce() // fromSeq=0 windows the whole history: the create's inserts
    assert(images() == Set((1L, "insert", 1L), (2L, "insert", 1L)))
    // new commits stream incrementally: an append and a MoR delete
    Iceberg.write(Seq((3L, "c")).toDF("k", "v").coalesce(1), path,
      mode = SaveMode.Append)                                // seq2
    Iceberg.deleteMergeOnRead(spark, path, col("k") === 1L)  // seq3
    drainOnce()
    assert(images() == Set(
      (1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 2L), (1L, "delete", 3L)))
    // a compaction is row-neutral: the resumed stream delivers nothing
    Iceberg.compact(spark, path, targetBytes = 1L << 20)     // seq4: replace
    drainOnce()
    assert(images().forall(_._3 <= 3L),
      "a maintenance commit must not disturb the changelog consumer")
    // replay safety: an immediate re-drain re-delivers nothing
    drainOnce()
    assert(images().size == 4)
  }

  test("SQL DELETE on a v3 table lands as a puffin deletion vector") {
    import spark.implicits._
    val path = freshDir("ice_v3_sql")
    Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), path)
    Iceberg.upgradeToV3(spark, path)
    spark.sql("DROP TABLE IF EXISTS ice_v3_sql_t")
    spark.sql(s"CREATE TABLE ice_v3_sql_t USING iceberg OPTIONS (path '$path')")
    spark.sql("DELETE FROM ice_v3_sql_t WHERE k = 1")
    val s = Iceberg.snapshot(spark, path)
    assert(s.deletes.isEmpty && s.dvDeletes.size == 1 &&
      s.dvDeletes.head.path.endsWith(".puffin"),
      "SQL DELETE must ride the v3 deletion-vector path")
    spark.sql("REFRESH TABLE ice_v3_sql_t")
    assert(spark.sql("SELECT k FROM ice_v3_sql_t").as[Long].collect().toSeq == Seq(2L))
    spark.sql("DROP TABLE ice_v3_sql_t")
  }

  test("v3 initial-default: pre-addition files serve the default, later files their values") {
    import spark.implicits._
    val path = freshDir("ice_v3_default")
    Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), path)
    // v2 tables must not carry defaults (spec: v3 feature)
    val eV2 = intercept[IllegalArgumentException](
      Iceberg.addColumn(spark, path, "tag", org.apache.spark.sql.types.StringType,
        initialDefault = Some("legacy")))
    assert(eV2.getMessage.contains("format-version 3"))
    Iceberg.upgradeToV3(spark, path)
    Iceberg.addColumn(spark, path, "tag", org.apache.spark.sql.types.StringType,
      initialDefault = Some("legacy"))
    // the pre-addition file's rows serve the default, NOT null
    val r1 = Iceberg.read(spark, path).as[(Long, String, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(r1 == Seq((1L, "a", Some("legacy")), (2L, "b", Some("legacy"))))
    // a file written WITH the column serves its stored values —
    // including a genuine null, which the default must NOT overwrite
    Iceberg.write(Seq((3L, "c", "fresh"), (4L, "d", null)).toDF("k", "v", "tag"),
      path, mode = org.apache.spark.sql.SaveMode.Append)
    val got = Iceberg.read(spark, path).as[(Long, String, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", Some("legacy")), (2L, "b", Some("legacy")),
      (3L, "c", Some("fresh")), (4L, "d", None)))
    // predicates on the defaulted column see the default too
    assert(Iceberg.read(spark, path)
      .filter(org.apache.spark.sql.functions.col("tag") === "legacy").count() == 2L)
    // a numeric default types into the JSON per the single-value rule
    Iceberg.addColumn(spark, path, "score", org.apache.spark.sql.types.LongType,
      initialDefault = Some("42"))
    assert(Iceberg.read(spark, path)
      .filter(org.apache.spark.sql.functions.col("score") === 42L).count() == 4L)
  }

  test("a superseded DV puffin file reclaims exactly when unreferenced") {
    val path = freshDir("ice_v3_puffin_gc")
    Iceberg.write(spark.range(0, 100).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1), path)
    Iceberg.upgradeToV3(spark, path)
    Iceberg.deleteMergeOnRead(spark, path, col("k") < 10L)
    val p1 = Iceberg.snapshot(spark, path).dvDeletes.head.path
    // the second delete MERGES the file's vector: a new puffin blob
    // supersedes p1, whose entry leaves the carried manifests
    Iceberg.deleteMergeOnRead(spark, path, col("k") >= 10L && col("k") < 20L)
    val s2 = Iceberg.snapshot(spark, path)
    assert(s2.dvDeletes.size == 1 && s2.dvDeletes.head.path != p1)
    val p2 = s2.dvDeletes.head.path
    def exists(p: String) =
      new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath).isFile
    assert(exists(p1) && exists(p2))
    // orphan cleanup must NOT reclaim p1: the first delete's snapshot
    // is retained history and still references it
    Iceberg.removeOrphanFiles(spark, path, System.currentTimeMillis() + 10000)
    assert(exists(p1), "a history-referenced puffin file must survive orphan cleanup")
    assert(exists(p2))
    assert(Iceberg.read(spark, path).count() == 80L)
    // expiring that history makes p1 unreferenced -> reclaimed; the
    // live superseding blob survives and reads stay correct
    assert(Iceberg.expireSnapshots(spark, path, 1) >= 1)
    assert(!exists(p1), "a superseded, unreferenced puffin file must be reclaimed")
    assert(exists(p2))
    assert(Iceberg.read(spark, path).count() == 80L)
  }

  test("v3 read gates: unknown future format version refuses at the door") {
    import spark.implicits._
    val path = freshDir("ice_v3_gate")
    Iceberg.write(Seq((1L, "a")).toDF("k", "v"), path)
    Iceberg.upgradeToV3(spark, path)
    val dir = Paths.get(path, "metadata")
    val mf = Files.list(dir).toArray.map(_.toString)
      .filter(_.endsWith(".metadata.json")).max
    val name = Paths.get(mf).getFileName.toString
    Files.deleteIfExists(dir.resolve("." + name + ".crc"))
    val text = new String(Files.readAllBytes(Paths.get(mf)), "UTF-8")
    Files.write(Paths.get(mf), text.replace("\"format-version\" : 3",
      "\"format-version\" : 4").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](Iceberg.read(spark, path))
    assert(e2.getMessage.contains("format-version 4"))
  }
}
