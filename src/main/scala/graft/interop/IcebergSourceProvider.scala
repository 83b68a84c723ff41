package graft.interop

import graft.ingest.Versioned
import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{
  BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider,
  StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.graft.{StreamSchemaTracking, Tail, TailSource}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.read.format("iceberg")` / `df.write.format("iceberg")` over
  * [[Iceberg]] — the familiar surface for users coming from Iceberg,
  * resolvable because no Iceberg jar is on the classpath to claim the
  * short name. Read option: `snapshotId` (time travel). Write modes:
  * overwrite/append with `.partitionBy(...)` (identity transforms). */
final class IcebergSourceProvider extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  /** Streaming sink: `df.writeStream.format("iceberg").start(tbl)` —
    * summary-property exactly-once (see
    * [[org.apache.spark.sql.graft.IcebergSink]]). Append mode only. */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val path = pathOf(parameters)
    require(outputMode == OutputMode.Append(),
      s"iceberg sink: only Append output mode is supported ($outputMode given)")
    // no shared default appId — see the delta sink's reasoning
    val appId = opt(parameters, "appId")
      .orElse(opt(parameters, "checkpointLocation").map("ckpt:" + _))
      .getOrElse(throw new IllegalArgumentException(
        "iceberg sink: set option(\"appId\", ...) — or pass checkpointLocation " +
          "as a writer option — so exactly-once epochs are scoped per query"))
    new org.apache.spark.sql.graft.IcebergSink(path, appId, partitionColumns)
  }

  override def shortName(): String = "iceberg"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException("iceberg: 'path' is required"))

  private def changelogSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(StructField("_change_type", StringType),
      StructField("_sequence_number", LongType), StructField("_snapshot_id", LongType)))

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("iceberg", schema.getOrElse {
      val base = StreamSchemaTracking.serving(opt(parameters, "schemaTrackingLocation"),
        Iceberg.snapshot(sqlContext.sparkSession, pathOf(parameters)).schema)
      if (opt(parameters, "changelog").exists(_.toBoolean)) changelogSchema(base) else base
    })

  /** Streaming read: `spark.readStream.format("iceberg").load(tbl)` tails
    * the snapshot log through [[TailSource]], sequence numbers as
    * offsets. Options: `ignoreChanges` (re-emit overwrite snapshots
    * instead of failing), `schemaTrackingLocation`, and `changelog`
    * (stream [[Iceberg.changeLog]] after the exclusive `fromSeq`; a
    * fresh stream without it serves new commits only). */
  override def createSource(
      sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession.asInstanceOf[ClassicSession]
    val snap = Iceberg.snapshot(spark, path)
    if (opt(parameters, "changelog").exists(_.toBoolean))
      return new TailSource(spark, new IcebergTail(spark, path, snap, snap.schema),
        schema.getOrElse(changelogSchema(snap.schema)), feed = true,
        opt(parameters, "fromSeq").map(_.toLong))
    val tracking = opt(parameters, "schemaTrackingLocation")
    val pinned = schema.getOrElse(StreamSchemaTracking.serving(tracking, snap.schema))
    new TailSource(spark, new IcebergTail(spark, path, snap, pinned), pinned, feed = false,
      start = None, ignoreChanges = opt(parameters, "ignoreChanges").exists(_.toBoolean),
      schemaTracking = tracking)
  }

  private def opt(parameters: Map[String, String], name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters)
    def inspection(df: org.apache.spark.sql.DataFrame): BaseRelation = {
      val outer = sqlContext
      new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = outer
        override val schema = df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = df.rdd
      }
    }
    if (opt(parameters, "history").exists(_.toBoolean))
      return inspection(Iceberg.history(sqlContext.sparkSession, path))
    // the changelog read: fromSeq (exclusive) .. toSeq (inclusive,
    // default current) — the mirror of delta's readChangeFeed
    if (opt(parameters, "changelog").exists(_.toBoolean)) {
      val from = opt(parameters, "fromSeq").map(_.toLong).getOrElse(0L)
      val toS = opt(parameters, "toSeq").map(_.toLong)
      return inspection(Iceberg.changeLog(sqlContext.sparkSession, path, from, toS))
    }
    if (opt(parameters, "manifests").exists(_.toBoolean))
      return inspection(Iceberg.manifestsTable(sqlContext.sparkSession, path))
    if (opt(parameters, "snapshots").exists(_.toBoolean))
      return inspection(Iceberg.snapshotsTable(sqlContext.sparkSession, path))
    if (opt(parameters, "refs").exists(_.toBoolean))
      return inspection(Iceberg.refsTable(sqlContext.sparkSession, path))
    if (opt(parameters, "files").exists(_.toBoolean))
      return inspection(Iceberg.files(sqlContext.sparkSession, path))
    if (opt(parameters, "delete_files").exists(_.toBoolean))
      return inspection(Iceberg.deleteFilesTable(sqlContext.sparkSession, path))
    if (opt(parameters, "partitions").exists(_.toBoolean))
      return inspection(Iceberg.partitions(sqlContext.sparkSession, path))
    val snapshotId = opt(parameters, "snapshotId").map(_.toLong)
      .orElse(opt(parameters, "tag").orElse(opt(parameters, "branch")).map { n =>
        Iceberg.refs(path).getOrElse(n, throw new IllegalArgumentException(
          s"iceberg: no ref '$n' on $path"))._1
      })
      .orElse(opt(parameters, "asOfTimestamp").map { ts =>
        Iceberg.snapshotAsOf(path, java.sql.Timestamp.valueOf(ts).getTime)
      })
    // v3 row lineage as a read option: the table's columns plus
    // _row_id / _last_updated_sequence_number
    if (opt(parameters, "rowLineage").exists(_.toBoolean))
      return inspection(
        Iceberg.readWithRowLineage(sqlContext.sparkSession, path, snapshotId))
    Iceberg.relationFor(sqlContext.sparkSession, path, snapshotId)
  }

  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val partitionBy: Seq[String] = parameters
      .collectFirst {
        case (k, v) if k.equalsIgnoreCase(DataSourceUtils.PARTITIONING_COLUMNS_KEY) =>
          DataSourceUtils.decodePartitioningColumns(v)
      }
      .getOrElse(Seq.empty)
    val exists = Iceberg.isIcebergTable(path)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(s"iceberg: $path already exists (mode=errorifexists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        Iceberg.write(data, path, partitionBy, SaveMode.Append,
          mergeSchema = opt(parameters, "mergeSchema").exists(_.toBoolean)): Unit
      case _ =>
        Iceberg.write(data, path, partitionBy, SaveMode.Overwrite): Unit
    }
    createRelation(sqlContext, parameters)
  }
}

/** The [[Tail]] of an Iceberg table; offsets are MAIN-lineage sequence
  * numbers (monotonic across rollbacks; branch writes stay out until
  * published). A fresh tail bootstraps the snapshot AT its end offset —
  * the live set could already hold commits past it, which the next
  * batch would re-deliver — and refuses outstanding delete debt, which
  * raw file scans cannot subtract. A window's files are the manifests
  * its snapshots added; a non-append snapshot (overwrite) makes it
  * non-append, and `replace` snapshots (compaction) contribute nothing. */
private final class IcebergTail(
    spark: ClassicSession, val path: String, snap: Iceberg.Snapshot, val fileSchema: StructType)
    extends Tail {
  val name = "iceberg"
  val origin = 0L

  def head(): Option[Long] = Some(Iceberg.currentMainSequence(path)).filter(_ != origin)

  def bootstrap(at: Long): Seq[Versioned.ManifestEntry] =
    Iceberg.snapshotIdAtSeq(path, at).toSeq.flatMap { id =>
      val s = Iceberg.snapshot(spark, path, Some(id))
      if (s.hasDeleteDebt)
        throw new IllegalStateException(
          s"iceberg source: $path carries ${s.deletes.size} position-delete, " +
            s"${s.eqDeletes.size} equality-delete file(s) and ${s.dvDeletes.size} " +
            "deletion vector(s) — a streaming bootstrap over merge-on-read delete debt " +
            "would re-serve deleted rows. Rewrite the table (copy-on-write delete or " +
            "compaction) before tailing it.")
      s.files.map(entry)
    }

  def window(from: Long, to: Long): Tail.Window = {
    val (adds, nonAppend) = Iceberg.changesBetween(spark, path, from, to)
    Tail.Window(adds.map(entry), appendOnly = !nonAppend,
      schemas = Iceberg.schemaChangeBetween(path, from, to).map(to -> _).toSeq)
  }

  private def entry(f: Iceberg.DataFileRef): Versioned.ManifestEntry =
    Versioned.ManifestEntry(new java.net.URI(f.path).getPath, snap.partitionColumns.map { c =>
      c + "=" + f.partitionValues.getOrElse(c, None).map(Hive.escapePathName)
        .getOrElse(Hive.DefaultPartition)
    }.mkString("/"), size = Some(f.sizeInBytes))

  def changes(from: Long, to: Long): DataFrame =
    Iceberg.changeLog(spark, path, from, Some(to))
}
