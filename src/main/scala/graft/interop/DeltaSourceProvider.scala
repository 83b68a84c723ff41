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

/** `spark.read.format("delta")` / `df.write.format("delta")` over
  * [[DeltaLake]] — the familiar surface for users coming FROM Delta,
  * resolvable here because no Delta jar is on the classpath to claim
  * the short name (ServiceLoader registration; if a real Delta build
  * is ever added, remove this registration and keep the library API).
  *
  * Read options: `versionAsOf` (time travel). Write: modes
  * `overwrite`/`append` plus `.partitionBy(...)`, all landing through
  * the atomic log-commit protocol in [[DeltaLake.write]]. */
final class DeltaSourceProvider extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  /** Streaming sink: `df.writeStream.format("delta").start(tbl)` with
    * the protocol's `txn`-action exactly-once (see
    * [[org.apache.spark.sql.graft.DeltaSink]]). Append mode only —
    * the log is an append journal; update/complete semantics belong
    * to foreachBatch + upsertByKey. */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val path = pathOf(parameters)
    require(outputMode == OutputMode.Append(),
      s"delta sink: only Append output mode is supported ($outputMode given); " +
        "use foreachBatch + DeltaLake.upsertByKey for update semantics")
    // NO shared default: two queries silently skipping each other's
    // batch ids under one appId would be silent data loss. The
    // checkpoint location (unique per query by construction) is the
    // natural identity; the full path avoids hash collisions.
    val appId = opt(parameters, "txnAppId")
      .orElse(opt(parameters, "checkpointLocation").map("ckpt:" + _))
      .getOrElse(throw new IllegalArgumentException(
        "delta sink: set option(\"txnAppId\", ...) — or pass checkpointLocation " +
          "as a writer option — so exactly-once batch ids are scoped per query"))
    new org.apache.spark.sql.graft.DeltaSink(path, appId, partitionColumns)
  }

  override def shortName(): String = "delta"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException("delta: 'path' is required"))

  private def opt(parameters: Map[String, String], name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  private def wantsCdf(parameters: Map[String, String]): Boolean =
    opt(parameters, "readChangeFeed").exists(_.toBoolean)

  private def cdfSchema(table: StructType): StructType =
    StructType(table.fields ++ Seq(
      StructField("_change_type", StringType), StructField("_commit_version", LongType)))

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("delta", schema.getOrElse {
      val table = StreamSchemaTracking.serving(opt(parameters, "schemaTrackingLocation"),
        DeltaLake.snapshot(sqlContext.sparkSession, pathOf(parameters)).schema)
      if (wantsCdf(parameters)) cdfSchema(table) else table
    })

  /** Streaming read: `spark.readStream.format("delta").load(tbl)` tails
    * the transaction log through [[TailSource]]. Options:
    * `startingVersion` (first version a fresh stream emits; default
    * bootstraps the current snapshot), `ignoreChanges` (re-emit rewrite
    * versions instead of failing), `schemaTrackingLocation`, and
    * `readChangeFeed` (stream [[DeltaLake.changeFeed]]; a fresh stream
    * without `startingVersion` serves new commits only). */
  override def createSource(
      sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession.asInstanceOf[ClassicSession]
    val snap = DeltaLake.snapshot(spark, path)
    val start = opt(parameters, "startingVersion").map(_.toLong - 1L)
    if (wantsCdf(parameters)) {
      require(snap.cdfEnabled,
        s"delta source: $path does not have delta.enableChangeDataFeed=true — " +
          "enable the change data feed before streaming it")
      return new TailSource(spark, new DeltaTail(spark, path, snap, snap.schema),
        schema.getOrElse(cdfSchema(snap.schema)), feed = true, start)
    }
    // raw file unions cannot subtract deletion-vector rows: a bootstrap
    // over DV debt would re-serve deleted rows
    require(!snap.hasDeletionVectors,
      s"delta source: $path carries deletion vectors — a streaming bootstrap over " +
        "merge-on-read delete debt would re-serve deleted rows. Rewrite the table " +
        "(copy-on-write delete / compaction) before tailing it.")
    val tracking = opt(parameters, "schemaTrackingLocation")
    require(tracking.isEmpty || snap.mapMode.isEmpty,
      s"delta source: schemaTrackingLocation over a column-mapped table " +
        s"(delta.columnMapping.mode=${snap.mapMode.getOrElse("")}) is not supported")
    val pinned = schema.getOrElse(StreamSchemaTracking.serving(tracking, snap.schema))
    new TailSource(spark, new DeltaTail(spark, path, snap, pinned), pinned, feed = false, start,
      ignoreChanges = opt(parameters, "ignoreChanges").exists(_.toBoolean),
      schemaTracking = tracking)
  }

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
      return inspection(DeltaLake.history(sqlContext.sparkSession, path))
    if (opt(parameters, "files").exists(_.toBoolean))
      return inspection(DeltaLake.files(sqlContext.sparkSession, path))
    if (opt(parameters, "partitions").exists(_.toBoolean))
      return inspection(DeltaLake.partitions(sqlContext.sparkSession, path))
    if (opt(parameters, "readChangeFeed").exists(_.toBoolean)) {
      val outer = sqlContext
      val feed = DeltaLake.changeFeed(outer.sparkSession, path,
        opt(parameters, "startingVersion").map(_.toLong).getOrElse(0L),
        opt(parameters, "endingVersion").map(_.toLong))
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = outer
        override val schema = feed.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = feed.rdd
      }
    }
    val versionAsOf = opt(parameters, "versionAsOf").map(_.toLong)
      .orElse(opt(parameters, "timestampAsOf").map { ts =>
        DeltaLake.versionAsOf(path, java.sql.Timestamp.valueOf(ts).getTime)
      })
    // row tracking as a read option: the table's columns plus
    // _row_id / _row_commit_version
    if (opt(parameters, "rowTracking").exists(_.toBoolean)) {
      val tracked = DeltaLake.readWithRowTracking(
        sqlContext.sparkSession, path, versionAsOf)
      val outer = sqlContext
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = outer
        override val schema = tracked.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          tracked.rdd
      }
    }
    DeltaLake.relationFor(sqlContext.sparkSession, path, versionAsOf)
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
    val exists = DeltaLake.isDeltaTable(path)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(s"delta: $path already exists (mode=errorifexists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        DeltaLake.write(data, path, partitionBy, SaveMode.Append,
          mergeSchema = opt(parameters, "mergeSchema").exists(_.toBoolean)): Unit
      case _ =>
        DeltaLake.write(data, path, partitionBy, SaveMode.Overwrite): Unit
    }
    createRelation(sqlContext, parameters)
  }
}

/** The [[Tail]] of a Delta table; offsets are log versions. A window's
  * files are exactly the `add` actions of its versions, and a version
  * carrying data-changing `remove` actions (overwrite, delete) makes it
  * non-append; maintenance (`dataChange=false`) versions contribute
  * nothing. An add carrying a deletion vector is refused even under
  * `ignoreChanges`: a file-level tail cannot subtract its deleted rows.
  * The data files of a column-mapped table speak PHYSICAL names, stable
  * across later renames, so the tail scans physical names (partition
  * values are keyed by them too) and renames to the `pinned` logical
  * schema. */
private final class DeltaTail(
    spark: ClassicSession, val path: String, snap: DeltaLake.Snapshot, pinned: StructType)
    extends Tail {
  val name = "delta"
  val origin = -1L

  // same gate as the batch path: with the conf off, an id-mode scan
  // would silently fall back to (stale) physical-name matching
  if (snap.isIdMode)
    require(spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false") == "true",
      s"delta source: $path uses delta.columnMapping.mode=id — set " +
        "spark.sql.parquet.fieldId.read.enabled=true (at session build) to tail it")

  lazy val fileSchema: StructType =
    if (snap.mapMode.isEmpty) pinned
    else StructType(snap.rawSchema.map(DeltaLake.physicalField(_, snap.isIdMode, path)))
  private lazy val physName: Map[String, String] =
    pinned.fieldNames.zip(fileSchema.fieldNames).toMap

  override def logical(scan: DataFrame): DataFrame =
    DeltaLake.fromPhysicalDf(scan, snap.rawSchema, snap.mapMode)

  def head(): Option[Long] = DeltaLake.versions(path).lastOption

  def bootstrap(at: Long): Seq[Versioned.ManifestEntry] = {
    val s = DeltaLake.snapshot(spark, path, Some(at))
    require(!s.hasDeletionVectors,
      s"delta source: $path carries deletion vectors at v$at — a bootstrap over " +
        "merge-on-read delete debt would re-serve deleted rows")
    s.files.map(entry)
  }

  def window(from: Long, to: Long): Tail.Window = {
    val versions = from + 1L to to
    val changes = versions.map(DeltaLake.changesIn(path, _))
    versions.zip(changes).foreach { case (v, (adds, _)) =>
      require(adds.forall(_.dv.isEmpty),
        s"delta source: version $v of $path adds deletion-vector files — a file-level " +
          "tail cannot subtract their rows; rewrite the table before tailing past it")
    }
    Tail.Window(changes.flatMap(_._1).map(entry), appendOnly = !changes.exists(_._2),
      schemas = versions.flatMap(v => DeltaLake.schemaChangeIn(path, v).map(v -> _)))
  }

  // the log's partitionValues are keyed by PHYSICAL name
  private def entry(f: DeltaLake.AddFile): Versioned.ManifestEntry =
    Versioned.ManifestEntry(f.path, snap.partitionColumns.map { c =>
      val p = physName(c)
      p + "=" + f.partitionValues.getOrElse(p, None).map(Hive.escapePathName)
        .getOrElse(Hive.DefaultPartition)
    }.mkString("/"), size = Some(f.size))

  def changes(from: Long, to: Long): DataFrame =
    DeltaLake.changeFeed(spark, path, from + 1L, Some(to))
}
