/* Shim-packaged on purpose: a v1 streaming Source must hand
 * MicroBatchExecution a DataFrame whose logical plan is flagged
 * isStreaming, and the constructors that build one (`Dataset.ofRows`,
 * `LogicalRelation(..., isStreaming = true)`,
 * `internalCreateDataFrame(..., isStreaming = true)`) are private[sql].
 * This file is the only place in the library that builds such a plan;
 * each table format supplies a [[Tail]] through the public graft APIs. */
package org.apache.spark.sql.graft

import graft.ingest.Versioned

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.connector.read.streaming.{
  Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The source's SCHEMA-TRACKING log (Delta's documented
  * `schemaTrackingLocation` behavior): a tiny JSON journal under
  * `<dir>/_schema_log/` recording each schema the stream has served
  * and the offset it took effect at. A mid-stream evolution
  * fails the running query ONCE (recording the evolved schema first);
  * the restarted query reads the newest entry and resumes serving the
  * evolved schema — pre-evolution files null-fill the added columns
  * at scan, so the replayed window needs no rewrite. */
object StreamSchemaTracking {
  private lazy val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def logDir(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_schema_log")

  def read(dir: String): Option[(StructType, Long)] = {
    val d = logDir(dir)
    val fs = d.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) return None
    val entries = fs.listStatus(d).map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .flatMap(n => n.stripSuffix(".json").toLongOption)
    entries.maxOption.map { v =>
      // entries are published whole ([[record]]), so one that is empty
      // or does not parse was left by an older writer that died
      // mid-append: refuse it by name, never serve a torn schema
      val f = new org.apache.hadoop.fs.Path(d, s"$v.json")
      val in = fs.open(f)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val node = try Json.readTree(text) catch {
        case _: com.fasterxml.jackson.core.JacksonException => null
      }
      if (node == null || !node.hasNonNull("schema") || !node.hasNonNull("deltaVersion"))
        throw new IllegalStateException(
          s"schemaTrackingLocation: _schema_log entry $f is empty or torn — a " +
            "schema-recording writer died mid-append; remove the entry to recover")
      (org.apache.spark.sql.types.DataType.fromJson(node.get("schema").asText)
        .asInstanceOf[StructType], node.get("deltaVersion").asLong)
    }
  }

  /** Append a schema entry (no-op when the newest entry already equals
    * it — detection can fire once per in-flight batch attempt). The
    * journal entry is published whole with the same put-if-absent the
    * commit files use ([[graft.interop.CommitFiles.publish]]): a rival
    * writer racing for the same `last+1` index loses instead of
    * silently clobbering the winner's entry —
    * if the winner recorded the SAME schema the loser no-ops (both
    * attempts of one evolution), a DIFFERENT schema fails loudly (two
    * checkpoints genuinely disagree about the table's shape). */
  def record(dir: String, schema: StructType, deltaVersion: Long): Unit = {
    if (read(dir).exists { case (s, _) => canonical(s) == canonical(schema) }) return
    val d = logDir(dir)
    val fs = d.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    fs.mkdirs(d)
    val next = fs.listStatus(d).map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .flatMap(n => n.stripSuffix(".json").toLongOption)
      .maxOption.map(_ + 1).getOrElse(0L)
    val node = Json.createObjectNode()
    node.put("schema", schema.json)
    node.put("deltaVersion", deltaVersion)
    try graft.interop.CommitFiles.publish(fs, new org.apache.hadoop.fs.Path(d, s"$next.json"),
      Json.writeValueAsString(node).getBytes("UTF-8"),
      onLost = "lost the _schema_log entry to a writer recording a DIFFERENT schema — two " +
        "streams share this tracking location; give each checkpoint its own")
    catch {
      // lost the slot: a rival recorded first — the same schema is the
      // benign double-fire, anything else is a real conflict
      case _: java.util.ConcurrentModificationException
          if read(dir).exists { case (s, _) => canonical(s) == canonical(schema) } => ()
    }
  }

  /** The schema a file tail serves: the newest tracked entry when
    * `schemaTrackingLocation` is set and has recorded one (the
    * restart-after-evolution path), else the table's current schema. */
  def serving(tracking: Option[String], current: => StructType): StructType =
    tracking.flatMap(read(_).map(_._1)).getOrElse(current)

  /** Name+type shape, metadata/nullability-blind — what evolution
    * detection compares. */
  def canonical(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => (f.name, f.dataType.sql))

  /** Old → new is ADDITIVE when every old column survives with its
    * type — the only evolution the tail auto-resumes through (dropped/
    * renamed/retyped columns would silently mis-serve history). */
  def isAdditive(oldS: StructType, newS: StructType): Boolean = {
    val newCols = canonical(newS).toMap
    canonical(oldS).forall { case (n, t) => newCols.get(n).contains(t) }
  }
}

/** What one table format supplies to [[TailSource]]. Offsets are the
  * format's monotonic commit counter (Delta log version, Iceberg
  * main-branch sequence number, Versioned version); files are
  * [[Versioned.ManifestEntry]]s whose `partDir` carries the Hive-escaped
  * partition values under their scan names. Each format keeps its own
  * gates (deletion vectors, delete debt, retention) inside these calls. */
trait Tail {
  /** The format's name in messages. */
  def name: String
  def path: String
  /** The offset before the first commit. */
  def origin: Long
  /** The newest offset, None before the first commit. */
  def head(): Option[Long]
  /** The live files at offset `at`: a fresh file tail's first batch. */
  def bootstrap(at: Long): Seq[Versioned.ManifestEntry]
  /** The files committed in (from, to]. */
  def window(from: Long, to: Long): Tail.Window
  /** The data files' scan schema, partition columns included. */
  def fileSchema: StructType
  /** Scan names → served names (Delta's column mapping renames). */
  def logical(scan: DataFrame): DataFrame = scan
  /** The change rows committed in (from, to]. */
  def changes(from: Long, to: Long): DataFrame
  /** Where an unwindowed change feed starts (an exclusive offset), or
    * None when it serves only commits after the stream first starts. */
  def feedOrigin: Option[Long] = None
}

object Tail {
  /** A window's added files, whether every commit in it only appended,
    * and each schema a commit in it declared, with its offset. */
  final case class Window(
      files: Seq[Versioned.ManifestEntry], appendOnly: Boolean,
      schemas: Seq[(Long, StructType)] = Nil)
}

/** The one streaming SOURCE behind `readStream.format("delta" |
  * "iceberg" | "graft-versioned")`, for both the file tail and the
  * change feed. Offsets are the tail's commit counter; the engine
  * checkpoints them, so a restarted stream resumes exactly once.
  *
  *  - A FILE TAIL's batch (from, to] scans exactly the files the window
  *    added — O(new data) per batch at any table size, no listing. A
  *    fresh stream serves the live snapshot at its first end offset, or
  *    the window after `start`. A non-append commit fails the query
  *    unless `ignoreChanges`, which re-emits its added files (downstream
  *    must tolerate re-delivery). Partition values reach each row as
  *    scan data typed through the pinned schema, so a new partition
  *    value compiles no new code.
  *  - A CHANGE FEED's batch is [[Tail.changes]] over the window, aligned
  *    by name to the pinned schema. A fresh stream starts after `start`,
  *    else at [[Tail.feedOrigin]], else its first batch is empty and
  *    pins the head, so only later commits stream.
  *
  * `maxVersionsPerBatch` bounds how many commits one batch advances;
  * AvailableNow pins the head at prepare time, so commits landing
  * mid-run wait for the next trigger. With `schemaTracking`, a file
  * tail pins its schema on first start and records a mid-stream
  * additive evolution before failing once ([[StreamSchemaTracking]]). */
class TailSource(
    spark: ClassicSession,
    tail: Tail,
    override val schema: StructType,
    feed: Boolean,
    start: Option[Long],
    ignoreChanges: Boolean = false,
    maxVersionsPerBatch: Option[Long] = None,
    schemaTracking: Option[String] = None,
) extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // first start under tracking: the stream's lineage is on disk before
  // any evolution can land
  schemaTracking.foreach(StreamSchemaTracking.record(_, schema, tail.head().getOrElse(0L)))

  @volatile private var availableNowCap: Option[Long] = None

  /** A fresh stream's first window starts after this offset; None is a
    * file tail's snapshot bootstrap or a feed's new-commits-only start.
    * Resolved once: a later retention advance does not move it. */
  private lazy val freshFrom: Option[Long] =
    if (feed) start.orElse(tail.feedOrigin) else start

  private def offsetOf(o: OffsetV2): Long = o.json.trim.toLong // LongOffset or SerializedOffset

  override def getOffset: Option[OffsetV1] = tail.head().map(LongOffset(_))

  override def prepareForTriggerAvailableNow(): Unit = availableNowCap = tail.head()

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head = availableNowCap.orElse(tail.head())
    val from = Option(startOffset).map(offsetOf).orElse(freshFrom)
    val end =
      if (from.isEmpty && feed) head
      else {
        val lo = from.getOrElse(tail.origin)
        head.map(h => maxVersionsPerBatch.fold(h)(n => math.min(h, lo + n))).filter(_ > lo)
      }
    end.map(LongOffset(_)).orNull
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val to = offsetOf(end)
    val from = start.map(offsetOf).orElse(freshFrom)
    if (feed) changeRows(from.filter(_ < to).map(tail.changes(_, to)))
    else scan(from.fold(tail.bootstrap(to))(window(_, to)))
  }

  override def stop(): Unit = ()

  private def window(from: Long, to: Long): Seq[Versioned.ManifestEntry] = {
    val w = tail.window(from, to)
    // a declared schema the pinned one cannot serve; an OLDER subset of
    // the pinned schema is the post-restart replay across the evolution
    // point, served under the pinned schema with added columns null-filling
    w.schemas.find { case (_, s) =>
      StreamSchemaTracking.canonical(s) != StreamSchemaTracking.canonical(schema) &&
        !StreamSchemaTracking.isAdditive(s, schema)
    }.foreach { case (at, s) => refuseSchema(at, s) }
    if (!w.appendOnly && !ignoreChanges)
      throw new IllegalStateException(
        s"${tail.name} source: offsets ($from, $to] of ${tail.path} contain a non-append " +
          "commit — a rewrite (overwrite/delete/compaction) whose remove actions a streaming " +
          "tail of an append log cannot represent. Restart from the current snapshot, or " +
          "set ignoreChanges=true to re-emit the rewritten files (downstream must tolerate " +
          "re-delivery).")
    w.files
  }

  private def refuseSchema(at: Long, evolved: StructType): Nothing = schemaTracking match {
    case Some(dir) =>
      require(StreamSchemaTracking.isAdditive(schema, evolved),
        s"${tail.name} source: offset $at of ${tail.path} evolves the schema NON-additively " +
          s"(${StreamSchemaTracking.canonical(schema)} -> " +
          s"${StreamSchemaTracking.canonical(evolved)}) — a tail cannot re-serve history " +
          "under dropped/renamed/retyped columns; restart the stream fresh from the current " +
          "snapshot")
      StreamSchemaTracking.record(dir, evolved, at)
      throw new IllegalStateException(
        s"${tail.name} source: schema of ${tail.path} changed at offset $at (additive). The " +
          "evolved schema has been recorded in the schema-tracking location — RESTART the " +
          "stream to continue; it will resume from the checkpoint serving the new schema.")
    case None =>
      throw new IllegalStateException(
        s"${tail.name} source: schema of ${tail.path} changed at offset $at — a running " +
          "tail is pinned to the schema at stream start. Set " +
          "option(\"schemaTrackingLocation\", <dir>) to let the stream record evolutions " +
          "and resume through restarts, or restart fresh from the current snapshot.")
  }

  private def quoted(n: String) = col("`" + n.replace("`", "``") + "`")

  /** The file tail's batch: ONE streaming scan over exactly `files`,
    * partition values injected by the scan from each file's `partDir`.
    * The scan stays the plan's leaf, so the executed micro-batch shows
    * the files it read ([[StreamIntrospect.lastBatchInputFiles]]). */
  private def scan(files: Seq[Versioned.ManifestEntry]): DataFrame = {
    val partCols = files.headOption.toSeq
      .flatMap(_.partDir.split("/").filter(_.nonEmpty).map(_.takeWhile(_ != '=')))
    require(files.forall(_.partDir.split("/").count(_.nonEmpty) == partCols.size),
      s"${tail.name} source: a batch of ${tail.path} mixes partitioned and unpartitioned " +
        "files — a single batch cannot serve both layouts")
    val fileSchema = tail.fileSchema
    require(partCols.forall(fileSchema.fieldNames.contains),
      s"${tail.name} source: partition columns (${partCols.mkString(", ")}) missing from " +
        "the source schema")
    val index = new VersionedFileIndex(spark, tail.path, files, fileSchema, partCols)
    val relation = HadoopFsRelation(index, index.partitionSchema,
      StructType(fileSchema.filterNot(f => partCols.contains(f.name))),
      bucketSpec = None, new ParquetFileFormat, Map.empty)(spark)
    val served = tail.logical(Dataset.ofRows(spark, LogicalRelation(relation, isStreaming = true)))
    if (served.columns.toSeq == schema.fieldNames.toSeq) served
    else served.select(schema.fieldNames.toIndexedSeq.map(quoted): _*)
  }

  /** The feed's batch: the window's change rows aligned by name to the
    * pinned schema (a column the window predates reads NULL), collapsed
    * to rows so the feed's own joins and aggregates never plan as
    * stateful streaming operators. */
  private def changeRows(changes: Option[DataFrame]): DataFrame = {
    val rows = changes.fold(spark.sparkContext.emptyRDD[InternalRow]) { df =>
      df.select(schema.fields.toIndexedSeq.map { f =>
        (if (df.columns.contains(f.name)) quoted(f.name) else lit(null)).cast(f.dataType).as(f.name)
      }: _*).queryExecution.toRdd
    }
    spark.internalCreateDataFrame(rows, schema, isStreaming = true)
  }
}

/** Plan introspection for streaming proofs, shim-packaged for the same
  * reason as the source itself (StreamingQueryWrapper and
  * IncrementalExecution are private[sql]): `foreachBatch` hands user
  * code a LogicalRDD-wrapped frame whose `inputFiles` is always empty,
  * but the micro-batch's REAL executed plan — with the source's
  * substituted file relation — survives on the stream's lastExecution.
  * This is how an entry can `require` what a batch actually scanned. */
object StreamIntrospect {
  def lastBatchInputFiles(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[String] = {
    val se = q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        w.streamingQuery
      case s: org.apache.spark.sql.execution.streaming.runtime.StreamExecution => s
    }
    Option(se.lastExecution).toSeq.flatMap(_.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten)
  }

  /** Re-flag a source's `getBatch` frame as a BATCH frame so a contract
    * spec can collect it outside MicroBatchExecution (the engine itself
    * does this substitution internally; `isStreaming` and
    * `Dataset.ofRows` are private[sql], hence this shim seam). Test
    * seam only — production consumption always goes through the
    * engine. */
  def asBatch(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[ClassicSession]
    val batchPlan = df.queryExecution.logical.transform {
      case lr: LogicalRelation if lr.isStreaming => lr.copy(isStreaming = false)
    }
    Dataset.ofRows(session, batchPlan)
  }
}
