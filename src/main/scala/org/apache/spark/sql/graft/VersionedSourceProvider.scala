/* The graft-versioned connector's provider, in the Spark namespace
 * beside the relations and the streaming source it serves. */
package org.apache.spark.sql.graft

import graft.ingest.Versioned
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{
  BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider,
  StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** `format("graft-versioned")` provider (registered via
  * META-INF/services for [[DataSourceRegister]]). Options: `path`
  * (required), `ignoreChanges` (default false), `startingVersion`
  * (first version a FRESH stream emits — skip the backlog; a
  * checkpointed offset always wins on restart), `maxVersionsPerBatch`
  * (bound each micro-batch to N commits — backlog catch-up in
  * checkpointable steps), and `statsFilterColumn` +
  * `statsFilterLower` + `statsFilterUpper` (all three together): a
  * FILTERED TAIL — each micro-batch plans only the appended files
  * whose manifest statistics (appendCommit's statsCols) may intersect
  * the inclusive range. Bounds are parsed against the column's type
  * (numeric columns numerically, everything else as the canonical
  * string encodings). Pruning drops IO, not rows the consumer's own
  * filter wouldn't drop — files without stats always stream.
  *
  * `readChangeFeed=true` + `keyColumn` switch the source to CDF mode:
  * each micro-batch is [[graft.ingest.Versioned.changeFeed]] over its
  * version range (commit_version + change_type + row images), so
  * rewrite commits stream as keyed diffs and merge-on-read deletes as
  * before-images instead of failing the append-log contract —
  * engine-checkpointed exactly-once materialized-view consumption
  * (stream_t11's loop as a first-class source). `startingVersion`
  * keeps its meaning (first version whose CHANGES stream; without it
  * a fresh stream bootstraps the oldest snapshot as inserts);
  * `maxVersionsPerBatch` still bounds catch-up; `statsFilter*` is
  * refused (feeds are diffs, not file scans). */
class VersionedSourceProvider extends StreamSourceProvider with RelationProvider
    with CreatableRelationProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  /** Batch read: `spark.read.format("graft-versioned").load(tbl)` —
    * resolves one committed snapshot (current, `versionAsOf`, or
    * `timestampAsOf`) into a [[HadoopFsRelation]] whose
    * [[VersionedFileIndex]] serves partition pruning and manifest-stats
    * file skipping inside Catalyst planning, with Spark's vectorized
    * parquet reader (and its row-group pushdown) unchanged below.
    *
    * Served losslessly only when every owning version maps to the
    * target schema by IDENTITY (nullability erased, same column ids)
    * and no merge-on-read debt is outstanding — the shapes where a file
    * list IS the snapshot. Anything needing per-version alignment
    * (renames over unrewritten files, MoR deletes) fails loudly toward
    * [[graft.ingest.Versioned.read]], which serves them all.
    *
    * `option("readChangeFeed", "true")` switches the read to the CDF
    * surface instead: [[graft.ingest.Versioned.changeFeed]] over
    * `startingVersion` (default: the oldest committed version, which
    * bootstraps that snapshot as inserts — Delta's startingVersion=0
    * shape) .. `endingVersion` (default: current), keyed on the
    * mandatory `keyColumn` option (this format's CDF for rewrite
    * commits is a keyed diff, not a logged file set). The feed frame is
    * computed through the library API and served via a [[TableScan]] —
    * feeds are O(changed rows), already far below scan-pruning size. */
  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters)
    def opt(name: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    if (opt("history").exists(_.toBoolean)) {
      // DESCRIBE HISTORY surface: one row per committed version,
      // classified from the protocol's own artifacts (Versioned.history)
      val outer = sqlContext
      val hist = Versioned.history(outer.sparkSession, path)
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = outer
        override val schema: StructType = hist.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = hist.rdd
      }
    }
    if (opt("readChangeFeed").exists(_.toBoolean)) {
      val key = opt("keyColumn").getOrElse(throw new IllegalArgumentException(
        "graft-versioned CDF: option(\"keyColumn\", ...) is required — change rows " +
          "for rewrite commits are a keyed snapshot diff"))
      val cur = Versioned.currentVersion(path).getOrElse(throw new IllegalArgumentException(
        s"graft-versioned: no committed version under $path"))
      val from = opt("startingVersion").map(_.toLong)
        .getOrElse(Versioned.versions(path).head)
      val to = opt("endingVersion").map(_.toLong).getOrElse(cur)
      val outer = sqlContext
      val feed = Versioned.changeFeed(outer.sparkSession, path, from, to, key)
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = outer
        override val schema: StructType = feed.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = feed.rdd
      }
    }
    val version: Long = opt("versionAsOf").map(_.toLong)
      .orElse(opt("timestampAsOf").map { ts =>
        val ms = java.sql.Timestamp.valueOf(ts).getTime
        Versioned.versionAsOf(path, ms).getOrElse(throw new IllegalArgumentException(
          s"graft-versioned: no version of $path committed at or before $ts"))
      })
      .getOrElse(Versioned.currentVersion(path).getOrElse(
        throw new IllegalArgumentException(s"graft-versioned: no committed version under $path")))
    val entries = Versioned.manifest(path, version)
    // a snapshot carrying merge-on-read debt (deletion vectors / legacy
    // keyed delete files) cannot be served as a bare file list: fall
    // back to the library read path, which applies the vectors — SQL
    // keeps working between a DELETE FROM and the next compaction, at
    // the cost of FileIndex pruning until the debt folds
    if (entries.exists(_.kind != Versioned.KindData))
      return new GraftVersionedMoRRelation(sqlContext, path, version)
    // nullability-ERASED, like the library read path: a rewrite commit
    // (UPDATE/MERGE read-backs) legitimately flips NOT NULL flags, and a
    // catalog table that pinned the bootstrap's non-null schema must
    // keep resolving across that — nullability is not part of the
    // format's schema identity
    val schema = Versioned.nullabilityErased(
      Versioned.schemaAt(path, version).getOrElse(
        throw new IllegalArgumentException(
          s"graft-versioned: $path@v$version predates schema metadata — use Versioned.read")))
    val ids = Versioned.columnIds(path, version)
    val erasedTarget = Versioned.nullabilityErased(schema).json
    val owners = entries.map(e => e.relPath.takeWhile(_ != '/').drop(1).toLong).distinct
    owners.foreach { w =>
      val ok = Versioned.schemaAt(path, w)
        .exists(s => Versioned.nullabilityErased(s).json == erasedTarget) &&
        Versioned.columnIds(path, w) == ids
      require(ok, s"graft-versioned: $path@v$version spans a schema evolution " +
        s"(owning version $w differs) — use Versioned.read, which aligns through column ids")
    }
    val partCols: Seq[String] =
      entries.find(_.partDir.nonEmpty).map(_.partDir.split("/").toSeq.map(_.takeWhile(_ != '=')))
        .getOrElse(Seq.empty)
    require(entries.forall(e =>
      e.partDir.split("/").toSeq.filter(_.nonEmpty).map(_.takeWhile(_ != '=')) ==
        (if (entries.exists(_.partDir.nonEmpty)) partCols else Seq.empty)),
      s"graft-versioned: $path@v$version mixes partition layouts — use Versioned.read")
    val spark = sqlContext.sparkSession.asInstanceOf[ClassicSession]
    val index = new VersionedFileIndex(spark, path, entries, schema, partCols)
    val dataSchema = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    new GraftVersionedRelation(spark, path, index, index.partitionSchema, dataSchema)
  }

  /** Batch write: `df.write.format("graft-versioned").mode(...)
    * .save(tbl)` — every mode lands through the MANIFEST COMMIT
    * PROTOCOL, never by dropping files into a directory:
    *
    *  - `overwrite` (and first write in any mode) → a full snapshot
    *    commit; `.partitionBy(cols)` → `commitPartitioned` with the
    *    Hive layout the MERGE/pruning paths expect;
    *  - `append` → `appendCommit`, the O(delta) path — concurrent
    *    same-schema appends rebase instead of serializing. An
    *    `option("batchId", id)` upgrades it to the idempotent
    *    `appendCommitOnce` (a replayed job is a no-op, the
    *    exactly-once contract streaming sinks rely on);
    *    `option("statsCols", "a,b")` records per-file min/max for the
    *    new files so filtered readers skip them;
    *  - `errorifexists` / `ignore` keep their SaveMode contracts
    *    against the table's COMMITTED existence (a concurrently-racing
    *    first commit is still arbitrated by the `_claim` protocol).
    *
    * `.partitionBy` with append is refused: appends add an
    * unpartitioned delta, and mixing layouts under one snapshot would
    * push every reader off the partition-pruned fast path — the
    * partition-preserving merge is `Versioned.upsertPartitioned`. */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    def opt(name: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val partCols: Seq[String] =
      opt(DataSourceUtils.PARTITIONING_COLUMNS_KEY)
        .map(DataSourceUtils.decodePartitioningColumns).getOrElse(Seq.empty)
    val statsCols: Seq[String] =
      opt("statsCols").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exists = Versioned.currentVersion(path).isDefined
    def fullCommit(): Unit =
      if (partCols.nonEmpty) Versioned.commitPartitioned(data, path, partCols: _*)
      else Versioned.commit(data, path)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"graft-versioned: $path already has a committed version (mode=errorifexists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        require(partCols.isEmpty,
          "graft-versioned: partitionBy+append would mix layouts under one snapshot — " +
            "use Versioned.upsertPartitioned for partition-preserving merges")
        opt("batchId") match {
          case Some(id) => Versioned.appendCommitOnce(data, path, id)
          case None     => Versioned.appendCommit(data, path, statsCols = statsCols)
        }
      case _ => fullCommit()
    }
    // Hand back the read relation so Spark's cache invalidation sees the
    // table; a snapshot the strict batch reader refuses (e.g. appending
    // onto merge-on-read debt is legal) degrades to a schema-only stub.
    try createRelation(sqlContext, parameters) catch {
      case _: RuntimeException =>
        val ctx = sqlContext
        new BaseRelation {
          override def sqlContext: SQLContext = ctx
          override def schema: StructType = data.schema
        }
    }
  }

  /** Streaming SINK: `df.writeStream.format("graft-versioned")
    * .option("path", tbl).start()` — each micro-batch lands as an
    * idempotent [[Versioned.appendCommitOnce]] keyed by
    * `<sinkId>#<batchId>`, so a batch replayed after a crash (committed,
    * but the engine's checkpoint had not advanced) commits NOTHING
    * twice: application-level exactly-once stacked on the engine's
    * guarantee, and concurrent readers of the table only ever see whole
    * committed snapshots. `sinkId` defaults from the checkpoint
    * location — the stable identity of a restarted query — so two
    * different queries appending to one table cannot collide on batch
    * numbers. `option("statsCols", "a,b")` records per-file min/max on
    * each micro-batch's files, which the streaming SOURCE's stats
    * pruning and the batch connector's FileIndex both serve — a stream
    * that tails this table skips files the filter excludes.
    *
    * Append output mode only: the table is an append-log here; update/
    * complete semantics belong to the foreachBatch MERGE patterns
    * (stream_t9/t11), where the key mapping is explicit. */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val path = pathOf(parameters)
    def opt(name: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    require(outputMode == OutputMode.Append(),
      s"graft-versioned sink: only Append output mode lands an append-log ($outputMode given); " +
        "use foreachBatch + Versioned.upsert for update semantics")
    require(partitionColumns.isEmpty,
      "graft-versioned sink: partitionBy is not supported — appends are unpartitioned deltas")
    val sinkId = opt("sinkId")
      .orElse(opt("checkpointLocation").map(p => "ckpt-" + Integer.toHexString(p.hashCode)))
      .getOrElse("sink")
    val statsCols: Seq[String] =
      opt("statsCols").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    new VersionedSink(path, sinkId, statsCols)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-versioned source: 'path' option is required"))

  private def resolveSchema(schema: Option[StructType], path: String): StructType =
    schema.orElse(Versioned.schemaOf(path)).getOrElse(
      throw new IllegalArgumentException(
        s"graft-versioned source: $path has no committed version (or predates schema " +
          "metadata) and no schema was supplied — commit first or pass .schema(...)"))

  private def cdfKeyOf(parameters: Map[String, String]): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v }
      .filter(_.toBoolean)
      .map { _ =>
        parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("keyColumn") => v }
          .getOrElse(throw new IllegalArgumentException(
            "graft-versioned CDF source: option(\"keyColumn\", ...) is required — change " +
              "rows for rewrite commits are a keyed snapshot diff"))
      }

  /** The streamed feed's schema, pinned from the TABLE schema at stream
    * start: [[graft.ingest.Versioned.changeFeed]]'s column contract
    * (commit_version, key, change_type, schema_change, non-key columns
    * alphabetically), everything nullable so pre-drift rows can NULL-fill. */
  private def cdfSchema(table: StructType, key: String): StructType = {
    require(table.fieldNames.contains(key),
      s"graft-versioned CDF source: keyColumn '$key' is not a table column " +
        s"(${table.fieldNames.mkString(", ")})")
    val others = table.fields.filterNot(_.name == key).sortBy(_.name)
      .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true))
    StructType(
      org.apache.spark.sql.types.StructField("commit_version",
        org.apache.spark.sql.types.LongType, nullable = true) +:
      org.apache.spark.sql.types.StructField(key, table(key).dataType, nullable = true) +:
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType, nullable = true) +:
      org.apache.spark.sql.types.StructField("schema_change",
        org.apache.spark.sql.types.BooleanType, nullable = true) +:
      others.toIndexedSeq)
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = pathOf(parameters)
    cdfKeyOf(parameters) match {
      case Some(key) => (shortName(), cdfSchema(resolveSchema(None, path), key))
      case None      => (shortName(), resolveSchema(schema, path))
    }
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    val ignoreChanges = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("ignoreChanges") => v }
      .exists(_.toBoolean)
    val startingVersion = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("startingVersion") => v.toLong }
    val maxVersions = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("maxVersionsPerBatch") => v.toLong }
    require(maxVersions.forall(_ >= 1),
      s"graft-versioned source: maxVersionsPerBatch must be >= 1, got $maxVersions")
    val resolved = resolveSchema(schema, path)
    def opt(name: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val statsFilter = (opt("statsFilterColumn"), opt("statsFilterLower"), opt("statsFilterUpper")) match {
      case (None, None, None) => None
      case (Some(c), Some(lo), Some(hi)) =>
        val field = resolved.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft-versioned source: statsFilterColumn '$c' is not a column of $path " +
              s"(${resolved.fieldNames.mkString(", ")})"))
        // bounds must compare in the SAME domain the stats were written
        // in: numeric columns numerically (exact decimal), everything
        // else as the canonical string encodings
        def typed(s: String): Any = field.dataType match {
          case _: org.apache.spark.sql.types.NumericType => new java.math.BigDecimal(s)
          case _                                         => s
        }
        Some((c, typed(lo), typed(hi)))
      case _ =>
        throw new IllegalArgumentException(
          "graft-versioned source: statsFilterColumn, statsFilterLower and statsFilterUpper " +
            "must be set together")
    }
    val spark = sqlContext.sparkSession.asInstanceOf[ClassicSession]
    val cdfKey = cdfKeyOf(parameters)
    require(cdfKey.isEmpty || statsFilter.isEmpty,
      "graft-versioned CDF source: statsFilter* options apply to the append-log tail, " +
        "not the change feed (rewrite feeds are keyed diffs, not file scans)")
    new TailSource(spark, new VersionedTail(spark, path, resolved, statsFilter, cdfKey),
      cdfKey.fold(resolved)(cdfSchema(resolveSchema(None, path), _)), feed = cdfKey.isDefined,
      startingVersion.map(_ - 1L), ignoreChanges, maxVersions)
  }
}

/** The [[Tail]] of a [[Versioned]] table; offsets are versions. A
  * window's files are manifest(to) minus manifest(from), where version
  * 0 is the empty table, and it only appended when manifest(from)
  * survives whole into manifest(to). Merge-on-read delete commits add
  * no data files, so with `ignoreChanges` they stream as empty batches.
  * A FILTERED tail drops appended files whose manifest statistics
  * cannot intersect the range before anything is listed or opened;
  * files without statistics always stream, and the consumer's own row
  * filter stays responsible for exactness. The feed is
  * [[Versioned.changeFeed]] keyed on `cdfKey`: an unwindowed feed starts
  * at the retention floor, bootstrapping that snapshot as inserts. A
  * checkpoint below the floor fails loudly at the manifest read. The
  * schema is pinned at stream start; files appended later with more
  * columns still read, the extra columns ignored. */
private final class VersionedTail(
    spark: ClassicSession, val path: String, val fileSchema: StructType,
    statsFilter: Option[(String, Any, Any)], cdfKey: Option[String]) extends Tail {
  val name = "graft-versioned"
  val origin = 0L
  def head(): Option[Long] = Versioned.currentVersion(path)
  def bootstrap(at: Long): Seq[Versioned.ManifestEntry] = window(origin, at).files

  def window(from: Long, to: Long): Tail.Window = {
    val mFrom = if (from == origin) Set.empty[Versioned.ManifestEntry]
      else Versioned.manifest(path, from).toSet
    val mTo = Versioned.manifest(path, to)
    val added = mTo.filterNot(mFrom).filter(_.kind == Versioned.KindData)
    Tail.Window(
      statsFilter.fold(added) { case (c, lo, hi) =>
        added.filter(Versioned.statsMayOverlap(_, c, lo, hi))
      },
      appendOnly = mFrom.subsetOf(mTo.toSet))
  }

  def changes(from: Long, to: Long): DataFrame =
    Versioned.changeFeed(spark, path, from + 1L, to, cdfKey.get)

  override def feedOrigin: Option[Long] = Some(Versioned.versions(path).head - 1L)
}
