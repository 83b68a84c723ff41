/* Batch read half of the graft-versioned connector. Lives beside the
 * streaming source in the Spark namespace for symmetry (and because the
 * streaming half genuinely needs it); everything here goes through the
 * PUBLIC extension seams — FileIndex, HadoopFsRelation, RelationProvider
 * — plus the public graft.ingest.Versioned API. */
package org.apache.spark.sql.graft

import graft.ingest.Versioned

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, Cast, EqualNullSafe, EqualTo, Expression,
  GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A Catalyst [[FileIndex]] over one committed snapshot of a
  * [[graft.ingest.Versioned]] table — the piece that makes
  * `spark.read.format("graft-versioned")` a real table-format connector
  * rather than a parquet-path shim (Delta's `TahoeFileIndex` shape).
  *
  * The planner calls [[listFiles]] with the split partition/data
  * filters, and BOTH metadata layers prune here, before a single task
  * is scheduled:
  *
  *  - partition filters evaluate against the Hive `k=v` directory
  *    values recorded in the manifest — a pruned partition's files are
  *    never listed, never opened;
  *  - data filters fold to per-column [lo, hi] bounds and drop whole
  *    files through [[Versioned.statsMayOverlap]] (the manifest's
  *    per-file min/max) — the same two-layer skip as `readSkipping`,
  *    but wired INTO Catalyst so any `.filter` on the DataFrame prunes
  *    without the caller naming a column. Files without statistics
  *    always survive (pruning is an optimization, never a correctness
  *    filter), and the surviving files still get parquet row-group
  *    pushdown below — this index only ever REMOVES whole files the
  *    exact predicate could not keep.
  *
  * At 100 TB the difference is planning cost: the manifest is the only
  * thing read on the driver — no recursive listing, no footer reads,
  * O(files-kept) task scheduling. */
final class VersionedFileIndex(
    spark: ClassicSession,
    tablePath: String,
    entries: Seq[Versioned.ManifestEntry],
    fullSchema: StructType,
    partCols: Seq[String],
    // extra per-query file predicate derived from the data filters —
    // the seam Iceberg's non-identity partition transforms prune
    // through (bucket/truncate/day values live in the entry's partDir,
    // not in any data column's stats). Must only REMOVE files the
    // exact predicate could not keep; default keeps everything.
    transformKeep: Seq[Expression] => Versioned.ManifestEntry => Boolean =
      (_: Seq[Expression]) => (_: Versioned.ManifestEntry) => true,
) extends FileIndex {

  private val root = new HPath(tablePath)
  private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

  /** Statuses resolved once at construction — the index is pinned to
    * an immutable committed snapshot, so there is nothing to re-list.
    * Entries whose source metadata recorded the exact byte length
    * (Delta `add.size`, Iceberg `file_size_in_bytes`) mint the status
    * directly — ZERO filesystem calls; only native-manifest entries
    * (whose on-disk format predates sizes) stat the file. At 100 TB
    * that keeps planning driver cost O(log bytes), not O(files) RPCs. */
  private val statuses: Seq[(Versioned.ManifestEntry, FileStatus)] =
    entries.map { e =>
      val p = new HPath(root, e.relPath)
      e -> e.size.map(sz =>
        new FileStatus(sz, false, 1, 128L << 20, 0L, fs.makeQualified(p)))
        .getOrElse(fs.getFileStatus(p))
    }

  override val partitionSchema: StructType =
    StructType(partCols.map(c => fullSchema(fullSchema.fieldIndex(c))))

  override def rootPaths: Seq[HPath] = Seq(root)
  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray
  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
  override def refresh(): Unit = ()

  /** `k=v/k2=v2` → typed InternalRow in [[partitionSchema]] order. The
    * owning version's recorded schema pins the TYPES (the same reason
    * the library read path does): directory strings cast through the
    * declared type, never re-inferred. */
  private def partValues(dir: String): InternalRow =
    if (partCols.isEmpty) InternalRow.empty
    else {
      val kv = dir.split("/").iterator.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"graft-versioned: malformed partition dir '$dir' in $tablePath")
        seg.take(i) -> ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
      }.toMap
      val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
      InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
        kv.get(f.name) match {
          case None | Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
          case Some(raw) =>
            Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType, tz).eval(null)
        }
      })
    }

  /** Rebind a partition filter from the relation's attributes to
    * positions in [[partitionSchema]] — the planner's exprIds belong to
    * its plan, names are the stable join key. */
  private def bindToPartition(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      val i = partitionSchema.fieldIndex(a.name)
      BoundReference(i, partitionSchema(i).dataType, nullable = true)
  }

  /** A literal, rendered in the domain the manifest statistics were
    * written in ([[Versioned.statsMayOverlap]]'s contract): numerics as
    * exact decimals, dates `yyyy-MM-dd`, timestamps
    * `yyyy-MM-dd HH:mm:ss` in the zone `date_format` rendered them
    * with, strings verbatim. None = unprunable type. */
  private def statDomain(l: Literal): Option[Any] = l.dataType match {
    case _ if l.value == null => None
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType | _: FloatType |
        _: DoubleType | _: DecimalType =>
      Some(new java.math.BigDecimal(l.value.toString))
    case _: StringType => Some(l.value.toString)
    case _: DateType =>
      Some(java.time.LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong).toString)
    case _: TimestampType =>
      val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      Some(java.time.Instant.EPOCH.plus(l.value.asInstanceOf[Long], java.time.temporal.ChronoUnit.MICROS)
        .atZone(zone).toLocalDateTime.format(StatTsFmt))
    case _: TimestampNTZType =>
      Some(java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l.value.asInstanceOf[Long], 1000000L), 0, java.time.ZoneOffset.UTC)
        .format(StatTsFmt))
    case _ => None
  }

  private val StatTsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Fold the planner's data filters to per-column inclusive bounds.
    * Only shapes whose file-level implication is exact contribute
    * (attribute-vs-literal comparisons and conjunctions — a disjunct or
    * a function of the column cannot safely skip a file); everything
    * else is simply not pruned on, never wrongly skipped. */
  private def statsBounds(filters: Seq[Expression]): Map[String, (Option[Any], Option[Any])] = {
    val acc = scala.collection.mutable.Map.empty[String, (Option[Any], Option[Any])]
    def tightenLo(c: String, v: Any): Unit = {
      val (lo, hi) = acc.getOrElse(c, (None, None))
      // multiple conjuncts on one column: any lo works for pruning — keep the first
      acc(c) = (lo.orElse(Some(v)), hi)
    }
    def tightenHi(c: String, v: Any): Unit = {
      val (lo, hi) = acc.getOrElse(c, (None, None))
      acc(c) = (lo, hi.orElse(Some(v)))
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a: AttributeReference, l: Literal) =>
        statDomain(l).foreach { v => tightenLo(a.name, v); tightenHi(a.name, v) }
      case EqualTo(l: Literal, a: AttributeReference) =>
        statDomain(l).foreach { v => tightenLo(a.name, v); tightenHi(a.name, v) }
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        statDomain(l).foreach { v => tightenLo(a.name, v); tightenHi(a.name, v) }
      case GreaterThan(a: AttributeReference, l: Literal) => statDomain(l).foreach(tightenLo(a.name, _))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => statDomain(l).foreach(tightenLo(a.name, _))
      case LessThan(a: AttributeReference, l: Literal) => statDomain(l).foreach(tightenHi(a.name, _))
      case LessThanOrEqual(a: AttributeReference, l: Literal) => statDomain(l).foreach(tightenHi(a.name, _))
      case GreaterThan(l: Literal, a: AttributeReference) => statDomain(l).foreach(tightenHi(a.name, _))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => statDomain(l).foreach(tightenHi(a.name, _))
      case LessThan(l: Literal, a: AttributeReference) => statDomain(l).foreach(tightenLo(a.name, _))
      case LessThanOrEqual(l: Literal, a: AttributeReference) => statDomain(l).foreach(tightenLo(a.name, _))
      case _ => ()
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** Close an open side with a sentinel that can never wrongly skip:
    * numerics get a decimal beyond any stat; date/timestamp strings get
    * the canonical-encoding extremes; a plain string upper bound has no
    * safe finite sentinel (supplementary-plane code points sort above
    * any BMP run in UTF-8), so a string column prunes only when the
    * query supplied that side. */
  private def close(c: String, b: (Option[Any], Option[Any])): Option[(Any, Any)] = {
    val dt = fullSchema.find(_.name == c).map(_.dataType)
    def loSentinel: Option[Any] = dt.collect {
      case _: NumericType => new java.math.BigDecimal("-1E+100")
      case _: DateType | _: TimestampType | _: TimestampNTZType => "0000"
      case _: StringType => ""
    }
    def hiSentinel: Option[Any] = dt.collect {
      case _: NumericType => new java.math.BigDecimal("1E+100")
      case _: DateType | _: TimestampType | _: TimestampNTZType => "9999-99"
    }
    for {
      lo <- b._1.orElse(loSentinel)
      hi <- b._2.orElse(hiSentinel)
    } yield (lo, hi)
  }

  /** Equality predicates eligible for BLOOM pruning: `col = lit` pairs
    * rendered as (column, xxhash64-of-literal) — the hash domain the
    * per-file blooms were built in. */
  private def bloomProbes(filters: Seq[Expression]): Seq[(String, Long)] = {
    def hashOf(l: Literal): Option[Long] = l.dataType match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType | _: StringType
          if l.value != null =>
        Some(new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(l), 42L)
          .eval(null).asInstanceOf[Long])
      case _ => None
    }
    def walk(e: Expression): Seq[(String, Long)] = e match {
      case And(a, b) => walk(a) ++ walk(b)
      case EqualTo(a: AttributeReference, l: Literal) => hashOf(l).map(a.name -> _).toSeq
      case EqualTo(l: Literal, a: AttributeReference) => hashOf(l).map(a.name -> _).toSeq
      case _ => Nil
    }
    filters.flatMap(walk)
  }

  /** Per-column bloom filters for the snapshot's files, loaded lazily
    * the first time an equality filter asks (one small parquet read per
    * owning version — planning-time metadata, cached for the index's
    * lifetime). */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]()
  private def bloomsFor(column: String): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.computeIfAbsent(column,
      c => Versioned.loadBloomIndex(spark, fs, root, entries, c))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partPred = partitionFilters.reduceOption(And).map { f =>
      val p = Predicate.createInterpreted(bindToPartition(f)); p.initialize(0); p
    }
    val bounds = statsBounds(dataFilters).flatMap { case (c, b) => close(c, b).map(c -> _) }
    val probes = bloomProbes(dataFilters)
    val tKeep = transformKeep(dataFilters)
    val kept = statuses
      .groupBy(_._1.partDir).toSeq.sortBy(_._1)
      .map { case (dir, es) => (partValues(dir), es) }
      .filter { case (values, _) => partPred.forall(_.eval(values)) }
      .map { case (values, es) =>
        val keep = es.filter { case (e, _) =>
          tKeep(e) &&
            bounds.forall { case (c, (lo, hi)) => Versioned.statsMayOverlap(e, c, lo, hi) } &&
            probes.forall { case (c, h) =>
              bloomsFor(c).get(e.relPath).forall(_.mightContainLong(h))
            }
        }
        PartitionDirectory(values, keep.map(_._2).toArray)
      }
      .filter(_.files.nonEmpty)
    VersionedFileIndex.recordPlanned(
      tablePath, kept.map(_.files.size).sum, statuses.size)
    kept
  }
}

/** The [[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]]
  * the connector's relations read through, with the raw WRITE half
  * removed. Plain `INSERT INTO` lands through the manifest commit
  * protocol via [[GraftVersionedRelation.insert]] (the
  * `InsertableRelation` case of `DataSourceAnalysis` matches before the
  * `HadoopFsRelation` one), so this refusal is the BACKSTOP for the one
  * shape that still routes to `InsertIntoHadoopFsRelationCommand` — a
  * static `PARTITION (k=v)` clause — which would drop parquet files
  * straight into the table root: files no manifest records, silently
  * invisible to every subsequent read (data loss from the writer's
  * point of view). `prepareWrite` runs before the committer touches the
  * filesystem, so the refusal lands with nothing staged. */
final class VersionedReadOnlyParquetFormat
    extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def prepareWrite(
      sparkSession: org.apache.spark.sql.SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType): org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "graft-versioned: INSERT with a static PARTITION clause would write files the " +
        "manifest never records — use plain INSERT INTO (manifest-protocol append), " +
        "df.write.format(\"graft-versioned\") or graft.ingest.Versioned instead")
}

/** What every graft batch relation shape exposes to the DML rules: the
  * table path the library primitives commit through, and the insert
  * seam. Implemented by the pruning [[GraftVersionedRelation]] (pure
  * data snapshots) and the [[GraftVersionedMoRRelation]] fallback
  * (snapshots with outstanding merge-on-read debt). */
trait GraftTableRelation extends org.apache.spark.sql.sources.InsertableRelation {
  def tablePath: String

  override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    val partCols = Versioned.currentVersion(tablePath)
      .map(v => Versioned.manifest(tablePath, v))
      .flatMap(_.find(_.partDir.nonEmpty))
      .map(_.partDir.split("/").toSeq.map(_.takeWhile(_ != '=')))
      .getOrElse(Seq.empty)
    if (overwrite) {
      if (partCols.nonEmpty) Versioned.commitPartitioned(data, tablePath, partCols: _*)
      else Versioned.commit(data, tablePath)
    } else {
      if (partCols.nonEmpty) Versioned.appendCommitPartitioned(data, tablePath)
      else Versioned.appendCommit(data, tablePath)
    }
    (): Unit
  }
}

/** Fallback batch relation for snapshots carrying MERGE-ON-READ debt
  * (deletion vectors / legacy keyed delete files): a pruned-filtered
  * scan ([[MoRScan]]) over the library read path, which applies the
  * vectors. SQL stays fully functional between a `DELETE FROM` and the
  * next compaction, pushed filters and column pruning included;
  * `compactDeletes`/`maintainIfNeeded` restore the plain pruning
  * relation. */
final class GraftVersionedMoRRelation(
    outer: org.apache.spark.sql.SQLContext, override val tablePath: String, version: Long)
  extends org.apache.spark.sql.sources.BaseRelation
  with org.apache.spark.sql.sources.TableScan
  with org.apache.spark.sql.sources.PrunedFilteredScan with GraftTableRelation {

  override def buildScan(requiredColumns: Array[String],
      filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    MoRScan.prunedRdd(Versioned.readAt(outer.sparkSession, tablePath, version),
      requiredColumns, filters)

  // every filter re-applies above the scan — pushing is pruning only
  override def unhandledFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = filters

  override def sqlContext: org.apache.spark.sql.SQLContext = outer
  override val schema: StructType = Versioned.nullabilityErased(
    Versioned.schemaAt(tablePath, version).getOrElse(
      Versioned.readAt(outer.sparkSession, tablePath, version).schema))

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    Versioned.readAt(outer.sparkSession, tablePath, version).rdd
}

/** The connector's batch relation: a [[HadoopFsRelation]] (so Catalyst
  * plans a pruning `FileSourceScanExec` through the
  * [[VersionedFileIndex]]) that is ALSO an
  * [[org.apache.spark.sql.sources.InsertableRelation]], which is what
  * makes SQL DML land through the manifest commit protocol:
  * `DataSourceAnalysis` plans `INSERT INTO t` / `INSERT OVERWRITE t`
  * over an insertable relation as `InsertIntoDataSourceCommand` —
  * [[insert]] below — instead of the raw-file
  * `InsertIntoHadoopFsRelationCommand` (whose path stays refused by
  * [[VersionedReadOnlyParquetFormat]] as the backstop for static
  * PARTITION clauses, the one INSERT shape that bypasses this seam).
  *
  * `INSERT INTO` is [[graft.ingest.Versioned.appendCommit]] — the
  * O(delta) path, concurrent same-schema appends rebase;
  * `INSERT OVERWRITE` is a full snapshot commit. A Hive-partitioned
  * layout keeps its layout through both (`appendCommitPartitioned` /
  * `commitPartitioned` — the inserted frame carries the partition
  * columns as ordinary trailing columns, Spark's v1 insert contract).
  *
  * Snapshot semantics after DML follow Spark's v1 file-table contract:
  * this relation pins the snapshot resolved at ANALYSIS time, and a
  * catalog table's resolved relation is cached by the session — run
  * `REFRESH TABLE t` (or re-`load()`) to observe a commit landed after
  * the table was first resolved, exactly as with a parquet table whose
  * files changed underneath. */
final class GraftVersionedRelation(
    spark: ClassicSession,
    override val tablePath: String,
    index: VersionedFileIndex,
    partitionSchemaV: StructType,
    dataSchemaV: StructType)
  extends org.apache.spark.sql.execution.datasources.HadoopFsRelation(
    location = index,
    partitionSchema = partitionSchemaV,
    dataSchema = dataSchemaV,
    bucketSpec = None,
    fileFormat = new VersionedReadOnlyParquetFormat,
    options = Map("path" -> tablePath))(spark)
  with GraftTableRelation

object VersionedFileIndex {
  /** Last (files planned, files total) per table — the observable the
    * connector specs and registry entries `require` pruning through
    * (same introspection spirit as [[StreamIntrospect]]). */
  private val planned = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  // public: the Iceberg manifest-list index re-records (kept, total)
  // against the FULL table after delegating to a manifest-pruned inner
  // index, so introspection denominators stay stable under pruning
  def recordPlanned(path: String, kept: Int, total: Int): Unit = {
    planned.put(path, (kept, total)): Unit
  }
  def lastPlanned(path: String): Option[(Int, Int)] = Option(planned.get(path))
}
