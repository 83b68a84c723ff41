/* Shim-packaged like the other connector pieces: the catalog itself
 * uses only the public DataSourceV2 catalog API, but its resolution
 * rule swaps `DataSourceV2Relation` for the battle-tested DSv1
 * `LogicalRelation`s (HadoopFsRelation + pruning FileIndex) and plans
 * `LeafRunnableCommand`s — Spark-internal surfaces, the exact seam
 * Delta's DeltaAnalysis rides for its own catalog tables. */
package org.apache.spark.sql.graft

import graft.ingest.{Versioned, Writers}
import graft.interop.Evolve

import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  NoSuchNamespaceException, NoSuchTableException, ResolvedIdentifier, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.IdentityColumn
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.connector.catalog.{
  Identifier, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.NamespaceChange
import org.apache.spark.sql.connector.expressions.{Expressions, IdentityTransform, Transform}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A metastore-free [[TableCatalog]] over a warehouse DIRECTORY: each
  * namespace is a directory, each table a graft-versioned / Delta /
  * Iceberg table directory under it, and the format is detected from
  * the table's own on-disk signature (`_delta_log/`, `metadata/
  * *.metadata.json`, the graft version protocol) — the catalog stores
  * NOTHING of its own, so any table written by the path APIs is
  * instantly addressable by name, and vice versa.
  *
  * Registration (one conf pair, any deployment):
  * {{{
  *   spark.sql.catalog.graft           org.apache.spark.sql.graft.GraftCatalog
  *   spark.sql.catalog.graft.warehouse /data/warehouse
  * }}}
  *
  * What SQL gains over the path connectors:
  *  - `CREATE TABLE graft.db.t (k BIGINT, ...) USING delta PARTITIONED
  *    BY (grp)` (providers: graft | delta | iceberg; Iceberg also takes
  *    transform partitions `bucket(16, k)`, `days(ts)`, ...);
  *  - name-based reads with TIME TRAVEL syntax — `SELECT ... FROM
  *    graft.db.t VERSION AS OF 3` / `TIMESTAMP AS OF '...'` (mapped to
  *    the format's version / snapshot-id / timestamp resolution);
  *  - `INSERT INTO` / `INSERT OVERWRITE`, `UPDATE` / `DELETE` / `MERGE`
  *    (the DSv1 DML rules fire after [[GraftCatalogRule]] swaps the
  *    relation), CTAS, `ALTER TABLE ADD/RENAME/DROP COLUMN`,
  *    `SHOW TABLES`, `DESCRIBE EXTENDED`, `DROP TABLE`.
  *
  * Planning scale is unchanged from the path connectors: reads resolve
  * to the SAME pruning FileIndex relations (partition pruning +
  * manifest-stats file skipping at planning time), because analysis
  * swaps the V2 relation for the DSv1 one before a single physical
  * node is chosen. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  // SQL maintenance procedures — `CALL graft.system.compact('ns.t')`
  // and friends ([[GraftProcedures]])
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private var catalogName: String = _
  private var warehouse: String = _

  /** Declares column-DEFAULT support so the analyzer accepts
    * `CREATE TABLE (c T DEFAULT expr)` and fills INSERT column-list
    * omissions from the table schema's CURRENT_DEFAULT metadata —
    * [[createTable]] records the defaults per format (Delta
    * CURRENT_DEFAULT, Iceberg v3 write-default, graft-native
    * schema-metadata defaults) — and IDENTITY-column support
    * (`c BIGINT GENERATED ALWAYS AS IDENTITY`), which [[createTable]]
    * records as Delta's `identityColumns` feature or the graft-native
    * mirror (Iceberg's spec has no identity concept — loud refusal). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"GraftCatalog '$name': set spark.sql.catalog.$name.warehouse to the warehouse directory"))
  }

  override def name(): String = catalogName

  private def fsRoot: (org.apache.hadoop.fs.FileSystem, HPath) = {
    val root = new HPath(warehouse)
    (root.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), root)
  }

  private def dirOf(parts: Seq[String]): HPath =
    parts.foldLeft(fsRoot._2)((p, s) => new HPath(p, s))

  private def tableDir(ident: Identifier): HPath =
    dirOf(ident.namespace.toSeq :+ ident.name)

  /** The directory a (possibly not-yet-existing) table name maps to —
    * what CALL clone's target resolution needs. */
  private[graft] def tableDirFor(ident: Identifier): HPath = tableDir(ident)

  /** The table's format from its own on-disk signature — a `_delta_log`
    * dir (Delta), a `metadata` dir holding `.metadata.json` files
    * (Iceberg), a committed graft version. None = not a table. */
  private def formatOf(dir: HPath): Option[String] = {
    val (fs, _) = fsRoot
    if (!fs.exists(dir)) None
    else if (fs.exists(new HPath(dir, "_delta_log"))) Some("delta")
    else if (fs.exists(new HPath(dir, "metadata")) &&
      fs.listStatus(new HPath(dir, "metadata"))
        .exists(_.getPath.getName.endsWith(".metadata.json")))
      // the Iceberg VIEW spec shares the metadata/*.metadata.json
      // layout — content decides (view-uuid vs table-uuid)
      (if (graft.interop.IcebergView.isView(dir.toString)) None else Some("iceberg"))
    else if (Versioned.currentVersion(dir.toString).nonEmpty) Some("graft")
    else None
  }

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val (fs, root) = fsRoot
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => formatOf(p).isEmpty)
      .map(p => Array(p.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val (fs, _) = fsRoot
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir) || formatOf(dir).nonEmpty)
      throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => formatOf(p).isEmpty)
      .map(p => namespace :+ p.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    val (fs, _) = fsRoot
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir) || formatOf(dir).nonEmpty)
      throw new NoSuchNamespaceException(namespace)
    Collections.singletonMap("location", dir.toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val (fs, _) = fsRoot
    fs.mkdirs(dirOf(namespace.toSeq)): Unit
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "GraftCatalog: namespaces carry no mutable metadata (they are directories)")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val (fs, _) = fsRoot
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) false
    else {
      if (!cascade) require(fs.listStatus(dir).isEmpty,
        s"GraftCatalog: namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      fs.delete(dir, true)
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val (fs, _) = fsRoot
    val dir = dirOf(namespace.toSeq)
    fs.exists(dir) && formatOf(dir).isEmpty
  }

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val (fs, _) = fsRoot
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => formatOf(p).nonEmpty)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean = formatOf(tableDir(ident)).nonEmpty

  /** Iceberg-style METADATA TABLE suffixes: `ns.tbl.files` etc. — the
    * familiar inspection surface, resolved by routing the suffix into
    * the provider's inspection option (each format serves the subset
    * its metadata layer defines). */
  private val metadataTableNames: Map[String, Set[String]] = Map(
    "iceberg" -> Set("history", "files", "snapshots", "manifests", "refs",
      "partitions", "delete_files"),
    "delta" -> Set("history", "files", "partitions"),
    "graft" -> Set("history"))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    formatOf(dir) match {
      case Some(fmt) => GraftTable(fmt, dir.toString, fullName(ident), Map.empty)
      case None if ident.namespace.nonEmpty =>
        // `SELECT * FROM graft.ns.tbl.files` arrives as
        // Identifier(ns = [ns, tbl], name = files)
        val metaName = ident.name.toLowerCase
        val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
        val pdir = tableDir(parent)
        formatOf(pdir)
          .filter(fmt => metadataTableNames.getOrElse(fmt, Set.empty).contains(metaName))
          .map(fmt => GraftTable(fmt, pdir.toString, fullName(ident),
            Map(metaName -> "true")))
          .getOrElse(throw new NoSuchTableException(ident))
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF <v>` — graft/Delta version, Iceberg snapshot id;
    * an Iceberg table also takes a NAMED REF (`VERSION AS OF 'tag'`),
    * pinning the tag's or branch's snapshot like Iceberg's own Spark
    * integration does. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    val fmt = formatOf(dir).getOrElse(throw new NoSuchTableException(ident))
    if (version.matches("-?\\d+")) {
      val key = if (fmt == "iceberg") "snapshotId" else "versionAsOf"
      GraftTable(fmt, dir.toString, fullName(ident), Map(key -> version))
    } else fmt match {
      case "iceberg" =>
        val (sid, _) = graft.interop.Iceberg.refs(dir.toString).getOrElse(version,
          throw new IllegalArgumentException(
            s"GraftCatalog: VERSION AS OF '$version' — ${fullName(ident)} has no " +
              "such ref (expected a snapshot id, tag, or branch name)"))
        GraftTable(fmt, dir.toString, fullName(ident), Map("snapshotId" -> sid.toString))
      case other => throw new IllegalArgumentException(
        s"GraftCatalog: VERSION AS OF expects a numeric version for $other tables, got '$version'")
    }
  }

  /** `TIMESTAMP AS OF <ts>` (micros since epoch, per the V2 contract)
    * — resolved HERE to the snapshot current at that instant, so the
    * loaded table is pinned exactly like the version form. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    val fmt = formatOf(dir).getOrElse(throw new NoSuchTableException(ident))
    val ms = Math.floorDiv(timestampMicros, 1000L)
    val travel = fmt match {
      case "delta" => Map("versionAsOf" ->
        graft.interop.DeltaLake.versionAsOf(dir.toString, ms).toString)
      case "iceberg" => Map("snapshotId" ->
        graft.interop.Iceberg.snapshotAsOf(dir.toString, ms).toString)
      case _ => Map("versionAsOf" ->
        Versioned.versionAsOf(dir.toString, ms).getOrElse(throw new IllegalArgumentException(
          s"GraftCatalog: no version of ${fullName(ident)} committed at or before the timestamp")).toString)
    }
    GraftTable(fmt, dir.toString, fullName(ident), travel)
  }

  /** The v2-Column create: Spark's analyzer delivers IDENTITY
    * declarations only on this variant (the StructType conversion in
    * `CatalogV2Util.v2ColumnsToStructField` drops
    * `identityColumnSpec`), so re-encode each spec as the
    * `identity.*` field-metadata keys `IdentityColumn` defines and
    * delegate to the schema-based create below. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val base = org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(columns)
    val withIdentity = StructType(base.fields.zip(columns).map { case (f, c) =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
      var changed = false
      Option(c.identityColumnSpec()).foreach { spec =>
        changed = true
        mb.putLong(IdentityColumn.IDENTITY_INFO_START, spec.getStart)
          .putLong(IdentityColumn.IDENTITY_INFO_STEP, spec.getStep)
          .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
            spec.isAllowExplicitInsert)
      }
      // GENERATED ALWAYS AS (expr) rides the same dropped-by-conversion
      // path — re-encode it under the analyzer's own metadata key
      Option(c.generationExpression()).foreach { e =>
        changed = true
        mb.putString("GENERATION_EXPRESSION", e)
      }
      if (changed) f.copy(metadata = mb.build()) else f
    })
    createTable(ident, withIdentity, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (formatOf(dir).nonEmpty) throw new TableAlreadyExistsException(ident)
    // a VIEW holds the directory too (formatOf deliberately reports
    // None for it) — creating a table into it would corrupt the view
    if (graft.interop.IcebergView.isView(dir.toString))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val props = properties.asScala
    val fmt = props.get(TableCatalog.PROP_PROVIDER).map(_.toLowerCase) match {
      case None | Some("graft") | Some("graft-versioned") => "graft"
      case Some("delta") => "delta"
      case Some("iceberg") => "iceberg"
      case Some(other) => throw new IllegalArgumentException(
        s"GraftCatalog: unsupported provider '$other' (USING graft | delta | iceberg)")
    }
    props.get(TableCatalog.PROP_LOCATION).foreach(_ => throw new IllegalArgumentException(
      "GraftCatalog: LOCATION is not supported — tables live under the warehouse directory"))
    // CREATE TABLE ... CLUSTER BY (c, ...): the parser delivers the
    // clause as a ClusterByTransform among the partition transforms —
    // recorded post-create as Delta's clustering domain (the layout
    // lands on the first OPTIMIZE / maintain_clustered)
    val clusterCols: Seq[String] = partitions.toSeq.collect {
      case org.apache.spark.sql.connector.expressions.ClusterByTransform(refs) =>
        refs.map(_.fieldNames.mkString("."))
    }.flatten
    if (clusterCols.nonEmpty && fmt != "delta")
      throw new UnsupportedOperationException(
        s"GraftCatalog: CLUSTER BY is the Delta clusteringTable feature — not " +
          s"expressible in the $fmt table spec (USING delta, or declare a sort " +
          "order / clustered write through the library APIs)")
    val partTransforms = partitions.filterNot(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.ClusterByTransform])
    val partSpecs = partTransforms.toSeq.map(t => GraftCatalog.transformSpec(t, fmt))
    val spark = SparkSession.active
    // CREATE TABLE (c T DEFAULT expr): the analyzer delivers defaults
    // as CURRENT_DEFAULT/EXISTS_DEFAULT field metadata (the declared
    // SUPPORT_COLUMN_DEFAULT_VALUE contract). Each format records them
    // its own way AFTER the create — strip the analyzer keys from the
    // persisted schema so they can't masquerade as format metadata.
    val defaulted: Seq[(String, String)] = schema.fields.toSeq
      .filter(_.metadata.contains("CURRENT_DEFAULT"))
      .map(f => f.name -> f.metadata.getString("CURRENT_DEFAULT"))

    // CREATE TABLE (c BIGINT GENERATED ALWAYS AS IDENTITY ...): the
    // analyzer delivers the declaration as identity.* field metadata
    // (the SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS contract) —
    // recorded per format after the create, like defaults
    val identityCols: Seq[(String, graft.interop.Identity.Spec)] = schema.fields.toSeq
      .flatMap(f => IdentityColumn.getIdentityInfo(f).map(i => f.name ->
        graft.interop.Identity.Spec(i.getStart, i.getStep, i.isAllowExplicitInsert)))
    // refuse BEFORE anything lands on disk — Iceberg's table spec has
    // no identity/sequence concept to record the declaration in
    if (identityCols.nonEmpty && fmt == "iceberg")
      throw new UnsupportedOperationException(
        "GraftCatalog: IDENTITY columns are not expressible in the iceberg table " +
          "spec (no identity/sequence concept) — USING delta or graft")
    // CREATE TABLE (c T GENERATED ALWAYS AS (expr)): the Delta
    // generatedColumns writer feature — the other formats have no
    // generation-expression concept to record (refuse pre-create)
    val generatedCols: Seq[(String, String)] = schema.fields.toSeq
      .filter(_.metadata.contains("GENERATION_EXPRESSION"))
      .map(f => f.name -> f.metadata.getString("GENERATION_EXPRESSION"))
    if (generatedCols.nonEmpty && fmt != "delta")
      throw new UnsupportedOperationException(
        s"GraftCatalog: GENERATED columns are Delta's generatedColumns writer " +
          s"feature — not expressible in the $fmt table spec; USING delta")

    val persistSchema = StructType(schema.fields.map { f =>
      val analyzerKeys = Seq("CURRENT_DEFAULT", "EXISTS_DEFAULT",
        IdentityColumn.IDENTITY_INFO_START, IdentityColumn.IDENTITY_INFO_STEP,
        IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
        "GENERATION_EXPRESSION")
      if (!analyzerKeys.exists(f.metadata.contains)) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        analyzerKeys.foreach(mb.remove)
        f.copy(metadata = mb.build())
      }
    })
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      // partitioned creates write through partitionBy, which requires
      // the partition columns LAST in the frame — reorder, the reader
      // reports partition columns trailing anyway (Hive layout)
      GraftCatalog.partitionsLast(persistSchema, partitions))
    fmt match {
      case "graft" =>
        // an EMPTY partitioned commit writes no Hive dirs, so the
        // layout cannot be derived from the manifest until the first
        // insert — record the DECLARED columns in the commit meta and
        // the first insert lays the table out from them
        val meta =
          if (partSpecs.isEmpty) Map.empty[String, String]
          else Map(GraftCatalog.PartColsMetaKey -> partSpecs.mkString(","))
        Versioned.commit(empty, dir.toString, meta = meta)
      case "delta" =>
        graft.interop.DeltaLake.write(empty, dir.toString, partitionBy = partSpecs)
      case "iceberg" =>
        graft.interop.Iceberg.write(empty, dir.toString, partitionBy = partSpecs)
    }
    // declared defaults land as each format's own contract: Delta's
    // CURRENT_DEFAULT metadata + allowColumnDefaults feature, Iceberg's
    // v3 write-default (the create upgrades in place first — defaults
    // are a v3 schema attribute)
    if (defaulted.nonEmpty) {
      if (fmt == "iceberg") graft.interop.Iceberg.upgradeToV3(spark, dir.toString)
      defaulted.foreach { case (n, sql) =>
        Evolve.alter(spark, fmt, dir.toString, Evolve.SetDefault(n, sql))
      }
    }
    if (identityCols.nonEmpty) fmt match {
      case "delta" => identityCols.foreach { case (n, sp) =>
        graft.interop.DeltaLake.declareIdentity(spark, dir.toString, n, sp)
      }
      case _ => identityCols.foreach { case (n, sp) =>
        Versioned.declareIdentity(spark, dir.toString, n, sp.start, sp.step,
          sp.allowExplicitInsert)
      }
    }
    generatedCols.foreach { case (n, e) =>
      graft.interop.DeltaLake.setGenerationExpression(spark, dir.toString, n, e)
    }
    if (clusterCols.nonEmpty)
      graft.interop.DeltaLake.enableClustering(spark, dir.toString, clusterCols): Unit
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val fmt = formatOf(dir).getOrElse(throw new NoSuchTableException(ident))
    val path = dir.toString
    val spark = SparkSession.active
    def evolve(c: Evolve.Change): Unit = Evolve.alter(spark, fmt, path, c): Unit
    changes.foreach {
      // ALTER TABLE ADD CONSTRAINT name CHECK (expr): Delta's
      // checkConstraints writer feature — the API validates the whole
      // existing table first, then every write enforces. The other
      // formats' specs have no constraint layer (Iceberg tracks no
      // constraints; graft-native doesn't either) — loud refusal.
      // Unique/PK/FK are informational in every open format — refused
      // rather than silently recorded unenforced.
      // ALTER TABLE t CLUSTER BY (c, ...): (re)declare the Delta
      // clustering domain — metadata-only, the layout lands on the
      // next OPTIMIZE / maintain_clustered. CLUSTER BY NONE arrives
      // as an empty column list and is refused (the protocol keeps a
      // clustered table clustered; drop and recreate to unwind).
      case cb: TableChange.ClusterBy =>
        require(fmt == "delta",
          s"GraftCatalog CLUSTER BY: the $fmt table spec has no clustering " +
            "domain — Delta only")
        val cols = cb.clusteringColumns().toSeq.map(_.fieldNames.mkString("."))
        require(cols.nonEmpty,
          "GraftCatalog: CLUSTER BY NONE is not supported — the clusteringTable " +
            "feature is not removable; recreate the table to unwind it")
        graft.interop.DeltaLake.enableClustering(spark, path, cols): Unit
      case add: TableChange.AddConstraint =>
        add.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(fmt == "delta",
              s"GraftCatalog ADD CONSTRAINT: the $fmt table spec has no " +
                "constraint layer — CHECK constraints are Delta's " +
                "checkConstraints writer feature (USING delta)")
            graft.interop.DeltaLake.addCheckConstraint(spark, path,
              c.name(), c.predicateSql()): Unit
          case other => throw new UnsupportedOperationException(
            s"GraftCatalog ADD CONSTRAINT: only CHECK constraints are " +
              s"enforceable on write — refusing to record '${other.toDDL}' " +
              "unenforced")
        }
      case drop: TableChange.DropConstraint =>
        require(fmt == "delta",
          s"GraftCatalog DROP CONSTRAINT: the $fmt table spec has no constraint layer")
        val have = graft.interop.DeltaLake.snapshot(spark, path)
          .configuration.contains(s"delta.constraints.${drop.name()}")
        if (have) graft.interop.DeltaLake.dropCheckConstraint(spark, path, drop.name()): Unit
        else require(drop.ifExists(),
          s"GraftCatalog DROP CONSTRAINT: no constraint ${drop.name()} " +
            "(add IF EXISTS to tolerate)")
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "GraftCatalog ALTER ADD COLUMN: nested additions are not supported")
        require(add.isNullable,
          "GraftCatalog ALTER ADD COLUMN: only nullable additions are supported " +
            "(every existing row would violate NOT NULL)")
        require(add.position() == null,
          "GraftCatalog ALTER ADD COLUMN: FIRST/AFTER positions are not supported " +
            "(columns append at the end)")
        evolve(Evolve.Add(add.fieldNames.head, add.dataType))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          "GraftCatalog ALTER RENAME COLUMN: nested renames are not supported")
        evolve(Evolve.Rename(ren.fieldNames.head, ren.newName))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "GraftCatalog ALTER DROP COLUMN: nested drops are not supported")
        evolve(Evolve.Drop(del.fieldNames.head))
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames.length == 1,
          "GraftCatalog ALTER SET DEFAULT: nested columns are not supported")
        val colName = upd.fieldNames.head
        val sql = Option(upd.newDefaultValue()).map(_.trim).getOrElse("")
        evolve(if (sql.isEmpty) Evolve.ClearDefault(colName) else Evolve.SetDefault(colName, sql))
      case sp: TableChange.SetProperty =>
        fmt match {
          case "delta" =>
            graft.interop.DeltaLake.setTableProperties(spark, path,
              Map(sp.property -> sp.value))
          case "iceberg" =>
            graft.interop.Iceberg.setTableProperties(spark, path,
              Map(sp.property -> sp.value))
          case other => throw new UnsupportedOperationException(
            s"GraftCatalog: SET TBLPROPERTIES is not implemented for $other tables")
        }
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "GraftCatalog ALTER COLUMN TYPE: nested columns are not supported")
        evolve(Evolve.Widen(ut.fieldNames.head, ut.newDataType()))
      case rp: TableChange.RemoveProperty =>
        fmt match {
          case "delta" =>
            graft.interop.DeltaLake.setTableProperties(spark, path,
              Map.empty, unset = Seq(rp.property))
          case "iceberg" =>
            graft.interop.Iceberg.setTableProperties(spark, path,
              Map.empty, unset = Seq(rp.property))
          case other => throw new UnsupportedOperationException(
            s"GraftCatalog: UNSET TBLPROPERTIES is not implemented for $other tables")
        }
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unsupported ALTER TABLE change ${other.getClass.getSimpleName} — " +
          "supported: ADD COLUMN (nullable, top-level), RENAME COLUMN, DROP COLUMN, " +
          "ALTER COLUMN SET/DROP DEFAULT, ALTER COLUMN TYPE (widening), " +
          "SET/UNSET TBLPROPERTIES (delta, iceberg)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val (fs, _) = fsRoot
    val dir = tableDir(ident)
    if (formatOf(dir).isEmpty) false else fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdentRaw: Identifier): Unit = {
    val (fs, _) = fsRoot
    // `ALTER TABLE graft.db.t RENAME TO graft.db.t2` arrives with the
    // catalog name still leading the new identifier's namespace —
    // strip it, or the table lands under a literal `graft/` directory
    val newIdent =
      if (newIdentRaw.namespace.headOption.contains(catalogName))
        Identifier.of(newIdentRaw.namespace.drop(1), newIdentRaw.name)
      else newIdentRaw
    if (formatOf(tableDir(oldIdent)).isEmpty) throw new NoSuchTableException(oldIdent)
    if (formatOf(tableDir(newIdent)).nonEmpty ||
        graft.interop.IcebergView.isView(tableDir(newIdent).toString))
      throw new TableAlreadyExistsException(newIdent)
    require(fs.rename(tableDir(oldIdent), tableDir(newIdent)),
      s"GraftCatalog: rename ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  // ----------------------------------------- views (Iceberg view spec)

  /** One resolved view: name/query/schema from the CURRENT view
    * version of the on-disk Iceberg view metadata. */
  private final case class GraftViewImpl(ident: Identifier,
      meta: graft.interop.IcebergView.ViewMeta)
    extends org.apache.spark.sql.connector.catalog.View {
    override def name(): String = fullName(ident)
    override def query(): String = meta.current.sql
    override def currentCatalog(): String =
      meta.current.defaultCatalog.getOrElse(catalogName)
    override def currentNamespace(): Array[String] = meta.current.defaultNamespace.toArray
    override def schema(): StructType = meta.schema
    override def queryColumnNames(): Array[String] = Array.empty
    override def columnAliases(): Array[String] = Array.empty
    override def columnComments(): Array[String] = Array.empty
    override def properties(): java.util.Map[String, String] = meta.properties.asJava
  }

  private def isViewDir(ident: Identifier): Boolean =
    graft.interop.IcebergView.isView(tableDir(ident).toString)

  override def viewExists(ident: Identifier): Boolean = isViewDir(ident)

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View = {
    if (!isViewDir(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    GraftViewImpl(ident, graft.interop.IcebergView.load(tableDir(ident).toString))
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val (fs, _) = fsRoot
    val dir = dirOf(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace.toArray)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => graft.interop.IcebergView.isView(p.toString))
      .map(p => Identifier.of(namespace.toArray, p.getName))
  }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View =
    createOrReplaceView(info, replace = false)

  override def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View =
    // unlike the interface's default (drop + create), REPLACE here
    // appends a view-version under the same view-uuid — the spec's
    // time-travel-stable lineage
    createOrReplaceView(info, replace = true)

  private def createOrReplaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
      replace: Boolean): org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident
    val dir = tableDir(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    if (formatOf(dir).nonEmpty)
      throw new TableAlreadyExistsException(ident)
    if (!replace && isViewDir(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    graft.interop.IcebergView.create(dir.toString, info.sql(), info.schema(),
      Option(info.currentCatalog()),
      Option(info.currentNamespace()).map(_.toSeq).getOrElse(Nil),
      Option(info.properties()).map(_.asScala.toMap).getOrElse(Map.empty)
        .filterNot { case (k, _) =>
          org.apache.spark.sql.connector.catalog.ViewCatalog.RESERVED_PROPERTIES.contains(k) },
      replace = replace)
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!isViewDir(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    import org.apache.spark.sql.connector.catalog.ViewChange
    val sets = changes.collect { case s: ViewChange.SetProperty => s.property -> s.value }.toMap
    val removes = changes.collect { case r: ViewChange.RemoveProperty => r.property }.toSet
    require(sets.size + removes.size == changes.size,
      "GraftCatalog: only SET/UNSET TBLPROPERTIES view changes are supported")
    graft.interop.IcebergView.setProperties(tableDir(ident).toString, sets, removes)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    val (fs, _) = fsRoot
    isViewDir(ident) && fs.delete(tableDir(ident), true)
  }

  override def renameView(oldIdent: Identifier, newIdentRaw: Identifier): Unit = {
    val (fs, _) = fsRoot
    val newIdent =
      if (newIdentRaw.namespace.headOption.contains(catalogName))
        Identifier.of(newIdentRaw.namespace.drop(1), newIdentRaw.name)
      else newIdentRaw
    if (!isViewDir(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (isViewDir(newIdent) || formatOf(tableDir(newIdent)).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    require(fs.rename(tableDir(oldIdent), tableDir(newIdent)),
      s"GraftCatalog: rename view ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
  }
}

object GraftCatalog {

  /** Commit-meta key recording a graft table's DECLARED partition
    * columns while the table is still empty (no Hive dirs to derive
    * the layout from). */
  private[graft] val PartColsMetaKey = "graft.catalog.partitionColumns"

  /** A V2 partition transform → the partitionBy spec string the
    * format's writer takes. Identity everywhere; Iceberg additionally
    * takes its spec transforms (`bucket(16, k)`, `days(ts)`, ...). */
  private[graft] def transformSpec(t: Transform, fmt: String): String = t match {
    case id: IdentityTransform => id.references.head.fieldNames.mkString(".")
    case other if fmt == "iceberg" =>
      val args = other.arguments.map {
        case lit: org.apache.spark.sql.connector.expressions.Literal[_] => lit.value.toString
        case ref: org.apache.spark.sql.connector.expressions.NamedReference =>
          ref.fieldNames.mkString(".")
        case a => a.toString
      }
      other.name match {
        case "bucket" => s"bucket(${args.mkString(", ")})"
        case "truncate" => s"truncate(${args.mkString(", ")})"
        case "years" | "year" => s"years(${args.head})"
        case "months" | "month" => s"months(${args.head})"
        case "days" | "day" => s"days(${args.head})"
        case "hours" | "hour" => s"hours(${args.head})"
        case n => throw new IllegalArgumentException(
          s"GraftCatalog: unsupported Iceberg partition transform $n")
      }
    case other => throw new IllegalArgumentException(
      s"GraftCatalog: $fmt tables take identity partition columns only, got $other")
  }

  /** Identity partition columns moved LAST (Hive layout order) — what
    * partitionBy-writing and the readers both report. */
  private[graft] def partitionsLast(schema: StructType, partitions: Array[Transform]): StructType = {
    val identity = partitions.collect {
      case id: IdentityTransform => id.references.head.fieldNames.mkString(".")
    }.toSeq
    if (identity.isEmpty) schema
    else StructType(
      schema.fields.filterNot(f => identity.contains(f.name)) ++
        identity.map(c => schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"GraftCatalog: partition column $c is not in the table schema"))))
  }
}

/** One loaded catalog table: format + path + optional time-travel pin.
  * Carries no WRITE capability on purpose — every DML reference is
  * swapped to the DSv1 relation by [[GraftCatalogRule]] during
  * resolution, so a write that somehow escapes the rule fails
  * loudly in CheckAnalysis instead of mis-planning. BATCH_READ is
  * served through a [[org.apache.spark.sql.connector.read.V1Scan]]
  * over the same DSv1 relation — only analyzer-driven scans that must
  * stay V2 use it (the constraint-validation scan under `ALTER TABLE
  * ADD CONSTRAINT`, whose plan the rule deliberately leaves alone). */
case class GraftTable(format: String, path: String, fullName: String,
    travel: Map[String, String]) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  /** The DSv1 relation this table resolves to — the SAME pruning
    * FileIndex relations the path connectors serve (time-travel pins
    * included via the provider's own options). */
  lazy val relation: org.apache.spark.sql.sources.BaseRelation = {
    val sqlc = SparkSession.active.asInstanceOf[ClassicSession].sqlContext
    val params = Map("path" -> path) ++ travel
    format match {
      case "delta" => new graft.interop.DeltaSourceProvider().createRelation(sqlc, params)
      case "iceberg" => new graft.interop.IcebergSourceProvider().createRelation(sqlc, params)
      case _ =>
        try new VersionedSourceProvider().createRelation(sqlc, params)
        catch {
          // the strict file-list relation refuses snapshots spanning a
          // schema evolution (renames/adds over unrewritten files); the
          // catalog serves them through the id-aligning library read —
          // the same TableScan fallback shape as merge-on-read debt
          case e: IllegalArgumentException
              if e.getMessage != null && e.getMessage.contains("spans a schema evolution") =>
            val v = travel.get("versionAsOf").map(_.toLong)
              .orElse(Versioned.currentVersion(path))
              .getOrElse(throw e)
            new GraftVersionedMoRRelation(sqlc, path, v)
        }
    }
  }

  /** Declared partitioning, straight from the format's metadata. */
  lazy val partitionSpecs: Seq[String] = format match {
    case "delta" =>
      graft.interop.DeltaLake.snapshot(SparkSession.active, path).partitionColumns
    case "iceberg" =>
      graft.interop.Iceberg.snapshot(SparkSession.active, path).partFields.map { f =>
        f.transform match {
          case graft.interop.Iceberg.TIdentity => f.source
          case graft.interop.Iceberg.TBucket(n) => s"bucket($n, ${f.source})"
          case graft.interop.Iceberg.TTruncate(w) => s"truncate($w, ${f.source})"
          case graft.interop.Iceberg.TYear => s"years(${f.source})"
          case graft.interop.Iceberg.TMonth => s"months(${f.source})"
          case graft.interop.Iceberg.TDay => s"days(${f.source})"
          case graft.interop.Iceberg.THour => s"hours(${f.source})"
        }
      }
    case _ =>
      val derived = Versioned.currentVersion(path).toSeq.flatMap { v =>
        Versioned.manifest(path, v).find(_.partDir.nonEmpty).toSeq
          .flatMap(_.partDir.split("/").toSeq.map(_.takeWhile(_ != '=')))
      }
      if (derived.nonEmpty) derived
      else Versioned.versions(path).headOption.toSeq.flatMap { v0 =>
        Versioned.commitMeta(path, v0).get(GraftCatalog.PartColsMetaKey).toSeq
          .flatMap(_.split(",").toSeq.filter(_.nonEmpty))
      }
  }

  override def name(): String = fullName
  override def schema(): StructType = relation.schema

  /** True for metadata-table resolutions (`ns.tbl.files` — the travel
    * map carries the inspection option): the inspection relation has
    * no partitioning/constraints of its own to report. */
  private[graft] def isInspection: Boolean = travel.keys.exists(k =>
    !Set("versionasof", "snapshotid").contains(k.toLowerCase))

  override def partitioning(): Array[Transform] = {
    if (isInspection) return Array.empty
    val bucketRe = """bucket\((\d+),\s*(\S+)\)""".r
    val truncRe = """truncate\((\d+),\s*(\S+)\)""".r
    val unaryRe = """(years|months|days|hours)\((\S+)\)""".r
    partitionSpecs.map {
      case bucketRe(n, c) => Expressions.bucket(n.toInt, c)
      case truncRe(w, c) => Expressions.apply("truncate", Expressions.literal(w.toInt),
        Expressions.column(c))
      case unaryRe("years", c) => Expressions.years(c)
      case unaryRe("months", c) => Expressions.months(c)
      case unaryRe("days", c) => Expressions.days(c)
      case unaryRe("hours", c) => Expressions.hours(c)
      case ident => Expressions.identity(ident)
    }.toArray
  }

  /** The format's own table properties (Delta `configuration`,
    * Iceberg `properties`) under the provider/location pair — what
    * SHOW TBLPROPERTIES and DESCRIBE EXTENDED render. */
  private lazy val formatProperties: Map[String, String] = format match {
    case "delta" =>
      graft.interop.DeltaLake.snapshot(SparkSession.active, path).configuration
    case "iceberg" => graft.interop.Iceberg.tableProperties(path)
    case _ => Map.empty
  }

  override def properties(): java.util.Map[String, String] =
    (formatProperties
      ++ Map(TableCatalog.PROP_PROVIDER -> format, TableCatalog.PROP_LOCATION -> path)
      ++ travel).asJava

  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

  /** The V2 read path: a V1Scan over the SAME DSv1 relation every
    * ordinary query already reads (execution lands back on it; no
    * second read stack to keep correct). No pushdown — the only V2
    * consumer is the analyzer's constraint-validation scan. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = GraftTable.this.schema()
          override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan](
              ctx: org.apache.spark.sql.SQLContext): T =
            (new org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = ctx
              override def schema: StructType = GraftTable.this.schema()
              override def buildScan(): org.apache.spark.rdd.RDD[Row] =
                ctx.sparkSession.asInstanceOf[ClassicSession]
                  .baseRelationToDataFrame(relation).rdd
            }).asInstanceOf[T]
        }
    }

  /** Delta's `delta.constraints.*` served through the DSv2 constraint
    * surface (DESCRIBE, the analyzer's constraint resolution) — each
    * is an enforced CHECK: this library's writer validates the table
    * at ADD and every write thereafter. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    if (format != "delta" || isInspection) Array.empty
    else formatProperties.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix("delta.constraints."))
          .predicateSql(v).build()
          .asInstanceOf[org.apache.spark.sql.connector.catalog.constraints.Constraint]
    }.toArray
}

/** The catalog's one resolution rule (injected by
  * [[GraftSparkExtensions]] BEFORE the DML rules): V2 plans over
  * [[GraftTable]]s become the DSv1 shapes the rest of the engine
  * already serves —
  *
  *  - a bare `DataSourceV2Relation` becomes the
  *    `LogicalRelation(HadoopFsRelation)` with the pruning FileIndex
  *    (same attribute ids, so enclosing resolved plans are untouched);
  *  - `AppendData` / full-predicate `OverwriteByExpression` (INSERT
  *    INTO / INSERT OVERWRITE) become [[GraftCatalogWriteCommand]]
  *    over the format's log-commit writers;
  *  - `CreateTableAsSelect` becomes [[GraftCatalogCtasCommand]]
  *    (create through the catalog, then one append).
  *
  * The write nodes are matched FIRST and hold their table as a non-child
  * field, so the blanket relation swap below them can never corrupt a
  * typed `NamedRelation` slot. */
class GraftCatalogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val afterCommands = plan.transformDown {
      case AppendData(r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
          query, _, isByName, _, _) if r.table.isInstanceOf[GraftTable] && query.resolved =>
        val t = r.table.asInstanceOf[GraftTable]
        require(!t.isInspection,
          s"GraftCatalog: ${t.name()} is a read-only metadata table")
        GraftCatalogWriteCommand(t.format, t.path, t.partitionSpecs, t.schema(),
          query, overwrite = false, byName = isByName)
      case OverwriteByExpression(
          r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
          deleteExpr, query, _, isByName, _, _)
          if r.table.isInstanceOf[GraftTable] && query.resolved =>
        require(!r.table.asInstanceOf[GraftTable].isInspection,
          "GraftCatalog: metadata tables are read-only")
        require(isFullOverwrite(deleteExpr),
          "GraftCatalog: INSERT OVERWRITE with a static PARTITION clause is not supported — " +
            "overwrite the whole table or MERGE by key")
        val t = r.table.asInstanceOf[GraftTable]
        GraftCatalogWriteCommand(t.format, t.path, t.partitionSpecs, t.schema(),
          query, overwrite = true, byName = isByName)
      case OverwritePartitionsDynamic(
          r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
          query, _, isByName, _)
          if r.table.isInstanceOf[GraftTable] && query.resolved =>
        // r12 (the r11 memory's "one remaining catalog gate"): replace
        // ONLY the partitions the source touches — each format's
        // replacePartitions, one atomic commit
        val t = r.table.asInstanceOf[GraftTable]
        require(!t.isInspection,
          s"GraftCatalog: ${t.name()} is a read-only metadata table")
        GraftCatalogWriteCommand(t.format, t.path, t.partitionSpecs, t.schema(),
          query, overwrite = true, byName = isByName, dynamic = true)
      case CreateTableAsSelect(ResolvedIdentifier(cat: GraftCatalog, ident),
          parts, query, spec: TableSpec, _, ignoreIfExists, _) if query.resolved =>
        GraftCatalogCtasCommand(cat, ident, parts, query,
          spec.provider, ignoreIfExists)
    }
    // constraint DDL (ALTER TABLE ADD/DROP CONSTRAINT) must keep its
    // table child in V2 form: the analyzer's constraint rules resolve
    // the identifier off the DataSourceV2Relation and route the change
    // to THIS catalog's alterTable; a premature DSv1 swap derails the
    // statement onto the session-catalog path (catalogTable.get NPE)
    val constraintDdl = afterCommands.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint => true
      case _: org.apache.spark.sql.catalyst.plans.logical.AddConstraint => true
      case _: org.apache.spark.sql.catalyst.plans.logical.DropConstraint => true
      case _ => false
    }
    if (constraintDdl) afterCommands
    else afterCommands.transformUp {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[GraftTable] =>
        LogicalRelation(r.table.asInstanceOf[GraftTable].relation, r.output, None,
          isStreaming = false, stream = None)
    }
  }

  private def isFullOverwrite(e: Expression): Boolean = e match {
    case Literal(true, BooleanType) => true
    case _ => false
  }

}

/** `SELECT ... FROM table_changes('ns.tbl', start [, end [, key]])` —
  * the SQL changes-window over catalog NAMES (Delta's TVF shape,
  * registered by [[GraftSparkExtensions]] through the public
  * `injectTableFunction` seam), so a SQL-only user gets CDC without
  * path strings. The window is INCLUSIVE start..end in the format's
  * own commit numbering (Delta/graft: versions; Iceberg: sequence
  * numbers — translated to the changelog's exclusive-from). `key` is
  * required for graft-format tables only (their rewrite-commit feed
  * is a keyed snapshot diff). */
object GraftTableChanges {

  /** Resolve the `table_changes` TVF: look the name up in the `graft`
    * catalog (format auto-detected there), then serve the window
    * through the format's existing batch CDF/changelog relation. */
  def apply(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"table_changes: $msg")
    def litOf(e: Expression): Any = e match {
      case Literal(v, _) => v
      case _ => bad("arguments must be literals")
    }
    if (args.size < 2 || args.size > 4)
      bad("expected table_changes('namespace.table', startVersion [, endVersion [, keyColumn]])")
    val ident = String.valueOf(litOf(args(0)))
    def asLong(a: Any): Long = a match {
      case n: java.lang.Number => n.longValue()
      case other => other.toString.toLong
    }
    val start = asLong(litOf(args(1)))
    val end: Option[Long] = if (args.size >= 3) Some(asLong(litOf(args(2)))) else None
    val key: Option[String] = if (args.size == 4) Some(String.valueOf(litOf(args(3)))) else None
    val parts0 = ident.split('.').toSeq.filter(_.nonEmpty)
    val parts = if (parts0.headOption.contains("graft")) parts0.tail else parts0
    if (parts.size != 2) bad(s"'$ident' must name [graft.]namespace.table")
    val cat =
      try spark.sessionState.catalogManager.catalog("graft").asInstanceOf[GraftCatalog]
      catch { case _: Exception => bad("the 'graft' catalog is not registered " +
        "(set spark.sql.catalog.graft + .warehouse)") }
    val t = cat.loadTable(Identifier.of(Array(parts.head), parts(1)))
      .asInstanceOf[GraftTable]
    val classic = spark.asInstanceOf[ClassicSession]
    val df = t.format match {
      case "delta" =>
        val opts = Map("readChangeFeed" -> "true", "startingVersion" -> start.toString) ++
          end.map("endingVersion" -> _.toString)
        classic.read.format("delta").options(opts).load(t.path)
      case "iceberg" =>
        val opts = Map("changelog" -> "true", "fromSeq" -> (start - 1).toString) ++
          end.map("toSeq" -> _.toString)
        classic.read.format("iceberg").options(opts).load(t.path)
      case _ =>
        val k = key.getOrElse(bad(
          s"'$ident' is a graft-format table — pass the key column as the 4th " +
            "argument: table_changes(name, start, end, keyColumn)"))
        val opts = Map("readChangeFeed" -> "true", "keyColumn" -> k,
          "startingVersion" -> start.toString) ++
          end.map("endingVersion" -> _.toString)
        classic.read.format("graft-versioned").options(opts).load(t.path)
    }
    df.queryExecution.analyzed
  }
}

/** `SELECT * FROM table_history('ns.tbl')` — the SQL DESCRIBE-HISTORY
  * surface over catalog names (r13; the same TVF seam as
  * [[GraftTableChanges]]): one row per commit/snapshot through each
  * format's existing history API. Pure metadata — no data file is
  * opened at any scale. */
object GraftTableHistory {
  def apply(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"table_history: $msg")
    if (args.size != 1) bad("expected table_history('namespace.table')")
    val ident = args.head match {
      case Literal(v, _) => String.valueOf(v)
      case _ => bad("the table name must be a literal")
    }
    val parts0 = ident.split('.').toSeq.filter(_.nonEmpty)
    val parts = if (parts0.headOption.contains("graft")) parts0.tail else parts0
    if (parts.size != 2) bad(s"'$ident' must name [graft.]namespace.table")
    val cat =
      try spark.sessionState.catalogManager.catalog("graft").asInstanceOf[GraftCatalog]
      catch { case _: Exception => bad("the 'graft' catalog is not registered " +
        "(set spark.sql.catalog.graft + .warehouse)") }
    val t = cat.loadTable(Identifier.of(Array(parts.head), parts(1)))
      .asInstanceOf[GraftTable]
    val df = t.format match {
      case "delta" => graft.interop.DeltaLake.history(spark, t.path)
      case "iceberg" => graft.interop.Iceberg.history(spark, t.path)
      case _ => Versioned.history(spark, t.path)
    }
    df.queryExecution.analyzed
  }
}

/** INSERT INTO / INSERT OVERWRITE a catalog table, through the
  * format's log-commit writers. Alignment follows SQL's insert
  * contract: positional (with casts to the declared column types), or
  * by-name for the by-name V2 writes. Partition layout: appends
  * inherit the table's layout from its own metadata (each writer's
  * rule); overwrites re-declare the CURRENT spec, so an INSERT
  * OVERWRITE never silently drops the table's partitioning. */
case class GraftCatalogWriteCommand(
    format: String,
    path: String,
    partSpecs: Seq[String],
    tableSchema: StructType,
    source: LogicalPlan,
    overwrite: Boolean,
    byName: Boolean,
    // INSERT OVERWRITE under partitionOverwriteMode=dynamic: replace
    // ONLY the partitions the source touches (each format's
    // replacePartitions — one atomic commit, untouched partitions
    // carried by reference)
    dynamic: Boolean = false) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val classic = spark.asInstanceOf[ClassicSession]
    val src = Dataset.ofRows(classic, source)
    val aligned =
      if (byName) {
        // a column-list INSERT may omit DEFAULTED columns — the format
        // writers fill them (CURRENT_DEFAULT / write-default), so they
        // are excluded from both the missing-columns refusal and the
        // alignment select
        val defaults: Set[String] = format match {
          case "delta" => graft.interop.DeltaLake.columnDefaults(spark, path).keySet
          case "iceberg" => graft.interop.Iceberg.writeDefaults(path).keySet
          case _ => Versioned.columnDefaults(path).keySet
        }
        val present = (f: StructField) => src.columns.exists(_.equalsIgnoreCase(f.name))
        val missing = tableSchema.fields.filterNot(present).map(_.name)
          .filterNot(defaults.contains)
        require(missing.isEmpty,
          s"GraftCatalog INSERT by name: missing columns ${missing.mkString(", ")}")
        src.select(tableSchema.fields.toIndexedSeq.filter(present).map(f =>
          col(src.columns.find(_.equalsIgnoreCase(f.name)).get).cast(f.dataType).as(f.name)): _*)
      } else {
        require(src.columns.length == tableSchema.fields.length,
          s"GraftCatalog INSERT: ${src.columns.length} columns provided, table has " +
            s"${tableSchema.fields.length}")
        src.select(src.columns.toIndexedSeq.zip(tableSchema.fields.toIndexedSeq).map {
          case (c, f) => col(c).cast(f.dataType).as(f.name)
        }: _*)
      }
    if (dynamic) {
      format match {
        case "graft" => Versioned.replacePartitions(spark, path, aligned)
        case "delta" => graft.interop.DeltaLake.replacePartitions(spark, path, aligned)
        case _ => graft.interop.Iceberg.replacePartitions(spark, path, aligned)
      }
      return Seq.empty
    }
    format match {
      case "graft" =>
        val layout = Versioned.currentVersion(path).toSeq.flatMap { v =>
          Versioned.manifest(path, v).find(_.partDir.nonEmpty).toSeq
            .flatMap(_.partDir.split("/").toSeq.map(_.takeWhile(_ != '=')))
        }
        val cols = if (layout.nonEmpty) layout else partSpecs
        (overwrite, cols.nonEmpty) match {
          case (true, true) => Versioned.commitPartitioned(aligned, path, cols: _*)
          case (true, false) => Versioned.commit(aligned, path)
          case (false, true) if layout.nonEmpty =>
            Versioned.appendCommitPartitioned(aligned, path)
          case (false, true) =>
            // declared-partitioned but still EMPTY: the first insert
            // lays the table out (manifest has no dirs to derive from)
            Versioned.commitPartitioned(aligned, path, cols: _*)
          case (false, false) => Versioned.appendCommit(aligned, path)
        }
      case "delta" =>
        graft.interop.DeltaLake.write(aligned, path,
          partitionBy = if (overwrite) partSpecs else Nil,
          mode = if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
                 else org.apache.spark.sql.SaveMode.Append)
      case _ =>
        graft.interop.Iceberg.write(aligned, path,
          partitionBy = if (overwrite) partSpecs else Nil,
          mode = if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
                 else org.apache.spark.sql.SaveMode.Append)
    }
    Seq.empty
  }
}

/** CTAS: create the (empty) table through the catalog with the query's
  * schema, then run one append through [[GraftCatalogWriteCommand]]'s
  * alignment-free path — the schema IS the query's. */
case class GraftCatalogCtasCommand(
    catalog: GraftCatalog,
    ident: Identifier,
    partitions: Seq[Transform],
    source: LogicalPlan,
    provider: Option[String],
    ignoreIfExists: Boolean) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    if (catalog.tableExists(ident)) {
      if (ignoreIfExists) return Seq.empty
      throw new TableAlreadyExistsException(ident)
    }
    val classic = spark.asInstanceOf[ClassicSession]
    val df = Dataset.ofRows(classic, source)
    val props = new java.util.HashMap[String, String]()
    provider.foreach(p => props.put(TableCatalog.PROP_PROVIDER, p))
    val created = catalog.createTable(ident, df.schema, partitions.toArray, props)
      .asInstanceOf[GraftTable]
    GraftCatalogWriteCommand(created.format, created.path, created.partitionSpecs,
      GraftCatalog.partitionsLast(df.schema, partitions.toArray),
      source, overwrite = false, byName = true).run(spark)
  }
}
