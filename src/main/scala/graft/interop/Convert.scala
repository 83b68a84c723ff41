package graft.interop

import graft.ingest.Writers

import org.apache.spark.sql.SparkSession

/** ZERO-COPY table-format conversion — Delta Lake's UniForm model,
  * from the public protocol/spec descriptions: the DATA stays exactly
  * where it is, a second metadata layer is published over the same
  * parquet files, and afterwards BOTH stacks read the table
  * (`format("delta")` and `format("iceberg")` here; any spec-compliant
  * foreign reader elsewhere). On a 100 TB table the conversion cost is
  * O(files) metadata writes — versus a full rewrite for an
  * export/import migration.
  *
  * Direction notes:
  *  - [[icebergToDelta]]: Iceberg data files always carry column names
  *    alongside their field ids, and Delta resolves by name, so the
  *    files read as-is. Requires no outstanding delete debt (compact
  *    first) and an identity-only partition spec (transform layouts
  *    have no Delta partition equivalent).
  *  - [[deltaToIceberg]]: Delta data files carry NO parquet field ids,
  *    which Iceberg's strict id resolution would reject — the
  *    published metadata therefore records the spec's
  *    `schema.name-mapping.default` property, flipping readers to
  *    name-based resolution for this table (the same mechanism the
  *    spec prescribes for imported files). Requires no deletion
  *    vectors (compact folds them) and an unmapped table (a
  *    column-mapped table's physical naming contradicts the name
  *    mapping).
  *
  * The initial conversion is one-shot; afterwards the table stays
  * dual-readable two ways: [[syncIceberg]]/[[syncDelta]] mirror each
  * source-of-truth commit as ONE incremental target commit (file diff
  * + additive schema growth, history preserved on both sides — the
  * UniForm production shape), while [[resyncIceberg]]/[[resyncDelta]]
  * remain the blunt drop-and-republish for a layer too stale to
  * diff. */
object Convert {

  /** Publish Iceberg metadata over a Delta table's live snapshot.
    * Returns the Iceberg snapshot id. */
  def deltaToIceberg(spark: SparkSession, path: String): Long = {
    val (schema, partCols, files) = prepareDeltaToIceberg(spark, path)
    Iceberg.publishConverted(spark, path, schema, partCols, files)
  }

  /** The READ-ONLY half of [[deltaToIceberg]]: every precondition and
    * per-file require fires here, before anything is written or (in
    * [[resyncIceberg]]) dropped. */
  private def prepareDeltaToIceberg(spark: SparkSession, path: String)
      : (org.apache.spark.sql.types.StructType, Seq[String], Seq[Iceberg.DataFileRef]) = {
    val snap = DeltaLake.snapshot(spark, path)
    require(!snap.hasDeletionVectors,
      s"Convert.deltaToIceberg: $path carries deletion vectors — compact first " +
        "(the vectors fold into plain files)")
    require(snap.mapMode.isEmpty,
      s"Convert.deltaToIceberg: $path is column-mapped — its physical file naming " +
        "contradicts the name mapping a converted table needs")
    val (fs, root) = Writers.fsFor(path)
    val rootPrefix = root.toUri.getPath.stripSuffix("/") + "/"
    // per-file record counts: from the Delta stats when recorded (this
    // library always records them), ONE distributed count over the
    // remaining files otherwise — never a per-file job
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val fromStats: Map[String, Long] = snap.files.flatMap { f =>
      f.stats.flatMap { s0 =>
        val n = om.readTree(s0)
        if (n.hasNonNull("numRecords")) Some(f.path -> n.get("numRecords").asLong)
        else None
      }
    }.toMap
    val missing = snap.files.map(_.path).filterNot(fromStats.contains)
    val counted: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{count, input_file_name, lit}
        spark.read.parquet(missing.map(rootPrefix + _): _*)
          .groupBy(input_file_name().as("__f")).agg(count(lit(1)).as("__n"))
          .collect()
          .map(r => new java.net.URI(r.getString(0)).getPath.stripPrefix(rootPrefix) ->
            r.getLong(1))
          .toMap
      }
    val files = snap.files.map { f =>
      // a 0-row data file (legal in the protocol — e.g. an empty task
      // output of a copy-on-write rewrite) has no stats AND yields no
      // input_file_name group in the distributed count: record count 0
      Iceberg.DataFileRef(rootPrefix + f.path, f.partitionValues,
        fromStats.getOrElse(f.path, counted.getOrElse(f.path, 0L)), f.size, seq = 1L)
    }
    (snap.schema, snap.partitionColumns, files)
  }

  /** CONTINUOUS sync, Delta → Iceberg (the UniForm production shape):
    * after [[deltaToIceberg]], call this after each Delta commit (or
    * batch of commits) and the Iceberg layer gains ONE matching
    * snapshot — the FILE DIFF between the two live sets as
    * adds/deletes, plus an additive schema version when Delta's schema
    * grew (the name mapping extends with the new fields). History is
    * PRESERVED on both sides — nothing is dropped, O(diff) metadata,
    * zero data files written. Returns the new Iceberg snapshot id, or
    * None when the layers are already in sync (idempotent). Delta is
    * the table of record between syncs; Iceberg-side writes since the
    * last sync would be clobbered — exactly UniForm's contract. */
  def syncIceberg(spark: SparkSession, path: String): Option[Long] = {
    require(DeltaLake.isDeltaTable(path),
      s"Convert.syncIceberg: $path has no Delta log to sync from")
    require(Iceberg.isIcebergTable(path),
      s"Convert.syncIceberg: $path has no Iceberg layer — run deltaToIceberg first")
    val (schema, _, deltaFiles) = prepareDeltaToIceberg(spark, path)
    val (_, root) = Writers.fsFor(path)
    val rootPrefix = root.toUri.getPath.stripSuffix("/") + "/"
    val ice = Iceberg.snapshot(spark, path)
    val iceRel: Set[String] =
      ice.files.map(f => Hive.fsPathNoDecode(f.path).stripPrefix(rootPrefix)).toSet
    val deltaRel: Set[String] = deltaFiles.map(f =>
      Hive.fsPathNoDecode(f.path).stripPrefix(rootPrefix)).toSet
    val added = deltaFiles.filterNot(f =>
      iceRel.contains(Hive.fsPathNoDecode(f.path).stripPrefix(rootPrefix)))
    val removedAbs: Set[String] = (iceRel -- deltaRel).map(rootPrefix + _)
    val newFields = additiveDiff("syncIceberg", ice.schema, schema)
    if (added.isEmpty && removedAbs.isEmpty && newFields.isEmpty) None
    else Some(Iceberg.appendConvertedSnapshot(spark, path, added, removedAbs, newFields))
  }

  /** CONTINUOUS sync, Iceberg → Delta — the mirror of [[syncIceberg]]:
    * ONE Delta commit carrying the file diff as remove/add actions
    * (plus a metaData re-emission for additive schema growth).
    * Returns the new Delta version, or None when already in sync. */
  def syncDelta(spark: SparkSession, path: String): Option[Long] = {
    require(Iceberg.isIcebergTable(path),
      s"Convert.syncDelta: $path has no Iceberg metadata to sync from")
    require(DeltaLake.isDeltaTable(path),
      s"Convert.syncDelta: $path has no Delta layer — run icebergToDelta first")
    val (schema, partCols, iceAdds) = prepareIcebergToDelta(spark, path)
    val delta = DeltaLake.snapshot(spark, path)
    require(delta.partitionColumns == partCols,
      s"Convert.syncDelta: partition layouts diverged (${delta.partitionColumns} vs $partCols)")
    val deltaRel: Set[String] = delta.files.map(_.path).toSet
    val iceRel: Set[String] = iceAdds.map(_.path).toSet
    val added = iceAdds.filterNot(a => deltaRel.contains(a.path))
    val removedRel = deltaRel -- iceRel
    val newFields = additiveDiff("syncDelta", delta.schema, schema)
    if (added.isEmpty && removedRel.isEmpty && newFields.isEmpty) None
    else Some(DeltaLake.appendConvertedCommit(spark, path, added, removedRel,
      if (newFields.isEmpty) None else Some(schema)))
  }

  /** The target schema's NEW trailing fields, with every other change
    * refused: a sync can only mirror additive evolution — a rename,
    * drop, or type change on the source has no safe file-level
    * translation for the stale layer. */
  private def additiveDiff(op: String,
      have: org.apache.spark.sql.types.StructType,
      want: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.types.StructField] = {
    def erased(dt: org.apache.spark.sql.types.DataType): String =
      graft.ingest.Versioned.nullabilityErased(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x", dt)))).json
    val missing = have.fields.filter(h => !want.fields.exists(_.name == h.name))
    require(missing.isEmpty,
      s"Convert.$op: source dropped columns ${missing.map(_.name).mkString(", ")} — " +
        "only additive schema changes sync")
    val changed = have.fields.flatMap { h =>
      want.fields.find(_.name == h.name)
        .filter(w => erased(w.dataType) != erased(h.dataType))
        .map(w => s"${h.name}: ${h.dataType.sql} -> ${w.dataType.sql}")
    }
    require(changed.isEmpty,
      s"Convert.$op: source changed column types (${changed.mkString("; ")}) — " +
        "only additive schema changes sync")
    want.fields.filter(w => !have.fields.exists(_.name == w.name)).toSeq
  }

  /** Re-SYNC a stale Iceberg layer from the Delta state — the
    * conversion is one-shot, so Delta-side writes leave the Iceberg
    * metadata at the conversion-time snapshot; this publishes the layer
    * afresh as the next metadata version, which drops the snapshot
    * history from the head (Delta is the source of truth here). Nothing
    * is deleted: a crash before the publish leaves the stale layer
    * readable. O(files) metadata, no data movement. */
  def resyncIceberg(spark: SparkSession, path: String): Long = {
    require(DeltaLake.isDeltaTable(path),
      s"Convert.resyncIceberg: $path has no Delta log to sync from")
    // run the WHOLE read-only conversion FIRST — any refusal (DVs,
    // mapping, unparseable stats, foreign paths) must leave the stale
    // but working layer untouched
    val (schema, partCols, files) = prepareDeltaToIceberg(spark, path)
    Iceberg.publishConverted(spark, path, schema, partCols, files, replace = true)
  }

  /** Re-SYNC a stale Delta layer from the Iceberg state (drops the
    * Delta log and its history — Iceberg is the source of truth
    * here). */
  def resyncDelta(spark: SparkSession, path: String): Long = {
    require(Iceberg.isIcebergTable(path),
      s"Convert.resyncDelta: $path has no Iceberg metadata to sync from")
    // same prepare-first ordering as resyncIceberg: every require
    // (delete debt, transforms, root containment) fires before the
    // stale layer is dropped
    val (schema, partCols, adds) = prepareIcebergToDelta(spark, path)
    val (fs, root) = Writers.fsFor(path)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_delta_log"), true): Unit
    DeltaLake.publishConverted(spark, path, schema, partCols, adds)
  }

  /** Publish Delta metadata over an Iceberg table's current snapshot.
    * Returns the Delta version (0). */
  def icebergToDelta(spark: SparkSession, path: String): Long = {
    val (schema, partCols, adds) = prepareIcebergToDelta(spark, path)
    DeltaLake.publishConverted(spark, path, schema, partCols, adds)
  }

  /** The read-only half of [[icebergToDelta]] — see
    * [[prepareDeltaToIceberg]]. */
  private def prepareIcebergToDelta(spark: SparkSession, path: String)
      : (org.apache.spark.sql.types.StructType, Seq[String], Seq[DeltaLake.AddFile]) = {
    val s = Iceberg.snapshot(spark, path)
    require(!s.hasDeleteDebt,
      s"Convert.icebergToDelta: $path carries outstanding delete files — compact first")
    require(s.partFields.forall(_.isIdentity),
      s"Convert.icebergToDelta: $path uses partition transforms " +
        s"(${s.partFields.filterNot(_.isIdentity).map(_.transform.spec).mkString(", ")}) — " +
        "Delta has no transform-partition equivalent")
    val (fs, root) = Writers.fsFor(path)
    val rootPrefix = root.toUri.getPath.stripSuffix("/") + "/"
    val now = System.currentTimeMillis()
    val adds = s.files.map { f =>
      val abs = Hive.fsPathNoDecode(f.path)
      require(abs.startsWith(rootPrefix),
        s"Convert.icebergToDelta: data file $abs lies outside the table root")
      val stats = s"""{"numRecords":${f.recordCount}}"""
      DeltaLake.AddFile(abs.stripPrefix(rootPrefix), f.partitionValues,
        f.sizeInBytes, now, Some(stats))
    }
    (s.schema, s.partitionColumns, adds)
  }
}
