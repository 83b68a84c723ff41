package graft.interop

import graft.ingest.Writers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, min, when}
import org.apache.spark.sql.types.{LongType, Metadata, StructField, StructType}

/** COPY-ON-WRITE DML, written once for every table format: `DELETE …
  * WHERE`, `UPDATE … SET … [WHERE]` and `MERGE` by key. Each verb finds
  * the files holding a matching row (one aggregate or semi-join, one
  * collect of O(touched files) names), rewrites ONLY those files —
  * untouched files stay live by reference — and hands the result to
  * the format's commit. O(touched files), never O(table).
  *
  * A format plugs in through [[Table]]: its live rows with the scan's
  * file-metadata column (and row-lineage columns when the table tracks
  * them), the translation from that column's value to the commit's file
  * key, and its rewrite commit. Format-only checks (Delta's identity
  * gates, its `txn` replay guard) stay with the format. */
private[graft] object CopyOnWrite {

  /** A table's row-lineage columns: `rowId` survives every rewrite,
    * `version` records the commit that last changed the row (Delta's
    * `_row_commit_version`, Iceberg's `_last_updated_sequence_number`).
    * `next` is the value this commit stamps on the rows it changes. */
  final case class Lineage(rowId: String, version: String, next: Long)

  /** One rewrite, ready to commit. `touched` holds the format's keys of
    * the files to remove; `rows` replaces them (carrying lineage when
    * the table tracks it); `fresh` are rows new to the table (a MERGE's
    * inserts and multi-match images), which carry no lineage and take
    * new ids; `cdc` is the change feed's images (table columns plus
    * `_change_type`) when the table records one. */
  final case class Rewrite(touched: Set[String], rows: DataFrame,
      fresh: Option[DataFrame], cdc: Option[DataFrame], lineage: Option[Lineage]) {
    /** `rows` and `fresh` as one frame, fresh rows with NULL lineage —
      * for a format whose commit mints new ids for null-lineage rows. */
    def inlined: DataFrame = fresh.fold(rows) { f =>
      rows.unionByName(lineage.fold(f)(l => f.select(col("*"),
        lit(null).cast(LongType).as(l.rowId), lit(null).cast(LongType).as(l.version))))
    }
  }

  /** The per-format face of one table snapshot. */
  trait Table {
    /** The format's name, prefixing every refusal message. */
    def name: String
    /** The logical table schema, in column order. */
    def schema: StructType
    /** The live rows plus [[fileCol]] and, when [[lineage]] is set,
      * its two columns. */
    def live: DataFrame
    def fileCol: String
    def lineage: Option[Lineage]
    /** Whether the commit records change-feed images. */
    def cdf: Boolean
    /** The commit's key for a [[fileCol]] value. */
    def fileKey(raw: String): String
    /** What a verb returns when nothing matched (no commit). */
    def unchanged: Long
    def commit(r: Rewrite): Long
  }

  /** `DELETE FROM t WHERE predicate`. A row whose predicate is NULL is
    * kept (SQL semantics). */
  def deleteWhere(t: Table, predicate: Column): Long = {
    val live = t.live
    val touched = touchedFiles(t, live.filter(predicate))
    if (touched.isEmpty) return t.unchanged
    val rows = live.filter(col(t.fileCol).isin(touched: _*))
    t.commit(Rewrite(touched.map(t.fileKey).toSet,
      kept(t, rows.filter(predicate.isNull || !predicate)), None,
      images(t, rows.filter(predicate) -> "delete"), t.lineage))
  }

  /** `UPDATE t SET … [WHERE cond]`: every touched row passes through
    * [[assignments]]; changed rows keep their id and take this
    * commit's version. */
  def updateWhere(t: Table, set: Map[String, Column], cond: Option[Column]): Long = {
    val assigned = assignments(s"${t.name}.updateWhere", t.schema, set, cond)
    val live = t.live
    val touched = touchedFiles(t, cond.fold(live)(live.filter))
    if (touched.isEmpty) return t.unchanged
    val rows = live.filter(col(t.fileCol).isin(touched: _*))
    val lineageOut = t.lineage.toSeq.flatMap(l =>
      Seq(col(l.rowId), stamped(l, cond).as(l.version, metaOf(live, l.version))))
    val matched = cond.fold(rows)(rows.filter)
    t.commit(Rewrite(touched.map(t.fileKey).toSet, rows.select(assigned ++ lineageOut: _*),
      None, images(t, matched -> "update_preimage",
        matched.select(assigned: _*) -> "update_postimage"), t.lineage))
  }

  /** `MERGE … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *` by `key`: the touched files' unmatched rows survive,
    * matched rows are replaced by their update images, and unmatched
    * updates insert. An image whose key matched exactly ONE row is that
    * row's new version and inherits its id; a key matching several
    * rows cannot inherit one identity, so its image is fresh like an
    * insert. `updates` comes from [[mergeUpdates]]. */
  def upsertByKey(t: Table, updates: DataFrame, key: String): Long = {
    val live = t.live
    val keys = updates.select(col(key))
    val matched = live.join(keys, Seq(key), "left_semi")
    val touched = touchedFiles(t, matched)
    val survivors = kept(t,
      live.filter(col(t.fileCol).isin(touched: _*)).join(keys, Seq(key), "left_anti"))
    val data = t.schema.fieldNames.toIndexedSeq.map(col)
    val (rows, fresh) = t.lineage match {
      case None => (survivors, updates.select(data: _*))
      case Some(l) =>
        val perKey = matched.groupBy(col(key))
          .agg(count(lit(1)).as("__cow_n"), min(col(l.rowId)).as("__cow_id"))
        val annotated = updates.join(perKey, Seq(key), "left")
        val single = annotated.filter(col("__cow_n") === 1L).withColumn(l.rowId, col("__cow_id"))
          .select(data ++ Seq(col(l.rowId).as(l.rowId, metaOf(live, l.rowId)),
            stamped(l, None).as(l.version, metaOf(live, l.version))): _*)
        (survivors.unionByName(single),
          annotated.filter(col("__cow_n").isNull || col("__cow_n") =!= 1L).select(data: _*))
    }
    val targets = live.select(col(key))
    t.commit(Rewrite(touched.map(t.fileKey).toSet, rows, Some(fresh),
      images(t, matched -> "update_preimage",
        updates.join(targets, Seq(key), "left_semi") -> "update_postimage",
        updates.join(targets, Seq(key), "left_anti") -> "insert"), t.lineage))
  }

  /** MERGE's update-frame preparation, for any format. Refuses a key
    * the table lacks. Under `mergeSchema` it refuses a column whose type
    * differs from the table's, adds the update's new columns through
    * `addColumns` (which returns the evolved snapshot) and reorders the
    * update to the table's column order. Then the update must match the
    * table schema and hold unique, non-null keys. Returns the snapshot
    * to merge into and the update frame. */
  def mergeUpdates[S](op: String, snap: S, schemaOf: S => StructType,
      updatesIn: DataFrame, key: String, mergeSchema: Boolean)(
      addColumns: Seq[StructField] => S): (S, DataFrame) = {
    // field metadata and nullability never fail a schema compare
    def shape(sc: StructType): String = DeltaLake.cleanJson(sc)
    val schema0 = schemaOf(snap)
    require(schema0.fieldNames.contains(key),
      s"$op: no column $key (the merge key cannot be evolved in)")
    val (s, updates) =
      if (!mergeSchema) (snap, updatesIn)
      else {
        val conflicts = updatesIn.schema.fields.flatMap { f =>
          schema0.fields.find(_.name == f.name)
            .filter(pf => shape(StructType(Seq(pf))) != shape(StructType(Seq(f))))
            .map(pf => s"${f.name}: table ${pf.dataType.sql} vs update ${f.dataType.sql}")
        }
        require(conflicts.isEmpty, s"$op: mergeSchema type conflicts — ${conflicts.mkString("; ")}")
        val added = updatesIn.schema.fields.filterNot(f => schema0.fieldNames.contains(f.name))
        val s = if (added.isEmpty) snap else addColumns(added.toSeq)
        // new columns land at the end; the update frame may interleave
        (s, updatesIn.select(schemaOf(s).fieldNames
          .filter(updatesIn.columns.contains).toIndexedSeq.map(col): _*))
      }
    require(shape(schemaOf(s)) == shape(updates.schema),
      s"$op: update schema differs from the table schema " +
        "(pass mergeSchema=true for additive evolution)")
    Writers.requireUniqueKeys(op, updates, key)
    (s, updates)
  }

  /** UPDATE's SET projection over `schema`'s columns: an assigned column
    * becomes `when(cond, value).otherwise(column)` (the value alone
    * without a condition), the value cast to the column's type. Refuses
    * an empty SET and a SET naming a non-column. */
  def assignments(op: String, schema: StructType, set: Map[String, Column],
      cond: Option[Column]): Seq[Column] = {
    require(set.nonEmpty, s"$op: empty SET clause")
    val missing = set.keys.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"$op: SET names non-columns (${missing.mkString(", ")})")
    schema.fields.toIndexedSeq.map { f =>
      set.get(f.name) match {
        case Some(value) =>
          val cast = value.cast(f.dataType)
          cond.fold(cast)(p => when(p, cast).otherwise(col(f.name))).as(f.name)
        case None => col(f.name)
      }
    }
  }

  /** The raw [[Table.fileCol]] values of the files holding a row of
    * `matches`. */
  private def touchedFiles(t: Table, matches: DataFrame): Seq[String] =
    matches.select(col(t.fileCol)).distinct().collect().map(_.getString(0)).toSeq

  /** The table columns plus lineage — what a rewritten file holds. */
  private def kept(t: Table, rows: DataFrame): DataFrame =
    rows.select((t.schema.fieldNames.toSeq ++
      t.lineage.toSeq.flatMap(l => Seq(l.rowId, l.version))).map(col): _*)

  /** The change-feed images of `parts` (rows → `_change_type`), when
    * the table records a feed. */
  private def images(t: Table, parts: (DataFrame, String)*): Option[DataFrame] =
    if (!t.cdf) None
    else Some(parts.map { case (rows, kind) =>
      rows.select(t.schema.fieldNames.toIndexedSeq.map(col) :+ lit(kind).as("_change_type"): _*)
    }.reduce(_.unionByName(_)))

  /** The lineage version of a row this commit writes: `next` where
    * `changed` holds (every row without a condition), the old version
    * elsewhere, and NULL for a row without lineage. `next` is bound, not
    * inlined, so every commit of a table runs the same generated code. */
  private[interop] def stamped(l: Lineage, changed: Option[Column]): Column = {
    val next = graft.functions.BoundLong.column(l.next)
    val bumped = changed.fold(next)(p => when(p, next).otherwise(col(l.version)))
    when(col(l.rowId).isNull, lit(null)).otherwise(bumped).cast(LongType)
  }

  /** A lineage column's field metadata (a column-mapped table's
    * physical-name and field-id bookkeeping), kept on recomputed values
    * so staging writes the same field ids the scan resolves. */
  private def metaOf(df: DataFrame, c: String): Metadata = df.schema(c).metadata
}
