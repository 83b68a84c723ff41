/* Shim-packaged for the same reason as the connector: the MERGE
 * rewrite pattern-matches Catalyst's parsed `MergeIntoTable` plan and
 * plans a `LeafRunnableCommand`, both of which are Spark-internal
 * surfaces (the exact seam Delta's DeltaAnalysis rule rides). All
 * table semantics delegate to the public graft.ingest.Versioned API. */
package org.apache.spark.sql.graft

import graft.ingest.Versioned

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Column ↔ Expression bridge for the library packages: the classic
  * converters are `private[sql]`, so the graft.* side reaches them
  * through this shim (the only reason it exists). */
object ColumnBridge {
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `relation` served WITH catalog statistics attached — size, row
    * count and per-column NDV — as an external `provider` table at
    * `root`: what lets CBO cost a path table like an ANALYZEd catalog
    * table. `Dataset.ofRows` and `LogicalRelation` are
    * `private[sql]`/internal, hence this shim. */
  def relationWithStats(spark: org.apache.spark.sql.SparkSession,
      relation: org.apache.spark.sql.sources.BaseRelation, root: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType, provider: String, sizeInBytes: Long,
      rowCount: Option[Long], ndv: Map[String, Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.catalog._
    val table = CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(root.getName),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(locationUri = Some(root.toUri)),
      schema = schema,
      provider = Some(provider),
      stats = Some(CatalogStatistics(
        sizeInBytes = BigInt(sizeInBytes),
        rowCount = rowCount.map(BigInt(_)),
        colStats = ndv.map { case (c, n) =>
          c -> CatalogColumnStat(distinctCount = Some(BigInt(n)))
        })))
    org.apache.spark.sql.classic.Dataset.ofRows(spark.asInstanceOf[ClassicSession],
      org.apache.spark.sql.execution.datasources.LogicalRelation(relation, table))
  }
}

/** `spark.sql.extensions` entry point (set at session build by
  * Verify/Bench/the test fixture — any deployment wanting SQL MERGE on
  * `graft-versioned` tables adds the same one config line). Injects the
  * one rule the connector cannot express through public provider seams:
  * MERGE INTO. INSERT INTO needs no extension — it lands through
  * [[GraftVersionedRelation]]'s `InsertableRelation` seam. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // catalog swap FIRST: once a GraftTable's V2 relation is the DSv1
    // LogicalRelation, the MERGE/DML rule below serves catalog tables
    // through the same matches as path tables
    ext.injectResolutionRule(session => new GraftCatalogRule(session))
    ext.injectResolutionRule(session => new GraftMergeIntoRule(session))
    // Iceberg-spec VIEWS over GraftCatalog: view DDL rewrites at the
    // parser boundary (ResolveSessionCatalog hard-gates the v2 view
    // plans to the session catalog before any injected rule runs —
    // the same seam Iceberg's own extensions use), SELECT expansion
    // as a resolution rule
    ext.injectParser((session, delegate) => new GraftViewParser(session, delegate))
    ext.injectResolutionRule(session => new GraftViewRule(session))
    // the SQL changes-window TVF over catalog names (Delta's
    // `table_changes` shape) — registered through the public
    // injectTableFunction seam; resolution happens in GraftTableChanges
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        GraftTableChanges.getClass.getName, "table_changes"),
      (args: Seq[Expression]) => GraftTableChanges(args)))
    // DESCRIBE HISTORY as a TVF over catalog names (r13) — one
    // metadata row per commit/snapshot, per format
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("table_history"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        GraftTableHistory.getClass.getName, "table_history"),
      (args: Seq[Expression]) => GraftTableHistory(args)))
  }
}

/** Resolution rule: `MERGE INTO <graft-versioned table> t USING src s
  * ON t.k = s.k ...` → [[GraftMergeIntoCommand]] over the library's
  * merge primitives, the v1-relation analogue of Delta's
  * `DeltaAnalysis` MERGE rewrite (Spark's builtin row-level MERGE
  * machinery only serves DSv2 tables with `SupportsRowLevelOperations`
  * — a v1 target would otherwise die in CheckAnalysis).
  *
  * Supported shapes — the classic upsert/retract trio, matched either
  * as the parsed star actions or as the identity column-by-column
  * assignments `ResolveReferences` may have already expanded them to
  * (both forms arrive here depending on rule ordering inside the
  * resolution batch):
  *
  *  - `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  *    → [[Versioned.upsert]] (partition-layout tables:
  *    [[Versioned.upsertPartitioned]], touched partitions only);
  *  - `WHEN MATCHED THEN UPDATE SET *` alone → upsert restricted to
  *    keys already present (no inserts);
  *  - `WHEN MATCHED THEN DELETE` alone → keyed [[Versioned.delete]]
  *    (copy-on-write, so the committed snapshot stays readable by the
  *    strict batch connector).
  *
  * Clause conditions, non-identity assignments, and
  * NOT-MATCHED-BY-SOURCE clauses are refused with an explicit message
  * — a restricted MERGE that errs loudly beats a permissive one that
  * guesses semantics. Non-graft targets pass through untouched. */
class GraftMergeIntoRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable
        if m.targetTable.resolved && m.sourceTable.resolved && isGraft(m.targetTable) =>
      rewrite(m)
    // the same DML statements over the INTEROP formats land through
    // their own log-commit writers: DELETE as the format's native
    // merge-on-read shape (Delta deletion vectors / Iceberg position
    // deletes — zero rewrite), UPDATE and MERGE as the copy-on-write
    // rewrite of only the touched files
    case m: MergeIntoTable
        if m.targetTable.resolved && m.sourceTable.resolved &&
          interopOf(m.targetTable).nonEmpty =>
      val (flavor, p) = interopOf(m.targetTable).get
      val lr = EliminateSubqueryAliases(m.targetTable).asInstanceOf[LogicalRelation]
      val (key, shape) = parseKeyShape(m, lr.schema.fields.map(_.name).toSeq)
      GraftInteropMergeCommand(flavor, p, m.sourceTable, key, shape, identOf(m.targetTable))
    case DeleteFromTable(target, cond)
        if target.resolved && interopOf(target).nonEmpty =>
      checkSimple(cond)
      val (flavor, p) = interopOf(target).get
      GraftInteropDmlCommand(flavor, p, GraftDmlCommand.Delete(byName(cond)), identOf(target))
    case UpdateTable(target, assigns, cond)
        if target.resolved && interopOf(target).nonEmpty =>
      cond.foreach(checkSimple)
      assigns.foreach(a => checkSimple(a.value))
      val (flavor, p) = interopOf(target).get
      val set = assigns.map { a =>
        nameOf(a.key).getOrElse(fail("UPDATE SET must assign plain columns")) -> byName(a.value)
      }
      GraftInteropDmlCommand(flavor, p, GraftDmlCommand.Update(set, cond.map(byName)),
        identOf(target))
    // DELETE FROM / UPDATE on a graft target: Spark's builtin row-level
    // machinery is v2-only, so these plan to the library's predicate
    // primitives (DELETE as a deletion vector — zero rewrite; UPDATE as
    // the copy-on-write rewrite). The condition/assignment expressions
    // are carried UNRESOLVED-by-name and re-resolve against the freshly
    // read snapshot at execution ([[GraftDmlCommand]]).
    case DeleteFromTable(target, cond) if target.resolved && isGraft(target) =>
      checkSimple(cond)
      GraftDmlCommand(pathOf(target), GraftDmlCommand.Delete(byName(cond)),
        identOf(target))
    case UpdateTable(target, assigns, cond) if target.resolved && isGraft(target) =>
      cond.foreach(checkSimple)
      assigns.foreach(a => checkSimple(a.value))
      val set = assigns.map { a =>
        nameOf(a.key).getOrElse(fail("UPDATE SET must assign plain columns")) -> byName(a.value)
      }
      GraftDmlCommand(pathOf(target), GraftDmlCommand.Update(set, cond.map(byName)),
        identOf(target))
    case _ => plan
  }

  private def pathOf(target: LogicalPlan): String =
    EliminateSubqueryAliases(target).asInstanceOf[LogicalRelation]
      .relation.asInstanceOf[GraftTableRelation].tablePath

  private def identOf(target: LogicalPlan): Option[Seq[String]] =
    target.collect {
      case SubqueryAlias(id, _: LogicalRelation) => id.qualifier :+ id.name
    }.lastOption

  /** Refuse condition shapes whose by-name re-resolution against a
    * fresh snapshot read would change meaning: subqueries (their plans
    * are bound to THIS statement's analysis) — everything else
    * (comparisons, functions, literals over the table's own columns)
    * re-resolves faithfully. */
  private def checkSimple(e: Expression): Unit =
    if (e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
      fail("subqueries in DELETE/UPDATE conditions are not supported — " +
        "stage the subquery into a frame and use the Versioned API")

  /** Detach an expression from this statement's resolved attributes:
    * every AttributeReference becomes an UnresolvedAttribute of the
    * same name, so the expression re-resolves against the snapshot the
    * command reads at EXECUTION time (fresh exprIds). */
  private def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  private def isGraft(target: LogicalPlan): Boolean =
    EliminateSubqueryAliases(target) match {
      case lr: LogicalRelation => lr.relation.isInstanceOf[GraftTableRelation]
      case _                   => false
    }

  /** (format flavor, table path) when the target is an interop-format
    * relation — any of the four batch relation shapes. */
  private def interopOf(target: LogicalPlan): Option[(String, String)] =
    EliminateSubqueryAliases(target) match {
      case lr: LogicalRelation => lr.relation match {
        case r: GraftDeltaRelation       => Some(("delta", r.tablePath))
        case r: GraftDeltaMappedRelation => Some(("delta", r.tablePath))
        case r: GraftIcebergRelation     => Some(("iceberg", r.tablePath))
        case r: GraftIcebergMoRRelation  => Some(("iceberg", r.tablePath))
        case _                           => None
      }
      case _ => None
    }

  private def fail(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-versioned MERGE: $why. Supported: ON t.k = s.k with WHEN MATCHED THEN " +
        "UPDATE SET * [WHEN NOT MATCHED THEN INSERT *], or WHEN MATCHED THEN DELETE alone; " +
        "other shapes go through graft.ingest.Versioned directly")

  /** Column name behind a condition/assignment side — resolved or not
    * (the rule can fire either before or after `ResolveReferences`
    * touches the merge clauses in the same resolution batch). */
  private def nameOf(e: Expression): Option[String] = e match {
    case a: AttributeReference  => Some(a.name)
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case _                      => None
  }

  /** An UPDATE/INSERT action is "star-equivalent" when it is the parsed
    * star form, or every assignment maps a column from the same-named
    * source column (what star expansion produces). */
  private def starEquivalent(assigns: Seq[Assignment]): Boolean =
    assigns.forall { a =>
      (nameOf(a.key), nameOf(a.value)) match {
        case (Some(k), Some(v)) => k.equalsIgnoreCase(v)
        case _                  => false
      }
    }

  /** The merge key (canonical table-schema casing) and clause shape —
    * shared between the native and interop MERGE rewrites. */
  private def parseKeyShape(m: MergeIntoTable,
      schemaFields: Seq[String]): (String, GraftMergeIntoCommand.Shape) = {
    val key = m.mergeCondition match {
      case EqualTo(l, r) =>
        (nameOf(l), nameOf(r)) match {
          case (Some(a), Some(b)) if a.equalsIgnoreCase(b) =>
            // canonical casing from the table schema, not the SQL text
            schemaFields.find(_.equalsIgnoreCase(a))
              .getOrElse(fail(s"merge key '$a' is not a column of the target table"))
          case (Some(a), Some(b)) =>
            fail(s"ON must equate one shared key column, got '$a' = '$b'")
          case _ => fail("ON must be a plain column equality (no casts or functions)")
        }
      case _ => fail("ON must be a single equality t.k = s.k")
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported")
    // star actions carry their own WHEN ... AND <cond> too — matching
    // them without checking it would silently apply the action to rows
    // the condition was meant to protect
    val shape = (m.matchedActions, m.notMatchedActions) match {
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None))) =>
        GraftMergeIntoCommand.Upsert
      case (Seq(UpdateAction(None, as, _)), Seq(InsertAction(None, bs)))
          if starEquivalent(as) && starEquivalent(bs) => GraftMergeIntoCommand.Upsert
      case (Seq(UpdateStarAction(None)), Seq()) => GraftMergeIntoCommand.UpdateOnly
      case (Seq(UpdateAction(None, as, _)), Seq()) if starEquivalent(as) =>
        GraftMergeIntoCommand.UpdateOnly
      case (Seq(DeleteAction(None)), Seq()) => GraftMergeIntoCommand.DeleteMatched
      case (ma, na) =>
        fail(s"unsupported clause shape (matched=${ma.map(_.getClass.getSimpleName).mkString(",")}, " +
          s"notMatched=${na.map(_.getClass.getSimpleName).mkString(",")}); clause conditions and " +
          "non-star assignments are not supported")
    }
    (key, shape)
  }

  private def rewrite(m: MergeIntoTable): LogicalPlan = {
    val lr = EliminateSubqueryAliases(m.targetTable).asInstanceOf[LogicalRelation]
    val rel = lr.relation.asInstanceOf[GraftTableRelation]
    val (key, shape) = parseKeyShape(m, lr.schema.fields.map(_.name).toSeq)
    // the catalog identifier (when the target IS a catalog table) lets
    // the command refresh the session's cached relation, so the very
    // next SELECT over the table name sees the merged snapshot. The
    // INNERMOST alias is the catalog name — `MERGE INTO tbl t` wraps
    // the table's own qualified SubqueryAlias in the user alias `t`.
    val ident = m.targetTable.collect {
      case SubqueryAlias(id, _: LogicalRelation) => id.qualifier :+ id.name
    }.lastOption
    GraftMergeIntoCommand(rel.tablePath, m.sourceTable, key, shape, ident)
  }
}

/** The planned MERGE: executes one derived commit through the library
  * API. The source plan is carried ALREADY-RESOLVED from analysis;
  * execution wraps it as a frame, aligns it to the target's column set
  * by name, and hands it to the matching Versioned primitive — which
  * is where the real scale work (partition-scoped rewrite, claim
  * protocol, rebase-on-rival) already lives. */
case class GraftMergeIntoCommand(
    path: String,
    source: LogicalPlan,
    key: String,
    shape: GraftMergeIntoCommand.Shape,
    catalogIdent: Option[Seq[String]]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val classic = spark.asInstanceOf[ClassicSession]
    val src = Dataset.ofRows(classic, source)
    val targetCols = Versioned.schemaOf(path).map(_.fieldNames.toSeq)
      .getOrElse(Versioned.read(spark, path).columns.toSeq)
    require(targetCols.exists(_.equalsIgnoreCase(key)),
      s"graft-versioned MERGE: key '$key' is not a column of $path")
    val layout = Versioned.manifest(path,
      Versioned.currentVersion(path).getOrElse(
        throw new IllegalArgumentException(s"graft-versioned MERGE: no committed version under $path")))
      .find(_.partDir.nonEmpty)
      .map(_.partDir.split("/").toSeq.map(_.takeWhile(_ != '=')))
      .getOrElse(Seq.empty)
    shape match {
      case GraftMergeIntoCommand.DeleteMatched =>
        Versioned.delete(spark, path, src.select(col(key)).distinct(), key)
      case other =>
        val missing = targetCols.filterNot(c => src.columns.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"graft-versioned MERGE: source must carry every target column for SET */INSERT * " +
            s"(missing: ${missing.mkString(", ")})")
        val aligned = src.select(targetCols.map(c =>
          col(src.columns.find(_.equalsIgnoreCase(c)).get).as(c)): _*)
        val updates = other match {
          case GraftMergeIntoCommand.UpdateOnly =>
            // SET * without INSERT *: only keys already present merge
            aligned.join(
              Versioned.read(spark, path).select(col(key)).distinct(), Seq(key), "left_semi")
          case _ => aligned
        }
        if (layout.nonEmpty) Versioned.upsertPartitioned(spark, path, updates, key, layout: _*)
        else Versioned.upsert(spark, path, updates, key)
    }
    // v1 catalog tables cache their resolved relation (pinned snapshot);
    // refresh so the next SELECT over the NAME resolves the new version
    catalogIdent.foreach { id =>
      try spark.catalog.refreshTable(id.map(p => s"`$p`").mkString("."))
      catch { case _: Exception => () } // a path-only target has no catalog entry
    }
    Seq.empty
  }
}

object GraftMergeIntoCommand {
  sealed trait Shape extends Serializable
  case object Upsert extends Shape
  case object UpdateOnly extends Shape
  case object DeleteMatched extends Shape
}

/** The planned predicate DML statements: `DELETE FROM t WHERE cond`
  * lands as [[Versioned.deleteWhere]] (a positional deletion vector —
  * zero data files rewritten, join-free reads after), `UPDATE t SET …
  * [WHERE cond]` as [[Versioned.updateWhere]] (copy-on-write). The
  * carried expressions are name-detached at rewrite time and wrapped
  * as Columns here, so they resolve against the snapshot actually read
  * when the command runs. */
case class GraftDmlCommand(
    path: String,
    op: GraftDmlCommand.Op,
    catalogIdent: Option[Seq[String]]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    op match {
      case GraftDmlCommand.Delete(cond) =>
        Versioned.deleteWhere(spark, path, ColumnBridge.column(cond))
      case GraftDmlCommand.Update(set, cond) =>
        Versioned.updateWhere(spark, path,
          set.map { case (c, v) => c -> ColumnBridge.column(v) }.toMap,
          cond.map(ColumnBridge.column))
    }
    catalogIdent.foreach { id =>
      try spark.catalog.refreshTable(id.map(p => s"`$p`").mkString("."))
      catch { case _: Exception => () }
    }
    Seq.empty
  }
}

object GraftDmlCommand {
  sealed trait Op extends Serializable
  final case class Delete(cond: Expression) extends Op
  final case class Update(set: Seq[(String, Expression)], cond: Option[Expression]) extends Op
}

/** MERGE INTO a Delta/Iceberg interop table: the same clause shapes as
  * the native command, executed through the format's own log-commit
  * writers — upserts as the copy-on-write keyed merge (only touched
  * files rewritten), matched-DELETE as the format's merge-on-read
  * shape (Delta deletion vectors / Iceberg position deletes, zero
  * rewrite), with a keyed SEMI-JOIN match so the delete-key frame
  * never collects during discovery. */
case class GraftInteropMergeCommand(
    flavor: String,
    path: String,
    source: LogicalPlan,
    key: String,
    shape: GraftMergeIntoCommand.Shape,
    catalogIdent: Option[Seq[String]]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val classic = spark.asInstanceOf[ClassicSession]
    val src = Dataset.ofRows(classic, source)
    def read() = flavor match {
      case "delta" => graft.interop.DeltaLake.read(spark, path)
      case _       => graft.interop.Iceberg.read(spark, path)
    }
    val target = read()
    shape match {
      case GraftMergeIntoCommand.DeleteMatched =>
        flavor match {
          case "delta" => graft.interop.DeltaLake.deleteMatched(spark, path, src, key)
          case _       => graft.interop.Iceberg.deleteMatched(spark, path, src, key)
        }
      case other =>
        val targetFields = target.schema.fields.toSeq
        val missing = targetFields.map(_.name)
          .filterNot(c => src.columns.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"$flavor MERGE: source must carry every target column for SET */INSERT * " +
            s"(missing: ${missing.mkString(", ")})")
        // align names AND types to the target schema (SQL literals may
        // arrive narrower than the table's column types)
        val aligned = src.select(targetFields.map(f =>
          col(src.columns.find(_.equalsIgnoreCase(f.name)).get).cast(f.dataType).as(f.name)): _*)
        val updates = other match {
          case GraftMergeIntoCommand.UpdateOnly =>
            aligned.join(target.select(col(key)).distinct(), Seq(key), "left_semi")
          case _ => aligned
        }
        flavor match {
          case "delta" => graft.interop.DeltaLake.upsertByKey(spark, path, updates, key)
          case _       => graft.interop.Iceberg.upsertByKey(spark, path, updates, key)
        }
    }
    catalogIdent.foreach { id =>
      try spark.catalog.refreshTable(id.map(p => s"`$p`").mkString("."))
      catch { case _: Exception => () }
    }
    Seq.empty
  }
}

/** `DELETE FROM` / `UPDATE` over a Delta/Iceberg interop table:
  * DELETE lands as the format's merge-on-read shape (deletion vectors
  * / position deletes — zero data files rewritten), UPDATE as the
  * copy-on-write rewrite of only the touched files. Conditions are
  * carried name-detached and re-resolve against the snapshot read at
  * execution, exactly like the native [[GraftDmlCommand]]. */
case class GraftInteropDmlCommand(
    flavor: String,
    path: String,
    op: GraftDmlCommand.Op,
    catalogIdent: Option[Seq[String]]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    op match {
      case GraftDmlCommand.Delete(cond) =>
        val c = ColumnBridge.column(cond)
        flavor match {
          case "delta" => graft.interop.DeltaLake.deleteMergeOnRead(spark, path, c)
          case _       => graft.interop.Iceberg.deleteMergeOnRead(spark, path, c)
        }
      case GraftDmlCommand.Update(set, cond) =>
        val s = set.map { case (c, v) => c -> ColumnBridge.column(v) }.toMap
        val p = cond.map(ColumnBridge.column)
        flavor match {
          case "delta" => graft.interop.DeltaLake.updateWhere(spark, path, s, p)
          case _       => graft.interop.Iceberg.updateWhere(spark, path, s, p)
        }
    }
    catalogIdent.foreach { id =>
      try spark.catalog.refreshTable(id.map(p => s"`$p`").mkString("."))
      catch { case _: Exception => () }
    }
    Seq.empty
  }
}
