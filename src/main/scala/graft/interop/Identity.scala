package graft.interop

import graft.core.IdentityGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
import org.apache.spark.sql.types._

/** IDENTITY COLUMNS, written once for every table format that has them
  * (Delta's `identityColumns` writer feature and Versioned's mirror of
  * it; Iceberg's table spec has no identity concept). A declaration and
  * its high watermark live as field metadata of the table schema, under
  * one key prefix per format (`delta.identity.`, `graft.identity.`):
  * `start`, `step` and `allowExplicitInsert` are the declaration,
  * `highWaterMark` the last value handed out — absent until the first
  * generation, on the `start + k*step` grid once set by this library.
  *
  * The core holds each rule once:
  *  - a declaration is refused on a table that holds rows, on a missing
  *    or non-BIGINT column, on a column that already has another fill
  *    rule (a default or a generation expression), on a partition
  *    column, and for step 0;
  *  - an append ([[conform]]) refuses an explicit value for a GENERATED
  *    ALWAYS column, generates each omitted column gap-free past the
  *    watermark ([[IdentityGen]]), and ratchets a carried BY DEFAULT
  *    column's watermark past the largest value the append carries;
  *  - a MERGE may neither insert into nor change a GENERATED ALWAYS
  *    column ([[gateMerge]]); a BY DEFAULT one ratchets its watermark
  *    past the merged values after the merge ([[mergeRatchets]]);
  *  - an UPDATE may not SET a GENERATED ALWAYS column ([[gateUpdate]]).
  *
  * Every watermark a commit publishes derives from the head schema that
  * commit lands on, never from the base the writer first read: a rival
  * that advanced the watermark in between is never moved backwards.
  * Each format keeps its commit step, and the source of `seen` for a
  * carried column: Delta reads it off the staged files' statistics,
  * Versioned runs one max/min aggregate. */
object Identity {

  /** One identity declaration: `GENERATED ALWAYS AS IDENTITY` when
    * `allowExplicitInsert` is false, `GENERATED BY DEFAULT` when true. */
  final case class Spec(start: Long = 1L, step: Long = 1L,
      allowExplicitInsert: Boolean = false)

  private[graft] val Delta = new Identity("delta.identity.")
  private[graft] val Versioned = new Identity("graft.identity.")

  /** An append frame conformed to one head: `bases` is the watermark
    * each generated column resumed from, `reached` the watermark each
    * generated column moved to (absent when the frame was empty), and
    * `carried` the BY DEFAULT columns the frame brought values for. */
  private[graft] final case class Conformed(frame: DataFrame, bases: Map[String, Long],
      reached: Map[String, Long], carried: Seq[String])

  /** The largest value of `c` in `df` (the smallest on a descending
    * grid) — what a generated value must clear. One aggregate. */
  private[graft] def extreme(df: DataFrame, c: String, spec: Spec): Option[Long] =
    Option(df.agg(if (spec.step > 0) max(col(c)) else min(col(c))).head().get(0))
      .map(_.asInstanceOf[Long])

  /** [[extreme]] over `df`, run at most once per column however often
    * a rebase asks again. */
  private[graft] def seenIn(df: DataFrame): (String, Spec) => Option[Long] = {
    val memo = scala.collection.mutable.Map.empty[String, Option[Long]]
    (c, spec) => memo.getOrElseUpdate(c, extreme(df, c, spec))
  }
}

/** The identity rules over one format's metadata keys (see the
  * companion). */
private[graft] final class Identity(prefix: String) {
  import Identity.{Conformed, Spec}

  private val StartKey = prefix + "start"
  private val StepKey = prefix + "step"
  private val AllowKey = prefix + "allowExplicitInsert"
  private val HwmKey = prefix + "highWaterMark"

  def spec(f: StructField): Option[Spec] =
    if (!f.metadata.contains(StartKey)) None
    else Some(Spec(f.metadata.getLong(StartKey), f.metadata.getLong(StepKey),
      f.metadata.contains(AllowKey) && f.metadata.getBoolean(AllowKey)))

  private def hwm(f: StructField): Option[Long] =
    if (f.metadata.contains(HwmKey)) Some(f.metadata.getLong(HwmKey)) else None

  /** The table's declarations: column → (spec, high watermark). */
  def columns(table: StructType): Map[String, (Spec, Option[Long])] =
    table.fields.flatMap(f => spec(f).map(s => f.name -> (s, hwm(f)))).toMap

  /** The watermarks `table` records: column → value. */
  def hwms(table: StructType): Map[String, Long] =
    table.fields.flatMap(f => hwm(f).map(f.name -> _)).toMap

  /** `table` with the watermarks in `hwms` (column → value) set on the
    * columns it declares. */
  def withHwms(table: StructType, hwms: Map[String, Long]): StructType =
    if (hwms.isEmpty) table
    else StructType(table.fields.map(f => hwms.get(f.name).filter(_ => spec(f).nonEmpty)
      .fold(f)(h => Evolve.withMeta(f)(_.putLong(HwmKey, h)))))

  /** `s` with every watermark erased: two schemas that differ only in
    * watermarks are one schema to a rebase, which re-derives its own
    * watermarks on the head it lands on. */
  def hwmErased(s: StructType): StructType =
    StructType(s.fields.map(f => if (hwm(f).isEmpty) f else Evolve.withMeta(f)(_.remove(HwmKey))))

  /** Where generation resumes: the watermark normalized onto the grid
    * (a foreign writer may have left it off-grid), or one step before
    * `start` when nothing was handed out yet. */
  private def base(f: StructField, s: Spec): Long =
    hwm(f).fold(s.start - s.step)(h => IdentityGen.ratchet(s.start, s.step, s.start - s.step, h))

  private def has(df: DataFrame, c: String): Boolean = df.columns.exists(_.equalsIgnoreCase(c))

  /** `table` with `name` declared as `s` — every declaration refusal.
    * `holdsRows` is asked only once the cheap checks passed. */
  def declare(op: String, table: StructType, name: String, s: Spec, partCols: Seq[String])(
      holdsRows: => Boolean): StructType = {
    require(s.step != 0L, s"$op: step must be nonzero")
    // row-emptiness, not file-emptiness: an empty CREATE commits a
    // zero-row file whose presence must not block the declaration
    require(!holdsRows, s"$op: the table already holds data — identity columns are " +
      "declared at creation (empty-table-only)")
    require(table.fieldNames.contains(name),
      s"$op: no column '$name' in (${table.fieldNames.mkString(", ")})")
    val i = table.fieldIndex(name)
    val f = table.fields(i)
    require(f.dataType == LongType,
      s"$op: identity columns must be BIGINT, $name is ${f.dataType.sql}")
    require(!f.metadata.contains(Evolve.DefaultKey) &&
      !f.metadata.contains("delta.generationExpression"),
      s"$op: $name already has a default or generation expression — the fill rules would race")
    require(!partCols.contains(name), s"$op: $name is a partition column")
    StructType(table.fields.updated(i, Evolve.withMeta(f)(_.putLong(StartKey, s.start)
      .putLong(StepKey, s.step).putBoolean(AllowKey, s.allowExplicitInsert))))
  }

  /** `df` conformed to the identity columns of `table` (returned as is
    * when the table declares none): a carried GENERATED ALWAYS column
    * refuses, each omitted column generates past its watermark, and the
    * columns take the table's order when the frame holds exactly them. */
  def conform(op: String, df: DataFrame, table: StructType): Conformed = {
    val ids = table.fields.toSeq.flatMap(f => spec(f).map(f -> _))
    val (carried, omitted) = ids.partition { case (f, _) => has(df, f.name) }
    carried.foreach { case (f, s) =>
      require(s.allowExplicitInsert, s"$op: ${f.name} is GENERATED ALWAYS AS IDENTITY — " +
        "explicit values refuse (declare BY DEFAULT AS IDENTITY to allow them)")
    }
    var bases = Map.empty[String, Long]
    var reached = Map.empty[String, Long]
    val generated = omitted.foldLeft(df) { case (acc, (f, s)) =>
      val b = base(f, s)
      val (g, last) = IdentityGen.assign(acc, f.name, b, s.step)
      bases += f.name -> b
      if (last != b) reached += f.name -> last
      g
    }
    val names = table.fieldNames.toIndexedSeq
    val frame =
      if (omitted.nonEmpty && generated.columns.length == names.length &&
          names.forall(has(generated, _))) generated.select(names.map(col): _*)
      else generated
    Conformed(frame, bases, reached, carried.map(_._1.name))
  }

  /** Whether `c`'s generated values would collide on `head`: a rival
    * moved a generated column's watermark since `c` was conformed, so
    * the append must conform again on `head`. */
  def stale(head: StructType, c: Conformed): Boolean =
    head.fields.exists(f => c.bases.get(f.name).exists(b => spec(f).exists(base(f, _) != b)))

  /** The watermarks `c` moves when it commits on `head` (which it must
    * not be [[stale]] against): each generated column's reached value,
    * and each carried column ratcheted past `seen`. */
  def published(head: StructType, c: Conformed, seen: (String, Spec) => Option[Long])
      : Map[String, Long] =
    c.reached ++ ratcheted(head, c.carried, seen)

  /** The watermarks of `names` on `table` ratcheted past `seen`, for
    * those that move. */
  def ratcheted(table: StructType, names: Seq[String], seen: (String, Spec) => Option[Long])
      : Map[String, Long] =
    table.fields.toSeq.filter(f => names.contains(f.name)).flatMap { f =>
      spec(f).flatMap { s =>
        val cur = hwm(f).getOrElse(s.start - s.step)
        seen(f.name, s).map(IdentityGen.ratchet(s.start, s.step, cur, _))
          .filter(_ != cur).map(f.name -> _)
      }
    }.toMap

  /** MERGE on `table` with `updates` keyed by `key`: a GENERATED ALWAYS
    * column may neither take a merge INSERT (its ids would be
    * user-chosen) nor change a matched row's id. Both checks ride one
    * aggregate over the joined update set per such column; `current`
    * is the table's rows, read only when a check runs. */
  def gateMerge(op: String, table: StructType, updates: DataFrame, key: String,
      current: => DataFrame): Unit = {
    lazy val rows = current
    table.fields.filter(f => spec(f).exists(!_.allowExplicitInsert) && has(updates, f.name))
      .foreach { f =>
        val cur = rows.select(col(key), col(f.name).as("__graft_cur_id"))
        val probe = updates.select(col(key), col(f.name)).join(cur, Seq(key), "left")
          .agg(
            sum(when(col("__graft_cur_id").isNull, 1L).otherwise(0L)).as("ins"),
            sum(when(col("__graft_cur_id").isNotNull &&
              !(col(f.name) <=> col("__graft_cur_id")), 1L).otherwise(0L)).as("chg"),
            count(lit(1)).as("n"))
          .head()
        require(probe.getAs[Long]("n") == 0L || probe.getAs[Long]("ins") == 0L,
          s"$op: ${f.name} is GENERATED ALWAYS AS IDENTITY — a merge INSERT would land " +
            "explicit values (append to generate, or declare BY DEFAULT)")
        require(probe.getAs[Long]("chg") == 0L,
          s"$op: ${f.name} is GENERATED ALWAYS AS IDENTITY — a matched update must not " +
            "change a row's identity value")
      }
  }

  /** The columns a landed MERGE of `updates` into `table` ratchets
    * past the merged values ([[ratcheted]] on the head the ratchet
    * commits on): each BY DEFAULT column `updates` carries. */
  def mergeRatchets(table: StructType, updates: DataFrame): Seq[String] =
    table.fields.toSeq.filter(f => spec(f).exists(_.allowExplicitInsert) && has(updates, f.name))
      .map(_.name)

  /** UPDATE ... SET `columns` on `table`: a GENERATED ALWAYS column
    * cannot be updated. A BY DEFAULT one can, and its watermark stays
    * (SYNC IDENTITY repairs it). */
  def gateUpdate(op: String, table: StructType, columns: Iterable[String]): Unit =
    columns.foreach(c => table.fields.find(_.name.equalsIgnoreCase(c)).flatMap(spec).foreach(s =>
      require(s.allowExplicitInsert,
        s"$op: $c is GENERATED ALWAYS AS IDENTITY — its values cannot be updated")))
}
