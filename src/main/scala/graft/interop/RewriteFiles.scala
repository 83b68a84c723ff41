package graft.interop

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** FILE-SET REPLACEMENT, written once for every table format: the
  * verbs that remove a chosen set of whole data files and add their
  * replacement in ONE commit (Iceberg's `RewriteFiles` operation) —
  * dynamic partition overwrite (`INSERT OVERWRITE` under
  * `partitionOverwriteMode=dynamic`) and small-file compaction.
  * The core chooses the files once; each format only reads them and
  * commits its remove/add actions.
  *
  *  - [[replacePartitions]]: every partition the frame TOUCHES is
  *    replaced whole, every other partition is untouched — O(touched)
  *    work at any table size. Touched partitions resolve by the
  *    frame's partition VALUES (one `distinct().collect()` of the
  *    partition tuples), matched against each live file's logical
  *    partition values. Matching is by canonical string, so partition
  *    columns are restricted to the types whose string form equals the
  *    on-disk rendering — a predicted partition can never silently miss
  *    its files. An empty source replaces nothing (the SQL contract —
  *    no commit); a NULL partition value is refused.
  *  - [[compact]]: bin-pack each partition's small files (under
  *    `targetBytes / 2`, where at least two share a partition) plus the
  *    format's debt files (files carrying deletes the rewrite folds)
  *    into ~`targetBytes` outputs, optionally scoped to the partitions
  *    whose values equal every `partitionFilter` entry.
  *
  * A format plugs in through [[Table]]: its logical schema, partition
  * names, live files with their partition values, and what a no-op
  * returns; a format that compacts also gives each file's key and size
  * and the live rows of a subset of files ([[Compactable]]).
  * `replacePartitions` takes the commit as a function and `compact`
  * returns its selection, so format-only work (Delta's fresh row ids
  * and CDF images, Iceberg's delete-manifest decision and debt
  * cleanup, Versioned's claim and rendering guard) stays with the
  * format. */
private[graft] object RewriteFiles {

  /** The per-format face of one table snapshot; `F` is the format's
    * live-file record. */
  trait Table[F] {
    /** Prefixes every refusal message (e.g. `DeltaLake`). */
    def name: String
    /** The logical table schema, in column order. */
    def schema: StructType
    /** The partition names, in layout order, keyed the way the format
      * keys [[partition]] and a `partitionFilter`. */
    def partitionNames: Seq[String]
    def files: Seq[F]
    /** A file's partition values by partition name, as canonical
      * strings (None = NULL). */
    def partition(f: F): Map[String, Option[String]]
    /** What [[replacePartitions]] returns when it commits nothing. */
    def unchanged: Long
  }

  /** A table [[compact]] can rewrite: it also sizes, identifies and
    * reads its files. */
  trait Compactable[F] extends Table[F] {
    /** A file's identity (two records of one file share it). */
    def key(f: F): String
    def size(f: F): Long
    /** The live rows of `files`, in logical column names. */
    def rows(files: Seq[F]): DataFrame
  }

  /** One dynamic overwrite, ready to commit: `rows` replaces
    * `removed`, the live files of the `touched` partition tuples
    * (values in [[Table.partitionNames]] order). */
  final case class Replacement[F](touched: Set[Seq[String]], removed: Seq[F], rows: DataFrame)

  /** One compaction, ready to commit: `rows` (already coalesced to the
    * output file count) replaces `files`. */
  final case class Compaction[F](files: Seq[F], rows: DataFrame)

  /** Dynamic partition overwrite of `t` by `dfIn`: the gates, the
    * touched tuples and the matched files, handed to `commit`. The
    * frame's columns are matched to the table's BY NAME (a catalog
    * write serves partition columns last, whatever order the table
    * was written in) and reach `commit` in table order. Returns
    * `t.unchanged` for an empty source. */
  def replacePartitions[F](t: Table[F], dfIn: DataFrame)(commit: Replacement[F] => Long): Long = {
    val op = s"${t.name}.replacePartitions"
    val partCols = t.partitionNames
    require(partCols.nonEmpty,
      s"$op: the table is unpartitioned — dynamic overwrite needs a partition layout " +
        "(use a full INSERT OVERWRITE)")
    val names = t.schema.fieldNames.toSeq
    require(dfIn.columns.toSeq.sorted == names.sorted,
      s"$op: the frame schema differs from the table schema")
    val df = dfIn.select(names.map(n => dfIn.col(s"`${n.replace("`", "``")}`")): _*)
    require(DeltaLake.cleanJson(t.schema) == DeltaLake.cleanJson(df.schema),
      s"$op: the frame schema differs from the table schema")
    partCols.foreach { c =>
      t.schema(c).dataType match {
        case _: StringType | IntegerType | LongType | ShortType | ByteType | BooleanType |
            DateType => ()
        case other => throw new IllegalArgumentException(
          s"$op: partition column $c is $other — dynamic overwrite matches partitions " +
            "by canonical string value, which this type does not render stably; use a " +
            "full overwrite")
      }
    }
    val tuples = df.select(partCols.map(col): _*).distinct().collect()
    if (tuples.isEmpty) return t.unchanged
    require(tuples.forall(r => partCols.indices.forall(i => !r.isNullAt(i))),
      s"$op: the frame carries a NULL partition value")
    val touched: Set[Seq[String]] =
      tuples.map(r => partCols.indices.map(i => r.get(i).toString): Seq[String]).toSet
    val removed = t.files.filter { f =>
      val pv = t.partition(f)
      touched.contains(partCols.map(c => pv.get(c).flatten.orNull))
    }
    commit(Replacement(touched, removed, df))
  }

  /** Small-file compaction of `t`, scoped to `partitionFilter`: the
    * small files of each partition plus the in-scope `debt` files,
    * with their rows — or None when nothing is selected, so the format
    * decides what an empty compaction does. */
  def compact[F](t: Compactable[F], targetBytes: Long, partitionFilter: Map[String, String],
      debt: Seq[F]): Option[Compaction[F]] = {
    val bad = partitionFilter.keys.filterNot(t.partitionNames.contains)
    require(bad.isEmpty,
      s"${t.name}.compact: [${bad.mkString(", ")}] are not partition names of the table " +
        s"(have: ${t.partitionNames.mkString(", ")})")
    val inScope = (f: F) => partitionFilter.forall { case (k, v) =>
      t.partition(f).get(k).flatten.contains(v)
    }
    val small = t.files.filter(f => inScope(f) && t.size(f) < targetBytes / 2)
      .groupBy(t.partition).values.filter(_.size > 1).flatten.toSeq
    val selected = (small ++ debt.filter(inScope)).distinctBy(t.key)
    Option.when(selected.nonEmpty)(Compaction(selected,
      t.rows(selected).coalesce(outputFiles(selected.map(t.size).sum, targetBytes))))
  }

  /** How many ~`targetBytes` files `bytes` of input rewrite into (at
    * least one). */
  def outputFiles(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** The STRAGGLERS of a clustered layout: every file without recorded
    * bounds, plus the complement of the largest pairwise-disjoint
    * subset of the recorded [min, max] intervals (classic interval
    * scheduling — greedy by earliest upper bound). Bounds are exact
    * `BigDecimal`s for numbers, canonical strings otherwise; strings
    * compare as unsigned UTF-8 bytes, the order Spark's min/max wrote
    * them in. */
  def stragglers[F](files: Seq[F])(bounds: F => Option[(Any, Any)]): Seq[F] = {
    val (stated, statless) = files.map(f => f -> bounds(f)).partition(_._2.isDefined)
    val sorted = stated.map { case (f, b) => (f, b.get) }
      .sortWith((x, y) => boundCmp(x._2._2, y._2._2) < 0)
    val clean = scala.collection.mutable.Set.empty[F]
    var lastHi: Option[Any] = None
    for ((f, (lo, hi)) <- sorted)
      if (lastHi.forall(h => boundCmp(lo, h) > 0)) { clean += f; lastHi = Some(hi) }
    statless.map(_._1) ++ sorted.map(_._1).filterNot(clean.contains)
  }

  private def boundCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: String, y: String) => utf8Compare(x, y)
    case _ => 0
  }

  /** `a` against `b` as unsigned UTF-8 bytes — Spark's UTF8String
    * binary order, which Java's UTF-16 `compareTo` breaks for
    * supplementary characters against U+E000..U+FFFF. */
  def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.util.Arrays.compareUnsigned(x, y)
  }
}
