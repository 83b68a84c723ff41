package graft.interop

import graft.functions.DvPositionSource

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.{col, expr}

/** MERGE-ON-READ DELETE, written once for every table format: `DELETE …
  * WHERE` (a predicate) and `MERGE … WHEN MATCHED THEN DELETE` (a key
  * semi-join). Zero data files are rewritten: the matched rows' (file,
  * row position) pairs become a per-file deletion record the format
  * encodes — Delta's deletion vector, Iceberg's position-delete file or
  * v3 puffin vector, Versioned's run file — and commits.
  *
  * The core finds the matches once (discovery reads the table's
  * materialized snapshot, so an already-deleted row is never
  * re-recorded), projects them to (the format's file key, position),
  * and groups them by file ONCE, on executors: the pairs shuffle by
  * file and sort within partitions, and each file's sorted, distinct
  * positions — merged with the file's earlier vector when the format
  * keeps one vector per file — reach the format's encoder. Only what
  * the encoder emits (descriptors, or rows it writes) leaves the task,
  * so a delete of billions of rows collects O(touched files) on the
  * driver.
  *
  * A format plugs in through [[Table]]: its live rows with the scan's
  * file and position columns, the projection to its file key, its
  * earlier vectors, and a commit that encodes through [[Matches]] and
  * decides what a delete matching nothing returns. */
private[graft] object MergeOnRead {

  /** One task's matched files in key order: each file key with its
    * positions sorted, distinct and merged with the file's earlier
    * vector. */
  type Files = Iterator[(String, Array[Long])]

  /** The per-format face of one table snapshot. */
  trait Table {
    /** Prefixes every refusal message (e.g. `DeltaLake.deleteMatched`). */
    def name: String
    /** The live rows plus the scan's file and [[posCol]] columns. */
    def live: DataFrame
    /** The commit's file key, computed from [[live]]'s file column
      * (usually through [[diskPath]]). */
    def fileKey: Column
    def posCol: String
    /** Earlier vectors by file key, merged into that file's new
      * positions; empty for a format that stacks vectors. */
    def prior: Map[String, Seq[DvPositionSource]]
    def commit(m: Matches): Long
  }

  /** `DELETE FROM t WHERE cond`. A row whose predicate is NULL is kept
    * (SQL semantics). */
  def deleteWhere(t: Table, cond: Column): Long =
    t.commit(new Matches(t.live.filter(cond), t))

  /** Delete the live rows whose `key` appears in `keys`: a semi-join
    * (shuffles on the key, broadcastable when small), so a large key
    * frame never collects on the driver. */
  def deleteMatched(t: Table, keys: DataFrame, key: String): Long = {
    val live = t.live
    require(live.columns.contains(key), s"${t.name}: no column $key")
    t.commit(new Matches(live.join(keys.select(col(key)).distinct(), Seq(key), "left_semi"), t))
  }

  /** The on-disk path in a scan's `_metadata.file_path` column
    * `fileCol`, from the table `root` on — or after it, when
    * `relative`. The column is a URL-ENCODED URI, so it is decoded (with
    * a literal-'+' guard: url_decode is form-decoding, and a '+' in a
    * URI path is a literal plus, not a space). Recording the encoded
    * form would miss the snapshot's file and silently unapply the
    * delete on any path Spark encodes (a space or '%' in a partition
    * value). */
  def diskPath(fileCol: String, root: HPath, relative: Boolean): Column = {
    val rootPrefix = root.toUri.getPath.stripSuffix("/") + "/"
    val raw = s"url_decode(replace($fileCol, '+', '%2B'))"
    val from = s"instr($raw, '${rootPrefix.replace("'", "''")}')" +
      (if (relative) s" + ${rootPrefix.length}" else "")
    expr(s"substring($raw, $from)")
  }

  /** One delete's matched rows and its per-file grouping step. */
  final class Matches private[MergeOnRead] (val rows: DataFrame, t: Table) {

    /** `f` run over every task's [[Files]]. `oneTask` puts all
      * files in one task, in key order — for a format that writes one
      * sorted file. */
    def encode[T: Encoder](oneTask: Boolean)(f: Files => Iterator[T]): Dataset[T] = {
      val spark = rows.sparkSession
      import spark.implicits._
      // earlier vectors ride a broadcast, not the task closure: a table
      // with ~1M vectors would otherwise ship the map in every task
      val priorMap = t.prior
      val prior = Option.when(priorMap.nonEmpty)(spark.sparkContext.broadcast(priorMap))
      val pairs = rows.select(t.fileKey.as("__file"), col(t.posCol).as("__pos"))
      val byFile =
        if (oneTask) pairs.repartition(1, col("__file")) else pairs.repartition(col("__file"))
      byFile.sortWithinPartitions("__file", "__pos").as[(String, Long)]
        .mapPartitions(it => f(grouped(it.buffered, prior.fold(noPrior)(_.value))))
    }

    /** [[encode]] collected to the driver: one descriptor per touched
      * file, never a position. Records the row count in
      * [[DvIntrospect.lastCommitDriverRows]]. */
    def collect[T: Encoder](f: Files => Iterator[T]): Array[T] = {
      val out = encode(oneTask = false)(f).collect()
      DvIntrospect.lastCommitDriverRows = out.length
      out
    }
  }

  private val noPrior = Map.empty[String, Seq[DvPositionSource]]

  /** (file, position) pairs sorted by file then position, lazily cut
    * into one entry per file. */
  private def grouped(in: BufferedIterator[(String, Long)],
      prior: Map[String, Seq[DvPositionSource]]): Files = new Iterator[(String, Array[Long])] {
    def hasNext: Boolean = in.hasNext
    def next(): (String, Array[Long]) = {
      val file = in.head._1
      val pos = Array.newBuilder[Long]
      var last = -1L
      while (in.hasNext && in.head._1 == file) {
        val p = in.next()._2
        if (p != last) { pos += p; last = p }
      }
      val earlier = prior.getOrElse(file, Nil)
      file -> (if (earlier.isEmpty) pos.result()
        else (pos.result() ++ earlier.flatMap(_.positions())).distinct.sorted)
    }
  }
}
