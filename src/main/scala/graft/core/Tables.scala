package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Loaders for the driver-generated test corpus (see FIXTURES.md).
  *
  * Every query function receives `(spark, sfDir)` and must read only from
  * `$sfDir/<table>.parquet`. At 100 TB these would be partitioned
  * directories / catalog tables; the single-call indirection here means the
  * storage layout can change without touching any operator code.
  *
  * Schema memo: inferring a parquet file's schema runs a one-task Spark
  * job to read its footer. [[table]] remembers the inferred schema of a
  * single-file table per (qualified path, length, modification time,
  * session conf) and reads later calls with that schema declared, so an
  * unchanged file costs one `getFileStatus` instead of a job. A rewritten
  * file or any conf change (`binaryAsString`, `mergeSchema`, ...) misses
  * and infers as before; a directory path always infers. Only the
  * `StructType` is kept: every call still lists, plans and scans. */
object Tables {
  private val schemas =
    new ConcurrentHashMap[(String, Long, Long, Map[String, String]), StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = Try {
      val p = new HPath(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    }.toOption.filter(_.isFile)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime, spark.conf.getAll))
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(schemas.put(_, df.schema))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) →
    * Spark `TimestampNTZType` (corpus regenerated 2026-08-13; earlier
    * corpora wrote INT64 TIMESTAMP(NANOS), which Spark surfaced as a
    * nanoseconds long under `nanosAsLong`). Every downstream operator and
    * oracle was built on the nanos-long contract — Spark `ts div 1000` ==
    * DuckDB `epoch_us(ts)` — so the loader re-surfaces `ts` as LongType
    * epoch NANOSECONDS: the NTZ wall-clock is anchored at UTC and scaled
    * ×1000. DuckDB reads the same column as a naive microsecond
    * TIMESTAMP, so the micros-precision compare is bit-identical to the
    * old corpus (whose sub-micro digits DuckDB truncated anyway).
    *
    * The UTC anchor is pinned on the cast itself: `ResolveTimeZone` only
    * stamps a Cast whose zone is unset, so this frame is deterministic in
    * any session zone and the session conf is never touched (a
    * set-and-restore would leak UTC to concurrent queries on the same
    * session). */
  def events(s: SparkSession, d: String): DataFrame =
    table(s, d, "events").withColumn("ts",
      unix_micros(ColumnBridge.column(
        Cast(ColumnBridge.expression(col("ts")), TimestampType, Some("UTC")))) * 1000L)
}
