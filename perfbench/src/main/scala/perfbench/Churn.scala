package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.Versioned
import graft.interop.{DeltaLake, Iceberg}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The churn workload's expected table: key -> (row hash, row bytes).
  * Every format and every change-feed consumer must end equal to it. */
final class ChurnModel {
  val rows = mutable.HashMap.empty[Long, (Long, Int)]

  def put(key: Long, hash: Long, bytes: Int): Unit = rows(key) = (hash, bytes)
  def delete(key: Long): Unit = rows -= key
  def size: Int = rows.size
  def userBytes: Long = rows.valuesIterator.map(_._2.toLong).sum
  def hashes: Map[Long, Long] = rows.iterator.map { case (k, (h, _)) => k -> h }.toMap

  /** Apply one change feed batch: (key, version, isDelete, hash) rows.
    * Within a version, removals apply before insertions, so a keyed
    * rewrite expressed as delete + insert of one key lands the new row. */
  def applyFeed(changes: Seq[(Long, Long, Boolean, Long)]): Unit =
    changes.sortBy { case (_, v, del, _) => (v, if (del) 0 else 1) }.foreach {
      case (k, _, true, _) => rows -= k
      case (k, _, false, h) => rows(k) = (h, 0)
    }

  /** Keys whose hash differs between this model and `other`, at most `limit`. */
  def diff(other: Map[Long, Long], limit: Int = 5): Seq[Long] = {
    val mine = hashes
    (mine.keySet ++ other.keySet).iterator.filter(k => mine.get(k) != other.get(k)).take(limit).toSeq
  }
}

object Churn {
  val Sf = 0.004 // 6,000 orders loaded into each format
  val Key = "o_orderkey"
  val AppendRows = 200
  val UpsertExisting = 160
  val UpsertNew = 40
  val DeleteRows = 80

  /** The canonical row hash: the timestamp goes through its string form
    * so formats that surface it as another timestamp type still agree. */
  val rowHash = xxhash64(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
    col("o_orderdate").cast("string"), col("o_orderpriority"))
  val rowBytes = length(concat_ws(",", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
    col("o_totalprice"), col("o_orderdate").cast("string"), col("o_orderpriority")))
}

/** One table format as the churn client drives it, through its public API. */
abstract class Format(val name: String) {
  var path: String = _
  def load(df: DataFrame): Unit
  def append(df: DataFrame): Unit
  def upsert(df: DataFrame): Unit
  def delete(keys: DataFrame): Unit
  def read(): DataFrame
  def maint(): Unit
  /** The format's change-feed stream, resolved against the table now. */
  def feed(): DataFrame
  /** (key, version, isDelete, hash) rows of a change-feed batch. */
  def changes(batch: DataFrame): DataFrame
  /** Top-level entries that hold metadata rather than data files. */
  def isMeta(rel: String): Boolean
}

final class Churn(spark: SparkSession, client: Client, seed: Long) extends Workload {
  import Churn._

  private val rnd = new scala.util.Random(seed)
  private var model = new ChurnModel
  private var nextKey = 0L
  private var round = 0
  private var dir: Path = _
  private val consumers = mutable.Map.empty[String, ChurnModel]
  private val commits = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val readMs = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, Double)]]

  private val formats: Seq[Format] = Seq(
    new Format("versioned") {
      private var firstChange = 0L
      def load(df: DataFrame): Unit = firstChange = Versioned.commit(df, path) + 1
      def append(df: DataFrame): Unit = Versioned.appendCommit(df, path)
      def upsert(df: DataFrame): Unit = Versioned.upsert(spark, path, df, Key)
      def delete(keys: DataFrame): Unit = Versioned.deleteMergeOnRead(spark, path, keys, Key)
      def read(): DataFrame = Versioned.read(spark, path)
      def maint(): Unit = Versioned.compactFiles(spark, path)
      def feed(): DataFrame = spark.readStream.format("graft-versioned").option("path", path)
        .option("readChangeFeed", "true").option("keyColumn", Key)
        .option("startingVersion", firstChange.toString).load()
      def changes(b: DataFrame): DataFrame = b.select(col(Key), col("commit_version"),
        col("change_type") === "delete", rowHash)
      def isMeta(rel: String): Boolean = !rel.endsWith(".parquet")
    },
    new Format("delta") {
      private var firstChange = 0L
      def load(df: DataFrame): Unit = {
        DeltaLake.write(df, path)
        firstChange = DeltaLake.enableChangeDataFeed(spark, path) + 1
      }
      def append(df: DataFrame): Unit = DeltaLake.write(df, path, mode = SaveMode.Append)
      def upsert(df: DataFrame): Unit = DeltaLake.upsertByKey(spark, path, df, Key)
      def delete(keys: DataFrame): Unit = DeltaLake.deleteMatched(spark, path, keys, Key)
      def read(): DataFrame = DeltaLake.read(spark, path)
      def maint(): Unit = DeltaLake.compact(spark, path)
      def feed(): DataFrame = spark.readStream.format("delta").option("readChangeFeed", "true")
        .option("startingVersion", firstChange.toString).load(path)
      def changes(b: DataFrame): DataFrame = b.filter(col("_change_type") =!= "update_preimage")
        .select(col(Key), col("_commit_version"), col("_change_type") === "delete", rowHash)
      def isMeta(rel: String): Boolean = rel.startsWith("_delta_log")
    },
    new Format("iceberg") {
      private var loadedSeq = 0L
      def load(df: DataFrame): Unit = { Iceberg.write(df, path); loadedSeq = Iceberg.currentMainSequence(path) }
      def append(df: DataFrame): Unit = Iceberg.write(df, path, mode = SaveMode.Append)
      def upsert(df: DataFrame): Unit = Iceberg.upsertByKey(spark, path, df, Key)
      def delete(keys: DataFrame): Unit = Iceberg.deleteMatched(spark, path, keys, Key)
      def read(): DataFrame = Iceberg.read(spark, path)
      def maint(): Unit = { Iceberg.rewriteDeletes(spark, path); Iceberg.compact(spark, path) }
      def feed(): DataFrame = spark.readStream.format("iceberg").option("changelog", "true")
        .option("fromSeq", loadedSeq.toString).load(path)
      def changes(b: DataFrame): DataFrame = b.select(col(Key), col("_sequence_number"),
        col("_change_type") === "delete", rowHash)
      def isMeta(rel: String): Boolean = rel.startsWith("metadata")
    },
  )

  /** Rows for `keys`, valued by (seed, salt): materialized on the driver
    * so every format receives the identical batch as a local relation. */
  private def batch(keys: Seq[Long], salt: Long): (DataFrame, Seq[(Long, Long, Int)]) = {
    import spark.implicits._
    val gen = Gen.orders(seed * 1000003L + salt, keys.toDF("id"), Gen.Sizes(Sf).customer)
    val rows = gen.collect().toSeq
    val df = spark.createDataFrame(rows.asJava, gen.schema)
    val hashed = df.select(col(Key), rowHash, rowBytes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    (df, hashed)
  }

  private def keysOf(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.toDF(Key)
  }

  private def sampleLive(n: Int, exclude: Set[Long] = Set.empty): Seq[Long] = {
    val live = model.rows.keysIterator.filterNot(exclude).toIndexedSeq.sorted
    rnd.shuffle(live).take(n)
  }

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    model = new ChurnModel
    consumers.clear()
    commits.clear()
    readMs.clear()
    round = 0
    val n = Gen.Sizes(Sf).orders
    val gen = Gen.orders(seed, spark.range(n).toDF("id"), Gen.Sizes(Sf).customer)
    val base = d.resolve("orders.parquet")
    Gen.writeSingle(gen, base)
    val initial = spark.read.parquet(base.toString)
    initial.select(col(Key), rowHash, rowBytes).collect()
      .foreach(r => model.put(r.getLong(0), r.getLong(1), r.getInt(2)))
    nextKey = n
    formats.foreach { f =>
      f.path = d.resolve(f.name).toString
      f.load(initial)
      val c = new ChurnModel
      model.rows.foreach { case (k, v) => c.rows(k) = v }
      consumers(f.name) = c
    }
  }

  def scanProbe(): DataFrame = spark.read.parquet(dir.resolve("orders.parquet").toString)

  /** Drain a format's change feed into its consumer. The checkpoint keeps
    * the stream's position between rounds. */
  private def tail(f: Format): Unit = {
    val consumer = consumers(f.name)
    val q = f.feed().writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = f.changes(b).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3))).toSeq
        consumer.applyFeed(rows)
      }
      .option("checkpointLocation", dir.resolve(s"${f.name}_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** No untimed round: the timed round is the first after set-up, so its
    * timings include the first-use cost (JIT, codegen) of the upsert,
    * delete, read, tail and maintenance paths, as a batch job in a fresh
    * JVM pays it. The set-ups have already run the load paths. A warm-up
    * round would cost more time than a run can spend: BENCHMARK.json
    * repeats every workload 22 times within a fixed budget. */
  def warm(): Unit = ()

  /** One round: per format an append, an upsert, a delete, a snapshot
    * read and a change-feed drain, then maintenance. Maintenance runs
    * every round so that a run of one round measures it. */
  def step(): Unit = {
    round += 1
    val appendKeys = (nextKey until nextKey + AppendRows).toSeq
    nextKey += AppendRows
    val (appendDf, appendRows) = batch(appendKeys, round * 10L + 1)
    val newKeys = (nextKey until nextKey + UpsertNew).toSeq
    nextKey += UpsertNew
    val upsertKeys = sampleLive(UpsertExisting) ++ newKeys
    val (upsertDf, upsertRows) = batch(upsertKeys, round * 10L + 2)
    val deleteKeys = sampleLive(DeleteRows, upsertKeys.toSet)
    val deleteDf = keysOf(deleteKeys)

    formats.foreach { f =>
      if (client.op(s"${f.name}.append")(f.append(appendDf)).isDefined) commits(f.name) += 1
      if (client.op(s"${f.name}.upsert")(f.upsert(upsertDf)).isDefined) commits(f.name) += 1
      if (client.op(s"${f.name}.delete")(f.delete(deleteDf)).isDefined) commits(f.name) += 1
    }
    (appendRows ++ upsertRows).foreach { case (k, h, b) => model.put(k, h, b) }
    deleteKeys.foreach(model.delete)

    formats.foreach { f =>
      val t0 = System.nanoTime()
      client.op(s"${f.name}.read")(f.read().agg(count(lit(1)), sum(col("o_totalprice"))).collect()).foreach { r =>
        readMs.getOrElseUpdate(f.name, mutable.ArrayBuffer.empty) += ((round, (System.nanoTime() - t0) / 1e6))
        if (r.head.getLong(0) != model.size)
          client.fail(s"${f.name} round $round: read ${r.head.getLong(0)} rows, expected ${model.size}")
      }
      client.op(s"${f.name}.tail")(tail(f))
    }
    formats.foreach { f =>
      if (client.op(s"${f.name}.maint")(f.maint()).isDefined) commits(f.name) += 1
    }
  }

  def check(): Unit = {
    val expected = model.hashes
    formats.foreach { f =>
      val got = f.read().select(col(Key), rowHash).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (got != expected)
        client.fail(s"${f.name}: table differs from the model (${got.size} vs ${expected.size} rows; " +
          s"keys ${model.diff(got).mkString(",")})")
      val c = consumers(f.name).hashes
      if (c != expected)
        client.fail(s"${f.name}: change-feed consumer differs from the table " +
          s"(${c.size} vs ${expected.size} rows; keys ${model.diff(c).mkString(",")})")
    }
  }

  private def tree(root: Path): Seq[(String, Long)] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toSeq

  def details(elapsedS: Double): Seq[(String, Double, String)] = {
    val ops = client.ops.toSeq
    def okMs(pred: String => Boolean) = ops.filter(o => o.ok && pred(o.kind)).map(_.ms)
    def kinds(k: String*) = formats.flatMap(f => k.map(x => s"${f.name}.$x")).toSet
    def p50(xs: Seq[Double]) = if (xs.nonEmpty) Stats.median(xs) else Double.NaN
    val commitMs = okMs(kinds("append", "upsert", "delete"))
    val userBytes = model.userBytes.toDouble
    val stored = formats.map(f => tree(Paths.get(f.path)).map(_._2).sum.toDouble)
    val perFormat = formats.flatMap { f =>
      val files = tree(Paths.get(f.path))
      val meta = files.filter { case (rel, _) => f.isMeta(rel) }
      val nCommits = math.max(1, commits(f.name)).toDouble
      val reads = readMs.getOrElse(f.name, mutable.ArrayBuffer.empty).toSeq
      val fifth = math.max(1, reads.size / 5)
      val growth =
        if (reads.size >= 2) p50(reads.takeRight(fifth).map(_._2)) / p50(reads.take(fifth).map(_._2))
        else Double.NaN
      Seq("append", "upsert", "delete", "read", "maint", "tail").map { k =>
        (s"${f.name}.${k}_p50_ms", p50(okMs(_ == s"${f.name}.$k")), "ms")
      } ++ Seq(
        (s"${f.name}.meta_bytes_per_commit", meta.map(_._2).sum / nCommits, "B"),
        (s"${f.name}.meta_files_per_commit", meta.size / nCommits, "count"),
        (s"${f.name}.read_growth", growth, "ratio"),
        (s"${f.name}.stored_bytes_per_user_byte", files.map(_._2).sum / userBytes, "ratio"),
      )
    }
    Seq(
      ("commit_p50_ms", p50(commitMs), "ms"),
      ("commit_p90_ms", Stats.tail(commitMs, 90).getOrElse(Double.NaN), "ms"),
      ("commits", commitMs.size.toDouble, "count"),
      ("commits_per_s", commitMs.size / elapsedS, "1/s"),
      ("read_p50_ms", p50(okMs(kinds("read"))), "ms"),
      ("tail_p50_ms", p50(okMs(kinds("tail"))), "ms"),
      ("stored_bytes_per_user_byte", stored.sum / formats.size / userBytes, "ratio"),
      ("rounds", round.toDouble, "count"),
    ) ++ perFormat
  }
}
