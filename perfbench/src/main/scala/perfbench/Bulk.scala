package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.{Coerce, Pipeline, Quality, Readers, Versioned}
import graft.interop.{DeltaLake, Iceberg}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

object Bulk {
  /** Raw files, each landed once per step: a CSV file, then a JSON-lines
    * file that carries the drift column. */
  val NFiles = 2
  /** Orders per raw file (about four lineitems each, so about 100,000
    * rows): large enough that Spark job time, not per-call driver cost,
    * takes most of each call (README, "Bulk batch size"). */
  val OrdersPerFile = 25000L
  /** One row in this many is malformed. */
  val MalformedEvery = 100

  /** Messy source headers and the warehouse names they sanitize to. */
  val Headers: Seq[(String, String)] = Seq(
    "L_OrderKey" -> "l_orderkey", "L PartKey" -> "l_partkey", "l-suppkey" -> "l_suppkey",
    "Line Number" -> "line_number", "Quantity (units)" -> "quantity_units",
    "Extended Price $" -> "extended_price", "DISCOUNT" -> "discount", "tax" -> "tax",
    "Return Flag" -> "return_flag", "line.status" -> "line_status", "Ship Date" -> "ship_date")
  val Drift: (String, String) = "Ship Mode" -> "ship_mode"
  val Table = "bulk_lineitem"
}

/** One raw input file and what the generator put in it. */
final case class RawFile(path: String, csv: Boolean, rows: Long, malformed: Long)

/** Bulk ingest: raw CSV and JSON-lines files derived from lineitem, with
  * messy headers, string-typed numbers and dates, about 1% malformed rows
  * and a drift column in later files, read with quarantine, sanitized,
  * coerced, profiled and landed in four targets per batch. */
final class Bulk(spark: SparkSession, client: Client, seed: Long) extends Workload {
  import Bulk._

  private var files: Seq[RawFile] = Nil
  private var dir: Path = _
  private var landed = 0L
  private var rejected = 0L
  private var expectedRejects = 0L
  private var rowsGenerated = 0L
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private def target(name: String) = dir.resolve(name).toString

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    batchMs.clear(); landed = 0L; rejected = 0L; expectedRejects = 0L; rowsGenerated = 0L
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    val sz = Gen.Sizes(OrdersPerFile * NFiles / 1500000.0)
    val li = Gen.lineitem(spark, seed, sz)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus")
    files = (0 until NFiles).map { i =>
      val drift = i >= NFiles / 2
      val csv = i % 2 == 0
      val names = Headers.map(_._1) ++ (if (drift) Seq(Drift._1) else Nil)
      val values = (cols.map(c => col(c).cast("string")) :+ date_format(col("l_shipdate"), "yyyy-MM-dd")) ++
        (if (drift) Seq(Gen.pick(Seq("AIR", "RAIL", "SHIP", "TRUCK"),
          Gen.h(seed, "mode", col("l_orderkey"), col("l_linenumber"))(4L))) else Nil)
      val bad = Gen.h(seed, "bad", col("l_orderkey"), col("l_linenumber"))(MalformedEvery.toLong) === 0
      val part = li.filter(col("l_orderkey") >= i * OrdersPerFile && col("l_orderkey") < (i + 1) * OrdersPerFile)
      val line =
        if (csv) {
          // a malformed CSV row is missing its last field
          when(bad, concat_ws(",", values.init: _*)).otherwise(concat_ws(",", values: _*))
        } else {
          val obj = concat(lit("{") +: names.zip(values).flatMap { case (n, v) =>
            Seq(lit((if (n == names.head) "" else ",") + Json.str(n) + ":\""), v, lit("\""))
          } :+ lit("}"): _*)
          // a malformed JSON line is cut off mid-object
          when(bad, obj.substr(lit(1), (length(obj) / 2).cast("int"))).otherwise(obj)
        }
      val counts = part.agg(count(lit(1)), count(when(bad, 1))).head()
      val body = part.select(col("l_orderkey"), col("l_linenumber"), line.as("value"))
      val withHeader =
        if (csv) body.union(spark.range(1).select(lit(-1L), lit(0), lit(names.mkString(","))).toDF(body.columns: _*))
        else body
      val file = d.resolve(f"batch_$i%02d.${if (csv) "csv" else "json"}")
      // one line per row, in key order, the CSV header first
      Gen.writeSingle(withHeader.repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber").select("value"),
        file, "text")
      RawFile(file.toString, csv, counts.getLong(0), counts.getLong(1))
    }
  }

  def scanProbe(): DataFrame = spark.read.text(files.head.path)

  /** Read one raw file into (clean typed-as-string rows, reject count, release). */
  private def read(f: RawFile): (DataFrame, Long, () => Unit) =
    if (f.csv) {
      val in = Files.newBufferedReader(Paths.get(f.path))
      val header = try in.readLine().split(",", -1).toSeq finally in.close()
      val load = Readers.csvWithRejects(spark, f.path, StructType(header.map(StructField(_, StringType))))
      (load.good, load.rejects.count(), load.release)
    } else {
      val raw = Readers.jsonLines(spark, f.path).persist()
      val corrupt = "corrupt_record"
      if (raw.columns.contains(corrupt))
        (raw.filter(col(corrupt).isNull).drop(corrupt), raw.filter(col(corrupt).isNotNull).count(),
          () => { raw.unpersist(); () })
      else (raw, 0L, () => { raw.unpersist(); () })
    }

  private val rules = Seq(
    "orderkey_present" -> col("l_orderkey").isNotNull,
    "quantity_positive" -> (col("quantity_units") > 0),
    "discount_in_range" -> col("discount").between(0.0, 0.1),
    "ship_date_present" -> col("ship_date").isNotNull,
  )

  /** One batch through the pipeline; each stage is one client call. */
  private def batch(f: RawFile): Unit = {
    val t0 = System.nanoTime()
    client.op("ingest.read")(read(f)).foreach { case (good, rejects, release) =>
      try {
        rejected += rejects
        expectedRejects += f.malformed
        rowsGenerated += f.rows
        client.op("ingest.coerce") {
          val typed = Coerce.bestFit(good)
          // the landing targets carry the drift column once it appeared
          val order = Headers.map(_._2) :+ Drift._2
          order.foldLeft(typed)((df, c) => if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("string")))
            .select(order.map(col): _*).persist()
        }.foreach { typed =>
          try {
            val n = typed.count()
            client.op("ingest.quality")(Quality.report(typed, rules).collect())
            val ok = Seq(
              client.op("ingest.load")(Pipeline.loadInto(spark, Table, typed)),
              client.op("bulk.versioned.append")(Versioned.appendCommit(typed, target("versioned"))),
              client.op("bulk.delta.append")(DeltaLake.write(typed, target("delta"), mode = SaveMode.Append)),
              client.op("bulk.iceberg.append")(Iceberg.write(typed, target("iceberg"), mode = SaveMode.Append)),
            ).forall(_.isDefined)
            if (ok) landed += n
          } finally typed.unpersist()
        }
      } finally release()
    }
    batchMs += (System.nanoTime() - t0) / 1e6
  }

  /** No untimed batch, as in the churn workload it runs beside. */
  def warm(): Unit = ()

  /** One batch per file: a CSV file, then a JSON-lines file with drift. */
  def step(): Unit = files.foreach(batch)

  def check(): Unit = {
    if (rejected != expectedRejects)
      client.fail(s"rejects $rejected, expected the $expectedRejects malformed rows injected")
    if (landed + rejected != rowsGenerated)
      client.fail(s"landed $landed + rejected $rejected != generated $rowsGenerated")
    Seq(
      "catalog" -> (() => spark.table(Table)),
      "versioned" -> (() => Versioned.read(spark, target("versioned"))),
      "delta" -> (() => DeltaLake.read(spark, target("delta"))),
      "iceberg" -> (() => Iceberg.read(spark, target("iceberg"))),
    ).foreach { case (name, df) =>
      val n = df().count()
      if (n != landed) client.fail(s"$name holds $n rows, $landed landed")
    }
  }

  private def bytes(p: String): Long =
    if (!Files.exists(Paths.get(p))) 0L
    else Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def details(elapsedS: Double): Seq[(String, Double, String)] = {
    val ops = client.ops.toSeq
    def p50(kind: String) = {
      val xs = ops.filter(o => o.ok && o.kind == kind).map(_.ms)
      if (xs.nonEmpty) Stats.median(xs) / 1000.0 else Double.NaN
    }
    val rawBytes = files.map(f => Files.size(Paths.get(f.path))).sum.toDouble * batchMs.size / files.size
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val stored = Seq("versioned", "delta", "iceberg").map(t => bytes(target(t))).sum +
      bytes(Paths.get(if (warehouse.getScheme == null) warehouse.toString else warehouse.getPath)
        .resolve(Table).toString)
    Seq(
      ("ingest_rows_per_s", landed / math.max(1e-9, batchMs.sum / 1000.0), "rows/s"),
      ("batch_p50_s", if (batchMs.nonEmpty) Stats.median(batchMs.toSeq) / 1000.0 else Double.NaN, "s"),
      ("batches", batchMs.size.toDouble, "count"),
      ("bulk.stored_bytes_per_user_byte", stored / 4.0 / rawBytes, "ratio"),
      ("ingest.read_s", p50("ingest.read"), "s"),
      ("ingest.coerce_s", p50("ingest.coerce"), "s"),
      ("ingest.quality_s", p50("ingest.quality"), "s"),
      ("ingest.load_s", p50("ingest.load"), "s"),
      ("ingest.rejects", rejected.toDouble, "count"),
      ("bulk.versioned.append_p50_ms", p50("bulk.versioned.append") * 1000.0, "ms"),
      ("bulk.delta.append_p50_ms", p50("bulk.delta.append") * 1000.0, "ms"),
      ("bulk.iceberg.append_p50_ms", p50("bulk.iceberg.append") * 1000.0, "ms"),
    )
  }
}
