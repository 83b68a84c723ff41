package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkFixture
import graft.ingest.Writers
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, hash, lit, max, min, sum, unix_micros}
import org.apache.spark.sql.graft.JobCount
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.table]]'s schema memo: a hit reads with the footer-derived
  * schema and starts no Spark job; a changed file, a changed session
  * conf or a directory path infers as a plain `spark.read.parquet`. */
class TablesSpec extends AnyFunSuite with SparkFixture {

  private val corpus = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    Files.createDirectories(p)
    p.toString
  }

  /** Write `df` as the single parquet file `$dir/$name.parquet`. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = Paths.get(dir, s"_staging_$name")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Writers.deleteTree(staging)
  }

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(hash(df.columns.toSeq.map(col): _*).cast("long"))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("a memo hit has the inferred schema, field metadata included, and the same rows") {
    corpus.foreach { t =>
      Tables.table(spark, sf(), t)
      val memo = Tables.table(spark, sf(), t)
      val inferred = spark.read.parquet(s"${sf()}/$t.parquet")
      assert(memo.schema == inferred.schema, t)
      assert(memo.schema.fields.map(_.metadata).toSeq == inferred.schema.fields.map(_.metadata).toSeq, t)
      assert(fingerprint(memo) == fingerprint(inferred), t)
    }
  }

  test("a second read of an unchanged file starts no Spark job before its action") {
    val dir = freshDir("tables_jobs")
    writeFile(spark.range(100).toDF("k"), dir, "t")
    val (_, first) = JobCount(spark)(Tables.table(spark, dir, "t"))
    assert(first >= 1, "the first read infers the schema with a job")
    val (df, second) = JobCount(spark)(Tables.table(spark, dir, "t"))
    assert(second == 0, s"a memo hit started $second job(s)")
    assert(df.count() == 100L)
  }

  test("rewriting the file at the same path makes an added column visible") {
    val dir = freshDir("tables_rewrite")
    writeFile(spark.range(10).toDF("k"), dir, "t")
    Tables.table(spark, dir, "t")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("k"))
    writeFile(spark.range(10).toDF("k").withColumn("v", col("k") * 2), dir, "t")
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.agg(sum("v")).head().getLong(0) == 90L)
  }

  test("a session conf change re-infers: binaryAsString flips a binary column") {
    val dir = freshDir("tables_conf")
    // a file from a non-Spark writer: Spark's own footers carry the Spark
    // schema, which wins over binaryAsString
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val out = HadoopOutputFile.fromPath(new HPath(s"$dir/t.parquet"), spark.sparkContext.hadoopConfiguration)
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    try Seq("0", "1", "2").foreach(v => writer.write(new SimpleGroupFactory(schema).newGroup().append("b", v)))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    def bType = Tables.table(spark, dir, "t").schema("b").dataType
    try {
      spark.conf.set(key, "false")
      assert(Seq.fill(2)(bType) == Seq(BinaryType, BinaryType)) // the second is a memo hit
      spark.conf.set(key, "true")
      assert(bType == StringType)
      assert(Tables.table(spark, dir, "t").collect().map(_.getString(0)).toSet == Set("0", "1", "2"))
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a directory path reads like spark.read.parquet") {
    val dir = freshDir("tables_dir")
    spark.range(50).toDF("k").withColumn("v", col("k").cast("string"))
      .repartition(3).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val inferred = spark.read.parquet(s"$dir/t.parquet")
    Seq.fill(2)(Tables.table(spark, dir, "t")).foreach { df =>
      assert(df.schema == inferred.schema)
      assert(fingerprint(df) == fingerprint(inferred))
    }
  }

  test("events surfaces the same ts in any session zone and leaves the zone conf alone") {
    val key = "spark.sql.session.timeZone"
    val prior = spark.conf.get(key)
    def stats = Tables.events(spark, sf())
      .agg(count(lit(1)), sum(hash(col("ts"))), min("ts"), max("ts")).head().toSeq
    try {
      val seen = Seq("UTC", "America/Los_Angeles", "Asia/Kolkata").map { zone =>
        spark.conf.set(key, zone)
        val s = stats
        assert(spark.conf.get(key) == zone)
        s
      }
      assert(seen.distinct.size == 1, s"ts differs across session zones: $seen")
      // the nanos contract: the NTZ wall clock read as UTC, scaled x1000
      spark.conf.set(key, "UTC")
      val raw = spark.read.parquet(s"${sf()}/events.parquet")
        .select((unix_micros(col("ts").cast("timestamp")) * 1000L).as("ts"))
        .agg(count(lit(1)), sum(hash(col("ts"))), min("ts"), max("ts")).head().toSeq
      assert(seen.head == raw)
    } finally spark.conf.set(key, prior)
  }
}
