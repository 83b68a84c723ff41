package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs: the TPC-H-shaped star schema plus the
  * events, documents and embeddings tables the library's entries read,
  * with the column names, types and value domains of the library's test
  * corpus. Every value is a hash of (seed, row id, column), so the same
  * seed gives the same tables however Spark partitions the work. */
object Gen {

  /** Pseudo-random non-negative long in [0, m) for this seed and row. */
  def h(seed: Long, salt: String, parts: Column*)(m: Long): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(m))

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** The value of `values` at index `idx` (0-based). */
  def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  /** Rows per table at scale `sf` (sf=0.01: 15,000 orders, ~60,000 lineitems). */
  final case class Sizes(sf: Double) {
    def customer: Long = math.max(10L, (150000 * sf).toLong)
    def supplier: Long = math.max(5L, (10000 * sf).toLong)
    def part: Long = math.max(20L, (200000 * sf).toLong)
    def orders: Long = math.max(100L, (1500000 * sf).toLong)
    def events: Long = math.max(100L, (1000000 * sf).toLong)
    def documents: Long = 500L
    def embeddings: Long = 500L
  }

  val dayMicros: Long = 86400L * 1000000L
  private val epoch1995 = "TIMESTAMP_NTZ'1995-01-01 00:00:00'"

  /** The order date as a function of the order key, so lineitem can
    * derive its ship dates without a join. */
  private def orderDate(seed: Long, key: Column): Column =
    expr(epoch1995) + make_dt_interval(h(seed, "odate", key)(2404L).cast("int"))

  def orders(seed: Long, ids: DataFrame, nCustomers: Long): DataFrame = {
    val k = col("id")
    ids.select(
      k.as("o_orderkey"),
      h(seed, "ocust", k)(nCustomers).as("o_custkey"),
      pick(Seq("F", "O", "P"), h(seed, "ostatus", k)(3L)).as("o_orderstatus"),
      (round(lit(1000.0) + h(seed, "oprice", k)(49900000L) / 100.0, 2)).as("o_totalprice"),
      orderDate(seed, k).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        h(seed, "oprio", k)(5L)).as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, seed: Long, sz: Sizes): DataFrame = {
    val o = col("id")
    val withLines = spark.range(sz.orders)
      .select(o, explode(sequence(lit(1), (h(seed, "nlines", o)(7L) + 1).cast("int"))).as("ln"))
    val q = (h(seed, "qty", o, col("ln"))(50L) + 1).cast("double")
    val pk = h(seed, "lpart", o, col("ln"))(sz.part)
    withLines.select(
      o.as("l_orderkey"),
      pk.as("l_partkey"),
      h(seed, "lsupp", o, col("ln"))(sz.supplier).as("l_suppkey"),
      col("ln").as("l_linenumber"),
      q.as("l_quantity"),
      round(q * (lit(900.0) + pmod(pk, lit(1000L)) / 10.0 + h(seed, "lpx", o, col("ln"))(100L) / 100.0), 2)
        .as("l_extendedprice"),
      (h(seed, "disc", o, col("ln"))(11L) / 100.0).as("l_discount"),
      (h(seed, "tax", o, col("ln"))(9L) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), h(seed, "rflag", o, col("ln"))(3L)).as("l_returnflag"),
      pick(Seq("F", "O"), h(seed, "lstat", o, col("ln"))(2L)).as("l_linestatus"),
      (orderDate(seed, o) + make_dt_interval((h(seed, "ship", o, col("ln"))(121L) + 1).cast("int")))
        .as("l_shipdate"))
  }

  private def tables(spark: SparkSession, seed: Long, sz: Sizes): Seq[(String, DataFrame)] = {
    def ids(n: Long) = spark.range(n).toDF()
    val k = col("id")
    Seq(
      "region" -> spark.range(5).select(k.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), k).as("r_name")),
      "nation" -> spark.range(25).select(k.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), k).as("n_name"), pmod(k, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> ids(sz.customer).select(k.as("c_custkey"),
        format_string("Customer#%09d", k).as("c_name"),
        h(seed, "cnat", k)(25L).cast("int").as("c_nationkey"),
        round(h(seed, "cbal", k)(1100000L) / 100.0 - 1000.0, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          h(seed, "cseg", k)(5L)).as("c_mktsegment")),
      "supplier" -> ids(sz.supplier).select(k.as("s_suppkey"),
        format_string("Supplier#%09d", k).as("s_name"),
        h(seed, "snat", k)(25L).cast("int").as("s_nationkey"),
        round(h(seed, "sbal", k)(1100000L) / 100.0 - 1000.0, 2).as("s_acctbal")),
      "part" -> ids(sz.part).select(k.as("p_partkey"),
        concat_ws(" ",
          pick(Seq("small", "red", "blue", "hot", "cold", "green", "large", "shiny"), h(seed, "padj", k)(8L)),
          pick(Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "spring"), h(seed, "pnoun", k)(8L)))
          .as("p_name"),
        concat(lit("Brand#"), h(seed, "pbrand", k)(25L) + 1).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), h(seed, "ptype", k)(6L)).as("p_type"),
        (h(seed, "psize", k)(50L) + 1).cast("int").as("p_size"),
        round(lit(900.0) + pmod(k, lit(1000L)) / 10.0, 1).as("p_retailprice")),
      "orders" -> orders(seed, ids(sz.orders), sz.customer),
      "lineitem" -> lineitem(spark, seed, sz),
      "events" -> ids(sz.events).select(k.as("event_id"),
        // 2024-01-01 00:00 UTC plus up to 30 days, as a naive timestamp
        timestamp_micros(lit(1704067200000000L) + h(seed, "ets", k)(30L * dayMicros))
          .cast("timestamp_ntz").as("ts"),
        h(seed, "euser", k)(150L).as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), h(seed, "etype", k)(5L)).as("event_type"),
        (h(seed, "evalue", k)(49000L) / 100.0 + 0.01).as("value"),
        format_string("{\"k\": %d}", h(seed, "eprops", k)(100L)).as("props")),
      "documents" -> {
        val words = transform(sequence(lit(1), (h(seed, "dlen", k)(90L) + 10).cast("int")),
          i => pick(vocab, h(seed, "dword", k, i)(vocab.size.toLong)))
        ids(sz.documents).select(k.as("doc_id"), array_join(words, " ").as("text"),
          pick(Seq("en", "en", "en", "zh", "de", "fr", "es"), h(seed, "dlang", k)(7L)).as("lang"),
          concat(lit("src"), pmod(k, lit(20L))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> ids(sz.embeddings).select(k.as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => ((h(seed, "emb", k, i)(20001L) - 10000L) / 40000.0).cast("float")).as("embedding"),
        h(seed, "elabel", k)(10L).cast("int").as("label")),
    )
  }

  /** Write one DataFrame as the single file `file` in `format`. */
  def writeSingle(df: DataFrame, file: Path, format: String = "parquet"): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").format(format).save(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    graft.ingest.Writers.deleteTree(tmp.toString)
  }

  /** Write every corpus table to `dir/<name>.parquet`. */
  def corpus(spark: SparkSession, seed: Long, sf: Double, dir: Path): Unit = {
    Files.createDirectories(dir)
    tables(spark, seed, Sizes(sf)).foreach { case (name, df) => writeSingle(df, dir.resolve(s"$name.parquet")) }
  }
}
