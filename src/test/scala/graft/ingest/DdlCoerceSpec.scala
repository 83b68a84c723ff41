package graft.ingest

import graft.SparkFixture
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DdlCoerceSpec extends AnyFunSuite with SparkFixture {

  test("DDL generation sanitizes names and maps types") {
    val schema = StructType(Seq(
      StructField("User ID!", LongType),
      StructField("Full Name", StringType),
      StructField("Score %", DoubleType),
      StructField("tags", ArrayType(StringType)),
      StructField("amount", DecimalType(18, 2)),
      StructField("when", TimestampNTZType),
    ))
    val ddl = Ddl.createTable("My Table", schema)
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS my_table ("))
    assert(ddl.contains("  user_id BIGINT"))
    assert(ddl.contains("  full_name STRING"))
    assert(ddl.contains("  score DOUBLE"))
    assert(ddl.contains("  tags ARRAY<STRING>"))
    assert(ddl.contains("  amount DECIMAL(18,2)"))
    assert(ddl.contains("  when TIMESTAMP_NTZ"))
    assert(ddl.contains("USING PARQUET"))
  }

  test("DDL partition columns move into PARTITIONED BY") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("Load Date", DateType),
    ))
    val ddl = Ddl.createTable("t", schema, partitionCols = Seq("Load Date"))
    assert(ddl.contains("PARTITIONED BY (load_date DATE)"))
    assert(!ddl.contains("  load_date DATE"))
  }

  test("partition clause preserves caller order and rejects unknown columns") {
    val schema = StructType(Seq(
      StructField("load_date", DateType),
      StructField("region", StringType),
      StructField("id", LongType),
    ))
    val ddl = Ddl.createTable("t", schema, partitionCols = Seq("region", "load_date"))
    assert(ddl.contains("PARTITIONED BY (region STRING, load_date DATE)"), ddl)
    intercept[IllegalArgumentException] {
      Ddl.createTable("t", schema, partitionCols = Seq("regoin"))
    }
  }

  test("generated DDL is executable by Spark SQL") {
    val schema = StructType(Seq(StructField("A col", LongType), StructField("b", StringType)))
    val ddl = Ddl.createTable("graft_ddl_check", schema, ifNotExists = false)
    spark.sql("DROP TABLE IF EXISTS graft_ddl_check")
    try {
      spark.sql(ddl)
      assert(spark.table("graft_ddl_check").columns.toSeq == Seq("a_col", "b"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_check")
  }

  test("bestFit promotes string columns to their narrowest lossless type") {
    import spark.implicits._
    val raw = Seq(
      ("1", "1.5", "true", "2024-01-02", "2024-01-02 10:30:00", "mixed1"),
      ("22", "2", "false", "2024-02-03", "2024-02-03 11:00:00", "33"),
      ("-5", "3e2", "true", "2024-03-04", "2024-03-04 12:15:30", "x"),
    ).toDF("ints", "doubles", "bools", "dates", "timestamps", "strings")
    val coerced = Coerce.bestFit(raw)
    val types = coerced.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("ints") == "long")
    assert(types("doubles") == "double")
    assert(types("bools") == "boolean")
    assert(types("dates") == "date")
    assert(types("timestamps") == "timestamp_ntz")
    assert(types("strings") == "string")
    assert(coerced.count() == 3)
  }

  test("bestFit leaves columns with any unparsable value as string") {
    import spark.implicits._
    val raw = Seq(("1"), ("2"), ("oops")).toDF("nearly_int")
    assert(Coerce.bestFit(raw).schema.head.dataType == StringType)
  }

  test("bestFit promotes Java-suffixed floats — plausibility guard must cover the cast grammar") {
    import spark.implicits._
    // Spark's string->double cast parses via Double.parseDouble, which
    // accepts trailing f/F/d/D; the guard must not veto what the cast takes
    val raw = Seq(("1.5f", "3"), ("2.0D", "4")).toDF("suffixed", "plain_int")
    val types = Coerce.bestFit(raw).schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("suffixed") == "double")
    assert(types("plain_int") == "long")
  }

  test("bestFit survives raw headers containing backticks (no prior Sanitize)") {
    import spark.implicits._
    val raw = Seq("1", "2").toDF("weird ` col")
    val coerced = Coerce.bestFit(raw)
    assert(coerced.schema.head.dataType.typeName == "long")
    assert(coerced.columns.toSeq == Seq("weird ` col"))
  }

  test("the boolean guard agrees with lower(trim(..)).isin row by row; bestFit decides the same") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lower, trim}
    val samples = Seq("TRUE", " yes ", "\ttrue", "\u0130", "\u212A", "\uFF34\uFF32\uFF35\uFF25",
      "No", "f", "0", "true\n", "k", "maybe", null)
    val icu = lower(trim(col("s")))
      .isin("true", "false", "t", "f", "y", "n", "yes", "no", "1", "0")
    samples.toDF("s").select(col("s"), Coerce.plausible(col("s"), "boolean"), icu).collect()
      .foreach(r => assert(r.get(1) == r.get(2), s"guards disagree on '${r.get(0)}'"))
    val raw = Seq(("TRUE", "true", "\u212A"), (" yes ", "\ttrue", "t"), ("No", "f", "f"))
      .toDF("flags", "tabbed", "kelvin")
    val types = Coerce.bestFit(raw).schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types == Map("flags" -> "boolean", "tabbed" -> "string", "kelvin" -> "string"))
  }
}
