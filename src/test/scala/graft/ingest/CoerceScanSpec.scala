package graft.ingest

import graft.SparkFixture
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCount
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Coerce.bestFit`'s candidate-eliminating scan decides every column
  * exactly as the single aggregate it replaced: one counter per
  * (column, candidate) of the values that pass the guard and try_cast,
  * one non-null count and one max length per column. That aggregate is
  * kept below as the oracle and run over an adversarial corpus under
  * several partition layouts. */
class CoerceScanSpec extends AnyFunSuite with SparkFixture {

  /** The aggregate decision: the schema `bestFit` should produce. */
  private def oracle(df: DataFrame): StructType = {
    val candidates = Seq("bigint", "double", "boolean", "timestamp_ntz")
    def quoted(n: String): String = "`" + n.replace("`", "``") + "`"
    def parses(n: String, t: String): Column =
      count(when(Coerce.plausible(col(quoted(n)), t), expr(s"try_cast(${quoted(n)} AS $t)")))
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (stringCols.isEmpty) return df.schema
    val counters = stringCols.flatMap { n =>
      Seq(
        count(when(col(quoted(n)).isNotNull, 1)).as(s"${n}__n"),
        max(length(col(quoted(n)))).as(s"${n}__len"),
      ) ++ candidates.map(t => parses(n, t).as(s"${n}__$t"))
    }
    val row = df.agg(counters.head, counters.tail.toIndexedSeq: _*).collect().head
    def cnt(name: String): Long = row.getAs[Long](name)
    StructType(df.schema.fields.map { f =>
      if (f.dataType != StringType) f
      else {
        val n = f.name
        val nonNull = cnt(s"${n}__n")
        val best =
          if (nonNull == 0) None
          else candidates.find(t => cnt(s"${n}__$t") == nonNull) match {
            case Some("timestamp_ntz")
                if !row.isNullAt(row.fieldIndex(s"${n}__len")) && row.getAs[Int](s"${n}__len") <= 10 =>
              Some("date")
            case other => other
          }
        f.copy(dataType = best.fold[DataType](StringType)(DataType.fromDDL))
      }
    })
  }

  /** Columns of the corpus: each is the values of one column, top to
    * bottom (null where a value is missing). */
  private val columns: Seq[(String, Seq[String])] = Seq(
    "ws_int" -> Seq(" 1", "\t2", "3 ", " +4 ", "-5\n", null),
    "lead_zeros" -> Seq("007", "0001", "-00", "+0"),
    "bigint_edges" -> Seq("9223372036854775807", "-9223372036854775808"),
    "bigint_overflow" -> Seq("1", "9223372036854775808"),
    "suffixed" -> Seq("1.5f", "2.0D", "3d", "4F", "-.5e3f"),
    "hex_float" -> Seq("0x1.8p1", "0X1P-2", "0xAp0", "-0x.8p+1d"),
    "hex_int" -> Seq("0x10", "1"),
    "non_finite" -> Seq("NaN", "Infinity", "-Infinity", "inf", "-INF", "nan", " +infinity "),
    "huge_exp" -> Seq("1e400", "-1e400", "1e-400", "2"),
    "dot_only" -> Seq(".", "1"),
    "exp_only" -> Seq("1e", "2"),
    "bools" -> Seq("true", "FALSE", "T", "f", "y", "N", "yes", "No", " true ", "1", "0"),
    "bool_digits" -> Seq("1", "0", "1"),
    "dates" -> Seq("2024-01-02", "2024-12-31", "2024-1-2", null),
    "dates_and_ts" -> Seq("2024-01-02", "2024-01-02 10:30:00"),
    "date_trailing_space" -> Seq("2024-01-02", "2024-01-03 "),
    "ts_iso" -> Seq("2024-01-02T10:30:00", "2024-01-02T10:30:00.123456"),
    "ts_zone" -> Seq("2024-01-02T10:30:00Z", "2024-01-02 10:30:00+02:00"),
    "year_only" -> Seq("2024", "1999"),
    "years_and_dates" -> Seq("2024", "2024-05", "2024-05-06"),
    "all_null" -> Seq(null, null),
    "empty_string" -> Seq("", "1"),
    "blank" -> Seq(" ", "\t"),
    "arabic_digits" -> Seq("\u0661\u0662", "3"),
    "fullwidth_digits" -> Seq("\uFF11", "2"),
    "grouped" -> Seq("1,000", "2"),
    "underscored" -> Seq("1_000", "2"),
    "mixed" -> Seq("1", "1.5", "true", "2024-01-02", "x"),
    "late_failure" -> Seq("1", "2", "3", "4", "5", "6", "7", "8", "oops"),
    "weird ` name" -> Seq("1", "2"),
  ) ++ Seq("TRUE", " yes ", "\ttrue", "\u0130", "\u212A", "\uFF34\uFF32\uFF35\uFF25",
    "No", "f", "0", "true\n", "k", "maybe").zipWithIndex.map { case (s, i) =>
    s"bool_sample_$i" -> Seq("true", s)
  }

  private lazy val corpus: DataFrame = {
    val height = columns.map(_._2.size).max
    val rows = (0 until height).map(r => Row(columns.map(_._2.lift(r).orNull): _*))
    val schema = StructType(columns.map(c => StructField(c._1, StringType)) :+
      StructField("id", LongType))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (r, i) => Row(r.toSeq :+ i.toLong: _*) }, 1), schema)
  }

  private def assertSameAsOracle(df: DataFrame, what: String): Unit = {
    val want = oracle(df)
    val got = Coerce.bestFit(df).schema
    want.fields.zip(got.fields).foreach { case (w, g) =>
      assert(g == w, s"$what: column '${w.name}'")
    }
    assert(got == want, what)
  }

  /** Partition sizes of `df`, in partition order. */
  private def layout(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(it => Iterator.single(it.size)).collect().toSeq

  test("the scan decides every corpus column as the aggregate does, under 1, 3 and 7 partitions") {
    // the corpus decisions themselves, as documented examples
    val types = Coerce.bestFit(corpus.repartition(1)).schema.map(f => f.name -> f.dataType).toMap
    assert(types("ws_int") == LongType && types("bigint_overflow") == DoubleType)
    assert(types("non_finite") == DoubleType && types("bools") == BooleanType)
    assert(types("bool_digits") == LongType && types("dates") == DateType)
    assert(types("dates_and_ts") == TimestampNTZType && types("all_null") == StringType)
    assert(types("late_failure") == StringType && types("id") == LongType)
    Seq(1, 3, 7).foreach { p =>
      val df = corpus.repartition(p)
      assert(layout(df).size == p)
      assertSameAsOracle(df, s"repartition($p)")
    }
  }

  test("empty frames, empty partitions and a failure only in the last partition") {
    val schema = StructType(Seq(StructField("a", StringType), StructField("b", StringType),
      StructField("c", StringType)))
    def frame(rows: Seq[Row], slices: Int): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

    // one empty partition, and none at all
    Seq(frame(Nil, 1), spark.createDataFrame(java.util.List.of[Row](), schema)).foreach { empty =>
      assertSameAsOracle(empty, "empty frame")
      assert(Coerce.bestFit(empty).schema == schema)
    }

    // three rows over seven partitions: four of them empty
    val sparse = frame(Seq(Row("1", "2024-01-02", null), Row("2", "x", null), Row(null, "2024-01-03", null)), 7)
    assert(layout(sparse).count(_ == 0) == 4)
    assertSameAsOracle(sparse, "three rows in seven partitions")
    assert(Coerce.bestFit(sparse).schema.map(_.dataType) == Seq(LongType, StringType, StringType))

    // column a fails only on the last row, which lands in the last partition;
    // b holds everywhere, c fails on its first row
    val rows = (1 to 70).map(i => Row(if (i == 70) "1.5" else i.toString, s"$i", if (i == 1) "z" else "t"))
    Seq(1, 3, 7).foreach { p =>
      val df = frame(rows, p)
      val last = df.rdd.mapPartitionsWithIndex((i, it) => it.map(r => i -> r.getString(0))).collect()
      assert(last.filter(_._2 == "1.5").map(_._1).toSeq == Seq(p - 1))
      assertSameAsOracle(df, s"late failure over $p partitions")
      assert(Coerce.bestFit(df).schema.map(_.dataType) == Seq(DoubleType, LongType, StringType))
    }
  }

  test("bestFit on a cached frame starts exactly one Spark job") {
    val cached = corpus.repartition(3).cache()
    try {
      cached.count()
      val (typed, jobs) = JobCount(spark)(Coerce.bestFit(cached))
      assert(jobs == 1)
      assert(typed.schema == oracle(cached))
    } finally cached.unpersist()
  }
}
