package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Best-fit type coercion for string-typed raw columns — the cleanup step
  * after header-only CSV/JSON ingestion (SURVEY.md P4 as a reusable
  * utility rather than a single query).
  *
  * Strategy: one aggregate pass computes, per candidate column, how many
  * non-null values survive try_cast to each candidate type; a column is
  * promoted to the narrowest type that loses nothing. The decision pass
  * is a single scan (all counters in one agg), the rewrite is a
  * projection — two linear passes total, no collect of data rows.
  */
object Coerce {

  /** Narrowest-first candidate order. */
  private val candidates = Seq("bigint", "double", "boolean", "timestamp_ntz")

  /** Backtick-escape a column name: bestFit does not require a prior
    * Sanitize pass, so a raw header containing a backtick must not break
    * (or redirect) the try_cast SQL — and `functions.col` itself parses
    * backticks as quoting, so even Column-API references need this. */
  private def quoted(n: String): String = "`" + n.replace("`", "``") + "`"

  /** Cheap shape guard evaluated BEFORE try_cast. try_cast's failure path
    * is exception-driven (~40 µs/row with stack fill): profiled at sf0.1,
    * inferring 3 columns over 43k rows cost 6.3 s, almost all of it
    * throwing on values that obviously aren't bigint/boolean. The guard
    * accepts every shape Spark's string cast can parse (whitespace
    * trimmed, sign, inf/nan forms, boolean literal set), so try_cast
    * still makes the actual decision — it just never throws in bulk.
    * The boolean set matches ASCII case-insensitively on the
    * space-trimmed value: `(?i)` folds ASCII only, so no ICU case mapping
    * runs (Spark's `lower` does), and the one non-ASCII code point whose
    * lowercase is ASCII (U+212A, Kelvin sign → 'k') is in no literal. */
  private[ingest] def plausible(c: Column, t: String): Column = t match {
    case "bigint" => c.rlike("^\\s*[+-]?\\d+\\s*$")
    case "double" =>
      // decimal/scientific forms with Java's optional f/F/d/D suffix
      // ("1.5f" parses via Double.parseDouble and hence via the cast),
      // hex floats (0x1.8p1), and the inf/nan literals
      c.rlike("^\\s*[+-]?((\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?[fFdD]?|0[xX][0-9a-fA-F]*\\.?[0-9a-fA-F]*[pP][+-]?\\d+[fFdD]?|(?i)(nan|inf(inity)?))\\s*$")
    case "boolean" =>
      trim(c).rlike("^(?i)(true|false|t|f|y|n|yes|no|1|0)\\z")
    case _ => lit(true)
  }

  private def parses(n: String, t: String): Column =
    count(when(plausible(col(quoted(n)), t), expr(s"try_cast(${quoted(n)} AS $t)")))

  /** Infer the best-fit type for each string column of `df` (other
    * columns pass through). Date-only columns (every value ≤ 10 chars and
    * timestamp-parsable) become DATE rather than midnight timestamps. */
  def bestFit(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (stringCols.isEmpty) return df
    val counters = stringCols.flatMap { n =>
      Seq(
        count(when(col(quoted(n)).isNotNull, 1)).as(s"${n}__n"),
        max(length(col(quoted(n)))).as(s"${n}__len"),
      ) ++ candidates.map(t => parses(n, t).as(s"${n}__$t"))
    }
    val row = df.agg(counters.head, counters.tail.toIndexedSeq: _*).collect().head
    def cnt(name: String): Long = row.getAs[Long](name)
    val decisions: Map[String, Option[String]] = stringCols.map { n =>
      val nonNull = cnt(s"${n}__n")
      val best =
        if (nonNull == 0) None
        else candidates.find(t => cnt(s"${n}__$t") == nonNull) match {
          case Some("timestamp_ntz")
              if !row.isNullAt(row.fieldIndex(s"${n}__len")) && row.getAs[Int](s"${n}__len") <= 10 =>
            Some("date")
          case other => other
        }
      n -> best
    }.toMap
    df.select(df.columns.toIndexedSeq.map { n =>
      decisions.get(n).flatten match {
        case Some(t) => col(quoted(n)).cast(t).as(n)
        case _ => col(quoted(n))
      }
    }: _*)
  }
}
