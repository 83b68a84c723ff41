package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Best-fit type coercion for string-typed raw columns — the cleanup step
  * after header-only CSV/JSON ingestion (SURVEY.md P4 as a reusable
  * utility rather than a single query).
  *
  * Strategy: a column is promoted to the first candidate type that every
  * one of its non-null values holds (passes the shape guard, then
  * try_cast). The decision is one Spark job that scans each partition
  * once and, per column, keeps the set of candidates no value has failed
  * yet: a (column, candidate) pair is evaluated only until its first
  * failing value. Each task returns per column its non-null count,
  * max length and surviving-candidate mask; the driver sums, maxes and
  * ANDs them. The rewrite is a projection — two linear passes total, no
  * collect of data rows, and the scan's code is the same for every
  * schema (one predicate per candidate, over a single bound input).
  */
object Coerce {

  /** Narrowest-first candidate order. */
  private val candidates = Seq("bigint", "double", "boolean", "timestamp_ntz")

  /** Backtick-escape a column name: bestFit does not require a prior
    * Sanitize pass, so a raw header containing a backtick must not break
    * (or redirect) the output cast — and `functions.col` itself parses
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

  /** One predicate per candidate over the single string input at ordinal
    * 0: the guard holds and try_cast yields a value. Resolved by the
    * session's analyzer over a one-column relation (so the cast carries
    * the session's time zone, as a try_cast in a query would) and bound
    * to that column. */
  private def holds(df: DataFrame): Array[Expression] = {
    val v = df.sparkSession.createDataFrame(
      java.util.List.of[Row](), StructType(Seq(StructField("v", StringType))))
    val probe = v.select(candidates.map(t =>
      when(plausible(col("v"), t), expr(s"try_cast(v AS $t)")).isNotNull): _*)
    probe.queryExecution.analyzed match {
      case p: Project => p.projectList.map(e =>
        BindReferences.bindReference(e.children.head, p.child.output)).toArray
      case other => throw new IllegalStateException(s"bestFit: unexpected probe plan $other")
    }
  }

  /** Per string column (by position in `ords`): non-null count, max
    * length (-1 when none) and the mask of candidates (bit j for
    * `candidates(j)`) that every non-null value holds. One Spark job,
    * run as one SQL execution of `df`'s plan. */
  private def scan(df: DataFrame, ords: Array[Int]): (Array[Long], Array[Int], Array[Int]) = {
    val preds = holds(df)
    val k = ords.length
    val all = (1 << preds.length) - 1
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("bestFit")) {
      qe.toRdd.mapPartitions { rows =>
        val n = new Array[Long](k)
        val len = Array.fill(k)(-1)
        val alive = Array.fill(k)(all)
        val slot = new GenericInternalRow(1)
        rows.foreach { r =>
          var i = 0
          while (i < k) {
            if (!r.isNullAt(ords(i))) {
              val s = r.getUTF8String(ords(i))
              n(i) += 1
              len(i) = math.max(len(i), s.numChars)
              var m = alive(i)
              if (m != 0) {
                slot.update(0, s)
                var j = 0
                while (j < preds.length) {
                  if ((m & (1 << j)) != 0 && !preds(j).eval(slot).asInstanceOf[Boolean]) m &= ~(1 << j)
                  j += 1
                }
                alive(i) = m
              }
            }
            i += 1
          }
        }
        Iterator.single((n, len, alive))
      }.collect()
    }
    val n = new Array[Long](k)
    val len = Array.fill(k)(-1)
    val alive = Array.fill(k)(all)
    parts.foreach { case (pn, pl, pa) =>
      for (i <- 0 until k) {
        n(i) += pn(i)
        len(i) = math.max(len(i), pl(i))
        alive(i) &= pa(i)
      }
    }
    (n, len, alive)
  }

  /** Infer the best-fit type for each string column of `df` (other
    * columns pass through). Date-only columns (every value ≤ 10 chars and
    * timestamp-parsable) become DATE rather than midnight timestamps. */
  def bestFit(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val ords = fields.indices.filter(i => fields(i).dataType == StringType).toArray
    if (ords.isEmpty) return df
    val (n, len, alive) = scan(df, ords)
    val decisions: Map[String, Option[String]] = ords.indices.map { i =>
      val best =
        if (n(i) == 0) None
        else candidates.indices.find(j => (alive(i) & (1 << j)) != 0).map(candidates) match {
          case Some("timestamp_ntz") if len(i) <= 10 => Some("date")
          case other => other
        }
      fields(ords(i)).name -> best
    }.toMap
    df.select(df.columns.toIndexedSeq.map { name =>
      decisions.get(name).flatten match {
        case Some(t) => col(quoted(name)).cast(t).as(name)
        case _ => col(quoted(name))
      }
    }: _*)
  }
}
