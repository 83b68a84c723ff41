package graft.interop

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** SCHEMA EVOLUTION, written once for every table format: the
  * metadata-only column verbs — add, rename, drop, widen, and set or
  * clear a column default. Zero data files are rewritten by any of
  * them; readers reconcile old files through each format's own column
  * identity (Delta's mapping metadata, Iceberg's field ids,
  * Versioned's column ids).
  *
  * The core holds each universal rule once and computes the new
  * LOGICAL schema once:
  *  - the named column exists;
  *  - a new name (add, rename) must not collide with an existing one
  *    case-insensitively — Spark's default resolver could not tell
  *    the two apart;
  *  - the last column cannot be dropped;
  *  - additions are nullable (every existing row would violate a NOT
  *    NULL addition);
  *  - a widening is one [[wideningOk]] promotion;
  *  - a default is a constant (foldable) SQL expression, recorded as
  *    the analyzer's `CURRENT_DEFAULT` field metadata.
  *
  * A format plugs in through [[Table]]: its refusal prefix, its
  * logical schema, the refusals only it has (partition columns,
  * Delta's column-mapping rule, Iceberg's format version, Versioned's
  * bloom hash domain, ...), and `record`, which encodes the change in
  * the format's metadata and commits it. The [[Change]] type and
  * [[alter]] are public because the SQL catalog (in Spark's package
  * tree) dispatches `ALTER TABLE` through them; the core itself is
  * internal. */
object Evolve {

  /** One column change, by logical column name. */
  sealed trait Change {
    /** The column the change names (the old name for a rename). */
    def column: String
    /** The API verb, for refusal messages. */
    def verb: String
  }
  final case class Add(name: String, dataType: DataType) extends Change {
    def column: String = name; def verb: String = "addColumn"
  }
  final case class Rename(from: String, to: String) extends Change {
    def column: String = from; def verb: String = "renameColumn"
  }
  final case class Drop(name: String) extends Change {
    def column: String = name; def verb: String = "dropColumn"
  }
  final case class Widen(name: String, to: DataType) extends Change {
    def column: String = name; def verb: String = "widenColumnType"
  }
  final case class SetDefault(name: String, sql: String) extends Change {
    def column: String = name; def verb: String = "setColumnDefault"
  }
  final case class ClearDefault(name: String) extends Change {
    def column: String = name; def verb: String = "clearColumnDefault"
  }

  /** One change on the table at `path` stored as `format` — the
    * catalog's provider names `graft` (Versioned), `delta` and
    * `iceberg`. Returns the committed version. */
  def alter(spark: SparkSession, format: String, path: String, c: Change): Long =
    format match {
      case "graft" => graft.ingest.Versioned.evolve(spark, path, c)
      case "delta" => DeltaLake.evolve(spark, path, c)
      case "iceberg" => Iceberg.evolve(spark, path, c)
    }

  /** The analyzer's column-default field-metadata key — the contract
    * every format's served schema rides, so SQL column-list INSERT
    * omissions fill through Spark's resolver too. */
  private[graft] val DefaultKey = "CURRENT_DEFAULT"

  /** The per-format face of one table version. */
  private[graft] trait Table {
    /** Prefixes every refusal message (e.g. `DeltaLake`). */
    def name: String
    /** The logical schema, with each declared default as [[DefaultKey]]
      * field metadata. */
    def schema: StructType
    /** Throws when the format cannot record `c` on this table. Runs
      * after the universal rules, so the named column exists. */
    def refuse(c: Change): Unit
    /** Encodes `c` in the format's metadata and commits it; `next` is
      * the new logical schema. Returns the committed version. */
    def record(c: Change, next: StructType): Long
  }

  /** Validates `c` against `t`, computes the new logical schema and
    * hands both to the format's record step. */
  private[graft] def apply(t: Table, c: Change): Long = {
    val op = s"${t.name}.${c.verb}"
    val fields = t.schema.fields
    val names = fields.map(_.name)
    def free(n: String, except: Option[String] = None): Unit =
      require(!names.exists(x => x.equalsIgnoreCase(n) && !except.contains(x)),
        s"$op: column $n already exists (names compare case-insensitively)")
    c match {
      case Add(n, _) => free(n)
      case other =>
        require(names.contains(other.column),
          s"$op: no column ${other.column} in (${names.mkString(", ")})")
    }
    val i = names.indexOf(c.column)
    val next = c match {
      case Add(n, dt) => fields :+ StructField(n, dt, nullable = true)
      case Rename(from, to) =>
        free(to, except = Some(from))
        fields.updated(i, fields(i).copy(name = to))
      case Drop(n) =>
        require(fields.length > 1, s"$op: $n is the last column")
        fields.patch(i, Nil, 1)
      case Widen(_, to) =>
        val from = fields(i).dataType
        require(wideningOk(from, to),
          s"$op: ${from.simpleString} -> ${to.simpleString} is not a widening " +
            "promotion (allowed: the integer family upward, float->double, decimal " +
            "precision widen at the same scale)")
        fields.updated(i, fields(i).copy(dataType = to))
      case SetDefault(_, sql) =>
        constant(SparkSession.active, sql, op)
        fields.updated(i, withMeta(fields(i))(_.putString(DefaultKey, sql)))
      case ClearDefault(n) =>
        require(fields(i).metadata.contains(DefaultKey), s"$op: $n has no default to clear")
        fields.updated(i, withMeta(fields(i))(_.remove(DefaultKey)))
    }
    t.refuse(c)
    t.record(c, StructType(next))
  }

  /** `f` with its metadata edited by `edit`. */
  private[graft] def withMeta(f: StructField)(edit: MetadataBuilder => MetadataBuilder)
      : StructField =
    f.copy(metadata = edit(new MetadataBuilder().withMetadata(f.metadata)).build())

  /** The type promotions every format admits and Spark 4's parquet
    * readers serve losslessly off NARROW physical files: the integer
    * family upward, float→double, and decimal PRECISION widening at
    * the same scale (Delta's `typeWidening`, Iceberg's type promotion).
    * Everything else — any narrowing, cross-family moves, scale
    * changes — would misread every pre-widen file. */
  private[graft] def wideningOk(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) => t.scale == f.scale && t.precision > f.precision
    case _ => false
  }

  /** `sql` parsed as a default: refused unless constant (a
    * non-constant default would make writes non-deterministic). */
  private[graft] def constant(spark: SparkSession, sql: String, op: String): Expression = {
    val e = spark.sessionState.sqlParser.parseExpression(sql)
    require(e.foldable, s"$op: DEFAULT '$sql' is not a constant expression")
    e
  }
}
