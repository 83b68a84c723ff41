package graft.interop

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

/** Per-file column statistics decoded from the parquet FOOTER instead of
  * a second distributed scan of freshly staged files (optimization guide
  * §1.2 "remove passes": the writer already computed min/max/null-count
  * per column chunk while writing — re-reading the data to recompute them
  * was one full extra Spark job per commit).
  *
  * Footer reads are O(KB) driver-side metadata per file — the same
  * listing cardinality the commit already walks — so this scales with
  * file COUNT, not bytes, at any table size.
  *
  * Decoding is deliberately conservative: a column whose chunk
  * statistics are missing, typed unexpectedly (e.g. INT96 timestamps),
  * or unordered (NaN floats) is OMITTED from the result rather than
  * guessed at — both the Delta stats JSON and the Iceberg bounds maps
  * treat a missing column as "not prunable", which is always correct. */
private[graft] object FooterStats {

  /** `mins`/`maxs` carry Spark EXTERNAL values (Int / Long / Float /
    * Double / Boolean / String / java.math.BigDecimal / java.sql.Date /
    * java.sql.Timestamp) — exactly what `Row.getAs[Any]` on a Spark
    * min/max aggregate used to yield, so downstream rendering is
    * unchanged. A column appears only when every non-empty row group
    * proved its value window (or proved itself all-null). */
  final case class FileStats(
      records: Long,
      mins: Map[String, Any],
      maxs: Map[String, Any],
      nullCounts: Map[String, Long])

  def read(conf: Configuration, file: HPath, cols: Seq[StructField]): FileStats = {
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      import scala.jdk.CollectionConverters._
      val allBlocks = rdr.getFooter.getBlocks.asScala.toSeq
      val records = allBlocks.map(_.getRowCount).sum
      val blocks = allBlocks.filter(_.getRowCount > 0)
      var mins = Map.empty[String, Any]
      var maxs = Map.empty[String, Any]
      var ncs = Map.empty[String, Long]
      cols.foreach { f =>
        // top-level chunk for this column in every row group
        val chunks: Seq[Option[ColumnChunkMetaData]] = blocks.map(
          _.getColumns.asScala.find(c =>
            c.getPath.size == 1 && c.getPath.toArray()(0) == f.name))
        if (blocks.isEmpty || chunks.forall(_.isDefined)) {
          var nulls = 0L
          var nullsOk = true
          var lo: Any = null
          var hi: Any = null
          var minmaxOk = true
          chunks.flatten.foreach { cc =>
            val st = cc.getStatistics
            if (st == null || st.isEmpty) { minmaxOk = false; nullsOk = false }
            else {
              if (st.isNumNullsSet) nulls += st.getNumNulls else nullsOk = false
              if (st.hasNonNullValue) decode(f.dataType, cc, st) match {
                case Some((mn, mx)) =>
                  if (lo == null || cmp(f.dataType, mn, lo) < 0) lo = mn
                  if (hi == null || cmp(f.dataType, mx, hi) > 0) hi = mx
                case None => minmaxOk = false
              } else if (!(st.isNumNullsSet && st.getNumNulls == cc.getValueCount)) {
                // no value window and not provably all-null: give up
                minmaxOk = false
              }
            }
          }
          if (minmaxOk && lo != null) {
            mins += f.name -> external(f.dataType, lo)
            maxs += f.name -> external(f.dataType, hi)
          }
          // an all-null file legitimately has a null count and no window
          if (nullsOk) ncs += f.name -> nulls
        }
      }
      FileStats(records, mins, maxs, ncs)
    } finally rdr.close()
  }

  /** Chunk min/max in a totally ordered intermediate domain: numbers as
    * themselves, strings/decimal-binaries as `Array[Byte]` (unsigned
    * lexicographic — the order parquet wrote them in and the order
    * Spark's UTF8String comparison uses), timestamps as epoch-micros
    * longs. None = the chunk's physical/logical type is not one this
    * decoder trusts (INT96, NaN windows, scale drift). */
  private def decode(dt: DataType, cc: ColumnChunkMetaData,
      st: Statistics[_]): Option[(Any, Any)] = {
    val prim = cc.getPrimitiveType.getPrimitiveTypeName
    val logical = cc.getPrimitiveType.getLogicalTypeAnnotation
    def micros: Option[(Any, Any)] = logical match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation if t.isAdjustedToUTC =>
        val scale = t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
          case _ => return None // nanos: never written here; avoid rounding
        }
        Some((st.genericGetMin.asInstanceOf[java.lang.Long] * scale,
          st.genericGetMax.asInstanceOf[java.lang.Long] * scale))
      case _ => None
    }
    (dt, prim) match {
      case (ByteType | ShortType | IntegerType | DateType, PrimitiveTypeName.INT32) =>
        Some((st.genericGetMin, st.genericGetMax))
      case (LongType, PrimitiveTypeName.INT64) =>
        Some((st.genericGetMin, st.genericGetMax))
      case (_: TimestampType, PrimitiveTypeName.INT64) => micros
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[java.lang.Float],
          st.genericGetMax.asInstanceOf[java.lang.Float])
        if (mn.isNaN || mx.isNaN) None else Some((mn, mx))
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[java.lang.Double],
          st.genericGetMax.asInstanceOf[java.lang.Double])
        if (mn.isNaN || mx.isNaN) None else Some((mn, mx))
      case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
        Some((st.genericGetMin, st.genericGetMax))
      case (StringType, PrimitiveTypeName.BINARY) =>
        Some((st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
          st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
      case (d: DecimalType, p) =>
        val scaleOk = logical match {
          case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            dec.getScale == d.scale
          case _ => false
        }
        if (!scaleOk) None
        else p match {
          case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
            Some((st.genericGetMin, st.genericGetMax))
          case PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
            Some((st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
              st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
          case _ => None
        }
      case _ => None
    }
  }

  private def cmp(dt: DataType, a: Any, b: Any): Int = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) =>
      (dt match {
        case d: DecimalType =>
          // two's-complement big-endian unscaled values: numeric order
          new java.math.BigInteger(x).compareTo(new java.math.BigInteger(y))
        case _ => java.util.Arrays.compareUnsigned(x, y)
      })
    case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => throw new IllegalStateException(s"FooterStats: uncomparable $a / $b")
  }

  /** Intermediate-domain value -> the Spark external value the old
    * distributed pass collected. */
  private def external(dt: DataType, v: Any): Any = dt match {
    case ByteType => v.asInstanceOf[java.lang.Integer].byteValue()
    case ShortType => v.asInstanceOf[java.lang.Integer].shortValue()
    case DateType =>
      java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue()))
    case _: TimestampType =>
      val us = v.asInstanceOf[java.lang.Long].longValue()
      val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      ts
    case StringType => new String(v.asInstanceOf[Array[Byte]], "UTF-8")
    case d: DecimalType => v match {
      case n: java.lang.Integer => java.math.BigDecimal.valueOf(n.longValue(), d.scale)
      case n: java.lang.Long => java.math.BigDecimal.valueOf(n.longValue(), d.scale)
      case b: Array[Byte] => new java.math.BigDecimal(new java.math.BigInteger(b), d.scale)
      case other => other
    }
    case _ => v
  }
}
