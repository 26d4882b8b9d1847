package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.LogicalTypeAnnotation

/** Row count + per-column min/max read from one parquet footer.
  *
  * Encodings (must round-trip through [[StatsPruning]]):
  *   - INT32/INT64 (plain, date=epoch-days, timestamp=micros): decimal string
  *   - FLOAT/DOUBLE: numeric string (NaN-containing columns are skipped —
  *     parquet min/max is unreliable there)
  *   - BINARY(UTF8): the string verbatim
  *   - everything else: no bound recorded (readers must keep the file)
  *
  * Iceberg records the same footer-derived bounds per data file in its
  * manifests (reference tables carry them too); this is the piece that
  * makes a 1-row DELETE at 100 TB a metadata problem, not a scan.
  */
final case class ParquetFooterStats(rowCount: Long,
    lower: Map[String, String], upper: Map[String, String],
    // per-column null counts (Iceberg's null_value_counts): recorded
    // only when EVERY row group carries usable stats for the column —
    // a partial count would let IS [NOT] NULL pruning skip live rows
    nullCounts: Map[String, Long] = Map.empty,
    // top-level physical fields as canonical type tokens ("int32",
    // "int32-date", "int64", "int64-ts", "int64-tsntz", "float",
    // "double", "boolean", "string", "binary", "decimal", "group", ...)
    // — lets add_files validate an external file against the table
    // schema from the same single footer open that yields its stats
    fields: Map[String, String] = Map.empty)

object ParquetFooterStats {

  def read(path: String, conf: Configuration): ParquetFooterStats = {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)
    // read options from `conf`: the one-argument `open` builds its
    // options over a fresh Hadoop Configuration, whose default
    // resources parse again on every call (~10 ms a file, ten times
    // the footer read itself)
    val r = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
    try {
      val footer = r.getFooter
      val blocks = footer.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum
      // merge per-row-group statistics per top-level column; a row group
      // with ABSENT stats for a column (NaN chunks, oversized binary
      // mins, old writers) POISONS that column — bounds that don't
      // cover every row group would let pruning skip live rows
      val merged = scala.collection.mutable.LinkedHashMap[String, (PrimitiveType, Statistics[_])]()
      val poisoned = scala.collection.mutable.Set[String]()
      val nulls = scala.collection.mutable.LinkedHashMap[String, Long]()
      val nullsPoisoned = scala.collection.mutable.Set[String]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        val s = c.getStatistics
        // null counts have their own validity: a chunk may know its
        // null count while its min/max is unusable (NaN floats), and
        // isNumNullsSet=false means the writer didn't record it
        if (s == null || !s.isNumNullsSet) nullsPoisoned += name
        else nulls(name) = nulls.getOrElse(name, 0L) + s.getNumNulls
        val usable = s != null && !s.isEmpty &&
          (s.hasNonNullValue || s.getNumNulls == b.getRowCount)
        if (!usable) poisoned += name
        else if (s.hasNonNullValue) {
          merged.get(name) match {
            case Some((pt, acc)) =>
              // erased cast through a concrete Comparable to satisfy
              // Statistics[T <: Comparable[T]]; runtime types always agree
              acc.asInstanceOf[Statistics[java.lang.Integer]]
                .mergeStatistics(s.asInstanceOf[Statistics[java.lang.Integer]])
              merged(name) = (pt, acc)
            case None =>
              merged(name) = (c.getPrimitiveType, s.copy())
          }
        }
      }
      poisoned.foreach(merged.remove)
      nullsPoisoned.foreach(nulls.remove)
      val lower = merged.flatMap { case (n, (pt, s)) =>
        encode(pt, s.genericGetMin.asInstanceOf[AnyRef]).map(n -> _)
      }.toMap
      val upper = merged.flatMap { case (n, (pt, s)) =>
        encode(pt, s.genericGetMax.asInstanceOf[AnyRef]).map(n -> _)
      }.toMap
      val fields = footer.getFileMetaData.getSchema.getFields.asScala.map { t =>
        t.getName -> (if (!t.isPrimitive) "group" else token(t.asPrimitiveType))
      }.toMap
      ParquetFooterStats(rowCount, lower, upper, nulls.toMap, fields)
    } finally r.close()
  }

  /** Canonical token for a primitive parquet type; logical annotations
    * that change the Spark-visible type (date, timestamp, string,
    * decimal) refine the physical name.
    */
  private def token(pt: PrimitiveType): String = {
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 => ann match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "int32-date"
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => "decimal"
        case _ => "int32"
      }
      case INT64 => ann match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          if (ts.isAdjustedToUTC) "int64-ts" else "int64-tsntz"
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => "decimal"
        case _ => "int64"
      }
      case FLOAT   => "float"
      case DOUBLE  => "double"
      case BOOLEAN => "boolean"
      case BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => "string"
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => "decimal"
        case _ => "binary"
      }
      case FIXED_LEN_BYTE_ARRAY => ann match {
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => "decimal"
        case _ => "fixed"
      }
      case other => other.name.toLowerCase
    }
  }

  private def encode(pt: PrimitiveType, v: AnyRef): Option[String] =
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 => Some(v.toString)
      case FLOAT =>
        val f = v.asInstanceOf[java.lang.Float].floatValue()
        if (f.isNaN) None else Some(f.toString)
      case DOUBLE =>
        val d = v.asInstanceOf[java.lang.Double].doubleValue()
        if (d.isNaN) None else Some(d.toString)
      case BINARY =>
        pt.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            Some(v.asInstanceOf[Binary].toStringUsingUTF8)
          case _ => None
        }
      case _ => None
    }
}
