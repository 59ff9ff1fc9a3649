package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The one parquet-footer reader: metadata only, no row read. Callers keep
  * their own fallback for a file it cannot read. */
private[graft] object ParquetFooters {

  /** A file's row-group count and, when a column was named, its raw
    * `(min, max, unit)` over the row-group statistics the writer already
    * computed. Row groups without a non-null value are skipped; `range` is
    * None when none is left. The raw longs are in the unit the column's
    * logical type declares; `unit` is (divisor to epoch seconds, stored as
    * wall clock?) — NANOS for the old untagged testdata, MICROS for the
    * regenerated `timestamp[us]` shape — and None for a non-timestamp
    * annotation. */
  final case class Footer(rowGroups: Int,
                          range: Option[(Long, Long, Option[(Long, Boolean)])])

  /** Reads `p`'s footer; throws when the file is unreadable or not parquet. */
  def read(conf: Configuration, p: Path, column: Option[String] = None): Footer = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import LogicalTypeAnnotation.TimeUnit
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val range = column.flatMap { name =>
        val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == name))
        val unit = chunks.headOption.flatMap { c =>
          c.getPrimitiveType.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              Some((t.getUnit match {
                case TimeUnit.MILLIS => 1000L
                case TimeUnit.MICROS => 1000000L
                case TimeUnit.NANOS  => 1000000000L
              }, !t.isAdjustedToUTC))
            // untagged int64 (legacy nanos-as-long testdata): epoch nanos
            case null => Some((1000000000L, false))
            case _    => None
          }
        }
        val ranges = chunks.map(_.getStatistics).collect {
          case s: org.apache.parquet.column.statistics.LongStatistics if s.hasNonNullValue =>
            (s.getMin, s.getMax)
        }
        if (ranges.isEmpty) None
        else Some((ranges.map(_._1).min, ranges.map(_._2).max, unit))
      }
      Footer(blocks.size, range)
    } finally r.close()
  }
}
