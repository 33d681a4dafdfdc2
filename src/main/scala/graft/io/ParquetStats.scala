package graft.io

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.format.Util
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one parquet footer reader: every metadata question the engine asks
  * of a parquet file is answered here from the file's own footer, read
  * from the local tail (the thrift FileMetaData, its 4-byte length and
  * the "PAR1" magic) without opening a Hadoop file system or decoding a
  * row. Four answers:
  *
  *   - [[rowCount]]: the footers' num_rows, parsed with the row groups
  *     skipped (it runs on every doc-grain memo build, so it stays the
  *     cheapest parse);
  *   - [[schema]]: the file's parquet message type;
  *   - [[sparkSchema]]: the Spark schema a read of a table infers, so
  *     `Tables` reads launch no inference job;
  *   - [[longRanges]]: per column, the exact integral min/max of a file
  *     ([[LongRange.Bounds]]), no non-null value ([[LongRange.AllNull]]),
  *     or [[LongRange.Unknown]] — the footer cannot vouch for bounds that
  *     equal a `cast(c as long)` aggregate. It cannot when the column is
  *     missing, a row group lacks its statistics, the physical type is not
  *     INT32/INT64, or the column carries a logical annotation other than
  *     a signed integer width (a decimal's footer bounds are unscaled, a
  *     timestamp's are micros, a date's are days: another scale than the
  *     cast the caller's fallback scan computes).
  *
  * Both Spark's and DuckDB's writers emit the statistics by default; a
  * caller that gets no answer falls back to an aggregate scan. */
object ParquetStats {

  sealed trait LongRange
  object LongRange {
    final case class Bounds(min: Long, max: Long) extends LongRange
    case object AllNull extends LongRange
    case object Unknown extends LongRange
  }

  private def listParquet(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.flatMap(listParquet)
    else if (f.getName.endsWith(".parquet") && f.length() > 0) Seq(f)
    else Seq.empty

  /** `parse` applied to the thrift footer bytes of `f`; None when the
    * tail is not a plain (unencrypted, well-formed) parquet footer. */
  private def footer[T](f: java.io.File)(parse: java.io.InputStream => T): Option[T] = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try if (raf.length() < 12) None else {
      val tail = new Array[Byte](8)
      raf.seek(raf.length() - 8)
      raf.readFully(tail)
      val len = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (new String(tail, 4, 4, "US-ASCII") != "PAR1" || len <= 0 ||
          len > raf.length() - 12) None
      else {
        val bytes = new Array[Byte](len)
        raf.seek(raf.length() - 8 - len)
        raf.readFully(bytes)
        try Some(parse(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: java.io.IOException => None } // not thrift FileMetaData
      }
    } finally raf.close()
  }

  /** The full footer of one file, row groups and statistics converted. */
  private def metadata(file: String): Option[ParquetMetadata] =
    footer(new java.io.File(file))(in =>
      new ParquetMetadataConverter().fromParquetMetadata(Util.readFileMetaData(in)))

  /** The row count of every parquet file under `path` (file or
    * directory); None when there is no file or a footer is not a plain
    * one. */
  def rowCount(path: String): Option[Long] = {
    val files = listParquet(new java.io.File(path))
    val counts = files.map(f => footer(f)(Util.readFileMetaData(_, true).getNum_rows))
    if (files.isEmpty || counts.contains(None)) None else Some(counts.flatten.sum)
  }

  /** The parquet schema of one file. */
  def schema(file: String): MessageType =
    metadata(file).getOrElse(throw new IllegalArgumentException(
      s"$file has no readable parquet footer")).getFileMetaData.getSchema

  /** The schema `spark.read.parquet(path)` infers with schema merging off,
    * from the same footer: Spark reads the first data file in path order
    * and converts it with `readSchemaFromFooter` (the row-metadata key a
    * Spark writer leaves, else `converter`). None where Spark's pick could
    * be another file or the footer is not read here: a non-local or absent
    * path, a subdirectory (partition dirs), a summary file, an empty first
    * file or an unreadable footer. */
  def sparkSchema(path: String, converter: ParquetToSparkSchemaConverter): Option[StructType] = {
    val root = new java.io.File(path)
    // Spark's listing skips `_`/`.` names (except summaries) and `._COPYING_`
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    def summary(n: String) = n.startsWith("_metadata") || n.startsWith("_common_metadata")
    val files =
      if (path.takeWhile(_ != '/').contains(':')) None // a URI scheme
      else if (root.isFile) Some(Seq(root))
      else Option(root.listFiles()).map(_.toSeq).filterNot(_.exists(f =>
        summary(f.getName) || (f.isDirectory && !hidden(f.getName))))
        .map(_.filter(f => !hidden(f.getName)).sortBy(_.getPath))
    for {
      f <- files.flatMap(_.headOption) if f.length() > 0
      md <- metadata(f.getPath)
    } yield ParquetFileFormat.readSchemaFromFooter(
      new Footer(new org.apache.hadoop.fs.Path(f.getPath), md), converter)
  }

  /** The integral range of each of `columns` in one file (see the header
    * for when the footer cannot vouch); one footer read for all of them.
    * A file with no row group holds no value: [[LongRange.AllNull]]. */
  def longRanges(file: String, columns: Seq[String]): Seq[LongRange] =
    metadata(file) match {
      case None => columns.map(_ => LongRange.Unknown)
      case Some(md) =>
        val blocks = md.getBlocks.asScala.toVector
        columns.map(c =>
          blocks.map(chunkRange(_, c)).foldLeft(LongRange.AllNull: LongRange)(merge))
    }

  private def chunkRange(block: BlockMetaData, column: String): LongRange =
    block.getColumns.asScala.find(_.getPath.toDotString == column) match {
      case None => LongRange.Unknown // column absent
      case Some(cc) =>
        val scaled = cc.getPrimitiveType.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        }
        val st = cc.getStatistics
        if (!scaled || st == null) LongRange.Unknown
        else if (st.hasNonNullValue) st match {
          case s: LongStatistics => LongRange.Bounds(s.getMin, s.getMax)
          case s: IntStatistics => LongRange.Bounds(s.getMin, s.getMax)
          case _ => LongRange.Unknown // non-integral physical type
        }
        else if (block.getRowCount == 0 ||
                 st.isNumNullsSet && st.getNumNulls == block.getRowCount) LongRange.AllNull
        else LongRange.Unknown // populated group without min/max
    }

  private def merge(a: LongRange, b: LongRange): LongRange = (a, b) match {
    case (LongRange.Unknown, _) | (_, LongRange.Unknown) => LongRange.Unknown
    case (LongRange.AllNull, r) => r
    case (r, LongRange.AllNull) => r
    case (LongRange.Bounds(a0, a1), LongRange.Bounds(b0, b1)) =>
      LongRange.Bounds(math.min(a0, b0), math.max(a1, b1))
  }

  /** min/max of an integral column across every parquet file under
    * `path` (file or directory), from footer statistics only. None when
    * any file cannot vouch for the column (the caller falls back to an
    * aggregate scan), or no value exists. */
  def minMaxLong(path: String, column: String): Option[(Long, Long)] =
    listParquet(new java.io.File(path))
      .map(f => longRanges(f.getPath, Seq(column)).head)
      .foldLeft(LongRange.AllNull: LongRange)(merge) match {
        case LongRange.Bounds(mn, mx) => Some((mn, mx))
        case _ => None
      }
}
