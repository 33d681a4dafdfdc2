package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Footer-statistics reader: answers metadata questions (column min/max)
  * from parquet row-group statistics WITHOUT reading a single row — the
  * thing a "metadata-sized" claim must actually do (round-17 review:
  * q366's group-width derivation claimed column statistics but ran an
  * O(N) aggregate scan). Both Spark's and DuckDB's writers emit these
  * stats by default; a file without them makes the caller fall back to
  * the aggregate. */
object ParquetStats {

  private object NoStats extends scala.util.control.ControlThrowable

  private def listParquet(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.flatMap(listParquet)
    else if (f.getName.endsWith(".parquet") && f.length() > 0) Seq(f)
    else Seq.empty

  /** The row count of every parquet file under `path` (file or
    * directory), from the footers' num_rows alone (no Hadoop file system,
    * no row group decoded); None when there is no file or a footer is
    * not a plain one. */
  def rowCount(path: String): Option[Long] = {
    val files = listParquet(new java.io.File(path))
    val counts = files.map(footerRows)
    if (files.isEmpty || counts.contains(None)) None else Some(counts.flatten.sum)
  }

  /** A file's num_rows: its footer is the thrift FileMetaData that ends
    * 8 bytes before the end, followed by its 4-byte little-endian length
    * and the "PAR1" magic. */
  private def footerRows(f: java.io.File): Option[Long] = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val tail = new Array[Byte](8)
      raf.seek(raf.length() - 8)
      raf.readFully(tail)
      val len = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (new String(tail, 4, 4, "US-ASCII") != "PAR1" || len <= 0 ||
          len > raf.length() - 12) None
      else {
        val footer = new Array[Byte](len)
        raf.seek(raf.length() - 8 - len)
        raf.readFully(footer)
        Some(org.apache.parquet.format.Util.readFileMetaData(
          new java.io.ByteArrayInputStream(footer), true).getNum_rows)
      }
    } finally raf.close()
  }

  /** min/max of an INT64 column across every row group of every parquet
    * file under `path` (file or directory), from footer statistics only.
    * None when any populated row group lacks stats for the column (the
    * caller falls back to an aggregate scan) or no value exists. */
  def minMaxLong(path: String, column: String): Option[(Long, Long)] = {
    val files = listParquet(new java.io.File(path))
    if (files.isEmpty) return None
    val conf = new Configuration()
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var any = false
    try {
      files.foreach { f =>
        val in = HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val reader = ParquetFileReader.open(in)
        try {
          reader.getFooter.getBlocks.asScala.foreach { bg =>
            val cc = bg.getColumns.asScala
              .find(_.getPath.toDotString == column)
              .getOrElse(throw NoStats)
            val st = cc.getStatistics
            if (st == null) throw NoStats
            if (st.hasNonNullValue) {
              (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) =>
                  if (lo < mn) mn = lo
                  if (hi > mx) mx = hi
                  any = true
                case _ => throw NoStats // not an INT64 column
              }
            } else if (bg.getRowCount > 0 && st.getNumNulls != bg.getRowCount) {
              throw NoStats // populated group with absent stats
            }
          }
        } finally reader.close()
      }
      if (any) Some((mn, mx)) else None
    } catch { case NoStats => None }
  }
}
