package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{ParquetStats, TxnLog}

/** TABLE-CHANGES-AS-A-STREAM: a DSv2 micro-batch source over an
  * [[graft.io.TxnLog]] table — the streaming half of the commit protocol
  * (Delta's streaming source / Iceberg's incremental read, reduced to
  * essentials). Offsets ARE commit versions: batch (s, e] delivers
  * exactly the rows the append commits in that version range added, so
  *
  *  - offsets are REPLAY-EXACT: manifests are immutable once claimed, so
  *    a checkpoint-restarted query re-reads precisely the same rows for
  *    an uncommitted batch — stronger than file-listing sources, whose
  *    directory state can shift under the replay;
  *  - discovery is O(1) metadata per trigger (`currentVersion`), not a
  *    directory walk — at 100 TB with 10⁶ files, listing IS the
  *    bottleneck this source removes;
  *  - paired with [[TxnLog.commitIdempotent]] in foreachBatch, table →
  *    table pipelines are exactly-once end to end.
  *
  * Contract: APPEND-ONLY streams (`A`/`T` commits). Record-identity
  * maintenance commits (`R noop`/`X noop` — compaction) are skipped by
  * metadata alone. A replace/exchange/delete-vector commit fails the
  * stream LOUDLY at planning time unless `ignoreChanges=true` (then its
  * manifest is skipped, the Delta semantics of the same flag).
  *
  * `readChangeFeed=true` lifts the append-only contract (round-9 verdict
  * item 3, Delta's `readChangeFeed` shape): each trigger serves CHANGE
  * rows — the table schema plus `_change_type` ('insert'/'delete') and
  * `_commit_version` — for every version in the batch's range. Appends
  * stream their own data files tagged as inserts; merge/update/delete/
  * replace versions stream change files materialized once under the log
  * dir ([[TxnLog.materializeChanges]] — driver-side at plan time,
  * immutable after, so checkpoint replays re-read identical bytes). This
  * is what lets incremental consumers (the q271 index, the q280 MV) run
  * fully-DSv2 end to end instead of driver-side polling loops.
  *
  * Options: `path` (the table dir), `startingVersion` (exclusive floor,
  * default 0 = from genesis), `maxVersionsPerTrigger` (version-count rate
  * limit), `maxFilesPerTrigger` / `maxBytesPerTrigger` (ADMISSION
  * CONTROL for a 100 TB backlog: each trigger admits whole commits until
  * the file/byte budget is spent — a commit is never split, and the
  * first commit of a trigger always admits even oversized, so the stream
  * can't stall; composes with AvailableNow catch-up, q282's shape),
  * `ignoreChanges`, `readChangeFeed`. One InputPartition per data file;
  * projection pushdown narrows the parquet read schema so unprojected
  * columns never materialize. Type scope: long/int/double/float/boolean/
  * string.
  */
class TxnStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = options.get("path")
    require(dir != null && dir.nonEmpty, "TxnStreamSource needs a 'path' option")
    val base = TxnStreamSource.schemaOf(dir)
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      TxnStreamSource.withCdfColumns(base)
    else base
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TxnStreamTable(properties.get("path"), schema,
      Option(properties.get("startingVersion")).map(_.toLong).getOrElse(0L),
      Option(properties.get("maxVersionsPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue),
      Option(properties.get("ignoreChanges")).exists(_.toBoolean),
      Option(properties.get("readChangeFeed")).exists(_.toBoolean),
      Option(properties.get("maxFilesPerTrigger")).map(_.toLong).getOrElse(0L),
      Option(properties.get("maxBytesPerTrigger")).map(_.toLong).getOrElse(0L))
}

object TxnStreamSource {
  /** CDF mode serves the table schema plus the change-row meta columns
    * (the Delta `table_changes` shape). */
  private[sources] def withCdfColumns(base: StructType): StructType =
    base.add("_change_type", StringType).add("_commit_version", LongType)

  /** Spark schema from the FIRST visible data file's parquet footer. */
  private[sources] def schemaOf(dir: String): StructType = {
    val files = TxnLog.addedFilesBetween(dir, 0L, TxnLog.currentVersion(dir),
      ignoreChanges = true)
    require(files.nonEmpty, s"$dir has no committed data files to infer from")
    toSpark(ParquetStats.schema(files.head))
  }

  private[sources] def toSpark(m: MessageType): StructType = {
    import PrimitiveType.PrimitiveTypeName._
    StructType(m.getFields.toArray.map { case f: org.apache.parquet.schema.Type =>
      require(f.isPrimitive, s"nested parquet field ${f.getName} is out of scope")
      val p = f.asPrimitiveType()
      val t = p.getPrimitiveTypeName match {
        case INT64   => LongType
        case INT32   => IntegerType
        case DOUBLE  => DoubleType
        case FLOAT   => FloatType
        case BOOLEAN => BooleanType
        case BINARY
          if p.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.stringType() => StringType
        case other => throw new IllegalArgumentException(
          s"parquet type $other (${f.getName}) is out of the source's scope")
      }
      StructField(f.getName, t, nullable = true)
    })
  }

  /** Projected read schema CUT FROM the file's own schema — repetition
    * (required vs optional) must match the file exactly, so the
    * projection selects the file's field nodes rather than synthesizing
    * them from Spark types. */
  private[sources] def projectFrom(fileSchema: MessageType,
                                   names: Array[String]): MessageType =
    new MessageType("spark_schema",
      names.filter(fileSchema.containsField)
        .map(n => fileSchema.getFields.get(fileSchema.getFieldIndex(n))): _*)
}

private[sources] class TxnStreamTable(dir: String, schema0: StructType,
                                      startingVersion: Long, maxPerTrigger: Long,
                                      ignoreChanges: Boolean,
                                      readChangeFeed: Boolean = false,
                                      maxFiles: Long = 0L, maxBytes: Long = 0L)
    extends Table with SupportsRead {
  override def name(): String = s"graft_txnstream($dir)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TxnStreamScanBuilder(dir, schema0, startingVersion, maxPerTrigger,
      ignoreChanges, readChangeFeed, maxFiles, maxBytes)
}

private[sources] class TxnStreamScanBuilder(dir: String, full: StructType,
                                            startingVersion: Long, maxPerTrigger: Long,
                                            ignoreChanges: Boolean,
                                            readChangeFeed: Boolean,
                                            maxFiles: Long = 0L, maxBytes: Long = 0L)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the source's field order; an empty projection (count-only)
    // still needs one column to drive row iteration
    required =
      if (requiredSchema.isEmpty) StructType(full.fields.take(1))
      else StructType(full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def description(): String =
      s"TxnStreamScan(dir=$dir, cdf=$readChangeFeed, cols=${required.fieldNames.mkString(",")})"
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new TxnMicroBatchStream(dir, required, startingVersion, maxPerTrigger,
        ignoreChanges, readChangeFeed, maxFiles, maxBytes)
  }
}

private[sources] case class TxnOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[sources] class TxnMicroBatchStream(dir: String, required: StructType,
                                           startingVersion: Long, maxPerTrigger: Long,
                                           ignoreChanges: Boolean,
                                           readChangeFeed: Boolean = false,
                                           maxFiles: Long = 0L, maxBytes: Long = 0L)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  require((maxFiles <= 0 && maxBytes <= 0) || !readChangeFeed,
    "maxFilesPerTrigger/maxBytesPerTrigger apply to the append stream; the " +
      "change feed rate-limits by version (maxVersionsPerTrigger)")
  // ratchet pattern (GenMicroBatchStream precedent): offsets the engine
  // hands back — checkpoint restore, batch commits — advance the cursor
  // so a restarted query resumes at the committed version
  private var cursor = startingVersion
  private def ratchet(v: Long): Unit = cursor = math.max(cursor, v)
  // Trigger.AvailableNow (SupportsTriggerAvailableNow): the head is
  // FROZEN at prepare time, so the query drains exactly the backlog that
  // existed when it started — in as many rate-limited batches as the
  // admission budget dictates — and terminates even if writers keep
  // committing underneath
  private var availableNowCap = Long.MaxValue
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = TxnLog.currentVersion(dir)
  override def initialOffset(): Offset = TxnOffset(startingVersion)
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  /** ADMISSION CONTROL (100 TB backlog discipline) through the engine's
    * SupportsAdmissionControl seam — the `start` parameter is the TRUE
    * resume point (checkpoint-restored on restart), so the budget walk
    * can never regress below a committed offset the way a source-local
    * cursor could. Versions admit WHOLE up to the first one that blows
    * the file/byte budget — a commit is never split (the version axis is
    * the atomicity unit), and the first commit of a trigger always
    * admits even oversized, so one fat commit cannot stall the stream
    * (Delta's admission makes the same call). The walk is metadata-sized
    * — one manifest parse (+ file stats under maxBytes) per version. */
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = math.max(start.asInstanceOf[TxnOffset].version, startingVersion)
    ratchet(s)
    val head = math.min(TxnLog.currentVersion(dir), availableNowCap)
    // saturating add: the unlimited default is Long.MaxValue and the
    // start is a real version — a raw sum overflows negative. The outer
    // max keeps the offset from REGRESSING when the head is still below
    // the floor (startingVersion ahead of the table): sliding back would
    // later deliver the versions the floor was set to skip.
    val stepped =
      if (s > Long.MaxValue - maxPerTrigger) Long.MaxValue
      else s + maxPerTrigger
    val target = math.max(s, math.min(head, stepped))
    val admitted =
      if ((maxFiles <= 0 && maxBytes <= 0) || target <= s) target
      else {
        var e = s
        var nFiles = 0L; var nBytes = 0L
        var v = s + 1
        var full = false
        while (!full && v <= target) {
          val fs = TxnLog.addedFilesBetween(dir, v - 1, v, ignoreChanges)
          val fb =
            if (maxBytes <= 0) 0L
            else fs.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
          if (e > s &&
              ((maxFiles > 0 && nFiles + fs.size > maxFiles) ||
               (maxBytes > 0 && nBytes + fb > maxBytes))) full = true
          else { e = v; nFiles += fs.size; nBytes += fb; v += 1 }
        }
        e
      }
    ratchet(admitted)
    TxnOffset(admitted)
  }
  override def latestOffset(): Offset =
    // the engine routes through the admission variant when
    // SupportsAdmissionControl is implemented; keep the legacy entry
    // correct for any direct caller (specs, tooling)
    latestOffset(TxnOffset(cursor), getDefaultReadLimit)
  override def deserializeOffset(json: String): Offset = {
    val v = json.toLong
    ratchet(v)
    TxnOffset(v)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[TxnOffset].version
    val e0 = end.asInstanceOf[TxnOffset].version
    if (!readChangeFeed)
      TxnLog.addedFilesBetween(dir, s0, e0, ignoreChanges)
        .map(f => TxnFilePartition(f, required.fieldNames): InputPartition).toArray
    else {
      // CDF mode: the planner half runs DRIVER-SIDE — materializing a
      // non-append version's change rows is a Spark job here (once; the
      // files are an immutable cache, so checkpoint replays re-read
      // identical bytes)
      val spark = org.apache.spark.sql.SparkSession.active
      TxnLog.changeFeedPlan(spark, dir, s0, e0).flatMap { case (v, tag, files) =>
        files.map(f =>
          TxnFilePartition(f, required.fieldNames, tag, v): InputPartition)
      }.toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TxnStreamReaderFactory(required)
  override def commit(end: Offset): Unit =
    ratchet(end.asInstanceOf[TxnOffset].version)
  override def stop(): Unit = ()
}

/** `tag` non-empty = a raw append data file in CDF mode: every row is one
  * change of that type at `tagVersion`, and the reader synthesizes the
  * `_change_type`/`_commit_version` columns (absent in the file). Empty
  * tag = either non-CDF mode or a materialized change file that carries
  * the meta columns itself. */
private[sources] case class TxnFilePartition(file: String, cols: Array[String],
                                             tag: String = "",
                                             tagVersion: Long = -1L)
    extends InputPartition

private[sources] class TxnStreamReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TxnFilePartition]
    val conf = new Configuration()
    // projection pushdown THROUGH the codec: the requested read schema
    // keeps unprojected columns' pages out of the decode entirely; it is
    // cut from this file's footer so repetition levels match exactly
    val fileSchema = ParquetStats.schema(p.file)
    val projected0 = TxnStreamSource.projectFrom(fileSchema, required.fieldNames)
    // a file carrying NONE of the required columns still has rows to
    // deliver (as all-null) — keep one file column to drive iteration
    val projected =
      if (projected0.getFieldCount > 0) projected0
      else new MessageType("spark_schema", fileSchema.getFields.get(0))
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      projected.toString)
    // per-FILE field indices: a file predating a schema-evolution commit
    // lacks later columns, so the materialized Group's positions shift —
    // resolve every required field by NAME against this file's projection
    // (-1 = absent: the row carries null, the mergeSchema batch-read
    // semantics)
    val fieldIdx: Array[Int] = required.fieldNames.map(n =>
      if (projected.containsField(n)) projected.getFieldIndex(n) else -1)
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new GroupReadSupport(), new HPath(p.file)).withConf(conf).build()
    new PartitionReader[InternalRow] {
      private var cur: Group = _
      override def next(): Boolean = { cur = reader.read(); cur != null }
      override def get(): InternalRow =
        new GenericInternalRow(required.fields.indices.map { i =>
          val gi = fieldIdx(i)
          // raw-append CDF partitions synthesize the meta columns the
          // data file doesn't carry
          if (gi < 0 && p.tag.nonEmpty &&
              required.fields(i).name == "_change_type")
            UTF8String.fromString(p.tag)
          else if (gi < 0 && p.tag.nonEmpty &&
              required.fields(i).name == "_commit_version")
            (p.tagVersion: java.lang.Long)
          else if (gi < 0 || cur.getFieldRepetitionCount(gi) == 0) null
          else required.fields(i).dataType match {
            case LongType    => cur.getLong(gi, 0): java.lang.Long
            case IntegerType => cur.getInteger(gi, 0): java.lang.Integer
            case DoubleType  => cur.getDouble(gi, 0): java.lang.Double
            case FloatType   => cur.getFloat(gi, 0): java.lang.Float
            case BooleanType => cur.getBoolean(gi, 0): java.lang.Boolean
            case StringType  => UTF8String.fromString(cur.getString(gi, 0))
            case other => throw new IllegalStateException(s"unreachable: $other")
          }
        }.toArray[Any])
      override def close(): Unit = reader.close()
    }
  }
}
