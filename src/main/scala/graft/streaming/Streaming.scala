package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming ingest mode (SURVEY §2.8 north-star extension): the
  * same windowed aggregation the batch query q32 runs, expressed over an
  * unbounded file source with a watermark. `runOnce` drives it synchronously
  * over the static test parquet (memory sink + processAllAvailable) so the
  * streaming path is testable offline; on a cluster the identical plan runs
  * against an arriving-file directory with `writeStream.trigger(...)`.
  */
object Streaming {

  /** events.parquet schema with ts as raw nanos — the LEGACY testdata
    * generation's shape; `eventsStreamRaw` swaps the ts field to whatever
    * the staged files actually carry (see Tables.events). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming events ingest resilient to both testdata generations.
    * FileStreamSource demands an explicit schema, but the driver's events
    * files have shipped with two ts encodings (raw-NANOS int64 vs
    * TIMESTAMP-micros — see Tables.events): batch-probe the footer of
    * whatever file is already staged in the directory, state the matching
    * schema, and normalize to `ts_us` (epoch micros, LONG) exactly as the
    * batch reader does. An empty not-yet-fed directory falls back to the
    * current µs-TIMESTAMP generation. */
  def eventsStreamRaw(spark: SparkSession, streamDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // empty/not-yet-fed directory → fall back to the current generation;
    // anything else (corrupt footer, IO failure) must PROPAGATE — a
    // swallowed real error here would silently pin a possibly-wrong schema
    // against the files that eventually arrive (round-7 advice)
    val tsType: DataType =
      try spark.read.parquet(streamDir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }
    val schema = StructType(eventsSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val tsUs = tsType match {
      case LongType => expr("ts div 1000")
      case _ =>
        // µs file: UTC session zone makes ntz→instant the stored count,
        // matching DuckDB's epoch_us on the same cell (see Tables.events)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        expr("unix_micros(cast(ts as timestamp))")
    }
    spark.readStream.schema(schema).parquet(streamDir).withColumn("ts_us", tsUs)
  }

  /** Unbounded source → event-time tumbling window + watermark aggregation.
    * State is bounded by the watermark (10 min past event time), the
    * requirement for 100 TB continuous ingest. `streamDir` is a DIRECTORY
    * into which event parquet files arrive (FileStreamSource contract). */
  def windowedCounts(spark: SparkSession, streamDir: String): DataFrame = {
    eventsStreamRaw(spark, streamDir)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "10 minutes")
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
              col("event_type"), col("n"), col("sum_value"))
  }

  /** A fresh scratch dir holding a copy of `dir`'s events.parquet — the
    * static snapshot a file-source drive streams over. It lives under the
    * process scratch root ([[graft.io.FsUtil.scratchDir]]) and goes with
    * it. */
  private def stagedSnapshot(dir: String, prefix: String): String = {
    val staged = graft.io.FsUtil.scratchDir(prefix)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(staged, "events.parquet"))
    staged
  }

  /** Drive the stream to completion over the static snapshot; returns the
    * final in-memory table (complete output mode). Stages the single events
    * file into a scratch directory — the file-source contract wants a
    * directory that files arrive into. Memory sink is deliberate here
    * (round-14 audit): the stream REDUCES to an hourly windowed aggregate
    * before the sink, so the materialized size is bounded by
    * time-range × event-type cardinality, not input rows. */
  def runOnce(spark: SparkSession, dir: String, queryName: String = "graft_stream"): DataFrame = {
    val q = windowedCounts(spark, stagedSnapshot(dir, "graft_stream_src"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  // ------------------------------------------------------------------
  // Streaming exact dedup (the continuous form of the q09/q23 batch
  // first-writer-wins dedup): dropDuplicatesWithinWatermark keeps one state
  // row per key and EVICTS it once the watermark passes, which is what makes
  // exact dedup feasible on an unbounded stream — state is bounded by the
  // dedup horizon, not the stream length. Duplicates arriving within the
  // horizon dedup exactly; a replay later than the horizon is a new row (the
  // standard at-scale contract).
  // ------------------------------------------------------------------

  /** First occurrence per key within the watermark horizon. */
  def dedupWithinWatermark(rows: DataFrame, tsCol: String, horizon: String,
                           keyCols: Seq[String]): DataFrame =
    rows.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark(keyCols)

  /** Drive the streaming dedup over files arriving in `streamDir` (one
    * micro-batch per file, so cross-batch dedup is actually exercised);
    * returns the deduped rows. */
  def dedupOnce(spark: SparkSession, streamDir: String, schema: StructType,
                tsCol: String, horizon: String, keyCols: Seq[String],
                queryName: String = "graft_dedup"): DataFrame = {
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    boundedDrive(spark,
      dedupWithinWatermark(src, tsCol, horizon, keyCols), queryName)()._1
  }

  // ------------------------------------------------------------------
  // BOUNDED drive for row-level verification faces (round 14, the
  // memory-sink audit): a `format("memory")` sink materializes the
  // WHOLE stream result into the driver JVM — measured to wedge at the
  // 100× SCALECHECK tier on the outer-join family. Every row-returning
  // drive below routes through this instead: each micro-batch is
  // filtered DISTRIBUTED-side first (`pre`), then collected under a
  // hard row budget that REFUSES BY NAME when exceeded, so scale abuse
  // is a loud error, never an OOM wedge. These row-level faces exist to
  // verify semantics against row-exact oracles; the production shapes
  // at 100 TB are the census/foreachBatch faces (q325's pattern) and
  // real sinks (audioIngest's insert-or-ignore metadata table).
  // Aggregate-reducing drives (hourly windows, AvailableNow complete
  // aggregates, late-data audits) keep the memory sink: their output is
  // bounded by time-range × key cardinality before the sink, not by
  // input rows.
  // ------------------------------------------------------------------

  private[graft] val BoundedDriveCap = 10000000 // rows; ~GBs of driver heap

  /** Drive an append-mode stream to completion, materializing at most
    * `cap` rows on the driver. `pre` runs distributed-side per batch
    * (push filters there, not after collection). `drain` is the drive
    * protocol (default: one processAllAvailable; wave-based callers copy
    * files between calls). Returns the rows and the final progress
    * records (for engine counters like numRowsDroppedByWatermark). */
  private[graft] def boundedDrive(spark: SparkSession, stream: DataFrame,
      queryName: String, cap: Int = BoundedDriveCap,
      pre: DataFrame => DataFrame = identity)(
      drain: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        q => q.processAllAvailable())
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val buf = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val schema = pre(stream).schema
    val q = stream.writeStream.outputMode("append").queryName(queryName)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // toLocalIterator holds at most one partition's rows in transit,
        // so the budget refusal below fires BEFORE a cap-sized array is
        // ever allocated on the driver (round-15 advice fix — a single
        // .collect() could transiently spike to the full 10M-row cap)
        val it = pre(df).limit(cap + 1 - buf.length).toLocalIterator()
        while (it.hasNext) {
          buf += it.next()
          require(buf.length <= cap,
            s"bounded drive '$queryName' exceeds $cap rows — a row-level " +
              "verification face; use the census/foreachBatch shape at scale")
        }
        ()
      }
      .start()
    val progress =
      try { drain(q); q.recentProgress.toSeq }
      catch {
        case e: Throwable =>
          // surface the row-budget refusal by name, not wrapped in the
          // StreamingQueryException envelope
          var c: Throwable = e
          while (c != null) {
            if (c.isInstanceOf[IllegalArgumentException] && c.getMessage != null &&
                c.getMessage.contains("bounded drive")) throw c
            c = c.getCause
          }
          throw e
      }
      finally q.stop()
    import scala.jdk.CollectionConverters._
    // asJava view over the buffer — no second copy of a near-cap result
    (spark.createDataFrame(buf.asJava, schema), progress)
  }

  // ------------------------------------------------------------------
  // Stream-stream interval join: two unbounded event streams joined on key
  // within an event-time bound. Both sides carry watermarks and the join
  // condition bounds the time range, so Spark can evict state — the
  // requirement for joining unbounded streams at all. The batch twin (same
  // join over the static snapshot) is the correctness check in OpsSpec.
  // ------------------------------------------------------------------

  /** Events of stream B within [0, `withinMinutes`] after each event of
    * stream A for the same user (self-pairs excluded). */
  def intervalJoinStreams(spark: SparkSession, dirA: String, dirB: String,
                          withinMinutes: Int, joinType: String = "inner"): DataFrame = {
    def side(dir: String, p: String) = eventsStreamRaw(spark, dir)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "10 minutes")
      .selectExpr(s"event_id AS ${p}_id", s"user_id AS ${p}_user", s"ts_t AS ${p}_ts")
    side(dirA, "a").join(side(dirB, "b"),
      expr(s"""a_user = b_user AND a_id <> b_id AND
              |b_ts >= a_ts AND b_ts <= a_ts + INTERVAL $withinMinutes MINUTES""".stripMargin),
      joinType)
  }

  /** Drive the interval join over the static snapshot; returns joined pairs. */
  def intervalJoinOnce(spark: SparkSession, dir: String, withinMinutes: Int,
                       queryName: String = "graft_ssjoin"): DataFrame = {
    def stage(): String = stagedSnapshot(dir, "graft_ssjoin_src")
    boundedDrive(spark,
      intervalJoinStreams(spark, stage(), stage(), withinMinutes),
      queryName)()._1
  }

  /** CHAINED STATEFUL OPERATORS: the stream-stream interval join FOLLOWED
    * BY an event-time windowed aggregation, in ONE streaming query — the
    * multi-stateful-operator pipeline (SPARK-42591) that a continuous
    * sessions-per-hour / pairs-per-hour rollup needs at 100 TB: without
    * chaining, the join's output lands in a table and a second job
    * re-reads it; chained, the pair never leaves the executor. The
    * aggregation keys on the LEFT side's event time, so its windows
    * finalize once the JOIN-OUTPUT watermark (input watermark minus the
    * join's state-retention interval) passes each window end — Append
    * mode then emits exactly the finalized windows. State on both levels
    * stays watermark-bounded. */
  def joinWindowStream(spark: SparkSession, dirA: String, dirB: String,
                       withinMinutes: Int): DataFrame =
    intervalJoinStreams(spark, dirA, dirB, withinMinutes)
      .groupBy(window(col("a_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("b_id")).as("sum_b"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        unix_micros(col("window.end")).as("window_end_us"),
        col("n_pairs"), col("sum_b"))

  /** Drive the chained join→aggregation over the static snapshot.
    * Determinism discipline (the q179 horizon rule, shifted by the
    * aggregation): a window is BOTH complete (all pairs produced — needs
    * the watermark past window_end + interval) and emitted (join-output
    * watermark past window_end) once window_end ≤ max(ts) − (delay +
    * interval + margin); callers compare only that prefix. */
  /** Exactly-once probe (q285/q288/q290/q298): delete the checkpoint's
    * LAST commit record (and its checksum sidecar) so a restarted stream
    * re-executes that epoch through the full sink — whose txn marker
    * must then refuse the re-registration. NUMERIC max: Spark names
    * commit files 0,1,…,10 unpadded, so a lexicographic max would pick
    * '9' over '10' and corrupt the checkpoint once epochs reach double
    * digits. */
  def replayLastEpoch(ckpt: String): Unit = {
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val records = Option(commits.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit))
    require(records.nonEmpty, s"no commit records under $commits")
    val last = records.maxBy(_.getName.toLong)
    java.nio.file.Files.delete(last.toPath)
    java.nio.file.Files.deleteIfExists(commits.resolve(s".${last.getName}.crc"))
  }

  def joinWindowOnce(spark: SparkSession, dir: String, withinMinutes: Int,
                     queryName: String = "graft_jwin",
                     where: Option[String] = None): DataFrame = {
    // `where` pre-filters the staged snapshot (both sides) — fixture
    // sizing for the board drive; callers must derive any watermark
    // cutoff from the SAME filtered slice, since the stream's watermark
    // only ever sees these rows
    def stage(): String = where match {
      case None => stagedSnapshot(dir, "graft_jwin_src")
      case Some(w) =>
        val staged = graft.io.FsUtil.scratchDir("graft_jwin_src")
        // FileStreamSource lists only the staged root — land ONE flat
        // file there, not a part-file subdirectory. nanosAsLong first:
        // the filter job must read whichever events generation is on
        // disk the same way the stream will.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val tmpOut = java.nio.file.Paths.get(staged, "_stage")
        spark.read.parquet(s"$dir/events.parquet").filter(w).coalesce(1)
          .write.mode("overwrite").parquet(tmpOut.toString)
        // File.listFiles, not Files.list: no stream handle to leak
        val listed = Option(tmpOut.toFile.listFiles()).getOrElse(Array.empty)
        val part = listed.find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException("empty staged slice"))
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(staged, "events.parquet"))
        Option(tmpOut.toFile.listFiles()).getOrElse(Array.empty)
          .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
        java.nio.file.Files.deleteIfExists(tmpOut)
        staged
    }
    // memory sink deliberate (round-14 audit): the chained join feeds an
    // HOURLY aggregate — output is bounded by the window count, not pairs
    val q = joinWindowStream(spark, stage(), stage(), withinMinutes)
      .writeStream.outputMode("append").format("memory").queryName(queryName).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** Drive the LEFT OUTER interval join over the static snapshot.
    *
    * Outer (null-extended) rows are emitted by WATERMARK-DRIVEN STATE
    * EVICTION: a left row's fate is decided only once the watermark passes
    * the end of its join window (a_ts + withinMinutes), which happens in
    * the no-data micro-batch after the last data batch advanced the
    * watermark to max(ts) − delay. Left rows inside that final horizon are
    * still sitting in state when the drive stops — never matched, never
    * null-emitted — so callers MUST restrict any deterministic comparison
    * to rows safely below max(ts) − (delay + interval): the join's emitted
    * prefix is exactly the batch LEFT JOIN there. That horizon discipline
    * is the same one a production job lives with: an outer result is only
    * final once the watermark says no future match can arrive. */
  def intervalJoinLeftOuterOnce(spark: SparkSession, dir: String, withinMinutes: Int,
                                queryName: String = "graft_ssjoin_lo",
                                preFilter: Option[String] = None): DataFrame =
    intervalJoinOuterOnce(spark, dir, withinMinutes, "leftOuter", queryName,
      preFilter)

  /** Drive an OUTER interval join ("leftOuter" | "fullOuter") over the
    * static snapshot; same eviction-horizon caveat as the left-outer doc
    * above — for fullOuter it applies to BOTH sides (a right-outer null row
    * is final only once the watermark clears ITS window too). `preFilter`
    * (a SQL predicate over the join's output columns) runs DISTRIBUTED-
    * side inside each micro-batch, before the bounded collection — push
    * the caller's horizon cutoff here, not after the drive. */
  def intervalJoinOuterOnce(spark: SparkSession, dir: String, withinMinutes: Int,
                            joinType: String,
                            queryName: String = "graft_ssjoin_out",
                            preFilter: Option[String] = None): DataFrame = {
    def stage(): String = stagedSnapshot(dir, "graft_ssjoin_out_src")
    boundedDrive(spark,
      intervalJoinStreams(spark, stage(), stage(), withinMinutes, joinType),
      queryName,
      pre = df => preFilter.fold(df)(w => df.filter(w)))()._1
  }

  /** SCALE-SAFE drive of the outer interval join: the join's output
    * never crosses to the driver AS ROWS — each micro-batch reduces to
    * per-fate COUNTS below the caller's horizon inside `foreachBatch`
    * (a distributed aggregate; one four-long row per batch reaches the
    * driver), so the sink cost is O(micro-batches), not O(pairs). This
    * is the production sink shape at 100 TB: the memory-sink drive
    * above collects the full join result into one JVM — fine at test
    * scale, MEASURED to exhaust a single driver at a 100× slice
    * (SCALECHECK_r13's excluded-entry note). Returns (matched pairs,
    * null-extended lefts, Σ unmatched a_id, Σ (a_id + b_id)) — value
    * AND identity checksums, so a wrong eviction or a dropped pair
    * moves a sum even when counts collide. */
  def intervalJoinCensusOnce(spark: SparkSession, dir: String,
                             withinMinutes: Int, cutoffUs: Long,
                             queryName: String = "graft_ssjoin_census")
      : (Long, Long, Long, Long) = {
    def stage(): String = stagedSnapshot(dir, "graft_ssjoin_cen_src")
    val matched = new java.util.concurrent.atomic.AtomicLong
    val unmatched = new java.util.concurrent.atomic.AtomicLong
    val unmatchedIdSum = new java.util.concurrent.atomic.AtomicLong
    val pairSum = new java.util.concurrent.atomic.AtomicLong
    val q = intervalJoinStreams(spark, stage(), stage(), withinMinutes,
        "leftOuter")
      .writeStream.outputMode("append").queryName(queryName)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val r = df.filter(unix_micros(col("a_ts")) <= cutoffUs)
          .agg(
            sum(when(col("b_id").isNotNull, 1L).otherwise(0L)),
            sum(when(col("b_id").isNull, 1L).otherwise(0L)),
            sum(when(col("b_id").isNull, col("a_id")).otherwise(0L)),
            sum(col("a_id") + coalesce(col("b_id"), lit(0L))))
          .head()
        if (!r.isNullAt(0)) matched.addAndGet(r.getLong(0))
        if (!r.isNullAt(1)) unmatched.addAndGet(r.getLong(1))
        if (!r.isNullAt(2)) unmatchedIdSum.addAndGet(r.getLong(2))
        if (!r.isNullAt(3)) pairSum.addAndGet(r.getLong(3))
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    (matched.get, unmatched.get, unmatchedIdSum.get, pairSum.get)
  }

  // ------------------------------------------------------------------
  // Stateful span-based merge (the reference's O8 in continuous form,
  // SURVEY §2.8 north star): flatMapGroupsWithState keeps one OPEN session
  // per key; a point beyond the max span closes and EMITS the session and
  // opens a new one. Closed sessions stream out (Append mode); the final
  // open session per key stays in state (on a real deployment an event-time
  // timeout flushes it — kept timeout-free here so the offline test drive
  // is deterministic).
  // ------------------------------------------------------------------

  final case class SEvent(user_id: Long, ts_us: Long, value: Double)
  final case class OpenSession(startUs: Long, endUs: Long, n: Int, sum: Double)
  final case class ClosedSession(key: Long, startUs: Long, endUs: Long,
                                 nEvents: Int, sumValue: Double)

  /** Streaming span merge. '''Deployment requirement''': bound the trigger
    * size with `maxFilesPerTrigger` / `maxBytesPerTrigger` on the source —
    * the state function buffers and sorts ONE trigger's per-key slice in
    * memory (micro-batch rows arrive unordered and Spark forbids a sort on
    * streaming Datasets), so trigger size is the operator's only memory
    * bound. Unbounded-history replay belongs to the batch operator
    * (`Sessionize.spanMerge`), which streams each key's rows sorted. */
  def spanMergeStream(spark: SparkSession, streamDir: String,
                      minSpanUs: Long, maxSpanUs: Long): Dataset[ClosedSession] = {
    import spark.implicits._
    val events = eventsStreamRaw(spark, streamDir)
      .selectExpr("user_id", "ts_us", "value")
      .as[SEvent]
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[SEvent], state: GroupState[OpenSession]) =>
          // Within a micro-batch rows are unordered; sorting is unavoidable
          // (Spark forbids sort on streaming Datasets, so no secondary sort
          // reaches this iterator) but the buffer is bounded by the per-key
          // slice of ONE trigger — cap it operationally with
          // maxFilesPerTrigger/maxBytesPerTrigger. The unbounded-history
          // case is the batch operator, which streams (Sessionize.spanMerge).
          val sorted = rows.toArray
          java.util.Arrays.sort(sorted, Ordering.by((e: SEvent) => (e.ts_us, e.value)))
          val closed = Seq.newBuilder[ClosedSession]
          var open = state.getOption
          sorted.foreach { e =>
            open match {
              case None => open = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
              case Some(o) =>
                if (e.ts_us - o.startUs <= maxSpanUs) {
                  // math.max: a cross-batch late event must not regress the
                  // session end below its current extent
                  open = Some(OpenSession(o.startUs, math.max(o.endUs, e.ts_us),
                    o.n + 1, o.sum + e.value))
                } else {
                  if (o.endUs - o.startUs >= minSpanUs)
                    closed += ClosedSession(key, o.startUs, o.endUs, o.n, o.sum)
                  open = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
                }
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Drive the stateful merge over the static snapshot; returns the closed
    * sessions (every batch session except each key's final one, which
    * remains open in state). */
  def spanMergeOnce(spark: SparkSession, dir: String, minSpanUs: Long, maxSpanUs: Long,
                    queryName: String = "graft_spanmerge"): DataFrame = {
    boundedDrive(spark,
      spanMergeStream(spark, stagedSnapshot(dir, "graft_spanmerge_src"),
        minSpanUs, maxSpanUs).toDF(),
      queryName)()._1
  }

  // ------------------------------------------------------------------
  // Streaming ingest mode for the FULL audio pipeline (SURVEY §2.8 north
  // star): wav payloads arrive as a parquet stream of (path, content BINARY)
  // rows; each micro-batch runs the complete batch pipeline (decode →
  // segment → metrics → filters → ASR → text filter → export → overlap) via
  // foreachBatch and lands in the metadata table through the
  // INSERT-OR-IGNORE sink, so replayed/duplicate files dedup across batches.
  // Per-file semantics are exact: a file's payload is one row, so its
  // segments and overlap flags are always computed within one batch.
  // ------------------------------------------------------------------

  val wavRowSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("content", BinaryType)))

  /** Streaming audio ingest. '''Deployment requirement''': cap each
    * micro-batch with `maxFilesPerTrigger` / `maxBytesPerTrigger` on the
    * source — each trigger runs the full batch pipeline over its files, and
    * wav payloads are whole rows, so trigger size bounds both executor
    * memory (largest decode working set) and batch latency. */
  def audioIngest(spark: SparkSession, streamDir: String, wavOutDir: String,
                  metaPath: String, transcriberName: String = "stub",
                  queryName: String = "graft_audio_ingest")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .schema(wavRowSchema)
      .parquet(streamDir)
      .writeStream
      .queryName(queryName)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val meta = graft.Pipeline.fromDecoded(
          graft.Pipeline.decodeWavRows(batch.select(col("path"), col("content"))),
          wavOutDir, transcriberName).drop("id")
        graft.io.Sinks.appendIgnore(spark, meta, metaPath,
          key = "wav_path", orderCols = Seq("original_name"))
        ()
      }
      .start()
  }

  // ------------------------------------------------------------------
  // Streaming NEAR-duplicate detection (the continuous form of the q78
  // batch SimHash join): each arriving doc is flagged against previously
  // seen docs within Hamming distance <= 3 of its 60-bit SimHash. State is
  // keyed on the TOP 15-bit band of the signature (single-probe: catches
  // every pair agreeing on band 0 — near-identical docs almost always do;
  // full 4-band recall, q78's pigeonhole guarantee, needs one keyed pass
  // per band plus a downstream merge, which is the documented multi-probe
  // upgrade). The Scala simhash60 twin below is bit-identical to the q25
  // expression pipeline, which is what the OpsSpec batch-parity test
  // asserts.
  // ------------------------------------------------------------------

  final case class DocIn(doc_id: Long, text: String)
  final case class NearDupVerdict(doc_id: Long, simhash: Long,
                                  is_near_dup: Boolean, dup_of: Long)
  final case class BandSeen(seen: List[(Long, Long)]) // (simhash, doc_id)

  /** Scala twin of q25's signature expression pipeline (trim→lower→split
    * \s+→first 40 tokens→md5 hex[0,15) as 60-bit int→per-bit majority
    * vote, ties negative). Bit-identical to the SQL/DataFrame form. */
  def simhash60(text: String): Long = {
    // no empty-token filter: Spark's split("", "\\s+") yields [""], whose
    // md5 q25 hashes — the twin must do the same on empty/blank text
    val toks = text.trim.toLowerCase.split("\\s+").take(40)
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { tk =>
      val hex = md.digest(tk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      var j = 0
      while (j < 60) { votes(j) += (if (((h >> j) & 1L) == 1L) 1 else -1); j += 1 }
    }
    (0 until 60).foldLeft(0L)((acc, j) => if (votes(j) > 0) acc | (1L << j) else acc)
  }

  /** '''Deployment requirement''': per-band state grows with the number of
    * distinct documents seen in that band — bound the retention horizon in
    * production (event-time timeout or periodic state reset); offline the
    * corpus is finite so NoTimeout keeps the test drive deterministic. */
  def simhashDedupStream(spark: SparkSession, streamDir: String): Dataset[NearDupVerdict] = {
    import spark.implicits._
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
      .select(col("doc_id"), col("text"))
      .as[DocIn]
      .map(d => (d.doc_id, simhash60(d.text)))
      .groupByKey { case (_, sh) => (sh >> 45) & 0x7fffL } // band-0 bucket
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long)], state: GroupState[BandSeen]) =>
          var seen = state.getOption.map(_.seen).getOrElse(Nil)
          // within-trigger determinism: process this band's slice in doc_id
          // order (bounded by the trigger, see scaladoc)
          val out = rows.toArray.sortBy(_._1).map { case (id, sh) =>
            val hit = seen.filter { case (s, _) =>
              java.lang.Long.bitCount(s ^ sh) <= 3 }
              .map(_._2).sorted.headOption
            if (hit.isEmpty) seen = (sh, id) :: seen
            NearDupVerdict(id, sh, hit.nonEmpty, hit.getOrElse(-1L))
          }
          state.update(BandSeen(seen))
          out.iterator
      }
  }

  /** Drive the near-dup stream over files in `streamDir` (one micro-batch
    * per file, so cross-batch state is actually exercised). */
  def simhashDedupOnce(spark: SparkSession, streamDir: String,
                       queryName: String = "graft_simdedup"): DataFrame = {
    boundedDrive(spark, simhashDedupStream(spark, streamDir).toDF(), queryName)()._1
  }

  // ------------------------------------------------------------------
  // STREAMING AS-OF JOIN (round 13): the feature-store ONLINE lookup —
  // state-version updates and probe events share one keyed stream; each
  // probe is answered with the latest version at-or-before its event
  // time, matching the batch operator (ops/AsOfJoin) and the DuckDB
  // native ASOF semantics it is gated against. Per-key state is the
  // version history (ts-sorted); probes and versions in one trigger are
  // merge-processed in (ts, kind) order with versions first at equal
  // timestamps, so a same-instant version is visible — the batch rule.
  // An emitted assignment is FINAL: a version arriving in a later
  // trigger cannot retro-fix earlier probes (streaming reality; the
  // batch operator is the repair path). Deployment note: evict versions
  // older than the watermark minus the maximum probe lateness — kept
  // eviction-free here so the offline drive is deterministic.
  // ------------------------------------------------------------------

  final case class AsofIn(user_id: Long, ts_us: Long, kind: Int,
                          payload: Long, probe_id: Long)
  final case class AsofVersions(versions: Seq[(Long, Long)]) // (ts, payload) asc
  final case class AsofOut(user_id: Long, probe_id: Long, ts_us: Long,
                           matched: Boolean, payload: Long)

  def asOfJoinStream(spark: SparkSession, streamDir: String): Dataset[AsofOut] = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("kind", IntegerType), StructField("payload", LongType),
      StructField("probe_id", LongType)))
    spark.readStream.schema(schema).parquet(streamDir)
      .as[AsofIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AsofIn], state: GroupState[AsofVersions]) =>
          // one trigger's per-key slice, merge-ordered: ts asc, versions
          // (kind 0) before probes (kind 1) at equal ts, then probe_id,
          // then payload — the last key makes duplicate same-(key,ts)
          // VERSIONS deterministic too (they apply in ascending payload
          // order, so the LARGEST payload wins the overwrite; without it
          // the winner would be shuffle-arrival order)
          val slice = rows.toArray
          java.util.Arrays.sort(slice,
            Ordering.by((r: AsofIn) => (r.ts_us, r.kind, r.probe_id, r.payload)))
          var versions = state.getOption.map(_.versions.toVector).getOrElse(Vector.empty)
          val out = Seq.newBuilder[AsofOut]
          slice.foreach { r =>
            if (r.kind == 0) {
              // insert keeping ts order (late versions allowed; they serve
              // FUTURE probes only). Same-ts re-delivery overwrites — the
              // unique-(key,ts) contract of the batch operator.
              val at = versions.lastIndexWhere(_._1 <= r.ts_us)
              versions =
                if (at >= 0 && versions(at)._1 == r.ts_us)
                  versions.updated(at, (r.ts_us, r.payload))
                else (versions.take(at + 1) :+ ((r.ts_us, r.payload))) ++
                  versions.drop(at + 1)
            } else {
              val hit = versions.lastIndexWhere(_._1 <= r.ts_us)
              out += AsofOut(key, r.probe_id, r.ts_us, hit >= 0,
                if (hit >= 0) versions(hit)._2 else -1L)
            }
          }
          state.update(AsofVersions(versions))
          out.result().iterator
      }
  }

  /** Two-wave drive: versions land as wave 1 (one micro-batch), probes as
    * wave 2 — cross-batch state is genuinely exercised (every probe is
    * answered from state written by an EARLIER trigger), and the result
    * is deterministic and equal to the batch as-of join, which is what
    * lets q334 share the batch entry's native-ASOF oracle. */
  def asOfJoinTwoWaves(spark: SparkSession, versions: DataFrame, probes: DataFrame,
                       queryName: String = "graft_asof_stream"): DataFrame = {
    val staged = java.nio.file.Files.createTempDirectory("graft_asof_src")
    val cols = Seq("user_id", "ts_us", "kind", "payload", "probe_id")
    versions.selectExpr(cols: _*).coalesce(1)
      .write.mode("append").parquet(staged.toString)
    boundedDrive(spark, asOfJoinStream(spark, staged.toString).toDF(), queryName)(
      drain = { q =>
        q.processAllAvailable()
        probes.selectExpr(cols: _*).coalesce(1)
          .write.mode("append").parquet(staged.toString)
        q.processAllAvailable()
      })._1
  }

  /** NATIVE streaming session windows — q71's `session_window` aggregation
    * over an unbounded source with a watermark: the engine owns the session
    * state (merge-on-overlap, one state row per open session), unlike the
    * hand-rolled span-merge state of `spanMergeStream`. Append mode emits a
    * session only once the watermark passes its end (start of first event →
    * last event + gap), so the emitted set is deterministic for a given
    * file sequence: every session closed at the final watermark. */
  def sessionWindowStream(spark: SparkSession, streamDir: String): DataFrame = {
    eventsStreamRaw(spark, streamDir)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "10 minutes")
      .groupBy(session_window(col("ts_t"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("sum_value"))
  }

  /** Drive the session-window stream over the static snapshot (q87
    * protocol: stage the single events file, one trigger, memory sink). */
  def sessionWindowOnce(spark: SparkSession, dir: String,
                        queryName: String = "graft_sesswin"): DataFrame = {
    boundedDrive(spark, sessionWindowStream(spark, stagedSnapshot(dir, "graft_sesswin_src")),
      queryName)()._1
  }

  // ------------------------------------------------------------------
  // transformWithState (Spark 4's arbitrary-state API, the successor to
  // flatMapGroupsWithState): typed per-key state primitives (ValueState /
  // ListState / MapState) resolved from a handle by NAME, so one processor
  // can hold several independently-evolvable state variables — and the
  // runtime requires the RocksDB provider, i.e. state lives off-heap on
  // disk from the start, the 100 TB posture. Exercised here with the
  // billing-threshold alert: per key, a cumulative integer-cents counter,
  // emitting a row whenever the running total crosses another multiple of
  // the threshold. Integer cents + a pinned (ts, event_id) fold order make
  // every emitted row oracle-exact — unlike a double accumulator, whose
  // arrival-order sums q87 had to exclude from its gate.
  // ------------------------------------------------------------------

  final case class BillEvent(user_id: Long, event_id: Long, ts_us: Long, cents: Long)
  final case class BillCrossing(user_id: Long, event_id: Long, k: Long, cum_cents: Long)

  /** Threshold-crossing processor: ValueState[Long] cumulative cents.
    * Within a trigger the key's slice folds in (ts_us, event_id) order
    * (bounded by the trigger — cap with maxFilesPerTrigger, the q87
    * contract); across triggers the state carries the running total. */
  final class ThresholdProcessor(thresholdCents: Long)
      extends StatefulProcessor[Long, BillEvent, BillCrossing] {
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[BillEvent],
                                 timers: TimerValues): Iterator[BillCrossing] = {
      val sorted = rows.toArray
      java.util.Arrays.sort(sorted,
        Ordering.by((e: BillEvent) => (e.ts_us, e.event_id)))
      var c = if (cum.exists()) cum.get() else 0L
      val out = Seq.newBuilder[BillCrossing]
      sorted.foreach { e =>
        val before = c
        c += e.cents
        if (c / thresholdCents > before / thresholdCents)
          out += BillCrossing(key, e.event_id, c / thresholdCents, c)
      }
      cum.update(c)
      out.result().iterator
    }
  }

  /** The unbounded billing-alert stream. cents = floor(value·100): floor,
    * not cast — DuckDB rounds double→BIGINT casts while Spark truncates,
    * and floor is the one op both engines state identically. */
  def billingAlertsStream(spark: SparkSession, streamDir: String,
                          thresholdCents: Long): Dataset[BillCrossing] = {
    import spark.implicits._
    eventsStreamRaw(spark, streamDir)
      .selectExpr("user_id", "event_id", "ts_us",
        "CAST(floor(value * 100) AS BIGINT) AS cents")
      .as[BillEvent]
      .groupByKey(_.user_id)
      .transformWithState(new ThresholdProcessor(thresholdCents),
        TimeMode.None(), OutputMode.Append())
  }

  /** Drive the alert stream over the static snapshot (single trigger, q87
    * protocol). transformWithState mandates the RocksDB state store — set
    * on this session only (callers pass a dedicated child session). */
  def billingAlertsOnce(spark: SparkSession, dir: String, thresholdCents: Long,
                        queryName: String = "graft_billing"): DataFrame = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing: per-batch state commits upload the delta, not
    // a full RocksDB snapshot — the production posture for frequent small
    // commits, and measurably cheaper for these single-drive runs too
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    boundedDrive(spark,
      billingAlertsStream(spark, stagedSnapshot(dir, "graft_billing_src"),
        thresholdCents).toDF(),
      queryName)()._1
  }

  // ------------------------------------------------------------------
  // Timer-driven state expiry (round-7 verdict item 6): the API primitive
  // that distinguishes transformWithState from its predecessors — EVENT-
  // TIME TIMERS (registerTimer/handleExpiredTimer) — exercised as the
  // session-timeout emitter. handleInputRows only FOLDS events into state
  // (open session + closed-session list) and registers a timer at each
  // session's end + gap; emission happens EXCLUSIVELY in
  // handleExpiredTimer when the watermark passes a timer. This is the
  // at-scale session shape: state per key is O(unclosed sessions), timers
  // evict it as event time advances, and a key silent forever stops
  // costing memory the moment its last timer fires.
  // ------------------------------------------------------------------

  final case class SessEvent(user_id: Long, ts_us: Long, cents: Long,
                             ts_t: java.sql.Timestamp)
  final case class Sess(start_us: Long, end_us: Long, n_events: Long, sum_cents: Long)
  final case class SessionEmit(user_id: Long, start_us: Long, end_us: Long,
                               n_events: Long, sum_cents: Long)

  /** Session-timeout processor: gap-splits each key's events into
    * sessions, held in state until their timer (end + gap, CEILED to the
    * runtime's ms timer granularity) expires against the watermark.
    * Emission rule — end_us + gap ≤ watermark_ms·1000 — is exactly the
    * timer-fire rule (ceil(x/1000) ≤ w ⟺ x ≤ 1000·w on integers), so
    * every emitted session is oracle-stateable from max event time:
    * wm_ms = floor(max_us/1000) − delay_ms (Spark's event-time stats
    * track ms). Timers for superseded session ends fire harmlessly: the
    * handler re-checks ripeness, emits nothing early, and a session is
    * removed from state the one time it emits. */
  final class SessionTimeoutProcessor(gapUs: Long)
      extends StatefulProcessor[Long, SessEvent, SessionEmit] {
    @transient private var open: ValueState[Sess] = _
    @transient private var closed: ListState[Sess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[Sess]("open",
        org.apache.spark.sql.Encoders.product[Sess], TTLConfig.NONE)
      closed = getHandle.getListState[Sess]("closed",
        org.apache.spark.sql.Encoders.product[Sess], TTLConfig.NONE)
    }

    private def timerMs(endUs: Long): Long = (endUs + gapUs + 999L) / 1000L

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
                                 timers: TimerValues): Iterator[SessionEmit] = {
      val sorted = rows.toArray
      java.util.Arrays.sort(sorted, Ordering.by((e: SessEvent) => e.ts_us))
      var cur = if (open.exists()) Option(open.get()) else None
      var nextFire = Long.MaxValue
      sorted.foreach { e =>
        cur match {
          case Some(ss) if e.ts_us - ss.end_us <= gapUs =>
            cur = Some(Sess(ss.start_us, e.ts_us, ss.n_events + 1L, ss.sum_cents + e.cents))
          case Some(ss) =>
            closed.appendValue(ss)
            nextFire = math.min(nextFire, timerMs(ss.end_us))
            cur = Some(Sess(e.ts_us, e.ts_us, 1L, e.cents))
          case None =>
            cur = Some(Sess(e.ts_us, e.ts_us, 1L, e.cents))
        }
      }
      cur.foreach { ss => open.update(ss); nextFire = math.min(nextFire, timerMs(ss.end_us)) }
      // ONE armed timer per key — the earliest pending expiry — instead of
      // one per session: the fire handler scans ALL state and re-arms the
      // next pending, so O(sessions) timer writes collapse to O(1) per key
      // per batch with identical emission semantics (a stale earlier timer
      // fires harmlessly: nothing ripe, re-arm, done)
      if (nextFire != Long.MaxValue) getHandle.registerTimer(nextFire)
      Iterator.empty // emission is the TIMER's job
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessionEmit] = {
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      def ripe(ss: Sess): Boolean = ss.end_us + gapUs <= wmUs
      val all = closed.get().toArray
      val (emit, keep) = all.partition(ripe)
      if (emit.nonEmpty) { closed.clear(); keep.foreach(closed.appendValue) }
      var out = emit.toVector
      var stillOpen: Option[Sess] = None
      if (open.exists()) {
        val ss = open.get()
        if (ripe(ss)) { out = out :+ ss; open.clear() } else stillOpen = Some(ss)
      }
      // re-arm the next pending expiry; everything kept is strictly future
      // (not ripe ⟺ its timer > current watermark), so this never needs a
      // same-batch refire
      val pending = keep.iterator.map(ss => timerMs(ss.end_us)) ++
        stillOpen.iterator.map(ss => timerMs(ss.end_us))
      if (pending.nonEmpty) getHandle.registerTimer(pending.min)
      out.sortBy(_.start_us).iterator
        .map(ss => SessionEmit(key, ss.start_us, ss.end_us, ss.n_events, ss.sum_cents))
    }
  }

  /** The unbounded session-timeout stream: 30-min gap sessions in integer
    * cents, emitted only by timer expiry against the 10-min watermark. */
  def sessionTimeoutStream(spark: SparkSession, streamDir: String,
                           gapMinutes: Int = 30): Dataset[SessionEmit] = {
    import spark.implicits._
    eventsStreamRaw(spark, streamDir)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "10 minutes")
      .selectExpr("user_id", "ts_us",
        "CAST(floor(value * 100) AS BIGINT) AS cents", "ts_t")
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMinutes * 60000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Drive the session-timeout stream over the static snapshot: the data
    * batch folds state and registers timers; the trailing no-data batch
    * advances the watermark to max event time − 10 min and fires the ripe
    * timers — so the emitted set is the deterministic "every session the
    * final watermark closed". RocksDB provider as for billingAlertsOnce. */
  def sessionTimeoutOnce(spark: SparkSession, dir: String, gapMinutes: Int = 30,
                         queryName: String = "graft_sesstimeout"): DataFrame = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    boundedDrive(spark,
      sessionTimeoutStream(spark, stagedSnapshot(dir, "graft_sesstimeout_src"),
        gapMinutes).toDF(),
      queryName)()._1
  }

  /** The dedup sibling of [[lateDataAuditOnce]]: same three-wave staging,
    * but the stateful operator is `dropDuplicatesWithinWatermark` — and
    * the dropped-rows counter is ROW-granular here (no partial
    * aggregation precedes the dedup state: every late input row reaches
    * the operator and is refused individually), where the aggregation's
    * counter ticks per GROUP. The pair documents what the metric actually
    * measures per operator class — the difference between "we dropped
    * 3 windows" and "we dropped 90k events" in an audit. Inputs carry
    * (ts_t TIMESTAMP, and the key columns). */
  def lateDedupAuditOnce(spark: SparkSession, recent: DataFrame, barrier: DataFrame,
                         late: DataFrame, keyCols: Seq[String], delay: String,
                         schema: StructType,
                         queryName: String = "graft_latededup"): (DataFrame, Long) = {
    def onePart(df: DataFrame, tag: String): java.nio.file.Path = {
      val out = java.nio.file.Files.createTempDirectory(s"graft_latededup_$tag")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      java.nio.file.Paths.get(java.nio.file.Files.list(out).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).min)
    }
    val files = Seq(onePart(recent, "recent"), onePart(barrier, "barrier"),
                    onePart(late, "late"))
    val staged = java.nio.file.Files.createTempDirectory("graft_latededup_src")
    java.nio.file.Files.copy(files.head, staged.resolve("wave0.parquet"))
    val stream = spark.readStream.schema(schema).parquet(staged.toString)
      .withWatermark("ts_t", delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    val (rows, progress) = boundedDrive(spark, stream, queryName)(
      drain = { q =>
        q.processAllAvailable()
        files.tail.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.copy(f, staged.resolve(s"wave${i + 1}.parquet"))
          q.processAllAvailable()
        }
      })
    val dropped =
      progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    (rows, dropped)
  }

  // ------------------------------------------------------------------
  // Bounded catch-up: Trigger.AvailableNow is THE backfill/maintenance
  // trigger at scale — process everything available under the source's
  // rate limits (maxFilesPerTrigger here) in a sequence of bounded
  // micro-batches, then TERMINATE. Unlike processAllAvailable (a test
  // harness wait on a continuous query), AvailableNow is the deployment
  // contract: a cron-scheduled job that drains the backlog without ever
  // loading it in one batch — at 100 TB the difference between a
  // memory-bounded catch-up and an OOM.
  // ------------------------------------------------------------------

  /** Drain a 3-file staged snapshot through a complete-mode aggregation
    * under AvailableNow + maxFilesPerTrigger=1 — one bounded batch per
    * file, self-terminating — and return the final aggregate plus the
    * number of DATA batches the drain took (the rate-limit evidence: 3
    * files at 1 file/batch is exactly 3). */
  def availableNowOnce(spark: SparkSession, dir: String,
                       queryName: String = "graft_availnow"): (DataFrame, Long) = {
    val staged = java.nio.file.Files.createTempDirectory("graft_availnow_src").toString
    eventsStatic(spark, dir)
      .select(col("event_type"), col("value"))
      .repartition(3)
      .write.mode("overwrite").parquet(staged)
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      // memory sink deliberate (round-14 audit): complete-mode aggregate
      // bounded by event-type cardinality
      .writeStream.outputMode("complete").format("memory")
      .queryName(queryName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // AvailableNow terminates itself at the backlog end
    val dataBatches = q.recentProgress.count(_.numInputRows > 0).toLong
    (spark.table(queryName), dataBatches)
  }

  /** The static events table shaped like the stream sees it (ts-normalized
    * through the same probe as eventsStreamRaw). */
  private def eventsStatic(spark: SparkSession, dir: String) =
    graft.core.Tables.events(spark, dir)

  // ------------------------------------------------------------------
  // Late-data accounting: watermark-dropped rows are OBSERVABLE, not
  // silent. At 100 TB a pipeline that drops late arrivals without a
  // ledger cannot be audited — the per-batch
  // StateOperatorProgress.numRowsDroppedByWatermark counter is the
  // engine's own accounting of exactly the rows the watermark refused,
  // and this drive surfaces it next to the aggregation those rows never
  // entered.
  // ------------------------------------------------------------------

  /** Drive a watermarked hourly aggregation over THREE arrival waves —
    * `recent` (advancing the watermark), `barrier` (one batch whose only
    * job is to let the advanced watermark take effect), then `late`
    * (entirely below it) — and return the emitted windows PLUS the
    * engine-counted number of state rows dropped by the watermark.
    *
    * Why a barrier wave: the late-record filter in batch N evaluates
    * against the watermark in force when N was CONSTRUCTED, which
    * incorporates event-time stats only up to batch N−2's data (the
    * documented one-batch propagation lag; progress reports the
    * end-of-batch value, which is ahead of the filter's). Without the
    * barrier, the late wave would ride the pre-advance watermark and
    * sail into state. On a real continuous deployment the lag is one
    * trigger (~seconds) and irrelevant; in a drive-to-completion test it
    * must be staged explicitly. Empirically pinned by OpsSpec.
    *
    * Granularity: `numRowsDroppedByWatermark` ticks at the STATE
    * operator, i.e. after partial aggregation and the group exchange —
    * one count per dropped (window × key) GROUP, not per input row.
    * That is the deterministic quantity (each group merges in exactly
    * one shuffle partition), and the one that matters for state-size
    * accounting.
    *
    * Waves land as single parquet files copied into the source directory
    * between `processAllAvailable()` calls, so batch order is arrival
    * order, not a listing race. Inputs carry (ts_t TIMESTAMP,
    * event_type STRING, value DOUBLE). */
  def lateDataAuditOnce(spark: SparkSession, recent: DataFrame, barrier: DataFrame,
                        late: DataFrame, delay: String,
                        queryName: String = "graft_lateaudit"): (DataFrame, Long) = {
    def onePart(df: DataFrame, tag: String): java.nio.file.Path = {
      val out = java.nio.file.Files.createTempDirectory(s"graft_lateaudit_$tag")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = java.nio.file.Files.list(out).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.endsWith("_SUCCESS")).min
      java.nio.file.Paths.get(part)
    }
    val files = Seq(onePart(recent, "recent"), onePart(barrier, "barrier"),
                    onePart(late, "late"))
    val staged = java.nio.file.Files.createTempDirectory("graft_lateaudit_src")
    val schema = StructType(Seq(
      StructField("ts_t", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    java.nio.file.Files.copy(files.head, staged.resolve("wave0.parquet"))
    val agg = spark.readStream.schema(schema).parquet(staged.toString)
      .withWatermark("ts_t", delay)
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
              col("event_type"), col("n"), col("sum_value"))
    // memory sink deliberate (round-14 audit): hourly windowed aggregate,
    // bounded by window x event-type cardinality before the sink
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(queryName).start()
    val dropped = try {
      q.processAllAvailable() // wave 0: watermark advances to max − delay
      files.tail.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f, staged.resolve(s"wave${i + 1}.parquet"))
        q.processAllAvailable() // wave 1: barrier; wave 2: dropped wholesale
      }
      q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    } finally q.stop()
    (spark.table(queryName), dropped)
  }
}
