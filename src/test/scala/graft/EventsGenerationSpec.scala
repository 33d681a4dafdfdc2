package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The events readers claim to serve BOTH testdata generations — raw-NANOS
  * int64 ts (legacy) and TIMESTAMP-micros ts (current). The current
  * generation is what's on disk, so the board exercises that branch; this
  * spec keeps the LEGACY branch executable by synthesizing a nanos-shaped
  * events dir and proving batch and streaming reads agree with the
  * µs-generation read of the same instants. */
class EventsGenerationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Rewrite the real events table as the legacy shape: ts as raw nanos
    * int64 (what TIMESTAMP(NANOS) parquet reads as under nanosAsLong). */
  private def stageLegacy(): String = {
    val dir = graft.io.FsUtil.scratchDir("graft_evgen")
    graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "ts_us * 1000L AS ts", "user_id", "event_type",
        "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Tables.events normalizes the legacy nanos shape to the same ts_us") {
    val legacyDir = stageLegacy()
    val legacy = graft.core.Tables.events(spark, legacyDir)
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val current = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(legacy == current,
      "nanos and micros generations must normalize to identical epoch-µs")
  }

  test("eventsStreamRaw probes the footer and reads the legacy shape too") {
    val legacyDir = stageLegacy()
    // the staged dir holds one parquet file; stream it and compare ts_us
    val q = graft.streaming.Streaming
      .eventsStreamRaw(spark, s"$legacyDir/events.parquet")
      .select(col("event_id"), col("ts_us"))
      .writeStream.outputMode("append").format("memory")
      .queryName("evgen_spec").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("evgen_spec").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == want)
  }
}
