package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver's parquet test tables (TESTDATA.md).
  *
  * All tables are plain parquet scans — filters/projections authored on top
  * of these compose into the scan via Catalyst pushdown, so a metadata-only
  * query never materializes columns it does not read.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every board query reads through here, so this is the one choke point
    // that guarantees the plans-package strategy + optimizer rule are live
    // on driver sessions built without spark.sql.extensions
    graft.plans.GraftPlanner.ensure(spark)
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
  }

  /** The schema Spark would infer for `path`, read from the local footer
    * (so the read launches no inference job) under the session's parquet
    * settings; None, and Spark's own inference, for a non-local or
    * unreadable table or with schema merging on. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else graft.io.ParquetStats.sparkSchema(path, new ParquetToSparkSchemaConverter(conf))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.parquet` has shipped with two physical `ts` encodings across
    * driver testdata generations: parquet TIMESTAMP(NANOS) — which Spark's
    * reader only accepts as a raw LONG via the legacy nanosAsLong conf — and
    * plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Normalize BOTH to the
    * columns every downstream query uses:
    *   - `ts_us`: epoch microseconds (LONG). Nanos branch: integer `div`
    *     (a double division would corrupt 1.7e18-scale nanos), matching
    *     DuckDB's `CAST(ts AS TIMESTAMP)` ns→µs truncation. Micros branch:
    *     `unix_micros` under a UTC session zone, matching DuckDB's
    *     `epoch_us` on the same file (both read the stored count verbatim).
    *   - `ts_t`: a µs-precision TIMESTAMP for window/time-bucket operations.
    * Both confs are runtime-settable so this works under the driver's
    * session; the branch is picked off the read's schema, so one binary
    * serves either testdata generation.
    *
    * SIDE EFFECT (round-7 advice, documented contract): on the µs branch
    * this SETS `spark.sql.session.timeZone` to UTC (and always sets
    * `spark.sql.legacy.parquet.nanosAsLong`) on the passed session — the
    * ntz→instant reading is only the stored count under UTC, and every
    * graft entry point (Verify/Bench/ScaleBench, the specs) already runs
    * UTC-pinned sessions. A caller embedding this library under another
    * session zone should pass a dedicated `spark.newSession()` (the
    * streaming queries' `streamSession` pattern) if it needs its own zone
    * preserved.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ =>
        // TIMESTAMP_NTZ (or LTZ) µs file: pin the session zone to UTC so the
        // ntz→instant reading is the stored micros count, byte-for-byte what
        // DuckDB's epoch_us returns for the same cell.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        expr("unix_micros(cast(ts as timestamp))")
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
  }
}
