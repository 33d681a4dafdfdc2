package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, max, min, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ParquetStats, TxnLog}
import graft.io.ParquetStats.LongRange

/** The one footer reader and the one zone-map builder. Footer bounds are
  * only recorded when they equal what the scan fallback computes,
  * `min/max(cast(c as long))` per file: a DECIMAL(12,2) column is INT64
  * on disk, but its footer bounds are unscaled, so the footer must not
  * vouch for it. Every zone-map writer (commit, z-order rewrite, analyze,
  * clone carry-over) is checked against that per-file aggregate, computed
  * here one file at a time, on both the footer path and the scan path. */
class ParquetStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(graft.io.FsUtil.deleteRecursively)
  }

  private def tmp(): String = {
    val d = new java.io.File(graft.io.FsUtil.scratchDir("graft_footerspec"))
    dirs += d
    d.getPath
  }

  private val footerCols = Seq("l", "i", "n")
  private val allCols = footerCols :+ "d"

  /** 30 rows in 3 files: a Long, an Int with some nulls, an all-null Long
    * and a DECIMAL(12,2) with negative fractional values (the cast to
    * long truncates toward zero, the unscaled footer value is ×100). */
  private def table = spark.range(0, 30).select(
    col("id").as("l"),
    when(col("id") % 4 =!= 1, (col("id") * 7 - 100).cast("int")).as("i"),
    lit(null).cast("long").as("n"),
    (col("id") * 1.25 - 3.5).cast("decimal(12,2)").as("d"))
    .repartitionByRange(3, col("l"))

  private def resolved(dir: String, rel: String): String =
    if (rel.startsWith("@")) rel.drop(1) else s"$dir/$rel"

  /** Data files a version's manifest adds (exchange `+` lines included). */
  private def added(dir: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(dir, "_txnlog", f"v$v%05d.manifest")).asScala
      .toSeq.tail.filter(l => l.nonEmpty && !l.startsWith("-")).map(_.stripPrefix("+"))

  private def sidecar(dir: String, v: Long): Set[String] =
    Files.readAllLines(Paths.get(dir, "_txnlog", f"v$v%05d.stats")).asScala
      .filter(_.nonEmpty).toSet

  /** The reference: per file, `min/max(cast(c as long))`; no line for a
    * column with no non-null value in that file. */
  private def expected(dir: String, rels: Seq[String], cols: Seq[String]): Set[String] =
    rels.flatMap { rel =>
      val aggs = cols.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
      val r = spark.read.parquet(resolved(dir, rel)).agg(aggs.head, aggs.tail: _*).head()
      cols.indices.collect { case k if !r.isNullAt(2 * k) =>
        s"$rel\t${cols(k)}\t${r.getLong(2 * k)}\t${r.getLong(2 * k + 1)}" }
    }.toSet

  test("logical-type guard: a DECIMAL(12,2) column's unscaled footer bounds are not used") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq("-3.50", "0.25", "12.75").toDF("s")
      .select(col("s").cast("decimal(12,2)").as("d")).coalesce(1)
    df.write.parquet(s"$dir/plain")
    val file = new java.io.File(s"$dir/plain").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val d = ParquetStats.schema(file).getColumns.get(0).getPrimitiveType
    assert(d.getPrimitiveTypeName.name == "INT64" && d.getLogicalTypeAnnotation != null,
      s"the spec needs an INT64 decimal column, got $d")
    assert(ParquetStats.minMaxLong(s"$dir/plain", "d").isEmpty) // not (-350, 1275)
    assert(ParquetStats.longRanges(file, Seq("d")) == Seq(LongRange.Unknown))
    val v = TxnLog.commitWithStats(df, s"$dir/t", Seq("d"))
    val rel = added(s"$dir/t", v).head
    assert(sidecar(s"$dir/t", v) == Set(s"$rel\td\t-3\t12"))
  }

  test("zone maps equal the per-file cast-to-long aggregate on every writer, " +
       "footer path and scan path") {
    val df = table.cache()
    // commitWithStats: l, i, n from the footers; with d, one scan
    val a = tmp()
    val va = TxnLog.commitWithStats(df, a, footerCols)
    val aFiles = added(a, va)
    assert(aFiles.size == 3)
    aFiles.foreach { rel =>
      val ranges = ParquetStats.longRanges(s"$a/$rel", allCols)
      assert(!ranges.take(2).contains(LongRange.Unknown) &&
        ranges(2) == LongRange.AllNull && ranges(3) == LongRange.Unknown, s"$rel: $ranges")
    }
    assert(sidecar(a, va) == expected(a, aFiles, footerCols))
    val b = tmp()
    val vb = TxnLog.commitWithStats(df, b, allCols)
    assert(sidecar(b, vb) == expected(b, added(b, vb), allCols))
    assert(sidecar(b, vb).exists(_.contains("\td\t")))

    // optimizeZorder (its sidecar from the rewrite's footers)
    val vz = TxnLog.optimizeZorder(spark, a, "l", "i", 3, Seq("l"))
    assert(sidecar(a, vz) == expected(a, added(a, vz), Seq("l", "i")))

    // analyzeStats: the footer path runs no Spark job; d forces the scan
    val c = tmp()
    val vc = TxnLog.commit(df, c)
    val (n, jobs) = JobLog.of(spark.sparkContext)(TxnLog.analyzeStats(spark, c, footerCols))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(n == 6L && sidecar(c, vc) == expected(c, added(c, vc), footerCols))
    TxnLog.analyzeStats(spark, c, allCols)
    assert(sidecar(c, vc) == expected(c, added(c, vc), allCols))

    // clone: the carried lines are keyed by `@` refs; analyze over those
    // refs rebuilds the same lines on both paths
    val e = tmp()
    val ve = TxnLog.clone(spark, b, e)
    val refs = added(e, ve)
    assert(refs.forall(_.startsWith("@")))
    assert(sidecar(e, ve) == expected(e, refs, allCols))
    TxnLog.analyzeStats(spark, e, footerCols)
    assert(sidecar(e, ve) == expected(e, refs, allCols))
    Files.delete(Paths.get(e, "_txnlog", f"v$ve%05d.stats"))
    TxnLog.analyzeStats(spark, e, allCols)
    assert(sidecar(e, ve) == expected(e, refs, allCols))
    df.unpersist()
  }

  test("no main source outside ParquetStats opens a parquet footer through Hadoop") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val hits = walk(root).flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      Seq("ParquetFileReader", "HadoopInputFile").filter(text.contains).map(w => s"${f.getPath}: $w")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
