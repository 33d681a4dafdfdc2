package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization: DML rewrites flow into ONE write
  * (writeDataIfRows) and emptiness is decided from the written footer —
  * an empty DataFrame writes exactly one zero-row metadata file. These
  * pin the edges of that detection, plus the footer-derived stats
  * sidecar's null semantics, against the behavior the checkpoint +
  * isEmpty pre-probe used to produce. */
class WriteOnePassSpec extends AnyFunSuite with BeforeAndAfterAll {
  import graft.io.TxnLog

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import org.apache.spark.sql.DataFrame

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    graft.io.FsUtil.scratchDir("graft_wop")

  private def table(dir: String): Unit = {
    import spark.implicits._
    // two files: ks 1-10 and 11-20
    TxnLog.commit((1L to 10L).map(k => (k, s"v$k")).toDF("k", "s").coalesce(1), dir)
    TxnLog.commit((11L to 20L).map(k => (k, s"v$k")).toDF("k", "s").coalesce(1), dir)
  }

  test("deleteWhere that empties every touched file commits a removal-only exchange") {
    val dir = tmp(); table(dir)
    val v = TxnLog.deleteWhere(spark, dir, col("k") <= 10L)
    assert(v == 3L)
    val rows = TxnLog.read(spark, dir).select("k").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (11L to 20L))
    // the rewrite produced zero rows: no data file may have been added
    // (the empty write's zero-row metadata file must NOT be committed)
    val (_, files, _) = TxnLog.fileScanPlan(dir)
    assert(files.size == 1, s"expected only the untouched file, saw $files")
  }

  test("a rewrite surviving into a single file is kept (1-file != empty)") {
    val dir = tmp(); table(dir)
    // touches file 1 only; 9 of its 10 rows survive into one rewrite file
    val v = TxnLog.deleteWhere(spark, dir, col("k") === 1L)
    assert(v == 3L)
    val rows = TxnLog.read(spark, dir).select("k").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (2L to 20L))
    val (_, files, _) = TxnLog.fileScanPlan(dir)
    assert(files.size == 2)
  }

  test("merge whose grammar deletes every matched row still appends inserts") {
    import spark.implicits._
    val dir = tmp(); table(dir)
    // upsert-style merge: matched rows replaced, new key inserted
    TxnLog.merge(spark, dir,
      Seq((5L, "NEW5"), (99L, "NEW99")).toDF("k", "s"), Seq("k"))
    val m = TxnLog.read(spark, dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(5L) == "NEW5" && m(99L) == "NEW99" && m.size == 21)
  }

  test("footer-derived stats sidecar: all-null column omits its line, pruning stays sound") {
    import spark.implicits._
    val dir = tmp()
    // x is all-null in this commit: the sidecar must carry no x line
    // (missing metadata costs pruning, never rows) and k's exact bounds
    TxnLog.commitWithStats(
      (1L to 10L).map(k => (k, Option.empty[java.lang.Long])).toDF("k", "x")
        .select(col("k"), col("x").cast("long").as("x")).coalesce(1),
      dir, Seq("k", "x"))
    val sk = TxnLog.scanPruned(spark, dir, "k", 100L, 200L)
    assert(sk.plannedFiles == 0 && sk.totalFiles == 1) // k-range prunes exactly
    val sx = TxnLog.scanPruned(spark, dir, "x", 0L, 1L)
    assert(sx.plannedFiles == 1) // no x stats -> file kept (sound)
    assert(sx.df.count() == 0L)  // the row predicate still drops null x
    assert(TxnLog.read(spark, dir).count() == 10L)
  }
}
