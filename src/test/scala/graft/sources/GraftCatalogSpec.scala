package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnLog

/** Drives the SQL front door: DDL, INSERT, SELECT, time travel, pruning
  * parity with the Scala API path, and the scan-ability refusals. */
class GraftCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.g", classOf[GraftCatalog].getName)
      .getOrCreate()
    s
  }

  private lazy val wh = {
    val d = graft.io.FsUtil.scratchDir("graft_catspec")
    spark.conf.set("spark.sql.catalog.g.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    d
  }

  override def afterAll(): Unit = spark.stop()

  test("CREATE TABLE / INSERT INTO / SELECT round trip, and empty-table scan") {
    wh
    spark.sql("CREATE TABLE g.db.t1 (k STRING, v BIGINT, d DECIMAL(12,2))")
    // pre-data: correct schema, zero rows
    val empty = spark.sql("SELECT * FROM g.db.t1")
    assert(empty.schema.fieldNames.toSeq == Seq("k", "v", "d"))
    assert(empty.count() == 0)
    spark.sql("INSERT INTO g.db.t1 VALUES ('a', 1, 1.50), ('b', 2, 2.25)")
    spark.sql("INSERT INTO g.db.t1 VALUES ('a', 3, 0.25)")
    val got = spark.sql(
      "SELECT k, count(*) AS n, sum(d) AS s FROM g.db.t1 GROUP BY k ORDER BY k")
      .collect().map(_.toString).toSeq
    assert(got == Seq("[a,2,1.75]", "[b,1,2.25]"))
    // decimal survived the round trip (the V1 commit bridge, not the
    // flat-primitive sink)
    assert(spark.table("g.db.t1").schema("d").dataType.typeName.startsWith("decimal"))
  }

  test("INSERT OVERWRITE is a replace commit; prior versions stay readable") {
    wh
    spark.sql("CREATE TABLE g.db.t2 (k STRING, v BIGINT)")
    spark.sql("INSERT INTO g.db.t2 VALUES ('a', 1), ('b', 2)") // v1
    spark.sql("INSERT OVERWRITE g.db.t2 VALUES ('z', 9)")      // v2 replace
    assert(spark.sql("SELECT * FROM g.db.t2").collect().map(_.toString).toSeq
      == Seq("[z,9]"))
    assert(spark.sql("SELECT * FROM g.db.t2 VERSION AS OF 1")
      .collect().map(_.toString).sorted.toSeq == Seq("[a,1]", "[b,2]"))
  }

  test("VERSION AS OF and TIMESTAMP AS OF resolve like the API path") {
    wh
    spark.sql("CREATE TABLE g.db.t3 (k STRING, v BIGINT)")
    spark.sql("INSERT INTO g.db.t3 VALUES ('a', 1)") // v1
    spark.sql("INSERT INTO g.db.t3 VALUES ('b', 2)") // v2
    val dir = s"$wh/db/t3"
    val ts = TxnLog.commitTimestamps(dir).toMap
    assert(spark.sql("SELECT count(*) AS n FROM g.db.t3 VERSION AS OF 1")
      .head().getLong(0) == 1L)
    val t1 = java.time.Instant.ofEpochSecond(ts(1L) / 1000000L, ts(1L) % 1000000L * 1000L)
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
      .format(t1)
    assert(spark.sql(s"SELECT count(*) AS n FROM g.db.t3 TIMESTAMP AS OF '$lit'")
      .head().getLong(0) == 1L)
    // API-path parity
    assert(TxnLog.readAtTimestamp(spark, dir, ts(1L)).count() == 1L)
  }

  private def parquetScans(df: DataFrame) =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }

  test("catalog scan pushes filters and prunes columns like the API path") {
    wh
    import spark.implicits._
    spark.sql("CREATE TABLE g.db.t4 (k STRING, v BIGINT, pad STRING)")
    (0 until 1000).map(i => (s"k${i % 10}", i.toLong, "x" * 20))
      .toDF("k", "v", "pad").createOrReplaceTempView("seed4")
    spark.sql("INSERT INTO g.db.t4 SELECT * FROM seed4")
    val q = spark.sql("SELECT v FROM g.db.t4 WHERE k = 'k3'")
    val scans = parquetScans(q)
    assert(scans.nonEmpty, q.queryExecution.executedPlan.toString)
    val s = scans.head.scan.description()
    assert(s.contains("k3"), s"filter not pushed: $s")
    assert(!s.contains("pad"), s"columns not pruned: $s")
    assert(q.count() == 100)
    // same files as the API path's snapshot
    val (_, files, _) = TxnLog.fileScanPlan(s"$wh/db/t4")
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputRDD.partitions.length
    }
    assert(scanned.nonEmpty && files.nonEmpty)
  }

  test("hive-partitioned commits scan with partition columns and prune by value") {
    wh
    import spark.implicits._
    val dir = s"$wh/db/t5"
    val df = (0 until 400).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "part")
    TxnLog.commitPartitioned(df, dir, Seq("part"))
    val q = spark.sql("SELECT part, count(*) AS n FROM g.db.t5 GROUP BY part ORDER BY part")
    assert(q.collect().map(_.toString).toSeq ==
      (0 until 4).map(p => s"[p$p,100]"))
    val pruned = spark.sql("SELECT count(*) AS n FROM g.db.t5 WHERE part = 'p1'")
    assert(pruned.head().getLong(0) == 100L)
  }

  test("pending delete vectors refuse the SQL scan; compact() re-enables it") {
    wh
    import spark.implicits._
    val dir = s"$wh/db/t6"
    TxnLog.commit((0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s"), dir)
    TxnLog.deleteVector(spark, dir, "id >= 50", Seq("id"))
    val e = intercept[Exception](spark.sql("SELECT count(*) FROM g.db.t6").collect())
    assert(e.getMessage.contains("pending merge-on-read"), e.getMessage)
    TxnLog.compact(spark, dir)
    assert(spark.sql("SELECT count(*) AS n FROM g.db.t6").head().getLong(0) == 50L)
  }

  test("DDL surface: listTables, tableExists, DROP TABLE, namespaces") {
    wh
    spark.sql("CREATE TABLE g.db.t7 (x BIGINT)")
    val tables = spark.sql("SHOW TABLES IN g.db").collect().map(_.getString(1)).toSet
    assert(tables.contains("t7"))
    spark.sql("DROP TABLE g.db.t7")
    val after = spark.sql("SHOW TABLES IN g.db").collect().map(_.getString(1)).toSet
    assert(!after.contains("t7"))
    val nss = spark.sql("SHOW NAMESPACES IN g").collect().map(_.getString(0)).toSet
    assert(nss.contains("db"))
  }

  test("identifier segments cannot traverse outside the warehouse") {
    wh
    val e = intercept[Exception](
      spark.sql("SELECT * FROM g.db.`..`").collect())
    assert(e.getMessage.contains("identifier segment") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
  }
}
