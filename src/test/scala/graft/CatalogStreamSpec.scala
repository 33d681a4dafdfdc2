package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Catalog streaming (q298's machinery): readStream.table semantics —
  * especially that FILTERS survive (the scan builder advertises filter
  * pushdown for batch; streaming must keep them as post-scan operators),
  * pruning, and the refusals. */
class CatalogStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("catalog-stream-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def fresh(tag: String): (String, String) = {
    val wh = graft.io.FsUtil.scratchDir(s"graft_cstream_$tag")
    spark.conf.set("spark.sql.catalog.gs", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gs.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS gs.db")
    spark.sql(s"CREATE TABLE gs.db.$tag (k BIGINT, grp STRING, v DOUBLE)")
    (s"gs.db.$tag", s"$wh/db/$tag")
  }

  test("readStream.table: filters and projections are correct across versions") {
    val (t, _) = fresh("filt")
    spark.sql(s"INSERT INTO $t SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, CAST(id AS DOUBLE) FROM range(0, 50)")
    spark.sql(s"INSERT INTO $t SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, CAST(id AS DOUBLE) FROM range(50, 100)")
    val out = graft.io.FsUtil.scratchDir("graft_cstream_out")
    val ckpt = graft.io.FsUtil.scratchDir("graft_cstream_ck")
    val q = spark.readStream.option("maxVersionsPerTrigger", "1").table(t)
      .filter(col("grp") === "a") // must NOT be lost to advertised pushdown
      .select(col("k"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 100L by 2).toSeq,
      s"filtered stream lost/extra rows: ${got.length}")
  }

  test("streaming from a time-travel resolution refuses") {
    val (t, _) = fresh("tt")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 1.0)")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 2.0)")
    val ckpt = graft.io.FsUtil.scratchDir("graft_cstream_ttck")
    val e = intercept[Exception] {
      val q = spark.readStream.table(s"$t VERSION AS OF 1")
        .writeStream.format("noop").option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    // either the reader API refuses time-travel for streams outright or
    // our scan guard fires — both are refusals, never a silent pin
    assert(msgs(e).nonEmpty)
  }

  test("admission control rides the catalog route: byte budget honored across a mid-backlog restart") {
    // q282 pins AvailableNow on the path-addressed source and
    // TxnStreamSourceSpec covers the budgets there; this drives the
    // CATALOG route (readStream.table → GraftSqlTable.toMicroBatchStream)
    // and proves the checkpoint-restored offset still honors the budget
    val (t, _) = fresh("adm")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $t SELECT id, 'g', CAST(id AS DOUBLE) " +
        s"FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val ckpt = graft.io.FsUtil.scratchDir("graft_cstream_admck")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def drive(trigger: Option[org.apache.spark.sql.streaming.Trigger]): Unit = {
      var w = spark.readStream.option("maxBytesPerTrigger", "1").table(t)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
      trigger.foreach(tr => w = w.trigger(tr))
      val q = w.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen += b.select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
        ()
      }.start()
      try {
        if (trigger.isEmpty) q.processAllAvailable() else q.awaitTermination()
      } finally q.stop()
    }
    // run 1: Trigger.Once = exactly ONE budgeted batch, then stop — the
    // checkpoint now sits genuinely MID-BACKLOG (v1 consumed, v2-v4 not)
    drive(Some(org.apache.spark.sql.streaming.Trigger.Once()))
    assert(seen.toSeq == Seq((0L until 10L).toSeq),
      s"Trigger.Once must admit exactly the first commit: ${seen.toSeq}")
    // run 2: restart from the checkpoint — the remaining backlog drains
    // one commit per trigger (every commit exceeds the 1-byte budget;
    // commits are never split), zero duplicates, zero gaps
    drive(None)
    assert(seen.toSeq == (0 until 4).map(i => (i * 10L until i * 10L + 10L).toSeq),
      s"restart broke the budget cadence or replayed rows: ${seen.toSeq}")
  }

  test("writeStream.toTable commits one T epoch per data batch, idempotently keyed") {
    val (src, srcDir) = fresh("wsrc")
    // same warehouse: fresh() would re-point the catalog and lose src
    val dst = "gs.db.wdst"
    val dstDir = srcDir.stripSuffix("wsrc") + "wdst"
    spark.sql(s"CREATE TABLE $dst (k BIGINT, grp STRING, v DOUBLE)")
    spark.sql(s"INSERT INTO $src VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    val ckpt = graft.io.FsUtil.scratchDir("graft_cstream_wck")
    def drive(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream.option("checkpointLocation", ckpt).outputMode("append")
        .toTable(dst)
      try q.processAllAvailable() finally q.stop()
    }
    drive()
    drive() // nothing new: no extra epoch
    val actions = graft.io.TxnLog.history(spark, dstDir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    assert(actions == "T", s"expected one T epoch, got '$actions'")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $dst").head().getLong(0) == 2L)
  }
}
