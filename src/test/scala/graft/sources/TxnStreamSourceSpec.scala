package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnLog

/** The txn-log streaming source's contracts: version-ranged micro-batches
  * deliver exactly the appended rows, maintenance commits are invisible,
  * non-append commits fail loudly (or are skipped under ignoreChanges),
  * offsets resume across checkpoint restarts without duplicates, and
  * projection pushdown narrows the parquet read. */
class TxnStreamSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshTable(): String =
    graft.io.FsUtil.scratchDir("graft_txnstream")

  private def stream(dir: String, opts: Map[String, String] = Map.empty): DataFrame =
    opts.foldLeft(spark.readStream.format(classOf[TxnStreamSource].getName)
      .option("path", dir)) { case (r, (k, v)) => r.option(k, v) }.load()

  /** Drain all available batches into a per-batch rowset log. */
  private def drain(df: DataFrame, out: scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])],
                    checkpoint: Option[String] = None): Unit = {
    var w = df.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        out += ((id, batch.select("v").collect().map(_.getLong(0)).sorted.toSeq))
        ()
      }
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
  }

  test("micro-batches are version ranges; late commits arrive incrementally") {
    val dir = freshTable()
    import spark.implicits._
    TxnLog.commit(Seq(1L, 2L).toDF("v").coalesce(1), dir)
    TxnLog.commit(Seq(3L).toDF("v").coalesce(1), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    // rate-limited: one version per trigger → one batch per commit
    val df = stream(dir, Map("maxVersionsPerTrigger" -> "1"))
    drain(df, seen)
    assert(seen.map(_._2) == Seq(Seq(1L, 2L), Seq(3L)),
      s"unexpected batch contents ${seen.toSeq}")
  }

  test("maintenance commits are invisible; non-append fails loudly") {
    val dir = freshTable()
    import spark.implicits._
    TxnLog.commit((1L to 4L).toDF("v").coalesce(1), dir)
    (0 until 2).foreach(i => TxnLog.commit(Seq(100L + i).toDF("v").coalesce(1), dir))
    TxnLog.compactSmall(spark, dir, thresholdBytes = 1 << 20) // X noop: packs all
    TxnLog.commit(Seq(200L).toDF("v").coalesce(1), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir), seen)
    // one catch-up batch: all appended rows exactly once, the pack invisible
    assert(seen.flatMap(_._2).sorted == Seq(1L, 2L, 3L, 4L, 100L, 101L, 200L))
    // a delete vector poisons the stream...
    TxnLog.deleteVector(spark, dir, "v = 200", Seq("v"))
    TxnLog.commit(Seq(300L).toDF("v").coalesce(1), dir)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val failed = intercept[Exception] { drain(stream(dir), seen2) }
    assert(failed.toString.contains("append") ||
      Option(failed.getCause).exists(_.toString.contains("append")))
    // ...unless ignoreChanges skips it (append-only-view semantics)
    val seen3 = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir, Map("ignoreChanges" -> "true")), seen3)
    assert(seen3.flatMap(_._2).contains(300L))
  }

  test("checkpoint restart resumes at the committed version, no duplicates") {
    val dir = freshTable()
    val ckpt = graft.io.FsUtil.scratchDir("graft_txnstream_ck")
    import spark.implicits._
    TxnLog.commit(Seq(1L).toDF("v").coalesce(1), dir)
    TxnLog.commit(Seq(2L).toDF("v").coalesce(1), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir), seen, checkpoint = Some(ckpt))
    assert(seen.flatMap(_._2).sorted == Seq(1L, 2L))
    // new commits, NEW query instance, SAME checkpoint
    TxnLog.commit(Seq(3L).toDF("v").coalesce(1), dir)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir), seen2, checkpoint = Some(ckpt))
    assert(seen2.flatMap(_._2) == Seq(3L), s"restart replayed: ${seen2.toSeq}")
  }

  test("startingVersion ahead of the head never regresses the cursor") {
    val dir = freshTable()
    import spark.implicits._
    TxnLog.commit(Seq(1L).toDF("v").coalesce(1), dir)   // head = 1
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    // floor above the head: nothing may be delivered now...
    drain(stream(dir, Map("startingVersion" -> "5")), seen)
    assert(seen.flatMap(_._2).isEmpty, s"floor violated: ${seen.toSeq}")
    // ...and versions 2..5 stay excluded once the table catches up
    (2L to 6L).foreach(i => TxnLog.commit(Seq(i * 100).toDF("v").coalesce(1), dir))
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir, Map("startingVersion" -> "5")), seen2)
    assert(seen2.flatMap(_._2).sorted == Seq(600L), s"got ${seen2.toSeq}")
  }

  test("startingVersion floors the stream; projection narrows the read") {
    val dir = freshTable()
    import spark.implicits._
    Seq((1L, "aa"), (2L, "bb")).toDF("v", "s").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/seed") // not committed: invisible
    TxnLog.commit(Seq((1L, "aa"), (2L, "bb")).toDF("v", "s").coalesce(1), dir)
    TxnLog.commit(Seq((3L, "cc")).toDF("v", "s").coalesce(1), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir, Map("startingVersion" -> "1")).select("v"), seen)
    assert(seen.flatMap(_._2) == Seq(3L), "startingVersion=1 must skip v1")
    // pushdown: the projected message type is cut from the file schema —
    // repetition preserved, unprojected fields absent
    val schema = TxnStreamSource.schemaOf(dir)
    assert(schema.fieldNames.toSeq == Seq("v", "s"))
    val file = TxnLog.addedFilesBetween(dir, 0L, 2L).head
    val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    val fileSchema = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
    val msg = TxnStreamSource.projectFrom(fileSchema, Array("v")).toString
    assert(msg.contains("int64 v") && !msg.contains("binary s"))
  }

  /** Drain a CDF stream into (change_type, version, v) triples. */
  private def drainCdf(dir: String,
                       out: scala.collection.mutable.ArrayBuffer[(String, Long, Long)]): Unit = {
    val df = stream(dir, Map("readChangeFeed" -> "true"))
    val q = df.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        out ++= batch.select("_change_type", "_commit_version", "v").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  test("readChangeFeed serves inserts and derived deletes; matches the changes() API") {
    import spark.implicits._
    val dir = freshTable()
    TxnLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("v", "s").coalesce(1), dir)
    TxnLog.commit(Seq((4L, "d"), (5L, "e")).toDF("v", "s").coalesce(1), dir)
    TxnLog.deleteVector(spark, dir, "v % 2 = 0", Seq("v"))          // v3: D
    TxnLog.merge(spark, dir,
      Seq((1L, "a2"), (9L, "i")).toDF("v", "s"), Seq("v"))          // v4: X
    TxnLog.compact(spark, dir)                                      // v5: noop
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    drainCdf(dir, seen)
    val api = TxnLog.changes(spark, dir, 0L, TxnLog.currentVersion(dir))
      .select("_change_type", "_commit_version", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(seen.sorted.toSeq == api.sorted.toSeq,
      s"stream=${seen.sorted} api=${api.sorted.toSeq}")
    // spot semantics: v3 deletes evens; v4 edits v=1 (delete+insert) and inserts 9
    assert(seen.count { case (ct, cv, _) => ct == "delete" && cv == 3 } == 2)
    assert(seen.contains(("delete", 4L, 1L)) && seen.contains(("insert", 4L, 1L)))
    assert(seen.contains(("insert", 4L, 9L)))
    assert(!seen.exists(_._2 == 5L), "compaction must be feed-invisible")
  }

  test("append after a global delete vector must not over-deliver suppressed rows") {
    import spark.implicits._
    val dir = freshTable()
    TxnLog.commit(Seq((1L, "a"), (2L, "b")).toDF("v", "s").coalesce(1), dir)
    TxnLog.deleteVector(spark, dir, "v >= 2", Seq("v")) // global: suppresses FUTURE files too
    // v3 append carries v=2 — the pending global vector suppresses it on
    // read, so the feed must not say it was inserted
    TxnLog.commit(Seq((2L, "zombie"), (7L, "g")).toDF("v", "s").coalesce(1), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    drainCdf(dir, seen)
    val v3 = seen.filter(_._2 == 3L)
    assert(v3.map(t => (t._1, t._3)).sorted == Seq(("insert", 7L)),
      s"v3 feed over-delivered: $v3")
  }

  test("materialized change files are an immutable cache — second read reuses them") {
    import spark.implicits._
    val dir = freshTable()
    TxnLog.commit(Seq((1L, "a"), (2L, "b")).toDF("v", "s").coalesce(1), dir)
    TxnLog.deleteVector(spark, dir, "v = 1", Seq("v"))
    val f1 = TxnLog.materializeChanges(spark, dir, 2L)
    val stamps = f1.map(p => java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(p)).toMillis)
    val f2 = TxnLog.materializeChanges(spark, dir, 2L)
    assert(f1 == f2)
    assert(f2.map(p => java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(p)).toMillis) == stamps, "cache was rewritten")
  }

  test("Trigger.AvailableNow drains the prepare-time backlog in budget-sized batches") {
    val dir = freshTable()
    import spark.implicits._
    (1 to 5).foreach(i => TxnLog.commit(Seq(i.toLong).toDF("v").coalesce(1), dir))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = stream(dir, Map("maxFilesPerTrigger" -> "2"))
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        seen += ((id, batch.select("v").collect().map(_.getLong(0)).sorted.toSeq))
        ()
      }.start()
    q.awaitTermination() // AvailableNow terminates itself at the backlog end
    assert(seen.map(_._2) == Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)),
      s"AvailableNow did not honor the admission budget: ${seen.toSeq}")
  }

  test("maxFilesPerTrigger admits whole commits until the file budget is spent") {
    val dir = freshTable()
    import spark.implicits._
    // v1: 2 files, v2: 1 file, v3: 1 file, v4: 3 files
    TxnLog.commit(Seq(1L, 2L).toDF("v").repartition(2), dir)
    TxnLog.commit(Seq(3L).toDF("v").coalesce(1), dir)
    TxnLog.commit(Seq(4L).toDF("v").coalesce(1), dir)
    TxnLog.commit(Seq(5L, 6L, 7L).toDF("v").repartition(3), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir, Map("maxFilesPerTrigger" -> "2")), seen)
    // batch 0: v1 alone (2 files = budget); batch 1: v2+v3 (2 files);
    // batch 2: v4 (3 files > budget, but the FIRST commit of a trigger
    // always admits whole — commits are never split)
    assert(seen.map(_._2) == Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L)),
      s"unexpected admission ${seen.toSeq}")
  }

  test("maxBytesPerTrigger: one oversized commit per trigger, never split") {
    val dir = freshTable()
    import spark.implicits._
    TxnLog.commit(Seq(1L, 2L).toDF("v").repartition(2), dir) // 2 files, >1 byte
    TxnLog.commit(Seq(3L).toDF("v").coalesce(1), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir, Map("maxBytesPerTrigger" -> "1")), seen)
    // every commit exceeds 1 byte → exactly one commit per trigger, each
    // delivered WHOLE (v1's two files arrive together)
    assert(seen.map(_._2) == Seq(Seq(1L, 2L), Seq(3L)),
      s"unexpected byte admission ${seen.toSeq}")
  }

  test("admission control replays exactly-once across a checkpoint restart") {
    val dir = freshTable()
    val ckpt = graft.io.FsUtil.scratchDir("graft_adm_ckpt")
    import spark.implicits._
    (1 to 4).foreach(i => TxnLog.commit(Seq(i.toLong).toDF("v").coalesce(1), dir))
    val run1 = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir, Map("maxFilesPerTrigger" -> "2")), run1, Some(ckpt))
    assert(run1.map(_._2) == Seq(Seq(1L, 2L), Seq(3L, 4L)))
    // new commits + restart from the same checkpoint: only the new
    // versions arrive, same 2-files-per-trigger cadence, zero duplicates
    (5 to 7).foreach(i => TxnLog.commit(Seq(i.toLong).toDF("v").coalesce(1), dir))
    val run2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    drain(stream(dir, Map("maxFilesPerTrigger" -> "2")), run2, Some(ckpt))
    assert(run2.map(_._2) == Seq(Seq(5L, 6L), Seq(7L)),
      s"restart over-/under-delivered: ${run2.toSeq}")
    // the CDF mode refuses the file/byte limits loudly (version-limited)
    val e = intercept[Exception] {
      stream(dir, Map("readChangeFeed" -> "true", "maxFilesPerTrigger" -> "1"))
        .writeStream.outputMode("append")
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
        .processAllAvailable()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("maxFilesPerTrigger")), s"got: $e")
  }
}
