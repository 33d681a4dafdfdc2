package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The io/TxnLog commit protocol's contracts, beyond q212's hash gate:
  * versions are linear, time travel sees exactly the prefix, crashed
  * writers stay invisible, and RACING commits both land (optimistic
  * concurrency through the atomic hard-link claim) without ever losing
  * or duplicating a row. */
class TxnLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshTable(): String =
    graft.io.FsUtil.scratchDir("graft_txnspec")

  test("commits are linear versions; time travel reads exactly the prefix") {
    val dir = freshTable()
    import spark.implicits._
    assert(graft.io.TxnLog.commit(Seq(1L, 2L).toDF("v"), dir) == 1L)
    assert(graft.io.TxnLog.commit(Seq(3L).toDF("v"), dir) == 2L)
    assert(graft.io.TxnLog.commit(Seq(4L, 5L).toDF("v"), dir) == 3L)
    assert(graft.io.TxnLog.currentVersion(dir) == 3L)
    def vals(asOf: Option[Long]) = graft.io.TxnLog.read(spark, dir, asOf)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vals(None) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(vals(Some(1L)) == Seq(1L, 2L))
    assert(vals(Some(2L)) == Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException](graft.io.TxnLog.read(spark, dir, Some(0L)))
  }

  test("a writer that died before its manifest is invisible") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(1L).toDF("v"), dir)
    // crash simulation: data fully written, no manifest
    Seq(99L, 98L).toDF("v").write.parquet(s"$dir/part-crashed-writer")
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(graft.io.TxnLog.currentVersion(dir) == 1L)
  }

  test("racing commits both land with distinct versions; no loss, no dupes") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(0L).toDF("v"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            graft.io.TxnLog.commit(Seq(i.toLong * 10, i.toLong * 10 + 1).toDF("v"), dir)
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet.size == 4, s"version collision: $versions")
      assert(versions.toSet == Set(2L, 3L, 4L, 5L))
    } finally pool.shutdown()
    val got = graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(0L, 10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L))
  }

  test("compaction replaces the visible file set, preserves rows and history") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(1L, 2L).toDF("v"), dir)
    graft.io.TxnLog.commit(Seq(3L).toDF("v"), dir)
    val cv = graft.io.TxnLog.compact(spark, dir)
    assert(cv == 3L)
    // rowset unchanged
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
    // latest view plans ONLY the compacted files: its input paths all share
    // the one replace-commit's part dir
    val inputs = graft.io.TxnLog.read(spark, dir).inputFiles
    assert(inputs.nonEmpty && inputs.map(_.split("/part-")(1).split("/")(0)).toSet.size == 1,
      s"latest view must read one part dir, got ${inputs.toSeq}")
    // time travel to the pre-compaction chain still works
    assert(graft.io.TxnLog.read(spark, dir, Some(1L)).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // appends after compaction stack on top of the replace
    graft.io.TxnLog.commit(Seq(9L).toDF("v"), dir)
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 9L))
  }

  test("vacuum reclaims pre-compaction files; vacuumed versions refuse loudly") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(1L, 2L).toDF("v"), dir)
    graft.io.TxnLog.commit(Seq(3L).toDF("v"), dir)
    // A-only chain: every file referenced — vacuum is a no-op
    assert(graft.io.TxnLog.vacuum(dir).isEmpty)
    graft.io.TxnLog.compact(spark, dir) // v3 replaces
    val deleted = graft.io.TxnLog.vacuum(dir, retainVersions = 1)
    assert(deleted.nonEmpty, "pre-compaction files must be reclaimed")
    assert(graft.io.TxnLog.minVersion(dir) == 3L)
    // latest still reads fully
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
    // vacuumed as-of fails at PLANNING time, loudly
    val e = intercept[IllegalArgumentException](graft.io.TxnLog.read(spark, dir, Some(1L)))
    assert(e.getMessage.contains("vacuumed"))
    // only the compacted part dir survives on disk
    val partDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part-"))
    assert(partDirs.length == 1, s"expected 1 surviving part dir, got ${partDirs.length}")
  }

  test("vacuum grace skips young unreferenced files (in-flight staging guard)") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(1L, 2L).toDF("v"), dir)
    graft.io.TxnLog.compact(spark, dir) // v2 replaces → v1's file is an orphan
    // AGE the real orphan so only the planted "in-flight" file is young
    val old = System.currentTimeMillis() - 3600_000L
    def ageAll(f: java.io.File): Unit = {
      f.setLastModified(old)
      Option(f.listFiles()).foreach(_.foreach(ageAll))
    }
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .foreach(ageAll)
    // plant a fresh unreferenced file where commitPartitionedShared stages
    // BEFORE its claim lands — the exact race the grace exists to survive
    val staged = java.nio.file.Paths.get(dir, "pdata", "p=x", "inflight.parquet")
    java.nio.file.Files.createDirectories(staged.getParent)
    java.nio.file.Files.write(staged, Array[Byte](1, 2, 3))
    val deleted = graft.io.TxnLog.vacuum(dir, graceMillis = 600_000L)
    assert(deleted.nonEmpty, "the aged orphan must still be reclaimed")
    assert(java.nio.file.Files.exists(staged),
      "a young unreferenced file is presumed in-flight staging and must survive")
    // past the grace it is an ordinary orphan
    staged.toFile.setLastModified(old)
    val second = graft.io.TxnLog.vacuum(dir, graceMillis = 600_000L)
    assert(second.exists(_.endsWith("inflight.parquet")))
    assert(!java.nio.file.Files.exists(staged))
  }

  test("delete is copy-on-write: rows gone at latest, recoverable until vacuum") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(1L, 2L, 3L, 4L).toDF("v"), dir)
    graft.io.TxnLog.delete(spark, dir, "v % 2 = 0")
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    // the recovery window: pre-delete version still fully readable
    assert(graft.io.TxnLog.read(spark, dir, Some(1L)).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
    // vacuum closes the window — deleted rows become unrecoverable
    assert(graft.io.TxnLog.vacuum(dir).nonEmpty)
    intercept[IllegalArgumentException](graft.io.TxnLog.read(spark, dir, Some(1L)))
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
  }

  test("reading a non-table or empty version range fails loudly") {
    val dir = freshTable()
    intercept[IllegalArgumentException](graft.io.TxnLog.read(spark, dir))
  }

  test("as-of above the head fails at planning time, not a silent latest") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(1L).toDF("v"), dir)
    val e = intercept[IllegalArgumentException](
      graft.io.TxnLog.read(spark, dir, Some(7L)))
    assert(e.getMessage.contains("does not exist"))
  }

  test("manifest fold follows numeric version order across the padding boundary") {
    // v%05d padding makes 'v100000' sort lexicographically BEFORE 'v99999';
    // the fold must order by parsed version or the A/R chain misfolds.
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(1L, 2L).toDF("v"), dir) // v1
    graft.io.TxnLog.commit(Seq(3L).toDF("v"), dir)     // v2
    val ld = java.nio.file.Paths.get(dir, "_txnlog")
    def replaceBody(v: Long) = new String(java.nio.file.Files.readAllBytes(
      ld.resolve(f"v$v%05d.manifest")), "UTF-8").replaceFirst("^A", "R")
    // hand-forge a far-future pair: v99999 replaces with v1's files,
    // v100000 replaces with v2's files — numeric order must make v100000 win
    java.nio.file.Files.write(ld.resolve("v99999.manifest"), replaceBody(1L).getBytes("UTF-8"))
    java.nio.file.Files.write(ld.resolve("v100000.manifest"), replaceBody(2L).getBytes("UTF-8"))
    assert(graft.io.TxnLog.currentVersion(dir) == 100000L)
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L), "lexicographic manifest order misfolded the chain")
    val hist = graft.io.TxnLog.history(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(hist == Seq(1L, 2L, 99999L, 100000L), s"history order: $hist")
  }

  test("delete vector: merge-on-read now, materialized by the next rewrite") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 8L).toDF("v"), dir)          // v1
    val dv = graft.io.TxnLog.deleteVector(spark, dir, "v % 3 = 0", Seq("v")) // v2
    assert(dv == 2L)
    // latest suppresses the keys without rewriting the base files
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L, 5L, 7L, 8L))
    // the base files were NOT rewritten: v1's part dir still serves the scan
    val v1Parts = graft.io.TxnLog.read(spark, dir, Some(1L)).inputFiles
      .map(_.split("/part-")(1).split("/")(0)).toSet
    val latestParts = graft.io.TxnLog.read(spark, dir).inputFiles
      .map(_.split("/part-")(1).split("/")(0)).toSet
    assert(v1Parts.subsetOf(latestParts),
      "merge-on-read must keep planning the original base files")
    // pre-delete version stays fully readable (the recovery window)
    assert(graft.io.TxnLog.read(spark, dir, Some(1L)).collect().map(_.getLong(0)).sorted.toSeq
      == (1L to 8L))
    // value-based vectors delete BY KEY: a later append of a matching key
    // is suppressed too (snapshot-independent, the commute-with-append rule)
    graft.io.TxnLog.commit(Seq(3L, 10L).toDF("v"), dir)        // v3
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    // history labels the vector commit D
    val hist = graft.io.TxnLog.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist == Map(1L -> "A", 2L -> "D", 3L -> "A"))
    // a no-match predicate is a no-op, not an empty commit
    assert(graft.io.TxnLog.deleteVector(spark, dir, "v = 999", Seq("v")) == 3L)
    // compaction materializes the vector: same rowset, single part dir, and
    // the post-compaction read no longer depends on the vector files
    graft.io.TxnLog.compact(spark, dir)
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    assert(graft.io.TxnLog.read(spark, dir).inputFiles
      .map(_.split("/part-")(1).split("/")(0)).toSet.size == 1)
    // vacuum keeps only the compacted files; latest unchanged
    assert(graft.io.TxnLog.vacuum(dir).nonEmpty)
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
  }

  test("vacuum retains delete-vector files while their versions are retained") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 4L).toDF("v"), dir)
    graft.io.TxnLog.deleteVector(spark, dir, "v = 2", Seq("v"))
    // retain everything: the DV files must survive (latest still applies them)
    graft.io.TxnLog.vacuum(dir, retainVersions = 2)
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 4L))
  }

  test("replace-commit re-validates: concurrent appends are never lost") {
    // round-7 advice (medium): compact reads the visible set, then commits
    // replace — a blind next-version retry would silently drop an append
    // that interleaved. The CAS claim at base+1 + rebuild must keep every
    // appended row through concurrent compactions.
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq(0L).toDF("v"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val appender = pool.submit(new Runnable {
        def run(): Unit = (1 to 6).foreach { i =>
          graft.io.TxnLog.commit(Seq(i.toLong).toDF("v"), dir)
        }
      })
      val compactor = pool.submit(new Runnable {
        def run(): Unit = (1 to 3).foreach { _ =>
          graft.io.TxnLog.compact(spark, dir); Thread.sleep(30)
        }
      })
      appender.get(180, java.util.concurrent.TimeUnit.SECONDS)
      compactor.get(180, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == (0L to 6L), "a concurrent append was lost by a replace-commit")
  }

  test("delete vector racing compaction never resurrects deleted keys") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 20L).toDF("v"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val deleter = pool.submit(new Runnable {
        def run(): Unit = (0 until 3).foreach { k =>
          graft.io.TxnLog.deleteVector(spark, dir, s"v % 5 = $k", Seq("v"))
        }
      })
      val compactor = pool.submit(new Runnable {
        def run(): Unit = (1 to 3).foreach { _ =>
          graft.io.TxnLog.compact(spark, dir); Thread.sleep(20)
        }
      })
      deleter.get(180, java.util.concurrent.TimeUnit.SECONDS)
      compactor.get(180, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    // every key hit by any of the three vectors must be gone, regardless of
    // how the vectors interleaved with the rewrites
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == (1L to 20L).filter(v => v % 5 != 0 && v % 5 != 1 && v % 5 != 2),
      "a compaction raced past a delete vector and resurrected keys")
  }

  // ------------------------------------------------------------- round 8:
  // MERGE (X exchange), change data feed, manifest-stats file skipping

  /** Manifest body with the marker's ` @<micros>` in-commit stamp stripped
    * (assertions below pin the bare action grammar). */
  private def manifestBody(dir: String, v: Long): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, "_txnlog", f"v$v%05d.manifest")
    val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq
    raw.headOption.fold(raw)(h => h.replaceFirst(" @\\d+$", "") +: raw.tail)
  }

  test("merge upserts by key and rewrites ONLY the touched files") {
    val dir = freshTable()
    import spark.implicits._
    // two files with disjoint key ranges: k 1-10 and k 11-20
    graft.io.TxnLog.commit((1L to 10L).map(k => (k, k * 100)).toDF("k", "x").coalesce(1), dir)
    graft.io.TxnLog.commit((11L to 20L).map(k => (k, k * 100)).toDF("k", "x").coalesce(1), dir)
    val lowFile = manifestBody(dir, 1L).tail.head // rel path of the low-range file
    val highFile = manifestBody(dir, 2L).tail.head
    // source: update k=3 (x -> -1), insert k=99 — touches only the low file
    val src = Seq((3L, -1L), (99L, 9900L)).toDF("k", "x")
    val v = graft.io.TxnLog.merge(spark, dir, src, Seq("k"))
    assert(v == 3L)
    val got = graft.io.TxnLog.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expected = ((1L to 20L).filter(_ != 3L).map(k => (k, k * 100)) ++
      Seq((3L, -1L), (99L, 9900L))).sortBy(_._1)
    assert(got == expected, "merge result is not target-anti-source union source")
    // file granularity: the X manifest removes exactly the low file and the
    // untouched high file survives in the visible plan
    val body = manifestBody(dir, 3L)
    assert(body.head == "X")
    assert(body.tail.filter(_.startsWith("-")) == Seq(s"-$lowFile"),
      s"merge rewrote more than the touched file: $body")
    val planned = graft.io.TxnLog.read(spark, dir).inputFiles.map(_.split("/").takeRight(2).mkString("/"))
    assert(planned.contains(highFile), "the untouched file left the plan")
    assert(!planned.contains(lowFile), "the replaced file is still planned")
    // time travel: pre-merge version unchanged
    assert(graft.io.TxnLog.read(spark, dir, Some(2L)).count() == 20L)
  }

  test("merge with no matches is a pure insert; empty source is a no-op") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq((1L, 1L)).toDF("k", "x"), dir)
    val v = graft.io.TxnLog.merge(spark, dir, Seq((2L, 2L)).toDF("k", "x"), Seq("k"))
    assert(v == 2L)
    assert(manifestBody(dir, 2L).tail.forall(_.startsWith("+")), "pure insert removed files")
    assert(graft.io.TxnLog.read(spark, dir).count() == 2L)
    val v2 = graft.io.TxnLog.merge(spark, dir,
      Seq((9L, 9L)).toDF("k", "x").filter("k < 0"), Seq("k"))
    assert(v2 == 2L, "empty-source merge committed a version")
  }

  test("merge over pending delete vectors materializes them so re-inserts survive") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 5L).map(k => (k, k)).toDF("k", "x"), dir)
    graft.io.TxnLog.deleteVector(spark, dir, "k = 2", Seq("k"))
    // upsert key 2 back: with the vector pending a naive X-rewrite would be
    // suppressed by the reader's anti-join — merge must fall back to the
    // materializing replace-commit
    graft.io.TxnLog.merge(spark, dir, Seq((2L, 22L)).toDF("k", "x"), Seq("k"))
    val got = graft.io.TxnLog.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L), (2L, 22L), (3L, 3L), (4L, 4L), (5L, 5L)),
      "re-inserted key was suppressed by a pending delete vector")
    assert(manifestBody(dir, 3L).head == "R", "dv fallback should be a replace-commit")
  }

  test("merge racing a concurrent append loses the CAS and re-derives") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 8L).map(k => (k, k)).toDF("k", "x"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val merger = pool.submit(new Runnable {
        def run(): Unit = (1 to 3).foreach { i =>
          graft.io.TxnLog.merge(spark, dir,
            Seq((i.toLong, -i.toLong)).toDF("k", "x"), Seq("k"))
        }
      })
      val appender = pool.submit(new Runnable {
        def run(): Unit = (101 to 103).foreach { k =>
          graft.io.TxnLog.commit(Seq((k.toLong, k.toLong)).toDF("k", "x"), dir)
          Thread.sleep(15)
        }
      })
      merger.get(180, java.util.concurrent.TimeUnit.SECONDS)
      appender.get(180, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val got = graft.io.TxnLog.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expected = (Seq(1L, 2L, 3L).map(k => (k, -k)) ++
      (4L to 8L).map(k => (k, k)) ++ (101L to 103L).map(k => (k, k))).sortBy(_._1)
    assert(got == expected, "an append interleaved with merge was lost or double-applied")
  }

  test("change data feed satisfies read(v) == read(v-1) + inserts - deletes at every step") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 6L).map(k => (k, k * 10)).toDF("k", "x").coalesce(1), dir)
    graft.io.TxnLog.commit((7L to 12L).map(k => (k, k * 10)).toDF("k", "x").coalesce(1), dir)
    graft.io.TxnLog.merge(spark, dir, Seq((3L, -3L), (99L, 99L)).toDF("k", "x"), Seq("k"))
    graft.io.TxnLog.deleteVector(spark, dir, "k % 4 = 0", Seq("k"))
    graft.io.TxnLog.compact(spark, dir)
    val cur = graft.io.TxnLog.currentVersion(dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("k", "x").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    (2L to cur).foreach { v =>
      val feed = graft.io.TxnLog.changes(spark, dir, v - 1, v)
      val ins = rows(feed.filter("_change_type = 'insert'"))
      val del = rows(feed.filter("_change_type = 'delete'"))
      val prev = rows(graft.io.TxnLog.read(spark, dir, Some(v - 1)))
      val now = rows(graft.io.TxnLog.read(spark, dir, Some(v)))
      assert(((prev ++ ins).sorted diff del) == now,
        s"CDF fold identity broken at version $v: prev=$prev ins=$ins del=$del now=$now")
    }
    // the compaction step specifically must be change-free — and cheap:
    // compact records `R noop`, so the feed skips the snapshot diff
    assert(graft.io.TxnLog.changes(spark, dir, cur - 1, cur).count() == 0L,
      "a pure compaction emitted CDF rows")
    // a CoW delete is a PLAIN R: the feed must still derive its real diff
    graft.io.TxnLog.delete(spark, dir, "k = 1")
    val cowDel = graft.io.TxnLog.changes(spark, dir, cur, cur + 1)
    assert(rows(cowDel.filter("_change_type = 'delete'")) == Seq((1L, 10L)),
      "CoW delete lost its CDF diff")
    assert(cowDel.filter("_change_type = 'insert'").count() == 0L)
    // a delete vector's CDF rows are full table rows, not just keys
    val dv = graft.io.TxnLog.changes(spark, dir, 3L, 4L).filter("_change_type = 'delete'")
    assert(rows(dv).forall { case (k, x) => x == k * 10 || x == -k }, "D rows lost their payload")
  }

  test("stats sidecar prunes disjoint files at planning time, never rows") {
    val dir = freshTable()
    import spark.implicits._
    // three range-disjoint files with stats, one statless legacy file
    graft.io.TxnLog.commitWithStats((1L to 10L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir, Seq("k"))
    graft.io.TxnLog.commitWithStats((11L to 20L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir, Seq("k"))
    graft.io.TxnLog.commitWithStats((21L to 30L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir, Seq("k"))
    graft.io.TxnLog.commit(Seq((100L, 100L)).toDF("k", "x").coalesce(1), dir)
    val scan = graft.io.TxnLog.scanPruned(spark, dir, "k", 12L, 18L)
    // pruning: keeps the [11,20] file + the statless file (missing stats =
    // keep), drops the two provably disjoint files
    assert(scan.totalFiles == 4 && scan.plannedFiles == 2,
      s"expected 2/4 planned, got ${scan.plannedFiles}/${scan.totalFiles}")
    // soundness: pruned result == unpruned filter
    assert(scan.df.collect().map(_.getLong(0)).sorted.toSeq == (12L to 18L),
      "file skipping changed the rowset")
    // delete vectors still apply through the pruned path
    graft.io.TxnLog.deleteVector(spark, dir, "k = 15", Seq("k"))
    val scan2 = graft.io.TxnLog.scanPruned(spark, dir, "k", 12L, 18L)
    assert(scan2.df.collect().map(_.getLong(0)).sorted.toSeq
      == (12L to 18L).filterNot(_ == 15L), "pruned scan missed a delete vector")
  }

  test("writer-known stats prune identically to scanned stats") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commitWithStats((1L to 10L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir, Seq("k"), knownStats = Some(Seq(("k", 1L, 10L))))
    graft.io.TxnLog.commitWithStats((11L to 20L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir, Seq("k"), knownStats = Some(Seq(("k", 11L, 20L))))
    val scan = graft.io.TxnLog.scanPruned(spark, dir, "k", 3L, 7L)
    assert(scan.totalFiles == 2 && scan.plannedFiles == 1)
    assert(scan.df.collect().map(_.getLong(0)).sorted.toSeq == (3L to 7L))
    // a mismatched column set refuses loudly
    intercept[IllegalArgumentException] {
      graft.io.TxnLog.commitWithStats(Seq((30L, 30L)).toDF("k", "x").coalesce(1),
        dir, Seq("k"), knownStats = Some(Seq(("wrong", 0L, 0L))))
    }
  }

  test("shallow clone is metadata-only, carries vectors, then diverges") {
    val src = freshTable(); val dst = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 10L).toDF("v").coalesce(1), src)
    graft.io.TxnLog.commit((11L to 20L).toDF("v").coalesce(1), src)
    graft.io.TxnLog.deleteVector(spark, src, "v = 5", Seq("v"))
    graft.io.TxnLog.clone(spark, src, dst)
    // zero-copy: no data directory exists under the clone yet
    assert(!new java.io.File(dst).listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("part-")), "clone copied data")
    def vals(dir: String) = graft.io.TxnLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vals(dst) == (1L to 20L).filterNot(_ == 5L), "clone != source at clone time")
    // divergence: edits on either side are invisible to the other
    graft.io.TxnLog.commit(Seq(100L).toDF("v").coalesce(1), dst)
    graft.io.TxnLog.deleteVector(spark, dst, "v = 1", Seq("v"))
    graft.io.TxnLog.commit(Seq(200L).toDF("v").coalesce(1), src)
    assert(vals(src) == ((1L to 20L) :+ 200L).filterNot(_ == 5L).sorted)
    assert(vals(dst) == ((2L to 20L) :+ 100L).filterNot(_ == 5L).sorted)
    // localize: compact rewrites external refs into clone-owned files,
    // after which the clone survives source-side vacuum
    graft.io.TxnLog.compact(spark, dst)
    graft.io.TxnLog.compact(spark, src)
    graft.io.TxnLog.vacuum(src)
    assert(vals(dst) == ((2L to 20L) :+ 100L).filterNot(_ == 5L).sorted,
      "localized clone broke after source vacuum")
    // clone refuses a non-empty destination
    intercept[IllegalArgumentException](graft.io.TxnLog.clone(spark, src, dst))
  }

  test("bloom sidecar: point lookup excludes files the filter rules out, never rows") {
    val dir = freshTable()
    import spark.implicits._
    // two disjoint key files with blooms + one bloom-less legacy file
    graft.io.TxnLog.commitWithBloom((1L to 50L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir, "k")
    graft.io.TxnLog.commitWithBloom((51L to 100L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir, "k")
    graft.io.TxnLog.commit(Seq((500L, 500L)).toDF("k", "x").coalesce(1), dir)
    val present = graft.io.TxnLog.scanPoint(spark, dir, "k", "42")
    assert(present.totalFiles == 3, s"expected 3 visible files, got ${present.totalFiles}")
    // soundness: the probe's row is found regardless of which files pruned
    assert(present.df.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // the true file + the bloom-less file are always kept; file 2 may only
    // survive as a bloom false positive
    assert(present.plannedFiles >= 2 && present.plannedFiles <= 3)
    // the bloom-less file's key is only reachable because missing = keep
    assert(graft.io.TxnLog.scanPoint(spark, dir, "k", "500")
      .df.collect().map(_.getLong(0)).toSeq == Seq(500L))
    // absent key: zero rows whatever the filters plan
    val absent = graft.io.TxnLog.scanPoint(spark, dir, "k", "424242")
    assert(absent.df.count() == 0L)
    // delete vectors apply through the point path
    graft.io.TxnLog.deleteVector(spark, dir, "k = 42", Seq("k"))
    assert(graft.io.TxnLog.scanPoint(spark, dir, "k", "42").df.count() == 0L)
    // probe-bit derivation matches the committed filters: a key from file 1
    // must hit file 1's filter (no false negatives by construction)
    assert(graft.io.TxnLog.scanPoint(spark, dir, "k", "7").plannedFiles >= 2)
  }

  test("clone carries the source's zone maps: pruning works pre-localization") {
    val src = freshTable(); val dst = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commitWithStats((1L to 10L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      src, Seq("k"), knownStats = Some(Seq(("k", 1L, 10L))))
    graft.io.TxnLog.commitWithStats((11L to 20L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      src, Seq("k"), knownStats = Some(Seq(("k", 11L, 20L))))
    graft.io.TxnLog.clone(spark, src, dst)
    val scan = graft.io.TxnLog.scanPruned(spark, dst, "k", 14L, 16L)
    assert(scan.totalFiles == 2 && scan.plannedFiles == 1,
      s"clone lost the source's stats: ${scan.plannedFiles}/${scan.totalFiles} planned")
    assert(scan.df.collect().map(_.getLong(0)).sorted.toSeq == (14L to 16L))
  }

  test("merge on an un-localized clone falls back to a validated replace") {
    val src = freshTable(); val dst = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit((1L to 5L).map(k => (k, k * 10)).toDF("k", "x").coalesce(1), src)
    graft.io.TxnLog.clone(spark, src, dst)
    graft.io.TxnLog.merge(spark, dst, Seq((3L, -3L), (9L, -9L)).toDF("k", "x"), Seq("k"))
    val rows = graft.io.TxnLog.read(spark, dst).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (3L, -3L), (4L, 40L), (5L, 50L), (9L, -9L)))
    // the replace localized everything: no external refs remain, and the
    // source is untouched
    assert(graft.io.TxnLog.read(spark, src).count() == 5L)
  }

  test("schema evolution: added column reads as null behind mergeSchema; time travel keeps the old shape") {
    val dir = freshTable()
    import spark.implicits._
    graft.io.TxnLog.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), dir)
    graft.io.TxnLog.commit(Seq((3L, "c", 30L)).toDF("k", "s", "extra").coalesce(1), dir)
    val latest = graft.io.TxnLog.read(spark, dir, mergeSchema = true)
    assert(latest.columns.toSeq == Seq("k", "s", "extra"))
    val byK = latest.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(byK == Map(1L -> None, 2L -> None, 3L -> Some(30L)),
      "pre-evolution rows must surface the new column as null")
    // time travel below the evolution point serves the OLD schema
    assert(graft.io.TxnLog.read(spark, dir, Some(1L), mergeSchema = true)
      .columns.toSeq == Seq("k", "s"))
    // vectors key on columns present in every generation
    graft.io.TxnLog.deleteVector(spark, dir, "k = 2", Seq("k"))
    assert(graft.io.TxnLog.read(spark, dir, mergeSchema = true)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("idempotent writer txns: a replayed batch commits exactly once") {
    val dir = freshTable()
    import spark.implicits._
    val v1 = graft.io.TxnLog.commitIdempotent(Seq(1L, 2L).toDF("v"), dir, "w", 0L)
    val v2 = graft.io.TxnLog.commitIdempotent(Seq(3L).toDF("v"), dir, "w", 1L)
    assert(v1 == 1L && v2 == 2L)
    // replay batch 0 with a poisoned frame: recorded txn wins, no write
    val r = graft.io.TxnLog.commitIdempotent(Seq(999L).toDF("v"), dir, "w", 0L)
    assert(r == v1, "replay minted a new version")
    assert(graft.io.TxnLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L), "replayed batch landed twice")
    assert(graft.io.TxnLog.txnVersion(dir, "w", 1L).contains(2L))
    assert(graft.io.TxnLog.txnVersion(dir, "w2", 0L).isEmpty,
      "txn lookup leaked across writer ids")
    // a different writer's batch 0 is a different txn and must land
    graft.io.TxnLog.commitIdempotent(Seq(4L).toDF("v"), dir, "w2", 0L)
    assert(graft.io.TxnLog.read(spark, dir).count() == 4L)
    // history shows the T actions; CDF folds them as inserts
    val acts = graft.io.TxnLog.history(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    assert(acts == "TTT", s"unexpected action chain $acts")
    val cdf = graft.io.TxnLog.changes(spark, dir, 0L, 3L)
    assert(cdf.filter("_change_type = 'insert'").count() == 4L)
    intercept[IllegalArgumentException](
      graft.io.TxnLog.commitIdempotent(Seq(1L).toDF("v"), dir, "bad writer", 9L))
  }

  test("checkpoint: identical snapshots, bounded fold cost, correct seeding") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    (1 to 6).foreach(i => T.commit(Seq(i.toLong * 10, i.toLong * 10 + 1).toDF("v"), dir))
    T.deleteVector(spark, dir, "v = 30", Seq("v"))          // v7: pending vector
    assert(T.foldCost(dir) == 7)
    def latest = T.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    val before = latest
    assert(T.checkpoint(dir) == 7L)
    // checkpoint is pure cache: same rows, vector still applied
    assert(T.foldCost(dir) == 0)
    assert(latest == before && !before.contains(30L))
    // commits after the checkpoint fold ON TOP of the seed
    T.commit(Seq(999L).toDF("v"), dir)                      // v8
    assert(T.foldCost(dir) == 1)
    assert(latest == (before :+ 999L).sorted)
    // time travel BELOW the checkpoint ignores it (full-prefix fold)
    assert(T.foldCost(dir, Some(3L)) == 3)
    assert(T.read(spark, dir, Some(3L)).count() == 6L)
    // a checkpointed pending vector still suppresses matching LATE appends
    T.commit(Seq(30L, 31L).toDF("v"), dir)                  // v9
    val after = latest
    assert(!after.contains(30L) && after.contains(31L),
      "checkpointed delete vector lost its by-key semantics")
    // a replace-commit after the checkpoint resets the seed's file list
    T.compact(spark, dir, numFiles = 1)                     // v10
    assert(latest == after, "compaction changed the rowset")
    // maybeCheckpoint honors the interval: 3 commits since v7 < every=4
    assert(T.maybeCheckpoint(dir, every = 4).isEmpty)
    assert(T.maybeCheckpoint(dir, every = 3).contains(10L))
    assert(T.foldCost(dir) == 0)
    assert(latest == after)
  }

  test("compactSmall bin-packs only the small tail; big files never move") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    // one big commit (many rows, 1 file) + a tail of tiny commits
    T.commit((1L to 50000L).toDF("v").coalesce(1), dir)
    (0 until 4).foreach(i => T.commit(Seq(100000L + i).toDF("v").coalesce(1), dir))
    val before = T.read(spark, dir).inputFiles.toSet // 5 data files, no dv yet
    assert(before.size == 5)
    val big = before.maxBy(f => java.nio.file.Files.size(
      java.nio.file.Paths.get(new java.net.URI(f))))
    T.deleteVector(spark, dir, "v = 100001", Seq("v"))   // v6: pending vector
    val v = T.compactSmall(spark, dir, thresholdBytes = 100000L)
    assert(v == 7L)
    // read inputs = big file + 1 packed file + the dv file the anti-join scans
    val after = T.read(spark, dir).inputFiles.toSet
    assert(after.contains(big), "large file was rewritten")
    assert(after.size == 3, s"small tail not packed: ${after.size} files")
    assert(after.intersect(before - big).isEmpty, "a small file survived the pack")
    // rowset invariant (vector still pending and applied), history = X
    val got = T.read(spark, dir).collect().map(_.getLong(0)).sorted
    assert(got.length == 50003 && !got.contains(100001L) && got.contains(100003L))
    val acts = T.history(spark, dir).collect().sortBy(_.getLong(0))
      .map(_.getString(1)).mkString
    assert(acts == "AAAAADX", s"unexpected action chain $acts")
    // the X-noop is change-free by metadata: CDF over it yields nothing
    assert(T.changes(spark, dir, 6L, 7L).count() == 0L)
    // below two small files: no-op
    assert(T.compactSmall(spark, dir, thresholdBytes = 10L) == 7L)
    // time travel below the exchange still sees the pre-pack layout
    assert(T.read(spark, dir, Some(5L)).count() == 50004L)
  }

  test("restore rolls back as a new commit; history stays linear") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq(1L, 2L).toDF("v"), dir)            // v1
    T.commit(Seq(3L).toDF("v"), dir)                // v2
    T.delete(spark, dir, "v = 1")                   // v3: CoW delete (bad op)
    def latest = T.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(latest == Seq(2L, 3L))
    // metadata-only restore: v2's snapshot had no vectors
    assert(T.restore(spark, dir, 2L) == 4L)
    assert(latest == Seq(1L, 2L, 3L))
    // the bad state stays time-travel-readable (nothing erased)
    assert(T.read(spark, dir, Some(3L)).count() == 2L)
    assert(T.history(spark, dir).collect().sortBy(_.getLong(0))
      .map(_.getString(1)).mkString == "AARR")
    // vector-pending target: restore materializes (rowset exact)
    T.deleteVector(spark, dir, "v = 2", Seq("v"))   // v5
    T.commit(Seq(9L).toDF("v"), dir)                // v6
    assert(T.restore(spark, dir, 5L) == 7L)
    assert(latest == Seq(1L, 3L))
    // guards: vacuumed / nonexistent targets refuse at planning time
    intercept[IllegalArgumentException](T.restore(spark, dir, 99L))
    T.vacuum(dir, retainVersions = 1)
    intercept[IllegalArgumentException](T.restore(spark, dir, 2L))
  }

  test("MoR update: atomic, scoped to prior files, later appends escape") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x").coalesce(1), dir) // v1
    T.commit(Seq((4L, 40L)).toDF("k", "x").coalesce(1), dir)                       // v2
    val v = T.update(spark, dir, "x >= 20 AND x <= 30", Seq("x" -> "x * 100"), Seq("k"))
    assert(v == 3L)
    def rows = T.read(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, 10L), (2L, 2000L), (3L, 3000L), (4L, 40L)))
    // time travel: pre-update face intact
    assert(T.read(spark, dir, Some(2L)).collect().map(_.getLong(1)).sorted.toSeq
      == Seq(10L, 20L, 30L, 40L))
    // a LATER append with an updated key is visible (scoped, not global)
    T.commit(Seq((2L, 999L)).toDF("k", "x").coalesce(1), dir)                      // v4
    assert(rows.contains((2L, 999L)) && rows.contains((2L, 2000L)))
    // CDF: the update is its delete+insert pair
    val cdf = T.changes(spark, dir, 2L, 3L).collect()
      .map(r => (r.getString(2), r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(cdf == Seq(("delete", 2L, 20L), ("delete", 3L, 30L),
      ("insert", 2L, 2000L), ("insert", 3L, 3000L)), s"cdf was $cdf")
    // history shows U; no-match update is a no-op
    assert(T.history(spark, dir).collect().sortBy(_.getLong(0))
      .map(_.getString(1)).mkString == "AAUA")
    assert(T.update(spark, dir, "x = 123456", Seq("x" -> "0"), Seq("k")) == 4L)
    // compactSmall over a pending update vector MATERIALIZES (full compact)
    val v2 = T.compactSmall(spark, dir, thresholdBytes = 1 << 20)
    assert(T.history(spark, dir).collect().sortBy(_.getLong(0))
      .map(_.getString(1)).mkString == "AAUAR")
    val after = rows
    assert(after.count(_._1 == 2L) == 2 && after.contains((2L, 2000L)))
    // checkpoint round-trips the scoped vector (fresh fold vs seeded fold)
    val dir2 = freshTable()
    T.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1), dir2)
    T.update(spark, dir2, "k = 2", Seq("x" -> "x + 5"), Seq("k"))
    val plain = T.read(spark, dir2).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    T.checkpoint(dir2)
    assert(T.foldCost(dir2) == 0)
    val seeded = T.read(spark, dir2).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(seeded == plain && seeded == Seq((1L, 10L), (2L, 25L)))
    // clone refuses while the update vector is pending
    intercept[IllegalArgumentException](T.clone(spark, dir2, freshTable()))
  }

  test("pruned scans apply update vectors; collisions refuse loudly") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commitWithStats(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      dir, Seq("k"))
    T.commitWithBloom(Seq((3L, 30L)).toDF("k", "x").coalesce(1), dir, "k")
    T.update(spark, dir, "k = 2", Seq("x" -> "x * 10"), Seq("k"))
    // scanPruned must not resurrect the pre-update row (one k=2, x=200)
    val pruned = T.scanPruned(spark, dir, "k", 1L, 3L).df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pruned == Seq((1L, 10L), (2L, 200L), (3L, 30L)), s"got $pruned")
    val point = T.scanPoint(spark, dir, "k", "2").df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(point == Seq((2L, 200L)), s"got $point")
    // a non-matching row sharing a matched key would be silently erased —
    // the update must refuse instead
    T.commit(Seq((7L, 70L), (7L, 71L)).toDF("k", "x").coalesce(1), dir)
    val ex = intercept[IllegalArgumentException](
      T.update(spark, dir, "x = 70", Seq("x" -> "0"), Seq("k")))
    assert(ex.getMessage.contains("share a matched key"))
    assert(T.read(spark, dir).filter("k = 7").count() == 2L, "refusal left a trace")
  }

  test("update racing a concurrent append never loses the append") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit((1L to 20L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val appender = pool.submit(new Runnable {
        override def run(): Unit = (101L to 105L).foreach(k =>
          T.commit(Seq((k, k)).toDF("k", "x").coalesce(1), dir))
      })
      val updater = pool.submit(new Runnable {
        override def run(): Unit =
          T.update(spark, dir, "k <= 5", Seq("x" -> "-x"), Seq("k"))
      })
      appender.get(); updater.get()
    } finally pool.shutdown()
    val rows = graft.io.TxnLog.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.length == 25, s"lost rows: ${rows.length}")
    (1L to 5L).foreach(k => assert(rows.contains((k, -k * 10L)), s"key $k not updated"))
    (101L to 105L).foreach(k => assert(rows.contains((k, k)), s"append $k lost"))
  }

  test("CHECK constraints refuse violating commits before anything lands") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.addConstraint(dir, "v_pos", "v > 0")
    T.addConstraint(dir, "v_small", "v < 1000")
    intercept[IllegalArgumentException](T.addConstraint(dir, "v_pos", "v > 1"))
    assert(T.commitChecked(Seq(1L, 2L).toDF("v"), dir) == 1L)
    val ex = intercept[graft.io.TxnLog.ConstraintViolation](
      T.commitChecked(Seq(3L, -4L, -5L).toDF("v"), dir))
    assert(ex.constraint == "v_pos" && ex.violations == 2L)
    // nothing landed: version unchanged, rowset unchanged
    assert(T.currentVersion(dir) == 1L)
    assert(T.read(spark, dir).count() == 2L)
    // NULL predicate result = violation (CHECK must prove true)
    val withNull = Seq(Some(5L), None).toDF("v")
    val ex2 = intercept[graft.io.TxnLog.ConstraintViolation](
      T.commitChecked(withNull, dir))
    assert(ex2.violations == 1L)
    // second constraint enforced too; conforming batch lands
    intercept[graft.io.TxnLog.ConstraintViolation](
      T.commitChecked(Seq(5000L).toDF("v"), dir))
    assert(T.commitChecked(Seq(999L).toDF("v"), dir) == 2L)
    assert(T.constraints(dir).map(_._1) == Vector("v_pos", "v_small"))
  }

  test("checkpoint equivalence under vacuum and shallow-clone refs") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq(1L, 2L).toDF("v"), dir)
    T.commit(Seq(3L).toDF("v"), dir)
    T.compact(spark, dir, numFiles = 1)   // v3: pre-compaction files now orphaned
    T.checkpoint(dir)
    T.vacuum(dir, retainVersions = 1)     // reclaims v1/v2 files
    assert(T.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L), "checkpointed read broke after vacuum")
    // clone of a checkpointed table reads identically (external refs in seed)
    val dst = freshTable()
    T.clone(spark, dir, dst)
    T.checkpoint(dst)
    assert(T.read(spark, dst).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("partitioned commits: evolution read, pruning order, clone, vacuum") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    // v1 pre-evolution (k in-file), v2-v3 partitioned (k in-path)
    T.commit(Seq((1L, 10L), (1L, 11L)).toDF("k", "v"), dir)
    T.commitPartitioned(Seq((2L, 20L), (3L, 30L)).toDF("k", "v"), dir, Seq("k"))
    T.commitPartitioned(Seq((4L, 40L)).toDF("k", "v"), dir, Seq("k"))
    // the full read reconciles in-file and in-path partition columns
    def rows(asOf: Option[Long] = None) = T.read(spark, dir, asOf)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows() == Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(rows(Some(1L)) == Seq((1L, 10L), (1L, 11L)), "time travel below evolution")
    // partition pruning: k=3 plans only its partition dir plus the
    // un-prunable pre-evolution file; rows are exact either way
    val scan = T.scanPruned(spark, dir, "k", 3L, 3L)
    assert(scan.totalFiles >= 4 && scan.plannedFiles < scan.totalFiles,
      s"expected pruning, planned ${scan.plannedFiles} of ${scan.totalFiles}")
    assert(scan.df.select("v").collect().map(_.getLong(0)).toSeq == Seq(30L))
    // point lookup prunes by path equality before blooms
    val pt = T.scanPoint(spark, dir, "k", "4")
    assert(pt.plannedFiles < pt.totalFiles)
    assert(pt.df.select("v").collect().map(_.getLong(0)).toSeq == Seq(40L))
    // shallow clone keeps dir-encoded values readable through @-refs
    val dst = freshTable()
    T.clone(spark, dir, dst)
    assert(T.read(spark, dst).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == rows())
    // compaction rewrites flat (column becomes in-file data); vacuum then
    // reclaims the nested partition files and empty col=val dirs
    T.compact(spark, dir, numFiles = 1)
    val victims = T.vacuum(dir, retainVersions = 1)
    assert(victims.exists(_.contains("k=")), s"nested files not reclaimed: $victims")
    assert(rows() == Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("optimizeZorder: both dimensions prune, content invariant, vectors fold in") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    // a 32x32 grid appended in row-major order: pre-optimize, a y-range
    // predicate touches EVERY file (each append spans all y)
    val grid = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y, x * 32 + y)
    grid.grouped(256).foreach(g => T.commit(g.toDF("x", "y", "id").coalesce(1), dir))
    // a pending delete vector must materialize into the rewrite
    T.deleteVector(spark, dir, "id = 0", Seq("id"))
    val v = T.optimizeZorder(spark, dir, "x", "y", numFiles = 8, tieCols = Seq("id"))
    assert(v == T.currentVersion(dir))
    // content invariance: same rows (minus the deleted one), vector gone
    val got = T.read(spark, dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L until 1024L), "optimize changed table content")
    // both curve dimensions skip files through the ordinary pruned path
    val sx = T.scanPruned(spark, dir, "x", 3L, 6L)
    val sy = T.scanPruned(spark, dir, "y", 3L, 6L)
    assert(sx.totalFiles == 8 && sx.plannedFiles < 8,
      s"x-pruning: ${sx.plannedFiles}/${sx.totalFiles}")
    assert(sy.totalFiles == 8 && sy.plannedFiles < 8,
      s"y-pruning: ${sy.plannedFiles}/${sy.totalFiles}")
    // pruning soundness on both axes
    assert(sx.df.count() == 4 * 32 && sy.df.count() == 4 * 32)
    // time travel still sees the pre-optimize (pre-vector) layout
    assert(T.read(spark, dir, Some(v - 2)).count() == 1024L)
  }

  test("mergeInto: delete/update/insert actions, file granularity, fallbacks") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    // two files: keys 1-5 and keys 11-15 — the source only touches the first
    T.commit((1L to 5L).map(k => (k, k * 10L, "o")).toDF("k", "x", "s").coalesce(1), dir)
    T.commit((11L to 15L).map(k => (k, k * 10L, "o")).toDF("k", "x", "s").coalesce(1), dir)
    val filesBefore = T.history(spark, dir).count()
    val src = Seq((1L, 999L, "n"), (2L, 5L, "n"), (21L, 210L, "n")).toDF("k", "x", "s")
    T.mergeInto(spark, dir, src, Seq("k"), T.MergeActions(
      deleteWhen = Some("src_x > x"),                    // kills k=1 (999 > 10)
      updateSet = Some(Seq("x" -> "x + src_x", "s" -> "'m'")), // k=2 → 25
      insert = true))                                    // k=21 inserts
    val got = T.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((2L, 25L, "m"), (3L, 30L, "o"), (4L, 40L, "o"), (5L, 50L, "o"),
      (11L, 110L, "o"), (12L, 120L, "o"), (13L, 130L, "o"), (14L, 140L, "o"),
      (15L, 150L, "o"), (21L, 210L, "n")), s"got $got")
    // file granularity: the untouched 11-15 file must not have moved —
    // the exchange's remove set is exactly the one touched file
    val manifests = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_txnlog"))
      .toArray.map(_.toString).filter(_.endsWith(".manifest")).sorted
    val xBody = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(manifests.last)), "UTF-8")
    assert(xBody.linesIterator.next().replaceFirst(" @\\d+$", "") == "X" &&
      xBody.linesIterator.count(_.startsWith("-")) == 1,
      s"expected one removed file, got:\n$xBody")
    assert(filesBefore == 2)
    // delete-only actions that empty every touched file: removes, no adds
    val dir2 = freshTable()
    T.commit(Seq((1L, 1L)).toDF("k", "x").coalesce(1), dir2)
    T.commit(Seq((2L, 2L)).toDF("k", "x").coalesce(1), dir2)
    T.mergeInto(spark, dir2, Seq((1L, 0L)).toDF("k", "x"), Seq("k"),
      T.MergeActions(deleteWhen = Some("true"), insert = false))
    assert(T.read(spark, dir2).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // no matches + insert off: a no-op statement, version unchanged
    val v2 = T.currentVersion(dir2)
    assert(T.mergeInto(spark, dir2, Seq((9L, 9L)).toDF("k", "x"), Seq("k"),
      T.MergeActions(deleteWhen = Some("true"), insert = false)) == v2)
    // pending delete vector: falls back to a validated replace, actions exact
    val dir3 = freshTable()
    T.commit((1L to 4L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir3)
    T.deleteVector(spark, dir3, "k = 4", Seq("k"))
    T.mergeInto(spark, dir3, Seq((1L, 1L), (7L, 70L)).toDF("k", "x"), Seq("k"),
      T.MergeActions(updateSet = Some(Seq("x" -> "x + src_x")), insert = true))
    assert(T.read(spark, dir3).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq == Seq((1L, 11L), (2L, 20L), (3L, 30L), (7L, 70L)))
  }

  test("checkpoint carries zone maps: pre-checkpoint stats sidecars are archivable") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    def put(lo: Long): Unit = T.commitWithStats(
      (lo until lo + 10L).map(k => (k, k)).toDF("k", "x").coalesce(1), dir, Seq("k"))
    // three pre-checkpoint commits, checkpoint, two more commits
    put(0L); put(100L); put(200L)
    val cv = T.checkpoint(dir)
    put(300L); put(400L)
    def sidecars() = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_txnlog"))
      .toArray.map(_.toString).filter(_.endsWith(".stats")).sorted
    val pre = sidecars().filter { p =>
      p.split("/").last.stripPrefix("v").stripSuffix(".stats").toLong <= cv
    }
    assert(pre.size == 3, s"expected 3 pre-checkpoint sidecars, got ${pre.toSeq}")
    val before = T.scanPruned(spark, dir, "k", 100L, 109L)
    assert(before.totalFiles == 5 && before.plannedFiles == 1)
    // ARCHIVE (delete) the pre-checkpoint sidecars: planning must not change
    pre.foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val after = T.scanPruned(spark, dir, "k", 100L, 109L)
    assert(after.plannedFiles == 1 && after.totalFiles == 5,
      s"checkpoint-carried stats lost: planned ${after.plannedFiles}")
    assert(after.df.collect().map(_.getLong(0)).sorted.toSeq == (100L to 109L))
    // a LATER checkpoint inherits the earlier one's Z lines (stats survive
    // a second generation even though the original sidecars are gone)
    put(500L)
    T.checkpoint(dir)
    sidecars().foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val third = T.scanPruned(spark, dir, "k", 100L, 109L)
    assert(third.plannedFiles == 1 && third.totalFiles == 6,
      s"second-generation checkpoint dropped inherited stats: ${third.plannedFiles}")
    // blooms get the identical two-level treatment: point-lookup filters
    // survive sidecar archival through the checkpoint's B lines
    val dirB = freshTable()
    T.commitWithBloom(Seq((1L, 10L)).toDF("k", "x").coalesce(1), dirB, "k")
    T.commitWithBloom(Seq((2L, 20L)).toDF("k", "x").coalesce(1), dirB, "k")
    T.checkpoint(dirB)
    T.commitWithBloom(Seq((3L, 30L)).toDF("k", "x").coalesce(1), dirB, "k")
    java.nio.file.Files.list(java.nio.file.Paths.get(dirB, "_txnlog"))
      .toArray.map(_.toString).filter(_.endsWith(".bloom")).sorted.dropRight(1)
      .foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val pt = T.scanPoint(spark, dirB, "k", "2")
    assert(pt.totalFiles == 3 && pt.plannedFiles == 1,
      s"bloom archival lost pruning: ${pt.plannedFiles}/${pt.totalFiles}")
    assert(pt.df.select("x").collect().map(_.getLong(0)).toSeq == Seq(20L))
    // the lifecycle owns the archival: vacuum reclaims sidecars at or
    // below the newest checkpoint automatically, and pruning persists
    val dirV = freshTable()
    T.commitWithStats((0L until 10L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dirV, Seq("k"))
    T.commitWithStats((100L until 110L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dirV, Seq("k"))
    T.checkpoint(dirV)
    val reclaimed = T.vacuum(dirV, retainVersions = 2)
    assert(reclaimed.count(_.endsWith(".stats")) == 2,
      s"vacuum should archive both superseded sidecars, got $reclaimed")
    val sv = T.scanPruned(spark, dirV, "k", 0L, 5L)
    assert(sv.totalFiles == 2 && sv.plannedFiles == 1 && sv.df.count() == 6)
    // control: WITHOUT a checkpoint, deleting sidecars loses pruning
    // (sound — all files kept — but no skip), proving the checkpoint is
    // what serves the stats above
    val dir2 = freshTable()
    T.commitWithStats((0L until 10L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir2, Seq("k"))
    T.commitWithStats((100L until 110L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      dir2, Seq("k"))
    java.nio.file.Files.list(java.nio.file.Paths.get(dir2, "_txnlog"))
      .toArray.map(_.toString).filter(_.endsWith(".stats"))
      .foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val ctl = T.scanPruned(spark, dir2, "k", 0L, 5L)
    assert(ctl.plannedFiles == 2 && ctl.df.count() == 6)
  }

  // ---------------------------------------------------------------------
  // WRITE-CONFLICT CLASSIFICATION: the commit-pair matrix, each pair
  // exercised deterministically (claimFence interleaves the winner
  // between the loser's snapshot and its CAS claim — thread races can't
  // pin who loses).
  // ---------------------------------------------------------------------

  /** Arms the fence for exactly one firing, self-disarming BEFORE the
    * injected commit runs (the injection itself is a keyed writer that
    * would re-enter the fence). */
  private def fenceOnce(inject: => Unit): Unit =
    graft.io.TxnLog.claimFence = () => {
      graft.io.TxnLog.claimFence = () => ()
      inject
    }

  test("conflict matrix: classifyConflict encodes the documented table") {
    val T = graft.io.TxnLog
    import T.Resolution._
    def c(a: String, i: String, ov: Boolean = false) = T.classifyConflict(a, i, ov)
    // appends never conflict in the attempt role
    for (i <- Seq("A", "R", "X", "R noop", "D k", "U k")) assert(c("A", i) == NoConflict)
    assert(c("T w1 7", "U k", ov = true) == NoConflict)
    // maintenance re-runs under everything, aborts no one
    for (i <- Seq("A", "R", "X", "U k", "D k")) assert(c("R noop", i, ov = true) == Rederive)
    assert(c("X noop", "R") == Rederive)
    // interleaved appends/maintenance never abort a keyed attempt
    for (a <- Seq("U k", "D k", "R", "X")) {
      assert(c(a, "A", ov = true) == Rederive)
      assert(c(a, "R noop", ov = true) == Rederive)
      assert(c(a, "X noop", ov = true) == Rederive)
    }
    // content-changing rewrites invalidate stale reads wholesale
    for (a <- Seq("U k", "D k", "R", "X"); i <- Seq("R", "X"))
      assert(c(a, i) == Conflict)
    // keyed vs keyed: actual key intersection decides
    assert(c("U k", "U k", ov = true) == Conflict)
    assert(c("U k", "D k", ov = false) == Rederive)
    assert(c("D k", "U k", ov = true) == Conflict)
    // unknown future marker classifies as a rewrite (fail safe)
    assert(c("U k", "Z weird") == Conflict)
  }

  test("update vs append (Abort): appends never conflict — re-derives, both land") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit((1L to 5L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    try {
      fenceOnce(T.commit(Seq((9L, 90L)).toDF("k", "x").coalesce(1), dir))
      T.update(spark, dir, "k <= 2", Seq("x" -> "-x"), Seq("k"),
        isolation = T.Isolation.Abort)
    } finally T.claimFence = () => ()
    val rows = T.read(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.contains((9L, 90L)), "interleaved append lost")
    assert(rows.contains((1L, -10L)) && rows.contains((2L, -20L)), "update lost")
  }

  test("update vs update, disjoint keys (Abort): re-derives, both apply") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit((1L to 10L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    try {
      fenceOnce(T.update(spark, dir, "k >= 9", Seq("x" -> "0L"), Seq("k")))
      T.update(spark, dir, "k <= 2", Seq("x" -> "-x"), Seq("k"),
        isolation = T.Isolation.Abort)
    } finally T.claimFence = () => ()
    val m = T.read(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(9L) == 0L && m(10L) == 0L, "winner update lost")
    assert(m(1L) == -10L && m(2L) == -20L, "loser update lost")
  }

  test("update vs update, overlapping keys (Abort): loser throws, winner intact") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit((1L to 5L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    val ex = intercept[T.ConcurrentWriteException] {
      try {
        fenceOnce(T.update(spark, dir, "k = 2", Seq("x" -> "999L"), Seq("k")))
        T.update(spark, dir, "k <= 3", Seq("x" -> "-x"), Seq("k"),
          isolation = T.Isolation.Abort)
      } finally T.claimFence = () => ()
    }
    assert(ex.getMessage.contains("conflicts with interleaved"))
    val m = T.read(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(2L) == 999L, "winner's write must survive")
    assert(m(1L) == 10L && m(3L) == 30L, "aborted loser must leave no trace")
  }

  test("update vs update, overlapping keys (default Rederive): serial re-execution") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, 100L)).toDF("k", "x").coalesce(1), dir)
    try {
      fenceOnce(T.update(spark, dir, "k = 1", Seq("x" -> "x + 7"), Seq("k")))
      // loser re-derives on the winner's output: (100 + 7) * 2
      T.update(spark, dir, "k = 1", Seq("x" -> "x * 2"), Seq("k"))
    } finally T.claimFence = () => ()
    assert(T.read(spark, dir).collect().map(_.getLong(1)).toSeq == Seq(214L))
  }

  test("deleteVector vs compact (Abort): maintenance aborts no one — re-derives exactly") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    (1L to 3L).foreach(i =>
      T.commit(((i * 10L) until (i * 10L + 5L)).map(k => (k, k)).toDF("k", "x").coalesce(1), dir))
    try {
      fenceOnce(T.compact(spark, dir, numFiles = 1))
      T.deleteVector(spark, dir, "k >= 30", Seq("k"), isolation = T.Isolation.Abort)
    } finally T.claimFence = () => ()
    assert(T.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == ((10L to 14L) ++ (20L to 24L)), "re-derived vector wrong after compaction")
  }

  test("deleteVector vs update (Rederive): stale-snapshot keys are re-derived, not replayed") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit((1L to 5L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    try {
      // winner moves k=2 OUT of the loser's predicate before the claim; a
      // blindly slot-bumped vector (pre-round-9 behavior) would still
      // carry k=2's key and erase the winner's row
      fenceOnce(T.update(spark, dir, "k = 2", Seq("x" -> "1L"), Seq("k")))
      T.deleteVector(spark, dir, "x >= 20", Seq("k"))
    } finally T.claimFence = () => ()
    val m = T.read(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 10L, 2L -> 1L), s"got $m")
  }

  test("merge vs update, overlapping keys (Abort): loser throws") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit((1L to 5L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    intercept[T.ConcurrentWriteException] {
      try {
        fenceOnce(T.update(spark, dir, "k = 3", Seq("x" -> "0L"), Seq("k")))
        T.merge(spark, dir, Seq((3L, -3L), (8L, -8L)).toDF("k", "x"), Seq("k"),
          isolation = T.Isolation.Abort)
      } finally T.claimFence = () => ()
    }
    val m = T.read(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(3L) == 0L && !m.contains(8L), "aborted merge must leave no trace")
  }

  /** Parquet data-file census under `dir` (everything outside _txnlog) —
    * the metadata-only claims below are exactly "this number never moves". */
  private def dataFileCensus(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_txnlog"))
      .map(_.getPath).toSet
  }

  test("renameColumn is metadata-only; scope renames old files, new files ride") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "a").coalesce(1), dir)
    val before = dataFileCensus(dir)
    assert(T.renameColumn(dir, "a", "b") == 2L)
    assert(dataFileCensus(dir) == before, "rename moved data bytes")
    // post-rename append carries the new name physically
    T.commit(Seq((3L, 30L)).toDF("k", "b").coalesce(1), dir)
    val now = T.read(spark, dir)
    assert(now.columns.toSet == Set("k", "b"))
    assert(now.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // time travel below the rename serves the OLD schema
    assert(T.read(spark, dir, Some(1L)).columns.toSet == Set("k", "a"))
    // chained rename across the append: b -> c applies to BOTH epochs
    T.renameColumn(dir, "b", "c")
    val c = T.read(spark, dir)
    assert(c.columns.toSet == Set("k", "c") &&
      c.collect().map(_.getLong(1)).sorted.toSeq == Seq(10L, 20L, 30L))
  }

  test("pending vectors commute with renames: key columns translate") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("k", "tag").coalesce(1), dir)
    // vector keyed on `tag` BEFORE the rename…
    T.deleteVector(spark, dir, "tag = 'x'", Seq("tag"))
    // …rename folds later; the vector must still suppress by the NEW name
    T.renameColumn(dir, "tag", "label")
    T.commit(Seq((4L, "x"), (5L, "z")).toDF("k", "label").coalesce(1), dir)
    val rows = T.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("label")).toMap
    assert(rows == Map(2L -> "y", 5L -> "z"), s"got $rows")
    // checkpoint round-trip: the offset-bearing V/M grammar rebuilds the fold
    T.checkpoint(dir)
    T.commit(Seq((6L, "x")).toDF("k", "label").coalesce(1), dir) // still suppressed
    val rows2 = T.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("label")).toMap
    assert(rows2 == Map(2L -> "y", 5L -> "z"), s"checkpoint-seeded read got $rows2")
    assert(T.foldCost(dir) == 1, "read should fold only the post-checkpoint commit")
  }

  test("dropColumn is logical; refused while a pending vector keys on it") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, "x", 5L), (2L, "y", 6L)).toDF("k", "tag", "extra").coalesce(1), dir)
    T.deleteVector(spark, dir, "tag = 'x'", Seq("tag"))
    intercept[IllegalArgumentException](T.dropColumn(dir, "tag"))
    // the vector's key survives a rename — the refusal follows the NEW name
    T.renameColumn(dir, "tag", "label")
    intercept[IllegalArgumentException](T.dropColumn(dir, "label"))
    val before = dataFileCensus(dir)
    T.dropColumn(dir, "extra") // not a vector key: fine, and metadata-only
    assert(dataFileCensus(dir) == before)
    val now = T.read(spark, dir)
    assert(now.columns.toSet == Set("k", "label"))
    assert(now.collect().map(_.getAs[Long]("k")).toSeq == Seq(2L))
    // dropped names are never reusable (no stable column IDs)
    intercept[IllegalArgumentException](T.renameColumn(dir, "extra", "extra2"))
    intercept[IllegalArgumentException](T.renameColumn(dir, "label", "extra"))
  }

  test("compact materializes the mapping; clone/changes refuse until then") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, 10L, 7L), (2L, 20L, 8L)).toDF("k", "a", "junk").coalesce(1), dir)
    T.renameColumn(dir, "a", "b")
    T.dropColumn(dir, "junk")
    // un-materialized mapping: clone and the change feed both refuse loudly
    intercept[IllegalArgumentException](
      T.clone(spark, dir, freshTable() + "/clone"))
    intercept[IllegalArgumentException](T.changes(spark, dir, 0L, T.currentVersion(dir)))
    val v = T.compact(spark, dir)
    // physical names are now the logical ones: raw-read the R commit's
    // files (vacuum reclaims the pre-compaction file so the census is
    // exactly the rewrite)
    T.vacuum(dir)
    val raw = spark.read.parquet(dataFileCensus(dir).toSeq: _*)
    assert(T.read(spark, dir).columns.toSet == Set("k", "b"))
    assert(raw.columns.toSet.intersect(Set("a", "b", "junk")) == Set("b"),
      s"compaction must write the mapped schema, got ${raw.columns.toSeq}")
    // post-compaction the mapping is gone: CDF works across the compact
    // (a pure rewrite diffs empty), but a range REACHING INTO the mapped
    // versions still refuses — shape shifts mid-range
    assert(T.changes(spark, dir, v - 1, v).count() == 0L)
    intercept[IllegalArgumentException](T.changes(spark, dir, 0L, v))
    val cdir = freshTable() + "/clone2"
    T.clone(spark, dir, cdir)
    assert(T.read(spark, cdir).collect().map(_.getLong(1)).sorted.toSeq == Seq(10L, 20L))
  }

  test("restore across a rename materializes it; below it is metadata-only") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, 10L)).toDF("k", "a").coalesce(1), dir) // v1
    T.renameColumn(dir, "a", "b")                            // v2
    T.commit(Seq((2L, 20L)).toDF("k", "b").coalesce(1), dir) // v3
    // restore to v2: target snapshot carries the rename → materializing path
    val v = T.restore(spark, dir, 2L)
    val r = T.read(spark, dir)
    assert(r.columns.toSet == Set("k", "b"))
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // restore to v1 (below the rename): metadata-only R re-listing
    val before = dataFileCensus(dir)
    T.restore(spark, dir, 1L)
    assert(dataFileCensus(dir) == before, "below-the-rename restore moved bytes")
    assert(T.read(spark, dir).columns.toSet == Set("k", "a"))
    assert(v == 4L && T.currentVersion(dir) == 5L)
  }

  test("merge on a column-mapped table falls back to a validated replace") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "a").coalesce(1), dir)
    T.renameColumn(dir, "a", "x")
    T.merge(spark, dir, Seq((2L, -2L), (9L, 90L)).toDF("k", "x"), Seq("k"))
    val m = T.read(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 10L, 2L -> -2L, 9L -> 90L), s"got $m")
    // the replace materialized the mapping: a clone now succeeds
    T.clone(spark, dir, freshTable() + "/clone3")
  }

  test("in-commit timestamps: monotone clamp, boundary resolution, loud refusals") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    val prevClock = T.clock
    val t = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      T.clock = () => t.get()
      t.set(100L); T.commit(Seq(1L).toDF("v"), dir)
      // a REGRESSING wall clock (skewed second writer) never regresses the
      // stamp: clamp to prev + 1
      t.set(50L); T.commit(Seq(2L).toDF("v"), dir)
      t.set(300L); T.commit(Seq(3L).toDF("v"), dir)
    } finally T.clock = prevClock
    assert(T.commitTimestamps(dir) == Vector((1L, 100L), (2L, 101L), (3L, 300L)))
    assert(T.versionAtTimestamp(dir, 100L) == 1L) // boundary is inclusive
    assert(T.versionAtTimestamp(dir, 299L) == 2L)
    assert(T.versionAtTimestamp(dir, Long.MaxValue) == 3L)
    intercept[IllegalArgumentException](T.versionAtTimestamp(dir, 99L))
    assert(T.readAtTimestamp(spark, dir, 101L).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
  }

  test("unstamped (legacy) manifests resolve by mtime; stamped commits stay exact") {
    val dir = freshTable()
    import spark.implicits._
    val T = graft.io.TxnLog
    T.commit(Seq(1L).toDF("v"), dir)
    // forge a legacy manifest: strip the stamp suffix off v1's marker line
    val m1 = java.nio.file.Paths.get(dir, "_txnlog", "v00001.manifest")
    val lines = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8").split("\n")
    val stripped = (lines.head.takeWhile(_ != '@').trim +: lines.tail).mkString("\n")
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir, "_txnlog"), ".forge-", ".tmp")
    java.nio.file.Files.write(tmp, stripped.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, m1,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // reads still work (stamp parsing must not choke on legacy markers)
    assert(T.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // resolution falls back to mtime for v1 — a far-future probe finds it
    assert(T.versionAtTimestamp(dir, Long.MaxValue) == 1L)
    // and a stamped commit on top continues the monotone sequence
    T.commit(Seq(2L).toDF("v"), dir)
    val ts = T.commitTimestamps(dir)
    assert(ts.map(_._1) == Vector(1L, 2L) && ts(1)._2 > ts(0)._2)
  }

  test("snapshotAtTimestamp refuses a probe older than ANY member table") {
    import spark.implicits._
    val T = graft.io.TxnLog
    val (a, b) = (freshTable(), freshTable())
    val prevClock = T.clock
    val t = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      T.clock = () => t.get()
      t.set(100L); T.commit(Seq(1L).toDF("v"), a)
      t.set(300L); T.commit(Seq(2L).toDF("v"), b)
    } finally T.clock = prevClock
    // between the tables' first commits: a partial snapshot would silently
    // drop b — the API must refuse instead
    intercept[IllegalArgumentException](T.snapshotAtTimestamp(Seq(a, b), 200L))
    assert(T.snapshotAtTimestamp(Seq(a, b), 300L) == Map(a -> 1L, b -> 1L))
  }

  test("ResultCache: plan+version keyed hits, structural invalidation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val T = graft.io.TxnLog
    val C = graft.io.ResultCache
    val tmp = java.nio.file.Paths.get(graft.io.FsUtil.scratchDir("graft_rcache"))
    val dir = tmp.resolve("tbl").toString
    val cache = tmp.resolve("cache").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cache))
    T.commit(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "g"), dir)
    def q() = T.read(spark, dir).groupBy(col("g")).agg(count(lit(1)).as("n"))
    val c1 = C.cached(spark, cache, q(), Seq(dir -> T.currentVersion(dir)))
    assert(!c1.hit)
    val c2 = C.cached(spark, cache, q(), Seq(dir -> T.currentVersion(dir)))
    assert(c2.hit && c2.key == c1.key)
    assert(c2.df.collect().map(_.toString).sorted.toSeq ==
           c1.df.collect().map(_.toString).sorted.toSeq)
    // a different plan keys differently even at the same version
    val other = C.cached(spark, cache,
      q().filter(col("n") > 1), Seq(dir -> T.currentVersion(dir)))
    assert(!other.hit && other.key != c1.key)
    // a commit changes the declared version -> structural miss, fresh rows
    T.commit(Seq((4L, "a")).toDF("k", "g"), dir)
    val c3 = C.cached(spark, cache, q(), Seq(dir -> T.currentVersion(dir)))
    assert(!c3.hit && c3.key != c1.key)
    assert(c3.df.filter(col("g") === "a").head().getLong(1) == 3L)
    // and the old entry still serves readers of the old version: the v1
    // read plan (same snapshot files) re-keys to c1's entry and hits
    def qv1() = T.read(spark, dir, Some(1L)).groupBy(col("g")).agg(count(lit(1)).as("n"))
    val c4 = C.cached(spark, cache, qv1(), Seq(dir -> 1L))
    assert(c4.hit && c4.key == c1.key)
  }

  test("merge schema evolution: widen on demand, refuse silently-dropped columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val T = graft.io.TxnLog
    val dir = freshTable()
    T.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "g"), dir)
    // a WIDER source without the flag must fail loudly (unionByName refuses)
    val wide = Seq((2L, "B", 9.5), (3L, "c", 1.5)).toDF("k", "g", "x")
    intercept[org.apache.spark.sql.AnalysisException](
      T.merge(spark, dir, wide, Seq("k")))
    // with evolveSchema the table widens: merged keys carry x, untouched
    // rows read NULL through the mergeSchema read
    T.merge(spark, dir, wide, Seq("k"), evolveSchema = true)
    val rows = T.read(spark, dir, mergeSchema = true)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(rows == Set((1L, "a", null), (2L, "B", 9.5), (3L, "c", 1.5)))
    // a NARROWER source (missing g) with the flag inserts NULL-filled rows
    val narrow = Seq((4L, 2.5)).toDF("k", "x")
    T.merge(spark, dir, narrow, Seq("k"), evolveSchema = true)
    val r4 = T.read(spark, dir, mergeSchema = true).filter(col("k") === 4L).head()
    assert(r4.isNullAt(r4.fieldIndex("g")) && r4.getDouble(r4.fieldIndex("x")) == 2.5)
  }

  test("DSv2 sink: schema refusal at plan time; file-commit idempotence") {
    import org.apache.spark.sql.types._
    // nested/array columns refuse loudly before any task runs
    intercept[IllegalArgumentException](graft.sources.TxnSinkWriter.toParquetType(
      StructType(Seq(StructField("a", ArrayType(LongType))))))
    // file-granular txn commit: a replayed (writer, batch) returns the
    // committed version and registers nothing; an empty epoch still dedupes
    val T = graft.io.TxnLog
    val dir = freshTable()
    import spark.implicits._
    T.commit(Seq(1L).toDF("v"), dir) // v1, so the table exists
    val rel = "txnsink-e00000/f.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "txnsink-e00000"))
    Seq(7L).toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/txnsink-e00000/stage")
    val part = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "txnsink-e00000/stage")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.copy(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(dir, rel))
    val v = T.commitFilesIdempotent(dir, "w1", 0L, Seq(rel))
    assert(T.commitFilesIdempotent(dir, "w1", 0L, Seq("other/ignored.parquet")) == v)
    assert(T.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 7L))
    // empty epoch: a marker-only version that still dedupes its replay
    val v2 = T.commitFilesIdempotent(dir, "w1", 1L, Nil)
    assert(T.commitFilesIdempotent(dir, "w1", 1L, Nil) == v2)
    assert(T.read(spark, dir).count() == 2L)
  }

  test("DSv2 batch write: save() appends atomically through the log") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = freshTable()
    val T = graft.io.TxnLog
    Seq((1L, "a"), (2L, "b")).toDF("k", "g").repartition(2)
      .write.format("graft.sources.TxnSink").option("path", dir).mode("append").save()
    assert(T.currentVersion(dir) == 1L)
    assert(T.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // a second save appends a second version; both visible
    Seq((3L, "c")).toDF("k", "g")
      .write.format("graft.sources.TxnSink").option("path", dir).mode("append").save()
    assert(T.currentVersion(dir) == 2L)
    assert(T.read(spark, dir).count() == 3L)
    // time travel still works over sink-written versions
    assert(T.read(spark, dir, Some(1L)).count() == 2L)
  }

  test("DSv2 sink: array<string> round-trips (empty, null array, null element)") {
    // the q367 shard payload path: packed token sequences through the
    // executor-side parquet-mr writer as standard 3-level LIST groups
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = freshTable()
    val T = graft.io.TxnLog
    Seq((1L, Seq("a", "b c", "d")), (2L, Seq.empty[String]))
      .toDF("k", "toks")
      .unionByName(Seq(3L).toDF("k")
        .withColumn("toks", lit(null).cast("array<string>")))
      .unionByName(Seq(4L).toDF("k")
        .withColumn("toks", array(lit("x"), lit(null).cast("string"))))
      .coalesce(1)
      .write.format("graft.sources.TxnSink").option("path", dir).mode("append").save()
    val back = T.read(spark, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1)))
      .sortBy(_._1).toSeq
    assert(back == Seq((1L, Seq("a", "b c", "d")), (2L, Seq.empty[String]),
                       (3L, null), (4L, Seq("x", null))))
  }

  test("vacuum reclaims DSv2 sink orphans; committed sink files survive") {
    import spark.implicits._
    val T = graft.io.TxnLog
    val dir = freshTable()
    Seq((1L, "a"), (2L, "b")).toDF("k", "g")
      .write.format("graft.sources.TxnSink").option("path", dir).mode("append").save()
    // a replayed-epoch / failed-task orphan: staged under txnsink-, never
    // registered in any manifest
    val orphanDir = java.nio.file.Paths.get(dir, "txnsink-e00099")
    java.nio.file.Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val victims = T.vacuum(dir)
    assert(victims.contains("txnsink-e00099/part-orphan.parquet"), victims)
    assert(!java.nio.file.Files.exists(orphan))
    // the registered sink files are untouched and the table still reads
    assert(T.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("incremental clustering: content identity, DV passthrough, re-spec reset") {
    val T = graft.io.TxnLog
    val dir = freshTable()
    import spark.implicits._
    def rows(n: Int, off: Int) =
      (0 until n).map(i => ((i + off).toLong, (i * 37 % 101).toLong, s"r${i + off}"))
        .toDF("x", "y", "s")
    T.commit(rows(300, 0).repartition(1), dir)
    T.clusterBy(dir, "x", "y")
    val v1 = T.optimizeClustered(spark, dir, 4) // full, frame-setting
    val want1 = T.read(spark, dir).collect().map(_.toString).sorted.toSeq
    T.commit(rows(100, 1000).repartition(1), dir) // x beyond the frame: clamps
    // a pending GLOBAL delete vector rides through the exchange
    T.deleteVector(spark, dir, "x % 10 = 3", Seq("x"))
    val v2 = T.optimizeClustered(spark, dir, 2)
    assert(v2 > v1)
    val got = T.read(spark, dir).collect().map(_.toString).sorted.toSeq
    val wantAll = (want1 ++ rows(100, 1000).collect().map(_.toString))
      .filterNot(_.split(",")(0).drop(1).toLong % 10 == 3).sorted
    assert(got == wantAll, "incremental pass changed content")
    // re-declaring a DIFFERENT spec resets the clustered set: the next
    // optimize is a full re-cluster (every file rewritten)
    val before = T.fileScanPlan(dir)._2.toSet
    T.clusterBy(dir, "y", "x")
    T.optimizeClustered(spark, dir, 3)
    val after = T.fileScanPlan(dir)._2.toSet
    assert(after.intersect(before).isEmpty, "re-spec must fully re-cluster")
    assert(T.read(spark, dir).collect().map(_.toString).sorted.toSeq == wantAll)
  }

  test("incremental clustering keeps hive-partitioned candidates' dir-encoded column") {
    val T = graft.io.TxnLog
    val dir = freshTable()
    import spark.implicits._
    def rows(n: Int, off: Int) =
      (0 until n).map(i => ((i + off).toLong, (i * 37 % 101).toLong, (i + off) % 3))
        .toDF("x", "y", "p")
    T.commit(rows(200, 0).repartition(1), dir)
    T.clusterBy(dir, "x", "y")
    T.optimizeClustered(spark, dir, 4) // full pass sets the frame
    // the appends since arrive HIVE-PARTITIONED: their `p` lives in the
    // directory path, not in the files — a bare leaf read would drop it
    // (or throw if `p` were a cluster column)
    T.commitPartitioned(rows(90, 1000), dir, Seq("p"))
    val want = (rows(200, 0).collect() ++ rows(90, 1000).collect())
      .map(_.toString).sorted.toSeq
    T.optimizeClustered(spark, dir, 2)
    val got = T.read(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(got == want, "incremental clustering lost the partition column")
    // and the partition values specifically survived the rewrite
    assert(T.read(spark, dir).filter("x >= 1000 AND p = 2").count() == 30L)
  }

  test("reading an empty table whose last non-empty version was vacuumed") {
    val T = graft.io.TxnLog
    val dir = freshTable()
    import spark.implicits._
    T.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir) // v1
    T.deleteWhere(spark, dir, org.apache.spark.sql.functions.lit(true)) // v2: empty
    T.vacuum(dir, retainVersions = 1) // v1's files are GONE from disk
    // before the fix this crashed scanning v1's deleted files; the
    // contract is zero rows, schemaless (no DDL schema was ever stored)
    val df = T.read(spark, dir)
    assert(df.count() == 0L)
    // with a stored DDL schema (the catalog's CREATE TABLE artifact), the
    // declared schema is served instead
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_txnlog", "_schema.json"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))).json.getBytes("UTF-8"))
    val df2 = T.read(spark, dir)
    assert(df2.count() == 0L)
    assert(df2.schema.fieldNames.toSeq == Seq("k", "s"))
    // the table refills normally afterward
    T.commit(Seq((9L, "z")).toDF("k", "s"), dir)
    assert(T.read(spark, dir).count() == 1L)
  }

  // ---------------------------------------------------------------------
  // ONE COMMIT PROTOCOL: every snapshot-derived writer runs the same
  // exact-slot loop, so every one reaches the fence, survives a lost CAS
  // and leaves no staged file behind.
  // ---------------------------------------------------------------------

  /** Every data file some manifest of `dir` lists (`+`, `-` and `V `
    * body prefixes stripped), as dataFileCensus paths. */
  private def referencedFiles(dir: String): Set[String] = {
    val ld = java.nio.file.Paths.get(dir, "_txnlog")
    val s = java.nio.file.Files.list(ld)
    val ms = try s.toArray.map(_.toString).filter(_.endsWith(".manifest")) finally s.close()
    ms.toSet.flatMap { (m: String) =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(m)), "UTF-8")
        .split("\n").drop(1).filter(_.nonEmpty)
        .map(l => java.nio.file.Paths.get(dir, l.stripPrefix("V ").stripPrefix("+")
          .stripPrefix("-")).toString)
    }
  }

  /** k 1-10 and k 11-20 (x = 10k) in two flat files. */
  private def twoFileTable(): String = {
    import spark.implicits._
    val dir = freshTable()
    graft.io.TxnLog.commit((1L to 10L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    graft.io.TxnLog.commit((11L to 20L).map(k => (k, k * 10L)).toDF("k", "x").coalesce(1), dir)
    dir
  }

  private def keyed(dir: String): Map[Long, Long] =
    graft.io.TxnLog.read(spark, dir).select("k", "x").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  {
    val T = graft.io.TxnLog
    val all = (1L to 20L).map(k => k -> k * 10L).toMap + (100L -> 1000L)
    def src(): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      Seq((3L, -3L), (99L, 990L)).toDF("k", "x")
    }
    // (writer, setup beyond the two-file table, the write, the marker it
    // committed at the parent, its effect once the injected append landed)
    val writers: Seq[(String, String => Unit, String => Long, String, String => Unit)] = Seq(
      ("compact", _ => (), T.compact(spark, _, numFiles = 1), "R noop", { dir =>
        assert(keyed(dir) == all)
        assert(T.fileScanPlan(dir)._2.size == 1)
      }),
      ("optimizeZorder", _ => (), T.optimizeZorder(spark, _, "k", "x", 2, Seq("k")), "R noop",
        { dir =>
          assert(keyed(dir) == all)
          assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_txnlog",
            f"v${T.currentVersion(dir)}%05d.stats")))
        }),
      ("optimizeClustered, first pass", T.clusterBy(_, "k", "x"),
        T.optimizeClustered(spark, _, 2), "R noop", { dir =>
          assert(keyed(dir) == all)
          assert(T.clusteredFiles(dir) == T.fileScanPlan(dir)._2.map(
            _.stripPrefix(dir + "/")).toSet)
        }),
      ("optimizeClustered, incremental pass", { dir =>
        T.clusterBy(dir, "k", "x")
        T.optimizeClustered(spark, dir, 2)
        T.compact(spark, dir) // its file is unclustered: the pass has a candidate
      }, T.optimizeClustered(spark, _, 1), "X noop", { dir =>
        assert(keyed(dir) == all)
        assert(T.fileScanPlan(dir)._2.map(_.stripPrefix(dir + "/")).toSet
          .subsetOf(T.clusteredFiles(dir)), "the injected append was not clustered")
      }),
      ("compactSmall", _ => (), T.compactSmall(spark, _, 1L << 20), "X noop", { dir =>
        assert(keyed(dir) == all)
        assert(T.fileScanPlan(dir)._2.size == 1, "the injected small file was not packed")
      }),
      ("deleteWhere", _ => (),
        T.deleteWhere(spark, _, org.apache.spark.sql.functions.col("k") <= 3L), "X",
        dir => assert(keyed(dir) == all -- Seq(1L, 2L, 3L))),
      ("updateWhere", _ => (), T.updateWhere(spark, _,
        Seq("x" -> org.apache.spark.sql.functions.lit(-1L)),
        org.apache.spark.sql.functions.col("k") === 2L), "X",
        dir => assert(keyed(dir) == all + (2L -> -1L))),
      ("deleteVector", _ => (), T.deleteVector(spark, _, "k = 2", Seq("k")), "D k",
        dir => assert(keyed(dir) == all - 2L)),
      ("update", _ => (), T.update(spark, _, "k = 2", Seq("x" -> "-1L"), Seq("k")), "U k",
        dir => assert(keyed(dir) == all + (2L -> -1L))),
      ("merge", _ => (), T.merge(spark, _, src(), Seq("k")), "X",
        dir => assert(keyed(dir) == all + (3L -> -3L) + (99L -> 990L))),
      ("mergeInto", _ => (), T.mergeInto(spark, _, src(), Seq("k"),
        T.MergeActions(updateSet = Some(Seq("x" -> "src_x")))), "X",
        dir => assert(keyed(dir) == all + (3L -> -3L) + (99L -> 990L))))

    writers.foreach { case (name, setup, write, marker, effect) =>
      test(s"lost CAS: $name re-derives over a blind append and leaves no staged file") {
        import spark.implicits._
        val dir = twoFileTable()
        setup(dir)
        val base = T.currentVersion(dir)
        var fired = false
        val v = try {
          fenceOnce {
            fired = true
            T.commit(Seq((100L, 1000L)).toDF("k", "x").coalesce(1), dir)
          }
          write(dir)
        } finally T.claimFence = () => ()
        assert(fired, s"$name never reached the claim fence")
        assert(v == base + 2 && T.currentVersion(dir) == base + 2,
          s"$name won v$v over base v$base")
        assert(manifestBody(dir, base + 1).head == "A")
        assert(manifestBody(dir, v).head == marker)
        effect(dir)
        assert(dataFileCensus(dir) == referencedFiles(dir),
          s"$name left unreferenced data files: " +
            (dataFileCensus(dir) -- referencedFiles(dir)).mkString(", "))
      }
    }

    // With a pending delete vector each of these takes its replace
    // fallback; the injected update rewrites key 3, which every write
    // below also targets, so Abort must throw and leave only the winner.
    val fallbacks: Seq[(String, String => Long)] = Seq(
      ("merge", T.merge(spark, _, src(), Seq("k"), isolation = T.Isolation.Abort)),
      ("mergeInto", T.mergeInto(spark, _, src(), Seq("k"),
        T.MergeActions(updateSet = Some(Seq("x" -> "src_x"))), isolation = T.Isolation.Abort)),
      ("deleteWhere", T.deleteWhere(spark, _, org.apache.spark.sql.functions.col("k") === 3L,
        isolation = T.Isolation.Abort)),
      ("updateWhere", T.updateWhere(spark, _,
        Seq("x" -> org.apache.spark.sql.functions.lit(-1L)),
        org.apache.spark.sql.functions.col("k") === 3L, isolation = T.Isolation.Abort)))

    fallbacks.foreach { case (name, write) =>
      test(s"$name over a pending delete vector keeps Isolation.Abort on the replace fallback") {
        val dir = twoFileTable()
        T.deleteVector(spark, dir, "k = 5", Seq("k"))
        intercept[T.ConcurrentWriteException] {
          try {
            fenceOnce(T.update(spark, dir, "k = 3", Seq("x" -> "0L"), Seq("k")))
            write(dir)
          } finally T.claimFence = () => ()
        }
        val m = keyed(dir)
        assert(m(3L) == 0L, "the winner's update must survive")
        assert(!m.contains(5L) && !m.contains(99L) && m(2L) == 20L,
          "the aborted write must leave no trace")
        assert(dataFileCensus(dir) == referencedFiles(dir), "the aborted stage was kept")
      }
    }
  }
}
