package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnLog

/** Maintenance SQL statements (q299's parser): routing, delegation, and
  * the statement semantics. */
class MaintenanceSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("maintenance-sql-spec")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def fresh(tag: String): (String, String) = {
    val wh = graft.io.FsUtil.scratchDir(s"graft_maint_$tag")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql(s"CREATE TABLE gm.db.$tag (k BIGINT, x BIGINT, y BIGINT)")
    (s"gm.db.$tag", s"$wh/db/$tag")
  }

  test("everything that is not OPTIMIZE/VACUUM delegates untouched") {
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // a query merely MENTIONING the keywords is not intercepted
    assert(spark.sql("SELECT 'OPTIMIZE gm.db.x' AS s").head().getString(0)
      .startsWith("OPTIMIZE"))
  }

  test("OPTIMIZE compacts (content identity) and returns the version won") {
    val (t, dir) = fresh("opt")
    spark.sql(s"INSERT INTO $t SELECT id, id * 2, id * 3 FROM range(0, 40)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 2, id * 3 FROM range(40, 80)")
    val before = spark.sql(s"SELECT SUM(x + y) AS s FROM $t").head().getLong(0)
    val v = spark.sql(s"OPTIMIZE $t").head().getLong(0)
    assert(v == TxnLog.currentVersion(dir))
    assert(spark.sql(s"SELECT SUM(x + y) AS s FROM $t").head().getLong(0) == before)
    val actions = TxnLog.history(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    assert(actions == "AAR", s"got '$actions'")
  }

  test("OPTIMIZE ZORDER BY powers the stats sidecar (pruned scans)") {
    val (t, dir) = fresh("zord")
    spark.sql(s"INSERT INTO $t SELECT id, id % 100, id % 97 FROM range(0, 4000)")
    spark.sql(s"OPTIMIZE $t ZORDER BY (x, y)").collect()
    val pr = TxnLog.scanPruned(spark, dir, "x", 1L, 10L)
    assert(pr.plannedFiles < pr.totalFiles,
      s"zorder sidecar not live: ${pr.plannedFiles}/${pr.totalFiles}")
  }

  test("OPTIMIZE on a clustered table routes to the incremental path") {
    val (t, dir) = fresh("clus")
    spark.sql(s"INSERT INTO $t SELECT id, id % 50, id % 47 FROM range(0, 1000)")
    TxnLog.clusterBy(dir, "x", "y", tieCols = Seq("k"))
    spark.sql(s"OPTIMIZE $t").collect() // full clustered rewrite (first pass)
    val gen1 = TxnLog.clusteredFiles(dir)
    spark.sql(s"INSERT INTO $t SELECT id, id % 50, id % 47 FROM range(1000, 1500)")
    spark.sql(s"OPTIMIZE $t").collect() // incremental: gen1 files untouched
    val visible = TxnLog.fileScanPlan(dir)._2.map(_.split('/').takeRight(2).mkString("/")).toSet
    assert(gen1.nonEmpty && gen1.forall(visible.contains),
      "incremental OPTIMIZE moved already-clustered files")
  }

  test("VACUUM reclaims below the retention watermark and reports the count") {
    val (t, dir) = fresh("vac")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 1)")
    spark.sql(s"INSERT INTO $t VALUES (2, 2, 2)")
    spark.sql(s"OPTIMIZE $t").collect() // v3 rewrite: v1/v2 files now stale
    val n = spark.sql(s"VACUUM $t RETAIN 1 VERSIONS").head().getLong(0)
    assert(n >= 2, s"expected >=2 reclaimed files, got $n")
    assert(spark.sql(s"SELECT COUNT(*) AS c FROM $t").head().getLong(0) == 2L)
  }

  test("DESCRIBE HISTORY returns the commit ledger, newest first") {
    val (t, _) = fresh("hist")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 1)")
    spark.sql(s"INSERT INTO $t VALUES (2, 2, 2)")
    spark.sql(s"DELETE FROM $t WHERE k = 1")
    val rows = spark.sql(s"DESCRIBE HISTORY $t").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    assert(rows.map(_.getString(1)).toSeq == Seq("X", "A", "A"))
    // DESCRIBE without HISTORY still delegates to Spark's own statement
    assert(spark.sql(s"DESCRIBE TABLE $t").collect().nonEmpty)
  }

  test("DESCRIBE DETAIL is the metadata-only current-state card") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_dd")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("CREATE TABLE gm.db.dd (k BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gm.db.dd SELECT id, CASE WHEN id % 2 = 0 THEN 'a' " +
      "ELSE 'b' END FROM range(0, 20)")
    val r = spark.sql("DESCRIBE DETAIL gm.db.dd").head()
    assert(r.getString(0) == "graft")
    assert(r.getString(1) == s"$wh/db/dd")
    assert(r.getLong(2) == 1L, "version")
    assert(r.getLong(3) == 1L, "min_version")
    assert(r.getLong(4) >= 2L, "at least one file per partition value")
    assert(r.getLong(5) > 0L, "size_bytes")
    assert(r.getString(6) == "p")
    assert(r.getString(7) == "", "no clustering declared")
    // short form parses too
    assert(spark.sql("DESC DETAIL gm.db.dd").head().getLong(2) == 1L)
  }

  test("SHOW PARTITIONS lists live partitions from manifest paths only") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_sp")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("CREATE TABLE gm.db.sp (k BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gm.db.sp SELECT id, CAST(id % 3 AS STRING) FROM range(0, 30)")
    val parts = spark.sql("SHOW PARTITIONS gm.db.sp").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(parts.map(_._1).toSeq == Seq("p=0", "p=1", "p=2"))
    assert(parts.forall(_._2 >= 1L))
    // a partition REMOVED by overwrite disappears from the listing —
    // the listing reflects the CURRENT snapshot, not directory contents
    spark.sql("INSERT OVERWRITE gm.db.sp SELECT id, 'only' FROM range(0, 5)")
    assert(spark.sql("SHOW PARTITIONS gm.db.sp").collect()
      .map(_.getString(0)).toSeq == Seq("p=only"))
    // unpartitioned tables refuse
    spark.sql("CREATE TABLE gm.db.flat (k BIGINT)")
    val e = intercept[Exception](spark.sql("SHOW PARTITIONS gm.db.flat").collect())
    assert(e.getMessage.contains("not a partitioned table"))
  }

  test("bare VACUUM refuses: retention must be explicit") {
    val (t, dir) = fresh("barevac")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 1)")
    spark.sql(s"INSERT INTO $t VALUES (2, 2, 2)")
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    val e = intercept[Exception](spark.sql(s"VACUUM $t").collect())
    assert(msgs(e).exists(_.contains("RETAIN")))
    // nothing was reclaimed: history is fully intact
    assert(graft.io.TxnLog.minVersion(dir) == 1L)
  }

  test("repeated clusterBy with the SAME spec keeps incremental state") {
    val (t, dir) = fresh("reclus")
    spark.sql(s"INSERT INTO $t SELECT id, id % 50, id % 47 FROM range(0, 1000)")
    graft.io.TxnLog.clusterBy(dir, "x", "y", tieCols = Seq("k"))
    spark.sql(s"OPTIMIZE $t").collect() // first pass persists bounds + set
    val gen1 = graft.io.TxnLog.clusteredFiles(dir)
    assert(gen1.nonEmpty)
    // idempotent re-declaration (setup code re-running) must NOT reset
    graft.io.TxnLog.clusterBy(dir, "x", "y", tieCols = Seq("k"))
    assert(graft.io.TxnLog.clusteredFiles(dir) == gen1)
    assert(graft.io.TxnLog.clusteringOf(dir).exists(_._4.nonEmpty),
      "bounds line lost on same-spec re-declaration")
    spark.sql(s"INSERT INTO $t SELECT id, id % 50, id % 47 FROM range(1000, 1200)")
    spark.sql(s"OPTIMIZE $t").collect() // must stay incremental
    val visible = graft.io.TxnLog.fileScanPlan(dir)._2
      .map(_.split('/').takeRight(2).mkString("/")).toSet
    assert(gen1.forall(visible.contains),
      "same-spec clusterBy degraded OPTIMIZE to a full rewrite")
  }

  test("RESTORE TO VERSION AS OF rolls back as a new metadata-only commit") {
    val (t, dir) = fresh("rest")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(0, 50)")        // v1 A
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(50, 80)")       // v2 A
    spark.sql(s"INSERT OVERWRITE $t SELECT id, id, id FROM range(0, 5)")    // v3 R
    val dataDirs = new java.io.File(dir).listFiles().count(_.getName != "_txnlog")
    val r = spark.sql(s"RESTORE TABLE $t TO VERSION AS OF 2").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 80L)
    // metadata-only: the R manifest re-lists v2's files, no data dir added
    assert(new java.io.File(dir).listFiles().count(_.getName != "_txnlog") == dataDirs)
    // history stays linear — the damage is still readable at v3
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t VERSION AS OF 3")
      .head().getLong(0) == 5L)
    val actions = TxnLog.history(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    assert(actions == "AARR", s"got '$actions'")
    // refusals: above head, below the floor
    val e = intercept[Exception](
      spark.sql(s"RESTORE TABLE $t TO VERSION AS OF 99").collect())
    assert(e.getMessage.contains("does not exist"))
    val e2 = intercept[Exception](
      spark.sql(s"RESTORE TABLE $t TO VERSION AS OF 0").collect())
    assert(e2.getMessage != null)
  }

  test("RESTORE TO TIMESTAMP AS OF resolves through the in-commit clock") {
    val (t, dir) = fresh("restts")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(0, 30)")        // v1
    spark.sql(s"INSERT OVERWRITE $t SELECT id, id, id FROM range(0, 3)")    // v2
    // v1's effective in-commit stamp, rendered as a UTC literal
    val ts1 = TxnLog.commitTimestamps(dir).head._2
    val lit = java.time.Instant.ofEpochSecond(ts1 / 1000000L,
        (ts1 % 1000000L) * 1000L)
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val r = spark.sql(s"RESTORE TABLE $t TO TIMESTAMP AS OF '$lit'").head()
    assert(r.getLong(0) == 1L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 30L)
  }

  test("SHALLOW CLONE forks a version pin zero-copy; tables then diverge") {
    val (t, dir) = fresh("clsrc")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(0, 40)")        // v1
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(40, 60)")       // v2
    spark.sql(s"INSERT OVERWRITE $t SELECT id, id, id FROM range(0, 2)")    // v3
    val r = spark.sql(s"CREATE TABLE gm.db.cldst SHALLOW CLONE $t VERSION AS OF 2")
      .head()
    assert(r.getLong(0) == 1L && r.getLong(1) > 0L)
    val dstDir = dir.replaceAll("/clsrc$", "/cldst")
    // zero-copy: every referenced file is external, no local data dir
    assert(TxnLog.fileScanPlan(dstDir)._2.forall(!_.startsWith(dstDir)))
    assert(new java.io.File(dstDir).listFiles().forall(_.getName == "_txnlog"))
    // the clone serves the pinned snapshot, not the damaged head
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.cldst").head().getLong(0) == 60L)
    // divergence: writes on either side are invisible to the other
    spark.sql("INSERT INTO gm.db.cldst SELECT id, id, id FROM range(100, 110)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.cldst").head().getLong(0) == 70L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 2L)
    // schema carried from the source's catalog schema
    assert(spark.table("gm.db.cldst").schema.fieldNames.toSeq == Seq("k", "x", "y"))
    // refusal: destination exists
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE gm.db.cldst SHALLOW CLONE $t").collect())
    assert(e.getMessage.contains("already exists"))
  }

  test("SHALLOW CLONE of a partitioned source refuses loudly") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_clpart")
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("""CREATE TABLE gm.db.pt (k BIGINT, p STRING) PARTITIONED BY (p)""")
    spark.sql("INSERT INTO gm.db.pt SELECT id, CAST(id % 3 AS STRING) FROM range(0, 30)")
    val e = intercept[Exception](
      spark.sql("CREATE TABLE gm.db.ptc SHALLOW CLONE gm.db.pt").collect())
    assert(e.getMessage.contains("partitioned"))
  }

  test("table_changes TVF: arity/literal/name validation; ranges compose") {
    val (t, dir) = fresh("cdf")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(0, 20)")   // v1
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(20, 30)")  // v2
    val full = spark.sql(s"SELECT * FROM table_changes('$t', 0, 2)")
    assert(full.count() == 30L)
    assert(full.columns.contains("_change_type") &&
      full.columns.contains("_commit_version"))
    // 2-arg form reads to the current head
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM table_changes('$t', 1)")
      .head().getLong(0) == 10L)
    // non-literal args refuse at analysis
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM table_changes('$t', (SELECT 1))").collect())
    assert(e.getMessage.contains("literal"))
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM table_changes('bare', 0)").collect())
    assert(e2.getMessage.contains("fully-qualified"))
  }

  test("ANALYZE TABLE builds zone maps with no rewrite; visible past a head checkpoint") {
    val (t, dir) = fresh("anlz")
    spark.sql(s"INSERT INTO $t SELECT id, id % 10, id FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $t SELECT id, id % 10, id FROM range(5000, 6000)")
    val pre = TxnLog.scanPruned(spark, dir, "y", 0L, 999L)
    assert(pre.plannedFiles == pre.totalFiles, "no stats yet: nothing skippable")
    val dataDirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_ != "_txnlog").sorted.toSeq
    // checkpoint AT the head first — the analyze must still reach
    // planning (statsTwoLevel reads sidecars from the checkpoint version
    // onward, not strictly after it)
    TxnLog.checkpoint(dir)
    val r = spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS y").head()
    assert(r.getLong(1) == pre.totalFiles.toLong, "every visible file covered")
    val post = TxnLog.scanPruned(spark, dir, "y", 0L, 999L)
    assert(post.plannedFiles < post.totalFiles && post.plannedFiles >= 1)
    assert(post.df.count() == 1000L, "pruning soundness: exact rowset")
    // ANALYZE moved zero data bytes
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .filter(_ != "_txnlog").sorted.toSeq == dataDirs)
    // a later INSERT's files are uncovered until the next analyze
    spark.sql(s"INSERT INTO $t SELECT id, id % 10, id FROM range(9000, 9100)")
    val stale = TxnLog.scanPruned(spark, dir, "y", 0L, 999L)
    assert(stale.plannedFiles > post.plannedFiles, "new files always kept")
    spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS y").collect()
    val again = TxnLog.scanPruned(spark, dir, "y", 0L, 999L)
    assert(again.plannedFiles == post.plannedFiles)
  }

  test("ANALYZE refuses partition columns (path prunes them already)") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_anlzp")
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("CREATE TABLE gm.db.apt (k BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gm.db.apt SELECT id, CAST(id % 3 AS STRING) FROM range(0, 30)")
    val e = intercept[Exception](
      spark.sql("ANALYZE TABLE gm.db.apt COMPUTE STATISTICS FOR COLUMNS p").collect())
    assert(e.getMessage.contains("partition column"))
  }

  test("TBLPROPERTIES: create/set/unset persist; REPLACE resets; vacuum policy") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_props")
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("""CREATE TABLE gm.db.pt2 (k BIGINT)
      TBLPROPERTIES('a'='1', 'graft.vacuum.retainVersions'='2')""")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES gm.db.pt2").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props() == Map("a" -> "1", "graft.vacuum.retainVersions" -> "2"))
    spark.sql("ALTER TABLE gm.db.pt2 SET TBLPROPERTIES('b'='x', 'a'='2')")
    spark.sql("ALTER TABLE gm.db.pt2 UNSET TBLPROPERTIES('graft.vacuum.retainVersions')")
    assert(props() == Map("a" -> "2", "b" -> "x"))
    // policy removed → bare VACUUM refuses again, naming both outs
    spark.sql("INSERT INTO gm.db.pt2 SELECT id FROM range(0, 10)")
    val e = intercept[Exception](spark.sql("VACUUM gm.db.pt2").collect())
    assert(e.getMessage.contains("TBLPROPERTIES"))
    // REPLACE resets properties to the new statement's (none here)
    spark.sql("REPLACE TABLE gm.db.pt2 AS SELECT id AS k FROM range(0, 5)")
    assert(props().isEmpty, "stale properties must not survive a REPLACE")
  }

  test("CONVERT TO GRAFT edges: layout mismatches and double-convert refuse") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_conv")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    // a hive tree converted WITHOUT PARTITIONED BY refuses (silently
    // registering partition values as data loss is the failure mode).
    // Partition values stay non-numeric: convert registers the INFERRED
    // partition type, and 'g0' infers STRING
    spark.range(0, 30).selectExpr("id AS k", "concat('g', id % 3) AS p")
      .write.partitionBy("p").parquet(s"$wh/db/ht")
    val e = intercept[Exception](
      spark.sql("CONVERT TO GRAFT gm.db.ht").collect())
    assert(e.getMessage.contains("PARTITIONED BY"))
    // with the clause it lands, prunes, and takes partitioned INSERTs
    val r = spark.sql("CONVERT TO GRAFT gm.db.ht PARTITIONED BY (p)").head()
    assert(r.getLong(0) == 1L && r.getLong(1) > 0L)
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.ht WHERE p = 'g1'")
      .head().getLong(0) == 10L)
    spark.sql("INSERT INTO gm.db.ht SELECT id, concat('g', id % 3) FROM range(30, 33)")
    assert(spark.table("gm.db.ht").count() == 33L)
    assert(spark.sql("SHOW PARTITIONS gm.db.ht").count() == 3L)
    // double convert refuses: it's already a table
    val e2 = intercept[Exception](
      spark.sql("CONVERT TO GRAFT gm.db.ht PARTITIONED BY (p)").collect())
    assert(e2.getMessage.contains("already"))
    // a flat dir with the clause refuses (no col=val tree to move)
    spark.range(0, 10).toDF("k").write.parquet(s"$wh/db/fl")
    val e3 = intercept[Exception](
      spark.sql("CONVERT TO GRAFT gm.db.fl PARTITIONED BY (k)").collect())
    assert(e3.getMessage.contains("col=val"))
  }

  test("merge-on-read SQL scans: vectored tables readable; writes/DML untouched") {
    val (t, dir) = fresh("mor")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(0, 100)")
    TxnLog.deleteVector(spark, dir, "k >= 50", Seq("k"))
    // SELECT serves the exact rowset with the vector applied — no compact
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 50L)
    assert(spark.sql(s"SELECT SUM(x) AS s FROM $t WHERE k % 2 = 0")
      .head().getLong(0) == (0L until 50L by 2).sum)
    // time travel BELOW the vector takes the plain path
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t VERSION AS OF 1")
      .head().getLong(0) == 100L)
    // stacked vectors compose
    TxnLog.deleteVector(spark, dir, "y < 10", Seq("y"))
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 40L)
    // INSERT still writes through the bridge (target never rewritten);
    // the vector suppresses matching late appends by value
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(100, 110)")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 50L)
    // INSERT reading FROM the vectored table (query side) rewrites too
    spark.sql(s"CREATE TABLE gm.db.morcopy (k BIGINT, x BIGINT, y BIGINT)")
    spark.sql(s"INSERT INTO gm.db.morcopy SELECT k, x, y FROM $t")
    assert(spark.table("gm.db.morcopy").count() == 50L)
    // the vectored plan carries the anti-join, never a cartesian
    val p = spark.sql(s"SELECT k FROM $t WHERE x > 5")
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti") && !p.contains("CartesianProduct"), p.take(500))
    // SQL DML on the vectored table still lowers through SqlDml — the
    // CoW rewrite MATERIALIZES the pending vectors, so the scan after it
    // is the plain path again (no anti-join left)
    spark.sql(s"DELETE FROM $t WHERE k >= 40")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 30L)
    assert(!spark.sql(s"SELECT k FROM $t").queryExecution.executedPlan
      .toString.contains("LeftAnti"))
  }

  test("DV-write policy: DELETE commits a vector instead of rewriting files") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_dvw")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("""CREATE TABLE gm.db.dvw (k BIGINT, x BIGINT)
      TBLPROPERTIES('graft.dml.useVectors'='true', 'graft.keys'='k')""")
    spark.sql("INSERT INTO gm.db.dvw SELECT id, id * 2 FROM range(0, 100)")
    val dir = s"$wh/db/dvw"
    val dataDirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_ != "_txnlog").sorted.toSeq
    spark.sql("DELETE FROM gm.db.dvw WHERE x >= 100")
    // a D commit, not an exchange: no data dir added or removed
    val actions = TxnLog.history(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    assert(actions == "AD", s"got '$actions'")
    // (the vector's own key file lands under a new part dir — the census
    // below proves the ORIGINAL data dirs all survived untouched)
    val after = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_ != "_txnlog").sorted.toSeq
    assert(dataDirs.forall(after.contains), "original data dirs rewritten")
    // the table reads exactly (merge-on-read scan)
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.dvw").head().getLong(0) == 50L)
    // policy without keys refuses loudly
    spark.sql("ALTER TABLE gm.db.dvw UNSET TBLPROPERTIES('graft.keys')")
    val e = intercept[Exception](
      spark.sql("DELETE FROM gm.db.dvw WHERE k = 1").collect())
    assert(e.getMessage.contains("graft.keys"))
    // UPDATE under the policy: one atomic U commit (vector + replacement
    // rows), original data dirs still untouched
    spark.sql("ALTER TABLE gm.db.dvw SET TBLPROPERTIES('graft.keys'='k')")
    spark.sql("UPDATE gm.db.dvw SET x = x + 1000 WHERE k < 5")
    val acts1 = TxnLog.history(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    assert(acts1 == "ADU", s"got '$acts1'")
    assert(spark.sql("SELECT SUM(x) AS s FROM gm.db.dvw WHERE k < 5")
      .head().getLong(0) == (0L until 5L).map(_ * 2 + 1000).sum)
    assert(dataDirs.forall(new java.io.File(dir).listFiles().map(_.getName).contains),
      "original data dirs rewritten by vector UPDATE")
    // policy off: DELETE goes back to the CoW exchange
    spark.sql("ALTER TABLE gm.db.dvw UNSET TBLPROPERTIES('graft.dml.useVectors')")
    spark.sql("DELETE FROM gm.db.dvw WHERE k < 10")
    val acts2 = TxnLog.history(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    assert(acts2.startsWith("AD") && (acts2.endsWith("X") || acts2.endsWith("R")),
      s"got '$acts2'")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.dvw").head().getLong(0) == 40L)
  }

  test("CHECKPOINT statement writes a log checkpoint; planning agrees") {
    val (t, dir) = fresh("ckpt")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(0, 50)")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(50, 80)")
    val v = spark.sql(s"CHECKPOINT $t").head().getLong(0)
    assert(v == TxnLog.currentVersion(dir))
    // reads after the checkpoint fold from it, identically
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 80L)
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(80, 85)")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 85L)
    // a query merely mentioning the keyword stays with Spark's grammar
    assert(spark.sql("SELECT 'CHECKPOINT gm.db.x' AS s").head().getString(0)
      .startsWith("CHECKPOINT"))
  }

  test("table_changes composes with vector DML and merge-on-read scans") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_cdfv")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("""CREATE TABLE gm.db.cdv (k BIGINT, x BIGINT)
      TBLPROPERTIES('graft.dml.useVectors'='true', 'graft.keys'='k')""")
    spark.sql("INSERT INTO gm.db.cdv SELECT id, id FROM range(0, 40)")  // v1 A
    spark.sql("DELETE FROM gm.db.cdv WHERE k >= 30")                    // v2 D
    spark.sql("UPDATE gm.db.cdv SET x = x + 100 WHERE k < 3")           // v3 U
    // the batch CDF derives each action's exact row-level changes:
    //   v1: 40 inserts; v2: 10 deletes (the vector's keys against v1);
    //   v3: the update's delete+insert pair (old x, new x)
    val feed = spark.sql(
      """SELECT _commit_version AS v, _change_type AS t, COUNT(*) AS n,
        |       SUM(x) AS sx
        |FROM table_changes('gm.db.cdv', 0, 3) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(feed.toSeq == Seq(
      (1L, "insert", 40L, (0L until 40L).sum),
      (2L, "delete", 10L, (30L until 40L).sum),
      (3L, "delete", 3L, 0L + 1L + 2L),
      (3L, "insert", 3L, 100L + 101L + 102L)), feed.mkString(", "))
    // and the merge-on-read scan agrees with the fold of the feed
    assert(spark.sql("SELECT COUNT(*) AS n, SUM(x) AS s FROM gm.db.cdv")
      .head().toSeq == Seq(30L, (0L until 30L).sum + 300L))
  }

  test("RESTORE composes with vectors: a vectored target materializes") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_rstv")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("""CREATE TABLE gm.db.rsv (k BIGINT, x BIGINT)
      TBLPROPERTIES('graft.dml.useVectors'='true', 'graft.keys'='k')""")
    spark.sql("INSERT INTO gm.db.rsv SELECT id, id FROM range(0, 50)")  // v1 A
    spark.sql("DELETE FROM gm.db.rsv WHERE k >= 40")                    // v2 D
    spark.sql("INSERT OVERWRITE gm.db.rsv SELECT id, id FROM range(0, 2)") // v3 R
    // restoring to the VECTORED version cannot be a metadata-only file
    // re-list (the vector must apply) — TxnLog.restore materializes it
    val r = spark.sql("RESTORE TABLE gm.db.rsv TO VERSION AS OF 2").head()
    assert(r.getLong(0) == 2L)
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.rsv").head().getLong(0) == 40L)
    // history stays linear: the vectored era still reads merge-on-read
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.rsv VERSION AS OF 2")
      .head().getLong(0) == 40L)
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.rsv VERSION AS OF 3")
      .head().getLong(0) == 2L)
    // the restored head is PLAIN (vectors materialized): no anti-join
    assert(!spark.sql("SELECT k FROM gm.db.rsv").queryExecution.executedPlan
      .toString.contains("LeftAnti"))
  }

  test("ANALYZE/SHOW PARTITIONS over non-graft catalogs keep Spark semantics") {
    // genuine Spark statements the front parser SHADOWS must reach
    // Spark's native commands whenever the name is not a graft table —
    // session-catalog three-part names included
    spark.sql("DROP TABLE IF EXISTS delegate_natv")
    spark.sql("CREATE TABLE delegate_natv (k BIGINT, x BIGINT) USING parquet")
    spark.sql("INSERT INTO delegate_natv SELECT id, id * 3 FROM range(0, 20)")
    // pre-guard this became GraftAnalyzeCommand and failed in dirOf
    spark.sql("ANALYZE TABLE spark_catalog.default.delegate_natv " +
      "COMPUTE STATISTICS FOR COLUMNS x")
    val desc = spark.sql("DESC EXTENDED delegate_natv x").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("max").contains("57"), desc.toString)
    // SHOW PARTITIONS on a session-catalog partitioned table: native
    spark.sql("DROP TABLE IF EXISTS delegate_part")
    spark.sql("CREATE TABLE delegate_part (k BIGINT) USING parquet " +
      "PARTITIONED BY (p INT)")
    spark.sql("INSERT INTO delegate_part SELECT id, CAST(id % 2 AS INT) " +
      "FROM range(0, 6)")
    assert(spark.sql("SHOW PARTITIONS spark_catalog.default.delegate_part")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("p=0", "p=1"))
    spark.sql("DROP TABLE delegate_natv")
    spark.sql("DROP TABLE delegate_part")
  }

  test("SHALLOW CLONE carries TBLPROPERTIES: the fork keeps its DML policy") {
    val wh = graft.io.FsUtil.scratchDir("graft_maint_clp")
    spark.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    spark.sql("""CREATE TABLE gm.db.clp (k BIGINT, x BIGINT)
      TBLPROPERTIES('graft.dml.useVectors'='true', 'graft.keys'='k',
                    'graft.vacuum.retainVersions'='5')""")
    spark.sql("INSERT INTO gm.db.clp SELECT id, id FROM range(0, 50)")
    spark.sql("CREATE TABLE gm.db.clpd SHALLOW CLONE gm.db.clp")
    val cloned = graft.sources.GraftSqlTable.storedProps(s"$wh/db/clpd")
    assert(cloned.get("graft.dml.useVectors").contains("true") &&
      cloned.get("graft.keys").contains("k") &&
      cloned.get("graft.vacuum.retainVersions").contains("5"), cloned.toString)
    // the policy ACTS on the clone: DELETE commits a vector (D), no CoW
    spark.sql("DELETE FROM gm.db.clpd WHERE k >= 40")
    val acts = TxnLog.history(spark, s"$wh/db/clpd").collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    assert(acts == "AD", s"got '$acts'")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.clpd").head().getLong(0) == 40L)
    // and the source is untouched
    assert(spark.sql("SELECT COUNT(*) AS n FROM gm.db.clp").head().getLong(0) == 50L)
  }

  test("merge-on-read inlines inside subqueries too") {
    val (t, dir) = fresh("morsub")
    spark.sql(s"INSERT INTO $t SELECT id, id, id FROM range(0, 100)")
    TxnLog.deleteVector(spark, dir, "k >= 50", Seq("k"))
    // the vectored table appears ONLY inside subquery expressions —
    // plan.transform alone would never reach it and the raw-scan
    // refusal would fire at pushdown
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM range(0, 200) " +
      s"WHERE id IN (SELECT k FROM $t)").head().getLong(0) == 50L)
    assert(spark.sql(s"SELECT (SELECT COUNT(*) FROM $t) AS c")
      .head().getLong(0) == 50L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM range(0, 10) r " +
      s"WHERE EXISTS (SELECT 1 FROM $t WHERE k = r.id)").head().getLong(0) == 10L)
  }

  test("maintenance on a non-graft name refuses loudly") {
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    val e = intercept[Exception](spark.sql("OPTIMIZE spark_catalog.default.nope").collect())
    assert(msgs(e).exists(m => m.contains("graft catalog") || m.contains("not a graft")))
    val e2 = intercept[Exception](spark.sql("VACUUM justonepart").collect())
    assert(msgs(e2).exists(_.contains("fully-qualified")))
  }
}
