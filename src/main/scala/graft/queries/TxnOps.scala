package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.io.TxnLog

/** Round-8 txn-log table-format extensions on the oracle board: MERGE INTO
  * with file-granular rewrites (q221), the change-data-feed (q222), and
  * manifest-stats file skipping (q223). Reference tie-in: the reference's
  * only table op is SQLite INSERT OR IGNORE (`process_audio.py:354-391`);
  * these queries are the lakehouse surface a 100 TB corpus needs in its
  * place — upserts that move one file's bytes instead of the table,
  * row-level change streams derived from the commit ledger, and
  * metadata-level scan pruning before any parquet footer is opened.
  */
object TxnOps {

  /** Txn-protocol fixtures run many SMALL serial jobs (commit, semi-join,
    * rewrite, CDF diff) over metadata-scale rowsets — at the board's data
    * size 32 shuffle partitions is pure fixed overhead per job. Pin a
    * dedicated child session to 8 (results are partition-invariant; the
    * shared session never observes the override — the q81 streaming
    * precedent). On a real deployment this follows data volume instead. */
  private def txnSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    // the streaming drives here (q229/q239/q240) are foreachBatch over a
    // version-offset source — no watermark-driven emission, so the no-data
    // micro-batch is pure per-drive overhead
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2
  }

  // ---------------------------------------------------------------- q221
  /** MERGE INTO (upsert) on the txn-log table, FILE-GRANULAR: v1 commits
    * the even-custkey half, v2 the odd half (one file each), v3 merges a
    * source of whole-row updates (every even BUILDING customer, segment
    * rewritten to 'UPSERTED', balance negated — both IEEE-exact ops) plus
    * 25 brand-new 'INSERTED' rows keyed off nation. The merge semi-joins
    * the source keys against the visible files, finds that ONLY the even
    * file contains a match, and commits an `X` exchange that removes that
    * one file and adds its rewrite — the odd file's bytes are never
    * touched (TxnLogSpec pins the file-level claim; the board pins the
    * semantics). Faces: as-of 2 = the pre-merge table, as-of 3 = the
    * upserted table — exactly target-anti-source ∪ source — and the
    * face-0 ledger row pins the action chain AAX. */
  def q221(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q221_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")).coalesce(1), dir)
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), dir)
    val source = cust
      .filter(expr("c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'"))
      .select(col("c_custkey"), lit("UPSERTED").as("c_mktsegment"),
        (-col("c_acctbal")).as("c_acctbal"))
      .unionByName(Tables.nation(s, d).select(
        (lit(9000000L) + col("n_nationkey")).as("c_custkey"),
        lit("INSERTED").as("c_mktsegment"),
        (col("n_nationkey").cast("double") * lit(1.5)).as("c_acctbal")))
    TxnLog.merge(s, dir, source, Seq("c_custkey"))
    def face(asOf: Option[Long], tag: Long) =
      TxnLog.read(s, dir, asOf)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
        .withColumn("as_of", lit(tag))
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("as_of"), lit(actions).as("c_mktsegment"),
      lit(TxnLog.currentVersion(dir)).as("n"), lit(0.0).as("sum_bal"))
    ledger.unionByName(face(Some(2L), 2L)).unionByName(face(None, 3L))
      .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q221Sql: String =
    """WITH target AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |src AS (
      |  SELECT c_custkey, 'UPSERTED' AS c_mktsegment, -c_acctbal AS c_acctbal
      |  FROM customer WHERE c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT 9000000 + n_nationkey, 'INSERTED', CAST(n_nationkey AS DOUBLE) * 1.5
      |  FROM nation),
      |merged AS (
      |  SELECT t.* FROM target t
      |  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.c_custkey = t.c_custkey)
      |  UNION ALL SELECT * FROM src),
      |faces AS (
      |  SELECT 2 AS as_of, c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM target GROUP BY 2
      |  UNION ALL
      |  SELECT 3, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM merged GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'AAX' AS c_mktsegment,
      |       CAST(3 AS BIGINT) AS n, CAST(0 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), c_mktsegment, CAST(n AS BIGINT),
      |       CAST(sum_bal AS DOUBLE)
      |FROM faces
      |ORDER BY as_of, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q222
  /** CHANGE DATA FEED over a five-version lifecycle: v1/v2 append the two
    * custkey halves, v3 MERGEs (X: updates negate-and-retag the even
    * BUILDING rows, inserts add nation-keyed rows — CDF derives them
    * file-bounded from the exchanged files), v4 delete-vectors the
    * AUTOMOBILE segment (D: the deletes are the rows visible at v3
    * matching the vector keys), v5 compacts (R: the generic snapshot diff,
    * which must come out EMPTY — compaction materializes the vector the
    * reader was already applying, so no logical change). The feed is
    * aggregated per (version, change_type) with an exact custkey checksum;
    * version 5 is absent from the output, which IS the compaction claim. */
  def q222(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q222_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")).coalesce(1), dir)
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), dir)
    val source = cust
      .filter(expr("c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'"))
      .select(col("c_custkey"), lit("UPSERTED").as("c_mktsegment"),
        (-col("c_acctbal")).as("c_acctbal"))
      .unionByName(Tables.nation(s, d).select(
        (lit(9000000L) + col("n_nationkey")).as("c_custkey"),
        lit("INSERTED").as("c_mktsegment"),
        (col("n_nationkey").cast("double") * lit(1.5)).as("c_acctbal")))
    TxnLog.merge(s, dir, source, Seq("c_custkey"))
    TxnLog.deleteVector(s, dir, "c_mktsegment = 'AUTOMOBILE'", Seq("c_custkey"))
    TxnLog.compact(s, dir)
    TxnLog.changes(s, dir, 0L, TxnLog.currentVersion(dir))
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("key_sum"))
      .select(col("_commit_version").as("version"), col("_change_type").as("change_type"),
        col("n"), col("key_sum"))
      .orderBy(col("version"), col("change_type"))
  }
  val q222Sql: String =
    """WITH target AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |src AS (
      |  SELECT c_custkey, 'UPSERTED' AS c_mktsegment, -c_acctbal AS c_acctbal
      |  FROM customer WHERE c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT 9000000 + n_nationkey, 'INSERTED', CAST(n_nationkey AS DOUBLE) * 1.5
      |  FROM nation),
      |merged AS (
      |  SELECT t.* FROM target t
      |  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.c_custkey = t.c_custkey)
      |  UNION ALL SELECT * FROM src),
      |feed AS (
      |  SELECT 1 AS version, 'insert' AS change_type, c_custkey
      |  FROM target WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT 2, 'insert', c_custkey FROM target WHERE c_custkey % 2 = 1
      |  UNION ALL
      |  SELECT 3, 'insert', c_custkey FROM src
      |  UNION ALL
      |  SELECT 3, 'delete', c_custkey FROM target
      |  WHERE c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT 4, 'delete', c_custkey FROM merged WHERE c_mktsegment = 'AUTOMOBILE')
      |SELECT CAST(version AS BIGINT) AS version, change_type,
      |       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c_custkey) AS BIGINT) AS key_sum
      |FROM feed
      |GROUP BY 1, 2
      |ORDER BY version, change_type""".stripMargin

  // ---------------------------------------------------------------- q223
  /** MANIFEST-STATS FILE SKIPPING (the Iceberg zone-map slot): orders land
    * year-partitioned — one [[TxnLog.commitWithStats]] append per order
    * year, each carrying a (file, o_oyear, min, max) sidecar line — and
    * the 1997–1998 revenue query plans through [[TxnLog.scanPruned]],
    * which drops every other year's file at PLANNING time from metadata
    * alone (no parquet footer opened). The face-0 ledger row pins the
    * pruning arithmetic: files planned = years intersecting [1997,1998],
    * files total = distinct order years — both stated independently by
    * the oracle from the data. The rowset face proves pruning soundness:
    * the pruned scan aggregates to exactly the full-table filter. */
  def q223(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q223_tbl")
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("o_oyear"))
    val years = ord.select(col("o_oyear")).distinct().collect()
      .map(_.getLong(0)).sorted
    years.foreach { y =>
      // partition-value commit: the writer KNOWS min = max = y, so the
      // sidecar comes free (no post-write stats scan)
      TxnLog.commitWithStats(ord.filter(col("o_oyear") === y).coalesce(1),
        dir, Seq("o_oyear"), knownStats = Some(Seq(("o_oyear", y, y))))
    }
    val scan = TxnLog.scanPruned(s, dir, "o_oyear", 1997L, 1998L)
    val face = scan.df.groupBy(col("o_oyear"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("rev"))
    val ledger = s.range(1).select(lit(0L).as("o_oyear"),
      lit(scan.plannedFiles.toLong).as("n"), lit(scan.totalFiles.toDouble).as("rev"))
    ledger.unionByName(face).orderBy(col("o_oyear"))
  }
  val q223Sql: String =
    """WITH yrs AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y FROM orders)
      |SELECT CAST(0 AS BIGINT) AS o_oyear,
      |       (SELECT COUNT(*) FROM yrs WHERE y BETWEEN 1997 AND 1998) AS n,
      |       CAST((SELECT COUNT(*) FROM yrs) AS DOUBLE) AS rev
      |UNION ALL
      |SELECT CAST(year(o_orderdate) AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM orders
      |WHERE year(o_orderdate) BETWEEN 1997 AND 1998
      |GROUP BY 1
      |ORDER BY o_oyear""".stripMargin

  // ---------------------------------------------------------------- q265
  /** HIVE-STYLE PARTITION PRUNING through the txn log (round 9) — the
    * coarsest file skipping a 100 TB table has, cheaper than the q223
    * stats sidecars because the file PATH is the metadata: commits land
    * via [[TxnLog.commitPartitioned]], whose `col=val` dir segments let
    * [[TxnLog.scanPruned]] drop files at planning time before any stats
    * or bloom sidecar is consulted. The fixture also proves PARTITION-SPEC
    * EVOLUTION: commit 1 is a PLAIN append (years ≤1996, column in-file,
    * pre-evolution), commits 2–3 are partitioned by order year (column
    * in-path) — exactly how a real table starts flat and adopts
    * partitioning later. Faces: 0 = the planning ledger (files planned for
    * year=1997 — the 1997 partition plus the un-prunable pre-evolution
    * file — vs files total, both stated independently by the oracle from
    * the year distribution); 1 = the pruned scan's aggregate (equals the
    * full-table 1997 filter — pruning soundness, the residual predicate
    * still drops the pre-evolution file's rows); 2 = the FULL evolution
    * read's per-year rollup (path-derived and in-file partition values
    * reconcile into one column). */
  def q265(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q265_tbl")
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("o_oyear"))
    TxnLog.commit(ord.filter(col("o_oyear") <= 1996).coalesce(1), dir)
    TxnLog.commitPartitioned(ord.filter(col("o_oyear") === 1997).coalesce(1),
      dir, Seq("o_oyear"))
    TxnLog.commitPartitioned(ord.filter(col("o_oyear") >= 1998).coalesce(1),
      dir, Seq("o_oyear"))
    val scan = TxnLog.scanPruned(s, dir, "o_oyear", 1997L, 1997L)
    val ledger = s.range(1).select(lit(0L).as("face"), lit(0L).as("o_oyear"),
      lit(scan.plannedFiles.toLong).as("n"), lit(scan.totalFiles.toDouble).as("rev"))
    def rollup(df: org.apache.spark.sql.DataFrame, face: Long) = df
      .groupBy(col("o_oyear").cast("long").as("o_oyear"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("rev"))
      .select(lit(face).as("face"), col("o_oyear"), col("n"), col("rev"))
    ledger.unionByName(rollup(scan.df, 1L))
      .unionByName(rollup(TxnLog.read(s, dir), 2L))
      .orderBy(col("face"), col("o_oyear"))
  }
  val q265Sql: String =
    """WITH yr AS (SELECT year(o_orderdate) AS y, o_totalprice FROM orders)
      |SELECT CAST(0 AS BIGINT) AS face, CAST(0 AS BIGINT) AS o_oyear,
      |       CAST(2 AS BIGINT) AS n,
      |       CAST(1 + 1 + (SELECT COUNT(DISTINCT y) FROM yr WHERE y >= 1998)
      |            AS DOUBLE) AS rev
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), CAST(y AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM yr WHERE y = 1997 GROUP BY y
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(y AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM yr GROUP BY y
      |ORDER BY face, o_oyear""".stripMargin

  // ---------------------------------------------------------------- q267
  /** OPTIMIZE ZORDER through the txn log (round-9 verdict item 6) — the
    * composition q191/q200 measured standalone and q237 packed without:
    * three unordered appends land lineitem's (orderkey, linenumber,
    * partkey, suppkey) projection, then [[TxnLog.optimizeZorder]] rewrites
    * the table as ONE replace-commit of 16 Morton-tiled files with
    * writer-recorded (x, y) zone maps, and the q223-style skipping audit
    * runs THROUGH [[TxnLog.scanPruned]] — proving a reader skips files
    * for predicates on EITHER curve dimension where the pre-optimize
    * layout (append order) could prune nothing. Faces: 0/1 = the x-range
    * and y-range planning ledgers (planned vs total files, both restated
    * independently by the oracle from the deterministic curve binning);
    * 2 = the pruned x-scan's aggregate (equals the full-table filter —
    * pruning soundness); 3 = the full post-optimize read (compaction
    * invariance: the rewrite changed layout, not content). */
  def q267(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q267_tbl")
    // Fixture sizing (round-9 verdict item 2): the operator claim — zone
    // maps skip files through the log on either curve dimension — needs
    // unordered appends and a rewrite, not the whole fact table; the
    // even-orderkey half keeps every face's shape at half the staging and
    // rewrite cost. localCheckpoint: the three slice-commits cut from ONE
    // scan of the projection instead of three.
    val base = Tables.lineitem(s, d).select(
      col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
      col("l_partkey").as("x"), col("l_suppkey").as("y"))
      .filter(expr("ok % 2 = 0")).localCheckpoint()
    (0 until 3).foreach(i => // repartition(1): keep the scan parallel
      TxnLog.commit(base.filter(expr(s"ok % 6 = ${2 * i}")).repartition(1), dir))
    TxnLog.optimizeZorder(s, dir, "x", "y", numFiles = 16,
      tieCols = Seq("ok", "ln"))
    val sx = TxnLog.scanPruned(s, dir, "x", 500L, 700L)
    val sy = TxnLog.scanPruned(s, dir, "y", 30L, 60L)
    def ledger(face: Long, sc: TxnLog.PrunedScan) = s.range(1).select(
      lit(face).as("face"), lit(sc.plannedFiles.toLong).as("n_rows"),
      lit(sc.totalFiles.toLong).as("sum_x"), lit(0L).as("sum_y"))
    def rollup(df: org.apache.spark.sql.DataFrame, face: Long) = df
      .agg(count(lit(1)).as("n_rows"),
        sum(col("x")).cast("long").as("sum_x"),
        sum(col("y")).cast("long").as("sum_y"))
      .select(lit(face).as("face"), col("n_rows"), col("sum_x"), col("sum_y"))
    ledger(0L, sx).unionByName(ledger(1L, sy))
      .unionByName(rollup(sx.df, 2L))
      .unionByName(rollup(TxnLog.read(s, dir), 3L))
      .orderBy(col("face"))
  }
  val q267Sql: String = {
    val z = graft.queries.LayoutOps.zSqlExprOn("qx", "qy")
    s"""WITH base AS (
       |  SELECT l_orderkey AS ok, CAST(l_linenumber AS BIGINT) AS ln,
       |         l_partkey AS x, l_suppkey AS y
       |  FROM lineitem WHERE l_orderkey % 2 = 0),
       |bounds AS (SELECT min(x) AS mnx, max(x) AS mxx,
       |                  min(y) AS mny, max(y) AS mxy FROM base),
       |normed AS (
       |  SELECT b.*,
       |    ((x - mnx) * 65536) // (mxx - mnx + 1) AS qx,
       |    ((y - mny) * 65536) // (mxy - mny + 1) AS qy
       |  FROM base b, bounds),
       |zed AS (SELECT *, $z AS z FROM normed),
       |n AS (SELECT COUNT(*) AS n FROM base),
       |binned AS (
       |  SELECT x, y,
       |    ((row_number() OVER (ORDER BY z, ok, ln) - 1) * 16) // (SELECT n FROM n) AS bin
       |  FROM zed),
       |zones AS (
       |  SELECT bin, min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y
       |  FROM binned GROUP BY 1)
       |SELECT CAST(0 AS BIGINT) AS face,
       |  (SELECT COUNT(*) FROM zones WHERE max_x >= 500 AND min_x <= 700) AS n_rows,
       |  (SELECT COUNT(*) FROM zones) AS sum_x, CAST(0 AS BIGINT) AS sum_y
       |UNION ALL
       |SELECT CAST(1 AS BIGINT),
       |  (SELECT COUNT(*) FROM zones WHERE max_y >= 30 AND min_y <= 60),
       |  (SELECT COUNT(*) FROM zones), CAST(0 AS BIGINT)
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), COUNT(*),
       |  CAST(SUM(x) AS BIGINT), CAST(SUM(y) AS BIGINT)
       |FROM base WHERE x BETWEEN 500 AND 700
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), COUNT(*),
       |  CAST(SUM(x) AS BIGINT), CAST(SUM(y) AS BIGINT)
       |FROM base
       |ORDER BY face""".stripMargin
  }

  // ---------------------------------------------------------------- q291
  /** INCREMENTAL OPTIMIZE (round-9 verdict item 4, the Delta
    * liquid-clustering shape): q267's ZORDER is a whole-table rewrite —
    * correct, but its cost scales with the table; a real 100 TB table
    * re-clusters INCREMENTALLY. Here the clustering spec is table
    * metadata ([[TxnLog.clusterBy]]), the first
    * [[TxnLog.optimizeClustered]] is the frame-setting full rewrite
    * (8 files, its own bounds persisted as the table's normalization
    * frame), two more appends land, and the second optimize rewrites
    * ONLY those two files (an `X noop` exchange, 4 new files) with codes
    * CLAMPED onto the first pass's frame so both generations lie on one
    * curve. Proofs carried by the faces:
    *   0: first-generation files NEVER MOVE — all 8 still visible with
    *      byte-identical (size, mtime) after the incremental pass
    *      (q221's file-granularity discipline applied to OPTIMIZE);
    *      total visible files = 12; a third optimize with nothing new
    *      is a version-preserving no-op.
    *   1: zone-map planning ledger for an x-range THROUGH
    *      [[TxnLog.scanPruned]] — planned vs total restated by the
    *      oracle from the deterministic two-generation binning (gen-1:
    *      8 bins over its own bounds; gen-2: 4 bins clamped onto them),
    *      so skipping spans generations.
    *   2/3: pruned-scan aggregate = full filter (soundness) and the
    *      full read (two optimizes changed layout, never content). */
  def q291(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q291_tbl")
    // fixture sizing + single-scan staging: the q267 note applies
    val base = Tables.lineitem(s, d).select(
      col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
      col("l_partkey").as("x"), col("l_suppkey").as("y"))
      .filter(expr("ok % 2 = 0")).localCheckpoint()
    (0 until 2).foreach(i =>
      TxnLog.commit(base.filter(expr(s"ok % 8 = ${2 * i}")).repartition(1), dir)) // v1 v2
    TxnLog.clusterBy(dir, "x", "y", tieCols = Seq("ok", "ln"))
    TxnLog.optimizeClustered(s, dir, numFiles = 8)                          // v3 full
    def stamp(f: String) = {
      val p = java.nio.file.Paths.get(f)
      (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }
    val gen1 = TxnLog.fileScanPlan(dir)._2
    val stamps1 = gen1.map(f => f -> stamp(f)).toMap
    (2 until 4).foreach(i =>
      TxnLog.commit(base.filter(expr(s"ok % 8 = ${2 * i}")).repartition(1), dir)) // v4 v5
    val vInc = TxnLog.optimizeClustered(s, dir, numFiles = 4)               // v6 incr
    val vNoop = TxnLog.optimizeClustered(s, dir, numFiles = 4)              // no-op
    val visNow = TxnLog.fileScanPlan(dir)._2.toSet
    val untouched = gen1.count(f => visNow.contains(f) && stamps1(f) == stamp(f))
    val sx = TxnLog.scanPruned(s, dir, "x", 500L, 700L)
    val ledger0 = s.range(1).select(lit(0L).as("face"),
      lit(untouched.toLong).as("n_rows"), lit(visNow.size.toLong).as("sum_x"),
      lit(if (vNoop == vInc) 1L else 0L).as("sum_y"))
    val ledger1 = s.range(1).select(lit(1L).as("face"),
      lit(sx.plannedFiles.toLong).as("n_rows"),
      lit(sx.totalFiles.toLong).as("sum_x"), lit(0L).as("sum_y"))
    def rollup(df: org.apache.spark.sql.DataFrame, face: Long) = df
      .agg(count(lit(1)).as("n_rows"),
        sum(col("x")).cast("long").as("sum_x"),
        sum(col("y")).cast("long").as("sum_y"))
      .select(lit(face).as("face"), col("n_rows"), col("sum_x"), col("sum_y"))
    ledger0.unionByName(ledger1)
      .unionByName(rollup(sx.df, 2L))
      .unionByName(rollup(TxnLog.read(s, dir), 3L))
      .orderBy(col("face"))
  }
  val q291Sql: String = {
    val z = graft.queries.LayoutOps.zSqlExprOn("qx", "qy")
    s"""WITH base AS (
       |  SELECT l_orderkey AS ok, CAST(l_linenumber AS BIGINT) AS ln,
       |         l_partkey AS x, l_suppkey AS y
       |  FROM lineitem WHERE l_orderkey % 2 = 0),
       |g1 AS (SELECT * FROM base WHERE ok % 8 IN (0, 2)),
       |g2 AS (SELECT * FROM base WHERE ok % 8 IN (4, 6)),
       |bounds AS (SELECT min(x) AS mnx, max(x) AS mxx,
       |                  min(y) AS mny, max(y) AS mxy FROM g1),
       |n1 AS (SELECT COUNT(*) AS n FROM g1),
       |n2 AS (SELECT COUNT(*) AS n FROM g2),
       |z1 AS (
       |  SELECT g.*, ((x - mnx) * 65536) // (mxx - mnx + 1) AS qx,
       |              ((y - mny) * 65536) // (mxy - mny + 1) AS qy
       |  FROM g1 g, bounds),
       |z2 AS (
       |  SELECT g.*,
       |    ((least(greatest(x, mnx), mxx) - mnx) * 65536) // (mxx - mnx + 1) AS qx,
       |    ((least(greatest(y, mny), mxy) - mny) * 65536) // (mxy - mny + 1) AS qy
       |  FROM g2 g, bounds),
       |b1 AS (SELECT x, ((row_number() OVER (ORDER BY $z, ok, ln) - 1) * 8)
       |         // (SELECT n FROM n1) AS bin FROM z1),
       |b2 AS (SELECT x, 100 + ((row_number() OVER (ORDER BY $z, ok, ln) - 1) * 4)
       |         // (SELECT n FROM n2) AS bin FROM z2),
       |zones AS (
       |  SELECT bin, min(x) AS min_x, max(x) AS max_x
       |  FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2) GROUP BY 1)
       |SELECT CAST(0 AS BIGINT) AS face, CAST(8 AS BIGINT) AS n_rows,
       |       CAST(12 AS BIGINT) AS sum_x, CAST(1 AS BIGINT) AS sum_y
       |UNION ALL
       |SELECT CAST(1 AS BIGINT),
       |  (SELECT COUNT(*) FROM zones WHERE max_x >= 500 AND min_x <= 700),
       |  (SELECT COUNT(*) FROM zones), CAST(0 AS BIGINT)
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), COUNT(*),
       |  CAST(SUM(x) AS BIGINT), CAST(SUM(y) AS BIGINT)
       |FROM base WHERE x BETWEEN 500 AND 700
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), COUNT(*),
       |  CAST(SUM(x) AS BIGINT), CAST(SUM(y) AS BIGINT)
       |FROM base
       |ORDER BY face""".stripMargin
  }

  // ---------------------------------------------------------------- q269
  /** TWO-LEVEL METADATA PLANNING (Iceberg's manifest-list / Delta's
    * checkpoint-add-stats move, composed onto q234's checkpoints and
    * q223's stats sidecars): five range-bucketed appends land with zone
    * maps, a checkpoint after the third CARRIES the visible files' stats
    * as `Z` lines, the pre-checkpoint sidecars are then ARCHIVED
    * (deleted — at 10⁵–10⁶ commits the per-version sidecar walk is the
    * planning bottleneck, and archivability is the proof the walk is no
    * longer needed), and [[TxnLog.scanPruned]] must still skip the same
    * files using checkpoint + post-checkpoint sidecars only. Faces:
    * 0 = planning ledger (planned vs total files + the post-checkpoint
    * fold cost — all restated by the oracle from the deterministic
    * range bucketing); 1 = the pruned scan's aggregate (soundness:
    * equals the full-table filter); 2 = the full read (content
    * untouched by metadata surgery). */
  def q269(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q269_tbl")
    // fixture sizing + single-scan staging (round-9 verdict item 2): the
    // two-level-planning claim is about METADATA (checkpoint-carried
    // stats), so the even-orderkey half carries it at half the staging
    // cost, and the five slice-commits + bounds agg cut from one scan
    val base = Tables.lineitem(s, d).select(
      col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .filter(expr("ok % 2 = 0")).localCheckpoint()
    val maxPk = base.agg(max(col("pk"))).head().getLong(0)
    // repartition(1), not coalesce(1): coalesce would pull the whole
    // fact scan into ONE task — the slice must scan parallel and shuffle
    // only its own rows into the single output file
    def slice(i: Int) =
      base.filter(expr(s"pk * 5 div ${maxPk + 1} = $i")).repartition(1)
    (0 until 3).foreach(i => TxnLog.commitWithStats(slice(i), dir, Seq("pk")))
    val cv = TxnLog.checkpoint(dir)
    (3 until 5).foreach(i => TxnLog.commitWithStats(slice(i), dir, Seq("pk")))
    // archive every sidecar at or below the checkpoint
    java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_txnlog"))
      .toArray.map(_.toString).filter(_.endsWith(".stats"))
      .filter(_.split("/").last.stripPrefix("v").stripSuffix(".stats").toLong <= cv)
      .foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    // query range: the middle of bucket 1 — exactly one bucket intersects
    val lo = (maxPk + 1) / 5 + 2
    val hi = 2 * (maxPk + 1) / 5 - 2
    val sc = TxnLog.scanPruned(s, dir, "pk", lo, hi)
    val ledger = s.range(1).select(lit(0L).as("face"),
      lit(sc.plannedFiles.toLong).as("n_rows"),
      lit(sc.totalFiles.toLong).as("sum_ok"),
      lit(TxnLog.foldCost(dir).toLong).as("sum_pk"))
    def rollup(df: org.apache.spark.sql.DataFrame, face: Long) = df
      .agg(count(lit(1)).as("n_rows"), sum(col("ok")).cast("long").as("sum_ok"),
        sum(col("pk")).cast("long").as("sum_pk"))
      .select(lit(face).as("face"), col("n_rows"), col("sum_ok"), col("sum_pk"))
    ledger.unionByName(rollup(sc.df, 1L))
      .unionByName(rollup(TxnLog.read(s, dir), 2L))
      .orderBy(col("face"))
  }
  val q269Sql: String =
    """WITH base AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |  WHERE l_orderkey % 2 = 0),
      |mx AS (SELECT max(pk) AS m FROM base),
      |buckets AS (
      |  SELECT pk * 5 // (m + 1) AS b, min(pk) AS bmin, max(pk) AS bmax
      |  FROM base, mx GROUP BY 1),
      |q AS (SELECT (m + 1) // 5 + 2 AS lo, 2 * (m + 1) // 5 - 2 AS hi FROM mx)
      |SELECT CAST(0 AS BIGINT) AS face,
      |  (SELECT COUNT(*) FROM buckets, q WHERE bmax >= lo AND bmin <= hi) AS n_rows,
      |  (SELECT COUNT(*) FROM buckets) AS sum_ok,
      |  CAST(2 AS BIGINT) AS sum_pk
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), COUNT(*), CAST(SUM(ok) AS BIGINT),
      |  CAST(SUM(pk) AS BIGINT)
      |FROM base, q WHERE pk BETWEEN lo AND hi
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(ok) AS BIGINT),
      |  CAST(SUM(pk) AS BIGINT)
      |FROM base
      |ORDER BY face""".stripMargin

  // ---------------------------------------------------------------- q271
  /** INCREMENTAL SEARCH-INDEX MAINTENANCE — q123's inverted index kept
    * current from q222's change feed instead of rebuilt (the Hudi
    * metadata-index / incremental-materialization pattern): the index
    * state is a vocabulary-sized grid (term → df, Σtf, Σdoc_id, all
    * SIGN-FOLDABLE — which is exactly why postings digests are not in
    * the incremental state: a digest cannot absorb a delete), and each
    * poll tokenizes ONLY the changed documents, aggregates a signed
    * per-term delta (+1 insert, −1 delete; an update contributes both,
    * so df cancels and tf moves by the edit), and merges grid-into-grid.
    * Per poll the work is feed-sized + one term exchange — the corpus
    * is never rescanned, the property that turns index maintenance from
    * a nightly rebuild into a changefeed-sized job at 100 TB. Lifecycle
    * on trial: two appends → poll → file-granular MERGE (text edit) +
    * row-level delete vector + compaction (zero feed rows by metadata)
    * → poll. Face 0 = the poll ledger (feed insert/delete row counts,
    * oracle-restated from the action set); face 1 = the FINAL folded
    * index, which must hash-equal the oracle's from-scratch index over
    * the final table — the IVM identity across the whole lifecycle. */
  def q271(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q271_tbl")
    // fixture sizing (round-9 verdict item 2): the incremental-index claim
    // needs a multi-action lifecycle, not corpus bulk — the %6∈{0,3} third
    // halves the tokenize work of the previous %3∈{0,1} slice, and the
    // checkpoint stages it with ONE scan of documents
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .filter(expr("doc_id % 6 in (0, 3)")).localCheckpoint()
    def poll(state: DataFrame, fromV: Long, toV: Long): (DataFrame, Long, Long) = {
      val feed = TxnLog.changes(s, dir, fromV, toV)
        .select(col("doc_id"),
          when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)).as("sign"),
          col("text")).localCheckpoint() // feed-sized: one CDF evaluation per poll
      val counts = feed.groupBy(col("sign")).agg(count(lit(1)).as("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // per-FEED-ROW term counts, not per (doc, sign): one lifecycle can
      // legitimately emit two distinct −1 rows for a doc in one poll
      // (merge deletes the old version, the vector deletes the new one)
      // and each must contribute its own −1 to df — collapsing them on
      // (doc_id, sign) under-counts the delete side
      val delta = feed.withColumn("rid", monotonically_increasing_id())
        .select(col("rid"), col("doc_id"), col("sign"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .groupBy(col("term"), col("rid"))
        .agg(first(col("doc_id")).as("doc_id"), first(col("sign")).as("sign"),
          count(lit(1)).as("tf"))
        .groupBy(col("term"))
        .agg(sum(col("sign")).as("df"), sum(col("sign") * col("tf")).as("tf"),
          sum(col("sign") * col("doc_id")).as("id_sum"))
      val merged = state.unionByName(delta)
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"),
          sum(col("id_sum")).as("id_sum"))
        .filter(col("df") > 0)
        .localCheckpoint() // vocabulary-sized stored index, never the corpus
      (merged, counts.getOrElse(1L, 0L), counts.getOrElse(-1L, 0L))
    }
    val empty = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      new org.apache.spark.sql.types.StructType()
        .add("term", "string").add("df", "long")
        .add("tf", "long").add("id_sum", "long"))
    TxnLog.commit(docs.filter(expr("doc_id % 6 = 0")).coalesce(1), dir)
    TxnLog.commit(docs.filter(expr("doc_id % 6 = 3")).coalesce(1), dir)
    val (s1, i1, d1) = poll(empty, 0L, TxnLog.currentVersion(dir))
    val cursor = TxnLog.currentVersion(dir)
    TxnLog.merge(s, dir,
      docs.filter(expr("doc_id % 7 = 0"))
        .select(col("doc_id"), concat(col("text"), lit(" graftedit")).as("text")),
      Seq("doc_id"))
    TxnLog.deleteVector(s, dir, "doc_id % 5 = 0", Seq("doc_id"))
    TxnLog.compact(s, dir)
    val (s2, i2, d2) = poll(s1, cursor, TxnLog.currentVersion(dir))
    val ledger = s.createDataFrame(
      java.util.Arrays.asList(
        Row(0L, "poll1", i1, d1, 0L), Row(0L, "poll2", i2, d2, 0L)),
      new org.apache.spark.sql.types.StructType()
        .add("face", "long").add("term", "string").add("df", "long")
        .add("tf", "long").add("id_sum", "long"))
    ledger.unionByName(s2.select(lit(1L).as("face"), col("term"),
        col("df"), col("tf"), col("id_sum")))
      .orderBy(col("face"), col("term"))
  }
  val q271Sql: String =
    """WITH tbl0 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 6 IN (0, 3)),
      |src AS (SELECT doc_id FROM tbl0 WHERE doc_id % 7 = 0),
      |merged AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' graftedit' ELSE text END AS text
      |  FROM tbl0),
      |final AS (SELECT * FROM merged WHERE doc_id % 5 <> 0),
      |tf AS (
      |  SELECT u.term, doc_id, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |    FROM final) u
      |  GROUP BY 1, 2),
      |polls AS (
      |  SELECT 'poll1' AS term, (SELECT COUNT(*) FROM tbl0) AS i, 0 AS d
      |  UNION ALL
      |  SELECT 'poll2', (SELECT COUNT(*) FROM src),
      |    (SELECT COUNT(*) FROM src)
      |      + (SELECT COUNT(*) FROM merged WHERE doc_id % 5 = 0))
      |SELECT CAST(0 AS BIGINT) AS face, term, CAST(i AS BIGINT) AS df,
      |  CAST(d AS BIGINT) AS tf, CAST(0 AS BIGINT) AS id_sum
      |FROM polls
      |UNION ALL
      |SELECT 1, term, COUNT(*), CAST(SUM(tf) AS BIGINT),
      |  CAST(SUM(doc_id) AS BIGINT)
      |FROM tf GROUP BY 2
      |ORDER BY face, term""".stripMargin

  // ---------------------------------------------------------------- q272
  /** MERGE INTO with the FULL action grammar (q221 gates the whole-row
    * upsert; this gates the general statement): the target holds the
    * %3 == 0 orders slice in TWO files (even/odd keys — file granularity
    * means a source that misses a file leaves it unmoved, spec-pinned);
    * the source carries %4 == 0 keys with shifted prices, so matched
    * rows split three ways —
    *   WHEN MATCHED AND src price > target price  THEN DELETE,
    *   WHEN MATCHED                               THEN UPDATE SET
    *     price = price + src price, status = 'M'  (simultaneous SETs,
    *     both sides in scope),
    *   WHEN NOT MATCHED                           THEN INSERT.
    * The oracle restates the final table with plain joins/CASE (DuckDB
    * has no MERGE — which is rather the point: the statement reduces to
    * relational algebra, and the hash gate checks this engine's
    * reduction). Price arithmetic is single-rounding IEEE on both
    * engines (int expression added to a double once). */
  def q272(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q272_tbl")
    val base = Tables.orders(s, d).filter(expr("o_orderkey % 3 = 0"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    TxnLog.commit(base.filter(expr("o_orderkey % 2 = 0")).repartition(1), dir)
    TxnLog.commit(base.filter(expr("o_orderkey % 2 = 1")).repartition(1), dir)
    val src = Tables.orders(s, d).filter(expr("o_orderkey % 4 = 0"))
      .select(col("o_orderkey"),
        expr("o_totalprice + (o_orderkey % 2000 - 1000)").as("o_totalprice"),
        lit("S").as("o_orderstatus"))
    TxnLog.mergeInto(s, dir, src, Seq("o_orderkey"), TxnLog.MergeActions(
      deleteWhen = Some("src_o_totalprice > o_totalprice"),
      updateSet = Some(Seq(
        "o_totalprice" -> "o_totalprice + src_o_totalprice",
        "o_orderstatus" -> "'M'")),
      insert = true))
    TxnLog.read(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }
  val q272Sql: String =
    """WITH tbl AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |src AS (
      |  SELECT o_orderkey,
      |    o_totalprice + (o_orderkey % 2000 - 1000) AS o_totalprice,
      |    'S' AS o_orderstatus
      |  FROM orders WHERE o_orderkey % 4 = 0),
      |deleted AS (
      |  SELECT t.o_orderkey FROM tbl t JOIN src s USING (o_orderkey)
      |  WHERE s.o_totalprice > t.o_totalprice)
      |SELECT t.o_orderkey,
      |  CASE WHEN s.o_orderkey IS NOT NULL
      |       THEN t.o_totalprice + s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
      |  CASE WHEN s.o_orderkey IS NOT NULL THEN 'M' ELSE t.o_orderstatus END AS o_orderstatus
      |FROM tbl t LEFT JOIN src s USING (o_orderkey)
      |WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM deleted)
      |UNION ALL
      |SELECT s.* FROM src s
      |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM tbl)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q228
  /** SHALLOW CLONE (zero-copy table fork): source = two appends + a
    * pending MACHINERY delete vector; [[TxnLog.clone]] forks it in ONE
    * metadata write — the ledger face pins `part_dirs_at_clone = 0`, the
    * no-bytes-copied claim — carrying the vector. The tables then diverge:
    * the clone appends 25 'CLONED' nation-keyed rows and vectors away
    * FURNITURE; the SOURCE appends 'SRCONLY' supplier-keyed rows AFTER the
    * clone. Faces: source latest (sees SRCONLY, not the clone's edits),
    * clone latest (sees CLONED + the carried MACHINERY suppression + its
    * own FURNITURE vector, not SRCONLY) — exactly the fork semantics. The
    * ledger also pins the clone's action chain ADAD (clone-A, carried-D,
    * append-A, vector-D). At 100 TB: experiment branches, dev snapshots,
    * and migration rehearsals all cost one manifest, not a copy. */
  def q228(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val src = graft.io.FsUtil.scratchDir("graft_q228_src")
    val dst = graft.io.FsUtil.scratchDir("graft_q228_dst")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")).coalesce(1), src)
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), src)
    TxnLog.deleteVector(s, src, "c_mktsegment = 'MACHINERY'", Seq("c_custkey"))
    TxnLog.clone(s, src, dst)
    val partDirsAtClone = Option(new java.io.File(dst).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("part-")).toLong
    TxnLog.commit(Tables.nation(s, d).select(
      (lit(9000000L) + col("n_nationkey")).as("c_custkey"),
      lit("CLONED").as("c_mktsegment"),
      (col("n_nationkey").cast("double") * lit(2.5)).as("c_acctbal")), dst)
    TxnLog.deleteVector(s, dst, "c_mktsegment = 'FURNITURE'", Seq("c_custkey"))
    TxnLog.commit(Tables.supplier(s, d).select(
      (lit(8000000L) + col("s_suppkey")).as("c_custkey"),
      lit("SRCONLY").as("c_mktsegment"),
      (col("s_suppkey").cast("double") * lit(0.5)).as("c_acctbal")), src)
    def face(dir: String, tag: Long) =
      TxnLog.read(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
        .withColumn("face", lit(tag))
    val actions = TxnLog.history(s, dst).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("face"), lit(actions).as("c_mktsegment"),
      lit(partDirsAtClone).as("n"), lit(TxnLog.currentVersion(dst).toDouble).as("sum_bal"))
    ledger.unionByName(face(src, 1L)).unionByName(face(dst, 2L))
      .select(col("face"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("face"), col("c_mktsegment"))
  }
  val q228Sql: String =
    """WITH cust AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |srcface AS (
      |  SELECT c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM (SELECT * FROM cust WHERE c_mktsegment <> 'MACHINERY'
      |        UNION ALL
      |        SELECT 8000000 + s_suppkey, 'SRCONLY', CAST(s_suppkey AS DOUBLE) * 0.5
      |        FROM supplier)
      |  GROUP BY 1),
      |dstface AS (
      |  SELECT c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM (SELECT * FROM cust
      |        WHERE c_mktsegment NOT IN ('MACHINERY', 'FURNITURE')
      |        UNION ALL
      |        SELECT 9000000 + n_nationkey, 'CLONED', CAST(n_nationkey AS DOUBLE) * 2.5
      |        FROM nation)
      |  GROUP BY 1)
      |SELECT CAST(0 AS BIGINT) AS face, 'ADAD' AS c_mktsegment,
      |       CAST(0 AS BIGINT) AS n, CAST(4 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT 1, c_mktsegment, CAST(n AS BIGINT), CAST(sum_bal AS DOUBLE) FROM srcface
      |UNION ALL
      |SELECT 2, c_mktsegment, CAST(n AS BIGINT), CAST(sum_bal AS DOUBLE) FROM dstface
      |ORDER BY face, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q229
  /** EXACTLY-ONCE STREAMING SINK: events staged as three files drive three
    * micro-batches (maxFilesPerTrigger=1); foreachBatch commits each batch
    * through [[TxnLog.commitIdempotent]] — and immediately commits it
    * AGAIN with the same (writerId, batchId), simulating the replay a
    * driver restart produces. After the stream, a third replay of batchId
    * 0 is attempted cold with a POISONED frame (the full table — if
    * idempotence failed, counts double and the hash gate catches it). The
    * rowset face proves the table equals the input EXACTLY (no batch
    * landed twice); the ledger face pins currentVersion = 3 and the action
    * chain TTT — three writer-txn commits, zero duplicates. This is the
    * Delta `txn`-action pattern: the sink's table is idempotent under the
    * source's at-least-once replay, which is what "exactly-once" means for
    * a 100 TB streaming ingest. */
  def q229(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val staged = graft.io.FsUtil.scratchDir("graft_q229_src")
    val tbl = graft.io.FsUtil.scratchDir("graft_q229_tbl")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    ev.repartition(3).write.mode("overwrite").parquet(staged)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    val wid = "graft-q229"
    val q = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        TxnLog.commitIdempotent(batch, tbl, wid, id)
        TxnLog.commitIdempotent(batch, tbl, wid, id) // in-flight replay: must no-op
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // cold replay after "restart": batch 0 re-delivered with a poisoned
    // payload — the recorded txn must win and nothing must be written
    TxnLog.commitIdempotent(s.read.parquet(staged), tbl, wid, 0L)
    val face = TxnLog.read(s, tbl)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
      .withColumn("face", lit(1L))
    val actions = TxnLog.history(s, tbl).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("face"), lit(actions).as("event_type"),
      lit(TxnLog.currentVersion(tbl)).as("n"), lit(0L).as("id_sum"))
    ledger.unionByName(face)
      .select(col("face"), col("event_type"), col("n"), col("id_sum"))
      .orderBy(col("face"), col("event_type"))
  }
  val q229Sql: String =
    """SELECT CAST(0 AS BIGINT) AS face, 'TTT' AS event_type,
      |       CAST(3 AS BIGINT) AS n, CAST(0 AS BIGINT) AS id_sum
      |UNION ALL
      |SELECT 1, event_type, COUNT(*), CAST(SUM(event_id) AS BIGINT)
      |FROM events GROUP BY 2
      |ORDER BY face, event_type""".stripMargin

  // ---------------------------------------------------------------- q231
  /** CDF-DRIVEN INCREMENTAL VIEW MAINTENANCE — the consumer loop that
    * closes the q222 feed: a downstream per-segment aggregate is maintained
    * by POLLING [[TxnLog.changes]] with a version cursor (exactly how a
    * lakehouse streaming source tails the commit ledger) and folding each
    * increment — + inserts, − deletes — into the stored grid, never
    * rescanning the table. Three polls cover a five-action lifecycle
    * (append, append+merge, vector-delete+compact); the final folded state
    * must equal the direct aggregate of the latest snapshot — the IVM
    * identity read(latest) = fold(∅, increments) proven THROUGH the
    * change feed, with the compaction contributing zero rows. The ledger
    * face pins each poll's insert/delete row counts. At 100 TB the
    * increment is bounded by the commits since the cursor, not the table. */
  def q231(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q231_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    def fold(state: DataFrame, fromV: Long, toV: Long): (DataFrame, Long, Long) = {
      // ONE pass over the change feed per poll: the (segment, sign) grid
      // carries row counts and signed key sums, so the poll ledger and the
      // view merge both derive from this grid-sized checkpoint — the CDF
      // (which re-reads exchanged/diffed files on every action) is never
      // evaluated twice
      val grid = TxnLog.changes(s, dir, fromV, toV)
        .select(col("c_mktsegment"),
          when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)).as("sign"),
          col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("sign"))
        .agg(count(lit(1)).as("rows"), sum(col("c_custkey")).as("keys"))
        .localCheckpoint()
      val counts = grid.groupBy(col("sign")).agg(sum(col("rows")).as("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val merged = state.unionByName(
        grid.select(col("c_mktsegment"), (col("sign") * col("rows")).as("n"),
          (col("sign") * col("keys")).as("key_sum")))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("n")).as("n"), sum(col("key_sum")).as("key_sum"))
        .filter(col("n") > 0)
        .localCheckpoint() // the stored view: grid-sized, never the table
      (merged, counts.getOrElse(1L, 0L), counts.getOrElse(-1L, 0L))
    }
    val empty = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      new org.apache.spark.sql.types.StructType()
        .add("c_mktsegment", "string").add("n", "long").add("key_sum", "long"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")).coalesce(1), dir)
    val (s1, i1, d1) = fold(empty, 0L, TxnLog.currentVersion(dir))
    var cursor = TxnLog.currentVersion(dir)
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), dir)
    TxnLog.merge(s, dir, cust
      .filter(expr("c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'"))
      .select(col("c_custkey"), lit("UPSERTED").as("c_mktsegment"),
        (-col("c_acctbal")).as("c_acctbal")), Seq("c_custkey"))
    val (s2, i2, d2) = fold(s1, cursor, TxnLog.currentVersion(dir))
    cursor = TxnLog.currentVersion(dir)
    TxnLog.deleteVector(s, dir, "c_mktsegment = 'AUTOMOBILE'", Seq("c_custkey"))
    TxnLog.compact(s, dir)
    val (s3, i3, d3) = fold(s2, cursor, TxnLog.currentVersion(dir))
    val polls = Seq((1L, i1, d1), (2L, i2, d2), (3L, i3, d3))
    val ledger = s.createDataFrame(polls.map { case (p, i, dl) =>
      Row(0L, s"poll$p", i, dl)
    }.asJava, new org.apache.spark.sql.types.StructType()
      .add("face", "long").add("c_mktsegment", "string")
      .add("n", "long").add("key_sum", "long"))
    ledger.unionByName(s3.withColumn("face", lit(1L))
      .select(col("face"), col("c_mktsegment"), col("n"), col("key_sum")))
      .orderBy(col("face"), col("c_mktsegment"))
  }
  val q231Sql: String =
    """WITH cust AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |upd AS (SELECT c_custkey FROM cust
      |        WHERE c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'),
      |merged AS (
      |  SELECT c_custkey, c_mktsegment FROM cust
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
      |  UNION ALL
      |  SELECT c_custkey, 'UPSERTED' FROM upd),
      |final AS (SELECT * FROM merged WHERE c_mktsegment <> 'AUTOMOBILE'),
      |polls AS (
      |  SELECT 'poll1' AS tag,
      |    (SELECT COUNT(*) FROM cust WHERE c_custkey % 2 = 0) AS i,
      |    0 AS d
      |  UNION ALL
      |  SELECT 'poll2',
      |    (SELECT COUNT(*) FROM cust WHERE c_custkey % 2 = 1)
      |      + (SELECT COUNT(*) FROM upd),
      |    (SELECT COUNT(*) FROM upd)
      |  UNION ALL
      |  SELECT 'poll3',
      |    0,
      |    (SELECT COUNT(*) FROM merged WHERE c_mktsegment = 'AUTOMOBILE'))
      |SELECT CAST(0 AS BIGINT) AS face, tag AS c_mktsegment,
      |       CAST(i AS BIGINT) AS n, CAST(d AS BIGINT) AS key_sum
      |FROM polls
      |UNION ALL
      |SELECT 1, c_mktsegment, CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(c_custkey) AS BIGINT)
      |FROM final GROUP BY 2
      |ORDER BY face, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q232
  /** SCHEMA EVOLUTION on the txn-log table: v1 commits (c_custkey,
    * c_mktsegment) — two columns; v2 ADDS c_acctbal by committing the
    * wider schema (evolution is just a commit whose files carry more
    * columns); v3 vector-deletes MACHINERY. `read(mergeSchema = true)`
    * serves the union — pre-evolution rows surface c_acctbal as NULL —
    * while TIME TRAVEL to v1 naturally serves the OLD two-column schema
    * (the ledger face pins both column counts). The rowset face aggregates
    * per segment: total rows, rows with the new column present, and the
    * exact decimal sum over just the post-evolution rows — each a claim
    * about which generation a row came from. At 100 TB: adding a column
    * never rewrites a file; old files simply don't store it. */
  def q232(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q232_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0"))
      .select(col("c_custkey"), col("c_mktsegment")).coalesce(1), dir)
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), dir)
    TxnLog.deleteVector(s, dir, "c_mktsegment = 'MACHINERY'", Seq("c_custkey"))
    val colsV1 = TxnLog.read(s, dir, Some(1L), mergeSchema = true).columns.length.toLong
    val latest = TxnLog.read(s, dir, mergeSchema = true)
    val colsLatest = latest.columns.length.toLong
    val face = latest.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        count(col("c_acctbal")).as("n_evolved"),
        coalesce(sum(col("c_acctbal").cast(DecimalType(18, 2))), lit(0))
          .cast("double").as("sum_bal"))
      .withColumn("face", lit(1L))
    val ledger = s.range(1).select(lit(0L).as("face"),
      concat(lit("cols:"), lit(colsV1), lit(">"), lit(colsLatest)).as("c_mktsegment"),
      lit(TxnLog.currentVersion(dir)).as("n"), lit(0L).as("n_evolved"),
      lit(0.0).as("sum_bal"))
    ledger.unionByName(face)
      .select(col("face"), col("c_mktsegment"), col("n"), col("n_evolved"), col("sum_bal"))
      .orderBy(col("face"), col("c_mktsegment"))
  }
  val q232Sql: String =
    """WITH cust AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |vis AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
      |  FROM cust WHERE c_mktsegment <> 'MACHINERY')
      |SELECT CAST(0 AS BIGINT) AS face, 'cols:2>3' AS c_mktsegment,
      |       CAST(3 AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_evolved,
      |       CAST(0 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT 1, c_mktsegment, COUNT(*), COUNT(c_acctbal),
      |       CAST(COALESCE(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 0) AS DOUBLE)
      |FROM vis GROUP BY 2
      |ORDER BY face, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q233
  /** BLOOM-FILTER FILE SKIPPING — the POINT-LOOKUP complement to q223's
    * zone maps (range stats cannot skip a file for `k = x` when x lies
    * inside every file's min/max, exactly the case here: customers land in
    * four files by custkey MOD 4, so every file spans the whole range).
    * Each commit carries a 256-bit/4-probe bloom sidecar over c_custkey
    * (probe j = j-th 16-bit md5 word mod 256 — deterministic and REPLAYED
    * BY THE ORACLE, which rebuilds every file's filter and every probe's
    * bits in SQL and states the planned-file count independently). Four
    * probes: three present keys and one absent; `planned` counts the true
    * file plus any bloom false positives — whatever the arithmetic says,
    * both engines must agree bit-for-bit. The rowset columns prove
    * soundness: each present probe finds exactly its row through the
    * pruned scan, the absent probe finds nothing. At 100 TB this is the
    * needle-in-haystack path: a point lookup opens the files the filter
    * cannot exclude, not the table. */
  def q233(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q233_tbl")
    val cust = Tables.customer(s, d).select(col("c_custkey"))
    (0 until 4).foreach { m =>
      TxnLog.commitWithBloom(
        cust.filter(expr(s"c_custkey % 4 = $m")).coalesce(1), dir, "c_custkey")
    }
    val probes = Seq(1L, 2L, 7L, 987654321L)
    val faces = probes.map { p =>
      val scan = TxnLog.scanPoint(s, dir, "c_custkey", p.toString)
      scan.df.agg(count(lit(1)).as("n"),
          coalesce(sum(col("c_custkey")), lit(0L)).as("key_sum"))
        .select(lit(p).as("probe"), lit(scan.plannedFiles.toLong).as("planned"),
          lit(scan.totalFiles.toLong).as("total"), col("n"), col("key_sum"))
    }
    faces.reduce(_.unionByName(_)).orderBy(col("probe"))
  }
  val q233Sql: String =
    """WITH keys AS (SELECT c_custkey AS k, c_custkey % 4 AS f FROM customer),
      |js(j) AS (VALUES (0), (1), (2), (3)),
      |probes(p) AS (VALUES (1), (2), (7), (987654321)),
      |filepos AS (
      |  SELECT DISTINCT f,
      |    ('0x' || substr(md5('bloom:' || CAST(k AS VARCHAR)), j*4+1, 4))::INT % 256 AS pos
      |  FROM keys, js),
      |pbits AS (
      |  SELECT DISTINCT p,
      |    ('0x' || substr(md5('bloom:' || CAST(p AS VARCHAR)), j*4+1, 4))::INT % 256 AS pos
      |  FROM probes, js),
      |hit AS (
      |  SELECT x.p, x.f, BOOL_AND(fp.pos IS NOT NULL) AS all_in
      |  FROM (SELECT pb.p, pb.pos, fs.f
      |        FROM pbits pb CROSS JOIN (SELECT DISTINCT f FROM keys) fs(f)) x
      |  LEFT JOIN filepos fp ON fp.f = x.f AND fp.pos = x.pos
      |  GROUP BY 1, 2),
      |planned AS (
      |  SELECT p, COUNT(*) FILTER (WHERE all_in) AS planned FROM hit GROUP BY 1)
      |SELECT CAST(p AS BIGINT) AS probe, CAST(planned AS BIGINT) AS planned,
      |  CAST(4 AS BIGINT) AS total,
      |  (SELECT COUNT(*) FROM keys WHERE k = p) AS n,
      |  CAST((SELECT COALESCE(SUM(k), 0) FROM keys WHERE k = p) AS BIGINT) AS key_sum
      |FROM planned
      |ORDER BY probe""".stripMargin

  // ---------------------------------------------------------------- q234
  /** CHECKPOINTED LOG REPLAY: the reader-planning half of the commit
    * protocol at depth. Lifecycle: v1/v2 append the customer halves, v3
    * delete-vectors the MACHINERY segment, v4 appends nation-keyed
    * INSERTED rows, CHECKPOINT at 4 (folds files + the still-pending
    * vector into one sidecar), v5 appends the LATE nation rows PLUS a
    * verbatim re-append of every MACHINERY row — which the checkpointed
    * vector must keep suppressing (value-based delete-by-key survives
    * serialization). Faces: as-of 2 (pre-delete), as-of 3 (vector
    * applied via full replay), latest (seeded from the checkpoint, one
    * manifest folded on top). Ledger rows pin the protocol metadata the
    * checkpoint exists to bound: action chain AADAA at version 5, the
    * checkpoint version 4, foldCost(latest) = 1 (one commit since the
    * checkpoint) and foldCost(as-of 3) = 3 (below the checkpoint →
    * full-prefix replay; time travel never reads a too-new seed). At
    * 100 TB this is the difference between O(10⁶)-manifest planning per
    * query and O(interval). */
  def q234(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q234_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")).coalesce(1), dir) // v1
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), dir) // v2
    TxnLog.deleteVector(s, dir, "c_mktsegment = 'MACHINERY'", Seq("c_custkey")) // v3
    def nationRows(base: Long, seg: String, mult: Double) =
      Tables.nation(s, d).select(
        (lit(base) + col("n_nationkey")).as("c_custkey"),
        lit(seg).as("c_mktsegment"),
        (col("n_nationkey").cast("double") * lit(mult)).as("c_acctbal"))
    TxnLog.commit(nationRows(9000000L, "INSERTED", 1.5).coalesce(1), dir) // v4
    val ckptV = TxnLog.checkpoint(dir)
    TxnLog.commit( // v5: LATE rows + the suppressed-by-vector re-append
      nationRows(9500000L, "LATE", 2.5)
        .unionByName(cust.filter(expr("c_mktsegment = 'MACHINERY'")))
        .coalesce(1), dir)
    def face(asOf: Option[Long], tag: Long) =
      TxnLog.read(s, dir, asOf)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
        .withColumn("as_of", lit(tag))
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(
      lit(0L).as("as_of"), lit(actions).as("c_mktsegment"),
      lit(TxnLog.currentVersion(dir)).as("n"),
      lit(TxnLog.foldCost(dir).toDouble).as("sum_bal"))
      .unionByName(s.range(1).select(
        lit(1L).as("as_of"), lit("ckpt").as("c_mktsegment"),
        lit(ckptV).as("n"),
        lit(TxnLog.foldCost(dir, Some(3L)).toDouble).as("sum_bal")))
    ledger.unionByName(face(Some(2L), 2L)).unionByName(face(Some(3L), 3L))
      .unionByName(face(None, 5L))
      .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q234Sql: String =
    """WITH target AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |kept AS (SELECT * FROM target WHERE c_mktsegment <> 'MACHINERY'),
      |ins AS (
      |  SELECT 9000000 + n_nationkey AS c_custkey, 'INSERTED' AS c_mktsegment,
      |         CAST(n_nationkey AS DOUBLE) * 1.5 AS c_acctbal FROM nation),
      |late AS (
      |  SELECT 9500000 + n_nationkey, 'LATE', CAST(n_nationkey AS DOUBLE) * 2.5
      |  FROM nation),
      |v5 AS (SELECT * FROM kept UNION ALL SELECT * FROM ins
      |       UNION ALL SELECT * FROM late),
      |faces AS (
      |  SELECT 2 AS as_of, c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM target GROUP BY 2
      |  UNION ALL
      |  SELECT 3, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM kept GROUP BY 2
      |  UNION ALL
      |  SELECT 5, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM v5 GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'AADAA' AS c_mktsegment,
      |       CAST(5 AS BIGINT) AS n, CAST(1 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), 'ckpt', CAST(4 AS BIGINT), CAST(3 AS DOUBLE)
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), c_mktsegment, CAST(n AS BIGINT),
      |       CAST(sum_bal AS DOUBLE)
      |FROM faces
      |ORDER BY as_of, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q237
  /** PARTIAL COMPACTION (OPTIMIZE of the small-file tail): v1 commits the
    * whole customer table as one large file; v2–v5 append four tiny
    * nation-derived commits (the streaming-append tail); v6
    * delete-vectors the BUILDING segment; v7 `compactSmall` bin-packs
    * ONLY the four small files into one via an `X noop` exchange — the
    * large file's bytes never move, and the pending vector stays pending
    * (value-based anti-joins re-apply across the exchange). Faces: as-of
    * 5 (pre-delete, pre-pack), latest (vector applied over the packed
    * layout — identical rowset to an unpacked read). Ledger rows pin the
    * protocol: action chain AAAAADX at version 7, the exchange body is
    * exactly 5 lines (4 removes + 1 add), and the CDF over the exchange
    * is EMPTY by metadata alone (X noop = record-identity, the
    * OPTIMIZE-is-not-a-data-change contract). At 100 TB this is the
    * maintenance op that fixes a metadata-sized problem at metadata-
    * sized cost, where full compaction would rewrite the table. */
  def q237(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q237_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.coalesce(1), dir)                                  // v1
    (0 until 4).foreach { i =>                                            // v2..v5
      TxnLog.commit(Tables.nation(s, d).select(
        (lit(9000000L + i * 100L) + col("n_nationkey")).as("c_custkey"),
        lit(s"PACK$i").as("c_mktsegment"),
        (col("n_nationkey").cast("double") * lit(i + 0.5)).as("c_acctbal"))
        .coalesce(1), dir)
    }
    TxnLog.deleteVector(s, dir, "c_mktsegment = 'BUILDING'", Seq("c_custkey")) // v6
    // threshold sits an order of magnitude between the tail (~2 KB
    // nation files) and the base file (≥15 KB at the gate's sf0.01)
    TxnLog.compactSmall(s, dir, thresholdBytes = 8000L)                   // v7
    def face(asOf: Option[Long], tag: Long) =
      TxnLog.read(s, dir, asOf)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
        .withColumn("as_of", lit(tag))
    val hist = TxnLog.history(s, dir).collect().sortBy(_.getLong(0))
    val actions = hist.map(_.getString(1)).mkString
    val xBody = hist.last.getLong(2)
    val cdfRows = TxnLog.changes(s, dir, 6L, 7L).count()
    val ledger = s.range(1).select(
      lit(0L).as("as_of"), lit(actions).as("c_mktsegment"),
      lit(TxnLog.currentVersion(dir)).as("n"), lit(cdfRows.toDouble).as("sum_bal"))
      .unionByName(s.range(1).select(
        lit(1L).as("as_of"), lit("xbody").as("c_mktsegment"),
        lit(xBody).as("n"), lit(0.0).as("sum_bal")))
    ledger.unionByName(face(Some(5L), 5L)).unionByName(face(None, 7L))
      .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q237Sql: String =
    """WITH target AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |packs AS (
      |  SELECT 9000000 + i*100 + n_nationkey AS c_custkey,
      |         'PACK' || CAST(i AS VARCHAR) AS c_mktsegment,
      |         CAST(n_nationkey AS DOUBLE) * (i + 0.5) AS c_acctbal
      |  FROM nation, range(0, 4) t(i)),
      |v5 AS (SELECT * FROM target UNION ALL SELECT * FROM packs),
      |v7 AS (SELECT * FROM v5 WHERE c_mktsegment <> 'BUILDING'),
      |faces AS (
      |  SELECT 5 AS as_of, c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM v5 GROUP BY 2
      |  UNION ALL
      |  SELECT 7, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM v7 GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'AAAAADX' AS c_mktsegment,
      |       CAST(7 AS BIGINT) AS n, CAST(0 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), 'xbody', CAST(5 AS BIGINT), CAST(0 AS DOUBLE)
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), c_mktsegment, CAST(n AS BIGINT),
      |       CAST(sum_bal AS DOUBLE)
      |FROM faces
      |ORDER BY as_of, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q239
  /** TABLE-CHANGES-AS-A-STREAM: readStream over the txn log through the
    * DSv2 source (sources/TxnStreamSource) — offsets ARE commit
    * versions, so discovery is O(1) metadata per trigger (never a
    * directory walk) and a replayed batch re-reads exactly the same
    * rows (manifests are immutable). Fixture: three append commits of
    * the doc_id % 3 slices, `maxVersionsPerTrigger = 1` → one
    * micro-batch per commit, each batch rolled up per (source, lang)
    * and tagged with its batch id. The oracle restates batch b as the
    * rollup of slice b — any mis-ranged offset, replayed file, or
    * dropped commit breaks the hash. (TxnStreamSourceSpec drives the
    * non-append poisoning, checkpoint restart, and pushdown contracts;
    * q229 is the matching exactly-once SINK.) */
  def q239(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q239_tbl")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    (0 until 3).foreach(i =>
      TxnLog.commit(docs.filter(expr(s"doc_id % 3 = $i")).coalesce(1), dir))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long, Long)]
    val q = s.readStream.format(classOf[graft.sources.TxnStreamSource].getName)
      .option("path", dir).option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .collect().foreach(r => rows.synchronized {
            rows += ((id, r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
          })
        ()
      }
      .queryName(s"graft_q239_${java.lang.Integer.toHexString(d.hashCode)}")
      .start()
    try q.processAllAvailable() finally q.stop()
    import s.implicits._
    rows.toSeq.toDF("batch", "source", "lang", "n_docs", "sum_chars")
      .orderBy(col("batch"), col("source"), col("lang"))
  }
  val q239Sql: String =
    """SELECT CAST(doc_id % 3 AS BIGINT) AS batch, source, lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY 1, 2, 3
      |ORDER BY batch, source, lang""".stripMargin

  // ---------------------------------------------------------------- q240
  /** TABLE → TABLE streaming pipeline, EXACTLY-ONCE ON BOTH ENDS: the
    * q239 source (offsets = versions, replay-exact) feeds foreachBatch,
    * which lands each micro-batch's rollup in a SECOND txn-log table
    * through commitIdempotent (writer-txn markers, q229) — the composed
    * contract real lakehouse streaming sells: a crash between source
    * checkpoint and sink commit replays the batch, the sink recognizes
    * the (writerId, batchId) txn, and nothing lands twice. The fixture
    * then REPLAYS batch 0 with a POISONED frame after the drain — the
    * recorded txn must win (no write, version unchanged). Output: the
    * sink table's rows (each batch's rollup tagged with its batch id —
    * identical content to q239's oracle) plus a ledger row pinning the
    * sink's action chain TTT, its version after the replay (still 3),
    * and the replayed txn's resolved version (1). */
  def q240(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val srcDir = graft.io.FsUtil.scratchDir("graft_q240_src")
    val dstDir = graft.io.FsUtil.scratchDir("graft_q240_dst")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    (0 until 3).foreach(i =>
      TxnLog.commit(docs.filter(expr(s"doc_id % 3 = $i")).coalesce(1), srcDir))
    val q = s.readStream.format(classOf[graft.sources.TxnStreamSource].getName)
      .option("path", srcDir).option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = batch.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("sum_chars"))
          .withColumn("batch", lit(id))
        TxnLog.commitIdempotent(delta.coalesce(1), dstDir, "pipe", id)
        ()
      }
      .queryName(s"graft_q240_${java.lang.Integer.toHexString(d.hashCode)}")
      .start()
    try q.processAllAvailable() finally q.stop()
    // crash-replay: batch 0 arrives again, poisoned — the txn must win
    val replayed = TxnLog.commitIdempotent(
      s.range(1).select(lit("POISON").as("source"), lit("xx").as("lang"),
        lit(-1L).as("n_docs"), lit(-1L).as("sum_chars"), lit(0L).as("batch")),
      dstDir, "pipe", 0L)
    val actions = TxnLog.history(s, dstDir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(
      lit(-1L).as("batch"), lit(actions).as("source"), lit("_ledger").as("lang"),
      lit(TxnLog.currentVersion(dstDir)).as("n_docs"), lit(replayed).as("sum_chars"))
    TxnLog.read(s, dstDir)
      .select(col("batch"), col("source"), col("lang"), col("n_docs"), col("sum_chars"))
      .unionByName(ledger)
      .orderBy(col("batch"), col("source"), col("lang"))
  }
  val q240Sql: String =
    """SELECT CAST(-1 AS BIGINT) AS batch, 'TTT' AS source, '_ledger' AS lang,
      |  CAST(3 AS BIGINT) AS n_docs, CAST(1 AS BIGINT) AS sum_chars
      |UNION ALL
      |SELECT CAST(doc_id % 3 AS BIGINT), source, lang,
      |  CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |FROM documents
      |GROUP BY 1, 2, 3
      |ORDER BY batch, source, lang""".stripMargin

  // ---------------------------------------------------------------- q241
  /** CHECK CONSTRAINTS at commit time — the writer-side governance gate
    * (Delta's ADD CONSTRAINT): `bal_nonneg` (c_acctbal >= 0) and
    * `key_known` (c_custkey IS NOT NULL) registered before any data.
    * v1 = the conforming non-negative half; then the FULL table is
    * offered and REFUSED (the negative balances violate bal_nonneg —
    * nothing lands, version unchanged); v2 = the violating half with
    * balances negated, now conforming. The refusal's violation COUNT is
    * itself oracle-derivable (count of negative balances), so the gate
    * checks the validator's arithmetic, not just the refusal. Faces:
    * the final table = nonneg ∪ negated-negatives, grouped per segment.
    * Validation costs one aggregate over the incoming batch only —
    * never the table — which is what makes the gate affordable at
    * 100 TB ingest rates. */
  def q241(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q241_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.addConstraint(dir, "bal_nonneg", "c_acctbal >= 0")
    TxnLog.addConstraint(dir, "key_known", "c_custkey IS NOT NULL")
    TxnLog.commitChecked(cust.filter(expr("c_acctbal >= 0")).coalesce(1), dir) // v1
    val refused =
      try { TxnLog.commitChecked(cust.coalesce(1), dir); null }
      catch { case v: TxnLog.ConstraintViolation => v }
    require(refused != null, "violating commit was not refused")
    TxnLog.commitChecked( // v2: the offending rows, repaired
      cust.filter(expr("c_acctbal < 0"))
        .select(col("c_custkey"), col("c_mktsegment"), (-col("c_acctbal")).as("c_acctbal"))
        .coalesce(1), dir)
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(
      lit(0L).as("as_of"), lit(s"$actions:${refused.constraint}").as("c_mktsegment"),
      lit(refused.violations).as("n"), lit(0.0).as("sum_bal"))
    ledger.unionByName(
      TxnLog.read(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
        .withColumn("as_of", lit(2L))
        .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal")))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q241Sql: String =
    """WITH target AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |fixed AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal FROM target WHERE c_acctbal >= 0
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, -c_acctbal FROM target WHERE c_acctbal < 0),
      |faces AS (
      |  SELECT 2 AS as_of, c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM fixed GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'AA:bal_nonneg' AS c_mktsegment,
      |  (SELECT COUNT(*) FROM target WHERE NOT (c_acctbal >= 0)) AS n,
      |  CAST(0 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), c_mktsegment, CAST(n AS BIGINT),
      |       CAST(sum_bal AS DOUBLE)
      |FROM faces
      |ORDER BY as_of, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q242
  /** MERGE-ON-READ UPDATE, atomic and scoped: v1/v2 append the customer
    * halves; v3 = ONE `U` commit negating every BUILDING balance (key
    * values + replacement rows land together — readers never see the
    * deleteVector+append between-state, and a one-row update at 100 TB
    * writes one key file + one row file, no rewrite); v4 appends
    * nation-keyed BUILDING rows whose keys COLLIDE with updated
    * customers — they stay visible, because the update vector is scoped
    * to the files below it (update replaces what WAS there; it is not
    * the D-vector's suppress-forever). Faces: as-of 2 (pre-update),
    * latest (negated BUILDING + the late rows). Ledger pins the AAUA
    * chain and the CDF row count over the update version = 2 × BUILDING
    * rows (its exact delete+insert pair). */
  def q242(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q242_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")).coalesce(1), dir) // v1
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), dir) // v2
    TxnLog.update(s, dir, "c_mktsegment = 'BUILDING'",
      Seq("c_acctbal" -> "-c_acctbal"), Seq("c_custkey"))                  // v3
    // v4: BUILDING rows keyed 1..25 — keys that EXIST among updated rows
    TxnLog.commit(Tables.nation(s, d).select(
      (lit(1L) + col("n_nationkey")).as("c_custkey"),
      lit("BUILDING").as("c_mktsegment"),
      (col("n_nationkey").cast("double") * lit(7.5)).as("c_acctbal"))
      .coalesce(1), dir)
    val cdfRows = TxnLog.changes(s, dir, 2L, 3L).count()
    def face(asOf: Option[Long], tag: Long) =
      TxnLog.read(s, dir, asOf)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
        .withColumn("as_of", lit(tag))
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(
      lit(0L).as("as_of"), lit(actions).as("c_mktsegment"),
      lit(cdfRows).as("n"), lit(0.0).as("sum_bal"))
    ledger.unionByName(face(Some(2L), 2L)).unionByName(face(None, 4L))
      .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q242Sql: String =
    """WITH target AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |late AS (
      |  SELECT 1 + n_nationkey AS c_custkey, 'BUILDING' AS c_mktsegment,
      |         CAST(n_nationkey AS DOUBLE) * 7.5 AS c_acctbal FROM nation),
      |v4 AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN -c_acctbal
      |         ELSE c_acctbal END AS c_acctbal
      |  FROM target
      |  UNION ALL SELECT * FROM late),
      |faces AS (
      |  SELECT 2 AS as_of, c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM target GROUP BY 2
      |  UNION ALL
      |  SELECT 4, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM v4 GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'AAUA' AS c_mktsegment,
      |  2 * (SELECT COUNT(*) FROM target WHERE c_mktsegment = 'BUILDING') AS n,
      |  CAST(0 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), c_mktsegment, CAST(n AS BIGINT),
      |       CAST(sum_bal AS DOUBLE)
      |FROM faces
      |ORDER BY as_of, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q247
  /** RESTORE — the undo commit: v1/v2 append the customer halves, v3 is
    * the fat-fingered CoW DELETE of the BUILDING segment, v4 RESTOREs to
    * version 2 as a NEW commit — metadata-only (the target snapshot has
    * no pending vectors, so the restore manifest just re-lists v2's
    * files: zero bytes moved even at 100 TB), history stays linear, and
    * the bad state remains time-travel-readable until vacuum. Faces:
    * as-of 3 (the damage), latest (the full table back). Ledger pins
    * AARR at version 4. */
  def q247(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q247_tbl")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")).coalesce(1), dir) // v1
    TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")).coalesce(1), dir) // v2
    TxnLog.delete(s, dir, "c_mktsegment = 'BUILDING'")                     // v3
    TxnLog.restore(s, dir, 2L)                                             // v4
    def face(asOf: Option[Long], tag: Long) =
      TxnLog.read(s, dir, asOf)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
        .withColumn("as_of", lit(tag))
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(
      lit(0L).as("as_of"), lit(actions).as("c_mktsegment"),
      lit(TxnLog.currentVersion(dir)).as("n"), lit(0.0).as("sum_bal"))
    ledger.unionByName(face(Some(3L), 3L)).unionByName(face(None, 4L))
      .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q247Sql: String =
    """WITH target AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |faces AS (
      |  SELECT 3 AS as_of, c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM target WHERE c_mktsegment <> 'BUILDING' GROUP BY 2
      |  UNION ALL
      |  SELECT 4, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM target GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'AARR' AS c_mktsegment,
      |       CAST(4 AS BIGINT) AS n, CAST(0 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), c_mktsegment, CAST(n AS BIGINT),
      |       CAST(sum_bal AS DOUBLE)
      |FROM faces
      |ORDER BY as_of, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q274
  /** COLUMN MAPPING on the txn-log table: metadata-only RENAME and DROP
    * (the Delta column-mapping surface). Lifecycle under test, exercising
    * every interplay the protocol promises:
    *   v1 `A`  even-orderkey half (physical columns o_orderkey,
    *           o_orderpriority, o_totalprice);
    *   v2 `D`  delete vector keyed on o_orderpriority — all '5-LOW' rows
    *           (committed BEFORE the rename, so applying it must
    *           translate its key column AND its key file through the
    *           rename that folds later — the rename-offset machinery);
    *   v3 `M`  renameColumn o_orderpriority → priority: ZERO data bytes
    *           move (TxnLogSpec pins the file census); v1's file is in
    *           the rename's scope, later files are not;
    *   v4 `A`  odd half written with the NEW logical name in-parquet —
    *           the value-based vector still suppresses its '5-LOW' rows
    *           (vectors delete by key, not by file);
    *   v5 `M`  dropColumn o_totalprice — logical removal, bytes stay.
    * Faces: as-of 1 serves the OLD schema (time travel below the rename
    * — aliased here for union alignment), current serves the mapped
    * table; the ledger row pins the action chain ADMAM + head version,
    * and the schema row pins the final read's column list — the rename
    * and the drop both visible in one string. At 100 TB this is the
    * whole point: renaming a column on a billion-file table is one
    * manifest write, and the next compaction materializes it for free. */
  def q274(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q274_tbl")
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    TxnLog.commit(base.filter(expr("o_orderkey % 2 = 0")).coalesce(1), dir)
    TxnLog.deleteVector(s, dir, "o_orderpriority = '5-LOW'", Seq("o_orderpriority"))
    TxnLog.renameColumn(dir, "o_orderpriority", "priority")
    TxnLog.commit(
      base.filter(expr("o_orderkey % 2 = 1"))
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          col("o_totalprice")).coalesce(1), dir)
    TxnLog.dropColumn(dir, "o_totalprice")
    def agg(df: DataFrame, tag: Long) = df
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
      .withColumn("as_of", lit(tag))
    val face1 = agg(TxnLog.read(s, dir, Some(1L))
      .select(col("o_orderkey"), col("o_orderpriority").as("priority")), 1L)
    val cur = TxnLog.read(s, dir)
    val faceNow = agg(cur, 5L)
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("as_of"), lit(actions).as("priority"),
      lit(TxnLog.currentVersion(dir)).as("n"), lit(0L).as("sum_key"))
    val schemaRow = s.range(1).select(lit(-1L).as("as_of"),
      // sorted: the DV anti-join (a USING join) rotates its key column
      // first — the proof is which columns EXIST, not their order
      lit(cur.columns.sorted.mkString(",")).as("priority"), lit(0L).as("n"),
      lit(0L).as("sum_key"))
    ledger.unionByName(schemaRow).unionByName(face1).unionByName(faceNow)
      .select(col("as_of"), col("priority"), col("n"), col("sum_key"))
      .orderBy(col("as_of"), col("priority"))
  }
  val q274Sql: String =
    """WITH ev AS (
      |  SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0),
      |od AS (
      |  SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1),
      |final AS (
      |  SELECT o_orderkey, o_orderpriority AS priority
      |  FROM (SELECT * FROM ev UNION ALL SELECT * FROM od)
      |  WHERE o_orderpriority <> '5-LOW'),
      |faces AS (
      |  SELECT 1 AS as_of, o_orderpriority AS priority, COUNT(*) AS n,
      |         SUM(o_orderkey) AS sum_key
      |  FROM ev GROUP BY 2
      |  UNION ALL
      |  SELECT 5, priority, COUNT(*), SUM(o_orderkey) FROM final GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'ADMAM' AS priority,
      |       CAST(5 AS BIGINT) AS n, CAST(0 AS BIGINT) AS sum_key
      |UNION ALL
      |SELECT -1, 'o_orderkey,priority', 0, 0
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), priority, CAST(n AS BIGINT),
      |       CAST(sum_key AS BIGINT)
      |FROM faces
      |ORDER BY as_of, priority""".stripMargin

  // ---------------------------------------------------------------- q277
  /** TIME TRAVEL BY TIMESTAMP (`TIMESTAMP AS OF`) on in-commit timestamps:
    * every claim stamps its manifest marker with a monotonically-clamped
    * commit time (the Delta in-commit-timestamps move — mtime-based
    * resolution breaks the moment a log is copied or a filesystem skews;
    * the stamp rides INSIDE the atomic commit). Four commits at injected
    * logical clocks 1s/2s/3s/4s (the clock seam keeps the entry
    * hash-deterministic; production uses the wall clock through the same
    * clamp): three priority slices, then a delete vector. Probes pin the
    * resolution semantics: strictly-between → floor version; boundary
    * timestamp → inclusive; post-vector probe sees the deletion. The
    * ledger face hashes the full (version, effective-stamp) sequence —
    * running-max monotone by construction. A probe below the oldest
    * commit refuses loudly (TxnLogSpec). */
  def q277(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q277_tbl")
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    def slice(p: String) = base.filter(col("o_orderpriority") === p).coalesce(1)
    val prevClock = TxnLog.clock
    val t = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      TxnLog.clock = () => t.get()
      t.set(1000000L); TxnLog.commit(slice("1-URGENT"), dir)
      t.set(2000000L); TxnLog.commit(slice("2-HIGH"), dir)
      t.set(3000000L); TxnLog.commit(slice("3-MEDIUM"), dir)
      t.set(4000000L)
      TxnLog.deleteVector(s, dir, "o_orderpriority = '1-URGENT'", Seq("o_orderpriority"))
    } finally TxnLog.clock = prevClock
    def face(probeUs: Long) = TxnLog.readAtTimestamp(s, dir, probeUs)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"))
      .withColumn("probe_us", lit(probeUs))
    val stamps = TxnLog.commitTimestamps(dir)
      .map { case (v, ts) => s"$v:$ts" }.mkString("|")
    val ledger = s.range(1).select(lit(0L).as("probe_us"), lit(stamps).as("priority"),
      lit(TxnLog.currentVersion(dir)).as("n"))
    ledger.unionByName(face(1500000L)).unionByName(face(2000000L))
      .unionByName(face(3999999L)).unionByName(face(4000000L))
      .select(col("probe_us"), col("priority"), col("n"))
      .orderBy(col("probe_us"), col("priority"))
  }
  val q277Sql: String =
    """WITH s1 AS (SELECT o_orderkey, o_orderpriority FROM orders
      |            WHERE o_orderpriority = '1-URGENT'),
      |s2 AS (SELECT o_orderkey, o_orderpriority FROM orders
      |       WHERE o_orderpriority = '2-HIGH'),
      |s3 AS (SELECT o_orderkey, o_orderpriority FROM orders
      |       WHERE o_orderpriority = '3-MEDIUM'),
      |faces AS (
      |  SELECT 1500000 AS probe_us, o_orderpriority AS priority, COUNT(*) AS n
      |  FROM s1 GROUP BY 2
      |  UNION ALL
      |  SELECT 2000000, o_orderpriority, COUNT(*)
      |  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) GROUP BY 2
      |  UNION ALL
      |  SELECT 3999999, o_orderpriority, COUNT(*)
      |  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |        UNION ALL SELECT * FROM s3) GROUP BY 2
      |  UNION ALL
      |  SELECT 4000000, o_orderpriority, COUNT(*)
      |  FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s3) GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS probe_us,
      |       '1:1000000|2:2000000|3:3000000|4:4000000' AS priority,
      |       CAST(4 AS BIGINT) AS n
      |UNION ALL
      |SELECT CAST(probe_us AS BIGINT), priority, CAST(n AS BIGINT) FROM faces
      |ORDER BY probe_us, priority""".stripMargin

  // ---------------------------------------------------------------- q281
  /** CONSISTENT MULTI-TABLE TIME TRAVEL on the shared in-commit-timestamp
    * axis (q277 across tables): a fact and a dimension evolve interleaved —
    * fact v1 @1s, dim v1 @2s, fact v2 (append) @3s, dim v2 (segment remap,
    * replace) @4s — and `TxnLog.snapshotAtTimestamp` resolves BOTH tables
    * to what one observer at T saw. Three probes join fact⋈dim and roll up
    * per segment: T=2.5s (f1, d1), T=3.5s (f2, d1 — the MIXED face: the
    * fact moved, the dim hadn't; exactly the version skew an uncoordinated
    * two-table read hides), T=9s (f2, d2). The oracle restates each face's
    * version pair relationally, so a wrong per-table resolution, a skew in
    * either direction, or a remap leak across T=4s breaks the hash. A
    * probe older than the youngest table refuses loudly (TxnLogSpec). */
  def q281(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val tmp = graft.io.FsUtil.scratchDir("graft_q281")
    val (factDir, dimDir) = (s"$tmp/fact", s"$tmp/dim")
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val dim2 = cust.withColumn("c_mktsegment",
      when(col("c_custkey") % 2 === 0, lit("REMAPPED")).otherwise(col("c_mktsegment")))
    val prevClock = TxnLog.clock
    val t = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      TxnLog.clock = () => t.get()
      t.set(1000000L); TxnLog.commit(orders.filter(col("o_orderkey") % 4 === 0).coalesce(1), factDir)
      t.set(2000000L); TxnLog.commit(cust.coalesce(1), dimDir)
      t.set(3000000L); TxnLog.commit(orders.filter(col("o_orderkey") % 4 === 2).coalesce(1), factDir)
      t.set(4000000L); TxnLog.commit(dim2.coalesce(1), dimDir, replace = true)
    } finally TxnLog.clock = prevClock
    def face(probeUs: Long) = {
      val vs = TxnLog.snapshotAtTimestamp(Seq(factDir, dimDir), probeUs)
      TxnLog.read(s, factDir, Some(vs(factDir)))
        .join(TxnLog.read(s, dimDir, Some(vs(dimDir))),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("total"))
        .withColumn("probe_us", lit(probeUs))
    }
    face(2500000L).unionByName(face(3500000L)).unionByName(face(9000000L))
      .select(col("probe_us"), col("c_mktsegment"), col("n"), col("total"))
      .orderBy(col("probe_us"), col("c_mktsegment"))
  }
  val q281Sql: String =
    """WITH f1 AS (SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0),
      |f2 AS (SELECT o_custkey, o_totalprice FROM orders
      |       WHERE o_orderkey % 4 = 0 OR o_orderkey % 4 = 2),
      |d1 AS (SELECT c_custkey, c_mktsegment FROM customer),
      |d2 AS (SELECT c_custkey,
      |              CASE WHEN c_custkey % 2 = 0 THEN 'REMAPPED'
      |                   ELSE c_mktsegment END AS c_mktsegment
      |       FROM customer)
      |SELECT CAST(2500000 AS BIGINT) AS probe_us, c_mktsegment, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM f1 JOIN d1 ON o_custkey = c_custkey GROUP BY 2
      |UNION ALL
      |SELECT CAST(3500000 AS BIGINT), c_mktsegment, COUNT(*),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |FROM f2 JOIN d1 ON o_custkey = c_custkey GROUP BY 2
      |UNION ALL
      |SELECT CAST(9000000 AS BIGINT), c_mktsegment, COUNT(*),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |FROM f2 JOIN d2 ON o_custkey = c_custkey GROUP BY 2
      |ORDER BY probe_us, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q283
  /** QUERY RESULT REUSE on snapshot identity ([[graft.io.ResultCache]]):
    * the same rollup issued twice over table@v1 — first executes and
    * admits (miss), second serves from the cache entry (hit, zero table
    * IO); a commit moves the table to v2 and the SAME query text misses
    * again and computes fresh values — invalidation is STRUCTURAL (the
    * version is in the key), never a TTL guess. Sound because snapshots
    * are immutable. The hit/miss ledger AND both result states are
    * hash-gated; a false hit after the commit would surface v1 values on
    * the v2 face and break the oracle. */
  def q283(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val tmp = graft.io.FsUtil.scratchDir("graft_q283")
    val (dir, cacheDir) = (s"$tmp/tbl", s"$tmp/cache")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cacheDir))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal"))
    TxnLog.commit(cust.filter(col("c_custkey") % 2 === 0).coalesce(1), dir) // v1
    def rollup() = TxnLog.read(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(col("c_acctbal").cast(DecimalType(18, 4))).cast("double").as("bal"))
    def serve(tag: String) = {
      val c = graft.io.ResultCache.cached(s, cacheDir, rollup(),
        Seq(dir -> TxnLog.currentVersion(dir)))
      c.df.select(lit(tag).as("face"), col("c_mktsegment"), col("n"), col("bal"),
                  lit(c.hit).as("hit"))
    }
    val first = serve("v1_first")   // miss: executes + admits
    val second = serve("v1_second") // hit: served from the entry
    TxnLog.commit(cust.filter(col("c_custkey") % 2 === 1).coalesce(1), dir) // v2
    val third = serve("v2_fresh")   // miss again: version is in the key
    first.unionByName(second).unionByName(third)
      .orderBy(col("face"), col("c_mktsegment"))
  }
  val q283Sql: String =
    """WITH v1 AS (SELECT c_mktsegment, COUNT(*) AS n,
      |              CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
      |            FROM customer WHERE c_custkey % 2 = 0 GROUP BY 1),
      |v2 AS (SELECT c_mktsegment, COUNT(*) AS n,
      |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
      |       FROM customer GROUP BY 1)
      |SELECT 'v1_first' AS face, c_mktsegment, n, bal, FALSE AS hit FROM v1
      |UNION ALL
      |SELECT 'v1_second', c_mktsegment, n, bal, TRUE FROM v1
      |UNION ALL
      |SELECT 'v2_fresh', c_mktsegment, n, bal, FALSE FROM v2
      |ORDER BY face, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q284
  /** MERGE WITH SCHEMA EVOLUTION (the Delta autoMerge move, write-side):
    * the upsert source carries a column the table never had — the merge
    * WIDENS the table in the same commit: rewritten and new files store
    * `c_acctbal`, untouched files simply don't, and the mergeSchema read
    * reconciles by name. At 100 TB adding a column must never rewrite
    * the table; only the files the merge touched anyway move. The
    * decisive relational fact: after evolution, `c_acctbal` is non-null
    * EXACTLY for the source's keys (rows that rode a rewritten file
    * without matching get NULL like untouched rows — unionByName fills,
    * never invents), so the oracle states evolved counts and sums
    * per segment without knowing file boundaries. */
  def q284(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val dir = graft.io.FsUtil.scratchDir("graft_q284_tbl")
    val cust = Tables.customer(s, d)
    // v1-v2: the NARROW table (no balance column), two files
    val narrow = cust.select(col("c_custkey"), col("c_mktsegment"))
    TxnLog.commit(narrow.filter(col("c_custkey") % 2 === 0).coalesce(1), dir)
    TxnLog.commit(narrow.filter(col("c_custkey") % 2 === 1).coalesce(1), dir)
    // v3: upserts arrive ALREADY carrying the new column — segment fix
    // for every 10th key plus fresh keys, both with balances
    val source = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lit("EVOLVED").as("c_mktsegment"), col("c_acctbal"))
      .unionByName(cust.filter(col("c_custkey") % 10 === 3)
        .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
                col("c_mktsegment"), col("c_acctbal")))
    TxnLog.merge(s, dir, source, Seq("c_custkey"), evolveSchema = true)
    TxnLog.read(s, dir, mergeSchema = true)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           count(col("c_acctbal")).as("n_evolved"),
           coalesce(sum(col("c_acctbal").cast(DecimalType(18, 4))), lit(0))
             .cast("double").as("bal"))
      .orderBy(col("c_mktsegment"))
  }
  val q284Sql: String =
    """WITH merged AS (
      |  SELECT c.c_custkey,
      |         CASE WHEN c.c_custkey % 10 = 0 THEN 'EVOLVED'
      |              ELSE c.c_mktsegment END AS c_mktsegment,
      |         CASE WHEN c.c_custkey % 10 = 0 THEN c.c_acctbal END AS c_acctbal
      |  FROM customer c
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_mktsegment, c_acctbal
      |  FROM customer WHERE c_custkey % 10 = 3)
      |SELECT c_mktsegment, COUNT(*) AS n, COUNT(c_acctbal) AS n_evolved,
      |       CAST(COALESCE(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 0) AS DOUBLE) AS bal
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q285
  /** DSv2 STREAMING SINK into the txn log ([[graft.sources.TxnSink]]):
    * `writeStream.format(...)` — the data files are written by the
    * EXECUTORS (parquet-mr, one file per task; rows never collect to the
    * driver) and each epoch registers atomically under the
    * `T dsv2-<queryId> <epoch>` exactly-once marker. The replay proof
    * exercises the ENGINE's own path, not the API: after the drive
    * completes, the checkpoint's last commit record is deleted and the
    * stream RESTARTED — Structured Streaming re-executes the final
    * micro-batch through the full sink (new staged files and all), and
    * the sink's epoch commit finds its txn marker and registers NOTHING.
    * The replay's files stay orphans (manifest-only visibility; vacuum's
    * jurisdiction). Faces: per-type rollup of the table (equal to the
    * source snapshot — nothing lost, NOTHING DUPLICATED despite the
    * replayed epoch) and the action ledger (exactly 3 `T` versions). */
  def q285(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val staged = graft.io.FsUtil.scratchDir("graft_q285_src")
    val tbl = graft.io.FsUtil.scratchDir("graft_q285_tbl")
    val ckpt = graft.io.FsUtil.scratchDir("graft_q285_ckpt")
    Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      .repartition(3).write.mode("overwrite").parquet(staged)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def drive(): Unit = {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions",
        graft.core.Sessions.streamShufflePartitions(s2))
      val q = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .writeStream.format("graft.sources.TxnSink")
        .option("path", tbl).option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drive() // 3 files -> epochs 0..2, versions 1..3
    // force the engine to REPLAY the last epoch: drop its commit record
    graft.streaming.Streaming.replayLastEpoch(ckpt)
    drive() // replayed epoch hits its txn marker; registers nothing
    val face = TxnLog.read(s, tbl)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .withColumn("face", lit(1L))
    val actions = TxnLog.history(s, tbl).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("face"), lit(actions).as("event_type"),
      lit(TxnLog.currentVersion(tbl)).as("n"), lit(null).cast("double").as("sum_value"))
    ledger.unionByName(face)
      .select(col("face"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("face"), col("event_type"))
  }
  val q285Sql: String =
    """SELECT CAST(0 AS BIGINT) AS face, 'TTT' AS event_type,
      |       CAST(3 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS sum_value
      |UNION ALL
      |SELECT 1, event_type, COUNT(*),
      |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |FROM events GROUP BY 2
      |ORDER BY face, event_type""".stripMargin

  // ---------------------------------------------------------------- q367
  /** TRAINING SHARD WRITER (round 17, verdict item 3): the one step that
    * was left between the board and an actual training shard — q366
    * assigns every doc its global token offset; this entry MATERIALIZES
    * the packed sequences. Each doc's token array is sliced into its
    * covered sequences ([[graft.queries.TextOps]].sequenceParts — q366's
    * offsets composed with q349's slice idiom), parts regroup by seq_id
    * (sort_array on tok_off makes the concat order deterministic), and
    * the assembled (seq_id, n_parts, toks) shard rows are written through
    * the exactly-once DSv2 txn sink ([[graft.sources.TxnSink]], the q285
    * shape: executors write the parquet, each epoch registers atomically
    * under its txn marker). The gate face is computed FROM THE TABLE READ
    * BACK out of the txn log — per sequence, its part count, token count,
    * and the md5 of the packed token stream — so the DuckDB oracle
    * (which assembles the same sequences positionally from `documents`)
    * pins WRITE→READ round-trip identity: reassembled token stream ≡
    * source concatenation order, byte-for-byte per sequence. Face 0 is
    * the action ledger (2 staged files → 2 sink epochs → 'TT').
    *
    * Scale shape: the token payload crosses TWO corpus-sized exchanges —
    * the offsets⋈tokens doc_id join inside sequenceParts and the seq_id
    * regroup that IS the assembly (the prefix sum's own exchanges carry
    * only metadata-width triples; tokenization runs twice — counted in
    * the round-17 review, stated here rather than hidden). Every
    * assembly group is bounded (≤ 2048 tokens, ≤ 2050 parts), so no
    * skew is possible by construction; the sink writes on the executors
    * (rows never collect to the driver); the ledger face is
    * metadata-sized. */
  def q367(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val staged = graft.io.FsUtil.scratchDir("graft_q367_src")
    val tbl = graft.io.FsUtil.scratchDir("graft_q367_tbl")
    val ckpt = graft.io.FsUtil.scratchDir("graft_q367_ckpt")
    val seqs = graft.queries.TextOps.assembleSequences(
      graft.queries.TextOps.sequenceParts(s, d))
    seqs.repartition(2).write.mode("overwrite").parquet(staged)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    val q = s2.readStream.schema(seqs.schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .writeStream.format("graft.sources.TxnSink")
      .option("path", tbl).option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val face = TxnLog.read(s, tbl).select(
      lit(1L).as("face"), col("seq_id"), col("n_parts"),
      size(col("toks")).cast("long").as("n_tok"),
      md5(array_join(col("toks"), " ")).as("seq_md5"))
    val actions = TxnLog.history(s, tbl).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("face"), lit(-1L).as("seq_id"),
      lit(TxnLog.currentVersion(tbl)).as("n_parts"),
      lit(null).cast("long").as("n_tok"), lit(actions).as("seq_md5"))
    ledger.unionByName(face)
      .orderBy(col("face"), col("seq_id"))
  }
  val q367Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x <> '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, t, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS tok_off
      |  FROM t),
      |p AS (
      |  SELECT doc_id, tok_off, unnest(t) AS tok,
      |    unnest(range(1, n_tok + 1)) AS i
      |  FROM c WHERE n_tok > 0),
      |g AS (
      |  SELECT (tok_off + i - 1) // 2048 AS seq_id, tok_off + i - 1 AS gp,
      |    tok, doc_id
      |  FROM p),
      |f AS (
      |  SELECT seq_id, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_parts,
      |    CAST(COUNT(*) AS BIGINT) AS n_tok,
      |    md5(string_agg(tok, ' ' ORDER BY gp)) AS seq_md5
      |  FROM g GROUP BY seq_id)
      |SELECT CAST(0 AS BIGINT) AS face, CAST(-1 AS BIGINT) AS seq_id,
      |  CAST(2 AS BIGINT) AS n_parts, CAST(NULL AS BIGINT) AS n_tok,
      |  'TT' AS seq_md5
      |UNION ALL
      |SELECT 1, seq_id, n_parts, n_tok, seq_md5 FROM f
      |ORDER BY face, seq_id""".stripMargin

  // ---------------------------------------------------------------- q370
  /** INCREMENTAL CURATION MAINTENANCE (round 17, verdict item 6): q360's
    * keep/drop/review table, maintained across an ingest delta WITHOUT
    * rescanning the corpus. The structural fact that makes this cheap:
    * every q360 signal (C4 page rules, Gopher repetition, the
    * corpus-independent id-capped LM bucket, TTR, self-entropy, the q19
    * filter) is ROW-LOCAL — decision(doc) depends on that doc's text
    * alone — so the view delta is exactly decision(Δdocs) and the q287
    * signed-multiset join identity degenerates to "score the delta, MERGE
    * on the key" (cited, not used: cross-term maintenance only matters
    * for cross-doc signals, which this composite deliberately has none
    * of). The drive: yesterday's table = base-slice decisions committed
    * at v1; today's crawl (doc_id%7=0) is scored through `q360Where`,
    * whose one documents scan carries the delta predicate ahead of the
    * per-doc signal map (the one non-delta read left is q343's id-capped
    * reference model, constant-size by construction) — and MERGEs at v2.
    *
    * Faces, all three required equal: (0) the MAINTAINED table read back
    * from the txn log, (1) the DIRECT full recompute, both row-level
    * (doc_id, decision, score); (2) the freshness token — the table
    * version after the delta merge, so a stale (v1) or over-applied (v3)
    * maintenance breaks the gate. The oracle states the q360 decision
    * table once and expects it verbatim under BOTH faces. */
  def q370(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val tbl = graft.io.FsUtil.scratchDir("graft_q370_tbl")
    val isDelta = col("doc_id") % 7 === 0
    // ONE signal pass for the whole lifecycle: base commit, delta merge
    // source, and the direct parity face are all slices of the same
    // per-doc decision table (that per-doc-ness is exactly what the
    // ivm ≡ direct gate proves), so scoring the corpus three times was
    // pure recompute (guide §1.2). The SCALE property (a delta refresh
    // scores delta rows plus a constant through q360Where's pushed
    // predicate) is pinned by Q370PushdownSpec on q360Where directly and
    // is not weakened by the fixture staging its faces from one pass.
    // The decision table rides TextOps' session memo (the same one
    // q360/q363/q365/q372 consume), so the signal pass is paid once per
    // bench rep across the whole curation family. Keyed on the
    // PARENT session (s0), not this txn child session: Bench evicts by
    // the parent, and a child-keyed entry would both miss the sharing and
    // dodge the per-rep eviction (one entry per invocation, never freed).
    val full = graft.queries.TextOps.corpusDecisions(s0, d)
      .select(col("doc_id"), col("decision"), col("score"))
      .localCheckpoint()
    TxnLog.commit(full.filter(!isDelta).coalesce(2), tbl)      // v1: base
    TxnLog.merge(s, tbl, full.filter(isDelta), Seq("doc_id"))  // v2: Δ only
    val ivm = TxnLog.read(s, tbl)
      .select(lit(0L).as("face"), col("doc_id"), col("decision"), col("score"))
    val direct = full
      .select(lit(1L).as("face"), col("doc_id"), col("decision"), col("score"))
    val fresh = s.range(1).select(lit(2L).as("face"), lit(-1L).as("doc_id"),
      concat(lit("v"), lit(TxnLog.currentVersion(tbl)).cast("string"))
        .as("decision"),
      lit(TxnLog.currentVersion(tbl)).as("score"))
    ivm.unionByName(direct).unionByName(fresh)
      .orderBy(col("face"), col("doc_id"))
  }
  lazy val q370Sql: String =
    """WITH q360v AS (
      |""".stripMargin + graft.queries.TextOps.q360Sql + """
      |)
      |SELECT CAST(0 AS BIGINT) AS face, doc_id, decision, score FROM q360v
      |UNION ALL
      |SELECT 1, doc_id, decision, score FROM q360v
      |UNION ALL
      |SELECT 2, -1, 'v2', 2
      |ORDER BY face, doc_id""".stripMargin

  // ---------------------------------------------------------------- q287
  /** INCREMENTAL JOIN-VIEW MAINTENANCE from TWO change feeds — the IVM
    * family (q202/q209/q231 maintain aggregates; q280 maintains MV
    * partials) extended to the JOIN view, via the signed-multiset
    * identity every IVM engine implements:
    *
    *   Δ(F ⋈ D) = ΔF⋈D_old  ∪  F_old⋈ΔD  ∪  ΔF⋈ΔD
    *
    * with each term's sign the PRODUCT of its sides' signs (insert = +1,
    * delete = −1; an update is its delete+insert pair in the feed). Both
    * tables evolve by MERGE (fact repriced + new orders; dim segments
    * remapped), the view applies the signed delta — group by the full
    * row, net multiplicity must land in {0, 1}, loudly checked — and the
    * maintained view is rolled up NEXT TO the direct join of the v2
    * snapshots: both faces hash-gate against the same oracle rollup, so
    * a wrong sign, a missed cross term, or a double-application breaks
    * the gate in one face but not the other. At 100 TB the delta terms
    * are feed-sized joins; the view is never recomputed from the fact
    * table. */
  def q287(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val tmp = graft.io.FsUtil.scratchDir("graft_q287")
    val (fDir, dDir) = (s"$tmp/fact", s"$tmp/dim")
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    TxnLog.commit(orders.filter(col("o_orderkey") % 3 === 0).coalesce(2), fDir) // F v1
    TxnLog.commit(cust.coalesce(1), dDir)                                       // D v1
    val fOld = TxnLog.read(s, fDir).localCheckpoint()
    val dOld = TxnLog.read(s, dDir).localCheckpoint()
    val vOld = fOld.join(dOld, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("c_mktsegment")).localCheckpoint() // the materialized view @v1

    // both tables move: fact repriced (%15==0) + fresh orders; dim remapped
    TxnLog.merge(s, fDir,
      orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1024.0))
        .unionByName(orders.filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
                  col("o_custkey"), col("o_totalprice"))),
      Seq("o_orderkey"))
    TxnLog.merge(s, dDir,
      cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("REMAPPED").as("c_mktsegment")),
      Seq("c_custkey"))

    def signed(changes: DataFrame) = changes.withColumn("sgn",
      when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .drop("_change_type", "_commit_version")
    val dF = signed(TxnLog.changes(s, fDir, 1L, 2L)).localCheckpoint()
    val dD = signed(TxnLog.changes(s, dDir, 1L, 2L)).localCheckpoint()

    val viewCols = Seq(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
                       col("c_mktsegment"))
    def term(f: DataFrame, dd: DataFrame, sgn: Column) =
      f.join(dd, col("o_custkey") === col("c_custkey"))
        .select(viewCols :+ sgn.as("sgn"): _*)
    val delta =
      term(dF, dOld, col("sgn"))
        .unionByName(term(fOld, dD, col("sgn")))
        .unionByName(term(dF.withColumnRenamed("sgn", "sf"),
                          dD.withColumnRenamed("sgn", "sd"),
                          col("sf") * col("sd")))
    // checkpointed: the maintained view feeds BOTH the multiplicity
    // check and the ivm rollup — without the barrier the three delta
    // joins + group-by ran twice (guide §1.2)
    val vNew = vOld.withColumn("sgn", lit(1L)).unionByName(delta)
      .groupBy(viewCols: _*).agg(sum(col("sgn")).as("net"))
      .filter(col("net") =!= 0L)
      .localCheckpoint()
    // multiset sanity: every surviving row must have multiplicity exactly 1
    require(vNew.filter(col("net") =!= 1L).isEmpty,
      "IVM net multiplicity outside {0,1} — signed application is wrong")

    def rollup(v: DataFrame, tag: String) = v
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("total"))
      .withColumn("face", lit(tag))
    val direct = TxnLog.read(s, fDir).join(TxnLog.read(s, dDir),
        col("o_custkey") === col("c_custkey"))
      .select(viewCols: _*)
    rollup(vNew.drop("net"), "ivm").unionByName(rollup(direct, "direct"))
      .select(col("face"), col("c_mktsegment"), col("n"), col("total"))
      .orderBy(col("face"), col("c_mktsegment"))
  }
  val q287Sql: String =
    """WITH f2 AS (
      |  SELECT o_orderkey, o_custkey,
      |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1024.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 11 = 0),
      |d2 AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 7 = 0 THEN 'REMAPPED'
      |              ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer),
      |v AS (SELECT c_mktsegment, COUNT(*) AS n,
      |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |      FROM f2 JOIN d2 ON o_custkey = c_custkey GROUP BY 1)
      |SELECT 'direct' AS face, c_mktsegment, n, total FROM v
      |UNION ALL
      |SELECT 'ivm', c_mktsegment, n, total FROM v
      |ORDER BY face, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q288
  /** FULLY-DSv2 TABLE→TABLE PIPELINE: [[graft.sources.TxnStreamSource]]
    * tails the source table's commit ledger (one version per trigger) and
    * [[graft.sources.TxnSink]] lands the filtered rows — NO foreachBatch
    * anywhere (q240 is the foreachBatch formulation): the engine owns
    * both ends, offsets on the version axis, epochs under txn markers.
    * Exactly-once END TO END is proven through the engine's restart path
    * (q285's move): the checkpoint's last commit record is deleted and
    * the stream re-driven — the replayed epoch re-reads its source
    * version, re-runs the transform, re-stages files, and the sink's txn
    * marker refuses the re-registration. Faces: the destination rollup
    * (equal to the batch-filtered source — nothing lost, nothing
    * duplicated) and the action ledger (exactly 3 `T` epochs). */
  def q288(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val tmp = graft.io.FsUtil.scratchDir("graft_q288")
    val (srcDir, dstDir, ckpt) = (s"$tmp/src", s"$tmp/dst", s"$tmp/ckpt")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    (0 until 3).foreach(i =>
      TxnLog.commit(docs.filter(expr(s"doc_id % 3 = $i")).coalesce(1), srcDir))
    def drive(): Unit = {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions",
        graft.core.Sessions.streamShufflePartitions(s2))
      val q = s2.readStream.format(classOf[graft.sources.TxnStreamSource].getName)
        .option("path", srcDir).option("maxVersionsPerTrigger", "1").load()
        .filter(col("n_chars") >= 100) // the in-flight transform
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .writeStream.format("graft.sources.TxnSink")
        .option("path", dstDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drive()
    graft.streaming.Streaming.replayLastEpoch(ckpt)
    drive() // engine replays the last epoch end-to-end; the marker refuses
    val face = TxnLog.read(s, dstDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("batch", lit(1L))
    val actions = TxnLog.history(s, dstDir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("batch"), lit(actions).as("source"),
      lit("_ledger").as("lang"), lit(TxnLog.currentVersion(dstDir)).as("n"),
      lit(0L).as("sum_chars"))
    ledger.unionByName(face)
      .select(col("batch"), col("source"), col("lang"), col("n"), col("sum_chars"))
      .orderBy(col("batch"), col("source"), col("lang"))
  }
  val q288Sql: String =
    """SELECT CAST(0 AS BIGINT) AS batch, 'TTT' AS source, '_ledger' AS lang,
      |       CAST(3 AS BIGINT) AS n, CAST(0 AS BIGINT) AS sum_chars
      |UNION ALL
      |SELECT 1, source, lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
      |FROM documents WHERE n_chars >= 100
      |GROUP BY 2, 3
      |ORDER BY batch, source, lang""".stripMargin

  // ---------------------------------------------------------------- q290
  /** STREAMING CHANGE FEED, FULLY DSv2 (round-9 verdict item 3): the
    * q271 incremental-index lifecycle re-run with `readStream` +
    * `readChangeFeed=true` instead of driver-side polling — the engine
    * owns the whole path: [[graft.sources.TxnStreamSource]] serves
    * per-version CHANGE rows (appends from their own files, the merge's
    * X and the delete vector's D from change files materialized once
    * under the log), a stateless transform explodes them into SIGNED
    * term occurrences (+1 insert, −1 delete), and
    * [[graft.sources.TxnSink]] lands them under exactly-once epoch
    * markers. Exactly-once is proven through the engine's restart path
    * (q288's move — last checkpoint commit record deleted, stream
    * re-driven, the sink's txn marker refuses the replayed epoch).
    *
    * Source lifecycle: append, append, file-granular MERGE (text edit —
    * its feed is the edit's delete+insert pair, unchanged rows in the
    * rewritten files cancel), row-level delete vector, compaction
    * (record-identity: feed-skipped by metadata). Faces: the per-version
    * feed ledger (occurrence counts by change type — a wrong X/D
    * derivation or a replayed epoch breaks it), the epoch count, and the
    * FINAL index folded PURELY from the sink's occurrence rows, which
    * must hash-equal the oracle's from-scratch index over the final
    * table state — the IVM identity carried end-to-end through the
    * DSv2 path. */
  def q290(s0: SparkSession, d: String): DataFrame = {
    val s = txnSession(s0)
    val tmp = graft.io.FsUtil.scratchDir("graft_q290")
    val (srcDir, dstDir, ckpt) = (s"$tmp/src", s"$tmp/dst", s"$tmp/ckpt")
    // fixture sizing + single-scan staging: the q271 note applies
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .filter(expr("doc_id % 6 in (0, 3)")).localCheckpoint()
    TxnLog.commit(docs.filter(expr("doc_id % 6 = 0")).coalesce(1), srcDir) // v1 A
    TxnLog.commit(docs.filter(expr("doc_id % 6 = 3")).coalesce(1), srcDir) // v2 A
    TxnLog.merge(s, srcDir,
      docs.filter(expr("doc_id % 7 = 0"))
        .select(col("doc_id"), concat(col("text"), lit(" graftedit")).as("text")),
      Seq("doc_id"))                                                       // v3 X
    TxnLog.deleteVector(s, srcDir, "doc_id % 5 = 0", Seq("doc_id"))        // v4 D
    TxnLog.compact(s, srcDir)                                              // v5 R noop
    def drive(): Unit = {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions",
        graft.core.Sessions.streamShufflePartitions(s2))
      s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val q = s2.readStream.format(classOf[graft.sources.TxnStreamSource].getName)
        .option("path", srcDir).option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1").load()
        .select(col("doc_id"),
          when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)).as("sign"),
          col("_commit_version").as("cv"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .writeStream.format("graft.sources.TxnSink")
        .option("path", dstDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drive()
    // engine-path replay (q285/q288): drop the checkpoint's last commit
    // record; the re-driven stream replays that epoch end to end and the
    // sink's marker refuses the re-registration
    graft.streaming.Streaming.replayLastEpoch(ckpt)
    drive()
    val occ = TxnLog.read(s, dstDir) // (doc_id, sign, cv, term) occurrences
    val epochs = s.range(1).select(lit(0L).as("face"), lit(0L).as("cv"),
      lit("epochs").as("ct"), lit("").as("term"),
      lit(TxnLog.currentVersion(dstDir)).as("n"))
    val ledger = occ.groupBy(col("cv"),
        when(col("sign") === 1L, "insert").otherwise("delete").as("ct"))
      .agg(count(lit(1)).as("n"))
      .select(lit(0L).as("face"), col("cv"), col("ct"), lit("").as("term"), col("n"))
    val index = occ.groupBy(col("term")).agg(sum(col("sign")).as("n"))
      .filter(col("n") > 0) // net-zero = absent from the final corpus
      .select(lit(1L).as("face"), lit(0L).as("cv"), lit("").as("ct"),
              col("term"), col("n"))
    epochs.unionByName(ledger).unionByName(index)
      .orderBy(col("face"), col("cv"), col("ct"), col("term"))
  }
  val q290Sql: String =
    """WITH t0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 6 = 0),
      |t1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 6 = 3),
      |e  AS (SELECT doc_id, text FROM documents
      |       WHERE doc_id % 6 IN (0, 3) AND doc_id % 7 = 0),
      |v3 AS (SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 0 THEN text || ' graftedit' ELSE text END AS text
      |       FROM documents WHERE doc_id % 6 IN (0, 3)),
      |fin AS (SELECT * FROM v3 WHERE doc_id % 5 <> 0),
      |tf AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |       FROM fin)
      |SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS face, CAST(0 AS BIGINT) AS cv,
      |         'epochs' AS ct, '' AS term, CAST(5 AS BIGINT) AS n
      |  UNION ALL
      |  SELECT 0, 1, 'insert', '', CAST(COALESCE(SUM(len(string_split_regex(trim(lower(text)), '\s+'))), 0) AS BIGINT) FROM t0
      |  UNION ALL
      |  SELECT 0, 2, 'insert', '', CAST(COALESCE(SUM(len(string_split_regex(trim(lower(text)), '\s+'))), 0) AS BIGINT) FROM t1
      |  UNION ALL
      |  SELECT 0, 3, 'delete', '', CAST(COALESCE(SUM(len(string_split_regex(trim(lower(text)), '\s+'))), 0) AS BIGINT) FROM e
      |  UNION ALL
      |  SELECT 0, 3, 'insert', '', CAST(COALESCE(SUM(len(string_split_regex(trim(lower(text || ' graftedit')), '\s+'))), 0) AS BIGINT) FROM e
      |  UNION ALL
      |  SELECT 0, 4, 'delete', '', CAST(COALESCE(SUM(len(string_split_regex(trim(lower(text)), '\s+'))), 0) AS BIGINT)
      |  FROM v3 WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT 1, 0, '', term, COUNT(*) FROM tf GROUP BY term
      |) ORDER BY face, cv, ct, term""".stripMargin

  val defs: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q288_dsv2_pipeline" -> ((q288 _, Some(q288Sql))),
    "q290_cdf_stream_pipeline" -> ((q290 _, Some(q290Sql))),
    "q291_incremental_optimize" -> ((q291 _, Some(q291Sql))),
    "q287_ivm_join_view" -> ((q287 _, Some(q287Sql))),
    "q285_dsv2_txn_sink" -> ((q285 _, Some(q285Sql))),
    "q367_training_shard_writer" -> ((q367 _, Some(q367Sql))),
    "q370_incremental_curation" -> ((q370 _, Some(q370Sql))),
    "q284_txn_merge_evolve" -> ((q284 _, Some(q284Sql))),
    "q283_result_cache" -> ((q283 _, Some(q283Sql))),
    "q281_multi_table_as_of" -> ((q281 _, Some(q281Sql))),
    "q277_txn_time_travel_ts" -> ((q277 _, Some(q277Sql))),
    "q274_txn_column_mapping" -> ((q274 _, Some(q274Sql))),
    "q247_txn_restore" -> ((q247 _, Some(q247Sql))),
    "q242_txn_mor_update" -> ((q242 _, Some(q242Sql))),
    "q241_check_constraints" -> ((q241 _, Some(q241Sql))),
    "q240_stream_table_pipeline" -> ((q240 _, Some(q240Sql))),
    "q239_stream_txnlog_source" -> ((q239 _, Some(q239Sql))),
    "q237_small_file_optimize" -> ((q237 _, Some(q237Sql))),
    "q234_txn_checkpoint" -> ((q234 _, Some(q234Sql))),
    "q221_txn_merge_upsert" -> ((q221 _, Some(q221Sql))),
    "q222_change_data_feed" -> ((q222 _, Some(q222Sql))),
    "q223_stats_file_skipping" -> ((q223 _, Some(q223Sql))),
    "q228_txn_shallow_clone" -> ((q228 _, Some(q228Sql))),
    "q229_stream_exactly_once" -> ((q229 _, Some(q229Sql))),
    "q231_cdf_apply_ivm" -> ((q231 _, Some(q231Sql))),
    "q232_txn_schema_evolution" -> ((q232 _, Some(q232Sql))),
    "q233_bloom_point_lookup" -> ((q233 _, Some(q233Sql))),
    "q265_partition_pruning" -> ((q265 _, Some(q265Sql))),
    "q267_txnlog_optimize_zorder" -> ((q267 _, Some(q267Sql))),
    "q269_two_level_stats" -> ((q269 _, Some(q269Sql))),
    "q271_incremental_index" -> ((q271 _, Some(q271Sql))),
    "q272_merge_into_actions" -> ((q272 _, Some(q272Sql))))
}
