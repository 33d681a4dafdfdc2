package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TxnLog

/** q289 — the SQL FRONT DOOR (round-9 verdict item 1, the top-ranked
  * gap): every face of this entry is a `spark.sql(...)` STATEMENT against
  * a registered [[graft.sources.GraftCatalog]] — DDL, INSERT, aggregate
  * SELECTs, and both time-travel forms — no Scala DataFrame calls touch
  * the data path. The oracle recomputes each face relationally from the
  * source parquet, so the catalog's resolution, commit bridge, snapshot
  * scan, and time-travel axis are all hash-gated at once.
  *
  *   v1: INSERT INTO ... SELECT (even orderkeys)   — catalog write #1
  *   v2: INSERT INTO ... SELECT (odd orderkeys)    — catalog write #2
  *   - `current`: grouped aggregate over the table (sees v2)
  *   - `v1`:      the same SELECT ... VERSION AS OF 1
  *   - `ts_v1`:   ... TIMESTAMP AS OF <v1's in-commit timestamp> — the
  *                monotone in-commit clock (q277) reached from SQL text
  *
  * Scale shape: the catalog scan delegates to Spark's native DSv2
  * parquet table over the snapshot's file list — pushdown/pruning are
  * the engine's own (`PlanCheck` pins the parity with the API path);
  * the INSERT bridge is the txn log's distributed write + O(1) atomic
  * claim. Nothing here is driver-sized except the DDL. */
object CatalogOps {

  def q289(s0: SparkSession, d: String): DataFrame = {
    // own session like every catalog sibling (q292/q297/q298/q299): the
    // registration and the created tables never leak into the board run
    val s = s0.newSession()
    val wh = graft.io.FsUtil.scratchDir("graft_q289_wh")
    // the catalog object is cached per session by name; the warehouse is
    // re-resolved from the conf on every operation, so repeated runs with
    // fresh temp warehouses share one registration
    s.conf.set("spark.sql.catalog.gsql", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gsql.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsql.db")
    s.sql("""CREATE TABLE gsql.db.li (
      l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE,
      l_returnflag STRING, l_linestatus STRING)""")
    def ins(parity: Int): Unit = {
      s.sql(s"""INSERT INTO gsql.db.li
        SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag, l_linestatus
        FROM parquet.`$d/lineitem.parquet` WHERE l_orderkey % 2 = $parity"""); ()
    }
    ins(0) // v1
    ins(1) // v2
    def face(from: String, tag: String): DataFrame = s.sql(
      s"""SELECT '$tag' AS face, l_returnflag AS rf, l_linestatus AS ls,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM $from WHERE l_orderkey % 3 != 0
         GROUP BY l_returnflag, l_linestatus""")
    val tsV1 = TxnLog.commitTimestamps(s"$wh/db/li").toMap.apply(1L)
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(tsV1 / 1000000L,
        tsV1 % 1000000L * 1000L))
    face("gsql.db.li", "current")
      .unionByName(face("gsql.db.li VERSION AS OF 1", "v1"))
      .unionByName(face(s"gsql.db.li TIMESTAMP AS OF '$lit'", "ts_v1"))
      .orderBy(col("face"), col("rf"), col("ls"))
  }

  val q289Sql: String =
    """WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 3 != 0)
      |SELECT * FROM (
      |  SELECT 'current' AS face, l_returnflag AS rf, l_linestatus AS ls,
      |         COUNT(*) AS n,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |  FROM f GROUP BY 2, 3
      |  UNION ALL
      |  SELECT 'v1', l_returnflag, l_linestatus, COUNT(*),
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM f WHERE l_orderkey % 2 = 0 GROUP BY 2, 3
      |  UNION ALL
      |  SELECT 'ts_v1', l_returnflag, l_linestatus, COUNT(*),
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM f WHERE l_orderkey % 2 = 0 GROUP BY 2, 3
      |) ORDER BY face, rf, ls""".stripMargin

  /** q292 — SQL row-level DML through the catalog ([[graft.plans.SqlDml]]):
    * DELETE, UPDATE, and the FULL Delta-style MERGE grammar as
    * `spark.sql(...)` STATEMENTS, lowered onto the txn log's
    * file-granular primitives. The first MERGE (v5) exercises
    * conditional-update + delete + explicit-projection insert; the second
    * (v6, round-10 verdict item 2) exercises TWO conditional WHEN MATCHED
    * clauses (first-clause-wins pinned: rows passing both take the first)
    * and WHEN NOT MATCHED BY SOURCE ... DELETE (gated, so only a subset
    * of unmatched 'MERGED' rows go). Faces:
    *
    *   - `final`: per-priority aggregate after all four statements
    *   - `v_m1`:  the same aggregate `VERSION AS OF 5` (post-first-MERGE)
    *   - `v_del`: `VERSION AS OF 3` — time travel composes with SQL DML
    *     (the post-DELETE, pre-UPDATE snapshot)
    *   - `hist`:  the commit-action sequence A,A,X,X,X,X as a golden face
    *     — every DML statement committed a file EXCHANGE (only touched
    *     files rewrite), never a whole-table replace. That is the 100 TB
    *     claim, pinned in the hash; SqlDmlSpec pins the file-level bytes.
    *
    * Float discipline: the UPDATE halves (exact), the MERGE adds 512.0
    * (exact at these magnitudes), and sums go through DECIMAL(18,4). */
  def q292(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    graft.plans.SqlDml.ensure(s)
    val wh = graft.io.FsUtil.scratchDir("graft_q292_wh")
    s.conf.set("spark.sql.catalog.gdml", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gdml.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gdml.db")
    s.sql("""CREATE TABLE gdml.db.ord (
      o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
      o_orderpriority STRING)""")
    def ins(m8: Int): Unit = {
      s.sql(s"""INSERT INTO gdml.db.ord
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 8 = $m8"""); ()
    }
    ins(0) // v1
    ins(2) // v2
    s.sql("""DELETE FROM gdml.db.ord
      WHERE o_totalprice < 50000 AND o_orderpriority = '1-URGENT'""") // v3
    s.sql("""UPDATE gdml.db.ord SET o_totalprice = o_totalprice * 0.5
      WHERE o_orderpriority = '5-LOW'""")                             // v4
    s.sql(s"""MERGE INTO gdml.db.ord t USING (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 16 = 0 THEN -1.0 ELSE 512.0 END AS bump
        FROM parquet.`$d/orders.parquet`
        WHERE o_orderkey % 8 IN (0, 1) AND o_orderkey % 5 = 0) src
      ON t.o_orderkey = src.o_orderkey
      WHEN MATCHED AND src.bump > 0 THEN
        UPDATE SET o_totalprice = t.o_totalprice + src.bump
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice,
        o_orderpriority) VALUES (src.o_orderkey, 0, src.bump, 'MERGED')""") // v5
    // v6 — the FULL clause surface (round-10 verdict item 2): two
    // CONDITIONAL WHEN MATCHED clauses (SQL first-clause-wins: a row
    // passing both takes 'BIG', never 'MID') plus WHEN NOT MATCHED BY
    // SOURCE (target rows with no source match) with a gated DELETE
    s.sql(s"""MERGE INTO gdml.db.ord t USING (
        SELECT o_orderkey FROM parquet.`$d/orders.parquet`
        WHERE o_orderkey % 8 IN (0, 2) AND o_orderkey % 7 = 0) src
      ON t.o_orderkey = src.o_orderkey
      WHEN MATCHED AND t.o_totalprice > 100000 THEN
        UPDATE SET o_orderpriority = 'BIG'
      WHEN MATCHED AND t.o_totalprice > 20000 THEN
        UPDATE SET o_orderpriority = 'MID'
      WHEN NOT MATCHED BY SOURCE AND t.o_orderpriority = 'MERGED'
        AND t.o_orderkey % 3 = 0 THEN DELETE""")                        // v6
    def face(from: String, tag: String): DataFrame = s.sql(
      s"""SELECT '$tag' AS face, o_orderpriority AS pri, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM $from GROUP BY o_orderpriority""")
    val hist = TxnLog.history(s, s"$wh/db/ord")
      .select(lit("hist").as("face"),
        substring(col("action"), 1, 1).as("pri"),
        col("version").cast("long").as("n"),
        lit(null).cast("double").as("sum_price"))
    face("gdml.db.ord", "final")
      .unionByName(face("gdml.db.ord VERSION AS OF 3", "v_del"))
      .unionByName(face("gdml.db.ord VERSION AS OF 5", "v_m1"))
      .unionByName(hist)
      .orderBy(col("face"), col("pri"), col("n"))
  }

  val q292Sql: String =
    """WITH v2 AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 8 IN (0, 2)),
      |v3 AS (SELECT * FROM v2
      |       WHERE NOT (o_totalprice < 50000 AND o_orderpriority = '1-URGENT')),
      |v4 AS (SELECT o_orderkey, o_custkey,
      |         CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice * 0.5
      |              ELSE o_totalprice END AS o_totalprice,
      |         o_orderpriority FROM v3),
      |src AS (SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 16 = 0 THEN -1.0 ELSE 512.0 END AS bump
      |        FROM orders WHERE o_orderkey % 8 IN (0, 1) AND o_orderkey % 5 = 0),
      |v5 AS (
      |  SELECT t.o_orderkey, t.o_custkey,
      |         CASE WHEN s.o_orderkey IS NOT NULL AND s.bump > 0
      |              THEN t.o_totalprice + s.bump ELSE t.o_totalprice END
      |           AS o_totalprice,
      |         t.o_orderpriority
      |  FROM v4 t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
      |  WHERE NOT (s.o_orderkey IS NOT NULL AND NOT COALESCE(s.bump > 0, FALSE))
      |  UNION ALL
      |  SELECT s.o_orderkey, 0, s.bump, 'MERGED'
      |  FROM src s LEFT JOIN v4 t ON s.o_orderkey = t.o_orderkey
      |  WHERE t.o_orderkey IS NULL),
      |src2 AS (SELECT o_orderkey FROM orders
      |         WHERE o_orderkey % 8 IN (0, 2) AND o_orderkey % 7 = 0),
      |v6 AS (
      |  SELECT t.o_orderkey, t.o_custkey, t.o_totalprice,
      |         CASE WHEN m.o_orderkey IS NOT NULL AND t.o_totalprice > 100000
      |                THEN 'BIG'
      |              WHEN m.o_orderkey IS NOT NULL AND t.o_totalprice > 20000
      |                THEN 'MID'
      |              ELSE t.o_orderpriority END AS o_orderpriority
      |  FROM v5 t LEFT JOIN src2 m ON t.o_orderkey = m.o_orderkey
      |  WHERE NOT (m.o_orderkey IS NULL AND t.o_orderpriority = 'MERGED'
      |             AND t.o_orderkey % 3 = 0)),
      |faces AS (
      |  SELECT 'final' AS face, o_orderpriority AS pri, COUNT(*) AS n,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |  FROM v6 GROUP BY 2
      |  UNION ALL
      |  SELECT 'v_m1', o_orderpriority, COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM v5 GROUP BY 2
      |  UNION ALL
      |  SELECT 'v_del', o_orderpriority, COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM v3 GROUP BY 2
      |  UNION ALL
      |  SELECT 'hist', a, v, CAST(NULL AS DOUBLE)
      |  FROM (VALUES ('A', 1), ('A', 2), ('X', 3), ('X', 4), ('X', 5), ('X', 6))
      |       h(a, v))
      |SELECT * FROM faces ORDER BY face, pri, n""".stripMargin

  /** q297 — SQL SCHEMA EVOLUTION through the catalog: the full lifecycle
    * as `spark.sql` statements.
    *
    *   v1,v2  INSERT two slices                      (narrow schema)
    *   —      ALTER TABLE ADD COLUMNS (tier STRING)  — METADATA-ONLY:
    *          zero files rewritten, existing rows read NULL (face
    *          `added` pins the count, captured eagerly at this point)
    *   v3     UPDATE SET tier = CASE ...             — the BACKFILL: the
    *          file-granular CoW update serves the table's declared width
    *          over files that predate the column (mergeSchema + NULL
    *          fill), writes it back materialized
    *   v4     INSERT a third slice WITH tier         (wide writes land)
    *   v5     ALTER TABLE RENAME COLUMN o_totalprice TO amount — an
    *          `M rename` column-mapping commit, zero files move; the SQL
    *          scan now REFUSES (reader-version discipline) until
    *   v6     TxnLog.compact materializes the mapping (the maintenance
    *          window op), after which face `final` reads the renamed,
    *          backfilled, widened table — all three evolution steps
    *          composed, hash-gated relationally. */
  def q297(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    graft.plans.SqlDml.ensure(s)
    val wh = graft.io.FsUtil.scratchDir("graft_q297_wh")
    s.conf.set("spark.sql.catalog.gevo", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gevo.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gevo.db")
    s.sql("CREATE TABLE gevo.db.ord (o_orderkey BIGINT, o_totalprice DOUBLE)")
    def ins(m8: Int): Unit = {
      s.sql(s"""INSERT INTO gevo.db.ord
        SELECT o_orderkey, o_totalprice
        FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 8 = $m8"""); ()
    }
    ins(0); ins(4)                                                    // v1 v2
    s.sql("ALTER TABLE gevo.db.ord ADD COLUMNS (tier STRING)")        // metadata
    val addedNull = s.sql(
      "SELECT COUNT(*) AS n FROM gevo.db.ord WHERE tier IS NULL").head().getLong(0)
    s.sql("""UPDATE gevo.db.ord SET tier =
      CASE WHEN o_totalprice >= 150000 THEN 'hi' ELSE 'lo' END""")    // v3
    s.sql(s"""INSERT INTO gevo.db.ord
      SELECT o_orderkey, o_totalprice, 'new'
      FROM parquet.`$d/orders.parquet`
      WHERE o_orderkey % 8 = 2 AND o_orderkey % 3 = 0""")             // v4
    s.sql("ALTER TABLE gevo.db.ord RENAME COLUMN o_totalprice TO amount") // v5 M
    TxnLog.compact(s, s"$wh/db/ord")                                  // v6 R
    s.sql(s"""SELECT 'added' AS face, 'all' AS tier,
        CAST($addedNull AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS sum_amt""")
      .unionByName(s.sql(
        """SELECT 'final' AS face, tier, COUNT(*) AS n,
           CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_amt
           FROM gevo.db.ord GROUP BY tier"""))
      .orderBy(col("face"), col("tier"))
  }

  val q297Sql: String =
    """WITH v2 AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 8 IN (0, 4)),
      |v4 AS (
      |  SELECT o_orderkey, o_totalprice,
      |         CASE WHEN o_totalprice >= 150000 THEN 'hi' ELSE 'lo' END AS tier
      |  FROM v2
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, 'new' FROM orders
      |  WHERE o_orderkey % 8 = 2 AND o_orderkey % 3 = 0)
      |SELECT 'added' AS face, 'all' AS tier,
      |       (SELECT COUNT(*) FROM v2) AS n, CAST(NULL AS DOUBLE) AS sum_amt
      |UNION ALL
      |SELECT 'final', tier, COUNT(*),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |FROM v4 GROUP BY tier
      |ORDER BY face, tier""".stripMargin

  /** q298 — the NAME-ADDRESSED streaming pipeline: both ends of a
    * Structured Streaming query resolve through the catalog —
    * `spark.readStream.table("gst.db.src")` (the catalog table's scan
    * now serves `toMicroBatchStream`: the txn-log version axis, one
    * commit per trigger here) → filter/project → `writeStream.toTable
    * ("gst.db.dst")` (the DSv2 streaming sink with atomic epoch commits
    * under exactly-once txn markers) — q288's machinery with ZERO
    * format/path strings; tables are created, written and read as SQL
    * names. Two drives (second catches up with the source's second
    * INSERT), then q285's replay probe: the checkpoint's last commit
    * record is deleted and the stream restarted — the re-executed epoch
    * finds its txn marker and registers NOTHING. Faces: the dst rollup
    * (nothing lost, nothing duplicated) and the dst action ledger
    * (exactly 2 `T` epochs despite the replay). */
  def q298(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s))
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val wh = graft.io.FsUtil.scratchDir("graft_q298_wh")
    val ckpt = graft.io.FsUtil.scratchDir("graft_q298_ckpt")
    s.conf.set("spark.sql.catalog.gst", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gst.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gst.db")
    s.sql("CREATE TABLE gst.db.src (event_id BIGINT, event_type STRING, value DOUBLE)")
    s.sql("CREATE TABLE gst.db.dst (event_id BIGINT, event_type STRING, v2 DOUBLE)")
    def ins(m4: Int): Unit = {
      s.sql(s"""INSERT INTO gst.db.src
        SELECT event_id, event_type, value
        FROM parquet.`$d/events.parquet` WHERE event_id % 4 = $m4"""); ()
    }
    def drive(): Unit = {
      val q = s.readStream.option("maxVersionsPerTrigger", "1")
        .table("gst.db.src")
        .filter(col("event_type") =!= "view")
        .select(col("event_id"), col("event_type"),
          (col("value") * 2.0).as("v2")) // *2: IEEE-exact
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append")
        .toTable("gst.db.dst")
      try q.processAllAvailable() finally q.stop()
    }
    ins(0)  // src v1
    drive() // epoch 0
    ins(2)  // src v2
    drive() // epoch 1
    // q285's exactly-once probe, through the NAME-addressed path
    graft.streaming.Streaming.replayLastEpoch(ckpt)
    drive() // replayed epoch registers nothing
    val dstDir = s"$wh/db/dst"
    val actions = TxnLog.history(s, dstDir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    s.sql(s"""SELECT CAST(0 AS BIGINT) AS face, '$actions' AS event_type,
        CAST(${TxnLog.currentVersion(dstDir)} AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS sum_v2""")
      .unionByName(s.sql(
        """SELECT CAST(1 AS BIGINT) AS face, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(v2 AS DECIMAL(18,6))) AS DOUBLE) AS sum_v2
           FROM gst.db.dst GROUP BY event_type"""))
      .orderBy(col("face"), col("event_type"))
  }

  val q298Sql: String =
    """SELECT CAST(0 AS BIGINT) AS face, 'TT' AS event_type,
      |       CAST(2 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS sum_v2
      |UNION ALL
      |SELECT 1, event_type, COUNT(*),
      |       CAST(SUM(CAST(value * 2 AS DECIMAL(18,6))) AS DOUBLE)
      |FROM events WHERE event_id % 2 = 0 AND event_type <> 'view'
      |GROUP BY event_type
      |ORDER BY face, event_type""".stripMargin

  /** q299 — MAINTENANCE SQL ([[graft.plans.GraftSqlParser]], the Delta
    * parser-extension pattern): `OPTIMIZE`, `OPTIMIZE ... ZORDER BY` and
    * `VACUUM ... RETAIN n VERSIONS` as statements. Lifecycle: three
    * INSERTs (v1–v3), a file-granular SQL DELETE (v4 `X`), `OPTIMIZE`
    * (compact, v5 `R`), `OPTIMIZE ZORDER BY (x, y)` (Morton rewrite +
    * stats sidecar, v6 `R`), then `VACUUM RETAIN 1 VERSIONS`. Faces:
    *   - `ledger:AAAXRR` — the action sequence + final version (every
    *     statement routed to the right commit class)
    *   - `prune` — post-ZORDER, a narrow x-range scan plans FEWER files
    *     than the visible set (the sidecar is live), stated as a boolean
    *   - `rollup` — the table AFTER optimize+vacuum still equals the
    *     relational restatement (maintenance is content-identity; vacuum
    *     reclaimed ≥1 file, also a boolean face) */
  def q299(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession() // inherits the session extensions (parser)
    s.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s))
    val wh = graft.io.FsUtil.scratchDir("graft_q299_wh")
    s.conf.set("spark.sql.catalog.gmt", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gmt.warehouse", wh)
    graft.plans.SqlDml.ensure(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gmt.db")
    s.sql("CREATE TABLE gmt.db.t (ok BIGINT, x BIGINT, y BIGINT)")
    def ins(m48: Int): Unit = {
      s.sql(s"""INSERT INTO gmt.db.t
        SELECT l_orderkey, l_partkey, l_suppkey
        FROM parquet.`$d/lineitem.parquet` WHERE l_orderkey % 48 = $m48"""); ()
    }
    ins(0); ins(16); ins(32)                                  // v1 v2 v3
    s.sql("DELETE FROM gmt.db.t WHERE x % 5 = 0")             // v4 X
    s.sql("OPTIMIZE gmt.db.t").collect()                      // v5 R (compact)
    s.sql("OPTIMIZE gmt.db.t ZORDER BY (x, y)").collect()     // v6 R + sidecar
    val reclaimed = s.sql("VACUUM gmt.db.t RETAIN 1 VERSIONS").head().getLong(0)
    val dir = s"$wh/db/t"
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    val pruned = TxnLog.scanPruned(s, dir, "x", 1L, 40L)
    val prunedLess = pruned.plannedFiles < pruned.totalFiles
    s.sql(s"""SELECT 'ledger:$actions' AS face,
        CAST(${TxnLog.currentVersion(dir)} AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS sum_xy""")
      .unionByName(s.sql(s"""SELECT 'prune' AS face,
        CAST(${if (prunedLess) 1 else 0} AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS sum_xy"""))
      .unionByName(s.sql(s"""SELECT 'vacuum' AS face,
        CAST(${if (reclaimed > 0) 1 else 0} AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS sum_xy"""))
      .unionByName(s.sql(
        """SELECT 'rollup' AS face, COUNT(*) AS n,
           CAST(SUM(CAST(x + y AS DECIMAL(18,2))) AS DOUBLE) AS sum_xy
           FROM gmt.db.t"""))
      .orderBy(col("face"))
  }

  val q299Sql: String =
    """WITH base AS (
      |  SELECT l_orderkey AS ok, l_partkey AS x, l_suppkey AS y
      |  FROM lineitem WHERE l_orderkey % 16 = 0),
      |kept AS (SELECT * FROM base WHERE x % 5 <> 0)
      |SELECT 'ledger:AAAXRR' AS face, CAST(6 AS BIGINT) AS n,
      |       CAST(NULL AS DOUBLE) AS sum_xy
      |UNION ALL
      |SELECT 'prune', 1, CAST(NULL AS DOUBLE)
      |UNION ALL
      |SELECT 'vacuum', 1, CAST(NULL AS DOUBLE)
      |UNION ALL
      |SELECT 'rollup', COUNT(*),
      |       CAST(SUM(CAST(x + y AS DECIMAL(18,2))) AS DOUBLE)
      |FROM kept
      |ORDER BY face""".stripMargin

  /** q303 — PARTITIONED DDL through the catalog (round-10 verdict item
    * 3): `CREATE TABLE ... PARTITIONED BY (...) AS SELECT ...` lands the
    * data in q265's hive `col=val` layout (the partition value lives in
    * the file PATH — the coarsest, cheapest pruning a 100 TB table has),
    * a second partitioned INSERT appends, and `ALTER TABLE ... RENAME TO`
    * moves the whole table — one directory-level move, zero data bytes —
    * with data, history, and time travel surviving under the new name.
    * Faces (all through the RENAMED name):
    *   - `agg`:    per-priority rollup `VERSION AS OF 2` — the full
    *     CTAS+INSERT state, read back ACROSS the later replace
    *   - `tt_v1`:  the same rollup `VERSION AS OF 1` (CTAS slice only)
    *   - `repl`:   the rollup at LATEST, after an atomic
    *     `REPLACE TABLE ... PARTITIONED BY ... AS SELECT` that halves
    *     the table by reading FROM ITSELF (the RTAS query executes
    *     against pre-swap state; the swap is one manifest claim —
    *     [[graft.sources.GraftCatalog.stageReplace]])
    *   - `layout`: 1 = every visible file (post-replace) carries the
    *     `o_orderpriority=` path segment (the hive-layout claim)
    *   - `hist`:   actions R,A,R at version 3 — atomic CTAS commits a
    *     replace, the INSERT appends, the RTAS replaces
    * PlanCheck pins the pruning claim (partition filter reaches the DSv2
    * file index) and that a FAILED RTAS aborts without litter. */
  def q303(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    val wh = graft.io.FsUtil.scratchDir("graft_q303_wh")
    s.conf.set("spark.sql.catalog.gpt", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gpt.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gpt.db")
    s.sql(s"""CREATE TABLE gpt.db.ord PARTITIONED BY (o_orderpriority) AS
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 4 = 0""")      // v1 (R)
    s.sql(s"""INSERT INTO gpt.db.ord
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 4 = 2""")      // v2 (A)
    s.sql("ALTER TABLE gpt.db.ord RENAME TO gpt.db.ordren")
    // v3 (R): atomic RTAS reading from the table it replaces — the query
    // runs against v2, stages invisibly, and swaps at one claim
    s.sql("""REPLACE TABLE gpt.db.ordren PARTITIONED BY (o_orderpriority) AS
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM gpt.db.ordren WHERE o_orderkey % 8 = 0""")
    val dir = s"$wh/db/ordren"
    val files = TxnLog.fileScanPlan(dir)._2
    val layoutOk = files.nonEmpty && files.forall(_.contains("o_orderpriority="))
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    def face(from: String, tag: String): DataFrame = s.sql(
      s"""SELECT '$tag' AS face, o_orderpriority AS pri, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM $from GROUP BY o_orderpriority""")
    face("gpt.db.ordren VERSION AS OF 2", "agg")
      .unionByName(face("gpt.db.ordren VERSION AS OF 1", "tt_v1"))
      .unionByName(face("gpt.db.ordren", "repl"))
      .unionByName(s.sql(s"""SELECT 'layout' AS face,
        '${if (layoutOk) 1 else 0}' AS pri, CAST(${files.size} > 0 AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS sum_price"""))
      .unionByName(s.sql(s"""SELECT 'hist' AS face, '$actions' AS pri,
        CAST(${TxnLog.currentVersion(dir)} AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS sum_price"""))
      .orderBy(col("face"), col("pri"))
  }

  val q303Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 4 = 0),
      |v2 AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 4 IN (0, 2)),
      |v3 AS (SELECT * FROM v2 WHERE o_orderkey % 8 = 0),
      |faces AS (
      |  SELECT 'agg' AS face, o_orderpriority AS pri, COUNT(*) AS n,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |  FROM v2 GROUP BY 2
      |  UNION ALL
      |  SELECT 'tt_v1', o_orderpriority, COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM v1 GROUP BY 2
      |  UNION ALL
      |  SELECT 'repl', o_orderpriority, COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM v3 GROUP BY 2
      |  UNION ALL
      |  SELECT 'layout', '1', 1, CAST(NULL AS DOUBLE)
      |  UNION ALL
      |  SELECT 'hist', 'RAR', 3, CAST(NULL AS DOUBLE))
      |SELECT * FROM faces ORDER BY face, pri""".stripMargin

  /** q309 — TABLE-METADATA STATEMENTS (`DESCRIBE DETAIL`,
    * `SHOW PARTITIONS` — round-11 verdict item 4, next to q299's
    * OPTIMIZE/VACUUM/DESCRIBE HISTORY): both are METADATA-ONLY reads of
    * the txn-log manifest — DETAIL is the current-state card (version,
    * retention floor, visible file census, partition spec), PARTITIONS
    * lists live partitions from the manifest's dir-encoded `col=val`
    * paths without opening one data file — the property that keeps both
    * viable on a 100 TB table. Faces:
    *   - `detail`:  n = current version; flag folds the invariant
    *     checks (format/location/min_version/files/size/spec) to 1
    *   - `part:pri=<v>`: one per live partition from SHOW PARTITIONS,
    *     n = that partition's ROW count (the partition list must agree
    *     with a real group-by), flag = partition holds >= 1 file
    * The oracle restates the partition census relationally — a phantom
    * or missing partition in the manifest listing hash-fails. */
  def q309(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val wh = graft.io.FsUtil.scratchDir("graft_q309_wh")
    s.conf.set("spark.sql.catalog.gmd", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gmd.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gmd.db")
    s.sql(s"""CREATE TABLE gmd.db.ord PARTITIONED BY (pri) AS
      SELECT o_orderkey AS ok, o_totalprice AS price, o_orderpriority AS pri
      FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 8 = 0""")   // v1 (R)
    s.sql(s"""INSERT INTO gmd.db.ord
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 8 = 4""")   // v2 (A)
    val det = s.sql("DESCRIBE DETAIL gmd.db.ord").head()
    val detOk = det.getString(0) == "graft" &&
      det.getString(1) == s"$wh/db/ord" &&
      det.getLong(3) == 1L &&           // min_version: nothing vacuumed
      det.getLong(4) > 0L && det.getLong(5) > 0L &&
      det.getString(6) == "pri" && det.getString(7).isEmpty
    val parts = s.sql("SHOW PARTITIONS gmd.db.ord")
      .select(col("partition"),
        (col("n_files") >= 1L).cast("long").as("flag"))
    val counts = s.table("gmd.db.ord").groupBy(col("pri")).count()
    parts
      .join(counts, expr("partition = concat('pri=', pri)"))
      .select(concat(lit("part:"), col("partition")).as("face"),
        col("count").as("n"), col("flag"))
      .unionByName(s.sql(s"""SELECT 'detail' AS face,
        CAST(${det.getLong(2)} AS BIGINT) AS n,
        CAST(${if (detOk) 1 else 0} AS BIGINT) AS flag"""))
      .orderBy(col("face"))
  }

  val q309Sql: String =
    """WITH rows_ AS (
      |  SELECT o_orderkey, o_orderpriority
      |  FROM orders WHERE o_orderkey % 8 IN (0, 4))
      |SELECT 'detail' AS face, CAST(2 AS BIGINT) AS n, CAST(1 AS BIGINT) AS flag
      |UNION ALL
      |SELECT 'part:pri=' || o_orderpriority, COUNT(*), 1
      |FROM rows_ GROUP BY o_orderpriority
      |ORDER BY face""".stripMargin

  /** q311 — RESTORE + SHALLOW CLONE as SQL STATEMENTS (round-12: the
    * two recovery/forking verbs a lakehouse user types after a bad
    * write, both O(metadata) at 100 TB):
    *
    *   v1 CTAS (%4=0) → v2 INSERT (%4=2) → v3 fat-finger
    *   INSERT OVERWRITE (%16=0) → `CREATE TABLE tc SHALLOW CLONE t
    *   VERSION AS OF 2` (fork the PRE-DAMAGE state — one manifest of
    *   external refs, zero data bytes copied) → `RESTORE TABLE t TO
    *   VERSION AS OF 2` (v4: one R manifest re-listing v2's files —
    *   metadata-only, nothing erased) → INSERT INTO tc (%4=1; the clone
    *   diverges independently).
    *
    * Faces (q303's shape):
    *   - `restored`: rollup of t at LATEST = exactly v2's content
    *   - `tt_v3`:    rollup `VERSION AS OF 3` — the damage is STILL in
    *     history (restore appends, never erases)
    *   - `clone`:    rollup of tc = v2 content + the divergence insert
    *   - `indep`:    t has ZERO %4=1 rows — the clone's insert is
    *     invisible to the source (divergence isolation)
    *   - `zero_copy`: at clone time every referenced file was EXTERNAL
    *     (lives under t's dir) and tc's own dir held no data files
    *   - `hist`:     t actions R,A,R,R at v4; tc actions A,A at v2 —
    *     both version axes pinned literally */
  def q311(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val wh = graft.io.FsUtil.scratchDir("graft_q311_wh")
    s.conf.set("spark.sql.catalog.grc", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.grc.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS grc.db")
    def sel(pred: String): String =
      s"""SELECT o_orderkey AS ok, o_totalprice AS price,
         o_orderpriority AS pri FROM parquet.`$d/orders.parquet`
         WHERE $pred"""
    s.sql(s"CREATE TABLE grc.db.t AS ${sel("o_orderkey % 4 = 0")}")     // v1 R
    s.sql(s"INSERT INTO grc.db.t ${sel("o_orderkey % 4 = 2")}")         // v2 A
    s.sql(s"INSERT OVERWRITE grc.db.t ${sel("o_orderkey % 16 = 0")}")   // v3 R
    s.sql("CREATE TABLE grc.db.tc SHALLOW CLONE grc.db.t VERSION AS OF 2")
    val tcDir = s"$wh/db/tc"
    // zero-copy census, taken BEFORE the divergence insert lands local
    // files: every v1 ref resolves OUTSIDE tc's dir, none under it
    val cloneFiles = TxnLog.fileScanPlan(tcDir)._2
    val localData = new java.io.File(tcDir).listFiles().count(_.getName != "_txnlog")
    s.sql("RESTORE TABLE grc.db.t TO VERSION AS OF 2")                  // v4 R
    s.sql(s"INSERT INTO grc.db.tc ${sel("o_orderkey % 4 = 1")}")        // tc v2 A
    val tDir = s"$wh/db/t"
    def actions(dir: String): String = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    def face(from: String, tag: String): DataFrame = s.sql(
      s"""SELECT '$tag' AS face, pri, COUNT(*) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM $from GROUP BY pri""")
    face("grc.db.t", "restored")
      .unionByName(face("grc.db.t VERSION AS OF 3", "tt_v3"))
      .unionByName(face("grc.db.tc", "clone"))
      .unionByName(s.sql(s"""SELECT 'indep' AS face, '' AS pri,
        (SELECT COUNT(*) FROM grc.db.t WHERE ok % 4 = 1) AS n,
        CAST(NULL AS DOUBLE) AS sum_price"""))
      .unionByName(s.sql(s"""SELECT 'zero_copy' AS face, '' AS pri,
        CAST(${if (cloneFiles.nonEmpty && cloneFiles.forall(f => !f.startsWith(tcDir)) && localData == 0) 1 else 0}
          AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS sum_price"""))
      .unionByName(s.sql(s"""SELECT 'hist' AS face,
        '${actions(tDir)}_${actions(tcDir)}' AS pri,
        CAST(${TxnLog.currentVersion(tDir)} AS BIGINT) AS n,
        CAST(${TxnLog.currentVersion(tcDir)} AS DOUBLE) AS sum_price"""))
      .orderBy(col("face"), col("pri"))
  }

  val q311Sql: String =
    """WITH v2 AS (
      |  SELECT o_orderkey AS ok, o_totalprice AS price,
      |         o_orderpriority AS pri
      |  FROM orders WHERE o_orderkey % 4 IN (0, 2)),
      |v3 AS (
      |  SELECT o_orderkey AS ok, o_totalprice AS price,
      |         o_orderpriority AS pri
      |  FROM orders WHERE o_orderkey % 16 = 0),
      |cl AS (
      |  SELECT o_orderkey AS ok, o_totalprice AS price,
      |         o_orderpriority AS pri
      |  FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)),
      |faces AS (
      |  SELECT 'restored' AS face, pri, COUNT(*) AS n,
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |  FROM v2 GROUP BY 2
      |  UNION ALL
      |  SELECT 'tt_v3', pri, COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM v3 GROUP BY 2
      |  UNION ALL
      |  SELECT 'clone', pri, COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM cl GROUP BY 2
      |  UNION ALL
      |  SELECT 'indep', '', 0, CAST(NULL AS DOUBLE)
      |  UNION ALL
      |  SELECT 'zero_copy', '', 1, CAST(NULL AS DOUBLE)
      |  UNION ALL
      |  SELECT 'hist', 'RARR_AA', 4, CAST(2 AS DOUBLE))
      |SELECT * FROM faces ORDER BY face, pri""".stripMargin

  /** q313 — BATCH CHANGE DATA FEED from SQL text: Delta's
    * `table_changes(name, from[, to])` TABLE-VALUED FUNCTION, injected
    * through `SparkSessionExtensions.injectTableFunction` — the last
    * CDF surface that wasn't reachable as a pure statement (the
    * streaming feed is q290's `readChangeFeed`). Resolution happens at
    * analysis time: the literal name goes through the session's catalog
    * manager, the version range through [[TxnLog.changes]] — per-action
    * derivation off the manifest (appends serve their own files; a CoW
    * DELETE/UPDATE diffs only its EXCHANGED files — the file-granular
    * bound that keeps CDF cheap at 100 TB; an update appears as its
    * delete+insert pair).
    *
    * Lifecycle: two INSERTs (v1, v2 — 'insert' changes), a DELETE
    * (v3 — 'delete'), an UPDATE doubling price on a slice (v4 — the
    * delete+insert pair, old and new prices). Faces: `feed` aggregates
    * the full (0, 4] range per (version, change type); `tail` drives
    * the 2-arg form (to = current). Every row is closed-form in the
    * source predicates, so the oracle restates the whole feed. */
  def q313(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val wh = graft.io.FsUtil.scratchDir("graft_q313_wh")
    s.conf.set("spark.sql.catalog.gcd", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcd.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gcd.db")
    s.sql("CREATE TABLE gcd.db.t (ok BIGINT, price DOUBLE, pri STRING)")
    def sel(pred: String): String =
      s"""SELECT o_orderkey, o_totalprice, o_orderpriority
         FROM parquet.`$d/orders.parquet` WHERE $pred"""
    s.sql(s"INSERT INTO gcd.db.t ${sel("o_orderkey % 4 = 0")}")        // v1
    s.sql(s"INSERT INTO gcd.db.t ${sel("o_orderkey % 4 = 1")}")        // v2
    s.sql("DELETE FROM gcd.db.t WHERE ok % 8 = 1")                     // v3
    s.sql("UPDATE gcd.db.t SET price = price * 2 WHERE ok % 8 = 0")    // v4
    // ONE feed derivation (r18, guide §1.2/§2.4 — the r17 shared-subtree
    // precedent): the tail face is BY CDF SEMANTICS the feed restricted to
    // v ≥ 3 (per-version changes are independent of the requested range),
    // but as two separate table_changes calls the planner re-derived every
    // per-action diff — the X actions' sign-aggregations ran twice. The
    // grid (one row per (version, change_type)) is materialized once and
    // both faces project it; the open-ended-range TVF call path stays
    // pinned by MaintenanceSqlSpec. Result identical (oracle-verified).
    val grid = s.sql(
      """SELECT _commit_version AS v, _change_type AS t, COUNT(*) AS n,
        |       CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sp
        |FROM table_changes('gcd.db.t', 0, 4) GROUP BY 1, 2""".stripMargin)
      .localCheckpoint()
    grid.createOrReplaceTempView("graft_q313_chg")
    s.sql(
      """SELECT * FROM (
        |  SELECT 'feed' AS face, v, t, n, sp FROM graft_q313_chg
        |  UNION ALL
        |  SELECT 'tail', v, t, n, sp FROM graft_q313_chg WHERE v >= 3)
        |ORDER BY face, v, t""".stripMargin)
  }

  val q313Sql: String =
    """WITH b AS (
      |  SELECT o_orderkey AS ok, o_totalprice AS price FROM orders),
      |i1 AS (SELECT * FROM b WHERE ok % 4 = 0),
      |i2 AS (SELECT * FROM b WHERE ok % 4 = 1),
      |d3 AS (SELECT * FROM i2 WHERE ok % 8 = 1),
      |u4 AS (SELECT * FROM i1 WHERE ok % 8 = 0),
      |chg AS (
      |  SELECT CAST(1 AS BIGINT) AS v, 'insert' AS t, COUNT(*) AS n,
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sp FROM i1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'insert', COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) FROM i2
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'delete', COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) FROM d3
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), 'delete', COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) FROM u4
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), 'insert', COUNT(*),
      |         CAST(SUM(CAST(price * 2 AS DECIMAL(18,4))) AS DOUBLE) FROM u4)
      |SELECT * FROM (
      |  SELECT 'feed' AS face, v, t, n, sp FROM chg
      |  UNION ALL
      |  SELECT 'tail', v, t, n, sp FROM chg WHERE v >= 3)
      |ORDER BY face, v, t""".stripMargin

  /** q314 — `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` as a
    * STATEMENT: build manifest-level zone maps for files that were
    * written WITHOUT stats — the inherited/migrated-table story q223's
    * writer-known sidecars can't cover (at 100 TB you cannot rewrite the
    * table to get file skipping; one metadata-sized job per call). The
    * fixture lands three year-disjoint INSERTs through the catalog (no
    * sidecars exist), probes [1997, 1998] BEFORE the statement (no
    * pruning: planned == total — proving ANALYZE is what enables the
    * skipping), runs the statement, and probes again (planned < total,
    * ≥1 kept). Faces: `ledger` folds the before/after pruning arithmetic
    * and the statement's coverage count (n_entries == visible files)
    * into one flag; `rows` is the pruned scan's aggregate — exactly the
    * full-table filter (pruning soundness, hash-exact). */
  def q314(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val wh = graft.io.FsUtil.scratchDir("graft_q314_wh")
    s.conf.set("spark.sql.catalog.gan", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gan.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gan.db")
    s.sql("CREATE TABLE gan.db.ord (ok BIGINT, price DOUBLE, oyear BIGINT)")
    def ins(pred: String): Unit = {
      s.sql(s"""INSERT INTO gan.db.ord
        SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS BIGINT)
        FROM parquet.`$d/orders.parquet` WHERE year(o_orderdate) $pred"""); ()
    }
    ins("<= 1995"); ins("IN (1996, 1997)"); ins(">= 1998")
    val dir = s"$wh/db/ord"
    val pre = TxnLog.scanPruned(s, dir, "oyear", 1997L, 1998L)
    val res = s.sql(
      "ANALYZE TABLE gan.db.ord COMPUTE STATISTICS FOR COLUMNS oyear").head()
    val post = TxnLog.scanPruned(s, dir, "oyear", 1997L, 1998L)
    val ok = pre.plannedFiles == pre.totalFiles && // nothing skippable before
      post.plannedFiles < post.totalFiles &&       // files dropped at planning
      post.plannedFiles >= 1 &&
      res.getLong(1) == post.totalFiles.toLong     // every visible file covered
    val rows = post.df.groupBy(col("oyear"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)").as("rev"))
      .select(lit("rows").as("face"), col("oyear"), col("n"), col("rev"))
    rows.unionByName(s.sql(s"""SELECT 'ledger' AS face,
        CAST(0 AS BIGINT) AS oyear, CAST(${if (ok) 1 else 0} AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS rev"""))
      .orderBy(col("face"), col("oyear"))
  }

  val q314Sql: String =
    """SELECT * FROM (
      |  SELECT 'ledger' AS face, CAST(0 AS BIGINT) AS oyear,
      |         CAST(1 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS rev
      |  UNION ALL
      |  SELECT 'rows', CAST(year(o_orderdate) AS BIGINT), COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM orders WHERE year(o_orderdate) BETWEEN 1997 AND 1998
      |  GROUP BY 2)
      |ORDER BY face, oyear""".stripMargin

  /** q315 — TABLE PROPERTIES end-to-end, and a property with TEETH:
    * `TBLPROPERTIES` at CREATE, `ALTER TABLE ... SET/UNSET
    * TBLPROPERTIES`, and `SHOW TBLPROPERTIES` all ride Spark's OWN DSv2
    * grammar (the catalog persists a properties file next to the DDL
    * schema and serves it through `Table.properties()` — zero parser
    * code), and `graft.vacuum.retainVersions` is read by bare `VACUUM`
    * as the table's stored retention policy (Delta's
    * deletedFileRetentionDuration pattern in version-count terms — the
    * policy travels WITH the table, so every operator vacuums it
    * consistently). Lifecycle: create-with-properties → two OVERWRITEs
    * (history to reclaim) → SET adds a property, UNSET removes one →
    * bare VACUUM succeeds off the stored policy. Faces: `prop:*` = the
    * exact SHOW TBLPROPERTIES rows after the edits; `vacuum` folds
    * (reclaimed ≥ 1, floor == 3, below-floor read refuses) into one
    * flag with the floor pinned; `data` = the surviving rowset. */
  def q315(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val wh = graft.io.FsUtil.scratchDir("graft_q315_wh")
    s.conf.set("spark.sql.catalog.gtp", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gtp.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gtp.db")
    s.sql("""CREATE TABLE gtp.db.t (ok BIGINT, price DOUBLE)
      TBLPROPERTIES('graft.vacuum.retainVersions'='1', 'team'='curation')""")
    def sel(m: Int): String =
      s"""SELECT o_orderkey, o_totalprice
         FROM parquet.`$d/orders.parquet` WHERE o_orderkey % $m = 0"""
    s.sql(s"INSERT INTO gtp.db.t ${sel(3)}")            // v1
    s.sql(s"INSERT OVERWRITE gtp.db.t ${sel(9)}")       // v2 (R)
    s.sql(s"INSERT OVERWRITE gtp.db.t ${sel(27)}")      // v3 (R)
    s.sql("ALTER TABLE gtp.db.t SET TBLPROPERTIES('quality'='gold')")
    s.sql("ALTER TABLE gtp.db.t UNSET TBLPROPERTIES('team')")
    val reclaimed = s.sql("VACUUM gtp.db.t").head().getLong(0) // stored policy
    val dir = s"$wh/db/t"
    val belowFloorRefuses =
      try { s.sql("SELECT * FROM gtp.db.t VERSION AS OF 2").collect(); false }
      catch { case _: Exception => true }
    val vacuumOk = reclaimed >= 1 && TxnLog.minVersion(dir) == 3L &&
      belowFloorRefuses
    s.sql("SHOW TBLPROPERTIES gtp.db.t")
      .select(concat(lit("prop:"), col("key"), lit("="), col("value")).as("face"),
        lit(0L).as("n"), lit(null).cast("double").as("x"))
      .unionByName(s.sql(s"""SELECT 'vacuum' AS face,
        CAST(${if (vacuumOk) 1 else 0} AS BIGINT) AS n,
        CAST(${TxnLog.minVersion(dir)} AS DOUBLE) AS x"""))
      .unionByName(s.sql("""SELECT 'data' AS face, COUNT(*) AS n,
        CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS x
        FROM gtp.db.t"""))
      .orderBy(col("face"))
  }

  val q315Sql: String =
    """SELECT * FROM (
      |  SELECT 'prop:graft.vacuum.retainVersions=1' AS face,
      |         CAST(0 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS x
      |  UNION ALL
      |  SELECT 'prop:quality=gold', 0, CAST(NULL AS DOUBLE)
      |  UNION ALL
      |  SELECT 'vacuum', 1, CAST(3 AS DOUBLE)
      |  UNION ALL
      |  SELECT 'data', COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 27 = 0)
      |ORDER BY face""".stripMargin

  /** q316 — `CONVERT TO GRAFT`: the MIGRATION statement (Delta's CONVERT
    * TO DELTA). Plain parquet written by ordinary `df.write.parquet` —
    * one flat directory, one hive-partitioned tree — becomes two catalog
    * tables by LISTING the existing files into first manifests: zero
    * bytes rewritten (at 100 TB, rewriting history is not a migration
    * path). The hive tree's `col=val` dirs move under `pdata/` (one
    * rename each) so they land the EXACT layout the catalog's
    * partitioned commits use. Everything then composes as if the engine
    * had written the data: post-convert INSERTs append (flat bridge /
    * shared-pdata), `VERSION AS OF 1` serves exactly the converted
    * files, SHOW PARTITIONS lists the imported partitions. Faces:
    *   - `flat`/`part`: per-priority rollups of both tables AFTER their
    *     post-convert appends (converted ∪ appended rows, hash-exact)
    *   - `tt`: the flat table `VERSION AS OF 1` — the converted slice
    *   - `parts`: live-partition census of the hive import */
  def q316(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val wh = graft.io.FsUtil.scratchDir("graft_q316_wh")
    s.conf.set("spark.sql.catalog.gcv", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcv.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gcv.db")
    val src = s.read.parquet(s"$d/orders.parquet")
      .select(col("o_orderkey").as("ok"), col("o_totalprice").as("price"),
        col("o_orderpriority").as("pri"))
    // historical parquet, written by a pre-engine pipeline
    src.filter(col("ok") % 3 === 0).write.parquet(s"$wh/db/raw")
    src.filter(col("ok") % 3 === 1).write.partitionBy("pri")
      .parquet(s"$wh/db/rawp")
    s.sql("CONVERT TO GRAFT gcv.db.raw")
    s.sql("CONVERT TO GRAFT gcv.db.rawp PARTITIONED BY (pri)")
    def sel(pred: String): String =
      s"""SELECT o_orderkey, o_totalprice, o_orderpriority
         FROM parquet.`$d/orders.parquet` WHERE $pred"""
    s.sql(s"INSERT INTO gcv.db.raw ${sel("o_orderkey % 9 = 2")}")
    s.sql(s"INSERT INTO gcv.db.rawp ${sel("o_orderkey % 9 = 4")}")
    def face(from: String, tag: String): DataFrame = s.sql(
      s"""SELECT '$tag' AS face, pri, COUNT(*) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sp
         FROM $from GROUP BY pri""")
    val nParts = s.sql("SHOW PARTITIONS gcv.db.rawp").count()
    face("gcv.db.raw", "flat")
      .unionByName(face("gcv.db.rawp", "part"))
      .unionByName(face("gcv.db.raw VERSION AS OF 1", "tt"))
      .unionByName(s.sql(s"""SELECT 'parts' AS face, '' AS pri,
        CAST($nParts AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS sp"""))
      .orderBy(col("face"), col("pri"))
  }

  val q316Sql: String =
    """WITH b AS (
      |  SELECT o_orderkey AS ok, o_totalprice AS price,
      |         o_orderpriority AS pri FROM orders),
      |flat AS (
      |  SELECT * FROM b WHERE ok % 3 = 0
      |  UNION ALL SELECT * FROM b WHERE ok % 9 = 2),
      |part AS (
      |  SELECT * FROM b WHERE ok % 3 = 1
      |  UNION ALL SELECT * FROM b WHERE ok % 9 = 4),
      |faces AS (
      |  SELECT 'flat' AS face, pri, COUNT(*) AS n,
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sp
      |  FROM flat GROUP BY 2
      |  UNION ALL
      |  SELECT 'part', pri, COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM part GROUP BY 2
      |  UNION ALL
      |  SELECT 'tt', pri, COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM b WHERE ok % 3 = 0 GROUP BY 2
      |  UNION ALL
      |  SELECT 'parts', '', (SELECT COUNT(DISTINCT pri) FROM b WHERE ok % 3 = 1),
      |         CAST(NULL AS DOUBLE))
      |SELECT * FROM faces ORDER BY face, pri""".stripMargin

  /** q317 — MERGE-ON-READ SQL SCANS (Delta's deletion-vector read path,
    * [[graft.plans.MorScan]]): a catalog table with PENDING delete
    * vectors serves plain `SELECT` — the analysis rule inlines
    * `TxnLog.read`'s plan (parquet scan + broadcast anti-joins) in place
    * of the DSv2 relation BEFORE scan pushdown would refuse it. At
    * 100 TB: a one-row GDPR erasure no longer makes the table unreadable
    * until a full rewrite. Lifecycle: two INSERTs, a vector on `ok`
    * values, a LATE append (the vector suppresses matching keys by
    * VALUE — the appended slice is key-disjoint and survives), a second
    * stacked vector on `pri`. Faces:
    *   - `cur`:  rollup at LATEST — both vectors applied, late append in
    *   - `tt2`:  `VERSION AS OF 2` — pre-vector, the PLAIN scan path
    *   - `tt3`:  `VERSION AS OF 3` — only the first vector applies (the
    *     version axis composes with merge-on-read) */
  def q317(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val wh = graft.io.FsUtil.scratchDir("graft_q317_wh")
    s.conf.set("spark.sql.catalog.gdv", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gdv.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gdv.db")
    // the DV-WRITE policy travels in TBLPROPERTIES: DELETE statements
    // commit vectors (metadata-sized) instead of CoW rewrites
    s.sql("""CREATE TABLE gdv.db.t (ok BIGINT, price DOUBLE, pri STRING)
      TBLPROPERTIES('graft.dml.useVectors'='true', 'graft.keys'='ok')""")
    def sel(pred: String): String =
      s"""SELECT o_orderkey, o_totalprice, o_orderpriority
         FROM parquet.`$d/orders.parquet` WHERE $pred"""
    s.sql(s"INSERT INTO gdv.db.t ${sel("o_orderkey % 4 = 0")}")   // v1 A
    s.sql(s"INSERT INTO gdv.db.t ${sel("o_orderkey % 4 = 2")}")   // v2 A
    s.sql("DELETE FROM gdv.db.t WHERE ok % 8 = 0")                // v3 D
    s.sql(s"INSERT INTO gdv.db.t ${sel("o_orderkey % 8 = 1")}")   // v4 A
    s.sql("DELETE FROM gdv.db.t WHERE pri = '1-URGENT'")          // v5 D
    val dir = s"$wh/db/t"
    val actions = TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1).take(1)).mkString
    def face(from: String, tag: String): DataFrame = s.sql(
      s"""SELECT '$tag' AS face, pri, COUNT(*) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sp
         FROM $from GROUP BY pri""")
    face("gdv.db.t", "cur")
      .unionByName(face("gdv.db.t VERSION AS OF 2", "tt2"))
      .unionByName(face("gdv.db.t VERSION AS OF 3", "tt3"))
      .unionByName(s.sql(s"""SELECT 'hist' AS face, '$actions' AS pri,
        CAST(${TxnLog.currentVersion(dir)} AS BIGINT) AS n,
        CAST(NULL AS DOUBLE) AS sp"""))
      .orderBy(col("face"), col("pri"))
  }

  val q317Sql: String =
    """WITH b AS (
      |  SELECT o_orderkey AS ok, o_totalprice AS price,
      |         o_orderpriority AS pri FROM orders),
      |vis AS (
      |  SELECT * FROM b WHERE ok % 4 IN (0, 2)
      |  UNION ALL SELECT * FROM b WHERE ok % 8 = 1),
      |faces AS (
      |  SELECT 'cur' AS face, pri, COUNT(*) AS n,
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sp
      |  FROM vis WHERE ok % 8 <> 0 AND pri <> '1-URGENT' GROUP BY 2
      |  UNION ALL
      |  SELECT 'tt2', pri, COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM b WHERE ok % 4 IN (0, 2) GROUP BY 2
      |  UNION ALL
      |  SELECT 'tt3', pri, COUNT(*),
      |         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM b WHERE ok % 4 IN (0, 2) AND ok % 8 <> 0 GROUP BY 2
      |  UNION ALL
      |  SELECT 'hist', 'AADAD', 5, CAST(NULL AS DOUBLE))
      |SELECT * FROM faces ORDER BY face, pri""".stripMargin

  val defs: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q317_sql_dv_scan" -> ((q317 _, Some(q317Sql))),
    "q316_sql_convert" -> ((q316 _, Some(q316Sql))),
    "q315_sql_tblproperties" -> ((q315 _, Some(q315Sql))),
    "q314_sql_analyze_stats" -> ((q314 _, Some(q314Sql))),
    "q313_sql_table_changes" -> ((q313 _, Some(q313Sql))),
    "q311_sql_restore_clone" -> ((q311 _, Some(q311Sql))),
    "q309_sql_table_metadata" -> ((q309 _, Some(q309Sql))),
    "q289_sql_catalog" -> ((q289 _, Some(q289Sql))),
    "q303_sql_partitioned_ctas" -> ((q303 _, Some(q303Sql))),
    "q292_sql_dml" -> ((q292 _, Some(q292Sql))),
    "q297_sql_schema_evolution" -> ((q297 _, Some(q297Sql))),
    "q298_catalog_stream_pipeline" -> ((q298 _, Some(q298Sql))),
    "q299_maintenance_sql" -> ((q299 _, Some(q299Sql))))
}
