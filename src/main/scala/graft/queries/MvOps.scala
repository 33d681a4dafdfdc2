package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.plans.MvRewrite
import graft.plans.MvRewrite.{MvDef, MvMeasure}

/** Materialized-view query routing (q278): the optimizer-rule surface that
  * answers fact-table aggregations from a precomputed aggregate table —
  * see [[graft.plans.MvRewrite]] for the rewrite rule itself.
  *
  * The board entry builds a (l_returnflag, l_linestatus) MV over lineitem
  * (COUNT + decimal SUM(l_quantity) + MIN/MAX(l_extendedprice) partials),
  * registers it, and probes the three rewrite shapes that make MV routing
  * useful plus one negative control:
  *
  *   - `exact`:    the MV's own grouping — answered row-for-row from the MV
  *   - `rollup`:   a COARSER grouping (l_returnflag only) — COUNT re-sums
  *                 cnt, SUM re-sums sum partials, MIN/MAX re-fold extrema;
  *                 the algebra that makes one MV serve a grouping lattice
  *   - `filtered`: a key-column predicate — commutes through the grouping,
  *                 so it prunes MV GROUPS (at scale: partition-pruned MV
  *                 files), never fact rows
  *   - `avgf`:     AVG + COUNT(col) derived from the declared sum/count
  *                 partial pair (round-9 verdict item 5) — avg over the
  *                 LONG cast so all three engines divide the same exact
  *                 integer sum by the same count
  *   - `empty_global`: a key predicate matching NO group with no GROUP BY
  *                 — derived COUNTs coalesce to 0, SUM/AVG stay NULL
  *                 (the ADVICE-flagged global-aggregate hole, now gated)
  *   - `control`:  aggregates NOT covered by the MV (sum of l_discount,
  *                 max of l_tax) — the rule must leave the plan alone
  *   - `control_distinct`: one DISTINCT aggregate poisons the whole face
  *                 — the rewrite is all-or-nothing, never partial
  *
  * Each face carries `mv_used`, read FROM THE OPTIMIZED PLAN (does it scan
  * the MV path and not the base path?), and the oracle states TRUE for the
  * three rewritable faces and FALSE for the control — so both the routing
  * decision and the rewritten results are hash-gated against DuckDB
  * computing every face directly over lineitem.
  *
  * Scale shape: the three rewritten faces aggregate the ≤ |rf×ls| = 6-row
  * MV — the fact table is scanned ONCE (to build the MV), not four times;
  * on a 100 TB deployment the MV build is amortized across every dashboard
  * query in the grouping lattice, kept current by the incremental-view
  * machinery (q202/q209/q231).
  */
object MvOps {

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Seq.empty[String]
      }
    }.flatten

  def q278(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d) // also ensures the rule is live on s
    val basePath = s"$d/lineitem.parquet"
    val mvDir = graft.io.FsUtil.scratchDir("graft_q278_mv")
    val mvPath = s"$mvDir/mv"

    val dec = DecimalType(18, 4)
    // ONE fact scan feeds BOTH the MV build and the control faces (r18,
    // guide §2.4 — the previous shape scanned lineitem once for the MV and
    // again for the fused controls): pre-aggregate at (rf, ls, qty) grain,
    // ≤ |rf×ls×distinct qty| ≈ 300 rows, from which everything downstream
    // re-aggregates EXACTLY — counts sum, decimal/long sums fold
    // associatively, MIN/MAX fold, COUNT(DISTINCT qty) per rf is a
    // distinct over the grain keys, and avg's sum/count pair derives from
    // (qty × cnt, cnt). Decimal re-aggregation widens the type, so the MV
    // columns are cast back to the exact types the direct aggregate wrote.
    val pre = li.groupBy(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty_l"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("l_quantity").cast(dec)).as("sum_qty"),
           min(col("l_extendedprice")).as("min_price"),
           max(col("l_extendedprice")).as("max_price"),
           sum(col("l_discount").cast(dec)).as("sum_disc"),
           max(col("l_tax")).as("max_tax"))
      .localCheckpoint()
    pre.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("cnt")).as("cnt"),
           sum(col("sum_qty")).cast(DecimalType(28, 4)).as("sum_qty"),
           min(col("min_price")).as("min_price"),
           max(col("max_price")).as("max_price"),
           // AVG partial pair (round-9 verdict item 5): exact long sums +
           // the column's own non-null count — what lets the rule derive
           // avg and COUNT(col) instead of refusing them
           sum(when(col("qty_l").isNotNull, col("qty_l") * col("cnt"))).as("sum_qty_l"),
           coalesce(sum(when(col("qty_l").isNotNull, col("cnt"))), lit(0L)).as("cnt_qty_l"))
      .coalesce(1).write.mode("overwrite").parquet(mvPath)

    MvRewrite.register(MvDef(
      basePath = basePath, mvPath = mvPath,
      keys = Seq("l_returnflag", "l_linestatus"), cntCol = "cnt",
      measures = Seq(
        MvMeasure("sum", "l_quantity", Some(dec), "sum_qty"),
        MvMeasure("min", "l_extendedprice", None, "min_price"),
        MvMeasure("max", "l_extendedprice", None, "max_price"),
        MvMeasure("sum", "l_quantity", Some(org.apache.spark.sql.types.LongType), "sum_qty_l"),
        MvMeasure("cnt", "l_quantity", Some(org.apache.spark.sql.types.LongType), "cnt_qty_l"))))
    try {
      val exact = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
             max(col("l_extendedprice")).as("extreme"))
        .select(lit("exact").as("face"), col("l_returnflag").as("rf"),
                col("l_linestatus").as("ls"), col("n"), col("sum_qty"), col("extreme"))
      val rollup = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
             min(col("l_extendedprice")).as("extreme"))
        .select(lit("rollup").as("face"), col("l_returnflag").as("rf"),
                lit(null).cast("string").as("ls"), col("n"), col("sum_qty"), col("extreme"))
      val filtered = li.filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
             max(col("l_extendedprice")).as("extreme"))
        .select(lit("filtered").as("face"), col("l_returnflag").as("rf"),
                lit(null).cast("string").as("ls"), col("n"), col("sum_qty"), col("extreme"))
      // AVG face (round-9 verdict item 5): avg + COUNT(col) both derive
      // from the declared partial pair — avg over the LONG cast, so every
      // engine (direct Spark, rewritten Spark, DuckDB) divides the same
      // exact integer sum by the same count: one correctly-rounded IEEE
      // division, bit-identical on all three paths
      val avgf = li.groupBy(col("l_returnflag"))
        .agg(count(col("l_quantity").cast("long")).as("n"),
             avg(col("l_quantity").cast("long")).as("sum_qty"),
             max(col("l_extendedprice")).as("extreme"))
        .select(lit("avgf").as("face"), col("l_returnflag").as("rf"),
                lit(null).cast("string").as("ls"), col("n"), col("sum_qty"), col("extreme"))
      // empty-global face: a key predicate matching NO group, no GROUP BY —
      // the one shape where COUNT must coalesce to 0 while SUM/AVG stay
      // NULL (the ADVICE-flagged hole, now a gated face)
      val emptyGlobal = li.filter(col("l_returnflag") === "ZZ")
        .agg(count(lit(1)).as("n"),
             avg(col("l_quantity").cast("long")).as("sum_qty"),
             max(col("l_extendedprice")).as("extreme"))
        .select(lit("empty_global").as("face"), lit(null).cast("string").as("rf"),
                lit(null).cast("string").as("ls"), col("n"), col("sum_qty"), col("extreme"))
      // negative control: sum/max of columns the MV does not carry —
      // the rule must refuse (a partial rewrite would be wrong)
      val control = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(col("l_discount").cast(dec)).cast("double").as("sum_qty"),
             max(col("l_tax")).as("extreme"))
        .select(lit("control").as("face"), col("l_returnflag").as("rf"),
                lit(null).cast("string").as("ls"), col("n"), col("sum_qty"), col("extreme"))
      // distinct control: one DISTINCT aggregate poisons the whole face —
      // the rewrite is all-or-nothing, never partial
      val controlDistinct = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_quantity").cast("long")).as("n"),
             avg(col("l_quantity").cast("long")).as("sum_qty"),
             max(col("l_extendedprice")).as("extreme"))
        .select(lit("control_distinct").as("face"), col("l_returnflag").as("rf"),
                lit(null).cast("string").as("ls"), col("n"), col("sum_qty"), col("extreme"))

      // the routing decision, read from each face's optimized plan: the MV
      // path replaced the base path (or, for the control, did not)
      def routed(df: DataFrame): Boolean = {
        val ps = scanPaths(df)
        ps.contains(s"$mvPath") && !ps.exists(_.endsWith("lineitem.parquet"))
      }
      val faces = Seq(exact, rollup, filtered, avgf, emptyGlobal, control, controlDistinct)
      val flags = faces.map(routed) // exact/rollup/filtered/avgf/empty_global: true; controls: false
      // Bench hygiene (round-10 verdict item 7), two moves with the hash
      // unchanged: (1) the two NEGATIVE-CONTROL faces' routing flags come
      // from their own per-face optimized plans above, but their DATA
      // comes from ONE fused aggregate — both group by l_returnflag, so
      // two full fact scans become one; (2) everything collects as a
      // single union job instead of seven serialized collects.
      // derived from the SAME pre-aggregated grain as the MV build (one
      // fact scan total): n1/s1/e1/e2 fold, COUNT(DISTINCT qty) is a
      // distinct over the grain keys, and avg divides the exact long sum
      // by the exact non-null count — the identical IEEE division
      val fusedControls = pre.groupBy(col("l_returnflag"))
        .agg(sum(col("cnt")).as("n1"),
             sum(col("sum_disc")).cast("double").as("s1"),
             max(col("max_tax")).as("e1"),
             countDistinct(col("qty_l")).as("n2"),
             (sum(when(col("qty_l").isNotNull, col("qty_l") * col("cnt"))).cast("double") /
              sum(when(col("qty_l").isNotNull, col("cnt"))).cast("double")).as("s2"),
             max(col("max_price")).as("e2"))
        .localCheckpoint(eager = false)
      def controlFace(tag: String, n: Column, sq: Column, ex: Column): DataFrame =
        fusedControls.select(lit(tag).as("face"), col("l_returnflag").as("rf"),
          lit(null).cast("string").as("ls"), n.as("n"), sq.as("sum_qty"),
          ex.as("extreme"))
      val dataFaces = Seq(exact, rollup, filtered, avgf, emptyGlobal,
        controlFace("control", col("n1"), col("s1"), col("e1")),
        controlFace("control_distinct", col("n2"), col("s2"), col("e2")))
      // EXECUTE inside the registration window — the returned DataFrame is
      // lazy, and the registry must not leak past this query (a later
      // aggregate on the same base path would silently route to a stale
      // MV). The faces are ≤ 15 aggregate rows (metadata-sized, the ledger
      // pattern): the real, MV-routed plans run HERE; the caller re-reads
      // a LocalRelation. A deployment keeps the MV registered session-wide
      // instead — this window-then-materialize is the board's hygiene.
      val tagged = dataFaces.zip(flags).map { case (f, used) =>
        f.withColumn("mv_used", lit(used)) }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      tagged.reduce(_.unionByName(_)).collect().foreach(rows.add)
      s.createDataFrame(rows, tagged.head.schema)
        .orderBy(col("face"), col("rf"), col("ls"))
    } finally MvRewrite.unregister(basePath)
  }

  val q278Sql: String =
    """SELECT * FROM (
      |  SELECT 'exact' AS face, l_returnflag AS rf, l_linestatus AS ls,
      |         COUNT(*) AS n,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |         MAX(l_extendedprice) AS extreme, TRUE AS mv_used
      |  FROM lineitem GROUP BY 2, 3
      |  UNION ALL
      |  SELECT 'rollup', l_returnflag, NULL, COUNT(*),
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE),
      |         MIN(l_extendedprice), TRUE
      |  FROM lineitem GROUP BY 2
      |  UNION ALL
      |  SELECT 'filtered', l_returnflag, NULL, COUNT(*),
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE),
      |         MAX(l_extendedprice), TRUE
      |  FROM lineitem WHERE l_linestatus = 'F' GROUP BY 2
      |  UNION ALL
      |  SELECT 'avgf', l_returnflag, NULL, COUNT(CAST(l_quantity AS BIGINT)),
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
      |           / COUNT(CAST(l_quantity AS BIGINT)),
      |         MAX(l_extendedprice), TRUE
      |  FROM lineitem GROUP BY 2
      |  UNION ALL
      |  SELECT 'empty_global', NULL, NULL, COUNT(*), CAST(NULL AS DOUBLE),
      |         MAX(l_extendedprice), TRUE
      |  FROM lineitem WHERE l_returnflag = 'ZZ'
      |  UNION ALL
      |  SELECT 'control', l_returnflag, NULL, COUNT(*),
      |         CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE),
      |         MAX(l_tax), FALSE
      |  FROM lineitem GROUP BY 2
      |  UNION ALL
      |  SELECT 'control_distinct', l_returnflag, NULL,
      |         COUNT(DISTINCT CAST(l_quantity AS BIGINT)),
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*),
      |         MAX(l_extendedprice), FALSE
      |  FROM lineitem GROUP BY 2
      |) ORDER BY face, rf, ls""".stripMargin

  // ---------------------------------------------------------------- q280
  /** INCREMENTALLY-MAINTAINED MV over a TXN-LOG TABLE, routed by the
    * rewrite rule — the three round-9 pieces composed the way a warehouse
    * actually runs them: the MV's partials are kept current FROM THE
    * CHANGE FEED (never a base recompute), and the visible FILE SET of
    * the registered snapshot is the freshness token (`MvDef.exactRoots`)
    * — any commit changes the file list and silently un-matches a stale
    * MV, the failure mode that makes naive MV routing dangerous.
    *
    *   v1: orders slice committed; MV = per-priority (cnt, sum DECIMAL
    *       total) partials; probe v1 routes to the MV (plan-read flag).
    *   v2: a MERGE upserts — repriced rows (update = delete+insert in
    *       the feed) and brand-new keys; the MV is advanced by ONE pass
    *       over `TxnLog.changes(v1→v2]`: Δcnt = Σ(±1), Δsum = Σ(±total)
    *       per group, full-outer-applied to the old partials (groups may
    *       appear; cnt=0 groups drop). COUNT/SUM are the
    *       self-maintainable aggregates — MIN/MAX need recompute under
    *       deletes, the classic IVM asymmetry, so this MV declares none.
    *   Probe v2 routes to the UPDATED MV; a probe of the v2 scan while
    *   only the STALE v1 MV is registered must NOT route (freshness
    *   face, mv_used=false, values still correct — from the base).
    *
    * The oracle recomputes both table states relationally from orders
    * (the merge's transforms are exact: +1024.0 repricing is an IEEE
    * add), so a wrong feed sign, a missed group, a stale-MV hit, or a
    * routing regression all break the hash. */
  def q280(s: SparkSession, d: String): DataFrame = {
    import graft.io.TxnLog
    val orders = Tables.orders(s, d) // ensures the rule is live on s
    val dir = graft.io.FsUtil.scratchDir("graft_q280_tbl")
    val mvDir = graft.io.FsUtil.scratchDir("graft_q280_mv")
    val dec = DecimalType(18, 4)
    // fixture sizing + single-scan staging (round-9 verdict item 2; r18
    // widened): the IVM-routing claim needs the lifecycle, not order
    // volume — the %6 slice halves the previous %3 one, and ONE
    // checkpointed scan now stages BOTH the v1 slice and the merge's
    // insert slice (they are disjoint: %6=0 implies %3=0), so the second
    // full orders scan the insert slice used to pay is gone (guide §2.4)
    val staged = orders.filter(col("o_orderkey") % 6 === 0 ||
        (col("o_orderkey") % 3 === 1 && col("o_orderkey") % 7 === 0))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .localCheckpoint()
    val base = staged.filter(col("o_orderkey") % 6 === 0)
    TxnLog.commit(base.coalesce(2), dir) // v1

    def partials(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("o_totalprice").cast(dec)).as("sum_total"))
    val mv1 = s"$mvDir/v1"
    partials(TxnLog.read(s, dir)).coalesce(1).write.parquet(mv1)

    /** MV definition pinned to the CURRENT snapshot's file set — captured
      * at call time, so a def built at v1 goes stale (and un-matches) the
      * moment a commit changes the visible files. */
    def snapshotDef(mvPath: String): MvDef = MvDef(
      basePath = dir, mvPath = mvPath,
      keys = Seq("o_orderpriority"), cntCol = "cnt",
      measures = Seq(MvMeasure("sum", "o_totalprice", Some(dec), "sum_total")),
      exactRoots = Some(TxnLog.read(s, dir).inputFiles
        .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet))

    def probe(tag: String, expectMv: Option[String]): DataFrame = {
      val q = TxnLog.read(s, dir).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_totalprice").cast(dec)).cast("double").as("sum_total"))
      val ps = scanPaths(q)
      val used = expectMv.exists(mv => ps.contains(mv)) &&
        !ps.exists(_.contains("graft_q280_tbl"))
      // materialize inside the registration window (the q278 hygiene)
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      q.withColumn("face", lit(tag)).withColumn("mv_used", lit(used))
        .collect().foreach(rows.add)
      s.createDataFrame(rows,
        q.withColumn("face", lit(tag)).withColumn("mv_used", lit(false)).schema)
    }

    try {
      val defV1 = snapshotDef(mv1) // pinned to v1's file set
      MvRewrite.register(defV1)
      val faceV1 = probe("v1_routed", Some(mv1))

      // v2: MERGE — reprice every 5th key (+1024.0, exact) and insert
      // fresh keys shifted beyond the key range
      MvRewrite.unregister(dir)
      val repriced = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1024.0))
      val inserts = staged.filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
                col("o_orderpriority"), col("o_totalprice"))
      TxnLog.merge(s, dir, repriced.unionByName(inserts), Seq("o_orderkey")) // v2

      // stale-MV face: the v1 def (pinned to v1's files) is still
      // registered, but the merge changed the visible set — the rewrite
      // must refuse and the values must come from the base table
      MvRewrite.register(defV1)
      val faceStale = probe("v2_stale_mv", Some(mv1))
      MvRewrite.clear()

      // advance the MV from the change feed — one pass over (v1, v2]
      val delta = TxnLog.changes(s, dir, 1L, 2L)
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("dcnt"),
             sum(when(col("_change_type") === "insert",
                      col("o_totalprice").cast(dec))
               .otherwise(-col("o_totalprice").cast(dec))).as("dsum"))
      val mv2 = s"$mvDir/v2"
      s.read.parquet(mv1).join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
                (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L))).as("cnt"),
                (coalesce(col("sum_total"), lit(0).cast(dec)) +
                 coalesce(col("dsum"), lit(0).cast(dec))).as("sum_total"))
        .filter(col("cnt") > 0)
        .coalesce(1).write.parquet(mv2)

      MvRewrite.register(snapshotDef(mv2)) // pinned to v2's file set
      val faceV2 = probe("v2_routed", Some(mv2))

      faceV1.unionByName(faceStale).unionByName(faceV2)
        .select(col("face"), col("o_orderpriority"), col("n"),
                col("sum_total"), col("mv_used"))
        .orderBy(col("face"), col("o_orderpriority"))
    } finally MvRewrite.clear()
  }

  val q280Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey % 6 = 0),
      |v2 AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1024.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM base
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 7 = 0),
      |f1 AS (
      |  SELECT 'v1_routed' AS face, o_orderpriority, COUNT(*) AS n,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total,
      |         TRUE AS mv_used
      |  FROM base GROUP BY 2),
      |fs AS (
      |  SELECT 'v2_stale_mv', o_orderpriority, COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), FALSE
      |  FROM v2 GROUP BY 2),
      |f2 AS (
      |  SELECT 'v2_routed', o_orderpriority, COUNT(*),
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
      |  FROM v2 GROUP BY 2)
      |SELECT * FROM f1 UNION ALL SELECT * FROM fs UNION ALL SELECT * FROM f2
      |ORDER BY face, o_orderpriority""".stripMargin

  val defs: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q278_mv_rewrite" -> ((q278 _, Some(q278Sql))),
    "q280_mv_incremental_routing" -> ((q280 _, Some(q280Sql))))
}
