package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Dataset-management operators a 100 TB pipeline runs between queries:
  * snapshot DIFF (change-data-capture between two table versions, q104)
  * and MERGE/upsert application of a changefeed (q105). The two are
  * mutually verifying — q105 applies q104's change set to the old
  * snapshot and must reproduce the new one, and its oracle recomputes the
  * new snapshot independently, so a bug in either diff or merge breaks
  * the hash gate.
  *
  * The reference's closest analog is its INSERT-OR-IGNORE append
  * (/root/reference/process_audio.py:62,378) — insert-only, no update or
  * delete detection; these generalize that to the full I/U/D changefeed a
  * versioned dataset needs.
  */
object DataOps {

  // ---------------------------------------------------------------- q104
  /** Snapshot diff (CDC): given two versions of the orders table, emit the
    * changefeed — rows only in v2 (op=I), rows only in v1 (op=D), and rows
    * whose tracked column changed (op=U). Both versions derive
    * deterministically from the driver's orders table: v1 lacks keys
    * ending in 3 (later inserts), v2 lacks keys ending in 7 (deletes), and
    * v2 reprices keys divisible by 5 (+1000.0 — an exact IEEE add, so both
    * engines agree bit-for-bit).
    *
    * Scale shape: ONE full-outer join keyed on the snapshot key. With both
    * snapshots bucketed/partitioned on that key (how versioned tables are
    * laid out at 100 TB) this is an exchange-free zipper merge; unchanged
    * rows — the overwhelming majority of a real diff — are filtered before
    * any downstream work. The change predicate compares columns, never
    * hashes whole rows. o_totalprice is non-null in this schema; nullable
    * tracked columns would swap =!= for a null-safe inequality. */
  def q104(s: SparkSession, d: String): DataFrame =
    changeSet(s, d).orderBy(col("o_orderkey"))

  /** v1: the "old" snapshot. */
  private def snapV1(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey"), col("o_totalprice").as("old_price"))

  /** v2: the "new" snapshot — deletes keys ending in 7, reprices keys
    * divisible by 5. */
  private def snapV2(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 =!= 7)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).as("new_price"))

  /** The unordered changefeed — q104's body, also consumed by q105. */
  private[queries] def changeSet(s: SparkSession, d: String): DataFrame = {
    val v1 = snapV1(s, d).withColumnRenamed("o_orderkey", "k1")
    val v2 = snapV2(s, d).withColumnRenamed("o_orderkey", "k2")
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .withColumn("op",
        when(col("k1").isNull, "I")
          .when(col("k2").isNull, "D")
          .when(col("old_price") =!= col("new_price"), "U"))
      .filter(col("op").isNotNull)
      .select(coalesce(col("k1"), col("k2")).as("o_orderkey"),
        col("op"), col("old_price"), col("new_price"))
  }

  val q104Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey AS k1, o_totalprice AS old_price
      |  FROM orders WHERE o_orderkey % 10 <> 3),
      |v2 AS (
      |  SELECT o_orderkey AS k2,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
      |         ELSE o_totalprice END AS new_price
      |  FROM orders WHERE o_orderkey % 10 <> 7)
      |SELECT coalesce(k1, k2) AS o_orderkey,
      |  CASE WHEN k1 IS NULL THEN 'I'
      |       WHEN k2 IS NULL THEN 'D'
      |       WHEN old_price <> new_price THEN 'U' END AS op,
      |  old_price, new_price
      |FROM v1 FULL OUTER JOIN v2 ON k1 = k2
      |WHERE k1 IS NULL OR k2 IS NULL OR old_price <> new_price
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q105
  /** MERGE / upsert: apply q104's changefeed to the OLD snapshot — delete
    * the D keys, overwrite the U keys with their new price, append the I
    * rows — and emit the merged table. The oracle recomputes the NEW
    * snapshot directly from orders, so the gate verifies the round trip
    * merge(v1, diff(v1, v2)) == v2 through two independent derivations.
    *
    * Scale shape: a changefeed is small against the snapshot (here ~28% by
    * construction; single-digit percent in practice), so it BROADCASTS
    * onto the snapshot's scan — the big side never shuffles. The merge is
    * one left join (D filtered, U coalesced) plus a union of the inserts;
    * writing the result partitioned on the key keeps the next diff/merge
    * cycle exchange-free. */
  def q105(s: SparkSession, d: String): DataFrame = {
    // drop the changefeed's old_price: v1 already carries it, and the merge
    // decision needs only (key, op, new_price)
    val ch = changeSet(s, d).select(col("o_orderkey"), col("op"), col("new_price"))
    val merged = snapV1(s, d)
      .join(broadcast(ch), Seq("o_orderkey"), "left")
      .filter(col("op").isNull || col("op") === "U")
      .select(col("o_orderkey"),
        when(col("op") === "U", col("new_price"))
          .otherwise(col("old_price")).as("o_totalprice"))
      .unionByName(
        ch.filter(col("op") === "I")
          .select(col("o_orderkey"), col("new_price").as("o_totalprice")))
    merged.orderBy(col("o_orderkey"))
  }
  val q105Sql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 10 <> 7
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q108
  /** Salted skew JOIN — the join-side twin of q58's salted aggregation:
    * events carry a catastrophically low-cardinality key (a handful of
    * event types over millions of rows), so a plain shuffle join melts
    * ≤5 reducers no matter how many executors exist. ops/Skew.saltedJoin
    * spreads each hot key over 16 salt buckets (fact side salted
    * deterministically from event_id, dim side replicated 16×); the result
    * is row-identical to the unsalted join, which is exactly what the
    * oracle states. The post-join rollup is safe on the same hot key
    * because partial aggregation collapses it map-side.
    *
    * At scale this is the fallback when the dim can't broadcast and AQE's
    * stats miss the skew (per-partition sizes look uniform when ALL keys
    * are hot); PlanCheck asserts the join key actually includes the salt. */
  def q108(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(s, d).select(col("event_type"), col("event_id"), col("value"))
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")).cast("double"))
    graft.ops.Skew.saltedJoin(ev, dim, "event_type", 16, Seq(col("event_id")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") * col("type_weight")).cast(DecimalType(18, 6)))
          .cast("double").as("weighted_sum"))
      .orderBy(col("event_type"))
  }
  val q108Sql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type, CAST(len(event_type) AS DOUBLE) AS type_weight
      |  FROM events)
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value * d.type_weight AS DECIMAL(18,6))) AS DOUBLE) AS weighted_sum
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Literal-weight linear quality classifier — the fasttext-style learned
    * quality gate every LLM corpus runs, with the trained model frozen
    * into the query as literal weights: four cheap text features (token
    * count, average token length, type-token ratio, stopword ratio) are
    * combined into a logit; keep = logit > 0. Raw logit instead of a
    * sigmoid keeps the arithmetic transcendental-free, so both engines
    * agree bit-for-bit (the decision boundary is identical either way).
    *
    * Scale shape: pure per-row projection — no shuffle, no UDF; the
    * feature extraction and the dot product are one codegen'd expression
    * tree over the corpus scan. Swapping trained weights is a literal
    * edit, not a plan change. */
  def q109(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        split(trim(lower(col("text"))), "\\s+").as("t"))
      .withColumn("n_tokens", size(col("t")).cast("double"))
      .withColumn("avg_len", length(col("text")).cast("double") / col("n_tokens"))
      .withColumn("ttr", size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        size(expr("filter(t, x -> x = 'the' OR x = 'a')")).cast("double") / col("n_tokens"))
      .withColumn("logit",
        lit(-2.0) + lit(0.004) * col("n_tokens") + lit(2.5) * col("ttr")
          + lit(3.0) * col("stop_ratio") - lit(0.05) * col("avg_len"))
      .select(col("doc_id"), col("logit"), (col("logit") > 0.0).as("keep"))
      .orderBy(col("doc_id"))
  val q109Sql: String =
    """WITH x AS (
      |  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CAST(len(t) AS DOUBLE) AS n_tokens,
      |    CAST(len(text) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS avg_len,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS ttr,
      |    CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |      / CAST(len(t) AS DOUBLE) AS stop_ratio
      |  FROM x)
      |SELECT doc_id,
      |  -2.0 + 0.004 * n_tokens + 2.5 * ttr + 3.0 * stop_ratio - 0.05 * avg_len AS logit,
      |  (-2.0 + 0.004 * n_tokens + 2.5 * ttr + 3.0 * stop_ratio - 0.05 * avg_len) > 0.0 AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Heavy-hitter terms — every token whose corpus frequency exceeds N/32,
    * answered WITHOUT a full-vocabulary groupBy: pass 1 is a single scan
    * building per-partition Misra-Gries sketches (k=63 counters each,
    * merged on the driver — bounded by construction, see
    * ops/HeavyHitters.scala for the containment guarantee: 1/32 > 1/64 =
    * 1/(k+1), so every true heavy hitter is a candidate); pass 2 recounts
    * ONLY candidate tokens exactly, so the one exchange carries ≤ 63
    * distinct keys after map-side partial aggregation. The recount makes
    * the output exact and partitioning-independent, which is what lets an
    * exact-count oracle hash-check a sketch-driven plan. */
  def q110(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(split(trim(lower(col("text"))), "\\s+").as("t"))
    val (total, cand) =
      graft.ops.HeavyHitters.sketch(toks.as[Seq[String]], k = 63)
    val candTerms = cand.keys.toArray.sorted
    val candFilter =
      if (candTerms.isEmpty) lit(false) else col("term").isInCollection(candTerms)
    Tables.documents(s, d)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(candFilter)
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 32 > total)
      .orderBy(col("term"))
  }
  val q110Sql: String =
    """WITH toks AS (
      |  SELECT u.tok FROM (
      |    SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
      |    unnest(t) AS u(tok)),
      |tot AS (SELECT COUNT(*) AS n FROM toks),
      |c AS (SELECT tok AS term, COUNT(*) AS cnt FROM toks GROUP BY tok)
      |SELECT c.term, c.cnt FROM c, tot WHERE c.cnt * 32 > tot.n
      |ORDER BY term""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Bucketed co-located join — §4's shuffle-elimination layout promoted
    * to the oracle board (it lived in ScaleSpec only): lineitem and orders
    * are written as tables bucketed AND sorted by their join key, so the
    * fact-fact join needs NO exchange on either side — at 100 TB this is
    * the difference between a join that moves both tables and one that
    * moves nothing (the layout paid the shuffle once, at write time, for
    * every future join on that key). The only remaining exchange is the
    * tiny post-join rollup. The write is once per (session, dir) — keyed
    * tables are reused when they exist, the q77 idempotency pattern.
    * PlanCheck asserts the join runs with no join-key exchange. */
  def q114(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val li = bucketedTable(s, d, "li",
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      "l_orderkey")
    val or = bucketedTable(s, d, "ord",
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
      "o_orderkey")
    li.join(or, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }
  /** Write-once bucketed table keyed on (suffix, input dir); 8 buckets,
    * sorted within buckets, external path under tmp. */
  private def bucketedTable(s: SparkSession, d: String, suffix: String,
                            df: DataFrame, key: String): DataFrame = {
    val tag = java.lang.Integer.toHexString(d.hashCode)
    val name = s"graft_bkt_${suffix}_$tag"
    if (!s.catalog.tableExists(name)) {
      df.write.mode("overwrite")
        .option("path", s"${sys.props("java.io.tmpdir")}/graft_bucketed_${suffix}_$tag")
        .bucketBy(8, key).sortBy(key)
        .format("parquet").saveAsTable(name)
    }
    s.table(name)
  }
  val q114Sql: String =
    """SELECT o.o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q125
  /** Temperature-based data-mixing schedule — the sampling knob every
    * multi-source LLM corpus tunes: per-source weights (token counts)
    * reweighted by w^(1/T) with T=2 (sqrt — IEEE-correctly-rounded in
    * both engines, so the shares agree bit-exact), normalized against a
    * DECIMAL-quantized denominator (the repo's order-independent sum),
    * and turned into integer per-source quotas for a 1000-doc budget.
    * Downstream the quotas feed q89's deterministic md5-rank selection.
    * One corpus aggregation; everything after runs on 20 rows. */
  def q125(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Tables.documents(s, d)
      .select(col("source"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
    val tot = w.agg(
      sum(col("tokens")).as("tot_tokens"),
      sum(sqrt(col("tokens").cast("double")).cast(DecimalType(18, 6))).as("tot_sqrt"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        (col("tokens").cast("double") / col("tot_tokens").cast("double")).as("raw_share"),
        (sqrt(col("tokens").cast("double")) / col("tot_sqrt").cast("double")).as("temp_share"))
      .withColumn("quota", floor(lit(1000.0) * col("temp_share")).cast("long"))
      .orderBy(col("source"))
  }
  val q125Sql: String =
    """WITH w AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(tokens) AS BIGINT) AS tot_tokens,
      |    SUM(CAST(sqrt(CAST(tokens AS DOUBLE)) AS DECIMAL(18,6))) AS tot_sqrt
      |  FROM w)
      |SELECT source, n_docs, tokens,
      |  CAST(tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS raw_share,
      |  sqrt(CAST(tokens AS DOUBLE)) / CAST(tot_sqrt AS DOUBLE) AS temp_share,
      |  CAST(floor(1000.0 * (sqrt(CAST(tokens AS DOUBLE)) / CAST(tot_sqrt AS DOUBLE))) AS BIGINT) AS quota
      |FROM w, tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q126
  /** Reproducible epoch shuffle — the training-data ordering operator:
    * each epoch permutes the corpus by a seeded content hash, giving
    * every worker the same order with no RNG state. The scale point is
    * HOW the global position is computed: never a single-partition
    * row_number over the corpus (the oracle's formulation — fine for
    * DuckDB, a driver-melting bottleneck for Spark). Instead the hash's
    * first byte buckets rows into 256 groups; positions are within-bucket
    * ranks plus broadcast cumulative bucket offsets — a distributed total
    * order from one 256-way exchange and a 512-row offset table.
    * PlanCheck asserts no SinglePartition window exists in the plan. */
  def q126(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epochs = Tables.documents(s, d)
      .select(col("doc_id"), explode(typedLit(Array(0L, 1L))).as("epoch"))
      .withColumn("h", md5(concat(lit("epoch"), col("epoch"), lit(":"), col("doc_id"))))
      .withColumn("bucket",
        expr("cast(conv(substring(h, 1, 2), 16, 10) as bigint)"))
    val wIn = Window.partitionBy(col("epoch"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    val ranked = epochs.withColumn("rn", row_number().over(wIn))
    val wOff = Window.partitionBy(col("epoch")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = epochs.groupBy(col("epoch"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("epoch"), col("bucket"), col("off"))
    ranked.join(broadcast(offsets), Seq("epoch", "bucket"))
      .select(col("epoch"), col("doc_id"), (col("off") + col("rn")).as("pos"))
      .orderBy(col("epoch"), col("pos"))
  }
  val q126Sql: String =
    """WITH e AS (
      |  SELECT doc_id, u.epoch,
      |    md5('epoch' || u.epoch || ':' || doc_id) AS h
      |  FROM documents, unnest(ARRAY[0, 1]) AS u(epoch))
      |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
      |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS pos
      |FROM e ORDER BY epoch, pos""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Parquet schema evolution — the data-lake reality that half a corpus
    * was written before a column existed: two snapshots of orders land
    * with different schemas (the newer adds o_orderstatus), and a
    * mergeSchema read unions them with nulls backfilling the old files.
    * The aggregate proves row counts, null accounting, and exact sums
    * survive the merged read. Writes are idempotent per (session, dir) —
    * the q77 pattern. */
  def q127(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = s"${sys.props("java.io.tmpdir")}/graft_schema_evo_${
      java.lang.Integer.toHexString(d.hashCode)}"
    val o = Tables.orders(s, d)
    // own completion marker, written driver-side AFTER both stages land
    // (_SUCCESS is disabled session-wide as per-write committer ceremony)
    val done = new java.io.File(s"$base/_graft_done")
    if (!done.isFile) {
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/p1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$base/p2")
      done.createNewFile()
    }
    s.read.option("mergeSchema", "true").parquet(s"$base/p1", s"$base/p2")
      .groupBy(coalesce(col("o_orderstatus"), lit("<pre-schema>")).as("status"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("sum_price"))
      .orderBy(col("status"))
  }
  val q127Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
      |            ELSE o_orderstatus END AS status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q129
  /** Incremental aggregate maintenance — materialized-view delta algebra:
    * yesterday's per-bucket aggregate (over snapshot v1) is brought up to
    * date by FOLDING IN the q104 changefeed (+new for inserts, −old for
    * deletes, new−old for updates) instead of rescanning the snapshot.
    * The oracle recomputes the aggregate directly over v2, so the gate
    * proves the delta algebra reproduces the full recomputation exactly —
    * including the decimal quantization, which is applied per change row
    * the same way the base aggregation applies it per source row (the
    * +1000.0 repricing survives 4-decimal quantization distributively
    * because price noise is ~1e-10 against a 5e-5 rounding boundary).
    * At 100 TB this is THE pattern that turns a daily full-table rollup
    * into a changefeed-sized job. */
  def q129(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val old = snapV1(s, d)
      .groupBy((col("o_orderkey") % 7).as("bucket"))
      .agg(count(lit(1)).as("n0"),
        sum(col("old_price").cast(DecimalType(18, 4))).as("s0"))
    val delta = changeSet(s, d)
      .groupBy((col("o_orderkey") % 7).as("bucket"))
      .agg(
        sum(when(col("op") === "I", 1L).when(col("op") === "D", -1L).otherwise(0L)).as("dn"),
        sum(when(col("op") === "I", col("new_price"))
          .when(col("op") === "D", -col("old_price"))
          .otherwise(col("new_price") - col("old_price"))
          .cast(DecimalType(18, 4))).as("ds"))
    val zero = lit(0).cast(DecimalType(18, 4))
    old.join(delta, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s0"), zero) + coalesce(col("ds"), zero))
          .cast("double").as("sum_price"))
      .orderBy(col("bucket"))
  }
  val q129Sql: String =
    """SELECT o_orderkey % 7 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
      |                     ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey % 10 <> 7
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q180
  /** Global dense ordinal assignment (stable example IDs over the corpus)
    * computed WITHOUT a single-partition global sort — range exchange +
    * local sort + zipWithIndex's two-pass offsets (`ops/Ordinals`). The
    * oracle states the same ordinals declaratively as
    * row_number() OVER (ORDER BY doc_id), so the hash gate proves the
    * distributed formulation equals the global-sort semantics exactly. */
  def q180(s: SparkSession, d: String): DataFrame =
    graft.ops.Ordinals.globalOrdinal(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("doc_id"), partitions = 8)
      .orderBy(col("ordinal"))
  val q180Sql: String =
    """SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) AS ordinal
      |FROM documents ORDER BY ordinal""".stripMargin

  // ---------------------------------------------------------------- q181
  /** Distributed NTILE: equal-frequency corpus sharding (the "split the
    * dataset into n equal chunks by key order" primitive) without the
    * all-to-one sort NTILE's window plans. Built from q180's range-exchange
    * ordinals plus NTILE's exact integer arithmetic: with N rows, n tiles,
    * q = N div n and r = N mod n, the first r tiles hold q+1 rows —
    *   tile(o) = ceil(o / (q+1))                     for o ≤ r(q+1)
    *   tile(o) = r + ceil((o − r(q+1)) / q)          otherwise
    * The oracle is the literal NTILE(10) window, so the hash gate holds the
    * arithmetic to the exact window semantics, ties-to-first included. */
  def q181(s: SparkSession, d: String): DataFrame = {
    val n = 10
    val ord = graft.ops.Ordinals.globalOrdinal(
      Tables.documents(s, d).select(col("doc_id")), col("doc_id"), partitions = 8)
    val cnt = ord.agg(count(lit(1)).as("N"))
    val q = floor(col("N") / n)
    val r = col("N") % n
    ord.crossJoin(broadcast(cnt))
      .withColumn("tile",
        when(col("ordinal") <= r * (q + lit(1)),
             floor((col("ordinal") - 1) / (q + lit(1))) + 1)
          .otherwise(r + floor((col("ordinal") - r * (q + lit(1)) - 1) / q) + 1)
          .cast("long"))
      .select(col("doc_id"), col("tile"))
      .orderBy(col("doc_id"))
  }
  val q181Sql: String =
    """SELECT doc_id, NTILE(10) OVER (ORDER BY doc_id) AS tile
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q178
  /** Runtime bloom-filter semi-join reduction: the selective dim filter is
    * pushed into the FACT side as a bloom membership test BEFORE the join
    * shuffle. At 100 TB this is the difference between shuffling the whole
    * fact table and shuffling the ~1/6 of it that can possibly match — the
    * optimizer builds a bloom of the filtered dim's join keys at runtime
    * (`InjectRuntimeFilter`) and the fact scan drops non-members map-side.
    *
    * The board session's thresholds would never fire at bench scale
    * (application-side gate is 10 GB of scanned bytes), so the query runs
    * on a SIBLING session (`newSession`: shared context, private conf) with
    * the gates opened and broadcast disabled — the shuffle join is the case
    * the bloom exists for, and nothing leaks into the shared session.
    * PlanCheck demands the `might_contain` probe in the fact-side plan.
    * The oracle is the plain join — the bloom is pure pruning, row-set
    * silent (false positives only ever ADD candidate rows, which the real
    * join condition then rejects). */
  def q178(s0: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val s = s0.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
    val dim = Tables.part(s, d)
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_type"))
    val fact = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    fact.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
      .orderBy(col("p_type"))
  }
  val q178Sql: String =
    """SELECT p_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_type = 'PROMO'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q183
  /** Count-min-sketch heavy-key prefilter: find the activity buckets holding
    * ≥ 1/64 of all events WITHOUT shuffling the light keys. Pass 1 builds a
    * 4×16 count-min sketch (one scan, sketch-sized exchange); pass 2 probes
    * it as a literal codegen expression on the scan side, so only rows whose
    * ESTIMATED frequency clears the threshold enter the group-by exchange —
    * the q178 bloom slot, thresholded on frequency instead of membership.
    * CM estimates never undercount, so every truly-heavy key survives the
    * prefilter intact (the probe is per-key constant — all-or-nothing per
    * key), and the exact recount afterwards rejects the collision-inflated
    * light keys: the output is EXACT, which is why the oracle can state it
    * as a plain GROUP BY ... HAVING. Width 16 < 17 live keys forces real
    * collisions — the sketch is exercised, not vacuous.
    *
    * The key derives a geometric (power-law-like) activity distribution
    * deterministically from event_id — `length(bin(x)) - 1` is floor(log2 x)
    * in exact integer arithmetic (both engines agree character-for-
    * character), so bucket k carries ~2^k/65536 of the mass: the hot-user
    * shape CM exists for, reproducible in DuckDB. */
  private def q183Key(c: Column): Column =
    (length(bin(lit(1) + pmod(c, lit(65536)))) - 1).cast("long")

  def q183(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(q183Key(col("event_id")).as("bucket"))
    val sk = graft.ops.CountMin.build(ev, col("bucket"), depth = 4, width = 16)
    ev.filter(sk.estimate(col("bucket")) * 64 >= sk.total)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 64 >= sk.total)
      .orderBy(col("bucket"))
  }
  val q183Sql: String =
    """WITH b AS (
      |  SELECT CAST(length(bin(1 + (event_id % 65536))) - 1 AS BIGINT) AS bucket
      |  FROM events)
      |SELECT bucket, COUNT(*) AS cnt FROM b
      |GROUP BY bucket HAVING COUNT(*) * 64 >= (SELECT COUNT(*) FROM b)
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q186
  /** Compaction planner: pack a small-file inventory into fixed-capacity
    * output bins in key order — the maintenance pass that turns a 100 TB
    * table's millions of drip-fed small files into target-sized ones. The
    * plan is "concatenate in key order, cut every T bytes": a file's bin is
    * its cumulative START offset div T, which needs a global running sum —
    * computed here with `Ordinals.globalPrefixSum` (range exchange + one
    * subtotal per partition + offset fold) instead of the window
    * formulation's all-to-one sort, while the oracle states the same plan
    * AS that window (`SUM ... ROWS UNBOUNDED PRECEDING`), so the hash gate
    * proves the distributed scan-sum equals the declarative semantics.
    * T = 2^14 keeps the div exact in both engines' integer arithmetic.
    *
    * Scale shape: an inventory is metadata (one row per FILE, not per
    * record) — but at 100 TB that is still tens of millions of rows, past
    * the single-task window sort this formulation avoids. */
  def q186(s: SparkSession, d: String): DataFrame = {
    val inv = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.ops.Ordinals.globalPrefixSum(inv, col("doc_id"), "n_chars", partitions = 8)
      .withColumn("bin", expr("(running - n_chars) div 16384"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"))
      .orderBy(col("bin"))
  }
  val q186Sql: String =
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |    COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      |  FROM documents)
      |SELECT CAST(start // 16384 AS BIGINT) AS bin, COUNT(*) AS n_files,
      |  CAST(SUM(n_chars) AS BIGINT) AS bytes
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q224
  /** AVRO container round trip through [[graft.sources.AvroSource]] (DSv2,
    * round 8): documents are written out as one Avro container file per
    * partition (executor-side, via the avro-core codec that ships with
    * Spark's jars), read back through the connector, and aggregated per
    * language with an exact md5 text checksum — so the gate proves the
    * row-oriented codec round-trips every byte of every column. The scan
    * pushes the projection INTO the codec: a reader schema narrowed to the
    * required fields makes Avro's resolving decoder skip the bytes of
    * unprojected columns (AvroSourceSpec pins that plus type fidelity). */
  def q224(s: SparkSession, d: String): DataFrame = {
    val dir = graft.io.FsUtil.scratchDir("graft_q224_avro")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val schema = docs.schema
    docs.repartition(4, col("doc_id")).sortWithinPartitions(col("doc_id"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.AvroSource.writeFile(s"$dir/part-$pid.avro", schema, it)
        }
      }
    s.read.format("graft.sources.AvroSource").option("path", dir).load()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
        sum(expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)")).as("hsum"))
      .orderBy(col("lang"))
  }
  val q224Sql: String =
    """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS hsum
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q225
  /** DETERMINISTIC HYPERLOGLOG (round 8): the mergeable distinct-count
    * sketch with every bit pinned cross-engine — where q75/q149 use
    * Spark's native approx_count_distinct (rows-only check impossible to
    * hash-gate), this one IS hash-gated, registers and all. Recipe: a
    * 60-bit md5 hash splits into bucket = h % 128 and a 53-bit suffix
    * w = h div 128; the register update is rho(w) = 54 − length(bin(w))
    * (leading-zero count via the minimal binary string — `bin` exists in
    * both engines with identical semantics, so no log2 comes near the
    * gate) folded with MAX per bucket: ONE map-side-combined aggregation
    * to 128 rows regardless of corpus size, the sketch property that
    * makes it mergeable across partitions/partial scans (SketchSpec
    * proves merge-by-max == whole-corpus registers). The raw HLL
    * estimator alpha·m²/Σ2^(−Mj) is evaluated INTEGER-EXACT: scale by
    * 2^maxM so the harmonic sum is Σ2^(maxM−Mj) (exact BIGINT), with
    * alpha(128) = 7213·m/(10·(1000m+1079)) as the exact rational and one
    * truncating division where Spark `div` and DuckDB `//` agree; the
    * small/large-range corrections (which need ln) stay OFF the gate,
    * documented. Faces: all 128 registers, the raw estimate, and the
    * exact distinct count it approximates. */
  def q225(s: SparkSession, d: String): DataFrame = {
    // ONE corpus pass for both faces (r17 verdict item 4): bucket and rho
    // are functions of l_partkey ALONE, and the exact face is
    // COUNT(DISTINCT l_partkey) — so a single distinct-key aggregation
    // feeds the register MAX-fold and the exact count. The previous shape
    // scanned lineitem twice (md5-per-ROW register pass + a separate
    // countDistinct pass, which shuffles the distinct keys anyway) and
    // hashed every row where hashing every KEY yields the identical MAX
    // per bucket (duplicates can never raise a max). Guide §2.3/§2.4:
    // aggregate before you shuffle; don't compute what you throw away.
    val keys = Tables.lineitem(s, d).select(col("l_partkey")).distinct()
      .localCheckpoint() // |distinct keys| rows; both faces read this
    val hashed = keys
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat('hll:', cast(l_partkey as string))), 1, 15), 16, 10) as bigint)"))
      .select((col("h") % 128).as("bucket"),
        expr("54 - length(bin(h div 128))").as("rho"))
    val regs = s.range(128).select(col("id").as("bucket"))
      .join(hashed.groupBy("bucket").agg(max("rho").as("mr")), Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("mr"), lit(0L)).as("reg"))
      .localCheckpoint() // 128 rows; everything below reads the grid, not the corpus
    val est = regs.crossJoin(regs.agg(max("reg").as("maxM")))
      .select(expr("shiftleft(1L, cast(maxM - reg as int))").as("t"), col("maxM"))
      .groupBy("maxM").agg(sum("t").as("S"))
      .select(expr(
        """(cast(7213 as decimal(38,0)) * 2097152 * shiftleft(1L, cast(maxM as int)))
          | div (cast(10 as decimal(38,0)) * 129079 * S)""".stripMargin).as("value"))
      .select(lit("est").as("face"), lit(-1L).as("bucket"), col("value"))
    // count(col) over the distinct keys ≡ countDistinct over the rows,
    // NULL semantics included (both ignore a NULL key)
    val exact = keys
      .agg(count(col("l_partkey")).as("value"))
      .select(lit("exact").as("face"), lit(-2L).as("bucket"), col("value"))
    regs.select(lit("reg").as("face"), col("bucket"), col("reg").as("value"))
      .unionByName(est).unionByName(exact)
      .orderBy(col("face"), col("bucket"))
  }
  val q225Sql: String =
    """WITH b AS (
      |  SELECT ('0x' || substr(md5('hll:' || l_partkey), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |rho AS (SELECT h % 128 AS bucket, 54 - length(bin(h // 128)) AS rho FROM b),
      |r0 AS (SELECT bucket, MAX(rho) AS mr FROM rho GROUP BY 1),
      |regs AS (
      |  SELECT g.range AS bucket, COALESCE(r0.mr, 0) AS reg
      |  FROM range(128) g LEFT JOIN r0 ON r0.bucket = g.range),
      |m AS (SELECT MAX(reg) AS maxm FROM regs),
      |sden AS (
      |  SELECT SUM((1::BIGINT << (m.maxm - reg))::HUGEINT) AS s,
      |         ANY_VALUE(m.maxm) AS maxm
      |  FROM regs, m),
      |est AS (
      |  SELECT (7213::HUGEINT * 2097152 * (1::BIGINT << maxm)::HUGEINT)
      |         // (10::HUGEINT * 129079 * s) AS e
      |  FROM sden)
      |SELECT 'reg' AS face, CAST(bucket AS BIGINT) AS bucket,
      |       CAST(reg AS BIGINT) AS value
      |FROM regs
      |UNION ALL
      |SELECT 'est', CAST(-1 AS BIGINT), CAST(e AS BIGINT) FROM est
      |UNION ALL
      |SELECT 'exact', CAST(-2 AS BIGINT), COUNT(DISTINCT l_partkey) FROM lineitem
      |ORDER BY face, bucket""".stripMargin

  // ---------------------------------------------------------------- q270
  /** COUNT-MIN SKETCH (Cormode–Muthukrishnan) — the LINEAR sketch next
    * to q110's Misra–Gries (comparison-based) and q225/q226's distinct
    * sketches: d=4 hash rows × w=64 cells of plain counts. Three
    * properties on trial, all deterministic and oracle-restated:
    * (face 0) the sketch grid itself — one pass, the post-partial-agg
    * exchange carries ≤ d·w·partitions rows, never N; (face 1) point
    * estimates for a probe set: est = min over the item's d cells,
    * with the one-sided guarantee est ≥ exact that makes CM usable as
    * an admission filter at 100 TB (never misses a heavy item);
    * (face 2) LINEARITY — sketch(all) − sketch(slice) equals
    * sketch(all ∖ slice) cell-for-cell, the turnstile property
    * Misra–Gries fundamentally lacks: deletions, retractions, and
    * distributed slice-wise builds all merge by cellwise addition
    * (mismatching cells must count 0). Hashes are the board's md5
    * recipe, so both engines compute identical cells. */
  def q270(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id").as("u"),
      col("event_type").as("et"))
    def cellOf(j: Int): Column = expr(
      s"cast(conv(substring(md5(concat('cm$j:', cast(u as string))), 1, 15), 16, 10) as bigint) % 64")
    // ONE exchange builds all three grids (r17 verdict item 2): the sketch
    // is linear, so sketch(all), sketch(click slice) and sketch(remainder)
    // are three conditional counts of the SAME exploded cell stream — one
    // partial-agg pass, ≤ d·w·partitions rows shuffled. The previous shape
    // localCheckpointed the full events table (a corpus-sized
    // materialization) and ran three separate sketch passes over it, which
    // is also why it ran FASTER on 8 cores than 32 (guide §2.3; per-
    // partition constants × 3 passes dominated the fixture-scale work).
    // A slice cell with no clicks counts 0 where the old left join
    // coalesced an absent row to 0 — same cell values, cell for cell.
    val grids = ev
      .select(col("et"), explode(array((0 until 4).map(j =>
        struct(lit(j.toLong).as("j"), cellOf(j).as("cell"))): _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.cell").as("cell"))
      .agg(count(lit(1)).as("ca"),
        count(when(col("et") === "click", 1)).as("cs"),
        count(when(col("et") =!= "click", 1)).as("cr"))
      .localCheckpoint()                          // 256-row grid: checkpoint
    val face0 = grids.select(lit(0L).as("face"), (col("j") * 64 + col("cell")).as("k"),
      col("ca").as("v1"), lit(0L).as("v2"))
    // probe set: a deterministic handful of users; est = min over d cells
    val probes = ev.filter(col("u") % 13 === 0).groupBy(col("u"))
      .agg(count(lit(1)).as("exact"))
    val est = probes.select(col("u"), col("exact"),
        explode(array((0 until 4).map(j =>
          struct(lit(j.toLong).as("j"), cellOf(j).as("cell"))): _*)).as("c"))
      .join(broadcast(grids.select(col("j"), col("cell"), col("ca").as("cnt"))),
        col("c.j") === col("j") && col("c.cell") === col("cell"))
      .groupBy(col("u"), col("exact")).agg(min(col("cnt")).as("est"))
    val face1 = est.select(lit(1L).as("face"), col("u").as("k"),
      col("exact").as("v1"), col("est").as("v2"))
    // linearity: (all − slice) vs remainder, cellwise; 0 mismatches —
    // every cell of the slice/remainder grids is a cell of the full grid
    // (a slice is a subset of events), so the grid itself carries the
    // whole comparison
    val lin = grids
      .agg(sum(when(col("ca") - col("cs") =!= col("cr"), 1L).otherwise(0L))
        .as("mismatches"))
    val face2 = lin.select(lit(2L).as("face"), lit(-1L).as("k"),
      col("mismatches").cast("long").as("v1"), lit(0L).as("v2"))
    face0.unionByName(face1).unionByName(face2)
      .orderBy(col("face"), col("k"))
  }
  val q270Sql: String =
    """WITH ev AS (SELECT user_id AS u, event_type AS et FROM events),
      |cells AS (
      |  SELECT j.range AS j,
      |    ('0x' || substr(md5('cm' || j.range || ':' || u), 1, 15))::BIGINT % 64 AS cell,
      |    u, et
      |  FROM ev, range(4) j),
      |grid AS (
      |  SELECT j, cell, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
      |gslice AS (
      |  SELECT j, cell, COUNT(*) AS cnt FROM cells WHERE et = 'click' GROUP BY 1, 2),
      |grem AS (
      |  SELECT j, cell, COUNT(*) AS cnt FROM cells WHERE et <> 'click' GROUP BY 1, 2),
      |probes AS (
      |  SELECT u, COUNT(*) // 4 AS exact FROM cells WHERE u % 13 = 0 GROUP BY u),
      |est AS (
      |  SELECT c.u, ANY_VALUE(p.exact) AS exact, MIN(g.cnt) AS est
      |  FROM (SELECT DISTINCT u, j, cell FROM cells WHERE u % 13 = 0) c
      |  JOIN probes p ON p.u = c.u
      |  JOIN grid g ON g.j = c.j AND g.cell = c.cell
      |  GROUP BY c.u),
      |lin AS (
      |  SELECT SUM(CASE WHEN g.cnt - COALESCE(s.cnt, 0) <> COALESCE(r.cnt, 0)
      |                  THEN 1 ELSE 0 END) AS mism
      |  FROM grid g
      |  LEFT JOIN gslice s ON s.j = g.j AND s.cell = g.cell
      |  LEFT JOIN grem r ON r.j = g.j AND r.cell = g.cell)
      |SELECT CAST(0 AS BIGINT) AS face, j * 64 + cell AS k,
      |  CAST(cnt AS BIGINT) AS v1, CAST(0 AS BIGINT) AS v2
      |FROM grid
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), u, CAST(exact AS BIGINT), CAST(est AS BIGINT)
      |FROM est
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(-1 AS BIGINT), CAST(mism AS BIGINT),
      |  CAST(0 AS BIGINT)
      |FROM lin
      |ORDER BY face, k""".stripMargin

  // ---------------------------------------------------------------- q226
  /** KMV / THETA SKETCH SET ALGEBRA (round 8): the k-minimum-values
    * distinct sketch — the one that, unlike q225's HLL, supports SET
    * OPERATIONS on sketches: per event_type keep the k=64 smallest
    * distinct 60-bit hashes of user_id; θ = the k-th smallest, and
    * D̂ = (k−1)·2⁶⁰ div θ (or the kept count when under k — exact by
    * definition there). The UNION sketch of two types is computed from
    * the two 64-row sketches ALONE (k smallest of their merge — never
    * re-touching the corpus), and the intersection estimate is
    * inclusion–exclusion over three estimates — the audience-overlap
    * question q199 answers exactly, here answered from metadata-sized
    * sketches. Everything on the gate is integer: hashes, θ, one
    * truncating division per estimate. Scale shape: one partial-agg
    * distinct on (type, hash), then the row_number≤k idiom that
    * WindowTopKRewrite lowers to the per-group bounded heap; sketch
    * algebra reads 128 rows. The exact faces (distinct-hash count,
    * user-level intersection) ride along so the gate also states the
    * estimator's actual error on this corpus. */
  def q226(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val estExpr = s"case when kept < $k then kept else " +
      s"cast((cast(${k - 1} as decimal(38,0)) * shiftleft(1L, 60)) div theta as bigint) end"
    val dist = Tables.events(s, d)
      .select(col("event_type"), expr(
        "cast(conv(substring(md5(concat('kmv:', cast(user_id as string))), 1, 15), 16, 10) as bigint)")
        .as("h"))
      .distinct()
    val sk = dist
      .withColumn("rn", row_number().over(Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rn") <= k).select("event_type", "h")
      .localCheckpoint() // the sketch: ≤ 64 rows per type — everything below reads THIS
    val perType = sk.groupBy("event_type")
      .agg(count(lit(1)).as("kept"), max(col("h")).as("theta"))
      .withColumn("est", expr(estExpr))
    val pair = Seq("click", "purchase")
    val union = sk.filter(col("event_type").isInCollection(pair))
      .select(col("h")).distinct()
      .withColumn("rn", row_number().over(Window.orderBy("h")))
      .filter(col("rn") <= k)
      .agg(count(lit(1)).as("kept"), max(col("h")).as("theta"))
      .withColumn("est", expr(estExpr))
    val exact = dist.groupBy("event_type").agg(count(lit(1)).as("value"))
      .select(lit("exact").as("face"), col("event_type").as("tag"), col("value"))
    val interExact = Tables.events(s, d).filter(col("event_type") === "click")
      .select("user_id").distinct()
      .intersect(Tables.events(s, d).filter(col("event_type") === "purchase")
        .select("user_id").distinct())
      .agg(count(lit(1)).as("value"))
      .select(lit("inter_exact").as("face"), lit("click|purchase").as("tag"), col("value"))
    val pairTag = lit("click|purchase")
    val interEst = perType.filter(col("event_type") === "click").select(col("est").as("ea"))
      .crossJoin(perType.filter(col("event_type") === "purchase").select(col("est").as("eb")))
      .crossJoin(union.select(col("est").as("eu")))
      .select(lit("inter_est").as("face"), pairTag.as("tag"),
        (col("ea") + col("eb") - col("eu")).as("value"))
    perType.select(lit("est").as("face"), col("event_type").as("tag"), col("est").as("value"))
      .unionByName(perType.select(lit("theta").as("face"), col("event_type").as("tag"),
        col("theta").as("value")))
      .unionByName(exact)
      .unionByName(union.select(lit("union_est").as("face"), pairTag.as("tag"),
        col("est").as("value")))
      .unionByName(interEst)
      .unionByName(interExact)
      .orderBy(col("face"), col("tag"))
  }
  val q226Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5('kmv:' || user_id), 1, 15))::BIGINT AS h
      |  FROM events),
      |r AS (SELECT event_type, h,
      |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM d),
      |sk AS (SELECT event_type, h FROM r WHERE rn <= 64),
      |agg AS (SELECT event_type, COUNT(*) AS kept, MAX(h) AS theta FROM sk GROUP BY 1),
      |est AS (
      |  SELECT event_type, theta,
      |    CASE WHEN kept < 64 THEN kept
      |         ELSE CAST((63::HUGEINT * (1::BIGINT << 60)) // theta AS BIGINT) END AS est
      |  FROM agg),
      |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      |         SELECT DISTINCT h FROM sk WHERE event_type IN ('click', 'purchase')) u),
      |ua AS (SELECT COUNT(*) AS kept, MAX(h) AS theta FROM ur WHERE rn <= 64),
      |uest AS (
      |  SELECT CASE WHEN kept < 64 THEN kept
      |         ELSE CAST((63::HUGEINT * (1::BIGINT << 60)) // theta AS BIGINT) END AS est
      |  FROM ua),
      |ie AS (SELECT (SELECT est FROM est WHERE event_type = 'click')
      |            + (SELECT est FROM est WHERE event_type = 'purchase')
      |            - (SELECT est FROM uest) AS v),
      |ix AS (SELECT COUNT(*) AS v FROM (
      |         SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |         INTERSECT
      |         SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') t)
      |SELECT 'est' AS face, event_type AS tag, CAST(est AS BIGINT) AS value FROM est
      |UNION ALL SELECT 'theta', event_type, CAST(theta AS BIGINT) FROM est
      |UNION ALL SELECT 'exact', event_type, CAST(COUNT(*) AS BIGINT)
      |  FROM d GROUP BY event_type
      |UNION ALL SELECT 'union_est', 'click|purchase', CAST(est AS BIGINT) FROM uest
      |UNION ALL SELECT 'inter_est', 'click|purchase', CAST(v AS BIGINT) FROM ie
      |UNION ALL SELECT 'inter_exact', 'click|purchase', CAST(v AS BIGINT) FROM ix
      |ORDER BY face, tag""".stripMargin

  val defs: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q226_theta_sketch_algebra" -> ((q226 _, Some(q226Sql))),
    "q270_count_min_sketch" -> ((q270 _, Some(q270Sql))),
    "q224_avro_roundtrip" -> ((q224 _, Some(q224Sql))),
    "q225_hll_registers" -> ((q225 _, Some(q225Sql))),
    "q186_compaction_bins" -> ((q186 _, Some(q186Sql))),
    "q183_countmin_prefilter" -> ((q183 _, Some(q183Sql))),
    "q178_bloom_prune_join" -> ((q178 _, Some(q178Sql))),
    "q180_global_ordinal" -> ((q180 _, Some(q180Sql))),
    "q181_distributed_ntile" -> ((q181 _, Some(q181Sql))),
    "q129_incremental_agg" -> ((q129 _, Some(q129Sql))),
    "q125_temperature_mixing" -> ((q125 _, Some(q125Sql))),
    "q126_epoch_shuffle"  -> ((q126 _, Some(q126Sql))),
    "q127_schema_evolution" -> ((q127 _, Some(q127Sql))),
    "q104_snapshot_diff" -> ((q104 _, Some(q104Sql))),
    "q105_merge_apply"   -> ((q105 _, Some(q105Sql))),
    "q108_salted_skew_join" -> ((q108 _, Some(q108Sql))),
    "q109_quality_classifier" -> ((q109 _, Some(q109Sql))),
    "q110_heavy_hitters" -> ((q110 _, Some(q110Sql))),
    "q114_bucketed_join" -> ((q114 _, Some(q114Sql))))
}
