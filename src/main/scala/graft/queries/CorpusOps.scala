package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-7 continuation: corpus-ASSEMBLY operators — the stage after
  * curation where a training corpus is actually put together, plus the
  * table-maintenance machinery that stage runs on.
  *
  * Sampling: PRIORITY SAMPLING (q201, Duffield–Lund–Thorup — a weighted
  * sample with an unbiased total estimator, integer-only so it's
  * hash-exact), its PER-STRATUM form (q208, riding the bounded-heap
  * rewrite) and its STREAMING form (q210 — top-k by priority is a
  * mergeable summary, so k+1 rows of state survive any number of
  * micro-batches). Mixture: the closed-form WATER-FILLING allocator
  * (q204). Search: CONJUNCTIVE POSTING-LIST search (q203). Dedup:
  * SemDeDup-style CLUSTER-BUCKETED semantic dedup (q205). Statistics:
  * exact per-source OLS REGRESSION (q207). History: SCD2 DIMENSION build
  * (q206) and the POINT-IN-TIME join against it (q211 — the
  * feature-store leakage guard). Maintenance: INCREMENTAL VIEW
  * MAINTENANCE one-shot (q202), across micro-batches (q209), and
  * VERSIONED through the io/TxnLog commit protocol (q214); the protocol
  * itself is driven by q212 (commit/crash/time-travel) and q213
  * (compaction invariance).
  *
  * The reference (/root/reference/process_audio.py) has no corpus-assembly
  * surface; these extend the LLM-data-pipeline tier the same way
  * LlmOps/GovernOps do.
  */
object CorpusOps {

  // ---------------------------------------------------------------- q201
  /** Priority sampling (Duffield–Lund–Thorup), weight = n_chars, k = 100.
    * Each doc draws a deterministic 40-bit uniform u from md5(doc_id);
    * priority = w·2⁴⁰ div u (u ∈ [1, 2⁴⁰] so priority ≥ w, in w-units —
    * all integer, so Spark and DuckDB agree bit-for-bit with no float
    * pow/log anywhere). The sample is the top-k by priority; τ = the
    * (k+1)-th priority; the unbiased total estimate is Σ max(wᵢ, τ) over
    * the sample — emitted as a summary row (rank 0, doc_id −1) next to
    * the exact total, so the oracle pins both the SAMPLE IDENTITY and the
    * ESTIMATOR arithmetic.
    *
    * Scale shape: one scan → TakeOrderedAndProject (bounded heap, no
    * global sort); the rank window runs over the k+1 surviving rows
    * only. Weight contract: w < 2²³ keeps w·2⁴⁰ inside a BIGINT — a
    * per-document character count at any realistic size. */
  def q201(s: SparkSession, d: String): DataFrame = {
    val p = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("u", expr(
        "cast(conv(substring(md5(concat('ps:', cast(doc_id as string))), 1, 10), 16, 10) as bigint) + 1"))
      .withColumn("pr", expr("(w * 1099511627776L) div u"))
      .select(col("doc_id"), col("w"), col("pr"))
    // bounded heap: top k+1 by (priority, doc_id) — the only corpus pass
    val top = p.orderBy(col("pr").desc, col("doc_id")).limit(101)
    // rank window over ≤ k+1 rows (bounded by construction, not corpus-sized)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("pr").desc, col("doc_id"))).cast("long"))
    val samp = ranked.filter(col("rank") <= 100)
    val tau = ranked.filter(col("rank") === 101).select(col("pr").as("t"))
    val tot = p.agg(sum(col("w")).cast("long").as("tw"))
    val est = samp.crossJoin(broadcast(tau))
      .agg(sum(greatest(col("w"), col("t"))).cast("long").as("est"))
    val summary = tau.crossJoin(est).crossJoin(tot)
      .select(lit(0L).as("rank"), lit(-1L).as("doc_id"), lit(-1L).as("w"),
        col("t").as("priority"), col("est").as("est_total"), col("tw").as("true_total"))
    samp.select(col("rank"), col("doc_id"), col("w"), col("pr").as("priority"),
        lit(null).cast("long").as("est_total"), lit(null).cast("long").as("true_total"))
      .unionByName(summary)
      .orderBy(col("rank"), col("doc_id"))
  }
  val q201Sql: String =
    """WITH h AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |    ('0x' || substr(md5('ps:' || doc_id), 1, 10))::BIGINT + 1 AS u
      |  FROM documents),
      |p AS (SELECT doc_id, w, (w * 1099511627776) // u AS pr FROM h),
      |r AS (SELECT doc_id, w, pr,
      |        row_number() OVER (ORDER BY pr DESC, doc_id) AS rnk FROM p),
      |tau AS (SELECT pr AS t FROM r WHERE rnk = 101),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM p),
      |samp AS (SELECT rnk, doc_id, w, pr FROM r WHERE rnk <= 100)
      |SELECT CAST(rnk AS BIGINT) AS rank, doc_id, w, pr AS priority,
      |  CAST(NULL AS BIGINT) AS est_total, CAST(NULL AS BIGINT) AS true_total
      |FROM samp
      |UNION ALL
      |SELECT CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), tau.t,
      |  (SELECT CAST(SUM(CASE WHEN w > tau.t THEN w ELSE tau.t END) AS BIGINT) FROM samp),
      |  tot.tw
      |FROM tau, tot
      |ORDER BY rank, doc_id""".stripMargin

  // ---------------------------------------------------------------- q202
  /** Incremental view maintenance: a stored per-(source, lang) rollup
    * (docs count + char mass) absorbs an append delta WITHOUT recomputing
    * the corpus — delta-aggregate, full-outer merge on the group key,
    * coalesce-sum. Here the "stored" view is the base slice's rollup
    * materialized via localCheckpoint (the stand-in for the table a real
    * deployment reads back), the delta is the doc_id % 10 = 7 slice, and
    * the oracle is the from-scratch rollup over the whole corpus — the
    * IVM identity merge(V(base), agg(delta)) = V(base ∪ delta).
    *
    * Scale shape: the post-checkpoint work is delta-scan + grid-sized
    * merge (the view is (sources × langs) rows); the corpus is never
    * rescanned. At 100 TB this is the difference between a nightly
    * full-refresh job and a minutes-long delta merge. */
  def q202(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    def roll(df: DataFrame): DataFrame = df.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
    // the stored view: materialized once, never recomputed below
    val view = roll(docs.filter(expr("doc_id % 10 <> 7"))).localCheckpoint()
    val delta = roll(docs.filter(expr("doc_id % 10 = 7")))
    view.as("v").join(delta.as("x"), Seq("source", "lang"), "full_outer")
      .select(col("source"), col("lang"),
        (coalesce(col("v.n_docs"), lit(0L)) + coalesce(col("x.n_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("v.sum_chars"), lit(0L)) + coalesce(col("x.sum_chars"), lit(0L))).as("sum_chars"))
      .orderBy(col("source"), col("lang"))
  }
  val q202Sql: String =
    """SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------- q203
  /** Conjunctive (AND) keyword search over the token inverted index:
    * docs containing ALL of {table, hash, merge}, ranked by summed term
    * frequency. Formulated as term-filtered aggregation rather than a
    * chain of posting-list joins: the IN-filter prunes the exploded
    * token stream to the query terms map-side (one corpus scan), one
    * (doc_id, term) aggregation builds the per-doc tf vector, and the
    * all-terms-present predicate is a count over ≤ |terms| rows per doc
    * — the same candidate set a df-ordered posting intersection yields,
    * with one shuffle instead of |terms| − 1. Top-20 by (score, doc_id)
    * rides the bounded heap. */
  def q203(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("table", "hash", "merge")
    val tf = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term").isInCollection(terms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("doc_id")
      .agg(sum(when(col("term") === "table", col("tf"))).cast("long").as("tf_table"),
        sum(when(col("term") === "hash", col("tf"))).cast("long").as("tf_hash"),
        sum(when(col("term") === "merge", col("tf"))).cast("long").as("tf_merge"),
        count(lit(1)).as("nterms"))
      .filter(col("nterms") === terms.size)
      .select(col("doc_id"), col("tf_table"), col("tf_hash"), col("tf_merge"),
        (col("tf_table") + col("tf_hash") + col("tf_merge")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }
  val q203Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM tok WHERE term IN ('table', 'hash', 'merge') GROUP BY 1, 2),
      |piv AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN term = 'table' THEN tf END) AS BIGINT) AS tf_table,
      |    CAST(SUM(CASE WHEN term = 'hash'  THEN tf END) AS BIGINT) AS tf_hash,
      |    CAST(SUM(CASE WHEN term = 'merge' THEN tf END) AS BIGINT) AS tf_merge,
      |    COUNT(*) AS nterms
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, tf_table, tf_hash, tf_merge,
      |  tf_table + tf_hash + tf_merge AS score
      |FROM piv WHERE nterms = 3
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q204
  /** Water-filling mixture allocator, CLOSED FORM (no iteration): given
    * target per-source shares (ppm literals) and a 60% char budget,
    * sources whose full size undershoots their fair allocation are
    * capped at full size and their budget redistributes over the rest.
    * Sorted by demand ratio t/share ascending, the capped set is a
    * prefix (the water-filling lemma), found with prefix-sum windows and
    * an exact cross-multiplied check — t·shareAfter ≤ (B − cumT)·share —
    * so no division enters the capping decision and both engines agree
    * exactly. Final allocation: capped → t; uncapped →
    * (B − capturedMass)·share div uncappedShare (one floor division).
    *
    * Scale shape: ONE corpus aggregation to the per-source grid; every
    * window and join below it runs over (sources) rows (broadcast-joined
    * scalar totals). The ppm/char units keep all cross-products inside
    * BIGINT at test scale; a 100 TB deployment rescales t to KiB units
    * first (same arithmetic, documented contract). */
  def q204(s: SparkSession, d: String): DataFrame = {
    // target mixture over the 20 sources, ppm (sums to exactly 1e6)
    val shareCase =
      """CAST(CASE source
        | WHEN 'src0' THEN 120000 WHEN 'src1' THEN 100000 WHEN 'src2' THEN 90000
        | WHEN 'src3' THEN 80000 WHEN 'src4' THEN 70000 WHEN 'src5' THEN 60000
        | WHEN 'src6' THEN 55000 WHEN 'src7' THEN 50000 WHEN 'src8' THEN 45000
        | WHEN 'src9' THEN 40000 WHEN 'src10' THEN 40000 WHEN 'src11' THEN 35000
        | WHEN 'src12' THEN 35000 WHEN 'src13' THEN 30000 WHEN 'src14' THEN 30000
        | WHEN 'src15' THEN 25000 WHEN 'src16' THEN 25000 WHEN 'src17' THEN 25000
        | WHEN 'src18' THEN 25000 WHEN 'src19' THEN 20000 ELSE 1 END AS BIGINT)""".stripMargin
    // ONE corpus aggregation; the materialized grid feeds every reference
    // below (totals, windows, mass rollup) — without this the lazy DAG
    // would rescan the corpus once per consumer
    val g = Tables.documents(s, d).groupBy("source")
      .agg(sum("n_chars").cast("long").as("t"))
      .withColumn("share", expr(shareCase))
      .withColumn("r", expr("(t * 1000000) div share"))
      .localCheckpoint()
    val tot = g.agg(sum("t").cast("long").as("tt"), sum("share").cast("long").as("tsh"))
    // windows over the sources-sized grid (q195 discipline: grid, not corpus)
    val wPrev = Window.orderBy(col("r"), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCur = Window.orderBy(col("r"), col("source"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val flagged = g
      .withColumn("cumt", coalesce(sum(col("t")).over(wPrev), lit(0L)))
      .withColumn("cumsh", coalesce(sum(col("share")).over(wPrev), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("b", expr("(tt * 3) div 5"))
      .withColumn("chk", expr(
        "CASE WHEN t * (tsh - cumsh) <= (b - cumt) * share THEN 1 ELSE 0 END"))
      .withColumn("capped", min(col("chk")).over(wCur).cast("long"))
    val masses = flagged.agg(
      sum(when(col("capped") === 1, col("t")).otherwise(0L)).cast("long").as("capt"),
      sum(when(col("capped") === 0, col("share")).otherwise(0L)).cast("long").as("ush"))
    flagged.crossJoin(broadcast(masses))
      .withColumn("alloc", expr(
        "CAST(CASE WHEN capped = 1 THEN t ELSE ((b - capt) * share) div ush END AS BIGINT)"))
      .select(col("source"), col("t").as("t_chars"), col("share").as("share_ppm"),
        col("capped"), col("alloc"),
        expr("CAST((alloc * 1000000) div t AS BIGINT)").as("rate_ppm"))
      .orderBy(col("source"))
  }
  val q204Sql: String =
    """WITH g AS (
      |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t,
      |    CAST(CASE source
      |      WHEN 'src0' THEN 120000 WHEN 'src1' THEN 100000 WHEN 'src2' THEN 90000
      |      WHEN 'src3' THEN 80000 WHEN 'src4' THEN 70000 WHEN 'src5' THEN 60000
      |      WHEN 'src6' THEN 55000 WHEN 'src7' THEN 50000 WHEN 'src8' THEN 45000
      |      WHEN 'src9' THEN 40000 WHEN 'src10' THEN 40000 WHEN 'src11' THEN 35000
      |      WHEN 'src12' THEN 35000 WHEN 'src13' THEN 30000 WHEN 'src14' THEN 30000
      |      WHEN 'src15' THEN 25000 WHEN 'src16' THEN 25000 WHEN 'src17' THEN 25000
      |      WHEN 'src18' THEN 25000 WHEN 'src19' THEN 20000 ELSE 1 END AS BIGINT) AS share
      |  FROM documents GROUP BY source),
      |k AS (SELECT source, t, share, (t * 1000000) // share AS r FROM g),
      |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(share) AS BIGINT) AS tsh FROM g),
      |w AS (SELECT source, t, share, r,
      |    COALESCE(CAST(SUM(t) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumt,
      |    COALESCE(CAST(SUM(share) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumsh
      |  FROM k),
      |c AS (SELECT w.*, (tot.tt * 3) // 5 AS b,
      |    CASE WHEN w.t * (tot.tsh - w.cumsh) <= ((tot.tt * 3) // 5 - w.cumt) * w.share
      |         THEN 1 ELSE 0 END AS chk
      |  FROM w, tot),
      |f AS (SELECT c.*, CAST(MIN(chk) OVER (ORDER BY r, source
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS capped FROM c),
      |m AS (SELECT CAST(SUM(CASE WHEN capped = 1 THEN t ELSE 0 END) AS BIGINT) AS capt,
      |             CAST(SUM(CASE WHEN capped = 0 THEN share ELSE 0 END) AS BIGINT) AS ush
      |      FROM f)
      |SELECT f.source, f.t AS t_chars, f.share AS share_ppm, f.capped,
      |  CAST(CASE WHEN f.capped = 1 THEN f.t
      |       ELSE ((f.b - m.capt) * f.share) // m.ush END AS BIGINT) AS alloc,
      |  CAST((CASE WHEN f.capped = 1 THEN f.t
      |       ELSE ((f.b - m.capt) * f.share) // m.ush END * 1000000) // f.t AS BIGINT) AS rate_ppm
      |FROM f, m
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q205
  /** Semantic dedup (the SemDeDup recipe): cluster the embedding corpus
    * with the IVF coarse codebook, then drop any vector that has a
    * LOWER-id neighbor above the cosine threshold INSIDE ITS CLUSTER —
    * first-writer-wins applied to semantic duplicates, with the cluster
    * bucketing keeping the pair space Σ cell² instead of N². Reuses
    * q59/q107's broadcast-kernel cell assignment (pure projection, zero
    * shuffle) and the fused CosineF32 kernel; the oracle re-derives the
    * identical cells and the quadratic within-cell neighbor test.
    *
    * Scale contract: Σ cell² stays subquadratic only if the codebook
    * grows with the corpus (SemDeDup uses k ∝ √N; the codebook here is
    * q107's trained artifact, so k is a retraining parameter, not a
    * constant of the operator). At fixed k the within-cell join is the
    * documented fallback-to-quadratic — same posture as q44's LSH
    * buckets, whose plane count is the same dial.
    *
    * Output: every vector's verdict (cell, dropped, the electing
    * neighbor) — booleans and ids only, no float in the gate. */
  def q205(s: SparkSession, d: String): DataFrame = {
    val assign = DedupSim.ivfAssign(s, d)
      .select(col("vec_id"), col("embedding"), col("cell").cast("long").as("cell"))
    val nn = assign.select(col("cell"), col("vec_id").as("id"), col("embedding").as("e"))
      .join(assign.select(col("cell"), col("vec_id").as("cand"), col("embedding").as("ce")),
        Seq("cell"))
      .filter(col("cand") < col("id") &&
        graft.functions.GraftFunctions.cosineF32(col("e"), col("ce")) >= 0.35)
      .groupBy(col("id")).agg(min(col("cand")).as("kept_twin"))
    assign.join(nn, col("vec_id") === col("id"), "left")
      .select(col("vec_id"), col("cell"),
        col("kept_twin").isNotNull.as("dropped"), col("kept_twin"))
      .orderBy(col("vec_id"))
  }
  val q205Sql: String = {
    val dim = 64; val cells = 16
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""WITH seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS ce FROM embeddings WHERE vec_id < $cells),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, s.seed_id,
       |    ${fold("s.ce", "s.ce")} - 2 * ${fold("e.embedding", "s.ce")} AS score
       |  FROM embeddings e CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, embedding, seed_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, seed_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |pair AS (
       |  SELECT a.vec_id AS id, b.vec_id AS cand,
       |    ${fold("a.embedding", "b.embedding")} AS dot,
       |    ${fold("a.embedding", "a.embedding")} AS na,
       |    ${fold("b.embedding", "b.embedding")} AS nb
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id),
       |nn AS (
       |  SELECT id, MIN(cand) AS kept_twin FROM pair
       |  WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.35 GROUP BY id)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  (nn.kept_twin IS NOT NULL) AS dropped, nn.kept_twin
       |FROM assign a LEFT JOIN nn ON nn.id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q206
  /** Type-2 slowly-changing dimension build from the event stream: per
    * user, each event_type CHANGE opens a validity interval
    * [valid_from, valid_to), the current state left open (NULL). The
    * lakehouse dimension-versioning operator next to q104/q105's CDC —
    * diff detects change between snapshots, SCD2 materializes change
    * HISTORY from the raw stream.
    *
    * Scale shape: both windows partition by user_id — per-user event
    * density is bounded (the q18/q97 discipline), so no partition ever
    * sees more than one user's history; one exchange on user_id serves
    * both windows. */
  def q206(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val changes = Tables.events(s, d)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("version"))
  }
  val q206Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, event_type
      |  FROM events),
      |chg AS (
      |  SELECT * FROM (
      |    SELECT user_id, ts_us, event_id, event_type,
      |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      |    FROM ev)
      |  WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  event_type, ts_us AS valid_from_us,
      |  lead(ts_us) OVER w AS valid_to_us
      |FROM chg
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------- q207
  /** Per-source ordinary-least-squares fit of token count against char
    * count — the drift audit "is chars-per-token stable across sources?"
    * as exact arithmetic: five integer sufficient statistics per source
    * (ONE corpus aggregation), slope/intercept/R² evaluated from them in
    * DECIMAL(38,0) (HUGEINT in the oracle) with sign split from a single
    * floor division, so the gate carries only BIGINTs and no float ever
    * enters. The q196/q185 statistics discipline applied to regression.
    * (At 100 TB the Σxy/Σx² accumulators themselves move to
    * DECIMAL(38,0) sums — q196's posture; BIGINT holds through ~1e12
    * rows at these magnitudes.) */
  def q207(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.documents(s, d)
      .select(col("source"), col("n_chars").cast("long").as("x"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"))
    // exact rationals in 38-digit integers; one floor division each, on
    // absolute values so Spark div and DuckDB // agree (both truncate)
    stats.select(col("source"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("den"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("deny"),
        col("sx"), col("sy"))
      .select(col("source"), col("n"),
        expr("""CAST(CASE WHEN den = 0 THEN NULL
                WHEN num < 0 THEN -((1000000 * (-num)) div den)
                ELSE (1000000 * num) div den END AS BIGINT)""").as("slope_ppm"),
        expr("""CAST(CASE WHEN den = 0 OR deny = 0 THEN NULL
                ELSE (1000000 * num * num) div (den * deny) END AS BIGINT)""").as("r2_ppm"),
        expr("""CAST(CASE WHEN den = 0 THEN NULL
                WHEN (sy * den - num * sx) < 0
                  THEN -((1000 * -(sy * den - num * sx)) div (CAST(n AS DECIMAL(38,0)) * den))
                ELSE (1000 * (sy * den - num * sx)) div (CAST(n AS DECIMAL(38,0)) * den)
                END AS BIGINT)""").as("intercept_milli"))
      .orderBy(col("source"))
  }
  val q207Sql: String =
    """WITH t AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x,
      |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS y
      |  FROM documents),
      |st AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM t GROUP BY source),
      |r AS (
      |  SELECT source, n,
      |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
      |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny,
      |    sx, sy
      |  FROM st)
      |SELECT source, n,
      |  CAST(CASE WHEN den = 0 THEN NULL
      |       WHEN num < 0 THEN -((1000000 * (-num)) // den)
      |       ELSE (1000000 * num) // den END AS BIGINT) AS slope_ppm,
      |  CAST(CASE WHEN den = 0 OR deny = 0 THEN NULL
      |       ELSE (1000000 * num * num) // (den * deny) END AS BIGINT) AS r2_ppm,
      |  CAST(CASE WHEN den = 0 THEN NULL
      |       WHEN (sy * den - num * sx) < 0
      |         THEN -((1000 * -(sy * den - num * sx)) // (CAST(n AS HUGEINT) * den))
      |       ELSE (1000 * (sy * den - num * sx)) // (CAST(n AS HUGEINT) * den)
      |       END AS BIGINT) AS intercept_milli
      |FROM r
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q208
  /** Stratified priority sampling: q201's weighted sample drawn PER
    * LANGUAGE (top-10 by priority within each stratum) — the per-stratum
    * form a mixture pipeline actually draws. Stated as the row_number
    * idiom so `WindowTopKRewrite` swaps in the sortless bounded heap
    * (PlanCheck demands TopKPerGroupPartial): the shuffle carries at most
    * langs×k rows per partition, never the corpus. */
  def q208(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("pr").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("u", expr(
        "cast(conv(substring(md5(concat('ps:', cast(doc_id as string))), 1, 10), 16, 10) as bigint) + 1"))
      .withColumn("pr", expr("(w * 1099511627776L) div u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("lang"), col("rank"), col("doc_id"), col("w"), col("pr").as("priority"))
      .orderBy(col("lang"), col("rank"))
  }
  val q208Sql: String =
    """WITH h AS (
      |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
      |    ('0x' || substr(md5('ps:' || doc_id), 1, 10))::BIGINT + 1 AS u
      |  FROM documents),
      |p AS (SELECT lang, doc_id, w, (w * 1099511627776) // u AS pr FROM h),
      |r AS (SELECT lang, doc_id, w, pr,
      |        row_number() OVER (PARTITION BY lang ORDER BY pr DESC, doc_id) AS rnk
      |      FROM p)
      |SELECT lang, CAST(rnk AS BIGINT) AS rank, doc_id, w, pr AS priority
      |FROM r WHERE rnk <= 10
      |ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- q211
  /** POINT-IN-TIME join against the SCD2 dimension — the feature-store
    * lookup that prevents training-data leakage: each probe event is
    * joined to the dimension version that was valid AT ITS TIMESTAMP,
    * never a later one. Formulated as the scale-safe as-of union trick
    * (q15's discipline applied to versioned dimensions): dimension
    * changes and probes union into one per-user timeline, one window
    * pass carries the latest version forward (`last ignoreNulls`), and
    * probes read their assignment — NO range join, NO per-probe interval
    * scan; one user_id exchange total. Temporal contract: a version is
    * visible from its valid_from instant inclusive, so a probe at the
    * change instant sees the NEW version (dim rows sort before probe
    * rows at equal ts via the kind column — both engines state the
    * identical tiebreak). */
  def q211(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
    // the q206 dimension: change rows with version numbers
    val dim = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("ts_us").as("ts"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"), col("version"),
        col("event_type").as("state"))
    val probes = ev.filter(expr("event_id % 7 = 0"))
      .select(col("user_id"), col("ts_us").as("ts"), lit(1).as("kind"),
        col("event_id"), lit(null).cast("long").as("version"),
        lit(null).cast("string").as("state"))
    val wAsOf = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), coalesce(col("event_id"), col("version")))
      .rowsBetween(Window.unboundedPreceding, 0)
    dim.unionByName(probes)
      .withColumn("as_of_version", last(col("version"), ignoreNulls = true).over(wAsOf))
      .withColumn("as_of_state", last(col("state"), ignoreNulls = true).over(wAsOf))
      .filter(col("kind") === 1)
      .select(col("user_id"), col("event_id"), col("ts").as("ts_us"),
        col("as_of_version"), col("as_of_state"))
      .orderBy(col("user_id"), col("event_id"))
  }
  val q211Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, event_type
      |  FROM events),
      |chg AS (
      |  SELECT user_id, ts_us, event_id, event_type,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS version
      |  FROM (
      |    SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      |    FROM ev)
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |dim AS (
      |  SELECT user_id, ts_us AS ts, 0 AS kind, CAST(NULL AS BIGINT) AS event_id,
      |    version, event_type AS state
      |  FROM chg),
      |pr AS (
      |  SELECT user_id, ts_us AS ts, 1 AS kind, event_id,
      |    CAST(NULL AS BIGINT) AS version, CAST(NULL AS VARCHAR) AS state
      |  FROM ev WHERE event_id % 7 = 0),
      |u AS (SELECT * FROM dim UNION ALL SELECT * FROM pr),
      |a AS (
      |  SELECT user_id, kind, event_id, ts,
      |    last_value(version IGNORE NULLS) OVER w AS as_of_version,
      |    last_value(state IGNORE NULLS) OVER w AS as_of_state
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, kind, COALESCE(event_id, version)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id, ts AS ts_us, as_of_version, as_of_state
      |FROM a WHERE kind = 1
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q209
  /** q202's incremental view maintenance run CONTINUOUSLY: the documents
    * table arrives as three micro-batches (maxFilesPerTrigger=1) and a
    * foreachBatch sink merges each batch's delta-aggregate into the
    * stored per-(source, lang) rollup — read old view, full-outer
    * coalesce-merge, atomically swap. The final stored view must equal
    * the from-scratch rollup (the IVM identity, now proven ACROSS
    * BATCHES: merge is associative, so fold(merge, deltas) = V(∪deltas)).
    *
    * Scale shape: per trigger the work is batch-scan + grid merge — the
    * view never exceeds (sources × langs) rows, and no batch ever
    * rescans previous batches. The swap-dir write is the simple stand-in
    * for a transactional table format's commit. */
  def q209(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    // update-mode IVM sinks emit on data arrival; skip the no-data batch
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val staged = java.nio.file.Files.createTempDirectory("graft_q209_src").toString
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .repartition(3).write.mode("overwrite").parquet(staged)
    val viewDir = java.nio.file.Files.createTempDirectory("graft_q209_view").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val q = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val delta = batch.groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
        // first trigger only: absent dir → empty view. A READ FAILURE on an
        // existing view must propagate — swallowing it would silently reset
        // the accumulated state
        val old =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$viewDir/current")))
            ss.read.parquet(s"$viewDir/current").localCheckpoint()
          else
            ss.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("source", StringType),
                StructField("lang", StringType), StructField("n_docs", LongType),
                StructField("sum_chars", LongType))))
        val merged = old.as("v").join(delta.as("x"), Seq("source", "lang"), "full_outer")
          .select(col("source"), col("lang"),
            (coalesce(col("v.n_docs"), lit(0L)) + coalesce(col("x.n_docs"), lit(0L))).as("n_docs"),
            (coalesce(col("v.sum_chars"), lit(0L)) + coalesce(col("x.sum_chars"), lit(0L))).as("sum_chars"))
        // old is checkpointed, so overwriting the dir it came from is safe
        merged.coalesce(1).write.mode("overwrite").parquet(s"$viewDir/current")
        ()
      }
      .queryName(s"graft_q209_${java.lang.Integer.toHexString(d.hashCode)}")
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$viewDir/current").orderBy(col("source"), col("lang"))
  }
  // the cross-batch fold must land exactly on the from-scratch rollup
  val q209Sql: String = q202Sql

  // ---------------------------------------------------------------- q210
  /** Priority sampling maintained as a STREAMING sketch: q201's top-k by
    * priority is a mergeable summary (the top-k of a union is the top-k
    * of the per-part top-ks), so a foreachBatch sink keeps exactly k+1
    * rows of state — merge the stored sample with the batch's bounded
    * top-(k+1), truncate, swap. After all batches the stored sample IS
    * q201's sample over the full corpus (same deterministic priorities),
    * which is what the oracle states. The one-pass/bounded-state way a
    * 100 TB ingest keeps a live weighted sample without ever rescanning.
    */
  def q210(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    // update-mode IVM sinks emit on data arrival; skip the no-data batch
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val staged = java.nio.file.Files.createTempDirectory("graft_q210_src").toString
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .repartition(3).write.mode("overwrite").parquet(staged)
    val sampDir = java.nio.file.Files.createTempDirectory("graft_q210_samp").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_chars", LongType)))
    val q = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val part = batch
          .select(col("doc_id"), col("n_chars").cast("long").as("w"))
          .withColumn("u", expr(
            "cast(conv(substring(md5(concat('ps:', cast(doc_id as string))), 1, 10), 16, 10) as bigint) + 1"))
          .withColumn("pr", expr("(w * 1099511627776L) div u"))
          .select(col("doc_id"), col("w"), col("pr"))
          .orderBy(col("pr").desc, col("doc_id")).limit(101)
        // absent dir → first trigger; read failures on real state propagate
        // (q209's reset-masking rationale)
        val old =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sampDir/current")))
            ss.read.parquet(s"$sampDir/current").localCheckpoint()
          else part.limit(0)
        old.unionByName(part)
          .orderBy(col("pr").desc, col("doc_id")).limit(101)
          .coalesce(1).write.mode("overwrite").parquet(s"$sampDir/current")
        ()
      }
      .queryName(s"graft_q210_${java.lang.Integer.toHexString(d.hashCode)}")
      .start()
    try q.processAllAvailable() finally q.stop()
    // the stored k+1 state, ranked: rows 1..100 are THE sample, row 101 is τ
    s.read.parquet(s"$sampDir/current")
      .withColumn("rank",
        row_number().over(Window.orderBy(col("pr").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("w"), col("pr").as("priority"))
      .orderBy(col("rank"))
  }
  val q210Sql: String =
    """WITH h AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |    ('0x' || substr(md5('ps:' || doc_id), 1, 10))::BIGINT + 1 AS u
      |  FROM documents),
      |p AS (SELECT doc_id, w, (w * 1099511627776) // u AS pr FROM h),
      |r AS (SELECT doc_id, w, pr,
      |        row_number() OVER (ORDER BY pr DESC, doc_id) AS rnk FROM p)
      |SELECT CAST(rnk AS BIGINT) AS rank, doc_id, w, pr AS priority
      |FROM r WHERE rnk <= 101
      |ORDER BY rank""".stripMargin


  // ---------------------------------------------------------------- q331
  /** LINK-GRAPH QUALITY RANK, ORACLE-EXACT (round 13,
    * [[graft.ops.GraphRank]]): the PageRank-style prior web-scale
    * corpus curation uses to separate well-linked documents from spam
    * islands. Complements q139 (two DECIMAL-quantized rounds over the
    * near-dup graph, each round an unrolled CTE): this is the
    * GENERALIZED operator — arbitrary edge list, EIGHT iterations in
    * integer fixed-point (no quantization recipe needed: floor min/plus
    * is exact in any engine), and the oracle replays the whole loop in
    * ONE recursive CTE instead of unrolling. The link graph is synthesized deterministically over the
    * contiguous doc_id space (three arithmetic out-links per document —
    * quadratic/cubic/floor maps, so IN-degrees vary wildly: at sf0.01
    * the 8-iteration ranks span 150000..10.8M with 311 distinct
    * values). The engine runs the iterative-join formulation (edges
    * cached once, two shuffles per iteration, localCheckpoint'ed plan);
    * the oracle restates ALL EIGHT iterations in one DuckDB recursive
    * CTE (join + GROUP BY in the recursive term, zero-weight self-edges
    * keeping inflow-less nodes alive). Fixed-point ppm integers both
    * sides — the convergence law is gated exactly, not approximately. */
  def q331(s: SparkSession, d: String): DataFrame = {
    // graph over a DENSE row-number index, not raw doc_id: scaled slices
    // carry sparse shifted ids (scalegen adds k·10^7 per replica), where
    // id^3 overflows Long and % n would orphan every edge. The dense-id
    // window is fixture SYNTHESIS only — the operator itself takes any
    // edge list. Products are modular-reduced between multiplications so
    // everything stays < n^2 (Long-safe to ~3e9 nodes).
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val n = docs.count() // metadata-sized driver scalar: the node count
    // NOT checkpointed (measured round 17): a barrier here pins the
    // window's single-partition layout onto every downstream map side
    // and swaps codegen-fused re-evaluation for an RDD scan — min-of-5
    // regressed 1.48 → 1.87 s. The repeated window is the cheaper evil
    // at this node count; GraphRank itself caches the edge relation.
    val idx = docs.select(col("doc_id"),
      (row_number().over(Window.orderBy(col("doc_id"))) - 1)
        .cast("long").as("nid"))
    val nodes = idx.select(col("nid").as("node"))
    val sq = (col("nid") * col("nid")) % n
    def link(c: org.apache.spark.sql.Column) =
      idx.select(col("nid").as("src"), (c % n).as("dst"))
    val edges =
      link(sq + 1)
        .unionAll(link((sq * col("nid")) % n + col("nid") * 2 + 5))
        .unionAll(link(expr("nid div 3") + 7))
    graft.ops.GraphRank.pageRankFixedPoint(nodes, edges, iterations = 8)
      .join(idx, col("node") === col("nid"))
      .select(col("doc_id"), col("r").as("rank_ppm"))
      .orderBy(col("doc_id"))
  }
  val q331Sql: String =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS nid
      |  FROM documents),
      |nn AS (SELECT COUNT(*) AS cnt FROM docs),
      |edges AS (
      |  SELECT nid AS src, nid AS dst, 0 AS w FROM docs
      |  UNION ALL SELECT nid, ((nid*nid) % cnt + 1) % cnt, 1 FROM docs, nn
      |  UNION ALL SELECT nid, (((nid*nid) % cnt) * nid % cnt + nid*2 + 5) % cnt, 1 FROM docs, nn
      |  UNION ALL SELECT nid, (nid // 3 + 7) % cnt, 1 FROM docs, nn),
      |deg AS (SELECT src, COUNT(*) AS od FROM edges WHERE w = 1 GROUP BY src),
      |it AS (
      |  SELECT 0 AS k, nid AS node, CAST(1000000 AS BIGINT) AS r FROM docs
      |  UNION ALL
      |  SELECT it.k + 1, e.dst,
      |         150000 + (SUM(CASE WHEN e.w = 0 THEN CAST(0 AS BIGINT)
      |                            ELSE it.r // d.od END) * 850000) // 1000000
      |  FROM it JOIN edges e ON it.node = e.src
      |          JOIN deg d ON d.src = e.src
      |  WHERE it.k < 8
      |  GROUP BY it.k, e.dst)
      |SELECT d.doc_id, CAST(it.r AS BIGINT) AS rank_ppm
      |FROM it JOIN docs d ON it.node = d.nid
      |WHERE it.k = 8 ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q212
  /** The transaction-log table format (io/TxnLog) ON THE ORACLE BOARD:
    * two lineitem slices commit as versions 1 and 2, a third slice's data
    * files land WITHOUT a manifest (a writer that died mid-commit), and
    * the table is read back twice — latest and time-travel as-of v1.
    * The oracle states what the commit protocol must make true: the
    * crashed slice is INVISIBLE, and v1 sees only the first slice. Both
    * faces aggregate (one union, as_of column) so the gate pins the
    * visible ROW SET, not just counts. */
  def q212(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q212_tbl").toString
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    graft.io.TxnLog.commit(li.filter(expr("l_orderkey % 3 = 0")), dir)
    graft.io.TxnLog.commit(li.filter(expr("l_orderkey % 3 = 1")), dir)
    // crashed writer: data files present, no manifest — must stay invisible
    li.filter(expr("l_orderkey % 3 = 2"))
      .write.parquet(s"$dir/part-orphaned-crash")
    def face(asOf: Option[Long], tag: Long) =
      graft.io.TxnLog.read(s, dir, asOf)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_qty"))
        .withColumn("as_of", lit(tag))
    face(None, 2L).unionByName(face(Some(1L), 1L))
      .select(col("as_of"), col("l_returnflag"), col("n"), col("sum_qty"))
      .orderBy(col("as_of"), col("l_returnflag"))
  }
  val q212Sql: String =
    """SELECT CAST(1 AS BIGINT) AS as_of, l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey % 3 = 0
      |GROUP BY l_returnflag
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS as_of, l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey % 3 IN (0, 1)
      |GROUP BY l_returnflag
      |ORDER BY as_of, l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q213
  /** COMPACTION INVARIANCE on the txn-log table: three small commits,
    * then `TxnLog.compact` rewrites the visible set as one replace-commit
    * — the small-file maintenance pass (q186 plans which files to bin;
    * this executes the rewrite through the commit protocol). The oracle
    * states what compaction must preserve: the post-compaction rowset
    * equals the union of the commits, and time travel to a
    * PRE-compaction version still sees the original chain prefix. The
    * file-set reduction itself (latest view plans only the compacted
    * files) is asserted in TxnLogSpec — a rowset oracle can't see file
    * counts, and must not. */
  def q213(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q213_tbl").toString
    val part = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
    (0 until 3).foreach(i =>
      graft.io.TxnLog.commit(part.filter(expr(s"p_partkey % 3 = $i")), dir))
    graft.io.TxnLog.compact(s, dir) // version 4, replaces
    def face(asOf: Option[Long], tag: Long) =
      graft.io.TxnLog.read(s, dir, asOf)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("p_retailprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_price"))
        .withColumn("as_of", lit(tag))
    face(None, 4L)          // post-compaction: the whole table
      .unionByName(face(Some(2L), 2L)) // pre-compaction prefix: slices 0, 1
      .select(col("as_of"), col("p_brand"), col("n"), col("sum_price"))
      .orderBy(col("as_of"), col("p_brand"))
  }
  val q213Sql: String =
    """SELECT CAST(2 AS BIGINT) AS as_of, p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part WHERE p_partkey % 3 IN (0, 1)
      |GROUP BY p_brand
      |UNION ALL
      |SELECT CAST(4 AS BIGINT) AS as_of, p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part
      |GROUP BY p_brand
      |ORDER BY as_of, p_brand""".stripMargin

  // ---------------------------------------------------------------- q214
  /** VERSIONED streaming IVM: q209's maintenance loop with the txn-log
    * table as the stored view — each micro-batch commits the merged
    * rollup as a REPLACE-commit, so the table accumulates the view's
    * full history and every version is time-travel-readable. Batch
    * arrival is made deterministic (one file per doc_id % 3 slice,
    * staggered mod-times fix the FileStreamSource order), so EVERY
    * version's content is oracle-stateable: as-of v = the rollup over
    * slices 0..v−1. The output unions all three version faces — the
    * gate pins the whole maintenance HISTORY, not just the final state. */
  def q214(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    // update-mode IVM sinks emit on data arrival; skip the no-data batch
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val staged = java.nio.file.Files.createTempDirectory("graft_q214_src").toString
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    (0 until 3).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q214_tmp").toString
      docs.filter(expr(s"doc_id % 3 = $i")).coalesce(1).write.mode("overwrite").parquet(tmp)
      val one = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/f$i.parquet")
      java.nio.file.Files.move(one.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1)) // fix the arrival order
    }
    val tbl = java.nio.file.Files.createTempDirectory("graft_q214_tbl").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val q = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(staged)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val delta = batch.groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
        val old =
          if (graft.io.TxnLog.currentVersion(tbl) > 0)
            graft.io.TxnLog.read(ss, tbl).localCheckpoint()
          else delta.limit(0)
        val merged = old.as("v").join(delta.as("x"), Seq("source", "lang"), "full_outer")
          .select(col("source"), col("lang"),
            (coalesce(col("v.n_docs"), lit(0L)) + coalesce(col("x.n_docs"), lit(0L))).as("n_docs"),
            (coalesce(col("v.sum_chars"), lit(0L)) + coalesce(col("x.sum_chars"), lit(0L))).as("sum_chars"))
        graft.io.TxnLog.commit(merged.coalesce(1), tbl, replace = true)
        // interval checkpointing in the maintenance loop: pure planning
        // cache (reads are identical with or without it), bounding the
        // reader's manifest replay as the view's commit history grows —
        // exactly the cadence maybeCheckpoint exists for
        graft.io.TxnLog.maybeCheckpoint(tbl, every = 2)
        ()
      }
      .queryName(s"graft_q214_${java.lang.Integer.toHexString(d.hashCode)}")
      .start()
    try q.processAllAvailable() finally q.stop()
    def face(v: Long) = graft.io.TxnLog.read(s, tbl, Some(v)).withColumn("as_of", lit(v))
    face(1L).unionByName(face(2L)).unionByName(face(3L))
      .select(col("as_of"), col("source"), col("lang"), col("n_docs"), col("sum_chars"))
      .orderBy(col("as_of"), col("source"), col("lang"))
  }
  val q214Sql: String =
    """SELECT CAST(v AS BIGINT) AS as_of, source, lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents, (VALUES (1), (2), (3)) AS vs(v)
      |WHERE doc_id % 3 < v
      |GROUP BY v, source, lang
      |ORDER BY as_of, source, lang""".stripMargin

  // ---------------------------------------------------------------- q216
  /** Row-level DELETE on the txn-log table (copy-on-write): customers of
    * one market segment are erased — the GDPR/right-to-be-forgotten
    * operation — as a replace-commit, so the latest view no longer
    * contains them while the PRE-DELETE version remains readable until
    * vacuum (the recovery window). Both faces are oracle-stated: as-of 1
    * = the full table, latest = everything but the deleted segment. */
  def q216(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q216_tbl").toString
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    graft.io.TxnLog.commit(cust, dir)
    graft.io.TxnLog.delete(s, dir, "c_mktsegment = 'BUILDING'")
    def face(asOf: Option[Long], tag: Long) =
      graft.io.TxnLog.read(s, dir, asOf)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_bal"))
        .withColumn("as_of", lit(tag))
    face(Some(1L), 1L).unionByName(face(None, 2L))
      .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q216Sql: String =
    """SELECT CAST(1 AS BIGINT) AS as_of, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS as_of, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_mktsegment <> 'BUILDING'
      |GROUP BY c_mktsegment
      |ORDER BY as_of, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q215
  /** DESCRIBE HISTORY on the txn-log table — the observability face of
    * the commit protocol: one row per version with its action and file
    * count (metadata-only, readable even over vacuumed prefixes), plus a
    * summary row carrying the vacuum watermark. The lifecycle driven
    * here: two single-file appends → a coalesced replace-compaction →
    * vacuum — every step's ledger entry is a literal the oracle states,
    * because the protocol makes each one deterministic. */
  def q215(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q215_tbl").toString
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    graft.io.TxnLog.commit(nat.filter(expr("n_nationkey % 2 = 0")).coalesce(1), dir)
    graft.io.TxnLog.commit(nat.filter(expr("n_nationkey % 2 = 1")).coalesce(1), dir)
    graft.io.TxnLog.compact(s, dir, numFiles = 1)
    graft.io.TxnLog.vacuum(dir)
    graft.io.TxnLog.history(s, dir)
      .select(col("version"), col("action"), col("n_files"))
      .unionByName(s.range(1).select(lit(-1L).as("version"),
        lit("min_version").as("action"),
        lit(graft.io.TxnLog.minVersion(dir)).as("n_files")))
      .orderBy(col("version"))
  }
  val q215Sql: String =
    """SELECT * FROM (VALUES
      |  (CAST(-1 AS BIGINT), 'min_version', CAST(3 AS BIGINT)),
      |  (CAST(1 AS BIGINT), 'A', CAST(1 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'A', CAST(1 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'R', CAST(1 AS BIGINT))
      |) AS t(version, action, n_files)
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q217
  /** MERGE-ON-READ row deletes on the txn-log table (delete vectors) —
    * the at-scale refinement of q216's copy-on-write: the erase commit
    * writes only the matching rows' KEY VALUES (metadata-sized), never
    * rewriting the 100-TB base, and readers anti-join the vector. The
    * lifecycle driven: v1 commits the even-custkey half, v2 delete-vectors
    * the BUILDING segment (by c_custkey), v3 appends the odd half — whose
    * BUILDING customers SURVIVE, because value-based vectors suppress the
    * keys captured at their snapshot, not a predicate — and v4 compacts,
    * materializing the vector physically. Faces 1–4 pin every version's
    * rowset (4 == 3 proves materialization invariance); the face-0 row
    * pins the history ledger: actions A,D,A,R and an untouched vacuum
    * watermark. */
  def q217(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q217_tbl").toString
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    graft.io.TxnLog.commit(cust.filter(expr("c_custkey % 2 = 0")), dir)
    graft.io.TxnLog.deleteVector(s, dir, "c_mktsegment = 'BUILDING'", Seq("c_custkey"))
    graft.io.TxnLog.commit(cust.filter(expr("c_custkey % 2 = 1")), dir)
    graft.io.TxnLog.compact(s, dir)
    def face(asOf: Option[Long], tag: Long) =
      graft.io.TxnLog.read(s, dir, asOf)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_bal"))
        .withColumn("as_of", lit(tag))
    val actions = graft.io.TxnLog.history(s, dir).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).mkString
    val ledger = s.range(1).select(lit(0L).as("as_of"), lit(actions).as("c_mktsegment"),
      lit(graft.io.TxnLog.currentVersion(dir)).as("n"),
      lit(graft.io.TxnLog.minVersion(dir).toDouble).as("sum_bal"))
    ledger.unionByName(
        Seq(1L, 2L, 3L, 4L).map(v => face(Some(v), v)).reduce(_.unionByName(_)))
      .select(col("as_of"), col("c_mktsegment"), col("n"), col("sum_bal"))
      .orderBy(col("as_of"), col("c_mktsegment"))
  }
  val q217Sql: String =
    """WITH f1 AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |            WHERE c_custkey % 2 = 0),
      |f2 AS (SELECT * FROM f1 WHERE c_mktsegment <> 'BUILDING'),
      |f3 AS (SELECT * FROM f2 UNION ALL
      |       SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |       WHERE c_custkey % 2 = 1),
      |faces AS (
      |  SELECT 1 AS as_of, c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
      |  FROM f1 GROUP BY 2
      |  UNION ALL
      |  SELECT 2, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM f2 GROUP BY 2
      |  UNION ALL
      |  SELECT 3, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM f3 GROUP BY 2
      |  UNION ALL
      |  SELECT 4, c_mktsegment, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |  FROM f3 GROUP BY 2)
      |SELECT CAST(0 AS BIGINT) AS as_of, 'ADAR' AS c_mktsegment,
      |       CAST(4 AS BIGINT) AS n, CAST(1 AS DOUBLE) AS sum_bal
      |UNION ALL
      |SELECT CAST(as_of AS BIGINT), c_mktsegment, CAST(n AS BIGINT),
      |       CAST(sum_bal AS DOUBLE)
      |FROM faces
      |ORDER BY as_of, c_mktsegment""".stripMargin

  val defs: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q201_priority_sample"   -> ((q201 _, Some(q201Sql))),
    "q202_incremental_view"  -> ((q202 _, Some(q202Sql))),
    "q203_conjunctive_search" -> ((q203 _, Some(q203Sql))),
    "q204_mixture_waterfill" -> ((q204 _, Some(q204Sql))),
    "q205_semantic_dedup"    -> ((q205 _, Some(q205Sql))),
    "q206_scd2_dimension"    -> ((q206 _, Some(q206Sql))),
    "q207_grouped_ols"       -> ((q207 _, Some(q207Sql))),
    "q208_stratified_priority" -> ((q208 _, Some(q208Sql))),
    "q209_stream_ivm"        -> ((q209 _, Some(q209Sql))),
    "q210_stream_sample"     -> ((q210 _, Some(q210Sql))),
    "q211_point_in_time_join" -> ((q211 _, Some(q211Sql))),
    "q212_txn_table"         -> ((q212 _, Some(q212Sql))),
    "q331_pagerank_curation" -> ((q331 _, Some(q331Sql))),
    "q213_txn_compaction"    -> ((q213 _, Some(q213Sql))),
    "q214_stream_ivm_versioned" -> ((q214 _, Some(q214Sql))),
    "q215_txn_history"       -> ((q215 _, Some(q215Sql))),
    "q216_txn_delete"        -> ((q216 _, Some(q216Sql))),
    "q217_txn_delete_vector" -> ((q217 _, Some(q217Sql))))
}
