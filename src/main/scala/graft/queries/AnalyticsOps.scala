package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Round-5 continuation: dataset integrity, embedding statistics, interval
  * analytics, and ordering operators a 100 TB pipeline runs around its
  * core queries.
  *
  * The reference's closest analogs: its SQLite table is the only
  * "versioned" artifact (/root/reference/process_audio.py:58-69) and its
  * dedup key is a single UNIQUE column (pa.py:62) — these queries add the
  * integrity/digest, distribution-statistics, and deterministic-ordering
  * surface a corpus at scale needs on top of that.
  */
object AnalyticsOps {

  /** Two-level global-rank offsets (shared by q135/q137): collect the
    * per-coarse-bucket counts — VALUE-RANGE-sized metadata, guarded —
    * and return (exclusive-prefix-sum offsets keyed by bucket, total).
    * Within-bucket row_number + offsets(bucket) is then the exact global
    * rank with no SinglePartition window. */
  private def coarseRankOffsets(df: DataFrame, bucket: Column): (Map[Long, Long], Long) = {
    val counts = df.groupBy(bucket.as("cb")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(counts.length <= 100000,
      s"coarse-bucket count ${counts.length} exceeds the metadata bound; widen the bucket")
    val offsets = counts.scanLeft((Long.MinValue, 0L)) { case ((_, acc), (cb, c)) => (cb, acc + c) }
      .iterator.zip(counts.iterator).map { case ((_, off), (cb, _)) => cb -> off }.toMap
    (offsets, counts.map(_._2).sum)
  }

  /** Inline-literal maps stop being cheap well before the 100k driver
    * guard: near the bound, a typedLit map is a multi-megabyte expression
    * tree that can blow codegen limits and stall planning (round-5 ADVICE
    * item 4). Past this size the lookup becomes a broadcast hash join on a
    * real (bucket, value) relation instead. */
  private val InlineMapMax = 1024

  /** Attach `offsets(bucketCol)` as column `outName`: a typedLit +
    * element_at projection while the map is small (zero shuffle, fully
    * codegen'd), a broadcast-joined offsets table beyond InlineMapMax (no
    * exchange on the data side either — the big side's partitioning is
    * untouched). */
  private def attachOffset(df: DataFrame, bucketName: String,
                           offsets: Map[Long, Long], outName: String): DataFrame =
    if (offsets.size <= InlineMapMax)
      df.withColumn(outName, element_at(typedLit(offsets), col(bucketName)))
    else {
      val s = df.sparkSession
      import s.implicits._
      val offDf = offsets.toSeq.sortBy(_._1).toDF(bucketName, outName)
      df.join(broadcast(offDf), Seq(bucketName), "left")
    }

  /** The frozen top-16 corpus vocabulary (count desc, term asc — the
    * deterministic tie-break), shared by q142 (OOV accounting) and q152
    * (drift audit) so both measure the SAME vocabulary. Input: one
    * column named `tok`. */
  private def top16Vocab(toks: DataFrame): DataFrame =
    toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(16)
      .select(col("tok"))

  // ---------------------------------------------------------------- q130
  /** Dataset integrity digest — the Merkle-style fingerprint a versioned
    * corpus publishes with every release so any consumer can verify a
    * replica without moving data: each row hashes to
    * md5(doc_id:md5(text)); the first digest byte assigns one of 256
    * buckets; each bucket reports its row count and the md5 of its
    * digest-sorted concatenation. Two datasets are identical iff the 256
    * (bucket, n, digest) rows match — and a mismatch localizes to 1/256th
    * of the data, which is the point of the tree shape.
    *
    * Scale shape: row digests are a pure projection; the one exchange is
    * the 256-way bucket aggregation. Within-bucket canonicalization is
    * the q97/q123 sorted-collect recipe — bounded by corpus/256 per
    * group; at 100 TB the bucket count widens (the digest byte prefix
    * grows) and/or the concat folds through the q97 rolling-digest swap
    * so no group materializes unboundedly. Bucket sizes are
    * hash-balanced by construction (md5 first byte), so there is no skew
    * to salt. */
  def q130(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(md5(concat(col("doc_id").cast("string"), lit(":"), md5(col("text"))))
        .as("rd"))
      .withColumn("bucket", expr("cast(conv(substring(rd, 1, 2), 16, 10) as bigint)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        md5(concat_ws("", sort_array(collect_list(col("rd"))))).as("digest"))
      .orderBy(col("bucket"))
  val q130Sql: String =
    """WITH r AS (
      |  SELECT md5(doc_id || ':' || md5(text)) AS rd FROM documents)
      |SELECT ('0x' || substring(rd, 1, 2))::BIGINT AS bucket,
      |  COUNT(*) AS n,
      |  md5(string_agg(rd, '' ORDER BY rd)) AS digest
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q131
  /** Per-dimension embedding distribution statistics — the whitening /
    * feature-normalization pass every embedding pipeline runs before
    * indexing or training: for each of the 64 dimensions, count, mean and
    * variance in the q51 integer-quantized domain (round(x*1e6) — exact
    * BIGINT per element, so the sums are order-independent integers and
    * both engines agree bit-for-bit; the final mean/variance doubles are
    * derived from those exact sums by identical IEEE arithmetic).
    *
    * Scale shape: posexplode is a flat projection (64 rows per vector, no
    * shuffle); the single exchange carries 64 groups of three integer
    * partial aggregates — map-side combine collapses each partition to
    * ≤64 rows before it moves. DECIMAL(38,0) accumulators: sum(q²) is
    * ~1e12 per row, which overflows i64 around 9M rows/dimension — the
    * decimal keeps the same exactness without the ceiling. */
  def q131(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos").cast("long").as("pos"),
        round(col("x").cast("double") * 1e6).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast(DecimalType(38, 0))).as("sq"),
        sum((col("q") * col("q")).cast(DecimalType(38, 0))).as("sq2"))
      .select(col("pos"), col("n"),
        (col("sq").cast("double") / col("n")).as("mean_q6"),
        ((col("sq2").cast("double")
          - col("sq").cast("double") * col("sq").cast("double") / col("n"))
          / col("n")).as("var_q6"))
      .orderBy(col("pos"))
  val q131Sql: String =
    """WITH x AS (
      |  SELECT u.pos, round(embedding[u.pos + 1] * 1e6)::BIGINT AS q
      |  FROM embeddings CROSS JOIN unnest(range(0, 64)) AS u(pos)),
      |a AS (
      |  SELECT pos, COUNT(*) AS n,
      |    CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS sq,
      |    CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS sq2
      |  FROM x GROUP BY pos)
      |SELECT pos, n, sq / n AS mean_q6, (sq2 - sq * sq / n) / n AS var_q6
      |FROM a ORDER BY pos""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Interval-OVERLAP counting by SWEEP-LINE — the range-join family
    * member q36 (point-in-range) doesn't cover: how many pairs of
    * intervals overlap in time, here per-supplier shipment windows
    * [shipdate, shipdate + quantity days]. The naive formulation is a
    * non-equi self-join (s_a <= e_b AND s_b <= e_a) — quadratic per key,
    * and 36M candidate pairs at sf0.1 even when bucket-tiled (measured:
    * a tiled equi-join variant ran 4.4 s where this runs ~0.3 s).
    * Because the answer is a COUNT, no pair needs enumerating: each
    * interval becomes +1 at its start and −1 at end+1; events sort by
    * (day, end-before-start, id) and every start contributes
    * (running active count − 1) — the number of already-open intervals
    * it overlaps. Closed-interval semantics fall out of the end+1
    * placement and the end-first tie order. The oracle states the
    * brute-force quadratic join, so the hash match PROVES the sweep
    * equals the join semantics.
    *
    * Scale shape: one exchange on l_suppkey (the window), zero joins,
    * linear in events; the quadratic blowup the join formulations carry
    * never exists. */
  def q132(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.lineitem(s, d)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("iid"),
        col("l_suppkey"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("sday"),
        col("l_quantity").cast("long").as("len"))
      .withColumn("eday", col("sday") + col("len"))
    val ev = iv.select(col("l_suppkey"), col("sday").as("day"),
        lit(1L).as("delta"), lit(1).as("typ"), col("iid"))
      .unionByName(iv.select(col("l_suppkey"), (col("eday") + 1).as("day"),
        lit(-1L).as("delta"), lit(0).as("typ"), col("iid")))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("day"), col("typ"), col("iid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("active", sum(col("delta")).over(w))
      .select(col("l_suppkey"),
        when(col("typ") === 1, col("active") - 1).otherwise(0L).as("p"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("p")).as("n_overlapping_pairs"))
      // the brute-force oracle's inner join emits no row for a supplier
      // with zero overlapping pairs — mirror that
      .filter(col("n_overlapping_pairs") > 0)
      .orderBy(col("l_suppkey"))
  }
  // id-free pair counting: (l_orderkey, l_linenumber) is NOT unique in
  // this data, so an `id_a < id_b` dedup would silently drop same-key
  // pairs. Ordered overlapping pairs minus the n self-matches, halved,
  // counts unordered pairs without needing any row identity.
  val q132Sql: String =
    """WITH iv AS (
      |  SELECT l_suppkey,
      |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS sday,
      |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
      |      + CAST(l_quantity AS BIGINT) AS eday
      |  FROM lineitem),
      |ov AS (
      |  SELECT a.l_suppkey, COUNT(*) AS c2
      |  FROM iv a JOIN iv b
      |    ON a.l_suppkey = b.l_suppkey AND a.sday <= b.eday AND b.sday <= a.eday
      |  GROUP BY a.l_suppkey),
      |nn AS (SELECT l_suppkey, COUNT(*) AS n FROM iv GROUP BY l_suppkey)
      |SELECT ov.l_suppkey, (c2 - n) // 2 AS n_overlapping_pairs
      |FROM ov JOIN nn USING (l_suppkey)
      |WHERE c2 > n
      |ORDER BY ov.l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q134
  /** BPE merge-TRAINING step — the counting pass that produces q74's
    * merge table in the first place: count every adjacent character pair
    * across the corpus vocabulary (weighted by word frequency, exactly
    * how BPE training counts) and emit the top 10 merge candidates.
    * Iterating this (count → merge best pair → recount) is the whole BPE
    * training loop; one iteration is the representative kernel, and its
    * deterministic tie-break (count desc, pair asc) is what makes the
    * trained vocabulary reproducible across runs — a property real
    * tokenizer training pipelines have to enforce for exactly this
    * reason.
    *
    * Scale shape: pair extraction is a per-row flat transform; the
    * exchange aggregates (pair → count) with map-side combine over a
    * alphabet²-bounded key space (tiny); top-10 is a TakeOrdered, never
    * a global sort. */
  def q134(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(10)
  val q134Sql: String =
    """WITH w AS (
      |  SELECT u.w FROM (
      |    SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
      |    unnest(t) AS u(w)
      |  WHERE 1=1),
      |p AS (
      |  SELECT substring(w.w, CAST(i.i AS INTEGER), 2) AS pair
      |  FROM w, unnest(range(1, len(w.w))) AS i(i)
      |  WHERE len(w.w) >= 2)
      |SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q135
  /** SORTED-NEIGHBORHOOD blocking (Hernández–Stolfo) — the third blocking
    * family on the board next to hash blocking (q24/q78 LSH bands) and
    * prefix filtering (q128): sort the corpus by a cheap key
    * (n_chars, doc_id), then compare each record only to its w=3
    * successors in that order. Classic entity-resolution shape: candidate
    * count is exactly w·N regardless of key skew, the property that makes
    * it the fallback when hash blocks explode. Each candidate pair gets
    * exact whole-word Jaccard (q26's arithmetic — integer-ratio double).
    *
    * Scale shape: the global sort position comes from the q137 two-level
    * rank (order-aligned coarse buckets + collected metadata offsets —
    * value-range-bounded, never a SinglePartition window); the
    * rank-adjacency join is an equi-join on the dense rank (w copies of
    * one side), shuffled on integers, never a cartesian. */
  def q135(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        array_distinct(split(trim(lower(col("text"))), "\\s+")).as("ts"))
      .withColumn("cb", expr("n_chars div 32"))
    val (offsets, _) = coarseRankOffsets(docs, col("cb"))
    val wIn = Window.partitionBy(col("cb")).orderBy(col("n_chars"), col("doc_id"))
    val ranked = attachOffset(docs, "cb", offsets, "__off")
      .withColumn("rk", col("__off") + row_number().over(wIn)).drop("__off")
    val a = ranked.select(col("doc_id").as("doc_a"), col("ts").as("ts_a"),
      col("rk"), explode(typedLit(Array(1L, 2L, 3L))).as("k"))
      .select(col("doc_a"), col("ts_a"), col("k"), (col("rk") + col("k")).as("rk_b"))
    val b = ranked.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"),
      col("rk").as("rk_b"))
    a.join(b, Seq("rk_b"))
      .select(col("doc_a"), col("doc_b"), col("k").as("rank_dist"),
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("long").as("n_inter"),
        size(array_union(col("ts_a"), col("ts_b"))).cast("long").as("n_union"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / greatest(lit(1), col("n_union")))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  val q135Sql: String =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS ts,
      |    row_number() OVER (ORDER BY n_chars, doc_id) AS rk
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.rk - a.rk AS rank_dist,
      |  CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_inter,
      |  CAST(len(list_distinct(a.ts || b.ts)) AS BIGINT) AS n_union,
      |  CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |    / greatest(1, len(list_distinct(a.ts || b.ts))) AS jaccard
      |FROM t a JOIN t b ON b.rk - a.rk BETWEEN 1 AND 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q136
  /** Time-weighted average — the telemetry/metering aggregate where each
    * reading holds until the next one: per user, trapezoidal integration
    * of `value` over the event timeline,
    * Σ (v_i + v_{i+1})/2 · Δt_i  /  Σ Δt_i. Plain avg() over-weights
    * bursts; this is the operator billing and monitoring systems actually
    * run. The timeline is integer MILLISECONDS (µs div 1000 — the stated
    * resolution); each trapezoid term (v_prev + v)·Δt rounds to an exact
    * integer before summing, so the per-user sums are order-independent
    * integers well inside 2^53 and the final two divisions are single
    * correctly-rounded IEEE ops both engines perform identically. (A
    * DECIMAL(38,6) term sum was tried first: its unscaled value passes
    * 2^63 and the decimal→double cast is not correctly rounded in both
    * engines — integer quantization states the semantics AND removes the
    * cross-engine ulp.) DECIMAL(38,0) accumulators keep the integer
    * exactness without i64's ceiling at corpus scale.
    *
    * Scale shape: one exchange on user_id feeds both the lag() window
    * and the final aggregation (same partitioning, reused); everything
    * after is per-group. */
  def q136(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts_us div 1000").as("ts_ms"), col("value"))
      .withColumn("pv", lag(col("value"), 1).over(w))
      .withColumn("pt", lag(col("ts_ms"), 1).over(w))
      .filter(col("pt").isNotNull)
      .select(col("user_id"),
        (col("ts_ms") - col("pt")).as("dt"),
        round((col("pv") + col("value")) * (col("ts_ms") - col("pt")).cast("double"))
          .cast(DecimalType(38, 0)).as("term"))
      .groupBy(col("user_id"))
      .agg(sum(col("term")).as("st"), sum(col("dt")).as("sdt"),
        count(lit(1)).as("n_segments"))
      .select(col("user_id"), col("n_segments"),
        (col("st").cast("double") / 2.0 / col("sdt").cast("double")).as("tw_avg"))
      .orderBy(col("user_id"))
  }
  val q136Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ts_ms, value
      |  FROM events),
      |l AS (
      |  SELECT user_id, ts_ms, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS pv,
      |    lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS pt
      |  FROM e),
      |t AS (
      |  SELECT user_id, ts_ms - pt AS dt,
      |    CAST(round((pv + value) * CAST(ts_ms - pt AS DOUBLE)) AS DECIMAL(38,0)) AS term
      |  FROM l WHERE pt IS NOT NULL)
      |SELECT user_id, COUNT(*) AS n_segments,
      |  CAST(SUM(term) AS DOUBLE) / 2.0 / CAST(SUM(dt) AS DOUBLE) AS tw_avg
      |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q137
  /** Equi-DEPTH histogram (16 quantile buckets over order totals) WITHOUT
    * a global sort: the q64 fixed-width histogram's dual, and the stats
    * pass an optimizer or data-profiler runs to pick range boundaries.
    * The oracle states it as floor((rank-1)·16/N) over a corpus-wide
    * row_number — fine for DuckDB, a single-partition bottleneck for
    * Spark. The distributed plan derives the same global rank with the
    * q126 two-level trick: coarse value buckets (price div 10000 —
    * order-ALIGNED with the sort key, unlike q126's hash buckets, so
    * within-bucket rank + broadcast cumulative offsets IS the global
    * rank), then aggregates each quantile tile's count/min/max/sum.
    *
    * Scale shape: pass 1 aggregates per-coarse-bucket counts — the
    * result is VALUE-RANGE-sized (price span / width, ~60 rows at any
    * data scale: metadata, like q59's codebook), collected under a
    * guard and folded into a literal offsets map. Pass 2 is the only
    * corpus-sized work: one exchange on the coarse bucket for the
    * within-bucket rank, then the 16-group rollup. No join and no
    * SinglePartition window exist anywhere in the main plan
    * (PlanCheck-pinned); the oracle's corpus-wide row_number is
    * exactly what this plan refuses to do. */
  def q137(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("cb", (col("o_totalprice") / 10000.0).cast("long"))
    // pass 1: coarse-bucket histogram — bounded by the value range, not
    // the row count; the guard turns a mis-sized bucket width into an
    // error instead of a driver OOM
    val (offsets, nTotal) = coarseRankOffsets(o, col("cb"))
    val wIn = Window.partitionBy(col("cb")).orderBy(col("o_totalprice"), col("o_orderkey"))
    attachOffset(o.withColumn("rn", row_number().over(wIn)), "cb", offsets, "off")
      .select(col("o_totalprice"),
        expr(s"((off + rn - 1) * 16) div ${nTotal}L").as("tile"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("sum_price"))
      .orderBy(col("tile"))
  }
  val q137Sql: String =
    """WITH r AS (
      |  SELECT o_totalprice,
      |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER () AS n_total
      |  FROM orders)
      |SELECT (rn - 1) * 16 // n_total AS tile, COUNT(*) AS n,
      |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q138
  /** Event-transition matrix — the Markov-chain counting pass behind
    * session analysis and next-event prediction: for each user timeline
    * (ordered by time, event_id tie-break), count from→to transitions of
    * adjacent events and report each pair's share of its source state's
    * outgoing transitions. The probability is an integer-ratio double
    * (one correctly-rounded division), so both engines agree exactly.
    *
    * Scale shape: lead() runs per-user after one exchange on user_id;
    * the transition rollup is a states²-bounded aggregation with
    * map-side combine, and the per-source normalization is a window
    * over that tiny result, never the event stream. */
  def q138(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    trans
      .withColumn("out_total",
        sum(col("cnt")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("cnt"),
        (col("cnt").cast("double") / col("out_total").cast("double")).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }
  val q138Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      |  FROM events),
      |l AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
      |  FROM e),
      |t AS (
      |  SELECT from_type, to_type, COUNT(*) AS cnt
      |  FROM l WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, cnt,
      |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
      |FROM t ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q140
  /** Weighted sampling by TOKEN MASS — the mixture-draw operator that
    * turns q125's temperature shares into actual picks: k=100 seeded
    * pseudo-random points land uniformly on the corpus' cumulative token
    * line [0, Σtokens); each point selects the document whose token range
    * contains it, so every document is drawn with probability
    * proportional to its token count, WITH replacement (a 10k-token doc
    * is sampled ~10× as often as a 1k-token one — exactly how
    * token-budget corpus mixing weights documents). Points are
    * md5-seeded, so the draw is reproducible across engines and runs.
    *
    * Scale shape: the cumulative line is the q126/q93 two-level prefix
    * sum (per-bucket token sums cumsum'd over a bucket-count-sized
    * aggregate — at extreme scale that table recurses through the same
    * trick); the point-to-range assignment joins the 100-row point table
    * by BROADCAST nested loop (the q27 pattern: the tiny side is the
    * intended inner), so the corpus is scanned once and never shuffled
    * for the containment test. */
  def q140(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("toks"))
    // two-level cumulative offsets: within-bucket running sum + cumsum'd
    // per-bucket totals (the offsets window runs over the tiny aggregate)
    val bkt = t.withColumn("bucket", expr("doc_id div 4096"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bkt.groupBy(col("bucket")).agg(sum(col("toks")).as("bt"))
      .withColumn("boff", coalesce(sum(col("bt")).over(wOff), lit(0L)))
      .select(col("bucket"), col("boff"))
    val cum = bkt
      .withColumn("ioff", coalesce(sum(col("toks")).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"), col("toks"), (col("boff") + col("ioff")).as("off"))
    val tot = t.agg(sum(col("toks")).as("tt"))
    val points = s.range(0, 100).toDF("sample_idx")
      .crossJoin(broadcast(tot))
      .select(col("sample_idx"),
        (expr("cast(conv(substring(md5(concat('sample:', cast(sample_idx as string))), 1, 15), 16, 10) as bigint)")
          % col("tt")).as("point"))
    cum.join(broadcast(points),
        col("point") >= col("off") && col("point") < col("off") + col("toks"))
      .select(col("sample_idx"), col("point"), col("doc_id"))
      .orderBy(col("sample_idx"))
  }
  val q140Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    coalesce(SUM(toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM t),
      |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS tt FROM t),
      |pts AS (
      |  SELECT r.i AS sample_idx,
      |    ('0x' || substr(md5('sample:' || r.i), 1, 15))::BIGINT % tot.tt AS point
      |  FROM range(0, 100) r(i) CROSS JOIN tot)
      |SELECT p.sample_idx, p.point, c.doc_id
      |FROM pts p JOIN c ON p.point >= c.off AND p.point < c.off + c.toks
      |ORDER BY p.sample_idx""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Query THROUGH the custom DataSource V2 connector
    * (sources/GenSource.scala): the deterministic generator table is
    * declared like any other source, and the optimizer negotiates with
    * it — the id range predicate FOLDS INTO the generator's bounds
    * (89k of 100k rows are never produced), and column pruning reaches
    * the reader (md5 is computed only because `h` is aggregated; `id`
    * itself is consumed by the pushdown and never materialized). DuckDB
    * states the identical table from range(), so the connector's whole
    * read path — splits, pushdown, pruning, row materialization — faces
    * the same hash gate as a parquet scan. PlanCheck asserts the live
    * scan shows the folded bounds and the pruned column list. */
  def q141(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.GenSource")
      .option("rows", "100000").option("slices", "8").load()
      .filter(col("id") >= 1000 && col("id") < 90000)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)")).as("hsum"))
      .orderBy(col("bucket"))
  val q141Sql: String =
    """WITH t AS (
      |  SELECT r.range AS id, md5(CAST(r.range AS VARCHAR)) AS h, r.range % 64 AS bucket
      |  FROM range(0, 100000) r)
      |SELECT bucket, COUNT(*) AS n,
      |  CAST(SUM(('0x' || substr(h, 1, 8))::BIGINT) AS BIGINT) AS hsum
      |FROM t WHERE id >= 1000 AND id < 90000
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Vocabulary truncation + OOV accounting — the tokenizer-coverage
    * analysis run before committing to a vocab size: freeze the top-16
    * corpus terms (count desc, term asc — the deterministic tie-break
    * that makes the vocabulary reproducible, same contract as q134) and
    * report each document's out-of-vocabulary token fraction against it.
    * The board's twin decisions — which merges (q134) and which whole
    * words (here) — bracket how real tokenizers are tuned.
    *
    * Scale shape: the vocabulary is a TakeOrdered over the term rollup
    * (vocabulary-bounded, with map-side partial agg) broadcast back onto
    * the token stream; per-doc accounting is one doc_id aggregation.
    * The corpus is never shuffled on a term key. */
  def q142(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val vocab = top16Vocab(toks).withColumn("in_vocab", lit(1))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_frac"))
      .orderBy(col("doc_id"))
  }
  val q142Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, u.tok FROM (
      |    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |    FROM documents), unnest(t) AS u(tok)),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok)
      |  ORDER BY c DESC, tok LIMIT 16)
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS oov_frac
      |FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Distribution-rank window family — percent_rank, cume_dist, ntile:
    * the three ranking functions q39 (rank/dense_rank/row_number) left
    * uncovered, each per-supplier over shipment quantities. All three
    * are integer-ratio arithmetic over within-group ranks, so both
    * engines agree exactly (percent_rank = (rank−1)/(n−1), cume_dist =
    * peers≤current / n, and ntile's uneven-bucket rule is identical).
    *
    * Scale shape: one l_suppkey exchange, three window functions over
    * the same frame — Spark evaluates them in a single Window operator
    * on one sort. */
  def q144(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_quantity"), col("iid"))
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 10)
      .select(col("l_suppkey"), col("l_quantity"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("iid"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("nt", ntile(4).over(w).cast("long"))
      .orderBy(col("l_suppkey"), col("l_quantity"), col("iid"))
  }
  val q144Sql: String =
    """SELECT l_suppkey, l_quantity, l_orderkey * 8 + l_linenumber AS iid,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  CAST(ntile(4) OVER w AS BIGINT) AS nt
      |FROM lineitem WHERE l_suppkey <= 10
      |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_quantity, l_orderkey * 8 + l_linenumber)
      |ORDER BY l_suppkey, l_quantity, iid""".stripMargin

  // ---------------------------------------------------------------- q145
  /** COMPLETE aggregate pushdown through the DSv2 connector: COUNT(*),
    * MIN(id), MAX(id) under a pushed id-range filter collapse into the
    * source's closed-form metadata answer — the plan contains NO Spark
    * aggregation and the reader produces exactly one row without
    * generating any data (the connector analog of answering from parquet
    * footer statistics). PlanCheck asserts the GenAggScan node and the
    * absence of HashAggregate. */
  def q145(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.GenSource")
      .option("rows", "100000").option("slices", "8").load()
      .filter(col("id") >= 250 && col("id") < 75000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
  val q145Sql: String =
    """SELECT COUNT(*) AS n, MIN(r.range) AS min_id, MAX(r.range) AS max_id
      |FROM range(0, 100000) r WHERE r.range >= 250 AND r.range < 75000""".stripMargin

  // ---------------------------------------------------------------- q146
  /** The custom connector as a STREAMING source — GenSource's
    * MicroBatchStream face: the id line is the offset axis, each trigger
    * admits 8192 ids, and the complete-mode aggregation accumulates
    * state across the 7 micro-batches until the table is exhausted
    * (processAllAvailable returns when latestOffset stops advancing).
    * The final table must equal the one-shot batch aggregation over the
    * same generator — which is exactly what the oracle states from
    * range() — so the offset planning, per-batch splits, and cross-batch
    * aggregation state all face the hash gate. The q32/q81 synchronous
    * drive pattern; streaming shuffle partitions pinned to 4. */
  def q146(s: SparkSession, d: String): DataFrame = {
    val name = s"graft_q146_${java.lang.Integer.toHexString(d.hashCode)}"
    // dedicated child session: the stateful-stream partition pinning (the
    // q81 rationale) lands on a session-scoped SQLConf instead of mutating
    // the shared session's global (round-5 ADVICE item 2) — a concurrent
    // query on `s` can no longer observe the override
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    // complete-mode sink: the no-data batch only evicts state — skip it
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = s2.readStream.format("graft.sources.GenSource")
      .option("rows", "50000").option("slices", "4").option("batchRows", "8192")
      .load()
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)")).as("hsum"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable()
    finally q.stop()
    s2.table(name).orderBy(col("bucket"))
  }
  val q146Sql: String =
    """WITH t AS (
      |  SELECT md5(CAST(r.range AS VARCHAR)) AS h, r.range % 64 AS bucket
      |  FROM range(0, 50000) r)
      |SELECT bucket, COUNT(*) AS n,
      |  CAST(SUM(('0x' || substr(h, 1, 8))::BIGINT) AS BIGINT) AS hsum
      |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Rolling z-score ANOMALY detection — the telemetry outlier monitor
    * (q116's robust MAD pass is corpus-batch; this is the trailing-window
    * form a monitor actually runs): per user, each event is scored
    * against the exact mean/stddev of its trailing 8 events and flagged
    * at |z| > 2. Full windows only (n = 8) — a warm-up row scored
    * against 3 points is noise, and the gate states that explicitly.
    *
    * Cross-engine exactness: windowed SUM over doubles is NOT
    * order-stable across engines (Spark buffers and folds in frame
    * order; DuckDB sums segment-tree-wise — different rounding), so the
    * value is DECIMAL-quantized BEFORE the frame sums; sums are then
    * exact, and mean/var/sqrt/z derive by identical IEEE arithmetic.
    *
    * Scale shape: one user_id exchange, one sort, both frame aggregates
    * in a single Window operator; the anomaly filter prunes to the
    * handful of flagged rows before the output sort. */
  def q147(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-7, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("value").cast(DecimalType(18, 6)).as("vq"))
      // square in the base projection so all three frame aggregates share
      // ONE Window operator (a post-window projection would split them)
      .withColumn("vq2", (col("vq") * col("vq")).cast(DecimalType(38, 12)))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("vq"),
        count(lit(1)).over(w).as("n_win"),
        sum(col("vq")).over(w).as("s1"),
        sum(col("vq2")).over(w).as("s2"))
      .filter(col("n_win") === 8)
      .withColumn("mean", col("s1").cast("double") / 8.0)
      .withColumn("variance",
        (col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double") / 8.0) / 8.0)
      .filter(col("variance") > 0.0)
      .withColumn("z", (col("vq").cast("double") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 2.0)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("vq").cast("double").as("value_q"), col("z"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }
  val q147Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CAST(value AS DECIMAL(18,6)) AS vq
      |  FROM events),
      |r AS (
      |  SELECT user_id, event_id, ts_us, vq,
      |    COUNT(*) OVER w AS n_win,
      |    SUM(vq) OVER w AS s1,
      |    SUM(CAST(vq * vq AS DECIMAL(38,12))) OVER w AS s2
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
      |z AS (
      |  SELECT user_id, event_id, ts_us, CAST(vq AS DOUBLE) AS value_q,
      |    (CAST(vq AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) / 8.0)
      |      / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 8.0) / 8.0) AS z
      |  FROM r
      |  WHERE n_win = 8
      |    AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 8.0) / 8.0 > 0.0)
      |SELECT user_id, event_id, ts_us, value_q, z
      |FROM z WHERE abs(z) > 2.0
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  // ---------------------------------------------------------------- q148
  /** STREAM-STATIC broadcast join — the one streaming join pattern the
    * board lacked (q81 is stream-stream): the event stream, staged as
    * three files → three micro-batches, enriches against a STATIC
    * dimension (per-type weights) and accumulates a complete-mode
    * rollup. The static side broadcasts into every micro-batch — at
    * scale this is the canonical "enrich the firehose against reference
    * data" topology, state-free on the dimension by construction. The
    * oracle states the equivalent batch join + aggregation. */
  def q148(s: SparkSession, d: String): DataFrame = {
    val name = s"graft_q148_${java.lang.Integer.toHexString(d.hashCode)}"
    // dedicated child session up front: the stream, its static dim side, and
    // the memory sink must all live on ONE session, and pinning shuffle
    // partitions there leaves the shared session's conf untouched
    // (round-5 ADVICE item 2)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    // complete-mode sink: the no-data batch only evicts state — skip it
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val ev = Tables.events(s2, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // stage once per SOURCE STATE — the q77/q127 idempotency pattern, but
    // keyed on (path, size, mtime) so regenerated data at the same path
    // re-stages instead of silently serving stale rows
    val src = new java.io.File(s"$d/events.parquet")
    val staged = s"${sys.props("java.io.tmpdir")}/graft_q148_src_${
      java.lang.Integer.toHexString((d, src.length, src.lastModified).hashCode)}"
    // stage-once, race-free (round-5 ADVICE item 3): write to a unique tmp
    // dir and atomically rename into place — two concurrent runs each build
    // a complete copy and exactly one rename wins; the loser discards its
    // tmp and reads the winner's. No reader ever sees a half-written dir.
    // the staged dir appears only via the ATOMIC_MOVE below, so dir
    // presence == complete copy (no _SUCCESS dependence: the bench
    // session disables the marker as per-write committer ceremony)
    if (!new java.io.File(staged).isDirectory) {
      val tmp = s"$staged.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      ev.repartition(3).write.mode("overwrite").parquet(tmp)
      try java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(staged),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        // another run won the rename; discard our copy and use the winner's
        def rm(f: java.io.File): Unit = {
          graft.io.FsUtil.deleteRecursively(f): Unit
        }
        rm(new java.io.File(tmp))
      }
    }
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")).cast("double"))
    val q = s2.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") * col("type_weight")).cast(DecimalType(18, 6)))
          .cast("double").as("weighted_sum"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable()
    finally q.stop()
    s2.table(name).orderBy(col("event_type"))
  }
  val q148Sql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type, CAST(len(event_type) AS DOUBLE) AS type_weight
      |  FROM events)
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value * d.type_weight AS DECIMAL(18,6))) AS DOUBLE) AS weighted_sum
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Per-GROUP approximate distinct with oracle-gated error bounds —
    * q75's global sketch pass, per event type: HLL++ approximate
    * distinct users next to the exact count, emitted as a boolean
    * within-5% gate per group (TRUE is what the oracle states, so a
    * sketch drifting out of tolerance in ANY group breaks the hash).
    * At 100 TB the exact column is the one you drop and the sketch is
    * the one you keep — the gate documents the error you accept.
    *
    * Scale shape: one group exchange; both the exact distinct (via
    * partial aggregation) and the fixed-buffer HLL merge map-side. */
  def q149(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("acd"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("acd") - col("exact_users")).cast("double")
          / col("exact_users").cast("double") <= 0.05).as("acd_within_5pct"))
      .orderBy(col("event_type"))
  val q149Sql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  COUNT(*) AS n_events,
      |  TRUE AS acd_within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q151
  /** Z-ORDER clustering audit — the multi-dimensional layout pass a
    * lakehouse OPTIMIZE runs (ops/Layout.zValue): orders map to a
    * (price-bucket, date-bucket) grid, each point gets its Morton
    * Z-value, and the output reports each of 64 Z-ranges' count and
    * bounding box. The small boxes ARE the point: sorting by the ONE
    * Z column clusters BOTH dimensions, so files written in Z-range
    * chunks carry tight min/max footers on price AND date and a
    * predicate on either column prunes files (LayoutSpec measures the
    * locality win vs a single-column sort; this entry hash-locks the
    * interleave arithmetic itself against the oracle's bit-identical
    * SQL). Pure per-row bit arithmetic plus one 64-group rollup. */
  def q151(s: SparkSession, d: String): DataFrame = {
    // floor() stated explicitly on both sides: DuckDB's double->BIGINT
    // cast rounds where Spark's truncates. Both axes clamp to [0, 255] —
    // zValue interleaves low bits, so a pre-anchor date (negative
    // datediff) would otherwise produce non-monotone Morton codes that
    // BOTH engines compute identically (the gate could never catch it)
    val x = greatest(lit(0L),
      least(lit(255L), floor(col("o_totalprice") / 2000.0).cast("long")))
    val y = greatest(lit(0L), least(lit(255L),
      expr("datediff(cast(o_orderdate as date), date'1995-01-01') div 10").cast("long")))
    Tables.orders(s, d)
      .select(col("o_orderkey"), x.as("x"), y.as("y"))
      .withColumn("z", graft.ops.Layout.zValue(col("x"), col("y"), 8))
      .groupBy(expr("z div 1024").as("z_range"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .withColumn("bbox_area",
        (col("max_x") - col("min_x") + 1) * (col("max_y") - col("min_y") + 1))
      .orderBy(col("z_range"))
  }
  val q151Sql: String = {
    val z = graft.ops.Layout.zValueSql("x", "y", 8)
    s"""WITH g AS (
       |  SELECT o_orderkey,
       |    greatest(0, least(255, CAST(floor(o_totalprice / 2000.0) AS BIGINT))) AS x,
       |    greatest(0, least(255, date_diff('day', DATE '1995-01-01',
       |      CAST(o_orderdate AS DATE)) // 10)) AS y
       |  FROM orders),
       |zt AS (SELECT x, y, $z AS z FROM g)
       |SELECT z // 1024 AS z_range, COUNT(*) AS n,
       |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y,
       |  (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS bbox_area
       |FROM zt GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q152
  /** Term-distribution DRIFT between corpus slices — the monitoring pass
    * that catches a scraper change or a poisoned source before training:
    * split the corpus (even vs odd source index), count the q142
    * vocabulary's terms in each slice, and report each term's chi-square
    * contribution against the pooled expectation. Chi-square instead of
    * KL keeps the arithmetic transcendental-free: every statistic
    * derives from exact integer counts by correctly-rounded double
    * ops, so both engines agree bit-for-bit (a log-based divergence
    * would not).
    *
    * Scale shape: token explode → (term, slice) rollup with map-side
    * combine over a vocabulary-bounded key space; everything after the
    * rollup runs on 16 rows. */
  def q152(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select((regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 2 === 0)
          .as("slice_a"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val vocab = top16Vocab(toks.select(col("tok")))
    val counts = toks.join(broadcast(vocab), Seq("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("slice_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("slice_a"), 0L).otherwise(1L)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
    counts.crossJoin(broadcast(tot))
      .withColumn("exp_a",
        (col("n_a") + col("n_b")).cast("double") * col("tot_a").cast("double")
          / (col("tot_a") + col("tot_b")).cast("double"))
      .withColumn("exp_b",
        (col("n_a") + col("n_b")).cast("double") * col("tot_b").cast("double")
          / (col("tot_a") + col("tot_b")).cast("double"))
      .select(col("tok"), col("n_a"), col("n_b"), col("exp_a"),
        ((col("n_a").cast("double") - col("exp_a")) * (col("n_a").cast("double") - col("exp_a")) / col("exp_a")
          + (col("n_b").cast("double") - col("exp_b")) * (col("n_b").cast("double") - col("exp_b")) / col("exp_b"))
          .as("chi2_term"))
      .orderBy(col("tok"))
  }
  val q152Sql: String =
    """WITH tok AS (
      |  SELECT TRY_CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0 AS slice_a,
      |    u.tok
      |  FROM (SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
      |        FROM documents), unnest(t) AS u(tok)),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok)
      |  ORDER BY c DESC, tok LIMIT 16),
      |c AS (
      |  SELECT t.tok,
      |    CAST(SUM(CASE WHEN slice_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN slice_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM tok t JOIN vocab v ON v.tok = t.tok GROUP BY t.tok),
      |tot AS (
      |  SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a, CAST(SUM(n_b) AS BIGINT) AS tot_b
      |  FROM c)
      |SELECT tok, n_a, n_b,
      |  CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE)
      |    / CAST(tot_a + tot_b AS DOUBLE) AS exp_a,
      |  (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE))
      |    * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE))
      |    / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE))
      |  + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE))
      |    * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE))
      |    / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE)) AS chi2_term
      |FROM c CROSS JOIN tot ORDER BY tok""".stripMargin

  // ---------------------------------------------------------------- q153
  /** Quality-GATE agreement (Cohen's kappa) — when two filters disagree,
    * which do you trust? The eval pass that answers it: the q109
    * literal-weight classifier's keep decision against a simple length
    * gate (n_chars >= 150), as a confusion matrix plus chance-corrected
    * kappa. Every statistic is a ratio of exact integer counts — one
    * corpus pass, one 4-cell rollup, bit-exact cross-engine.
    *
    * Kappa near 0 means the learned gate adds signal a length cutoff
    * doesn't have; near 1 means the classifier is an expensive proxy for
    * length — exactly the decision this audit informs. */
  def q153(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("n_chars"),
        split(trim(lower(col("text"))), "\\s+").as("t"), col("text"))
      .withColumn("n_tokens", size(col("t")).cast("double"))
      .withColumn("logit",
        lit(-2.0) + lit(0.004) * col("n_tokens")
          + lit(2.5) * (size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
          + lit(3.0) * (size(expr("filter(t, x -> x = 'the' OR x = 'a')")).cast("double") / col("n_tokens"))
          - lit(0.05) * (length(col("text")).cast("double") / col("n_tokens")))
      .select((col("logit") > 0.0).as("g1"), (col("n_chars") >= 150L).as("g2"))
    scored.agg(
        sum(when(col("g1") && col("g2"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("g1") && !col("g2"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("g1") && col("g2"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("g1") && !col("g2"), 1L).otherwise(0L)).as("n00"))
      .withColumn("n", (col("n11") + col("n10") + col("n01") + col("n00")).cast("double"))
      .withColumn("po", (col("n11") + col("n00")).cast("double") / col("n"))
      .withColumn("pe",
        ((col("n11") + col("n10")).cast("double") * (col("n11") + col("n01")).cast("double")
          + (col("n01") + col("n00")).cast("double") * (col("n10") + col("n00")).cast("double"))
          / (col("n") * col("n")))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        col("po"), col("pe"),
        ((col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
  }
  val q153Sql: String =
    """WITH x AS (
      |  SELECT n_chars, string_split_regex(trim(lower(text)), '\s+') AS t, text
      |  FROM documents),
      |g AS (
      |  SELECT
      |    (-2.0 + 0.004 * CAST(len(t) AS DOUBLE)
      |      + 2.5 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
      |      + 3.0 * (CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE) / CAST(len(t) AS DOUBLE))
      |      - 0.05 * (CAST(len(text) AS DOUBLE) / CAST(len(t) AS DOUBLE))) > 0.0 AS g1,
      |    n_chars >= 150 AS g2
      |  FROM x),
      |m AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN NOT g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN NOT g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM g)
      |SELECT n11, n10, n01, n00,
      |  CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,
      |  (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
      |    + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
      |    / (CAST(n11 + n10 + n01 + n00 AS DOUBLE) * CAST(n11 + n10 + n01 + n00 AS DOUBLE)) AS pe,
      |  (CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE)
      |    - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
      |       + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
      |      / (CAST(n11 + n10 + n01 + n00 AS DOUBLE) * CAST(n11 + n10 + n01 + n00 AS DOUBLE)))
      |  / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
      |       + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
      |      / (CAST(n11 + n10 + n01 + n00 AS DOUBLE) * CAST(n11 + n10 + n01 + n00 AS DOUBLE))) AS kappa
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q154
  /** LAST-TOUCH attribution — the marketing-analytics assignment problem
    * (and a second as-of-join shape next to q15): each purchase is
    * credited to the user's most recent click strictly BEFORE it and at
    * most 24h old; purchases with no qualifying click stay unattributed
    * (NULL — real attribution keeps them, it doesn't drop them). The
    * carry is last_value(... IGNORE NULLS) over an UNBOUNDED-to-(-1)
    * frame on the per-user mixed event timeline — one window pass, no
    * self-join, no inequality join.
    *
    * Scale shape: one user_id exchange; the window carries two columns
    * of running state per user regardless of timeline length. */
  def q154(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        when(col("last_click_ts") >= col("ts_us") - 86400000000L, col("last_click_id"))
          .as("attributed_click_id"))
      .orderBy(col("purchase_id"))
  }
  val q154Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_id, ts_us, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER w AS last_click_id,
      |    last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
      |      OVER w AS last_click_ts
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id AS purchase_id, user_id, ts_us AS purchase_ts_us,
      |  CASE WHEN last_click_ts >= ts_us - 86400000000 THEN last_click_id END
      |    AS attributed_click_id
      |FROM c WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- q155
  /** Exact WEIGHTED median per group — the robust statistic q41's plain
    * percentiles don't cover: each supplier's shipment price median
    * weighted by quantity (a 40-unit line counts 40×). Lower weighted
    * median by integer arithmetic: in (price, id) order, the first row
    * whose running weight doubles past the group total — qualifying rows
    * form a suffix of the order, so min(price) over them IS the first
    * qualifying row's price, and the whole statistic reduces to one
    * running-sum window plus a min. No doubles are compared until the
    * final output column.
    *
    * Scale shape: one l_suppkey exchange shared by the window and the
    * rollup; integer cumulative weights, no percentile buffer. */
  def q155(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice"), col("iid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("l_suppkey"))
    Tables.lineitem(s, d)
      .select(col("l_suppkey"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("iid"),
        col("l_extendedprice"), col("l_quantity").cast("long").as("qty"))
      .withColumn("cumw", sum(col("qty")).over(w))
      .withColumn("totw", sum(col("qty")).over(wTot))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("weighted_median_price"),
        max(col("totw")).as("total_weight"))
      .orderBy(col("l_suppkey"))
  }
  val q155Sql: String =
    """WITH x AS (
      |  SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS iid,
      |    l_extendedprice, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem),
      |r AS (
      |  SELECT l_suppkey, l_extendedprice,
      |    SUM(qty) OVER (PARTITION BY l_suppkey
      |                   ORDER BY l_extendedprice, iid
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    SUM(qty) OVER (PARTITION BY l_suppkey) AS totw
      |  FROM x)
      |SELECT l_suppkey, MIN(l_extendedprice) AS weighted_median_price,
      |  CAST(MAX(totw) AS BIGINT) AS total_weight
      |FROM r WHERE cumw * 2 >= totw
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q156
  /** Conversion LATENCY distribution — the funnel's time axis (q119
    * counts who converts; this measures how fast): per user, the delta
    * from first view to first purchase-after-that-view, then the
    * latency distribution (count, min, exact interpolated quartiles,
    * max) over converting users. Integer microsecond arithmetic
    * end-to-end; the quartiles use q41's percentile ↔ quantile_cont
    * parity on integers.
    *
    * Scale shape: one user_id aggregation with conditional-min partial
    * aggregates (the q119 funnel shape), then a 150-row distribution
    * pass. */
  def q156(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("first_view"))
    val firstPurchase = Tables.events(s, d)
      .join(perUser, Seq("user_id"))
      .filter(col("event_type") === "purchase" && col("ts_us") >= col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("ts_us")).as("first_purchase"))
    firstPurchase
      .select((col("first_purchase") - col("first_view")).as("latency_us"))
      .agg(count(lit(1)).as("n_converting"),
        min(col("latency_us")).as("min_us"),
        expr("percentile(latency_us, 0.25)").as("p25_us"),
        expr("percentile(latency_us, 0.5)").as("p50_us"),
        expr("percentile(latency_us, 0.75)").as("p75_us"),
        max(col("latency_us")).as("max_us"))
  }
  val q156Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |fv AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS first_view
      |  FROM e GROUP BY user_id),
      |fp AS (
      |  SELECT e.user_id, MIN(e.ts_us) AS first_purchase, fv.first_view
      |  FROM e JOIN fv USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts_us >= fv.first_view
      |  GROUP BY e.user_id, fv.first_view)
      |SELECT COUNT(*) AS n_converting,
      |  MIN(first_purchase - first_view) AS min_us,
      |  quantile_cont(first_purchase - first_view, 0.25) AS p25_us,
      |  quantile_cont(first_purchase - first_view, 0.5) AS p50_us,
      |  quantile_cont(first_purchase - first_view, 0.75) AS p75_us,
      |  MAX(first_purchase - first_view) AS max_us
      |FROM fp""".stripMargin

  // ---------------------------------------------------------------- q157
  /** LINEAR interpolation repair — the time-series imputation q61's
    * forward-fill doesn't cover (forward-fill holds a stale reading;
    * interpolation reconstructs the trend between readings): every 5th
    * event carries a reading, and gaps repair to
    * prev + (next − prev)·(t − t_prev)/(t_next − t_prev). The carried
    * prev/next reading-and-timestamp pairs come from IGNORE NULLS
    * last/first over backward/forward frames — two frames on ONE
    * per-user sort; edges (before first / after last reading) stay at
    * the boundary reading. The ratio is integer-µs over integer-µs and
    * the reading is decimal-quantized, so both engines derive the same
    * doubles.
    *
    * Scale shape: one user_id exchange, one sort, all four carries in
    * one Window operator pair. */
  def q157(s: SparkSession, d: String): DataFrame = {
    val wB = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wF = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(0, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_id") % 5 === 0, col("value").cast(DecimalType(18, 6)))
          .as("reading"),
        when(col("event_id") % 5 === 0, col("ts_us")).as("r_ts"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("reading"),
        last(col("reading"), ignoreNulls = true).over(wB).as("pv"),
        last(col("r_ts"), ignoreNulls = true).over(wB).as("pt"),
        first(col("reading"), ignoreNulls = true).over(wF).as("nv"),
        first(col("r_ts"), ignoreNulls = true).over(wF).as("nt"))
      .withColumn("repaired",
        when(col("reading").isNotNull, col("reading").cast("double"))
          .when(col("pv").isNull, col("nv").cast("double"))
          .when(col("nv").isNull, col("pv").cast("double"))
          .otherwise(col("pv").cast("double")
            + (col("nv").cast("double") - col("pv").cast("double"))
              * (col("ts_us") - col("pt")).cast("double")
              / (col("nt") - col("pt")).cast("double")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("reading").cast("double").as("reading"), col("repaired"))
      .orderBy(col("event_id"))
  }
  val q157Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CASE WHEN event_id % 5 = 0 THEN CAST(value AS DECIMAL(18,6)) END AS reading,
      |    CASE WHEN event_id % 5 = 0 THEN epoch_us(CAST(ts AS TIMESTAMP)) END AS r_ts
      |  FROM events),
      |c AS (
      |  SELECT event_id, user_id, ts_us, reading,
      |    last_value(reading IGNORE NULLS) OVER wb AS pv,
      |    last_value(r_ts IGNORE NULLS) OVER wb AS pt,
      |    first_value(reading IGNORE NULLS) OVER wf AS nv,
      |    first_value(r_ts IGNORE NULLS) OVER wf AS nt
      |  FROM e
      |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id, ts_us, CAST(reading AS DOUBLE) AS reading,
      |  CASE WHEN reading IS NOT NULL THEN CAST(reading AS DOUBLE)
      |       WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
      |       WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
      |       ELSE CAST(pv AS DOUBLE)
      |         + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
      |           * CAST(ts_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE) END AS repaired
      |FROM c ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q158
  /** BENFORD first-digit audit — the forensic data-quality check for
    * fabricated or truncated numeric columns: the first-digit
    * distribution of order totals against Benford's law, with each
    * digit's chi-square contribution. The Benford expectations
    * (log10(1+1/d)) enter as LITERAL constants, so the arithmetic stays
    * transcendental-free and bit-exact cross-engine — the same trick as
    * q109's frozen model weights. (This synthetic column is roughly
    * uniform in [1k, 500k], so it FAILS Benford loudly — which is the
    * audit working, not a bug: uniform-range generated data is exactly
    * what this check exists to flag.)
    *
    * Scale shape: per-row digit extraction, 9-group rollup with
    * map-side combine; everything after runs on 9 rows. */
  def q158(s: SparkSession, d: String): DataFrame = {
    val benford = typedLit(Map(
      1L -> 0.3010299956639812, 2L -> 0.17609125905568124,
      3L -> 0.12493873660829993, 4L -> 0.09691001300805642,
      5L -> 0.07918124604762482, 6L -> 0.06694678963061322,
      7L -> 0.05799194697768673, 8L -> 0.05115252244738129,
      9L -> 0.04575749056067514))
    // first digit off the INTEGER part's string — double->string rendering
    // is engine-specific; bigint->string is not (prices are >= 1, so the
    // integer part always carries the leading digit)
    val digits = Tables.orders(s, d)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("n_total"))
    digits.crossJoin(broadcast(tot))
      .withColumn("expected_frac", element_at(benford, col("digit")))
      .withColumn("expected_n", col("expected_frac") * col("n_total").cast("double"))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("n_total").cast("double")).as("observed_frac"),
        col("expected_frac"),
        ((col("n").cast("double") - col("expected_n"))
          * (col("n").cast("double") - col("expected_n")) / col("expected_n"))
          .as("chi2_digit"))
      .orderBy(col("digit"))
  }
  val q158Sql: String =
    """WITH b AS (
      |  -- string->double parse is correctly rounded; a bare decimal literal
      |  -- routes through DECIMAL(18,17) and loses the last ulp
      |  SELECT d AS digit, CAST(f AS DOUBLE) AS expected_frac FROM (VALUES
      |    (1, '0.3010299956639812'), (2, '0.17609125905568124'),
      |    (3, '0.12493873660829993'), (4, '0.09691001300805642'),
      |    (5, '0.07918124604762482'), (6, '0.06694678963061322'),
      |    (7, '0.05799194697768673'), (8, '0.05115252244738129'),
      |    (9, '0.04575749056067514')) t(d, f)),
      |c AS (
      |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    COUNT(*) AS n
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
      |SELECT c.digit, c.n,
      |  CAST(c.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS observed_frac,
      |  b.expected_frac,
      |  (CAST(c.n AS DOUBLE) - b.expected_frac * CAST(t.n_total AS DOUBLE))
      |    * (CAST(c.n AS DOUBLE) - b.expected_frac * CAST(t.n_total AS DOUBLE))
      |    / (b.expected_frac * CAST(t.n_total AS DOUBLE)) AS chi2_digit
      |FROM c CROSS JOIN t JOIN b ON b.digit = c.digit
      |ORDER BY c.digit""".stripMargin

  // ---------------------------------------------------------------- q159
  /** Per-group MODE with deterministic tie-break — the categorical
    * statistic the numeric family (median q116, weighted median q155,
    * quantiles q41) doesn't cover: each supplier's most frequent
    * shipment quantity, ties to the smallest value. Built-in mode() is
    * tie-nondeterministic in both engines, so the query states the
    * argmax explicitly — max(struct(count, -value)) — one
    * partial-aggregable pass over the (group, value) rollup, no window.
    *
    * Scale shape: two exchanges ((supplier, value) rollup with map-side
    * combine, then supplier argmax); never a per-group sort. */
  def q159(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_quantity").cast("long").as("qty"))
      .groupBy(col("l_suppkey"), col("qty")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_suppkey"))
      .agg(max(struct(col("cnt"), (-col("qty")).as("nq"))).as("best"),
        sum(col("cnt")).as("n_rows"))
      .select(col("l_suppkey"), (-col("best.nq")).as("mode_qty"),
        col("best.cnt").as("mode_count"), col("n_rows"))
      .orderBy(col("l_suppkey"))
  val q159Sql: String =
    """WITH c AS (
      |  SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_suppkey, qty, cnt,
      |    row_number() OVER (PARTITION BY l_suppkey ORDER BY cnt DESC, qty) AS rn,
      |    SUM(cnt) OVER (PARTITION BY l_suppkey) AS n_rows
      |  FROM c)
      |SELECT l_suppkey, qty AS mode_qty, cnt AS mode_count,
      |  CAST(n_rows AS BIGINT) AS n_rows
      |FROM r WHERE rn = 1 ORDER BY l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q160
  /** 2-D SKYLINE (Pareto frontier) — the preference-query operator: the
    * orders no other order dominates on (earlier date, lower price),
    * i.e. the efficient frontier of the date/price tradeoff. In
    * (date asc, price asc, key) order, a row is on the skyline iff its
    * price is strictly below every EARLIER row's price — one running-min
    * pass, no quadratic dominance join (same-date ties: only the
    * cheapest can survive, and the strict running-min comparison
    * enforces exactly that).
    *
    * Scale shape: the global running min decomposes like q137's global
    * rank — the oracle states a corpus-wide window, the plan refuses
    * it: coarse 64-day buckets (order-aligned), per-bucket running min
    * after ONE cb exchange, and the cross-bucket carry folded in as a
    * literal prefix-minima map (value-range-sized metadata, collected
    * under q137's guard). No SinglePartition window, no join,
    * PlanCheck-pinned. */
  def q160(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        expr("datediff(cast(o_orderdate as date), date'1995-01-01')").cast("long").as("day"))
      .withColumn("cb", expr("day div 64"))
    // bucket minima -> exclusive prefix minima over earlier buckets
    val bMins = o.groupBy(col("cb")).agg(min(col("o_totalprice")).as("m"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    require(bMins.length <= 100000,
      s"coarse-bucket count ${bMins.length} exceeds the metadata bound; widen the bucket")
    val prefixMin: Map[Long, Double] = bMins.foldLeft(
        (Map.empty[Long, Double], Option.empty[Double])) {
      case ((acc, run), (cb, m)) =>
        (run.fold(acc)(p => acc + (cb -> p)), Some(run.fold(m)(math.min(_, m))))
    }._1
    val wIn = Window.partitionBy(col("cb"))
      .orderBy(col("day"), col("o_totalprice"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // least() skips nulls in both engines: first row of a bucket carries
    // only the prefix map's value; the global first row carries neither
    val prefixCol =
      if (prefixMin.isEmpty) lit(null).cast("double")
      else element_at(typedLit(prefixMin), col("cb"))
    o.withColumn("min_before", least(prefixCol, min(col("o_totalprice")).over(wIn)))
      .filter(col("min_before").isNull || col("o_totalprice") < col("min_before"))
      .select(col("o_orderkey"), col("day"), col("o_totalprice"))
      .orderBy(col("day"), col("o_orderkey"))
  }
  val q160Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_totalprice,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders),
      |r AS (
      |  SELECT o_orderkey, day, o_totalprice,
      |    MIN(o_totalprice) OVER (ORDER BY day, o_totalprice, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_before
      |  FROM o)
      |SELECT o_orderkey, day, o_totalprice
      |FROM r WHERE min_before IS NULL OR o_totalprice < min_before
      |ORDER BY day, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q161
  /** Categorical STREAK run-length encoding — gaps-and-islands over a
    * category instead of a time gap (q18) or a span diagonal (q80):
    * consecutive same-type events per user collapse to one row per run
    * (type, start, end, length). The island id is the classic
    * two-rank difference: a global per-user sequence minus a per-
    * (user, type) sequence is constant exactly within a run. The op
    * behind session labeling, error-burst detection, and streak
    * features.
    *
    * Scale shape: one user_id exchange feeds both ranking windows (same
    * partitioning) and the final run rollup. */
  def q161(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wTyp = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("grp", row_number().over(wAll) - row_number().over(wTyp))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(count(lit(1)).as("run_len"),
        min(col("ts_us")).as("run_start_us"), max(col("ts_us")).as("run_end_us"))
      .select(col("user_id"), col("event_type"), col("run_start_us"),
        col("run_end_us"), col("run_len"))
      // run_end_us completes the total order: two same-type runs can share
      // a start timestamp when ties split a run
      .orderBy(col("user_id"), col("run_start_us"), col("event_type"), col("run_end_us"))
  }
  val q161Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
      |  FROM events),
      |g AS (
      |  SELECT user_id, event_type, ts_us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |      - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
      |      AS grp
      |  FROM e)
      |SELECT user_id, event_type,
      |  MIN(ts_us) AS run_start_us, MAX(ts_us) AS run_end_us,
      |  COUNT(*) AS run_len
      |FROM g GROUP BY user_id, event_type, grp
      |ORDER BY user_id, run_start_us, event_type, run_end_us""".stripMargin

  // ---------------------------------------------------------------- q162
  /** GROWTH accounting — the daily active/new/returning/cumulative user
    * ledger every product-analytics stack maintains: per epoch day,
    * event volume, distinct actives, first-ever-seen users (new),
    * returning = active − new, and the cumulative user count (running
    * sum of new — correct by definition, since each user is new exactly
    * once). Pure integer arithmetic on epoch days.
    *
    * Scale shape: two corpus aggregations (per-day actives with partial
    * distinct; per-user first-seen then its per-day rollup) joined on
    * the DAY-RANGE-sized ledger; the running sum windows over that
    * metadata-sized table, never the event stream. */
  def q162(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(expr("ts_us div 86400000000").as("dayn"), col("user_id"))
    val daily = ev.groupBy(col("dayn"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("active_users"))
    val newPerDay = ev.groupBy(col("user_id")).agg(min(col("dayn")).as("d0"))
      .groupBy(col("d0").as("dayn")).agg(count(lit(1)).as("new_users"))
    val wCum = Window.orderBy(col("dayn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(newPerDay, Seq("dayn"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .select(col("dayn"), col("n_events"), col("active_users"), col("new_users"),
        (col("active_users") - col("new_users")).as("returning_users"),
        sum(col("new_users")).over(wCum).as("cumulative_users"))
      .orderBy(col("dayn"))
  }
  val q162Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayn, user_id
      |  FROM events),
      |daily AS (
      |  SELECT dayn, COUNT(*) AS n_events,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      |  FROM e GROUP BY dayn),
      |np AS (
      |  SELECT d0 AS dayn, COUNT(*) AS new_users FROM (
      |    SELECT user_id, MIN(dayn) AS d0 FROM e GROUP BY user_id)
      |  GROUP BY d0)
      |SELECT daily.dayn, n_events, active_users,
      |  coalesce(np.new_users, 0) AS new_users,
      |  active_users - coalesce(np.new_users, 0) AS returning_users,
      |  CAST(SUM(coalesce(np.new_users, 0)) OVER (ORDER BY daily.dayn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
      |FROM daily LEFT JOIN np ON np.dayn = daily.dayn
      |ORDER BY daily.dayn""".stripMargin

  // ---------------------------------------------------------------- q163
  /** Event-type CO-OCCURRENCE with lift — market-basket association
    * mining over user-day baskets: which event types appear together in
    * the same basket more often than chance? lift(a,b) =
    * n·joint/(cnt_a·cnt_b) — a single correctly-rounded arithmetic
    * expression over exact integer counts, so both engines agree
    * bit-for-bit. Lift > 1 is the association signal recommenders and
    * anomaly rules are built from.
    *
    * Scale shape: baskets = DISTINCT (user, day, type) — one exchange
    * with partial distinct; the pair join is per-basket (≤ C(types,2)
    * fan-out per basket, types is a small fixed set); marginals are a
    * types-sized table broadcast twice. */
  def q163(s: SparkSession, d: String): DataFrame = {
    // the basket table feeds marginals, the total, and BOTH self-join
    // sides — materialize once (AQE does not reuse multi-consumer
    // subtrees); the total folds in as a broadcast 1-row aggregate, never
    // a driver-side count job
    val basket = Tables.events(s, d)
      .select(col("user_id"), expr("ts_us div 86400000000").as("dayn"),
        col("event_type"))
      .distinct()
      .localCheckpoint(true)
    val nb = basket.select(col("user_id"), col("dayn")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val marg = basket.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val a = basket.withColumnRenamed("event_type", "type_a")
    val b = basket.withColumnRenamed("event_type", "type_b")
    a.join(b, Seq("user_id", "dayn"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("joint"))
      .join(broadcast(marg.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("cnt", "cnt_a")), Seq("type_a"))
      .join(broadcast(marg.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("cnt", "cnt_b")), Seq("type_b"))
      .crossJoin(broadcast(nb))
      .select(col("type_a"), col("type_b"), col("joint"), col("cnt_a"), col("cnt_b"),
        (col("n_baskets").cast("double") * col("joint").cast("double")
          / (col("cnt_a").cast("double") * col("cnt_b").cast("double"))).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }
  val q163Sql: String =
    """WITH basket AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayn, event_type
      |  FROM events),
      |nb AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, dayn FROM basket)),
      |marg AS (SELECT event_type, COUNT(*) AS cnt FROM basket GROUP BY event_type),
      |joint AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS joint
      |  FROM basket a JOIN basket b
      |    ON a.user_id = b.user_id AND a.dayn = b.dayn AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, joint, ma.cnt AS cnt_a, mb.cnt AS cnt_b,
      |  CAST(nb.n AS DOUBLE) * CAST(joint AS DOUBLE)
      |    / (CAST(ma.cnt AS DOUBLE) * CAST(mb.cnt AS DOUBLE)) AS lift
      |FROM joint JOIN marg ma ON ma.event_type = type_a
      |           JOIN marg mb ON mb.event_type = type_b
      |           CROSS JOIN nb
      |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------------- q164
  /** SOURCE-similarity matrix — the input to mixture design (which
    * sources are redundant?): pairwise HISTOGRAM INTERSECTION
    * Σ min(p_a(t), p_b(t)) over the frozen q142 vocabulary's term
    * distributions, for every source pair. 1.0 = identical
    * distributions, 0 = disjoint. Each per-term min is one double op on
    * exact integer-ratio shares; the 16-term sum is DECIMAL-quantized
    * (the repo's order-independent recipe).
    *
    * Scale shape: one (source, term) rollup over the corpus; the
    * pairwise stage runs on a sources×vocab table (metadata-sized) —
    * sources² never touches the corpus. */
  def q164(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val vocab = top16Vocab(toks.select(col("tok")))
    val dist = toks.join(broadcast(vocab), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("tok"),
        (col("c").cast("double") / col("tot").cast("double")).as("p"))
    val a = dist.select(col("source").as("src_a"), col("tok"), col("p").as("p_a"))
    val b = dist.select(col("source").as("src_b"), col("tok"), col("p").as("p_b"))
    a.join(b, Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(least(col("p_a"), col("p_b")).cast(DecimalType(20, 12)))
        .cast("double").as("hist_intersection"))
      .orderBy(col("src_a"), col("src_b"))
  }
  val q164Sql: String =
    """WITH tok AS (
      |  SELECT source, u.tok FROM (
      |    SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
      |    FROM documents), unnest(t) AS u(tok)),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok)
      |  ORDER BY c DESC, tok LIMIT 16),
      |d AS (
      |  SELECT source, t.tok, COUNT(*) AS c
      |  FROM tok t JOIN vocab v ON v.tok = t.tok GROUP BY source, t.tok),
      |p AS (
      |  SELECT source, tok,
      |    CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS p
      |  FROM d)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(SUM(CAST(least(a.p, b.p) AS DECIMAL(20,12))) AS DOUBLE)
      |    AS hist_intersection
      |FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q165
  /** TIME-CONSTRAINED funnel — q119's unconstrained view→click→purchase
    * progression with the windows real funnels enforce: the click must
    * land within 1h of the user's first view, and the purchase within
    * 1h of that click. Three chained conditional-min aggregations, each
    * anchored on the previous stage's timestamp (the chain is what makes
    * this a different operator from q119: a click 3 days later no longer
    * converts). Integer-µs arithmetic end-to-end; output is the stage
    * histogram partitioning the user universe.
    *
    * Scale shape: three aggregations over the (already user-keyed)
    * event stream with conditional-min partial aggregates, each
    * join-back broadcastable (user-count-sized). */
  def q165(s: SparkSession, d: String): DataFrame = {
    val hour = 3600000000L
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
    val fv = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t_view"))
      .filter(col("t_view").isNotNull)
    val fc = ev.join(broadcast(fv), Seq("user_id"))
      .filter(col("event_type") === "click"
        && col("ts_us") > col("t_view") && col("ts_us") <= col("t_view") + hour)
      .groupBy(col("user_id"), col("t_view")).agg(min(col("ts_us")).as("t_click"))
    val fp = ev.join(broadcast(fc), Seq("user_id"))
      .filter(col("event_type") === "purchase"
        && col("ts_us") > col("t_click") && col("ts_us") <= col("t_click") + hour)
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(col("ts_us")).as("t_purchase"))
    val stages = fv.join(fc.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
      .join(fp.select(col("user_id"), col("t_purchase")), Seq("user_id"), "left")
      .select(when(col("t_purchase").isNotNull, "3_purchased")
        .when(col("t_click").isNotNull, "2_clicked")
        .otherwise("1_viewed_only").as("stage"))
    stages.groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }
  val q165Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |fv AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view
      |  FROM e GROUP BY user_id HAVING t_view IS NOT NULL),
      |fc AS (
      |  SELECT e.user_id, MIN(e.ts_us) AS t_click
      |  FROM e JOIN fv USING (user_id)
      |  WHERE e.event_type = 'click'
      |    AND e.ts_us > fv.t_view AND e.ts_us <= fv.t_view + 3600000000
      |  GROUP BY e.user_id),
      |fp AS (
      |  SELECT e.user_id, MIN(e.ts_us) AS t_purchase
      |  FROM e JOIN fc USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts_us > fc.t_click AND e.ts_us <= fc.t_click + 3600000000
      |  GROUP BY e.user_id)
      |SELECT CASE WHEN fp.user_id IS NOT NULL THEN '3_purchased'
      |            WHEN fc.user_id IS NOT NULL THEN '2_clicked'
      |            ELSE '1_viewed_only' END AS stage,
      |  COUNT(*) AS n_users
      |FROM fv LEFT JOIN fc USING (user_id) LEFT JOIN fp USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Session-DEPTH distribution + bounce share — the engagement summary
    * layered on q18's 30-minute gap sessionization: how many sessions
    * contain 1 event (bounces), 2, 3, … capped at 10+, and each depth's
    * share of all sessions. The share is one exact integer-ratio
    * division; the cap keeps the output schema fixed as timelines grow.
    *
    * Scale shape: q18's one user_id exchange for the gap rule and the
    * per-session rollup; the depth histogram is a ≤10-group aggregate
    * with map-side combine. */
  def q166(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val sessions = Tables.events(s, d)
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(wOrder) > gapUs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess"))
        .over(wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(count(lit(1)).as("n_events"))
    val depths = sessions
      .select(least(col("n_events"), lit(10L)).as("depth"))
      .groupBy(col("depth")).agg(count(lit(1)).as("n_sessions"))
    val tot = depths.agg(sum(col("n_sessions")).as("n_total"))
    depths.crossJoin(broadcast(tot))
      .select(col("depth"), col("n_sessions"),
        (col("n_sessions").cast("double") / col("n_total").cast("double")).as("share"))
      .orderBy(col("depth"))
  }
  val q166Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |              > 1800000000 THEN 1 ELSE 0 END AS new_sess,
      |    event_id
      |  FROM e),
      |x AS (
      |  SELECT user_id,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM m),
      |sess AS (
      |  SELECT user_id, sess_idx, COUNT(*) AS n_events
      |  FROM x GROUP BY user_id, sess_idx),
      |dep AS (
      |  SELECT least(n_events, 10) AS depth, COUNT(*) AS n_sessions
      |  FROM sess GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS n_total FROM dep)
      |SELECT depth, n_sessions,
      |  CAST(n_sessions AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
      |FROM dep CROSS JOIN t ORDER BY depth""".stripMargin

  // ---------------------------------------------------------------- q167
  /** A/B TEST analysis (two-proportion z-statistic) — the experimentation
    * readout: users deterministically split by id parity, conversion =
    * a heavy purchaser (>= 14 purchases — every user in this synthetic
    * stream buys at least once, which would make the naive "any
    * purchase" rate exactly 1 and the pooled variance zero), and the
    * pooled-variance z-score for the
    * conversion-rate difference. Every term derives from four exact
    * integer counts by correctly-rounded double ops (sqrt included), so
    * both engines agree bit-for-bit — the deterministic assignment is
    * also what makes an A/B readout reproducible in a real pipeline.
    *
    * Scale shape: one per-user conversion rollup (partial-aggregated),
    * then a 2-group aggregate and a single-row projection. */
  def q167(s: SparkSession, d: String): DataFrame = {
    val conv = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14L)
        .cast("long").as("converted"))
      .select((col("user_id") % 2 === 0).as("grp_a"), col("converted"))
    conv.agg(
        sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp_a"), col("converted")).otherwise(0L)).as("c_a"),
        sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("grp_a"), col("converted")).otherwise(0L)).as("c_b"))
      .withColumn("p_a", col("c_a").cast("double") / col("n_a").cast("double"))
      .withColumn("p_b", col("c_b").cast("double") / col("n_b").cast("double"))
      .withColumn("p_pool",
        (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b")).cast("double"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        col("p_a"), col("p_b"),
        ((col("p_a") - col("p_b"))
          / sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
            * (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double"))))
          .as("z_score"))
  }
  val q167Sql: String =
    """WITH conv AS (
      |  SELECT user_id % 2 = 0 AS grp_a,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
      |         AS BIGINT) AS converted
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN grp_a THEN converted ELSE 0 END) AS BIGINT) AS c_a,
      |    CAST(SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN NOT grp_a THEN converted ELSE 0 END) AS BIGINT) AS c_b
      |  FROM conv)
      |SELECT n_a, c_a, n_b, c_b,
      |  CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
      |  CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
      |  (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |    - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |  / sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |    * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z_score
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q168
  /** Revenue CONCENTRATION — the whale-dependence audit (the Gini
    * coefficient's robust cousin, transcendental- and global-sort-free):
    * per-customer order totals tiled into exact deciles by the
    * q137 two-level rank, then each decile's customer count and share of
    * total revenue. Decile 9's share is the "top 10% of customers carry
    * X% of revenue" number; exact DECIMAL revenue sums, shares as one
    * decimal→double division each.
    *
    * Scale shape: one customer rollup (partial-aggregated), the
    * two-level rank over the customer-totals table (corpus-derived but
    * orders-of-magnitude smaller), a 10-group rollup. */
  def q168(s: SparkSession, d: String): DataFrame = {
    val byCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("rev"))
      .withColumn("cb", expr("cast(rev / 10000.0 as bigint)"))
    val (offsets, nTotal) = coarseRankOffsets(byCust, col("cb"))
    val wIn = Window.partitionBy(col("cb")).orderBy(col("rev"), col("o_custkey"))
    val tiled = attachOffset(byCust.withColumn("rn", row_number().over(wIn)),
        "cb", offsets, "off")
      .select(col("rev"), expr(s"((off + rn - 1) * 10) div ${nTotal}L").as("decile"))
    // total from byCust, not tiled — summing the tiled side would evaluate
    // the rank window and offsets projection a second time for a value the
    // upstream rollup already carries
    val tot = byCust.agg(sum(col("rev")).as("rev_total"))
    tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("rev_decile"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        col("rev_decile").cast("double").as("revenue"),
        (col("rev_decile").cast("double") / col("rev_total").cast("double"))
          .as("revenue_share"))
      .orderBy(col("decile"))
  }
  val q168Sql: String =
    """WITH c AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders GROUP BY o_custkey),
      |r AS (
      |  SELECT rev,
      |    (row_number() OVER (ORDER BY rev, o_custkey) - 1) * 10
      |      // COUNT(*) OVER () AS decile
      |  FROM c),
      |t AS (SELECT SUM(rev) AS rev_total FROM r)
      |SELECT decile, COUNT(*) AS n_customers,
      |  CAST(SUM(rev) AS DOUBLE) AS revenue,
      |  CAST(SUM(rev) AS DOUBLE) / CAST(t.rev_total AS DOUBLE) AS revenue_share
      |FROM r CROSS JOIN t GROUP BY decile, t.rev_total ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q169
  /** RFM SEGMENTATION — the classic customer scoring: Recency (days
    * since the user's last purchase, against the stream's last day),
    * Frequency (purchase count), Monetary (exact decimal purchase-value
    * sum), each cut at fixed stated thresholds into low/high, and the
    * 8-cell segment census. Fixed thresholds (not quantiles) keep the
    * segment DEFINITION stable across reruns and data growth — the
    * property a production scoring pipeline wants; integer/decimal
    * arithmetic end-to-end.
    *
    * Scale shape: one user rollup with conditional partial aggregates;
    * the global last-day scalar broadcasts; the census is 8 groups. */
  def q169(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("ts_us div 86400000000").as("dayn"))
    val maxDay = ev.agg(max(col("dayn")).as("max_day"))
    val rfm = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(col("dayn")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("value").cast(DecimalType(18, 6))).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        (col("max_day") - col("last_day")).as("recency_days"),
        col("freq"), col("monetary"))
    rfm.select(
        when(col("recency_days") <= 2, "R1").otherwise("R0").as("r"),
        when(col("freq") >= 14, "F1").otherwise("F0").as("f"),
        // decimal-vs-decimal comparison (DuckDB's 1300.0 literal is
        // DECIMAL) — a double comparison could split the engines exactly
        // at the boundary
        when(col("monetary") >= lit(1300).cast(DecimalType(18, 6)), "M1")
          .otherwise("M0").as("m"))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("r"), col("f"), col("m"))
  }
  val q169Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayn
      |  FROM events),
      |md AS (SELECT MAX(dayn) AS max_day FROM e),
      |rfm AS (
      |  SELECT user_id, md.max_day - MAX(dayn) AS recency_days,
      |    COUNT(*) AS freq,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS monetary
      |  FROM e CROSS JOIN md
      |  WHERE event_type = 'purchase'
      |  GROUP BY user_id, md.max_day)
      |SELECT CASE WHEN recency_days <= 2 THEN 'R1' ELSE 'R0' END AS r,
      |  CASE WHEN freq >= 14 THEN 'F1' ELSE 'F0' END AS f,
      |  CASE WHEN monetary >= 1300.0 THEN 'M1' ELSE 'M0' END AS m,
      |  COUNT(*) AS n_users
      |FROM rfm GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q170
  /** DUPLICATE-transaction detection — the fraud/data-quality sweep for
    * double-submits: same user, same whole-currency-unit amount
    * (floor(value) — real sweeps match on rounded amounts because
    * re-submits carry fee jitter; exact-double equality finds nothing in
    * any realistic stream), within 24 hours. No pair join: sort each
    * (user, amount) lane by time and flag rows whose predecessor in the
    * lane is ≤24h older (every run of duplicates is caught — each
    * non-first member flags against its neighbor). Emits the flagged
    * rows with the gap for triage.
    *
    * Scale shape: one (user_id, amount) exchange, one lag window, a
    * filter — linear, the quadratic same-amount join never exists. */
  def q170(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("amt"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        floor(col("value")).cast("long").as("amt"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .filter(col("prev_ts").isNotNull && col("ts_us") - col("prev_ts") <= 86400000000L)
      .select(col("user_id"), col("event_id"), col("prev_id"),
        col("amt"), (col("ts_us") - col("prev_ts")).as("gap_us"))
      .orderBy(col("event_id"))
  }
  val q170Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CAST(floor(value) AS BIGINT) AS amt
      |  FROM events WHERE event_type = 'purchase'),
      |l AS (
      |  SELECT user_id, event_id, ts_us, amt,
      |    lag(ts_us) OVER w AS prev_ts,
      |    lag(event_id) OVER w AS prev_id
      |  FROM p
      |  WINDOW w AS (PARTITION BY user_id, amt ORDER BY ts_us, event_id))
      |SELECT user_id, event_id, prev_id, amt, ts_us - prev_ts AS gap_us
      |FROM l WHERE prev_ts IS NOT NULL AND ts_us - prev_ts <= 86400000000
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q173
  /** Per-GROUP quantile-sketch accuracy gate (round 6; gate rewritten
    * round 7 per advice) — q149's HLL gate, for quantiles: per order
    * priority, the exact interpolated p50/p90 (q41's percentile ↔
    * quantile_cont parity) next to boolean gates over approx_percentile's
    * sketch estimates. The gates assert the bound the sketch actually
    * CONTRACTS — rank error ≤ ε = 1/accuracy — not a value-error bound:
    * Spark's approx_percentile (Greenwald-Khanna) guarantees the returned
    * element's rank range [#(x < v)+1, #(x ≤ v)] intersects
    * [⌊(p−ε)·n⌋, ⌈(p+ε)·n⌉]; a 1%-VALUE gate (the round-6 form) is data-
    * and engine-version-dependent and can break the hash with no real
    * regression. So the oracle's frozen TRUE is now invariant under Spark
    * upgrades and data reshapes — any correct sketch satisfies it.
    *
    * Scale shape: the sketch pass is one group exchange with partial-merge
    * aggregates; verifying the rank contract inherently needs a second
    * pass over the data (count values below the returned estimate), joined
    * via a broadcast of the 5-row sketch output — at 100 TB that second
    * scan IS the audit's cost, and you run it exactly when auditing. The
    * approx estimates themselves stay OUT of the projection — they are
    * sketch-implementation detail; the booleans are the contract. */
  def q173(s: SparkSession, d: String): DataFrame = {
    val acc = 10000
    val eps = 1.0 / acc
    val o = Tables.orders(s, d).select(col("o_orderpriority"), col("o_totalprice"))
    val sk = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(o_totalprice, 0.5)").as("exact_p50"),
        expr("percentile(o_totalprice, 0.9)").as("exact_p90"),
        expr(s"approx_percentile(o_totalprice, 0.5, $acc)").as("a50"),
        expr(s"approx_percentile(o_totalprice, 0.9, $acc)").as("a90"))
    val ranks = o
      .join(broadcast(sk.select(col("o_orderpriority"), col("a50"), col("a90"))),
        Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_totalprice") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("o_totalprice") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("o_totalprice") < col("a90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("o_totalprice") <= col("a90"), 1L).otherwise(0L)).as("le90"))
    def rankOk(p: Double, lt: Column, le: Column): Column =
      (lt + lit(1L) <= ceil((lit(p) + lit(eps)) * col("n"))) &&
        (le >= floor((lit(p) - lit(eps)) * col("n")))
    sk.join(ranks, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"), col("exact_p50"), col("exact_p90"),
        rankOk(0.5, col("lt50"), col("le50")).as("p50_rank_ok"),
        rankOk(0.9, col("lt90"), col("le90")).as("p90_rank_ok"))
      .orderBy(col("o_orderpriority"))
  }
  val q173Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  quantile_cont(o_totalprice, 0.5) AS exact_p50,
      |  quantile_cont(o_totalprice, 0.9) AS exact_p90,
      |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q175
  /** ANALYZE-style column statistics (round 6) — the stats collection a
    * catalog/CBO runs per table (row count, nulls, exact NDV, min/max per
    * column), emitted as one row PER COLUMN: the operational twin of
    * q117's constraint audit and q130's integrity digest. ONE pass: all
    * per-column aggregates in a single aggregation (multi-distinct =
    * Catalyst Expand — rows duplicate ×columns inside the scan, no extra
    * scans), then an unpivot projection to (column, stats) rows.
    * Doubles are ×1e6-quantized and all extremes rendered through BIGINT
    * → string so the report is cross-engine exact; at 100 TB the NDV
    * column is where approx_count_distinct swaps in (q149 documents that
    * error gate).
    *
    * Every aggregate buffer is kept NUMERIC on purpose: a min/max over
    * the raw string column would flip the whole aggregation (and the
    * 6×-expanded distinct rows with it) from HashAggregate to
    * SortAggregate — measured 0.17 s → ~6 s at sf0.1. The single-char
    * flag's extremes travel as ascii codes and render back with char()
    * (general string extremes would go in a separate expand-free pass). */
  def q175(s: SparkSession, d: String): DataFrame = {
    // Measured and REJECTED (r18): a round-robin repartition after the
    // read (guide §2.5's unsplittable-single-file move) to parallelize
    // the 6×-Expand partial aggregation — min-of-5 1.962 s before
    // vs 1.926 s after, inside noise: the exchange of the projected rows
    // costs what the parallel expand saves at this volume, and the final
    // distinct phase was already 32-way.
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"),
        round(col("l_quantity") * 1e6).cast("long").as("qty_q6"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
    val agg = li.agg(
      count(lit(1)).as("n"),
      countDistinct(col("l_orderkey")).as("ndv_okey"),
      min(col("l_orderkey")).as("min_okey"), max(col("l_orderkey")).as("max_okey"),
      countDistinct(col("l_linenumber")).as("ndv_line"),
      min(col("l_linenumber")).as("min_line"), max(col("l_linenumber")).as("max_line"),
      countDistinct(col("l_returnflag")).as("ndv_flag"),
      min(ascii(col("l_returnflag"))).as("min_flag"), max(ascii(col("l_returnflag"))).as("max_flag"),
      countDistinct(col("qty_q6")).as("ndv_qty"),
      min(col("qty_q6")).as("min_qty"), max(col("qty_q6")).as("max_qty"),
      countDistinct(col("ship_us")).as("ndv_ship"),
      min(col("ship_us")).as("min_ship"), max(col("ship_us")).as("max_ship"))
    agg.selectExpr(
      """stack(5,
        |  'l_orderkey',   ndv_okey, cast(min_okey as string), cast(max_okey as string),
        |  'l_linenumber', ndv_line, cast(min_line as string), cast(max_line as string),
        |  'l_returnflag', ndv_flag, char(min_flag), char(max_flag),
        |  'l_quantity_q6', ndv_qty, cast(min_qty as string), cast(max_qty as string),
        |  'l_shipdate_us', ndv_ship, cast(min_ship as string), cast(max_ship as string)
        |) as (column_name, ndv, min_s, max_s)""".stripMargin,
      "n")
      .select(col("column_name"), col("n"), col("ndv"), col("min_s"), col("max_s"))
      .orderBy(col("column_name"))
  }
  val q175Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |    l_returnflag,
      |    CAST(round(l_quantity * 1e6) AS BIGINT) AS qty_q6,
      |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS ship_us
      |  FROM lineitem),
      |a AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(DISTINCT l_orderkey) AS ndv_okey, MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey,
      |    COUNT(DISTINCT l_linenumber) AS ndv_line, MIN(l_linenumber) AS min_line, MAX(l_linenumber) AS max_line,
      |    COUNT(DISTINCT l_returnflag) AS ndv_flag, chr(MIN(ascii(l_returnflag))) AS min_flag, chr(MAX(ascii(l_returnflag))) AS max_flag,
      |    COUNT(DISTINCT qty_q6) AS ndv_qty, MIN(qty_q6) AS min_qty, MAX(qty_q6) AS max_qty,
      |    COUNT(DISTINCT ship_us) AS ndv_ship, MIN(ship_us) AS min_ship, MAX(ship_us) AS max_ship
      |  FROM li)
      |SELECT u.* FROM a, LATERAL (VALUES
      |  ('l_orderkey', n, ndv_okey, CAST(min_okey AS VARCHAR), CAST(max_okey AS VARCHAR)),
      |  ('l_linenumber', n, ndv_line, CAST(min_line AS VARCHAR), CAST(max_line AS VARCHAR)),
      |  ('l_returnflag', n, ndv_flag, min_flag, max_flag),
      |  ('l_quantity_q6', n, ndv_qty, CAST(min_qty AS VARCHAR), CAST(max_qty AS VARCHAR)),
      |  ('l_shipdate_us', n, ndv_ship, CAST(min_ship AS VARCHAR), CAST(max_ship AS VARCHAR))
      |) AS u(column_name, n, ndv, min_s, max_s)
      |ORDER BY column_name""".stripMargin

  // ---------------------------------------------------------------- q176
  /** SEQUENCE-MOTIF counting over user journeys (round 6) — the CEP-style
    * pattern query funnels cannot express (q119/q165 find FIRST
    * progressions; this counts EVERY occurrence): each user's events
    * collapse to an initials string in exact (ts, event_id) order (the
    * q97 sorted-struct determinism recipe), and the view→click→purchase
    * motif count falls out of fixed-substring arithmetic —
    * (len − len(replace(s, 'vcp', ''))) / 3 — whose non-overlapping
    * semantics are identical in every engine, where regex motif counting
    * would hang on engine-specific match rules. One user_id exchange.
    *
    * Hot-key bound (round-7): journey strings are per-user — fine while
    * the hottest user's event count fits comfortably on one task (the
    * collect_list buffer IS the journey). Past that — rule of thumb:
    * any single key beyond ~10M events / ~10 MB of journey, i.e. a
    * bot-grade key at 100 TB — swap to [[q176Streaming]], the q97-style
    * secondary-sort fold (Sessionize.motifCountFold) that holds O(1)
    * state per key and is proven bit-identical on a 1M-event hot key
    * (OpsSpec "motifCountFold matches the HOF journey path"). */
  def q176(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy(col("user_id"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(ts_us, event_id, ini))), x -> x.ini)"),
        "").as("journey"))
      .select(col("user_id"),
        length(col("journey")).cast("long").as("seq_len"),
        ((length(col("journey")) - length(expr("replace(journey, 'vcp', '')")))
          / 3).cast("long").as("n_vcp"))
      .filter(col("n_vcp") > 0)
      .orderBy(col("user_id"))
  /** The unbounded-key twin of [[q176]]: same rows, same order, computed by
    * the constant-memory secondary-sort fold instead of a per-key collected
    * journey (swap criteria in q176's scaladoc). */
  def q176Streaming(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id").as("key"), col("ts_us").as("tsUs"),
        col("event_id").as("seq"), substring(col("event_type"), 1, 1).as("token"))
      .as[graft.ops.Sessionize.KeyedToken]
    graft.ops.Sessionize.motifCountFold(ev, "vcp").toDF()
      .select(col("key").as("user_id"), col("seqLen").as("seq_len"),
        col("nMotif").as("n_vcp"))
      .filter(col("n_vcp") > 0)
      .orderBy(col("user_id"))
  }

  val q176Sql: String =
    """WITH j AS (
      |  SELECT user_id,
      |    string_agg(substring(event_type, 1, 1), ''
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS journey
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(length(journey) AS BIGINT) AS seq_len,
      |  CAST((length(journey) - length(replace(journey, 'vcp', ''))) / 3 AS BIGINT) AS n_vcp
      |FROM j WHERE length(journey) - length(replace(journey, 'vcp', '')) > 0
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q177
  /** DSv2 WRITE-face round trip (round 7) — q171's refresh → append →
    * read-back pattern executed THROUGH the connector instead of parquet
    * paths: truncate-write the first 100 generator rows into the
    * StoreSource table (mode=overwrite plans as SupportsTruncate), append
    * the next 50 (a second independent two-phase commit), then read the
    * table back through the connector's scan. Both writes and the read
    * negotiate with the same Table object — write commit protocol,
    * truncate capability, and read/pruning face all exercised in one
    * oracle row. Idempotent across runs: the leading truncate resets any
    * prior state. Oracle: DuckDB states the identical 150-row corpus from
    * range() + md5 (q141's recipe). */
  def q177(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_store_q177").toString
    val gen = s.read.format("graft.sources.GenSource")
      .option("rows", "150").option("slices", "4").load()
    gen.filter(col("id") < 100).write.format("graft.sources.StoreSource")
      .option("path", dir).mode("overwrite").save()
    gen.filter(col("id") >= 100).write.format("graft.sources.StoreSource")
      .option("path", dir).mode("append").save()
    s.read.format("graft.sources.StoreSource").option("path", dir).load()
      .orderBy(col("id"))
  }
  val q177Sql: String =
    """SELECT r.range AS id, md5(CAST(r.range AS VARCHAR)) AS h,
      |  r.range % 64 AS bucket
      |FROM range(0, 150) r ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q184
  /** Recursive CTE (Spark 4's `WITH RECURSIVE` → UnionLoop): document
    * revision lineage — every sampled doc walks its parent chain
    * (parent = doc_id div 2, a deterministic binary-tree lineage) up to the
    * root, emitting (root, ancestor, depth). DuckDB states the identical
    * WITH RECURSIVE, so the hash gate proves Spark's brand-new fixpoint
    * operator against an independent recursive engine. The manual
    * frontier-loop twin is q172's bounded BFS — this is the declarative
    * face of the same iterate-to-fixpoint capability, with the engine
    * (not driver code) owning the loop.
    *
    * Scale shape: each recursion step is a projection+filter over the
    * previous step's output only (no rescan of the base table, no join);
    * depth is log2(max doc_id) ≈ 20 at 100 TB doc counts — far under the
    * engine's recursion ceiling, with frontier size shrinking nothing but
    * never growing (|step k| ≤ |roots|). Integer `div` keeps both engines
    * character-exact. */
  def q184(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""WITH RECURSIVE anc AS (
         |  SELECT doc_id AS root, doc_id AS node, 0 AS depth
         |  FROM parquet.`$d/documents.parquet` WHERE doc_id % 97 = 0
         |  UNION ALL
         |  SELECT root, node div 2, depth + 1 FROM anc WHERE node > 0)
         |SELECT root, node, depth FROM anc ORDER BY root, depth""".stripMargin)
  val q184Sql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT doc_id AS root, doc_id AS node, 0 AS depth
      |  FROM documents WHERE doc_id % 97 = 0
      |  UNION ALL
      |  SELECT root, node // 2, depth + 1 FROM anc WHERE node > 0)
      |SELECT root, node, depth FROM anc ORDER BY root, depth""".stripMargin

  // ---------------------------------------------------------------- q185
  /** Chi-squared independence audit between two categorical columns
    * (lang × source) — the drift/association test a curation pipeline runs
    * to catch "this source only feeds one language" skew before it biases a
    * mixture. Per-cell contribution (obs − exp)²/exp over the FULL
    * contingency grid — absent (lang, source) cells still carry expected
    * mass, so the grid is completed by crossing the margins and left-joining
    * the observed counts (a 1 row in a real corpus would silently deflate
    * the statistic otherwise).
    *
    * Exactness: margins and N are integer; exp = CAST(rt·ct AS DOUBLE)/N and
    * the cell term are the same IEEE op sequence in both engines (squaring
    * by multiplication, never pow); each cell quantizes to DECIMAL(18,8)
    * before the per-lang sum — the repo's order-independent cross-engine
    * sum. No transcendentals anywhere.
    *
    * Scale shape: one groupBy over the corpus builds the observed cells;
    * everything after is margin-sized (|langs| × |sources|) and broadcast —
    * the statistic costs one aggregation regardless of corpus size. */
  def q185(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val obs = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rt  = obs.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val ct  = obs.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val tot = obs.agg(sum(col("o")).as("n"))
    val expCol = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
    rt.crossJoin(broadcast(ct)).crossJoin(broadcast(tot))
      .join(broadcast(obs), Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("exp", expCol)
      .withColumn("cell",
        ((col("o").cast("double") - col("exp")) * (col("o").cast("double") - col("exp"))
          / col("exp")).cast(DecimalType(18, 8)))
      .groupBy(col("lang"))
      .agg(sum(col("o")).as("n_docs"), sum(col("cell")).cast("double").as("chi2"))
      .orderBy(col("lang"))
  }
  val q185Sql: String =
    """WITH obs AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |rt AS (SELECT lang, SUM(o) AS rt FROM obs GROUP BY 1),
      |ct AS (SELECT source, SUM(o) AS ct FROM obs GROUP BY 1),
      |tot AS (SELECT SUM(o) AS n FROM obs),
      |grid AS (
      |  SELECT rt.lang, ct.source, coalesce(obs.o, 0) AS o,
      |    CAST(rt.rt * ct.ct AS DOUBLE) / CAST(tot.n AS DOUBLE) AS exp
      |  FROM rt CROSS JOIN ct CROSS JOIN tot
      |  LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source)
      |SELECT lang, CAST(SUM(o) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST((CAST(o AS DOUBLE) - exp) * (CAST(o AS DOUBLE) - exp) / exp
      |       AS DECIMAL(18,8))) AS DOUBLE) AS chi2
      |FROM grid GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q330
  /** AS-OF JOIN (round 13, [[graft.ops.AsOfJoin]]): the point-in-time
    * operator warehouse engines ship natively and Spark lacks — each
    * event joins the LATEST state version per user at-or-before its
    * timestamp. q211 hand-rolls this union-timeline trick inline for
    * the SCD2 feature-store lookup and gates it against a SQL window
    * restatement; this entry promotes the trick to a REUSABLE generic
    * operator (any left, any right, any payload set) and gates it
    * against DuckDB's NATIVE `ASOF LEFT JOIN` — a genuinely
    * independent implementation of the operator, not a restatement of
    * the same window algebra. State side: per-(user, day) click counts stamped at day
    * start (unique per key+ts, the operator's contract); probe side:
    * every event. Events on days before any click day for their user
    * stay NULL — the left-join face. The engine runs the union+window
    * formulation (ONE exchange on user_id, linear intermediates, no
    * BroadcastNestedLoop — the shape that survives 100 TB); the oracle
    * is DuckDB's NATIVE `ASOF LEFT JOIN`, so two independent
    * formulations of the operator must agree row-for-row. All gated
    * values are counts — integer-exact. */
  def q330(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val state = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"),
        expr("(ts_us div 86400000000) * 86400000000").as("ts_us2"))
      .agg(count(lit(1)).as("n_clicks_day"))
      .withColumnRenamed("ts_us2", "ts_us")
    graft.ops.AsOfJoin.asOfLeft(
      ev, state, key = "user_id", ts = "ts_us", payload = Seq("n_clicks_day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("n_clicks_day").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        sum(coalesce(col("n_clicks_day"), lit(0L))).as("clicks_sum"))
      .orderBy(col("user_id"))
  }
  val q330Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
      |  FROM events),
      |st AS (
      |  SELECT user_id,
      |         (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) * 86400000000 AS day_ts,
      |         COUNT(*) AS n_clicks_day
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |j AS (
      |  SELECT ev.user_id, st.n_clicks_day
      |  FROM ev ASOF LEFT JOIN st
      |    ON ev.user_id = st.user_id AND ev.ts_us >= st.day_ts)
      |SELECT user_id, COUNT(*) AS n_events,
      |       CAST(SUM(CASE WHEN n_clicks_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
      |       CAST(COALESCE(SUM(n_clicks_day), 0) AS BIGINT) AS clicks_sum
      |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q189
  /** Storage-partitioned join (SPJ) through the DSv2 connector: two
    * key-grouped GenSource tables (one split per `bucket` value, each split
    * tagged with its partition key, the scan reporting
    * KeyGroupedPartitioning) join on `bucket` with NO exchange on either
    * side — the storage layout satisfies the join's distribution, negotiated
    * through the connector API. This is the Iceberg-style co-located
    * fact-fact join at 100 TB: q114 buys it with Spark's bucketed-table
    * writes; here the SOURCE declares it, which is how lakehouse tables
    * advertise their layout. The post-join rollup on the same key also
    * rides the reported partitioning (no exchange), so the only exchange in
    * the whole plan is the presentation ORDER BY. PlanCheck demands
    * exactly that. Broadcast is disabled on a sibling session since a
    * broadcast join would (correctly, but uninformatively) win at this
    * fixture size — SPJ exists for two sides too big to broadcast.
    *
    * The oracle states the same join over DuckDB range() — the connector's
    * read path faces the hash gate like any parquet scan (q141 pattern). */
  def q189(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def gen(rows: Int) = s.read.format("graft.sources.GenSource")
      .option("rows", rows.toString).option("keyGrouped", "true").load()
    val a = gen(6400).select(col("id").as("a_id"), col("bucket"))
    val b = gen(640).select(col("id").as("b_id"), col("bucket"))
    a.join(b, Seq("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("a_id") + col("b_id")).as("sum_ids"))
      .orderBy(col("bucket"))
  }
  val q189Sql: String =
    """SELECT a.range % 64 AS bucket, COUNT(*) AS n_pairs,
      |  CAST(SUM(a.range + b.range) AS BIGINT) AS sum_ids
      |FROM range(0, 6400) a JOIN range(0, 640) b ON a.range % 64 = b.range % 64
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q189_spj_colocated_join" -> ((q189 _, Some(q189Sql))),
    "q330_asof_join" -> ((q330 _, Some(q330Sql))),
    "q185_chisq_independence" -> ((q185 _, Some(q185Sql))),
    "q184_recursive_lineage" -> ((q184 _, Some(q184Sql))),
    "q173_group_quantile_gate" -> ((q173 _, Some(q173Sql))),
    "q177_store_write_roundtrip" -> ((q177 _, Some(q177Sql))),
    "q175_analyze_stats"    -> ((q175 _, Some(q175Sql))),
    "q176_sequence_motifs"  -> ((q176 _, Some(q176Sql))),
    "q130_dataset_digest"   -> ((q130 _, Some(q130Sql))),
    "q135_sorted_neighborhood" -> ((q135 _, Some(q135Sql))),
    "q140_token_mass_sampling" -> ((q140 _, Some(q140Sql))),
    "q141_custom_source_v2" -> ((q141 _, Some(q141Sql))),
    "q142_vocab_oov"        -> ((q142 _, Some(q142Sql))),
    "q144_rank_distributions" -> ((q144 _, Some(q144Sql))),
    "q145_agg_pushdown_v2"  -> ((q145 _, Some(q145Sql))),
    "q146_stream_source_v2" -> ((q146 _, Some(q146Sql))),
    "q147_rolling_zscore"   -> ((q147 _, Some(q147Sql))),
    "q148_stream_static_join" -> ((q148 _, Some(q148Sql))),
    "q149_group_approx_distinct" -> ((q149 _, Some(q149Sql))),
    "q151_zorder_audit"     -> ((q151 _, Some(q151Sql))),
    "q152_term_drift"       -> ((q152 _, Some(q152Sql))),
    "q153_gate_agreement"   -> ((q153 _, Some(q153Sql))),
    "q154_last_touch_attribution" -> ((q154 _, Some(q154Sql))),
    "q155_weighted_median"  -> ((q155 _, Some(q155Sql))),
    "q156_conversion_latency" -> ((q156 _, Some(q156Sql))),
    "q157_linear_interpolation" -> ((q157 _, Some(q157Sql))),
    "q158_benford_audit"    -> ((q158 _, Some(q158Sql))),
    "q159_group_mode"       -> ((q159 _, Some(q159Sql))),
    "q160_skyline"          -> ((q160 _, Some(q160Sql))),
    "q161_streak_rle"       -> ((q161 _, Some(q161Sql))),
    "q162_growth_accounting" -> ((q162 _, Some(q162Sql))),
    "q163_cooccurrence_lift" -> ((q163 _, Some(q163Sql))),
    "q164_source_similarity" -> ((q164 _, Some(q164Sql))),
    "q165_constrained_funnel" -> ((q165 _, Some(q165Sql))),
    "q166_session_depth"    -> ((q166 _, Some(q166Sql))),
    "q167_ab_test"          -> ((q167 _, Some(q167Sql))),
    "q168_revenue_concentration" -> ((q168 _, Some(q168Sql))),
    "q169_rfm_segments"     -> ((q169 _, Some(q169Sql))),
    "q170_duplicate_transactions" -> ((q170 _, Some(q170Sql))),
    "q131_embedding_stats"  -> ((q131 _, Some(q131Sql))),
    "q132_interval_overlap" -> ((q132 _, Some(q132Sql))),
    "q134_bpe_merge_step"   -> ((q134 _, Some(q134Sql))),
    "q136_time_weighted_avg" -> ((q136 _, Some(q136Sql))),
    "q137_equidepth_hist"   -> ((q137 _, Some(q137Sql))),
    "q138_transition_matrix" -> ((q138 _, Some(q138Sql))))
}
