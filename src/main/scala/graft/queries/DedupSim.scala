package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{SessionMemo, Tables}

/** Near-duplicate detection and similarity search — the LLM-data-pipeline
  * extension surface (SURVEY §2.9 north star): MinHash+LSH, SimHash, n-gram
  * Jaccard, brute-force cosine top-k, and LSH-bucketed ANN.
  *
  * Engine-portability notes:
  *   - All hashing is md5 (identical across Spark/DuckDB); engine-native hash
  *     functions are never oracle-comparable.
  *   - 60-bit hash integers come from the first 15 md5 hex chars (fits i64):
  *     Spark `conv(hex,16,10)` ↔ DuckDB `('0x'||hex)::BIGINT`.
  *   - LSH hyperplane signs are deterministic ±1 constants derived from md5 in
  *     Scala at plan-build time and embedded as literals in BOTH plans.
  *   - Array folds use sequential `aggregate`/`list_reduce` (same IEEE order),
  *     so double results are bit-identical and rankings need no tolerance.
  */
object DedupSim {

  // ---------------------------------------------------------------- q24
  /** MinHash + LSH banding over 3-word shingles (shingle→minhash→band→
    * bucket-join). k=8 hash functions, 4 bands × r=2. Tokens capped at 30 per
    * doc so shingle volume stays bounded at scale (a silent cap would misread
    * as full coverage — it is the standard fixed-budget prefix signature).
    * At 100 TB this is the classic scalable near-dup join: the only shuffles
    * are the signature group-by and the band-key self-join, both on
    * well-distributed md5-derived keys. */
  /** LSH candidate pairs are consumed by BOTH q24 (reported directly) and
    * q45 (verified by exact Jaccard), so the minhash pipeline runs once per
    * (session, dir) through [[graft.core.SessionMemo]]. At small input the
    * pair set (a few dozen rows after banding) replays as a local relation:
    * a distributed persist there was a measured pessimization (round-2
    * bench: q24 1.86→4.15 s with the persist). Callers that rewrite the
    * files under `dir` mid-session must call [[invalidateSessionCaches]],
    * the standard cache-coherence contract. */
  private def lshCandidates(s: SparkSession, d: String): DataFrame =
    SessionMemo.replayed(s, d, "lsh_candidates")(candidatePairs(s, d))

  /** Evict every session-scoped memo for `dir` — Bench calls this between
    * repetitions so each timed rep pays the full computation instead of a
    * cache hit. */
  def invalidateSessionCaches(s: SparkSession, d: String): Unit = SessionMemo.evict(s, d)

  /** The distributed candidate-pair plan (no cache). `private[graft]` so
    * tools.PlanCheck audits THIS shape — the q24 entry itself may replay a
    * collected local relation at small SF, which made a plan assertion on
    * q24 vacuous (round-3 advice). */
  /** MinHash/LSH band table over a (keys..., shingle) stream — the
    * scheme's load-bearing constants live HERE only (round-16 review:
    * q24's doc grain and q357's chunk grain share one recipe): all 8
    * minhashes in ONE pass over the shingle rows, from ONE md5 call per
    * shingle via Kirsch–Mitzenmacher (h_k = (h1 + k·h2) mod p) where
    * h1/h2 are the two 60-bit halves of a single md5 (hex chars 1–15 and
    * 17–31) — independent bits of one 128-bit digest at half the hashing
    * cost; integer arithmetic exact in both engines, so the DuckDB
    * oracles mirror it literally. Bands via one posexplode (the signature
    * projection is computed once per join side, not per band branch).
    * Returns (keys…, band_idx, band_key); the min-agg is map-side partial
    * on the `keys` grouping. */
  private[graft] val MinhashP = 1000000007L
  private[graft] def minhashBands(shingles: DataFrame,
                                  keys: Seq[String]): DataFrame = {
    val p = MinhashP
    val kc = keys.map(col)
    val hashed = shingles
      .select(kc :+ md5(col("shingle")).as("hx"): _*)
      .select(kc ++ Seq(
        (expr("cast(conv(substring(hx, 1, 15), 16, 10) as bigint)") % p).as("g1"),
        (expr("cast(conv(substring(hx, 17, 15), 16, 10) as bigint)") % p).as("g2")): _*)
    val sigAggs = (0 until 8).map(k =>
      min((col("g1") + lit(k.toLong) * col("g2")) % p).as(s"h$k"))
    val sig = hashed.groupBy(kc: _*).agg(sigAggs.head, sigAggs.tail: _*)
    val bandArr = array((0 until 4).map(b =>
      concat(col(s"h${2 * b}").cast("string"), lit("_"),
             col(s"h${2 * b + 1}").cast("string"))): _*)
    sig.select(kc :+ posexplode(bandArr): _*)
      .toDF(keys ++ Seq("band_idx", "band_key"): _*)
  }

  private[graft] def candidatePairs(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
              slice(split(trim(lower(col("text"))), "\\s+"), 1, 30).as("t"))
      .filter(size(col("t")) >= 3)
    // Shape note (round-4 measured): a per-row HOF formulation (signature
    // via transform/array_min, no explode, no groupBy) was implemented and
    // benchmarked — it is ~50% SLOWER at every warmth level because HOF
    // lambdas evaluate interpreted while the explode pipeline keeps md5/conv
    // inside whole-stage codegen. The explode shape also scales: partial
    // min-aggregation collapses the 28-shingles-per-doc rows to one row per
    // doc BEFORE the exchange (map-side combine, PlanCheck-asserted), and
    // both self-join sides read the SAME sig exchange via ReuseExchange, so
    // the md5 pass runs once and the shuffle carries ~N rows, not 28N.
    val shingles = toks.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(t)-2), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2)))"))
      .as("shingle"))
    val bands = minhashBands(shingles, Seq("doc_id"))
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
              col("a.band_key") === col("b.band_key") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def q24(s: SparkSession, d: String): DataFrame =
    lshCandidates(s, d).orderBy(col("doc_a"), col("doc_b"))
  val q24Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, (string_split_regex(trim(lower(text)), '\s+'))[1:30] AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |hd AS (
      |  SELECT doc_id, md5(shingle) AS hx FROM sh),
      |hx AS (
      |  SELECT doc_id,
      |    ('0x' || substr(hx, 1, 15))::BIGINT % 1000000007 AS g1,
      |    ('0x' || substr(hx, 17, 15))::BIGINT % 1000000007 AS g2
      |  FROM hd),
      |sig AS (
      |  SELECT doc_id,
      |    min((g1 + 0*g2) % 1000000007) AS h0, min((g1 + 1*g2) % 1000000007) AS h1,
      |    min((g1 + 2*g2) % 1000000007) AS h2, min((g1 + 3*g2) % 1000000007) AS h3,
      |    min((g1 + 4*g2) % 1000000007) AS h4, min((g1 + 5*g2) % 1000000007) AS h5,
      |    min((g1 + 6*g2) % 1000000007) AS h6, min((g1 + 7*g2) % 1000000007) AS h7
      |  FROM hx GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band_idx, h0::VARCHAR || '_' || h1::VARCHAR AS band_key FROM sig UNION ALL
      |  SELECT doc_id, 1, h2::VARCHAR || '_' || h3::VARCHAR FROM sig UNION ALL
      |  SELECT doc_id, 2, h4::VARCHAR || '_' || h5::VARCHAR FROM sig UNION ALL
      |  SELECT doc_id, 3, h6::VARCHAR || '_' || h7::VARCHAR FROM sig)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a JOIN bands b
      |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q25
  /** SimHash: 60-bit signature per document via md5-derived token hashes and
    * per-bit majority vote. The vote is a single group-by with 60 conditional
    * sums — no bit-explosion join, so it scales as one pass over tokens. */
  /** Per-doc majority-vote table (doc_id, n_toks, v0..v59) — shared by the
    * q25 signature view and the q78 Hamming near-dup join. */
  private def simhashVotes(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"),
              explode(slice(split(trim(lower(col("text"))), "\\s+"), 1, 40)).as("tk"))
      .withColumn("h", expr("cast(conv(substring(md5(tk), 1, 15), 16, 10) as bigint)"))
    val voteAggs = count(lit(1)).as("n_toks") +:
      (0 until 60).map(j =>
        sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1).otherwise(-1)).as(s"v$j"))
    tok.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
  }

  private val simhashFromVotes: Column = (0 until 60)
    .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    .reduce(_ + _)

  /** Session-scoped memo of the signature table (doc_id, simhash, n_toks)
    * through [[graft.core.SessionMemo]] — q25 (signature view) and q78
    * (Hamming near-dup join) both consume it, so the 60-sum vote
    * aggregation over the token explosion runs ONCE per (session, dir)
    * instead of once per query (round-4 verdict #8: the vote pass was ~half
    * of the board's heaviest query when both run in-session). */
  private def simhashSignatures(s: SparkSession, d: String): DataFrame =
    SessionMemo.replayed(s, d, "simhash_signatures")(simhashVotes(s, d)
      .select(col("doc_id"), simhashFromVotes.as("simhash"), col("n_toks")))

  def q25(s: SparkSession, d: String): DataFrame =
    simhashSignatures(s, d)
      .select(col("doc_id"), col("simhash"), col("n_toks"))
      .withColumn("popcount", bit_count(col("simhash")).cast("long"))
      .orderBy(col("doc_id"))

  /** Shared SQL CTE prefix (tok/h/v) + the vote→signature expression,
    * mirrored from the builders above so q25Sql and q78Sql state the
    * identical signature computation. */
  private val simhashVoteCtes: String = {
    val voteCols = (0 until 60)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n    ")
    s"""tok AS (
       |  SELECT doc_id, unnest((string_split_regex(trim(lower(text)), '\\s+'))[1:40]) AS tk
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
       |v AS (
       |  SELECT doc_id, COUNT(*) AS n_toks,
       |    $voteCols
       |  FROM h GROUP BY doc_id)""".stripMargin
  }
  private val simhashSqlExpr: String = (0 until 60)
    .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
    .mkString(" + ")

  val q25Sql: String =
    s"""WITH $simhashVoteCtes
       |SELECT doc_id, $simhashSqlExpr AS simhash, n_toks,
       |  CAST(bit_count($simhashSqlExpr) AS BIGINT) AS popcount
       |FROM v ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q78
  /** SimHash near-duplicate JOIN (Manku et al., WWW'07 — the web-scale
    * simhash dedup construction): pairs within Hamming distance ≤ 3 of the
    * 60-bit signature. By pigeonhole, any such pair agrees EXACTLY on at
    * least one of 4 disjoint 15-bit bands, so candidates come from a
    * band-value equi-join (the only shuffle, on well-mixed 15-bit keys) and
    * the full 60-bit popcount(xor) check runs only on candidates — never
    * all pairs. This is the missing join half of q25 (signatures alone
    * don't dedup anything); at 100 TB it is the standard linear-candidate
    * near-dup pipeline next to MinHash-LSH (q24: set similarity) — simhash
    * catches small absolute edits that Jaccard shingles miss. */
  /** The banded Hamming join over a (doc_id, simhash) signature table. */
  private def hammingJoin(sig: DataFrame): DataFrame = {
    // explicit repartition on the join keys: both self-join aliases need
    // exactly this distribution, so neither adds its own shuffle, and under
    // static planning ReuseExchange materializes the signature subtree once
    // for both sides (the PlanCheck-audited shape; AQE stage reuse does not
    // currently fire for these self-join subtrees — at bench scale its
    // coalescing outweighs the recompute, and the q25/q78 signature memo
    // already bounds the recompute to one vote pass per session). At scale
    // this exchange IS the join shuffle, so it's free.
    val bands = sig.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          expr(s"shiftright(simhash, ${b * 15}) & 32767")): _*)))
      .toDF("doc_id", "simhash", "band_idx", "band_val")
      .repartition(col("band_idx"), col("band_val"))
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
              col("a.band_val") === col("b.band_val") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sim_a"),
              col("b.doc_id").as("doc_b"), col("b.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(expr("sim_a ^ sim_b")).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The DISTRIBUTED near-dup plan (no memo) — PlanCheck audits THIS shape
    * (the q78 entry may replay a collected local signature relation at
    * small SF, which would make a plan assertion on q78 itself vacuous —
    * the same audit split as [[candidatePairs]]). */
  private[graft] def simhashNearDupPairs(s: SparkSession, d: String): DataFrame =
    hammingJoin(simhashVotes(s, d).select(col("doc_id"), simhashFromVotes.as("simhash")))

  def q78(s: SparkSession, d: String): DataFrame =
    hammingJoin(simhashSignatures(s, d).select(col("doc_id"), col("simhash")))
  val q78Sql: String =
    s"""WITH $simhashVoteCtes,
       |sig AS (SELECT doc_id, $simhashSqlExpr AS simhash FROM v),
       |bands AS (
       |  SELECT doc_id, simhash, bx.band_idx,
       |    (simhash >> (15 * bx.band_idx)) & 32767 AS band_val
       |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS bx(band_idx)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
       |                  b.doc_id AS doc_b, b.simhash AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |       AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q26
  /** n-gram (word-set) Jaccard similarity on adjacent doc pairs: exact
    * set-overlap arithmetic on deduplicated token arrays. */
  def q26(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
              array_distinct(split(trim(lower(col("text"))), "\\s+")).as("ts"))
    val a = docs.alias("a")
    val b = docs.alias("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              size(array_intersect(col("a.ts"), col("b.ts"))).cast("long").as("n_inter"),
              size(array_union(col("a.ts"), col("b.ts"))).cast("long").as("n_union"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / greatest(lit(1), col("n_union")))
      .orderBy(col("doc_a"))
  }
  val q26Sql: String =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS ts
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(list_intersect(a.ts, b.ts)) AS n_inter,
      |  len(list_distinct(a.ts || b.ts)) AS n_union,
      |  CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |    / greatest(1, len(list_distinct(a.ts || b.ts))) AS jaccard
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Brute-force cosine top-k over the embedding column: the correctness
    * baseline for ANN. The (tiny) query-vector side is broadcast, so the scan
    * over candidates stays shuffle-free; top-k is a per-query window. Folds
    * are sequential in both engines → bit-identical doubles → stable ranking
    * (ties broken by vec_id). */
  def q27(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    // native codegen'd kernel (graft.functions.DotProductF32): bit-identical
    // to the HOF fold the DuckDB oracle mirrors, without the intermediate
    // zipped-array allocation
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineF32(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rnk"))
  }
  val q27Sql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
      |p AS (
      |  SELECT q_id, vec_id,
      |    list_reduce(list_transform(range(1, len(qe)+1),
      |      i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a,b) -> a+b) AS dot,
      |    list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b) AS nq,
      |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b) AS nc
      |  FROM embeddings CROSS JOIN q WHERE vec_id <> q_id),
      |r AS (
      |  SELECT q_id, vec_id, dot/(sqrt(nq)*sqrt(nc)) AS cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
      |  FROM p)
      |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q28
  /** The reference's per-row array metrics (O10 RMS pa.py:182, O11 clipping
    * pa.py:184-189) + quality-filter conjunction (O13 pa.py:212-237), mapped
    * onto the embedding arrays: pure higher-order functions, no UDF. */
  def q28(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("rms", sqrt(
        expr("aggregate(embedding, 0D, (a, x) -> a + cast(x as double) * cast(x as double))") /
        size(col("embedding"))))
      .withColumn("clip_pct",
        lit(100.0) * size(expr("filter(embedding, x -> abs(x) >= 0.25)")) /
        size(col("embedding")))
      .withColumn("pass_quality", col("rms") >= 0.1 && col("clip_pct") <= 3.2)
      .select(col("vec_id"), col("rms"), col("clip_pct"), col("pass_quality"))
      .orderBy(col("vec_id"))
  val q28Sql: String =
    """SELECT vec_id,
      |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b)
      |       / len(embedding)) AS rms,
      |  100.0 * len(list_filter(embedding, x -> abs(x) >= 0.25)) / len(embedding) AS clip_pct,
      |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b)
      |       / len(embedding)) >= 0.1
      |    AND 100.0 * len(list_filter(embedding, x -> abs(x) >= 0.25)) / len(embedding) <= 3.2 AS pass_quality
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q29
  /** LSH-bucketed ANN — the scale path for similarity search: 8 deterministic
    * random-hyperplane sign projections bucket every vector into one of 256
    * cells; queries join candidates only within their cell, then exact cosine
    * + top-3. At 100 TB the bucket join replaces the full cross product with
    * a key-equality shuffle. Sign constants are md5-derived in Scala and
    * embedded as literals in both engines' plans. */
  private val Dim = 64
  private val NPlanes = 8

  /** Deterministic ±1: parity of the first hex nibble of md5("plane:j:i"). */
  private[graft] def planeSigns: Array[Array[Int]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NPlanes, Dim) { (j, i) =>
      val h = mdt.digest(s"plane:$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1 else -1
    }
  }

  /** Shared LSH cell code: 8 sign-projections via the native dot_f32 kernel
    * (sign vectors as FLOAT literals; products/adds are the same IEEE ops as
    * the HOF fold the DuckDB oracles state, so cell codes agree exactly). */
  private def bucketColNative(signs: Array[Array[Int]], embCol: String): Column =
    (0 until NPlanes).map { j =>
      val arr = typedLit(signs(j).map(_.toFloat))
      val proj = graft.functions.GraftFunctions.dotF32(col(embCol), arr)
      when(proj > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  def q29(s: SparkSession, d: String): DataFrame = {
    val signs = planeSigns
    def bucketCol(embCol: String): Column = bucketColNative(signs, embCol)

    val emb = Tables.embeddings(s, d)
      .withColumn("bucket", bucketCol("embedding"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    emb.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineF32(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("vec_id"),
              col("bucket"), col("cosine"))
      .orderBy(col("q_id"), col("rnk"))
  }
  val q29Sql: String = {
    val signs = planeSigns
    def projSql(e: String, j: Int): String = {
      val arr = signs(j).mkString("[", ",", "]")
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($e[i] AS DOUBLE) * ($arr)[i]), (a,b) -> a+b)"
    }
    def bucketSql(e: String): String =
      (0 until NPlanes)
        .map(j => s"(CASE WHEN ${projSql(e, j)} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
    s"""WITH be AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM be WHERE vec_id < 5),
       |p AS (
       |  SELECT q.q_id, be.vec_id, be.bucket,
       |    list_reduce(list_transform(range(1, ${Dim + 1}),
       |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(be.embedding[i] AS DOUBLE)), (a,b) -> a+b) AS dot,
       |    list_reduce(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b) AS nq,
       |    list_reduce(list_transform(be.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b) AS nc
       |  FROM be JOIN q ON be.bucket = q.bucket AND be.vec_id <> q.q_id),
       |r AS (
       |  SELECT q_id, vec_id, bucket, dot/(sqrt(nq)*sqrt(nc)) AS cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |  FROM p)
       |SELECT q_id, rnk, vec_id, bucket, cosine FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  val defs: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q24_minhash_lsh_pairs" -> ((q24 _, Some(q24Sql))),
    "q25_simhash"           -> ((q25 _, Some(q25Sql))),
    "q78_simhash_neardup"   -> ((q78 _, Some(q78Sql))),
    "q26_jaccard_adjacent"  -> ((q26 _, Some(q26Sql))),
    "q27_cosine_topk"       -> ((q27 _, Some(q27Sql))),
    "q28_array_metrics"     -> ((q28 _, Some(q28Sql))),
    "q29_ann_lsh_buckets"   -> ((q29 _, Some(q29Sql))))

  // ---------------------------------------------------------------- q44
  /** Embedding-cosine near-duplicate PAIRS — the vector-side dedup variant:
    * all pairs sharing an LSH cell with cosine >= 0.35, no query-set
    * restriction. The bucket join caps candidate generation at
    * sum(bucket_size^2) instead of N^2 — the only shuffle is on the cell key.
    * (0.35 sits at the 99th percentile of in-cell cosines for the synthetic
    * unit-norm embeddings, which have no planted exact dups — the operator
    * shape, not the threshold, is the contract.) */
  def q44(s: SparkSession, d: String): DataFrame = {
    val signs = planeSigns
    def bucketCol(embCol: String): Column = bucketColNative(signs, embCol)
    val emb = Tables.embeddings(s, d).withColumn("bucket", bucketCol("embedding"))
    val a = emb.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineF32(col("ea"), col("eb")))
      .filter(col("cosine") >= 0.35)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }
  val q44Sql: String = {
    val signs = planeSigns
    def projSql(e: String, j: Int): String = {
      val arr = signs(j).mkString("[", ",", "]")
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($e[i] AS DOUBLE) * ($arr)[i]), (a,b) -> a+b)"
    }
    def bucketSql(e: String): String =
      (0 until NPlanes)
        .map(j => s"(CASE WHEN ${projSql(e, j)} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
    s"""WITH be AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_reduce(list_transform(range(1, ${Dim + 1}),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y) AS dot,
       |    list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (x,y) -> x+y) AS na,
       |    list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (x,y) -> x+y) AS nb
       |  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, dot/(sqrt(na)*sqrt(nb)) AS cosine
       |FROM p WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- q45
  /** Two-stage near-dup dedup: MinHash-LSH candidates (q24's bands) verified
    * by exact word-set Jaccard >= 0.5 — the standard recall-then-precision
    * pipeline; candidate count bounds the quadratic verification. */
  def q45(s: SparkSession, d: String): DataFrame = {
    val candidates = lshCandidates(s, d) // cached (doc_a, doc_b) pairs
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
              array_distinct(slice(split(trim(lower(col("text"))), "\\s+"), 1, 30)).as("ts"))
    val withA = candidates.join(toks.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("ts", "ts_a"), Seq("doc_a"))
    val withB = withA.join(toks.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("ts", "ts_b"), Seq("doc_b"))
    withB
      .withColumn("jaccard",
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("double") /
          greatest(lit(1), size(array_union(col("ts_a"), col("ts_b")))))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  val q45Sql: String = {
    val cand = q24Sql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH cand AS ($cand),
       |tk AS (
       |  SELECT doc_id,
       |    list_distinct((string_split_regex(trim(lower(text)), '\\s+'))[1:30]) AS ts
       |  FROM documents)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |    / greatest(1, len(list_distinct(a.ts || b.ts))) AS jaccard
       |FROM cand c JOIN tk a ON a.doc_id = c.doc_a JOIN tk b ON b.doc_id = c.doc_b
       |WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |    / greatest(1, len(list_distinct(a.ts || b.ts))) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q51
  /** Per-label embedding centroids via the custom typed Aggregator
    * (graft.functions.CentroidAggregator): integer-quantized element sums —
    * order-independent exact arithmetic, one shuffled buffer per label
    * instead of 64 exploded rows per vector. Output long form (label, pos,
    * mean of round(x*1e6)) for the oracle. */
  def q51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = graft.functions.CentroidAggregator.centroidQ6(Dim)
    Tables.embeddings(s, d)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"), posexplode(col("centroid")))
      .toDF("label", "pos", "mean_q6")
      .withColumn("pos", col("pos").cast("long"))
      .orderBy(col("label"), col("pos"))
  }
  val q51Sql: String =
    s"""WITH x AS (
       |  SELECT label, u.pos, round(embedding[u.pos + 1] * 1e6)::BIGINT AS q
       |  FROM embeddings CROSS JOIN unnest(range(0, $Dim)) AS u(pos))
       |SELECT label, pos, CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean_q6
       |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // ---------------------------------------------------------------- q59
  /** IVF-style ANN — the second scale path next to q29's LSH buckets: a
    * coarse codebook of 16 cells (seed vectors vec_id < 16 stand in for an
    * offline k-means codebook), every vector assigned to its nearest cell
    * (argmin ||v-c||², computed as ||c||² - 2·v·c since ||v||² is constant
    * per v), queries probe their 4 nearest cells (multi-probe recall), exact
    * cosine + top-3 within the probed cells. At 100 TB: the cell assignment
    * is one broadcast pass, the search joins each query to ~4/16ths of the
    * corpus by cell equality — the classic inverted-file tradeoff. All dot
    * products go through the codegen'd dot_f32 kernel, bit-identical to the
    * DuckDB list_reduce folds, so cell assignments and rankings agree
    * exactly. */
  private val IvfCells = 16
  private[graft] val IvfProbes = 4
  // q266 IVF-PQ layout: M subspaces of PqSub dims (M * PqSub = Dim),
  // PqCent centroids per subspace (4-bit codes)
  private val PqM = 8
  private val PqSub = 8
  private val PqCent = 16

  /** The frozen seed codebook: the first [[IvfCells]] vectors, collected
    * once at plan-build time. */
  private def seedCodebook(s: SparkSession, d: String): Array[(Long, Array[Float])] =
    seedCodebookN(s, d, IvfCells.toLong)

  /** The sequential IEEE double fold dot_f32 computes — the DRIVER-side
    * twin that resolves probe cells and the kernel's cell self-dots (one
    * definition: its bit-exact order is load-bearing for oracle parity;
    * the measured faces are in SCALECHECK_r15.md). */
  private[graft] def dotSeqD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** The probe-query vectors (vec_id < 5), collected once with the same
    * fail-fast null guard as the codebook reads. */
  private[graft] def probeVectors(s: SparkSession, d: String): Array[(Long, Array[Float])] =
    Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map { r =>
        val raw = r.getSeq[Any](1)
        require(raw != null && raw.forall(_ != null),
          s"probe query vector ${r.getLong(0)} contains null element(s)")
        (r.getLong(0), raw.map(_.asInstanceOf[Float]).toArray)
      }
      .sortBy(_._1)

  /** The `k` nearest cells of `v` under `code`, nearest first: the score
    * ||c||² - 2·v·c by [[dotSeqD]], ordered by (score, cell id) under
    * Spark's double ordering — the tie-break the oracles' window
    * ORDER BY (score, seed_id) and [[graft.functions.IvfKernel]] state. */
  private def nearestCells(v: Array[Float], code: Array[(Long, Array[Float])],
                           k: Int): Seq[Long] =
    code.toSeq.map { case (cid, ce) => (dotSeqD(ce, ce) - 2.0 * dotSeqD(v, ce), cid) }
      .sortWith { case ((sa, ca), (sb, cb)) =>
        val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(sa, sb)
        c < 0 || (c == 0 && ca < cb)
      }
      .take(k).map(_._2)

  /** Each query's [[IvfProbes]] nearest cells under a codebook, resolved
    * on the driver — the one probe resolver of every IVF search. */
  private[graft] def probePairsFor(qVecs: Array[(Long, Array[Float])],
      code: Array[(Long, Array[Float])]): Seq[(Long, Long)] =
    qVecs.toSeq.flatMap { case (q, qe) =>
      nearestCells(qe, code, IvfProbes).map(cid => (q, cid)) }

  /** The query side of an IVF search: `qs` (q_id, qe) is the probe-query
    * slice served back as a local relation, `probes` (q_id, qe, cell)
    * carries one row per probed cell, and `cells` lists the distinct
    * probed cells ascending (a partition filter for the inverted-file
    * reads). Ids are cast to `idType`, the corpus' vec_id type. */
  private final case class ProbeSide(qs: DataFrame, probes: DataFrame, cells: Seq[Long])

  private def probeSide(s: SparkSession, d: String, code: Array[(Long, Array[Float])],
                        idType: org.apache.spark.sql.types.DataType): ProbeSide = {
    import s.implicits._
    val qVecs = probeVectors(s, d)
    val pairs = probePairsFor(qVecs, code)
    val qs = qVecs.toSeq.toDF("q_id", "qe").withColumn("q_id", col("q_id").cast(idType))
    val probes = pairs.toDF("q_id", "cell")
      .select(col("q_id").cast(idType).as("q_id"), col("cell").cast(idType).as("cell"))
      .join(broadcast(qs), Seq("q_id"))
    ProbeSide(qs, probes, pairs.map(_._2).distinct.sorted)
  }

  /** Seed codebook at an arbitrary cell count (q345's √N layout). */
  private[graft] def seedCodebookN(s: SparkSession, d: String,
                                   cells: Long): Array[(Long, Array[Float])] =
    Tables.embeddings(s, d).filter(col("vec_id") < cells)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map { r =>
        // fail fast on null elements: getSeq[Float] would silently unbox a
        // null to 0.0f in the codebook, diverging from dot_f32's
        // null-propagating semantics (round-3 advice) — a bad fixture must
        // surface as an error, not a silent substitution
        val raw = r.getSeq[Any](1)
        require(raw != null && raw.forall(_ != null),
          s"IVF codebook seed vector ${r.getLong(0)} contains null element(s)")
        (r.getLong(0), raw.map(_.asInstanceOf[Float]).toArray)
      }
      .sortBy(_._1)

  /** TRAINED coarse codebook (round-7 verdict item 7): `rounds` full Lloyd
    * iterations over the corpus, each one E-step ([[ivfAssignKernel]], the
    * zero-shuffle cell assignment) + M-step (the 16-buffer sumsQ6 typed
    * aggregator — integer-exact per-dim q6 sums, never a 64N explode).
    * The new centroid re-QUANTIZES deterministically: q6-mean by
    * truncating integer division, then one correctly-rounded double→float
    * step — so both engines derive bit-identical codebooks from the same
    * parquet and every downstream score stays hash-gateable. Empty cells
    * keep their previous centroid (the standard Lloyd dead-cell rule).
    * Codebook size is metadata (16×Dim); collecting it per round is the
    * documented coarse-codebook training shape at any corpus size. */
  private[graft] def trainedCodebook(s: SparkSession, d: String,
                                     rounds: Int): Array[(Long, Array[Float])] =
    trainedCodebookFrom(s, d, seedCodebook(s, d), rounds)

  /** [[trainedCodebook]] from an arbitrary seed (q345 trains at √N cells). */
  private[graft] def trainedCodebookFrom(s: SparkSession, d: String,
      seed: Array[(Long, Array[Float])], rounds: Int): Array[(Long, Array[Float])] = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    var code = seed
    (0 until rounds).foreach { _ =>
      val assign = ivfAssignKernel(emb, code)
      val stats = assign.select(col("cell").cast("long"), col("embedding"))
        .as[(Long, Array[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.CentroidAggregator.sumsQ6(Dim).toColumn.name("st"))
        .collect()
        .toMap
      code = code.map { case (cid, prev) =>
        stats.get(cid) match {
          case Some(st) if st.n > 0L =>
            (cid, st.sums.map(q => ((q / st.n).toDouble / 1e6).toFloat))
          case _ => (cid, prev)
        }
      }
    }
    code
  }

  /** Every vector with its nearest cell of the 16-cell seed codebook. */
  private[graft] def ivfAssign(s: SparkSession, d: String): DataFrame =
    ivfAssignKernel(Tables.embeddings(s, d), seedCodebook(s, d))

  /** One broadcast per (session, codebook CONTENT), bounded (round 17,
    * closing the r16 advisory): q351/q358 assign the same codebook 2–4
    * times per query, and re-broadcasting an identical tens-of-MB payload
    * per call is a driver/executor retention leak at the 10⁵-cell scale
    * this form exists for. The r16 cache keyed on array INSTANCE identity
    * and never evicted within a session — every fresh-but-equal codebook
    * (the q351/q358 base codebook, then rebuilt per invocation) added a broadcast
    * that the map's strong reference kept alive forever. Now: the key is
    * an md5 CONTENT digest (O(cells·dim) driver-side — trivial next to
    * the broadcast itself, and it makes cross-invocation rebuilds of the
    * same codebook hit ONE broadcast), the map is an access-order LRU
    * capped at [[IvfKernelCacheCap]], and eviction calls
    * [[graft.functions.IvfKernel.release]] (executor copies dropped now,
    * driver value reclaimed by ContextCleaner once no plan references the
    * kernel — see release()'s scaladoc for why not `destroy`). Entries of
    * stopped contexts are swept on access (their broadcasts died with the
    * context). IvfKernelCacheSpec pins reuse, the bound, and
    * post-eviction correctness. */
  private val IvfKernelCacheCap = 8
  private val ivfKernelCache =
    new java.util.LinkedHashMap[
      (org.apache.spark.SparkContext, String), graft.functions.IvfKernel](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(org.apache.spark.SparkContext, String),
                                 graft.functions.IvfKernel]): Boolean = {
        val evict = size() > IvfKernelCacheCap
        if (evict && !e.getKey._1.isStopped) e.getValue.release()
        evict
      }
    }

  /** Cache introspection for the spec: live entries for this context. */
  private[graft] def ivfKernelCacheSize(
      sc: org.apache.spark.SparkContext): Int = ivfKernelCache.synchronized {
    var n = 0
    val it = ivfKernelCache.keySet().iterator()
    while (it.hasNext) { if (it.next()._1 eq sc) n += 1 }
    n
  }

  /** md5 over (dim, ids, flattened vectors) — the cache's content key. */
  private def codebookDigest(code: Array[(Long, Array[Float])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dim = if (code.isEmpty) 0 else code.head._2.length
    val bb = java.nio.ByteBuffer.allocate(8 + dim * 4)
    bb.putInt(code.length).putInt(dim)
    md.update(bb.array(), 0, 8)
    code.foreach { case (id, vec) =>
      bb.clear()
      bb.putLong(id)
      var j = 0
      while (j < vec.length) { bb.putFloat(vec(j)); j += 1 }
      md.update(bb.array(), 0, 8 + vec.length * 4)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The IVF E-step — every vector with its nearest codebook cell, at any
    * codebook size: flatten the codebook row-major, precompute each cell's
    * self-dot with [[dotSeqD]], broadcast once per executor, and project
    * the argmin through the codegen [[graft.functions.IvfNearestCell]]
    * expression. The plan is O(1) in the cell count, there is no shuffle,
    * and the scores are the oracles' algebra bit for bit: the sequential
    * IEEE double fold of dot_f32 and the (score, seed_id) tie-break of
    * their window ORDER BY (IvfKernelSpec checks it against a literal
    * struct-min reference, degenerate rows included). Output: vec_id,
    * embedding, cell (cast to the vec_id type). Measured alternatives: a
    * literal projection of all scores was never faster (0.31 s against
    * 0.19 s at 16 cells, 15×–38× slower at 32–141, SCALECHECK_r16 §1),
    * and a broadcast-join argmin was 3.2× slower than that at the 100×
    * tier (SCALECHECK_r15 §1). */
  private[graft] def ivfAssignKernel(emb: DataFrame,
      code: Array[(Long, Array[Float])]): DataFrame = {
    require(code.nonEmpty, "IVF kernel assignment needs a non-empty codebook")
    val dim = code.head._2.length
    require(code.forall(_._2.length == dim),
      "IVF codebook cells must share one dimensionality")
    // ids MUST ascend: IvfKernel's tie-break and firstId are
    // position-based while the oracles' (score, seed_id) order is
    // value-based — parity silently breaks on an unsorted codebook
    // (round-16 review; every builder sorts, this enforces it)
    require((1 until code.length).forall(i => code(i - 1)._1 < code(i)._1),
      "IVF kernel codebook ids must be strictly ascending")
    val sc = emb.sparkSession.sparkContext
    val key = (sc, codebookDigest(code))
    // build + broadcast OUTSIDE the lock (round-17 review: serializing a
    // tens-of-MB broadcast under the global cache lock would block every
    // unrelated cache hit); on a lost race the loser releases its copy
    val cached = ivfKernelCache.synchronized {
      ivfKernelCache.entrySet().removeIf(_.getKey._1.isStopped)
      ivfKernelCache.get(key)
    }
    val kernel = if (cached != null) cached else {
      val ids = code.map(_._1)
      val flat = new Array[Float](code.length * dim)
      val norms = new Array[Double](code.length)
      var c = 0
      while (c < code.length) {
        System.arraycopy(code(c)._2, 0, flat, c * dim, dim)
        norms(c) = dotSeqD(code(c)._2, code(c)._2)
        c += 1
      }
      val fresh = new graft.functions.IvfKernel(sc.broadcast(
        graft.functions.IvfCodebookData(ids, dim, flat, norms)))
      val winner = ivfKernelCache.synchronized {
        val again = ivfKernelCache.get(key)
        if (again != null) again
        else { ivfKernelCache.put(key, fresh); fresh }
      }
      if (winner ne fresh) fresh.release()
      winner
    }
    val cellCol = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.IvfNearestCell(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("embedding")),
        kernel))
    emb.select(col("vec_id"), col("embedding"),
      cellCol.cast(emb.schema("vec_id").dataType).as("cell"))
  }

  /** Exact-cosine top-3 per query over candidate pairs (q_id, qe, vec_id,
    * embedding): the codegen'd cosine_f32, ranked by (cosine DESC, vec_id)
    * — the ranking every IVF search and its exact ground truth share. */
  private def cosineTop3(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("cosine",
        graft.functions.GraftFunctions.cosineF32(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  /** The IVF search: each probe query's top-3 among the vectors of its
    * probed cells, itself excluded. `index` carries (vec_id, embedding,
    * cell); the broadcast probe list makes the candidate join an
    * equi-join on cell. */
  private def probedTop3(index: DataFrame, probes: DataFrame): DataFrame =
    cosineTop3(index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id")))

  /** The search of the inverted-file entries (q345, q351, q358, q371):
    * [[probedTop3]] over only the probed cells of a cell-partitioned
    * index, so the read carries a literal `cell IN (…)` partition filter.
    * Output (q_id, rnk, vec_id, cell, cosine), ids BIGINT. */
  private def prunedTop3(index: DataFrame, ps: ProbeSide): DataFrame =
    probedTop3(index.withColumn("cell", col("cell").cast("long"))
        .filter(col("cell").isin(ps.cells: _*)), ps.probes)
      .select(col("q_id").cast("long").as("q_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").cast("long").as("vec_id"), col("cell"), col("cosine"))

  /** Every row of `df` with its nearest cell as BIGINT — the rows the
    * cell-partitioned inverted files of q345/q351/q358/q371 store. */
  private def cellIndexRows(df: DataFrame, code: Array[(Long, Array[Float])]): DataFrame =
    ivfAssignKernel(df, code).withColumn("cell", col("cell").cast("long"))

  /** Parquet data files under `dir` (the compaction entries' file census). */
  private def countParquet(dir: String): Long = {
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try stream.filter(p => p.toString.endsWith(".parquet")).count()
    finally stream.close()
  }

  /** Brute-force top-3 of every query in `qs` (q_id, qe) over the corpus. */
  private def exactTop3(emb: DataFrame, qs: DataFrame): DataFrame =
    cosineTop3(emb.join(broadcast(qs), col("vec_id") =!= col("q_id")))

  /** recall@3 of an approximate top-3 (q_id, vec_id) against the exact
    * top-3 of each probe query (vec_id < 5): one row per query with its
    * hits and hits / 3.0 — the evaluator of q106, q187, q219 and q266. */
  private def recallAt3(emb: DataFrame, approx: DataFrame): DataFrame = {
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val exact = exactTop3(emb, qs).select(col("q_id"), col("vec_id"))
    val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_at_3", col("hits").cast("double") / 3.0)
      .orderBy(col("q_id"))
  }

  def q59(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val code = seedCodebook(s, d)
    val probes = probeSide(s, d, code, emb.schema("vec_id").dataType).probes
    probedTop3(ivfAssignKernel(emb, code), probes)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("vec_id"),
              col("cell"), col("cosine"))
      .orderBy(col("q_id"), col("rnk"))
  }
  val q59Sql: String = {
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""WITH seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS ce FROM embeddings WHERE vec_id < $IvfCells),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, s.seed_id,
       |    ${fold("s.ce", "s.ce")} - 2 * ${fold("e.embedding", "s.ce")} AS score
       |  FROM embeddings e CROSS JOIN seeds s),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, seed_id) AS rn
       |  FROM scored),
       |assign AS (
       |  SELECT vec_id, embedding, seed_id AS cell FROM ranked WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS qe, seed_id AS cell
       |  FROM ranked WHERE vec_id < 5 AND rn <= $IvfProbes),
       |pairs AS (
       |  SELECT p.q_id, a.vec_id, a.cell,
       |    ${fold("p.qe", "a.embedding")} AS dot,
       |    ${fold("p.qe", "p.qe")} AS nq,
       |    ${fold("a.embedding", "a.embedding")} AS nc
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id),
       |r AS (
       |  SELECT q_id, vec_id, cell, dot/(sqrt(nq)*sqrt(nc)) AS cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |  FROM pairs)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cell, cosine
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q79
  /** Dedup cluster assignment — the FINAL step of every near-dup pipeline:
    * verified pairs (q45's LSH→Jaccard edges) are grouped into connected
    * components and each document labeled with its cluster id (min doc_id
    * in the component, so `is_keeper` = first-writer-wins per cluster,
    * O24's policy applied to near-dups).
    *
    * Two size-guarded paths, both solving only the edge-touched subgraph
    * (isolated docs are fixed singletons): a bounded-collect driver
    * union-find for small edge sets (one Spark job — the iterative path's
    * sequential job-launch overhead dominates at small sizes), and the
    * large-star/small-star alternation of Kiveris et al. (MR'14) beyond
    * the cap — O(log n) guaranteed rounds regardless of component diameter
    * (round-4 verdict: the previous min-label propagation converged in
    * diameter rounds under a hard 15-round cap, which silently mislabeled
    * adversarial chains; ScaleSpec now drives a 40-node chain through this
    * path). The fixpoint is unique, so both paths produce the identical
    * deterministic result (ScaleSpec asserts it). Per-round lineage is cut
    * with an eager localCheckpoint, and a require() backstop makes any
    * non-convergence an error rather than an answer.
    *
    * Cluster sizes come from a groupBy on the (tiny) edge-label table
    * broadcast-joined back, NOT a window over all documents — the
    * round-4 plan shuffled the full corpus on cluster_id just to attach a
    * size column; isolated docs have size 1 by construction.
    *
    * Oracle: DuckDB recursive CTE computing the transitive closure with
    * UNION set-semantics (terminates on cycles), then min per source. */
  /** Connected-component labels for an undirected edge list `pairs`
    * (colnames irrelevant; two LONG endpoint columns). Returns one row per
    * edge-touched node: (edge_doc, label) with label = min node id of the
    * component. Size-guarded: an edge list that fits
    * [[graft.core.SessionMemo.boundedCollect]] is solved by a driver-side
    * union-find — one Spark job instead of O(log n)×4 sequential jobs whose
    * launch overhead dominates at small edge counts — else distributed
    * large-star/small-star. Exposed private[graft] so ScaleSpec can feed
    * adversarial synthetic graphs (e.g. a >15-diameter chain) straight
    * into either path. */
  private[graft] def componentLabels(s: SparkSession, pairs: DataFrame): DataFrame =
    SessionMemo.boundedCollect(pairs) match {
      case Some(head) =>
        // driver union-find with path compression; linking the larger root
        // under the smaller keeps every root the component's min doc_id
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        head.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        val nodes = head.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
        import s.implicits._
        nodes.map(n => (n, find(n))).toSeq.toDF("edge_doc", "label")
      case None => distributedComponentLabels(s, pairs)
    }

  /** Large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): each round is two
    * groupBy-min + join passes over the current edge list —
    *   large-star: every node u links its LARGER neighbors to
    *     m(u) = min(Γ(u) ∪ u), halving long paths;
    *   small-star: every node u links its smaller-or-equal neighbors and
    *     itself to m(u), flattening local stars.
    * The edge set converges to per-component stars rooted at the minimum
    * node in O(log n) rounds REGARDLESS of diameter (vs diameter rounds
    * for plain min-label propagation — the round-4 silent-truncation bug).
    * Convergence is detected by edge-set fixpoint (count equal + empty
    * except) and enforced with require(): truncation is an error, never an
    * answer. Every per-round output is deduplicated, so the edge list only
    * shrinks toward the star set; localCheckpoint cuts lineage. */
  private def distributedComponentLabels(s: SparkSession, pairs: DataFrame): DataFrame = {
    // (u, v) with u > v invariant after each small-star; input orientation
    // is irrelevant because large-star symmetrizes
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v"), col("u"))).toDF("u", "v")
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input edges all (bigger, smaller) from largeStar; m(u) = min over
      // u's smaller neighbors and u itself
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(m, "u").select(col("v").as("n"), col("m"))
        .union(m.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }
    var edges = pairs.toDF("u", "v")
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    // n <= 2 * edge count and rounds are O(log n): 50 rounds covers any
    // graph that fits in a cluster; require() below turns a (theoretically
    // impossible) overrun into an error instead of silent mislabeling
    while (!converged && iter < 50) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      edges = next
      iter += 1
    }
    require(converged,
      s"connected components did not converge after $iter large-star/small-star rounds")
    // fixpoint edges are per-component stars (v, root): every non-root
    // node carries exactly one edge to the component minimum
    val roots = edges.select(col("v").as("edge_doc"), col("v").as("label")).distinct()
    edges.select(col("u").as("edge_doc"), col("v").as("label"))
      .union(roots)
      .distinct()
  }

  /** The cluster pipeline over ANY (doc_a, doc_b) edge table — the
    * keeper/size/singleton policy lives HERE only (round-16 review: q79's
    * doc-grain MinHash edges and q361's chunk-grain edges must share one
    * definition). Only edge-touched nodes can ever change label — the
    * component solve runs on the edge subgraph only (dup clusters are a
    * small fraction of any corpus); isolated docs join back as singleton
    * clusters. Sizes come from the tiny edge-label table, broadcast back:
    * the corpus itself is never shuffled on cluster_id (round-4 verdict
    * fix); singletons get size 1 by construction. */
  private[graft] def clusterOverPairs(s: SparkSession, d: String,
                                      pairs: DataFrame): DataFrame = {
    val edgeLabels = componentLabels(s, pairs)
    val sizes = edgeLabels.groupBy(col("label")).agg(count(lit(1)).as("edge_sz"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(broadcast(edgeLabels), col("doc_id") === col("edge_doc"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .join(broadcast(sizes), col("cluster_id") === col("label"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("edge_sz"), lit(1L)).cast("long").as("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** The oracle twin of [[clusterOverPairs]]: the recursive transitive
    * closure + min-label + keeper SELECT over any candidate-pair SQL
    * (which must emit doc_a, doc_b and carry no trailing ORDER BY). */
  private[graft] def clusterSql(candSql: String): String =
    s"""WITH RECURSIVE pairs AS ($candSql),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst),
       |lab AS (
       |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
       |SELECT doc_id, cluster_id,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       |  doc_id = cluster_id AS is_keeper
       |FROM lab ORDER BY doc_id""".stripMargin

  def q79(s: SparkSession, d: String): DataFrame =
    clusterOverPairs(s, d, q45(s, d).select(col("doc_a"), col("doc_b")))
  val q79Sql: String =
    clusterSql(q45Sql.replace("ORDER BY doc_a, doc_b", ""))

  // ---------------------------------------------------------------- q133
  /** Cluster CANONICALIZATION — q79 picks its keeper by first-writer-wins
    * (minimum doc_id), the reference's INSERT-OR-IGNORE semantics
    * (pa.py:62,378). Real corpus dedup keeps the BEST member of each
    * near-dup cluster instead: here the longest document (n_chars, doc_id
    * ascending tie-break — a deterministic total order, which is what
    * makes the selection reproducible). Output: every document with its
    * cluster, the cluster's elected keeper, and whether this row is it —
    * the drop-list feed for the actual dedup delete pass.
    *
    * Scale shape: the election runs entirely on the edge-label table
    * (dup-cluster members only — tiny vs the corpus) joined to just
    * those documents' lengths; the corpus-sized pass is the same
    * broadcast join-back q79 uses. argmax via max(struct(quality, -id))
    * is one partial-aggregable pass, no window over data-sized input. */
  def q133(s: SparkSession, d: String): DataFrame = {
    val pairs = q45(s, d).select(col("doc_a"), col("doc_b"))
    val edgeLabels = componentLabels(s, pairs)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    // elect per-cluster keeper among edge-touched members: max n_chars,
    // then smallest doc_id (negate for the struct max)
    val keepers = edgeLabels
      .join(docs, col("edge_doc") === col("doc_id"))
      .groupBy(col("label"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("label"), (-col("best.nid")).as("keeper_id"))
    docs.select(col("doc_id"))
      .join(broadcast(edgeLabels), col("doc_id") === col("edge_doc"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .join(broadcast(keepers), col("cluster_id") === col("label"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("keeper_id"), col("doc_id")).as("keeper_id"))
      .withColumn("is_keeper", col("doc_id") === col("keeper_id"))
      .orderBy(col("doc_id"))
  }
  val q133Sql: String = {
    val cand = q45Sql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE pairs AS ($cand),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst),
       |lab AS (
       |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
       |k AS (
       |  SELECT cluster_id, doc_id AS keeper_id FROM (
       |    SELECT lab.cluster_id, lab.doc_id,
       |      row_number() OVER (PARTITION BY lab.cluster_id
       |                         ORDER BY d.n_chars DESC, lab.doc_id) AS rn
       |    FROM lab JOIN documents d USING (doc_id)) WHERE rn = 1)
       |SELECT lab.doc_id, lab.cluster_id, k.keeper_id,
       |  lab.doc_id = k.keeper_id AS is_keeper
       |FROM lab JOIN k USING (cluster_id)
       |ORDER BY lab.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q139
  /** PAGERANK over the verified near-dup graph — importance propagation,
    * the graph-analytics member the board lacked next to q79 (components)
    * and q121 (triangles): two damped iterations (d=0.85) over the q45
    * edge set, so hub documents of dup clusters rank above leaves —
    * chain/star/clique cluster shapes become separable by score where
    * plain component size cannot distinguish them. Fixed iteration count
    * keeps the oracle expressible (each round is one CTE); every
    * per-edge contribution quantizes to DECIMAL(20,12) BEFORE the
    * per-node sum, the repo's order-independent recipe, so both engines
    * agree bit-for-bit through two rounds of rational arithmetic.
    *
    * Scale shape per round: one equi-join of the edge list to the
    * current score vector (both keyed on the source node — a real
    * corpus' dup graph is edge-sized, small vs the corpus but too big to
    * broadcast at 100 TB), one groupBy on the destination; degrees are
    * computed once and reused. The damping base term is a projection. */
  def q139(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(20, 12)
    val pairs = q45(s, d).select(col("doc_a"), col("doc_b"))
    // the edge list feeds pr0, deg, and BOTH iterations' joins — without
    // materialization each consumer would re-run the q45 verification
    // join (AQE does not reuse multi-consumer subtrees, BASELINE.md);
    // edges are edge-sized, so the eager checkpoint is cheap
    val e = pairs.union(pairs.select(col("doc_b"), col("doc_a"))).toDF("u", "v")
      .localCheckpoint(true)
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val nCnt = deg.agg(count(lit(1)).as("n"))
    val pr0 = deg.select(col("u")).crossJoin(broadcast(nCnt))
      .select(col("u"), (lit(1.0) / col("n")).cast(dec).as("pr"))
    def step(pr: DataFrame): DataFrame = {
      val contrib = e.join(pr, "u").join(deg, "u")
        .select(col("v"),
          ((col("pr").cast("double") / col("deg")) * lit(0.85)).cast(dec).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("sc"))
      deg.select(col("u")).crossJoin(broadcast(nCnt))
        .join(contrib, col("u") === col("v"), "left")
        .select(col("u"),
          ((lit(0.15) / col("n")).cast(dec)
            + coalesce(col("sc"), lit(0).cast(dec))).cast(dec).as("pr"))
    }
    step(step(pr0))
      .select(col("u").as("doc_id"), col("pr").cast("double").as("pagerank"))
      .orderBy(col("doc_id"))
  }
  val q139Sql: String = {
    val cand = q45Sql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($cand),
       |e AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
       |n AS (SELECT COUNT(*) AS n FROM deg),
       |pr0 AS (
       |  SELECT deg.u, CAST(CAST(1.0 AS DOUBLE) / n.n AS DECIMAL(20,12)) AS pr
       |  FROM deg CROSS JOIN n),
       |c1 AS (
       |  SELECT e.v,
       |    SUM(CAST(CAST(p.pr AS DOUBLE) / deg.deg * CAST(0.85 AS DOUBLE)
       |        AS DECIMAL(20,12))) AS sc
       |  FROM e JOIN pr0 p ON p.u = e.u JOIN deg ON deg.u = e.u GROUP BY e.v),
       |pr1 AS (
       |  SELECT deg.u,
       |    CAST(CAST(CAST(0.15 AS DOUBLE) / n.n AS DECIMAL(20,12))
       |      + coalesce(c1.sc, 0) AS DECIMAL(20,12)) AS pr
       |  FROM deg CROSS JOIN n LEFT JOIN c1 ON c1.v = deg.u),
       |c2 AS (
       |  SELECT e.v,
       |    SUM(CAST(CAST(p.pr AS DOUBLE) / deg.deg * CAST(0.85 AS DOUBLE)
       |        AS DECIMAL(20,12))) AS sc
       |  FROM e JOIN pr1 p ON p.u = e.u JOIN deg ON deg.u = e.u GROUP BY e.v),
       |pr2 AS (
       |  SELECT deg.u,
       |    CAST(CAST(CAST(0.15 AS DOUBLE) / n.n AS DECIMAL(20,12))
       |      + coalesce(c2.sc, 0) AS DECIMAL(20,12)) AS pr
       |  FROM deg CROSS JOIN n LEFT JOIN c2 ON c2.v = deg.u)
       |SELECT u AS doc_id, CAST(pr AS DOUBLE) AS pagerank
       |FROM pr2 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q143
  /** N-gram NOVELTY scoring — the memorization-risk / information-density
    * signal corpus audits compute: what fraction of a document's distinct
    * 3-word shingles appear NOWHERE else in the corpus (document
    * frequency exactly 1)? Boilerplate-heavy docs score near 0, unique
    * content near 1 — the inverse lens of q95's intra-doc repetition,
    * measured against the whole corpus instead of within the document.
    *
    * Scale shape: the shingle table (one memoized pass, shared with
    * q24/q45/q128) is repartitioned ONCE on the shingle key; the df
    * rollup and the df==1 join-back both consume that same exchange
    * (ReuseExchange, the q78 layout), so novelty costs one term-keyed
    * shuffle plus the per-doc rollup. */
  def q143(s: SparkSession, d: String): DataFrame = {
    val shArr = shingleArrays(s, d)
    val byTerm = shArr.select(col("doc_id"), explode(col("ts")).as("term"))
      .repartition(col("term"))
    val dfTab = byTerm.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val uniq = byTerm
      .join(dfTab.filter(col("df") === 1).select(col("term")), Seq("term"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
    // n_shingles is the array size — the old per-doc COUNT aggregation
    // (one full shuffle of every shingle row) is a free projection now
    shArr.select(col("doc_id"), size(col("ts")).cast("long").as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_shingles").cast("double"))
      .orderBy(col("doc_id"))
  }
  val q143Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t)-1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ts
      |  FROM tk WHERE len(t) >= 3),
      |sh AS (SELECT doc_id, u.term FROM s, unnest(ts) AS u(term)),
      |df AS (SELECT term, COUNT(*) AS df FROM sh GROUP BY term),
      |uq AS (
      |  SELECT sh.doc_id, COUNT(*) AS n_unique
      |  FROM sh JOIN df ON df.term = sh.term AND df.df = 1
      |  GROUP BY sh.doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id)
      |SELECT tot.doc_id, tot.n_shingles,
      |  coalesce(uq.n_unique, 0) AS n_unique,
      |  CAST(coalesce(uq.n_unique, 0) AS DOUBLE)
      |    / CAST(tot.n_shingles AS DOUBLE) AS novelty
      |FROM tot LEFT JOIN uq ON uq.doc_id = tot.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Exact SUBSTRING-level dedup (round-4 verdict #1) — the workhorse
    * LLM-corpus operator the whole-document passes (q22/q09 exact, q24/q78
    * near) don't cover: find repeated runs of >= k contiguous tokens ACROSS
    * documents and report each maximal shared span. This is the bucketed
    * rolling-fingerprint formulation of exact-substring dedup (the
    * suffix-array-free variant of Lee et al.'s ExactSubstr, built from the
    * machinery already here: token windows + hashing):
    *
    *   1. every k=8-token window becomes (doc, pos, md5(window)) — LINEAR
    *      in corpus size, embarrassingly parallel;
    *   2. hot-fingerprint guard: windows whose fingerprint appears in more
    *      than 16 distinct docs are dropped BEFORE pairing — at 100 TB a
    *      boilerplate 8-gram ("click here to subscribe …") in 1M docs
    *      would otherwise join to 10^12 pairs; the guard caps per-fp join
    *      fan-out at 16^2 (a stated recall boundary, not a silent cap —
    *      ubiquitous spans are what corpus-level stopword filters handle);
    *   3. fingerprint equi-join (doc_a < doc_b) — the only data-sized
    *      shuffle, on well-mixed md5 keys, reusable across the guard
    *      aggregation and both join sides (same fp hash distribution);
    *   4. adjacent hits merge into MAXIMAL spans with the gaps-and-islands
    *      trick on the match diagonal (pos_a - pos_b): consecutive window
    *      hits at the same diagonal are one span of length hits + k - 1.
    *      The island window runs over HIT PAIRS only (tiny vs the corpus).
    *
    * Output: (doc_a, doc_b, a_start, b_start, len_tokens) per maximal
    * shared span, 1-based token positions. Generalizes the reference's
    * UNIQUE-key dedup (pa.py:62,378) below row granularity. */
  def q80(s: SparkSession, d: String): DataFrame =
    spansCached(s, d)
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))

  /** The span table is consumed by THREE board entries (q80 reports it,
    * q86 reduces it to coverage, q92 strips it from the corpus) — memoized
    * per (session, dir) through [[graft.core.SessionMemo]]; span
    * cardinality is hit-pair-sized (tiny vs the corpus), so small inputs
    * replay it as a local relation. */
  private def spansCached(s: SparkSession, d: String): DataFrame =
    SessionMemo.replayed(s, d, "substring_spans")(substringSpans(s, d))

  /** The unordered span table — the distributed plan (no cache).
    * `private[graft]` so tools.PlanCheck audits THIS shape directly: the
    * q80 entry replays the memoized relation at small SF, which would make
    * a plan assertion on the entry vacuous (the q24/q78 audit split). */
  private[graft] def substringSpans(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("t"))
      .filter(size(col("t")) >= 8)
    // ONE explicit exchange on fp: every consumer (guard agg, semi-join,
    // both self-join aliases) requires hashpartitioning(fp), so no consumer
    // adds its own shuffle — in particular the distinct-count guard loses
    // its (fp, doc_id)+(fp) double exchange (measured: 3.4 s -> 2.1 s at
    // sf0.1). Under STATIC planning ReuseExchange then materializes the
    // window pass once for all sides (PlanCheck's audited shape); under AQE
    // (the bench protocol) stage reuse does not currently fire for these
    // self-join subtrees, but runtime coalescing more than covers the
    // recompute at bench scale (measured both ways). At true 100 TB the
    // deployment answer for the multi-consumer window table is an explicit
    // persist/stage write, not a planner hint.
    val w = toks
      .select(col("doc_id"), col("t"),
              explode(expr("sequence(1, size(t) - 7)")).as("pos"))
      .select(col("doc_id"), col("pos"),
              md5(expr("array_join(slice(t, pos, 8), ' ')")).as("fp"))
      .repartition(col("fp"))
    // r18: an fp seen in ONE document can never produce a doc_a < doc_b
    // pair, so the guard drops dc = 1 too (output-identical, oracle-
    // verified) — `kept` shrinks from corpus-window-sized to hit-pair-
    // sized before the self-join explodes it. Measured (bench subset
    // protocol, min-of-2): q92 4.94 -> 3.3-3.6 s. Measured and REJECTED:
    // additionally localCheckpoint-ing `kept` (q92 4.83 s — the eager
    // barrier materializes the table wider than the AQE-planned join needs
    // and forfeits the runtime broadcast of the now-tiny sides).
    val keep = w.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("dc"))
      .filter(col("dc") <= 16 && col("dc") >= 2)
      .select(col("fp"))
    val kept = w.join(keep, Seq("fp"), "left_semi")
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"), col("pos").as("pos_b"))
    val hits = a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
    val wIsl = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    hits
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(wIsl))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).cast("long").as("a_start"),
           min(col("pos_b")).cast("long").as("b_start"),
           (count(lit(1)) + 7).cast("long").as("len_tokens"))
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
              col("len_tokens"))
  }
  val q80Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
      |w AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS fp
      |  FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
      |  WHERE len(t) >= 8),
      |keep AS (
      |  SELECT fp FROM w GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= 16),
      |h AS (
      |  SELECT a.doc_id AS doc_a, a.pos AS pos_a, b.doc_id AS doc_b, b.pos AS pos_b
      |  FROM w a JOIN w b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  WHERE a.fp IN (SELECT fp FROM keep)),
      |g AS (
      |  SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
      |    pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS isl
      |  FROM h)
      |SELECT doc_a, doc_b, CAST(MIN(pos_a) AS BIGINT) AS a_start,
      |  CAST(MIN(pos_b) AS BIGINT) AS b_start,
      |  CAST(COUNT(*) + 7 AS BIGINT) AS len_tokens
      |FROM g GROUP BY doc_a, doc_b, diag, isl
      |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Per-document duplicated-token coverage — the ACTIONABLE reduction of
    * q80's span table for corpus cleaning: how many of each document's
    * tokens sit inside at least one cross-document shared span (either
    * side of the pair), as a count and a fraction. A doc at fraction 1.0
    * is wholly duplicated somewhere; a training-data pipeline drops or
    * down-weights above a threshold. Spans overlap (the same region can be
    * shared with many partners), so per-doc intervals are UNION-merged
    * with the running-max gaps-and-islands pass — a window over the tiny
    * span table, never the corpus; isolated docs join back at coverage 0. */
  /** Disjoint UNION-merged duplicated-token intervals per document
    * ([st, en) in 1-based token positions) — the running-max
    * gaps-and-islands pass over q80's span table, shared by q86 (coverage
    * counts) and q92 (span stripping). A window over the tiny span table,
    * never the corpus. */
  private def mergedDupIntervals(s: SparkSession, d: String): DataFrame = {
    val spans = spansCached(s, d)
    val ivs = spans.select(col("doc_a").as("doc_id"), col("a_start").as("st"),
        (col("a_start") + col("len_tokens")).as("en"))
      .union(spans.select(col("doc_b"), col("b_start"),
        col("b_start") + col("len_tokens")))
      .distinct()
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("st"), col("en"))
    ivs
      .withColumn("prev_max",
        max(col("en")).over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_max").isNull || col("st") > col("prev_max"), 1).otherwise(0))
      .withColumn("island", sum(col("brk"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
      .select(col("doc_id"), col("st"), col("en"))
  }

  def q86(s: SparkSession, d: String): DataFrame = {
    val perDoc = mergedDupIntervals(s, d)
      .groupBy(col("doc_id"))
      .agg(sum(col("en") - col("st")).cast("long").as("dup"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_tokens"))
      .join(broadcast(perDoc), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_fraction",
        col("dup_tokens").cast("double") / greatest(lit(1L), col("n_tokens")))
      .orderBy(col("doc_id"))
  }
  val q86Sql: String = {
    val spans = q80Sql.replace("ORDER BY doc_a, doc_b, a_start, b_start", "")
    s"""WITH spans AS ($spans),
       |iv AS (
       |  SELECT DISTINCT doc_a AS doc_id, a_start AS st, a_start + len_tokens AS en FROM spans
       |  UNION SELECT DISTINCT doc_b, b_start, b_start + len_tokens FROM spans),
       |mrk AS (
       |  SELECT doc_id, st, en,
       |    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
       |  FROM iv),
       |isl AS (
       |  SELECT doc_id, st, en,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM mrk),
       |cov AS (SELECT doc_id, island, MAX(en) - MIN(st) AS cov FROM isl GROUP BY doc_id, island),
       |agg AS (SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(len(string_split_regex(trim(lower(d.text)), '\\s+')) AS BIGINT) AS n_tokens,
       |  coalesce(a.dup_tokens, 0) AS dup_tokens,
       |  CAST(coalesce(a.dup_tokens, 0) AS DOUBLE)
       |    / greatest(1, len(string_split_regex(trim(lower(d.text)), '\\s+'))) AS dup_fraction
       |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q92
  /** Duplicated-span STRIPPING — the write path of exact-substring dedup
    * (q80 finds shared spans, q86 measures coverage, this emits the cleaned
    * corpus): every token inside a cross-document shared span is removed
    * and the surviving tokens are re-joined. Output is (doc_id, n_tokens,
    * kept_tokens, clean_md5) — the checksum stands in for the cleaned text
    * so the oracle comparison stays narrow while still pinning every kept
    * token and its order.
    *
    * Scale shape: the merged interval table is span-sized (tiny vs the
    * corpus), grouped to one row per affected doc and BROADCAST back onto
    * the corpus scan; the strip itself is a per-row higher-order filter
    * over positions (codegen-free but per-row — no explode of the corpus
    * into token rows, no shuffle of document text). Docs with no spans
    * pass through whole via the null-interval branch. */
  def q92(s: SparkSession, d: String): DataFrame =
    strippedDocs(s, d).orderBy(col("doc_id"))

  /** The unordered strip table — q92's body, also consumed by the q96
    * end-to-end curation pipeline. */
  private[queries] def strippedDocs(s: SparkSession, d: String): DataFrame = {
    val ivs = mergedDupIntervals(s, d)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("st"), col("en")))).as("ivs"))
    Tables.documents(s, d)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("t"))
      .join(broadcast(ivs), Seq("doc_id"), "left")
      .withColumn("kept_pos",
        when(col("ivs").isNull, expr("sequence(1, size(t))"))
          .otherwise(expr(
            "filter(sequence(1, size(t)), p -> NOT exists(ivs, iv -> p >= iv.st AND p < iv.en))")))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("kept_pos")).cast("long").as("kept_tokens"),
        md5(expr("array_join(transform(kept_pos, p -> element_at(t, p)), ' ')"))
          .as("clean_md5"))
  }
  val q92Sql: String = {
    val spans = q80Sql.replace("ORDER BY doc_a, doc_b, a_start, b_start", "")
    s"""WITH spans AS ($spans),
       |iv AS (
       |  SELECT DISTINCT doc_a AS doc_id, a_start AS st, a_start + len_tokens AS en FROM spans
       |  UNION SELECT DISTINCT doc_b, b_start, b_start + len_tokens FROM spans),
       |mrk AS (
       |  SELECT doc_id, st, en,
       |    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
       |  FROM iv),
       |isl AS (
       |  SELECT doc_id, st, en,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM mrk),
       |mg AS (SELECT doc_id, MIN(st) AS st, MAX(en) AS en FROM isl GROUP BY doc_id, island),
       |toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
       |pos AS (SELECT doc_id, t, u.p FROM toks, unnest(range(1, len(t) + 1)) AS u(p)),
       |kept AS (
       |  SELECT p.doc_id, p.p, p.t[p.p] AS tok FROM pos p
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM mg m WHERE m.doc_id = p.doc_id AND p.p >= m.st AND p.p < m.en)),
       |ka AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
       |         string_agg(tok, ' ' ORDER BY p) AS ct
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       |  coalesce(ka.kept_tokens, 0) AS kept_tokens,
       |  md5(coalesce(ka.ct, '')) AS clean_md5
       |FROM toks t LEFT JOIN ka USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q102
  /** Text↔embedding consistency audit — cross-modal QA over the dedup
    * pipeline: every TEXTUALLY verified near-dup pair (q45's LSH→Jaccard
    * edges) is scored by the cosine of its members' embeddings; a pair
    * that is word-identical but embedding-divergent is flagged suspicious
    * (stale embedding, mislabeled row, or a hash collision worth a look).
    * The pair set is tiny against the corpus, so it BROADCASTS onto the
    * embedding table's two id-joins; the cosine runs in the codegen'd
    * dot_f32 kernel. This is the join the reference's single-modality
    * pipeline cannot express — text and vector evidence cross-checked in
    * one plan. */
  def q102(s: SparkSession, d: String): DataFrame = {
    val pairs = q45(s, d) // (doc_a, doc_b, jaccard) — cached candidate path
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea"))
      .join(broadcast(pairs), Seq("doc_a"))
      .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), Seq("doc_b"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineF32(col("ea"), col("eb")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("cosine"),
        (col("cosine") < 0.9).as("suspicious"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  val q102Sql: String = {
    val pairs = q45Sql.replace("ORDER BY doc_a, doc_b", "")
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""WITH pairs AS ($pairs),
       |x AS (
       |  SELECT p.doc_a, p.doc_b, p.jaccard,
       |    ${fold("ea.embedding", "eb.embedding")} AS dot,
       |    ${fold("ea.embedding", "ea.embedding")} AS na,
       |    ${fold("eb.embedding", "eb.embedding")} AS nb
       |  FROM pairs p
       |  JOIN embeddings ea ON ea.vec_id = p.doc_a
       |  JOIN embeddings eb ON eb.vec_id = p.doc_b)
       |SELECT doc_a, doc_b, jaccard, dot/(sqrt(na)*sqrt(nb)) AS cosine,
       |  dot/(sqrt(na)*sqrt(nb)) < 0.9 AS suspicious
       |FROM x ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q103
  /** Bucketed hard-negative mining — the contrastive-training data op:
    * for EVERY vector, the top-2 most-similar neighbors carrying a
    * DIFFERENT label, candidates restricted to the vector's LSH bucket
    * (q29's hyperplane cells) so the search is Σ bucket² work, never N².
    * High-cosine different-label neighbors are exactly the "hard
    * negatives" a contrastive objective needs; the bucket restriction is
    * the stated recall trade (multi-probe widens it, q59). The rank
    * filter is a WindowGroupLimit bounded heap per anchor. */
  def q103(s: SparkSession, d: String): DataFrame = {
    val signs = planeSigns
    val emb = Tables.embeddings(s, d)
      .withColumn("bucket", bucketColNative(signs, "embedding"))
    val a = emb.select(col("bucket"), col("vec_id"), col("label"), col("embedding").as("ea"))
    val c = emb.select(col("bucket"), col("vec_id").as("neg_id"),
      col("label").as("neg_label"), col("embedding").as("eb"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("neg_id"))
    a.join(c, Seq("bucket"))
      .filter(col("label") =!= col("neg_label"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineF32(col("ea"), col("eb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("vec_id"), col("rnk").cast("long").as("rnk"),
        col("neg_id"), col("neg_label").cast("long").as("neg_label"), col("cosine"))
      .orderBy(col("vec_id"), col("rnk"))
  }
  val q103Sql: String = {
    val signs = planeSigns
    def projSql(e: String, j: Int): String = {
      val arr = signs(j).mkString("[", ",", "]")
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($e[i] AS DOUBLE) * ($arr)[i]), (a,b) -> a+b)"
    }
    val bucketSql = (0 until NPlanes)
      .map(j => s"(CASE WHEN ${projSql("embedding", j)} > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""WITH be AS (
       |  SELECT vec_id, label, embedding, $bucketSql AS bucket FROM embeddings),
       |p AS (
       |  SELECT a.vec_id, c.vec_id AS neg_id, c.label AS neg_label,
       |    ${fold("a.embedding", "c.embedding")} AS dot,
       |    ${fold("a.embedding", "a.embedding")} AS na,
       |    ${fold("c.embedding", "c.embedding")} AS nb
       |  FROM be a JOIN be c ON a.bucket = c.bucket AND a.label <> c.label),
       |r AS (
       |  SELECT vec_id, neg_id, neg_label, dot/(sqrt(na)*sqrt(nb)) AS cosine,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, neg_id) AS rnk
       |  FROM p)
       |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, neg_id,
       |  CAST(neg_label AS BIGINT) AS neg_label, cosine
       |FROM r WHERE rnk <= 2 ORDER BY vec_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q150
  /** k-NN GRAPH construction through the custom physical operator — the
    * corpus asset semantic-dedup, clustering, and retrieval-eval all
    * start from: each vector's top-3 nearest neighbors (cosine, self
    * excluded) among its LSH-bucket candidates. Composition point: the
    * candidate generation is q29/q103's bucket equi-join, the scoring is
    * the codegen'd dot_f32 kernel, and the per-group truncation is
    * plans/TopKPerGroup — the bounded-heap native operator (q66) doing
    * the rank-filter work a row_number window would pay a per-group sort
    * for. The oracle states the same graph with a window, so the custom
    * operator's heap semantics (ordering, tie-break, k-cut) are
    * hash-checked against SQL semantics on real candidate data.
    *
    * Scale shape: Σ bucket² candidate pairs (never N²), one bucket
    * equi-join, map-side partial top-k in the operator before its group
    * exchange. */
  def q150(s: SparkSession, d: String): DataFrame = {
    val signs = planeSigns
    val emb = Tables.embeddings(s, d)
      .withColumn("bucket", bucketColNative(signs, "embedding"))
    val a = emb.select(col("bucket"), col("vec_id"), col("embedding").as("ea"))
    val c = emb.select(col("bucket"), col("vec_id").as("nbr_id"), col("embedding").as("eb"))
    val scored = a.join(c, Seq("bucket"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineF32(col("ea"), col("eb")))
      .select(col("vec_id"), col("nbr_id"), col("cosine"))
    graft.plans.TopK.topKPerGroup(
        scored,
        groupCols = Seq(col("vec_id")),
        orderCols = Seq(col("cosine").desc, col("nbr_id").asc),
        k = 3)
      .select(col("vec_id"), col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("cosine").desc, col("nbr_id"))
  }
  val q150Sql: String = {
    val signs = planeSigns
    def projSql(e: String, j: Int): String = {
      val arr = signs(j).mkString("[", ",", "]")
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($e[i] AS DOUBLE) * ($arr)[i]), (a,b) -> a+b)"
    }
    val bucketSql = (0 until NPlanes)
      .map(j => s"(CASE WHEN ${projSql("embedding", j)} > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""WITH be AS (
       |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |p AS (
       |  SELECT a.vec_id, c.vec_id AS nbr_id,
       |    ${fold("a.embedding", "c.embedding")} AS dot,
       |    ${fold("a.embedding", "a.embedding")} AS na,
       |    ${fold("c.embedding", "c.embedding")} AS nb
       |  FROM be a JOIN be c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
       |r AS (
       |  SELECT vec_id, nbr_id, dot/(sqrt(na)*sqrt(nb)) AS cosine,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, nbr_id) AS rnk
       |  FROM p)
       |SELECT vec_id, nbr_id, cosine
       |FROM r WHERE rnk <= 3 ORDER BY vec_id, cosine DESC, nbr_id""".stripMargin
  }

  // ---------------------------------------------------------------- q106
  /** ANN recall@k evaluation — the index-quality eval every ANN deployment
    * runs before trusting its index: for each of the 5 query vectors,
    * compare the IVF multi-probe top-3 (q59) against the brute-force exact
    * top-3 ground truth and report hits + recall@3. Both rankings share the
    * codegen'd dot_f32 cosine and the (cosine DESC, vec_id) tie-break, so
    * recall measures exactly what the index DROPS (unprobed cells), never
    * floating-point disagreement.
    *
    * Scale shape: ground truth is the q27-style 5-row broadcast scan (the
    * eval query set is always tiny — this is an audit, not a serving path);
    * the comparison join and rollup touch 15 rows. At 100 TB the exact side
    * is the only full scan, and it is one pass. */
  def q106(s: SparkSession, d: String): DataFrame =
    recallAt3(Tables.embeddings(s, d), q59(s, d).select(col("q_id"), col("vec_id")))
  val q106Sql: String = {
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    val ivf = q59Sql.replace("ORDER BY q_id, rnk", "")
    s"""WITH ivf AS (SELECT q_id, vec_id FROM ($ivf) t),
       |ep AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    ${fold("q.embedding", "e.embedding")} AS dot,
       |    ${fold("q.embedding", "q.embedding")} AS nq,
       |    ${fold("e.embedding", "e.embedding")} AS nc
       |  FROM embeddings e JOIN embeddings q
       |    ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |    FROM ep) WHERE rnk <= 3),
       |h AS (
       |  SELECT ex.q_id, COUNT(*) AS hits FROM ex
       |  JOIN ivf ON ex.q_id = ivf.q_id AND ex.vec_id = ivf.vec_id
       |  GROUP BY ex.q_id)
       |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
       |  CAST(coalesce(h.hits, 0) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN h USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  // ---------------------------------------------------------------- q107
  /** One k-means Lloyd iteration over the embedding corpus — the training
    * step that turns q59's stand-in codebook into a real one: E-step
    * assigns every vector to its nearest codebook cell (the broadcast-
    * kernel argmin, zero shuffle), M-step recomputes each cell's
    * centroid through the typed CentroidAggregator (integer-quantized
    * element sums — order-independent exact arithmetic, ONE buffer per
    * cell instead of 64 exploded rows per vector). Output long-form
    * (cell, pos, mean_q6); iterating this query is Lloyd's algorithm.
    *
    * Scale shape: the only exchange is 16 cell buffers; the 64N explode in
    * the oracle's formulation never happens on the Spark side. */
  def q107(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = graft.functions.CentroidAggregator.centroidQ6(Dim)
    ivfAssign(s, d)
      .select(col("cell").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("centroid"))
      .toDF("cell", "centroid")
      .select(col("cell"), posexplode(col("centroid")))
      .toDF("cell", "pos", "mean_q6")
      .withColumn("pos", col("pos").cast("long"))
      .orderBy(col("cell"), col("pos"))
  }
  val q107Sql: String = {
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""WITH seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS ce FROM embeddings WHERE vec_id < $IvfCells),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, s.seed_id,
       |    ${fold("s.ce", "s.ce")} - 2 * ${fold("e.embedding", "s.ce")} AS score
       |  FROM embeddings e CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, embedding, seed_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, seed_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |x AS (
       |  SELECT cell, u.pos, round(embedding[u.pos + 1] * 1e6)::BIGINT AS q
       |  FROM assign CROSS JOIN unnest(range(0, $Dim)) AS u(pos))
       |SELECT cell, pos, CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean_q6
       |FROM x GROUP BY cell, pos ORDER BY cell, pos""".stripMargin
  }

  // ---------------------------------------------------------------- q111
  /** Incremental ingest dedup — the operational "daily batch" shape of the
    * whole dedup stack: a NEW batch of documents (sources src16–src19
    * standing in for today's crawl) is admitted against the EXISTING
    * corpus. Each delta doc gets two verdicts in one plan: exact_dup
    * (md5 content fingerprint already present in the base corpus — O24's
    * INSERT-OR-IGNORE policy across batches) and near_dup (SimHash
    * Hamming ≤ 3 against any base doc, via the same Manku banded join as
    * q78 but BIPARTITE: delta bands only ever join base bands, so the
    * candidate space is |delta|×|base| band collisions, never
    * corpus²). action = drop_exact / drop_near / keep.
    *
    * Scale shape: base fingerprints arrive pre-computed at 100 TB (they're
    * the output of yesterday's run) — here both sides derive from one
    * documents scan; the signature table is the q25/q78 session memo, the
    * banded join repartitions ONCE on (band_idx, band_val) and both
    * bipartite sides reuse that exchange. The delta join-backs are
    * left joins against distinct (hence non-multiplying) flag sets. */
  def q111(s: SparkSession, d: String): DataFrame = {
    val deltaSrcs = Seq("src16", "src17", "src18", "src19")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
        col("source").isInCollection(deltaSrcs).as("is_delta"))
    val delta = docs.filter(col("is_delta"))
    val baseFp = docs.filter(!col("is_delta")).select(col("fp")).distinct()
      .withColumn("fp_hit", lit(true))
    val bands = simhashSignatures(s, d).select(col("doc_id"), col("simhash"))
      .join(docs.select(col("doc_id"), col("is_delta")), Seq("doc_id"))
      .select(col("doc_id"), col("simhash"), col("is_delta"),
        posexplode(array((0 until 4).map(b =>
          expr(s"shiftright(simhash, ${b * 15}) & 32767")): _*)))
      .toDF("doc_id", "simhash", "is_delta", "band_idx", "band_val")
      .repartition(col("band_idx"), col("band_val"))
    val dB = bands.filter(col("is_delta")).alias("a")
    val bB = bands.filter(!col("is_delta")).alias("b")
    val near = dB.join(bB, col("a.band_idx") === col("b.band_idx") &&
                           col("a.band_val") === col("b.band_val"))
      .filter(bit_count(expr("a.simhash ^ b.simhash")) <= 3)
      .select(col("a.doc_id").as("doc_id")).distinct()
      .withColumn("near_hit", lit(true))
    delta.join(baseFp, Seq("fp"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("fp_hit"), lit(false)).as("exact_dup"),
        coalesce(col("near_hit"), lit(false)).as("near_dup"))
      .withColumn("action",
        when(col("exact_dup"), "drop_exact")
          .when(col("near_dup"), "drop_near")
          .otherwise("keep"))
      .orderBy(col("doc_id"))
  }
  val q111Sql: String =
    s"""WITH $simhashVoteCtes,
       |sig AS (SELECT doc_id, $simhashSqlExpr AS simhash FROM v),
       |flags AS (
       |  SELECT doc_id, source, md5(text) AS fp,
       |    source IN ('src16','src17','src18','src19') AS is_delta
       |  FROM documents),
       |basefp AS (SELECT DISTINCT fp FROM flags WHERE NOT is_delta),
       |bands AS (
       |  SELECT f.is_delta, s.doc_id, s.simhash, bx.band_idx,
       |    (s.simhash >> (15 * bx.band_idx)) & 32767 AS band_val
       |  FROM sig s JOIN flags f USING (doc_id)
       |  CROSS JOIN (VALUES (0), (1), (2), (3)) AS bx(band_idx)),
       |near AS (
       |  SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |       AND a.is_delta AND NOT b.is_delta
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
       |SELECT f.doc_id, f.source,
       |  (bf.fp IS NOT NULL) AS exact_dup,
       |  (n.doc_id IS NOT NULL) AS near_dup,
       |  CASE WHEN bf.fp IS NOT NULL THEN 'drop_exact'
       |       WHEN n.doc_id IS NOT NULL THEN 'drop_near'
       |       ELSE 'keep' END AS action
       |FROM flags f
       |LEFT JOIN basefp bf ON f.fp = bf.fp
       |LEFT JOIN near n ON f.doc_id = n.doc_id
       |WHERE f.is_delta ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Edit-distance verification of SimHash near-dup candidates — the third
    * verifier in the candidate→verify family (q45 verifies MinHash-LSH by
    * Jaccard, q102 cross-checks by embedding cosine, this checks q78's
    * Hamming pairs by CHARACTER-level Levenshtein): verified = edit
    * distance ≤ 20% of the longer text, stated in integer arithmetic
    * (dist × 5 ≤ max length) so both engines agree exactly.
    *
    * Scale shape: Levenshtein is O(len²) per pair — affordable PRECISELY
    * because it runs on the banded join's candidates (a near-linear set),
    * never all pairs; the tiny pair table broadcasts onto the two
    * documents id-joins, so the corpus is scanned, not shuffled. */
  def q113(s: SparkSession, d: String): DataFrame = {
    val pairs = q78(s, d) // (doc_a, doc_b, hamming) — memoized signature path
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      .join(broadcast(pairs), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("text_a"), col("text_b")).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("edit_dist"),
        (col("edit_dist") * 5 <= greatest(length(col("text_a")), length(col("text_b"))))
          .as("verified"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  val q113Sql: String = {
    val pairs = q78Sql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairs)
       |SELECT p.doc_a, p.doc_b, p.hamming,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) * 5
       |    <= greatest(len(a.text), len(b.text)) AS verified
       |FROM pairs p
       |JOIN documents a ON a.doc_id = p.doc_a
       |JOIN documents b ON b.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q121
  /** Triangle enumeration over the verified near-dup graph — the graph
    * statistic that separates chain-shaped duplicate clusters (scraped
    * mirrors of mirrors) from clique-shaped ones (true content identity):
    * a triangle means all three pairwise similarity checks passed. The
    * standard distributed formulation: edges ordered (a < b — q45 emits
    * them ordered), so each triangle is found exactly once via two
    * equi-joins (wedge build on the shared vertex, then the closing-edge
    * check). At 100 TB the near-dup edge set is corpus-sized at worst, and
    * both joins shuffle on single vertex ids; no enumeration of open
    * wedges survives the closing semi-check. */
  def q121(s: SparkSession, d: String): DataFrame = {
    val e = q45(s, d).select(col("doc_a"), col("doc_b")) // ordered a < b
    val e1 = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val e2 = e.select(col("doc_a").as("b2"), col("doc_b").as("c"))
    val e3 = e.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
      .orderBy(col("a"), col("b"), col("c"))
  }
  val q121Sql: String = {
    val pairs = q45Sql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH e AS (SELECT doc_a, doc_b FROM ($pairs) t)
       |SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |FROM e e1
       |JOIN e e2 ON e2.doc_a = e1.doc_b
       |JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
       |ORDER BY a, b, c""".stripMargin
  }

  // ---------------------------------------------------------------- q172
  /** BOUNDED multi-hop BFS over the verified near-dup graph (round 6) —
    * the traversal family next to q79's components, q121's triangles and
    * q139's PageRank: per-source minimum hop counts within 3 hops from
    * the 5 smallest edge-touched nodes. The iterative frontier form is
    * the at-scale shape: each hop is ONE equi-join of the current
    * frontier against the edge table plus a visited anti-join — hop
    * count × shuffles, never a transitive closure, and per-hop dedup
    * keeps the frontier ≤ |V| however many walks exist (the recursive
    * oracle enumerates walks and MINs them — exactly what the
    * distributed plan refuses to materialize). */
  def q172(s: SparkSession, d: String): DataFrame =
    boundedBfs(s, q45(s, d).select(col("doc_a"), col("doc_b")),
      maxHops = 3, nSources = 5)

  /** Min-hop BFS within `maxHops` from the `nSources` smallest
    * edge-touched nodes of the undirected edge list `pairs` (two LONG
    * endpoint columns). Size-guarded like [[componentLabels]]: an edge list
    * that fits [[graft.core.SessionMemo.boundedCollect]] runs as a driver
    * adjacency walk, since the distributed frontier form costs hops ×
    * (join + distinct + anti-join + eager checkpoint) sequential jobs whose
    * launch overhead dominates at small edge counts (measured: q172 ~35
    * jobs, 1.6-2.0 s for a hit-pair-sized graph); else the iterative
    * frontier form (ONE equi-join per hop + visited anti-join — the
    * at-scale shape; the driver path is exactly its fixpoint on a
    * collected graph). */
  private[graft] def boundedBfs(s: SparkSession, pairs: DataFrame,
                                maxHops: Int, nSources: Int): DataFrame =
    SessionMemo.boundedCollect(pairs) match {
      case Some(head) =>
        import s.implicits._
        val adj = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        def add(a: Long, b: Long): Unit =
          adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        head.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1)); add(a, b); add(b, a)
        }
        val srcs = adj.keysIterator.toArray.sorted.take(nSources)
        val out = Vector.newBuilder[(Long, Long, Long)]
        srcs.foreach { src =>
          val dist = scala.collection.mutable.LongMap.empty[Long]
          dist(src) = 0L
          var frontier: Array[Long] = Array(src)
          var h = 1L
          while (h <= maxHops && frontier.nonEmpty) {
            val nxt = scala.collection.mutable.ArrayBuffer.empty[Long]
            frontier.foreach { n =>
              adj.getOrElse(n, scala.collection.mutable.ArrayBuffer.empty)
                .foreach { m => if (!dist.contains(m)) { dist(m) = h; nxt += m } }
            }
            frontier = nxt.toArray
            h += 1
          }
          dist.foreach { case (n, hh) => out += ((src, n, hh)) }
        }
        out.result().toDF("src", "doc_id", "hops")
          .orderBy(col("src"), col("doc_id"))
      case None =>
        val e = pairs.select(col("doc_a").as("es"), col("doc_b").as("et"))
          .unionAll(pairs.select(col("doc_b").as("es"), col("doc_a").as("et")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val srcs = e.select(col("es").as("n")).distinct()
            .orderBy(col("n")).limit(nSources)
            .select(col("n").as("src"))
          var levels = srcs.select(col("src"), col("src").as("doc_id"),
            lit(0L).as("hops"))
          var frontier = levels
          for (h <- 1 to maxHops) {
            val nxt = frontier.join(e, col("doc_id") === col("es"))
              .select(col("src"), col("et").as("doc_id")).distinct()
              .join(levels.select(col("src"), col("doc_id")), Seq("src", "doc_id"),
                "left_anti")
              .select(col("src"), col("doc_id"), lit(h.toLong).as("hops"))
              // cut the iterative lineage per hop — at depth k the unchecked
              // plan is exponential in k for the optimizer even when the data
              // is tiny
              .localCheckpoint(true)
            levels = levels.unionAll(nxt)
            frontier = nxt
          }
          levels.orderBy(col("src"), col("doc_id"))
        } finally { e.unpersist(); () }
    }
  val q172Sql: String = {
    val pairs = q45Sql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE pr AS ($pairs),
       |e AS (SELECT doc_a AS es, doc_b AS et FROM pr
       |      UNION ALL SELECT doc_b, doc_a FROM pr),
       |src AS (SELECT DISTINCT es AS n FROM e ORDER BY n LIMIT 5),
       |walk(src, doc_id, hops) AS (
       |  SELECT n, n, 0 FROM src
       |  UNION ALL
       |  SELECT w.src, e.et, w.hops + 1
       |  FROM walk w JOIN e ON e.es = w.doc_id WHERE w.hops < 3)
       |SELECT src, doc_id, CAST(MIN(hops) AS BIGINT) AS hops
       |FROM walk GROUP BY src, doc_id
       |ORDER BY src, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q174
  /** RECIPROCAL-RANK FUSION of two retrieval rankings (round 6; made
    * scale-safe round 7) — the step after q27/q59/q91 produce candidate
    * lists: per query vector, retrieve the top-60 corpus candidates by
    * cosine similarity AND by L2 distance (computed from the same three
    * dot products: |a−b|² = |a|² + |b|² − 2a·b, so one kernel scan feeds
    * both metrics), fuse with the standard RRF(k=60) score over the two
    * CANDIDATE LISTS, emit the top-5. Ranks are integers, so the fused
    * score 1/(60+r₁)+1/(60+r₂) is bit-exact cross-engine where raw score
    * fusion would not be.
    *
    * Scale contract (the standard RRF-over-retrieval-lists semantics):
    * each retrieval system contributes its TOP-[[q174RankCap]] list; a
    * document outside a list contributes 0 from that list, and a document
    * in neither list is not a candidate. This is what makes the plan
    * 100×-safe: the round-6 formulation ranked the ENTIRE corpus twice in
    * full-corpus window sorts over 3 q_id partitions (flagged weak in
    * VERDICT r6); here one scan explodes each scored row into two
    * (metric, sortKey) entries and a single native TopKPerGroup bounded
    * heap over (q_id, metric) truncates BOTH rankings map-side — the
    * exchange carries ≤ queries × metrics × 60 rows regardless of corpus
    * size, and every Window below runs on that bounded candidate set.
    * Within the kept top-60, row_number over the same total order equals
    * the global rank, so ranks are unchanged from the full formulation. */
  val q174RankCap = 60
  def q174(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    // one corpus scan, two retrieval entries per row: sortKey is ascending
    // for both metrics (-cosine is exact double negation, order-identical
    // to cosine DESC), so one heap ordering serves both lists. The fused
    // dot_norms_f32 kernel feeds both metrics from ONE array traversal.
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dn",
        graft.functions.GraftFunctions.dotNormsF32(col("qe"), col("embedding")))
      .withColumn("dot", col("dn.dot"))
      .withColumn("nq", col("dn.na")).withColumn("nc", col("dn.nb"))
      .withColumn("cosine", col("dot") / (sqrt(col("nq")) * sqrt(col("nc"))))
      .withColumn("d2", col("nq") + col("nc") - lit(2.0) * col("dot"))
      .select(col("q_id"), col("vec_id"), explode(array(
        struct(lit("cos").as("metric"), (-col("cosine")).as("sk")),
        struct(lit("l2").as("metric"), col("d2").as("sk")))).as("m"))
      .select(col("q_id"), col("vec_id"), col("m.metric").as("metric"),
        col("m.sk").as("sk"))
    val top = graft.plans.TopK.topKPerGroup(scored,
      Seq(col("q_id"), col("metric")), Seq(col("sk").asc, col("vec_id").asc),
      q174RankCap)
    // ranks within the kept candidates (≤ cap rows per (q_id, metric) —
    // this Window sorts candidate lists, not the corpus); then pivot the
    // two lists back to one row per candidate: no join needed
    val wList = Window.partitionBy(col("q_id"), col("metric"))
      .orderBy(col("sk"), col("vec_id"))
    val wFused = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("vec_id"))
    top.withColumn("r", row_number().over(wList))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(when(col("metric") === "cos", col("r"))).as("r_cos"),
        max(when(col("metric") === "l2", col("r"))).as("r_l2"))
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("r_cos")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("r_l2")), lit(0.0)))
      .withColumn("rank", row_number().over(wFused))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"),
        col("r_cos").cast("long").as("r_cos"), col("r_l2").cast("long").as("r_l2"),
        col("rrf"))
      .orderBy(col("q_id"), col("rank"))
  }
  val q174Sql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
      |p AS (
      |  SELECT q_id, vec_id,
      |    list_reduce(list_transform(range(1, len(qe)+1),
      |      i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a,b) -> a+b) AS dot,
      |    list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b) AS nq,
      |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b) AS nc
      |  FROM embeddings CROSS JOIN q WHERE vec_id <> q_id),
      |r AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS r_cos,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY nq + nc - 2*dot, vec_id) AS r_l2
      |  FROM p),
      |f AS (
      |  SELECT q_id, vec_id,
      |    CASE WHEN r_cos <= 60 THEN r_cos END AS r_cos,
      |    CASE WHEN r_l2 <= 60 THEN r_l2 END AS r_l2
      |  FROM r WHERE r_cos <= 60 OR r_l2 <= 60),
      |g AS (
      |  SELECT q_id, vec_id, r_cos, r_l2,
      |    COALESCE(1.0/(60.0 + r_cos), 0) + COALESCE(1.0/(60.0 + r_l2), 0) AS rrf
      |  FROM f),
      |h AS (
      |  SELECT q_id, vec_id, r_cos, r_l2, rrf,
      |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id) AS rank
      |  FROM g)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
      |  CAST(r_cos AS BIGINT) AS r_cos, CAST(r_l2 AS BIGINT) AS r_l2, rrf
      |FROM h WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q128
  /** EXACT set-similarity join with prefix filtering (Chaudhuri/Bayardo/
    * PPJoin family) — the exact counterpart of q24's probabilistic
    * MinHash-LSH, over the SAME 3-word shingle sets: every pair of
    * documents with shingle-set Jaccard ≥ 0.8 (q24's LSH operating
    * point), guaranteed no false negatives. Shingles are canonically
    * ordered rarest-first (global shingle df, broadcast like q112's
    * model tables); each doc indexes only its PREFIX (|A| − ⌈0.8·|A|⌉ +
    * 1 rarest shingles — any qualifying pair must share a prefix
    * shingle, by pigeonhole on the overlap bound), and candidates are
    * further pruned by the LENGTH filter (J ≥ t forces 5·min(|A|,|B|) ≥
    * 4·max — sizes ride along from the prefix window, so the cut costs
    * nothing). Shingles — not unigrams — are what make the filter bite:
    * this corpus's 31-word vocabulary has no rare words, but its shingle
    * space is sparse, exactly the q24 trade. Verification is exact set
    * arithmetic with the threshold stated in integers (5·|A∩B| ≥
    * 4·|A∪B| — no 0.8 float anywhere; 0.8 has no binary
    * representation). The oracle is the brute-force all-pairs statement
    * of the same filter — hash-equality IS the observed no-false-negative
    * guarantee. */
  /** The distinct shingle table q128/q143 are built from, as ONE ARRAY ROW
    * PER DOC, hash-partitioned on doc_id. Round-17 optimization (guide
    * §2.4 — remove shuffles outright): a doc's shingles derive from that
    * single row's text, so the global `(doc_id, term).distinct()` is
    * exactly per-row `array_distinct` — the old formulation paid a full
    * (doc_id, term) exchange for the distinct plus a second doc_id
    * exchange, and the verify-side set arrays paid a third
    * (`collect_list` re-aggregating what this row already holds). The
    * array form shuffles doc-count rows ONCE; exploded consumers
    * (`explode(ts)` is a narrow op) inherit the doc_id partitioning, so
    * the prefix windows still ride this single exchange, and the set
    * arrays are free projections. */
  private def shingleArrayPlan(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, size(t)-2), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2)))"))
        .as("ts"))
      .repartition(col("doc_id"))

  /** Session-scoped memo of the shingle-array table — AQE does not reuse
    * multi-consumer subtrees (BASELINE.md round-5 note), so without the
    * memo every one of q128's five consumers pays the shingle pass. Always
    * persisted through [[graft.core.SessionMemo.persisted]]: a local
    * relation would lose the doc_id repartition the consumers ride. */
  private def shingleArrays(s: SparkSession, d: String): DataFrame =
    SessionMemo.persisted(s, d, "shingle_arrays")(shingleArrayPlan(s, d))

  /** Exploded (doc_id, sz, term) view of a shingle-array table — sz rides
    * along from the array, replacing the old per-doc COUNT window. */
  private def shingleExploded(shArr: DataFrame): DataFrame =
    shArr.select(col("doc_id"), size(col("ts")).as("sz"),
      explode(col("ts")).as("term"))

  /** The DISTRIBUTED prefix-join plan (no memo) — PlanCheck audits THIS
    * shape (the q128 entry reads the persisted shingle relation, which
    * would make a plan assertion on the entry vacuous — the q24/q78
    * audit split). */
  private[graft] def prefixJaccardPairs(s: SparkSession, d: String): DataFrame =
    q128From(shingleArrayPlan(s, d))

  def q128(s: SparkSession, d: String): DataFrame =
    q128From(shingleArrays(s, d))

  /** Candidate pairs after prefix + length filtering, optionally with the
    * PPJoin+ POSITIONAL stage. J >= 4/5 needs overlap O >=
    * ceil(4(|A|+|B|)/9); at the pair's FIRST shared prefix token (global
    * df,term order) every other shared element ranks after it in BOTH docs
    * — any earlier-ordered shared element would rank inside both prefixes
    * (ranks follow the one global order) and so would BE an earlier match
    * — giving the sound bound O <= 1 + min(szA-i, szB-j). i and j are
    * per-token ranks, both monotone in the global order, so the first
    * match carries (min i, min j) and a plain min-agg replaces the old
    * distinct() at the same shuffle count. */
  private def q128Candidates(shArr: DataFrame, positional: Boolean): DataFrame = {
    val sh = shingleExploded(shArr)
    val dfT = sh.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // per doc: shingles rarest-first via a window over the doc_id
    // partitioning already in place (explode is narrow, so the array
    // table's exchange carries it); prefix length |A| - ceil(4|A|/5) + 1,
    // with ceil(4n/5) written as (4n + 4) div 5 to keep it integer-exact.
    // sz comes from the array size — the old per-doc COUNT window is gone.
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("term"))
    val pref = sh.join(broadcast(dfT), Seq("term"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("term"), col("sz"), col("rn"))
    val grouped = pref.select(col("doc_id").as("doc_a"), col("term").as("pt"),
        col("sz").as("sza"), col("rn").as("ia"))
      .join(pref.select(col("doc_id").as("doc_b"), col("term").as("pt"),
        col("sz").as("szb"), col("rn").as("jb")), Seq("pt"))
      .filter(col("doc_a") < col("doc_b"))
      // length filter: J >= 4/5 forces 5*min >= 4*max
      .filter(col("sza") * 5 >= col("szb") * 4 && col("szb") * 5 >= col("sza") * 4)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("sza")).as("sza"), first(col("szb")).as("szb"),
        min(col("ia")).as("ia"), min(col("jb")).as("jb"))
    val kept = if (positional)
      grouped.filter(lit(1) + least(col("sza") - col("ia"), col("szb") - col("jb"))
        >= expr("(4 * (sza + szb) + 8) div 9"))
    else grouped
    kept.select(col("doc_a"), col("doc_b"))
  }

  /** Instrumentation for the scale report: candidate-pair count after
    * prefix+length only vs after the positional stage too. */
  private[graft] def q128CandidateCounts(s: SparkSession, d: String): (Long, Long) = {
    val sh = shingleArrays(s, d)
    (q128Candidates(sh, positional = false).count(),
     q128Candidates(sh, positional = true).count())
  }

  private def q128From(shArr: DataFrame): DataFrame = {
    val cand = q128Candidates(shArr, positional = true)
    // set arrays for verification: FREE projections of the array table —
    // the old collect_list re-aggregation (a full extra shuffle of every
    // shingle) reconstructed exactly what each array row already holds
    // (element order inside the array is irrelevant to intersection SIZE)
    val a = shArr.select(col("doc_id").as("doc_a"), col("ts").as("ta"))
    val b = shArr.select(col("doc_id").as("doc_b"), col("ts").as("tb"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", size(col("ta")).cast("long") + size(col("tb")) - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 4)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  val q128Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t)-1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ts
      |  FROM tk WHERE len(t) >= 3),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
      |    CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
      |FROM p WHERE inter * 5 >= uni * 4
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q187
  /** Scalar-quantized (SQ8) ANN with symmetric INTEGER distance — the
    * fourth index family next to LSH buckets (q29), IVF multi-probe (q59)
    * and PQ/ADC (q91): every vector compresses 4× to one int8 code per
    * dimension on a fixed affine grid over [-1, 1) (the "trained" range
    * frozen as a literal, like q109's classifier weights), and candidates
    * rank by the centered-code dot product Σ (qcᵢ−128)(cᵢ−128) — ALL-
    * INTEGER arithmetic, the SIMD-friendly kernel real SQ8 deployments run,
    * and character-exact across engines by construction (the only FP ops
    * are the grid's x→floor((x+1)·128), identical IEEE in both). Evaluated
    * q106-style: SQ8 top-3 per query vs exact-cosine top-3 → hits +
    * recall@3, so the board row measures precisely what quantization loses.
    *
    * Scale shape: codes are 64 bytes/vector (4× less scan than f32); the
    * row_number top-k is auto-rewritten to the TopKPerGroup bounded heap
    * (WindowTopKRewrite), so no full-corpus per-query sort materializes. */
  def q187(s: SparkSession, d: String): DataFrame = {
    val codeExpr =
      "transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE) + 1.0d) * 128.0d) AS BIGINT))"
    val emb = Tables.embeddings(s, d)
    val enc = emb.select(col("vec_id"), expr(codeExpr).as("code"))
    val qsC = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("code").as("qc"))
    val wA = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val approx = enc.join(broadcast(qsC), col("vec_id") =!= col("q_id"))
      .withColumn("score",
        expr("aggregate(zip_with(qc, code, (a, b) -> (a - 128L) * (b - 128L)), 0L, (s, v) -> s + v)"))
      .withColumn("rnk", row_number().over(wA)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id"))
    recallAt3(emb, approx)
  }
  val q187Sql: String = {
    def fold(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""WITH enc AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 128.0) AS BIGINT)) AS code
       |  FROM embeddings),
       |ap AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    list_reduce(list_transform(range(1, ${Dim + 1}),
       |      i -> (q.code[i] - 128) * (e.code[i] - 128)), (a,b) -> a+b) AS score
       |  FROM enc e JOIN enc q ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |aq AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, vec_id) AS rnk FROM ap) WHERE rnk <= 3),
       |ep AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    ${fold("q.embedding", "e.embedding")} AS dot,
       |    ${fold("q.embedding", "q.embedding")} AS nq,
       |    ${fold("e.embedding", "e.embedding")} AS nc
       |  FROM embeddings e JOIN embeddings q
       |    ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |    FROM ep) WHERE rnk <= 3),
       |h AS (
       |  SELECT ex.q_id, COUNT(*) AS hits FROM ex
       |  JOIN aq ON ex.q_id = aq.q_id AND ex.vec_id = aq.vec_id
       |  GROUP BY ex.q_id)
       |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
       |  CAST(coalesce(h.hits, 0) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN h USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  // ---------------------------------------------------------------- q219
  /** Recall eval of the TRAINED IVF index (round-7 verdict item 7): the
    * q106 protocol — approx top-3 vs exact-cosine top-3 per query — but
    * the index behind it runs on a codebook refined by TWO full Lloyd
    * iterations ([[trainedCodebook]]) instead of the frozen seed vectors:
    * assignment cells AND the multi-probe list both use the trained
    * centroids, so the board row measures what training buys (or costs)
    * at the same probe budget. Hash-gated end to end: the oracle re-derives
    * the identical codebook in SQL (integer q6 sums, truncating division,
    * one double→REAL rounding), then replays assignment + probes + eval. */
  def q219(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val code = trainedCodebook(s, d, rounds = 2)
    val probes = probeSide(s, d, code, emb.schema("vec_id").dataType).probes
    val approx = probedTop3(ivfAssignKernel(emb, code), probes)
      .select(col("q_id"), col("vec_id"))
    recallAt3(emb, approx)
  }
  /** Full-64-dim double dot fold in DuckDB SQL — the cross-engine twin of
    * dot_f32's sequential IEEE adds (shared by q219/q266). */
  private def foldAllSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"

  /** One Lloyd iteration in SQL: assign to `cb`, then re-quantize means —
    * integer q6 sums, TRUNCATING division (DuckDB // truncates toward zero
    * exactly like the Scala Long division), one double->REAL rounding step
    * (shared by q219/q266 — re-derives [[trainedCodebook]] bit-identically). */
  private def lloydStepSql(cb: String, out: String): String = {
    val fold = foldAllSql _
    s"""a_$out AS (
         |  SELECT e.vec_id, e.embedding, cid AS cell FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN $cb c) r
         |  JOIN embeddings e ON e.vec_id = r.vec_id AND r.rn = 1),
         |x_$out AS (
         |  SELECT cell, u.pos, CAST(round(embedding[u.pos + 1] * 1e6) AS BIGINT) AS q
         |  FROM a_$out CROSS JOIN unnest(range(0, $Dim)) AS u(pos)),
         |m_$out AS (
         |  SELECT cell, pos, SUM(q) AS sq, COUNT(*) AS n FROM x_$out GROUP BY 1, 2),
         |$out AS (
         |  SELECT c.cid,
         |    COALESCE(t.ce2, c.ce) AS ce
         |  FROM $cb c LEFT JOIN (
         |    SELECT cell AS cid,
         |      list_transform(list(CAST(CAST(sq // n AS DOUBLE) / 1000000.0 AS REAL) ORDER BY pos),
         |        v -> v) AS ce2
         |    FROM m_$out GROUP BY cell) t USING (cid))""".stripMargin
  }

  /** The `WITH`-prefix deriving the 2-round trained codebook `cb2` plus
    * its corpus assignment `assign` — shared by q219 and q266. */
  private def trainedAssignSql: String = {
    val fold = foldAllSql _
    s"""cb0 AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $IvfCells),
       |${lloydStepSql("cb0", "cb1")},
       |${lloydStepSql("cb1", "cb2")},
       |assign AS (
       |  SELECT r.vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cb2 c) r WHERE r.rn = 1)""".stripMargin
  }

  val q219Sql: String = {
    val fold = foldAllSql _
    s"""WITH $trainedAssignSql,
       |probes AS (
       |  SELECT vec_id AS q_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cb2 c WHERE e.vec_id < 5) q
       |  WHERE rn <= $IvfProbes),
       |cand AS (
       |  SELECT p.q_id, a.vec_id FROM probes p
       |  JOIN assign a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.q_id),
       |ap AS (
       |  SELECT c.q_id, c.vec_id FROM (
       |    SELECT c.q_id, c.vec_id,
       |      row_number() OVER (PARTITION BY c.q_id
       |        ORDER BY ${fold("q.embedding", "e.embedding")} /
       |          (sqrt(${fold("q.embedding", "q.embedding")}) *
       |           sqrt(${fold("e.embedding", "e.embedding")})) DESC, c.vec_id) AS rnk
       |    FROM cand c
       |    JOIN embeddings q ON q.vec_id = c.q_id
       |    JOIN embeddings e ON e.vec_id = c.vec_id) c WHERE rnk <= 3),
       |ep AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    ${fold("q.embedding", "e.embedding")} AS dot,
       |    ${fold("q.embedding", "q.embedding")} AS nq,
       |    ${fold("e.embedding", "e.embedding")} AS nc
       |  FROM embeddings e JOIN embeddings q
       |    ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |    FROM ep) WHERE rnk <= 3),
       |h AS (
       |  SELECT ex.q_id, COUNT(*) AS hits FROM ex
       |  JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
       |  GROUP BY ex.q_id)
       |SELECT q.q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN h USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  // ---------------------------------------------------------------- q266
  /** IVF-PQ COMPOSITION (round-9 verdict item 5) — the index real ANN
    * serving runs: the q219 Lloyd-TRAINED coarse codebook routes vectors
    * to cells, each vector stores only PqM=8 codes (one per 8-dim
    * subspace, PqCent=16 centroids each) of its RESIDUAL
    * (vector − assigned centroid), and queries rank candidates inside
    * their probed cells by full asymmetric squared distance
    * Σ_m (‖qres_m‖² − 2·qres_m·pq_m + ‖pq_m‖²) — where qres is the
    * query's residual against EACH PROBED CELL's centroid, which is what
    * makes ADC comparable across cells. The ADC pass picks a
    * 20-candidate SHORTLIST per query and a REFINE stage re-ranks it by
    * exact cosine — the FAISS IndexRefineFlat architecture: compressed
    * codes bound how many FULL vectors are ever touched (20 per query,
    * the 64× memory story), exact math decides the final order.
    * Evaluated exactly like q106/q219: recall@3 against the brute-force
    * cosine ground truth at the SAME 4-probe budget, so the three board
    * rows (q106 seed-IVF, q219 trained-IVF, q266 IVF-PQ+refine) measure
    * what training, compression, and refinement each buy at fixed cost.
    * Measured context (round 9): the synthetic embeddings are near-random
    * (q0's best cosine 0.37 vs a 0.29 pack), so exact-in-cell q219 sits
    * at ~0.93 recall and the 32-bit-per-vector compressed path lands at
    * ~0.6–0.67 — an honest quantization cost on data with this little
    * neighbor separation, not a machinery defect (both engines agree
    * bit-for-bit on every code and rank).
    *
    * PQ sub-codebooks are the residuals of designated seed vectors
    * (vec_id 16–31 = PqCent, sliced per PqSub=8-dim subspace) —
    * deterministic and
    * cross-engine derivable, standing in for offline-trained
    * sub-quantizers exactly as q91's seeds stood in for its codebook.
    * All residual/LUT arithmetic is DOUBLE end-to-end (float elements
    * cast once), with sequential HOF folds matching the oracle's
    * list_reduce ordering, so codes, rankings, and recalls hash-gate.
    *
    * Scale shape: codebooks are driver-side metadata (PqCent + 4 vectors);
    * assignment, residual, and codes are one zero-shuffle projection over
    * the corpus; the candidate join is the q59 broadcast-probes equi-join;
    * ADC is M table lookups per candidate (the 64× memory story of q91,
    * now cell-local). At 100 TB the only corpus passes are the projection
    * and the exact-side eval scan. */
  def q266(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val code = trainedCodebook(s, d, rounds = 2)
    // driver-side double arithmetic mirror (same sequential fold order as
    // the SQL list_reduce and the column-side aggregate() fold)
    def dotDD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    // PQ sub-codebook: residuals of seeds 16..31 against their own trained
    // cell (assignment replicated driver-side with the identical argmin) —
    // K=16 centroids per subspace, the standard 4-bit PQ layout
    val pqSeeds: Array[(Long, Array[Double])] = emb
      .filter(col("vec_id") >= 16 && col("vec_id") < 32)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map { r =>
        val raw = r.getSeq[Any](1)
        require(raw != null && raw.forall(_ != null),
          s"PQ seed vector ${r.getLong(0)} contains null element(s)")
        (r.getLong(0), raw.map(_.asInstanceOf[Float]).toArray)
      }
      .sortBy(_._1)
      .map { case (sid, v) =>
        val ce = code.toMap.apply(nearestCells(v, code, 1).head)
        (sid, Array.tabulate(Dim)(i => v(i).toDouble - ce(i).toDouble))
      }
    require(pqSeeds.length == PqCent, s"expected $PqCent PQ seed residuals")
    val centMap = typedLit(code.map { case (cid, ce) => cid -> ce.toSeq }.toMap)
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def resOf(v: Column, cellL: Column): Column =
      zip_with(v, element_at(centMap, cellL),
        (x, y) => x.cast("double") - y.cast("double"))
    def sliceM(c: Column, m: Int): Column = slice(c, m * PqSub + 1, PqSub)
    // corpus side: assign → residual → per-subspace codes, one projection.
    // Checkpointed: the training stats below union PqM (=8) per-subspace
    // views of this table and `coded` reads it again — without the
    // barrier the argmin-over-cells + residual projection ran 9× (Spark
    // shares no subtrees across union branches; guide §1.2/§5).
    val assign = ivfAssignKernel(emb, code)
      .withColumn("res", resOf(col("embedding"), col("cell").cast("long")))
      .localCheckpoint()
    // per-subspace codebooks, indexed by m: start from seed-residual slices
    val pqSeed: Array[Array[(Long, Array[Double])]] =
      Array.tabulate(PqM)(m => pqSeeds.map { case (sid, resA) =>
        (sid, resA.slice(m * PqSub, (m + 1) * PqSub))
      })
    def codeColFor(book: Array[Array[(Long, Array[Double])]], m: Int): Column =
      array_min(array(book(m).map { case (sid, sub) =>
        struct(
          (lit(dotDD(sub, sub)) -
            lit(2.0) * dotD(sliceM(col("res"), m), typedLit(sub))).as("score"),
          lit(sid).as("code"))
      }: _*)).getField("code")
    // ONE Lloyd round per subspace over the residual corpus — the PQ
    // TRAINING step real product quantizers run: members of each seed
    // code contribute exact q6 integer sums through the typed aggregator
    // (PqCent buffers per subspace, never an explode); means re-quantize
    // deterministically, so both engines derive bit-identical
    // sub-codebooks. Dead codes keep their seed slice (Lloyd dead-cell).
    val stats: Map[(Int, Long), graft.functions.CentroidAggregator.SumsQ6] = {
      import s.implicits._
      (0 until PqM).map(m =>
        assign.select(lit(m).as("m"), codeColFor(pqSeed, m).as("code"),
          sliceM(col("res"), m).as("sub")))
        .reduce(_.unionByName(_))
        .as[(Int, Long, Array[Double])]
        .groupByKey(t => (t._1, t._2))
        .mapValues(_._3)
        .agg(graft.functions.CentroidAggregator.sumsQ6D(PqSub).toColumn.name("st"))
        .collect()
        .map { case ((m, c), st) => (m, c) -> st }
        .toMap
    }
    val pqTrained: Array[Array[(Long, Array[Double])]] =
      Array.tabulate(PqM)(m => pqSeed(m).map { case (sid, seedSub) =>
        (sid, stats.get((m, sid)) match {
          case Some(st) if st.n > 0L =>
            st.sums.map(q => (q / st.n).toDouble / 1e6)
          case _ => seedSub
        })
      })
    val coded = assign.select(
      (col("vec_id") +: col("cell") +:
        (0 until PqM).map(m => codeColFor(pqTrained, m).as(s"code$m"))): _*)
    // query side: 4-probe list, residual per PROBED cell
    val probes = probeSide(s, d, code, emb.schema("vec_id").dataType).probes
      .withColumn("q_res", resOf(col("qe"), col("cell").cast("long")))
    def termM(m: Int): Column =
      dotD(sliceM(col("q_res"), m), sliceM(col("q_res"), m)) +
        element_at(array(pqTrained(m).map { case (_, sub) =>
          lit(dotDD(sub, sub)) -
            lit(2.0) * dotD(sliceM(col("q_res"), m), typedLit(sub))
        }: _*), col(s"code$m").cast("int") - 15)
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val shortlist = coded.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", (0 until PqM).map(termM).reduce(_ + _))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= 20)
      .select(col("q_id"), col("qe"), col("vec_id"))
    // refine: exact cosine over ONLY the 20-candidate shortlist
    val approx = cosineTop3(emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), Seq("vec_id")))
      .select(col("q_id"), col("vec_id"))
    recallAt3(emb, approx)
  }
  val q266Sql: String = {
    val fold = foldAllSql _
    // PqSub-dim double-subspace fold at subspace m (res lists are DOUBLE)
    def fSlice(a: String, b: String, m: Int): String =
      s"list_reduce(list_transform(range(1, ${PqSub + 1}), i -> $a[${m * PqSub} + i] * $b[${m * PqSub} + i]), (x,y) -> x+y)"
    // plain PqSub-dim folds for the TRAINED sub-centroids (PqSub-element lists)
    def fsub(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${PqSub + 1}), i -> $a[i] * $b[i]), (x,y) -> x+y)"
    def fmix(res: String, sub: String, m: Int): String =
      s"list_reduce(list_transform(range(1, ${PqSub + 1}), i -> $res[${m * PqSub} + i] * $sub[i]), (x,y) -> x+y)"
    def adcTerm(m: Int): String =
      s"(${fSlice("qr.res", "qr.res", m)} + (${fsub(s"p$m.sub", s"p$m.sub")} - 2 * ${fmix("qr.res", s"p$m.sub", m)}))"
    val codeCols = (0 until PqM)
      .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(",\n    ")
    val pqJoins = (0 until PqM)
      .map(m => s"JOIN pq1 p$m ON p$m.m = $m AND p$m.sid = cw.c$m").mkString("\n  ")
    s"""WITH $trainedAssignSql,
       |resv AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) AS res
       |  FROM assign a
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN cb2 c ON c.cid = a.cell),
       |pqs AS (SELECT vec_id AS sid, res FROM resv WHERE vec_id >= 16 AND vec_id < 32),
       |csc0 AS (
       |  SELECT r.vec_id, u.m, p.sid,
       |    (CASE u.m ${(0 until PqM).map(m =>
                s"WHEN $m THEN ${fSlice("p.res", "p.res", m)} - 2 * ${fSlice("r.res", "p.res", m)}")
                .mkString(" ")} END) AS score
       |  FROM resv r CROSS JOIN unnest(range(0, $PqM)) AS u(m) CROSS JOIN pqs p),
       |codes0 AS (
       |  SELECT vec_id, m, sid AS code FROM (
       |    SELECT vec_id, m, sid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY score, sid) AS rn
       |    FROM csc0) WHERE rn = 1),
       |xm AS (
       |  SELECT k.m, k.code, u.pos,
       |    CAST(round(r.res[k.m * $PqSub + u.pos + 1] * 1e6) AS BIGINT) AS q
       |  FROM codes0 k JOIN resv r ON r.vec_id = k.vec_id
       |  CROSS JOIN unnest(range(0, $PqSub)) AS u(pos)),
       |mm AS (SELECT m, code, pos, SUM(q) AS sq, COUNT(*) AS n FROM xm GROUP BY 1, 2, 3),
       |pq1 AS (
       |  SELECT p.sid, u.m,
       |    COALESCE(t.sub,
       |      list_transform(range(1, ${PqSub + 1}), i -> p.res[u.m * $PqSub + i])) AS sub
       |  FROM pqs p CROSS JOIN unnest(range(0, $PqM)) AS u(m)
       |  LEFT JOIN (
       |    SELECT m, code, list(CAST(sq // n AS DOUBLE) / 1000000.0 ORDER BY pos) AS sub
       |    FROM mm GROUP BY m, code) t ON t.m = u.m AND t.code = p.sid),
       |csc1 AS (
       |  SELECT r.vec_id, q.m, q.sid,
       |    ${fsub("q.sub", "q.sub")} - 2 *
       |      (CASE q.m ${(0 until PqM).map(m =>
                s"WHEN $m THEN ${fmix("r.res", "q.sub", m)}").mkString(" ")} END) AS score
       |  FROM resv r CROSS JOIN pq1 q),
       |codes1 AS (
       |  SELECT vec_id, m, sid AS code FROM (
       |    SELECT vec_id, m, sid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY score, sid) AS rn
       |    FROM csc1) WHERE rn = 1),
       |cw AS (
       |  SELECT vec_id,
       |    $codeCols
       |  FROM codes1 GROUP BY vec_id),
       |probes AS (
       |  SELECT vec_id AS q_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cb2 c WHERE e.vec_id < 5) q
       |  WHERE rn <= $IvfProbes),
       |qres AS (
       |  SELECT p.q_id, p.cell,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> CAST(q.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) AS res
       |  FROM probes p
       |  JOIN embeddings q ON q.vec_id = p.q_id
       |  JOIN cb2 c ON c.cid = p.cell),
       |adc AS (
       |  SELECT qr.q_id, a.vec_id,
       |    ${(0 until PqM).map(adcTerm).mkString(" + ")} AS score
       |  FROM assign a
       |  JOIN qres qr ON qr.cell = a.cell AND a.vec_id <> qr.q_id
       |  JOIN cw ON cw.vec_id = a.vec_id
       |  $pqJoins),
       |sl AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY score, vec_id) AS rnk
       |    FROM adc) WHERE rnk <= 20),
       |ap AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id
       |        ORDER BY ${fold("q.embedding", "e.embedding")} /
       |          (sqrt(${fold("q.embedding", "q.embedding")}) *
       |           sqrt(${fold("e.embedding", "e.embedding")})) DESC, s.vec_id) AS rnk
       |    FROM sl s
       |    JOIN embeddings q ON q.vec_id = s.q_id
       |    JOIN embeddings e ON e.vec_id = s.vec_id) r WHERE rnk <= 3),
       |ep AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    ${fold("q.embedding", "e.embedding")} AS dot,
       |    ${fold("q.embedding", "q.embedding")} AS nq,
       |    ${fold("e.embedding", "e.embedding")} AS nc
       |  FROM embeddings e JOIN embeddings q
       |    ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |    FROM ep) WHERE rnk <= 3),
       |h AS (
       |  SELECT ex.q_id, COUNT(*) AS hits FROM ex
       |  JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
       |  GROUP BY ex.q_id)
       |SELECT q.q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN h USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  /** Content signature of the embeddings table under `dir`: (name, length,
    * mtime) of every file — the stamp of the IVF index memos (q345's index,
    * the q351/q358/q371 base), so a REGENERATED corpus in a long-lived
    * session rebuilds the index instead of silently serving stale vectors
    * (round-16 review). Driver-side fs metadata only; local paths, like
    * every Tables read in this harness. */
  private def embeddingsSig(d: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val root = new java.io.File(s"$d/embeddings.parquet")
    walk(root).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
  }

  // ---------------------------------------------------------------- q345
  /** √N-CELL PARTITIONED IVF INDEX (round 15; closes the r14 verdict's
    * q59 scale-weak finding): q59/q219 keep a FIXED 16-cell inverted
    * file, so the per-query candidate scan grows linearly with the
    * corpus — measured 46.4× at 100× data in SCALECHECK_r14. The
    * production layout keeps cells ∝ √N (SCALECHECK_r14 measured search
    * 1.47× at 100× at recall@3 = 1.0); this entry puts that shape
    * behind the oracle gate:
    *
    *  - CODEBOOK: cells = max(16, round(√N)) seed vectors refined by ONE
    *    deterministic Lloyd round (q219's integer-q6 recipe: order-free
    *    integer sums, truncating division, one double→float rounding),
    *    so DuckDB re-derives it bit-identically;
    *  - INDEX BUILD (one-time, O(N·√N), amortized like any ANN build):
    *    every vector assigned to its nearest cell by the zero-shuffle
    *    broadcast-kernel E-step and WRITTEN to parquet PARTITIONED BY cell —
    *    the inverted file as a lakehouse layout;
    *  - SEARCH (the per-query serving cost): each probe query resolves
    *    its [[IvfProbes]] nearest cells DRIVER-side from the
    *    codebook (index metadata, the same sequential IEEE double fold
    *    as dot_f32), so the read-back carries a LITERAL `cell IN (…)`
    *    predicate — partition PRUNING at the file index, never a full
    *    scan (PlanCheck pins the PartitionFilters): O(N·probes/cells) =
    *    O(√N) rows read per query under √N cells;
    *  - RECALL face: hits@3 per query vs the exact brute-force cosine
    *    kernel (q27/q106's protocol) — the accuracy boundary of the
    *    trade, gated next to the speed shape.
    *
    * The one-time build is the session memo kind `ivf_index`: the
    * trained codebook, with the cell-partitioned index written into the
    * memo-owned dir. Repeated q345 calls in one session neither retrain
    * nor rewrite the corpus-sized index, and the dir is deleted when the
    * memo releases the entry, so the result must run before its
    * (session, dir) is evicted or the session moves to another dir. */
  def q345(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val SessionMemo.Owned(idxDir, code) =
      SessionMemo.owned(s, d, "ivf_index", embeddingsSig(d)) { dir =>
        val n = emb.count()
        val cells = math.max(16L, math.round(math.sqrt(n.toDouble)))
        val cb = trainedCodebookFrom(s, d, seedCodebookN(s, d, cells), rounds = 1)
        cellIndexRows(emb, cb)
          .write.mode("overwrite").partitionBy("cell").parquet(dir)
        cb
      }

    // probe cells per query, resolved driver-side from the codebook —
    // metadata-sized (5 queries × cells scores); the query slice is
    // already on the driver and is served back as a LocalRelation
    // instead of scanning the corpus a second time
    val ps = probeSide(s, d, code, org.apache.spark.sql.types.LongType)

    // search: pruned scan of the inverted file — only probed partitions
    val search = prunedTop3(s.read.parquet(idxDir), ps)

    // recall face: exact brute-force top-3 (the q27 kernel) vs the index
    val exact = exactTop3(emb, ps.qs)
      .select(col("q_id"), col("vec_id").cast("long").as("vec_id"))
    // both recall-side joins carry rank-bounded tiny tables (≤ 3·|queries|
    // rows) — broadcast them so the face never sort-merge-shuffles
    val hits = exact
      .join(broadcast(search.select(col("q_id"), col("vec_id"))),
        Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))

    val searchFace = search.select(lit("search").as("face"), col("q_id"),
      col("rnk"), col("vec_id"), col("cell"), col("cosine"),
      lit(null).cast("long").as("hits"))
    val recallFace = ps.qs.select(col("q_id")).join(broadcast(hits), Seq("q_id"), "left")
      .select(lit("recall").as("face"), col("q_id"),
        lit(null).cast("long").as("rnk"), lit(null).cast("long").as("vec_id"),
        lit(null).cast("long").as("cell"), lit(null).cast("double").as("cosine"),
        coalesce(col("hits"), lit(0L)).as("hits"))
    searchFace.unionByName(recallFace)
      .orderBy(col("face"), col("q_id"), col("rnk"))
  }
  val q345Sql: String = {
    val fold = foldAllSql _
    s"""WITH nn AS (
       |  SELECT greatest(16, CAST(round(sqrt(COUNT(*))) AS BIGINT)) AS cells
       |  FROM embeddings),
       |cb0 AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings, nn
       |  WHERE vec_id < nn.cells),
       |${lloydStepSql("cb0", "cb1")},
       |assign AS (
       |  SELECT r.vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cb1 c) r WHERE r.rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cb1 c WHERE e.vec_id < 5) q
       |  WHERE rn <= $IvfProbes),
       |pairs AS (
       |  SELECT p.q_id, a.vec_id, a.cell,
       |    ${fold("q.embedding", "e.embedding")} AS dot,
       |    ${fold("q.embedding", "q.embedding")} AS nq,
       |    ${fold("e.embedding", "e.embedding")} AS nc
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id
       |  JOIN embeddings q ON q.vec_id = p.q_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id),
       |sr AS (
       |  SELECT q_id, vec_id, cell, dot/(sqrt(nq)*sqrt(nc)) AS cosine,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |  FROM pairs),
       |s3 AS (SELECT * FROM sr WHERE rnk <= 3),
       |ep AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    ${fold("q.embedding", "e.embedding")} AS dot,
       |    ${fold("q.embedding", "q.embedding")} AS nq,
       |    ${fold("e.embedding", "e.embedding")} AS nc
       |  FROM embeddings e JOIN embeddings q
       |    ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |    FROM ep) WHERE rnk <= 3),
       |h AS (
       |  SELECT ex.q_id, COUNT(*) AS hits FROM ex
       |  JOIN s3 ON ex.q_id = s3.q_id AND ex.vec_id = s3.vec_id
       |  GROUP BY ex.q_id)
       |SELECT 'search' AS face, q_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(vec_id AS BIGINT) AS vec_id, CAST(cell AS BIGINT) AS cell,
       |  cosine, CAST(NULL AS BIGINT) AS hits
       |FROM s3
       |UNION ALL
       |SELECT 'recall', q.q_id, NULL, NULL, NULL, NULL,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT)
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN h USING (q_id)
       |ORDER BY face, q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q351
  /** The q351/q358/q371 BASE index, the memo kind `ivf_base_index`: the
    * frozen serving codebook (the first √Nbase BASE (vec_id%7≠0) vectors
    * by vec_id — codebooks version with the corpus, not with every
    * append) and the base vectors assigned against it, clustered by cell
    * so the partitioned write lands ONE file per occupied cell (guide §6).
    * Consumers append their deltas to their own dirs, never here. */
  private def frozenBaseIndex(s: SparkSession,
      d: String): SessionMemo.Owned[Array[(Long, Array[Float])]] =
    SessionMemo.owned(s, d, "ivf_base_index", embeddingsSig(d)) { dir =>
      val base = Tables.embeddings(s, d).filter(col("vec_id") % 7 =!= 0)
      val cells = math.max(16L, math.round(math.sqrt(base.count().toDouble)))
      val code = base.orderBy(col("vec_id")).limit(cells.toInt)
        .select(col("vec_id").cast("long"), col("embedding"))
        .collect()
        .map { r =>
          val raw = r.getSeq[Any](1)
          require(raw != null && raw.forall(_ != null),
            s"frozen codebook seed ${r.getLong(0)} contains null element(s)")
          (r.getLong(0), raw.map(_.asInstanceOf[Float]).toArray)
        }
        .sortBy(_._1)
      cellIndexRows(base, code).repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      code
    }

  /** One index layout over `dirs`: one read per dir, unioned (a read of
    * several partitioned roots refuses to infer their partitions). */
  private def readIndex(s: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(s.read.parquet(_)).reduce(_ unionByName _)

  /** The output shape of q351/q358/q371, (face, origin, q_id, rnk,
    * vec_id, cell, cosine, n): (origin, n) counts as `face` rows, and the
    * pruned search over `index` as "search" rows. */
  private def countFace(face: String, counts: DataFrame): DataFrame = {
    val nullL = lit(null).cast("long")
    counts.select(lit(face).as("face"), col("origin"), nullL.as("q_id"), nullL.as("rnk"),
      nullL.as("vec_id"), nullL.as("cell"), lit(null).cast("double").as("cosine"), col("n"))
  }
  private def searchFace(index: DataFrame, ps: ProbeSide): DataFrame =
    prunedTop3(index, ps).select(lit("search").as("face"), lit(null).cast("string").as("origin"),
      col("q_id"), col("rnk"), col("vec_id"), col("cell"), col("cosine"),
      lit(null).cast("long").as("n"))

  /** The ingest stream of q351/q371: each file staged under `stagedDir`
    * is one micro-batch, assigned against the frozen `code` and appended
    * cell-partitioned to the dir `target` names at that moment. */
  private def ivfIngest(s: SparkSession, name: String, delta: DataFrame,
      stagedDir: String, code: Array[(Long, Array[Float])],
      target: () => String): org.apache.spark.sql.streaming.StreamingQuery = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      graft.core.Sessions.streamShufflePartitions(s2))
    s2.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1").parquet(stagedDir)
      .writeStream.outputMode("append").queryName(name)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        cellIndexRows(df.toDF(), code)
          .write.mode("append").partitionBy("cell").parquet(target())
        ()
      }
      .start()
  }

  /** STREAMING ANN INDEX MAINTENANCE (round 15): the "incremental on
    * append" claim of the q345 story, gated. A BASE corpus (vec_id%7≠0)
    * builds the cell-partitioned inverted file once per session
    * ([[frozenBaseIndex]]); DELTA vectors (vec_id%7=0) then arrive as a
    * 3-file parquet STREAM and each micro-batch assigns against the
    * FROZEN codebook (no retraining — the standard serving contract:
    * codebooks version with the corpus, not with every append) and
    * APPENDS to a cell-partitioned delta layout; the live index is
    * base ∪ delta ([[readIndex]]). Three gated faces prove the
    * maintenance is exact:
    *  - census: base/delta/total row counts of the final index equal
    *    the corpus slice counts (append lost nothing, duplicated
    *    nothing);
    *  - assign: every streamed delta vector's cell equals the oracle's
    *    argmin under the same frozen codebook (the foreachBatch path
    *    computes exactly what the batch path would);
    *  - search: q345's pruned top-3 over the COMBINED index (delta
    *    vectors are findable the moment their batch commits).
    * Scale shape: each micro-batch is a per-row projection + a
    * partition-local append (no shuffle, no rewrite of existing cells);
    * the codebook is frozen metadata, so maintenance cost is O(batch),
    * independent of index size. */
  def q351(s: SparkSession, d: String): DataFrame = {
    val delta = Tables.embeddings(s, d).filter(col("vec_id") % 7 === 0)
    val SessionMemo.Owned(baseDir, code) = frozenBaseIndex(s, d)

    // delta arrives as a stream: stage 3 files, one micro-batch each,
    // appended to this call's own delta dir. The staging dir is deleted
    // once the stream stops; the delta dir, which the result reads, is
    // the memo's until the next call.
    val SessionMemo.Owned(deltaDir, _) =
      SessionMemo.ownedPerCall(s, d, "ivf_q351_delta") { dir =>
        val stagedDir = graft.io.FsUtil.scratchDir("graft_q351_stage")
        delta.repartition(3).write.mode("overwrite").parquet(stagedDir)
        val q = ivfIngest(s, "q351_index_ingest", delta, stagedDir, code, () => dir)
        try q.processAllAvailable()
        finally { q.stop(); graft.io.FsUtil.deleteRecursively(new java.io.File(stagedDir)) }
      }

    // ---- gated faces over the final index, base ∪ delta (file listing
    // AFTER the drive)
    val index = readIndex(s, Seq(baseDir, deltaDir))
      .withColumn("cell", col("cell").cast("long"))
    val nullL = lit(null).cast("long")
    val census = index
      .select(when(col("vec_id") % 7 === 0, "delta").otherwise("base").as("origin"))
      .groupBy(col("origin")).agg(count(lit(1)).as("n"))
    val censusFace = countFace("census", census
      .unionByName(census.agg(sum(col("n")).as("n")).select(lit("total").as("origin"), col("n"))))
    val assignFace = index.filter(col("vec_id") % 7 === 0)
      .select(lit("assign").as("face"), lit("delta").as("origin"),
        nullL.as("q_id"), nullL.as("rnk"),
        col("vec_id").cast("long").as("vec_id"), col("cell"),
        lit(null).cast("double").as("cosine"), nullL.as("n"))

    // search: q345's pruned-read shape over the combined index
    val ps = probeSide(s, d, code, org.apache.spark.sql.types.LongType)
    censusFace.unionByName(assignFace).unionByName(searchFace(index, ps))
      .orderBy(col("face"), col("origin"), col("q_id"), col("rnk"), col("vec_id"))
  }
  /** The frozen-codebook maintenance CTEs (nn → cb → assign → probes →
    * pairs → s3) shared VERBATIM by the q351/q358/q371 oracles — the
    * serving-index family's assign+search recipe stated once (round-17
    * review discipline: three copies had already accreted). */
  private def ivfMaintSqlCtes: String = {
    val fold = foldAllSql _
    s"""nn AS (
       |  SELECT greatest(16, CAST(round(sqrt(COUNT(*))) AS BIGINT)) AS cells
       |  FROM embeddings WHERE vec_id % 7 <> 0),
       |cb AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM (
       |    SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rn
       |    FROM embeddings WHERE vec_id % 7 <> 0) b, nn
       |  WHERE b.rn <= nn.cells),
       |assign AS (
       |  SELECT r.vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cb c) r WHERE r.rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${fold("c.ce", "c.ce")} - 2 * ${fold("e.embedding", "c.ce")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cb c WHERE e.vec_id < 5) q
       |  WHERE rn <= $IvfProbes),
       |pairs AS (
       |  SELECT p.q_id, a.vec_id, a.cell,
       |    ${fold("q.embedding", "e.embedding")} AS dot,
       |    ${fold("q.embedding", "q.embedding")} AS nq,
       |    ${fold("e.embedding", "e.embedding")} AS nc
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id
       |  JOIN embeddings q ON q.vec_id = p.q_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id),
       |s3 AS (
       |  SELECT q_id, vec_id, cell, dot/(sqrt(nq)*sqrt(nc)) AS cosine,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY dot/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS rnk
       |  FROM pairs)""".stripMargin
  }

  val q351Sql: String = {
    s"""WITH $ivfMaintSqlCtes
       |SELECT 'census' AS face,
       |  CASE WHEN g = 0 THEN 'base' WHEN g = 1 THEN 'delta' ELSE 'total' END AS origin,
       |  CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS rnk,
       |  CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS cell,
       |  CAST(NULL AS DOUBLE) AS cosine,
       |  CAST(CASE WHEN g = 0 THEN
       |      (SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 <> 0)
       |    WHEN g = 1 THEN (SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 = 0)
       |    ELSE (SELECT COUNT(*) FROM embeddings) END AS BIGINT) AS n
       |FROM range(0, 3) t(g)
       |UNION ALL
       |SELECT 'assign', 'delta', NULL, NULL, CAST(a.vec_id AS BIGINT),
       |  CAST(a.cell AS BIGINT), NULL, NULL
       |FROM assign a WHERE a.vec_id % 7 = 0
       |UNION ALL
       |SELECT 'search', NULL, q_id, CAST(rnk AS BIGINT),
       |  CAST(vec_id AS BIGINT), CAST(cell AS BIGINT), cosine, NULL
       |FROM s3 WHERE rnk <= 3
       |ORDER BY face, origin, q_id, rnk, vec_id""".stripMargin
  }

  /** A compacted layout: its dir, its file count and its ONE read (each
    * read lists ~cells paths afresh, so every face derives from it). */
  private final case class Compacted(dir: String, files: Long, index: DataFrame)

  /** The compaction step of q358 and q371: the layout over `dirs` is
    * clustered by cell and rewritten into the new dir `dir` — ONE file per
    * occupied cell, never re-assigning a vector. It requires a strictly
    * smaller file count and an IDENTICAL pruned search before vs after,
    * both searches run by ONE tagged-union collect (r18, guide §1.2). */
  private def compactIndex(s: SparkSession, dirs: Seq[String], dir: String,
                           label: String, ps: ProbeSide): Compacted = {
    val filesBefore = dirs.map(countParquet).sum
    val fragmented = readIndex(s, dirs)
    fragmented.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val files = countParquet(dir)
    require(files < filesBefore,
      s"$label compaction must reduce the file count ($filesBefore -> $files)")
    val compacted = s.read.parquet(dir)
    val sides = prunedTop3(fragmented, ps).withColumn("side", lit("b"))
      .unionByName(prunedTop3(compacted, ps).withColumn("side", lit("a")))
      .orderBy(col("side"), col("q_id"), col("rnk")).collect()
    val (afterRows, beforeRows) = sides.partition(_.getString(5) == "a")
    require(beforeRows.map(_.toSeq.init).sameElements(afterRows.map(_.toSeq.init)),
      s"$label compaction changed search results — rewrite must be content-neutral")
    Compacted(dir, files, compacted)
  }

  // ---------------------------------------------------------------- q358
  /** IVF INDEX COMPACTION (round 16, verdict item 5): q351's per-batch
    * partition-local appends are the classic small-file generator at
    * 100 TB — one file per (cell, micro-batch), so after B batches a
    * √N-cell index carries O(cells·B) files and every pruned read pays
    * O(B) opens per probed cell. This entry recreates that on-disk
    * aftermath (the shared base index + three appended delta batches
    * against the SAME frozen codebook as q351), then runs the q237
    * small-file-optimize shape on the cell-partitioned layout
    * ([[compactIndex]]): cluster by cell and rewrite — exactly ONE file
    * per occupied cell, a partition-local rewrite that never re-assigns a
    * vector. Three proofs ride the gate:
    *
    *  - in-query require()s: the rewrite strictly REDUCED the file count,
    *    and the pruned search returns IDENTICAL rows before vs after
    *    (compaction moves bytes, not results);
    *  - gated census: files_after == occupied cells (the one-file-per-
    *    cell contract is SQL-derivable: COUNT(DISTINCT argmin cell)),
    *    rows_total == corpus count (nothing lost, nothing duplicated);
    *  - gated search: q345's pruned top-3 over the COMPACTED index
    *    (PlanCheck pins that partition pruning SURVIVES compaction).
    *
    * Scale shape: compaction is one corpus pass — a cell exchange and a
    * write, O(index); per-cell file count drops from O(batches) to 1, so
    * serving reads go from O(B) opens per probed cell to one. */
  def q358(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val delta = Tables.embeddings(s, d).filter(col("vec_id") % 7 === 0)
    val SessionMemo.Owned(baseDir, code) = frozenBaseIndex(s, d)
    // the q351 stream's on-disk aftermath: the shared base + 3 appended
    // batches in this call's own dir. The base is cell-clustered (one file
    // per occupied cell — the q351 build discipline); the APPENDS stay
    // unclustered because the per-batch fragmentation is exactly the
    // aftermath this operator exists to compact. Nothing reads the
    // fragmented delta after the compare, so it is deleted there; the
    // compacted layout is the memo's until the next call.
    val ps = probeSide(s, d, code, org.apache.spark.sql.types.LongType)
    val SessionMemo.Owned(_, comp) =
      SessionMemo.ownedPerCall(s, d, "ivf_q358_layout") { dir =>
        val fragDir = s"$dir/delta"
        (0 until 3).foreach { b =>
          cellIndexRows(delta.filter(col("vec_id") % 3 === b), code)
            .write.mode("append").partitionBy("cell").parquet(fragDir)
        }
        val comp = compactIndex(s, Seq(baseDir, fragDir), s"$dir/compact", "q358", ps)
        graft.io.FsUtil.deleteRecursively(new java.io.File(fragDir))
        comp
      }

    // rows_total stays a LIVE aggregate over the compacted layout — it
    // folds into the final output job instead of costing its own action
    val censusFace = countFace("compact", Seq(("files_after", comp.files)).toDF("origin", "n")
      .unionByName(comp.index.agg(count(lit(1)).as("n"))
        .select(lit("rows_total").as("origin"), col("n"))))
    // the final search face stays a LIVE query over the compacted layout
    // (PlanCheck pins the INSET partition pruning on this plan)
    censusFace.unionByName(searchFace(comp.index, ps))
      .orderBy(col("face"), col("origin"), col("q_id"), col("rnk"))
  }
  val q358Sql: String = {
    s"""WITH $ivfMaintSqlCtes
       |SELECT 'compact' AS face, 'files_after' AS origin,
       |  CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS rnk,
       |  CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS cell,
       |  CAST(NULL AS DOUBLE) AS cosine,
       |  CAST((SELECT COUNT(DISTINCT cell) FROM assign) AS BIGINT) AS n
       |UNION ALL
       |SELECT 'compact', 'rows_total', NULL, NULL, NULL, NULL, NULL,
       |  CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT)
       |UNION ALL
       |SELECT 'search', NULL, q_id, CAST(rnk AS BIGINT),
       |  CAST(vec_id AS BIGINT), CAST(cell AS BIGINT), cosine, NULL
       |FROM s3 WHERE rnk <= 3
       |ORDER BY face, origin, q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q371
  /** STREAMING APPEND + COMPACTION LIFE-CYCLE (round 17, verdict item 7):
    * q351 proves one append burst, q358 proves one compaction of its
    * aftermath — this entry runs the SAME live index through TWO full
    * serving cycles: stream-append two micro-batches, compact, append
    * two more ONTO THE COMPACTED layout, compact again. That ordering is
    * what production serving actually does, and it is where the
    * single-shot entries can't see breakage: a compaction that perturbs
    * the directory layout the next append relies on, or an append whose
    * files the next compaction drops. Per cycle, in-query require()s pin
    * (a) compaction strictly reduced the file count to EXACTLY one file
    * per occupied cell and (b) the pruned top-3 search is IDENTICAL
    * before vs after the rewrite; the gate then pins the SQL-derivable
    * census — rows and occupied cells after each cycle (nothing lost or
    * duplicated across append→compact→append) — and the final search
    * face. Batches assign against the same frozen codebook as q351/q358
    * (codebooks version with the corpus, not with every append), so the
    * oracle's argmin replays every placement.
    *
    * Scale shape: appends are per-row projections + partition-local
    * writes, O(batch); each compaction is one index pass clustered by
    * cell; the search reads only probed cells (PlanCheck pins pruning
    * survival over the twice-compacted layout). */
  def q371(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val delta = Tables.embeddings(s, d).filter(col("vec_id") % 7 === 0)
    val SessionMemo.Owned(baseDir, code) = frozenBaseIndex(s, d)
    val ps = probeSide(s, d, code, org.apache.spark.sql.types.LongType)
    // every layout of this call lives under one memo-owned dir, which the
    // next call releases; the final one is what the result reads
    val SessionMemo.Owned(_, (census, finalDir)) =
      SessionMemo.ownedPerCall(s, d, "ivf_q371_layout") { dir =>
        // the live layout: the shared base plus this call's delta dir,
        // which the stream appends to until the first compaction replaces
        // both
        val deltaDir = s"$dir/delta"
        new java.io.File(deltaDir).mkdir()
        var live = Seq(baseDir, deltaDir)
        val census = scala.collection.mutable.Buffer.empty[(String, Long)]
        // ONE long-lived ingest stream serves BOTH cycles (r17 verdict item
        // 5: the per-cycle query setup/teardown — checkpoint dir, WAL,
        // offset log, child session — was ~1 s of non-pinned overhead).
        // This is also production's actual shape: the ingest stream keeps
        // running while compaction swaps the serving pointer underneath
        // it, which is exactly what the live-pointer indirection below
        // exercises. Each cycle still appends its slice as two
        // micro-batches onto the then-current layout.
        val stagedDir = graft.io.FsUtil.scratchDir("graft_q371_stage")
        val livePtr = new java.util.concurrent.atomic.AtomicReference[String](deltaDir)
        val q = ivfIngest(s, "q371_ingest", delta, stagedDir, code, () => livePtr.get())
        def runCycle(cyc: Int, batchPred: Column): Unit = {
          // stage this cycle's delta slice as two NEW files; the running
          // stream picks them up as two micro-batches (maxFilesPerTrigger=1)
          delta.filter(batchPred).repartition(2)
            .write.mode("append").parquet(stagedDir)
          q.processAllAvailable()
          val comp = compactIndex(s, live, s"$dir/c$cyc", s"q371_c$cyc", ps)
          // ONE aggregate job carries the cycle census (rows + occupied cells)
          val cen = comp.index.agg(count(lit(1)).as("n"), countDistinct(col("cell")).as("c")).head()
          val (rows, occ) = (cen.getLong(0), cen.getLong(1))
          require(comp.files == occ,
            s"cycle $cyc must land one file per occupied cell (${comp.files} vs $occ)")
          // swap the live pointer; nothing reads the superseded layout (the
          // delta dir, then the first compacted one) again, the base is the
          // memo's
          livePtr.set(comp.dir)
          live.filter(_ != baseDir).foreach(old =>
            graft.io.FsUtil.deleteRecursively(new java.io.File(old)))
          live = Seq(comp.dir)
          census += ((s"c${cyc}_rows", rows))
          census += ((s"c${cyc}_cells", occ))
        }
        try {
          runCycle(1, expr("(vec_id div 7) % 4") <= 1)
          runCycle(2, expr("(vec_id div 7) % 4") >= 2)
        } finally { q.stop(); graft.io.FsUtil.deleteRecursively(new java.io.File(stagedDir)) }
        (census.toSeq, live.head)
      }

    // the final search face stays a LIVE query over the twice-compacted
    // index (PlanCheck pins the INSET partition pruning on this plan)
    countFace("census", census.toDF("origin", "n"))
      .unionByName(searchFace(readIndex(s, Seq(finalDir)), ps))
      .orderBy(col("face"), col("origin"), col("q_id"), col("rnk"))
  }
  val q371Sql: String = {
    s"""WITH $ivfMaintSqlCtes
       |SELECT 'census' AS face,
       |  'c' || CAST(cyc AS VARCHAR) || '_' || kind AS origin,
       |  CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS rnk,
       |  CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS cell,
       |  CAST(NULL AS DOUBLE) AS cosine,
       |  CAST(CASE
       |    WHEN cyc = 1 AND kind = 'rows' THEN
       |      (SELECT COUNT(*) FROM embeddings
       |       WHERE vec_id % 7 <> 0 OR (vec_id // 7) % 4 <= 1)
       |    WHEN cyc = 1 AND kind = 'cells' THEN
       |      (SELECT COUNT(DISTINCT a.cell) FROM assign a
       |       WHERE a.vec_id % 7 <> 0 OR (a.vec_id // 7) % 4 <= 1)
       |    WHEN cyc = 2 AND kind = 'rows' THEN
       |      (SELECT COUNT(*) FROM embeddings)
       |    ELSE (SELECT COUNT(DISTINCT a.cell) FROM assign a)
       |    END AS BIGINT) AS n
       |FROM (SELECT unnest([1, 2]) AS cyc)
       |CROSS JOIN (SELECT unnest(['rows', 'cells']) AS kind)
       |UNION ALL
       |SELECT 'search', NULL, q_id, CAST(rnk AS BIGINT),
       |  CAST(vec_id AS BIGINT), CAST(cell AS BIGINT), cosine, NULL
       |FROM s3 WHERE rnk <= 3
       |ORDER BY face, origin, q_id, rnk""".stripMargin
  }

  val defs2: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q345_ivf_sqrtn_partitioned" -> ((q345 _, Some(q345Sql))),
    "q371_ivf_serving_lifecycle" -> ((q371 _, Some(q371Sql))),
    "q351_ivf_stream_append" -> ((q351 _, Some(q351Sql))),
    "q358_ivf_index_compaction" -> ((q358 _, Some(q358Sql))),
    "q219_ann_trained_codebook" -> ((q219 _, Some(q219Sql))),
    "q266_ann_ivf_pq" -> ((q266 _, Some(q266Sql))),
    "q187_sq8_recall" -> ((q187 _, Some(q187Sql))),
    "q111_delta_ingest_dedup" -> ((q111 _, Some(q111Sql))),
    "q113_editdist_verify"  -> ((q113 _, Some(q113Sql))),
    "q121_triangle_count"   -> ((q121 _, Some(q121Sql))),
    "q128_prefix_jaccard_join" -> ((q128 _, Some(q128Sql))),
    "q102_crossmodal_consistency" -> ((q102 _, Some(q102Sql))),
    "q103_hard_negatives"   -> ((q103 _, Some(q103Sql))),
    "q106_ann_recall_eval"  -> ((q106 _, Some(q106Sql))),
    "q107_kmeans_step"      -> ((q107 _, Some(q107Sql))),
    "q80_substring_spans"   -> ((q80 _, Some(q80Sql))),
    "q86_dup_token_coverage" -> ((q86 _, Some(q86Sql))),
    "q92_strip_dup_spans"   -> ((q92 _, Some(q92Sql))),
    "q79_dedup_clusters"    -> ((q79 _, Some(q79Sql))),
    "q133_cluster_keeper"   -> ((q133 _, Some(q133Sql))),
    "q139_pagerank"         -> ((q139 _, Some(q139Sql))),
    "q143_ngram_novelty"    -> ((q143 _, Some(q143Sql))),
    "q150_knn_graph"        -> ((q150 _, Some(q150Sql))),
    "q44_embedding_neardup" -> ((q44 _, Some(q44Sql))),
    "q45_minhash_jaccard_verified" -> ((q45 _, Some(q45Sql))),
    "q51_centroid_aggregator" -> ((q51 _, Some(q51Sql))),
    "q59_ann_ivf_multiprobe" -> ((q59 _, Some(q59Sql))),
    "q172_bounded_bfs"      -> ((q172 _, Some(q172Sql))),
    "q174_rank_fusion"      -> ((q174 _, Some(q174Sql))))
}