package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the corpus-curation operators (q88–q92) beyond
  * the DuckDB hash gate: decontamination never leaks eval docs, the
  * stratified sample hits its quotas deterministically, TF-IDF scores
  * recompute, PQ codes stay in range, and span stripping reconciles
  * exactly with q86's coverage accounting. */
class LlmOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val d = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("board integrity: 372 uniquely-named entries, every oracle key resolves") {
    // SparkEntry merges per-file defs maps with ++, which would SILENTLY
    // drop an entry on a duplicated query name — pin the census so a
    // collision fails loudly instead of shrinking the board
    val qs = graft.SparkEntry.queries
    assert(qs.size == 372, s"expected 372 board entries, got ${qs.size}")
    val oracle = graft.SparkEntry.oracleSql
    assert(oracle.size == 372, s"expected 372 oracle entries, got ${oracle.size}")
    assert(oracle.keySet.subsetOf(qs.keySet))
    // since round 6 the audio e2e carries a frozen golden-VALUES oracle, so
    // EVERY board entry is hash-gated — no rows-only exceptions remain
    assert(qs.keySet == oracle.keySet, "every board entry must carry an oracle")
  }

  test("q88: eval docs never appear; hit counts are bounded by window counts") {
    val out = graft.queries.LlmOps.q88(spark, d).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(0) % 19 != 0), "an eval doc leaked into the train report")
    out.foreach { r =>
      val (nw, hw, hf) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(hw <= nw, s"doc ${r.getLong(0)}: more hit windows ($hw) than windows ($nw)")
      assert(hf <= hw, s"doc ${r.getLong(0)}: more distinct hit fps ($hf) than hits ($hw)")
      assert(r.getBoolean(4) == (hw > 0))
    }
  }

  test("q89: per-lang counts equal min(quota, stratum size); sample is stable") {
    val langTotals = graft.core.Tables.documents(spark, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotas = Map("en" -> 60L, "zh" -> 30L, "es" -> 30L, "de" -> 25L, "fr" -> 20L)
    val sample = graft.queries.LlmOps.q89(spark, d).collect()
    val byLang = sample.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    langTotals.foreach { case (lang, total) =>
      assert(byLang.getOrElse(lang, 0L) == math.min(quotas(lang), total),
        s"$lang: expected min(${quotas(lang)}, $total) sampled rows")
    }
    val again = graft.queries.LlmOps.q89(spark, d).collect()
    assert(sample.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "sample not deterministic")
  }

  test("q90: at most 3 terms per doc, ranks contiguous, scores recompute") {
    val n = graft.core.Tables.documents(spark, d).count()
    val rows = graft.queries.LlmOps.q90(spark, d).collect()
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted
      assert(ranks.sameElements(1L to ranks.length), s"doc $doc ranks not contiguous")
      assert(ranks.length <= 3)
    }
    rows.foreach { r =>
      val (tf, df, score) = (r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(score == tf.toDouble * n.toDouble / df.toDouble,
        s"score mismatch for doc ${r.getLong(0)} term ${r.getString(2)}")
    }
  }

  test("q91: codes in [0,4), queries never rank themselves, top-5 per query") {
    val rows = graft.queries.LlmOps.q91(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(2), "query ranked itself")
      (3 to 6).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) < 4,
        s"PQ code out of range: ${r.getLong(i)}"))
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length),
        s"query $q ranks not contiguous")
      assert(rs.length <= 5)
    }
  }

  test("q93: offsets are exact per-source prefix sums; sequences align") {
    val rows = graft.queries.LlmOps.q93(spark, d).collect()
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val ordered = rs.sortBy(_.getLong(1))
      var expected = 0L
      ordered.foreach { r =>
        assert(r.getLong(3) == expected,
          s"$src doc ${r.getLong(1)}: start_offset ${r.getLong(3)} != prefix sum $expected")
        assert(r.getLong(4) == expected / 256 && r.getLong(5) == expected % 256)
        expected += r.getLong(2)
      }
    }
  }

  test("q94: tiers are nonempty and strictly ordered by score") {
    val rows = graft.queries.LlmOps.q94(spark, d).collect()
    val byTier = rows.groupBy(_.getString(2)).view
      .mapValues(_.map(_.getLong(1))).toMap
    assert(byTier.keySet == Set("T1", "T2", "T3", "T4"), s"got tiers ${byTier.keySet}")
    for ((lo, hi) <- Seq("T1" -> "T2", "T2" -> "T3", "T3" -> "T4"))
      assert(byTier(lo).max < byTier(hi).min, s"$lo overlaps $hi")
  }

  test("q95: repetition fractions are in [0,1] and consistent with counts") {
    val rows = graft.queries.LlmOps.q95(spark, d).collect()
    rows.foreach { r =>
      Seq((r.getLong(1), r.getDouble(2)), (r.getLong(3), r.getDouble(4))).foreach {
        case (n, frac) =>
          assert(frac >= 0.0 && frac <= 1.0)
          if (n == 0L) assert(frac == 0.0, s"doc ${r.getLong(0)}: frac without n-grams")
          // frac must be expressible as dup/n for integer dup
          else assert((frac * n).round.toDouble / n == frac,
            s"doc ${r.getLong(0)}: frac $frac not a multiple of 1/$n")
      }
    }
  }

  test("q96: every gate filters; offsets are prefix sums of CLEANED lengths") {
    val out = graft.queries.LlmOps.q96(spark, d).collect()
    assert(out.nonEmpty)
    val contaminated = graft.queries.LlmOps.q88(spark, d).collect()
      .filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    val t1 = graft.queries.LlmOps.q94(spark, d).collect()
      .filter(_.getString(2) == "T1").map(_.getLong(0)).toSet
    val strip = graft.queries.DedupSim.q92(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.foreach { r =>
      val doc = r.getLong(1)
      assert(doc % 19 != 0, s"eval doc $doc survived")
      assert(!contaminated.contains(doc), s"contaminated doc $doc survived")
      assert(!t1.contains(doc), s"bottom-quartile doc $doc survived")
      val (n, kept) = strip(doc)
      assert(kept.toDouble / math.max(1L, n) >= 0.5, s"over-stripped doc $doc survived")
      assert(r.getLong(2) == kept, s"doc $doc packs raw, not cleaned, length")
    }
    out.groupBy(_.getString(0)).foreach { case (src, rs) =>
      var expected = 0L
      rs.sortBy(_.getLong(1)).foreach { r =>
        assert(r.getLong(3) == expected && r.getLong(4) == expected / 256,
          s"$src doc ${r.getLong(1)}: offset/seq mismatch")
        expected += r.getLong(2)
      }
    }
  }

  test("span memo: overflow past the row cap falls back to persist") {
    MemoOverflow.assertFallsBackToPersist(spark, d,
      "substring_spans", Seq("q80_substring_spans", "q86_dup_token_coverage"))
  }

  test("q97/q98: order-sensitive folds are partitioning-invariant") {
    // collect_list order varies with physical layout; the array_sort
    // formulation must erase that — identical results under an adversarial
    // repartitioning of the input
    val ev = graft.core.Tables.events(spark, d)
    def journey(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"))
      .agg(md5(expr(
        "array_join(transform(array_sort(collect_list(struct(ts_us, event_id, event_type))), s -> s.event_type), '>')"))
        .as("j"))
      .orderBy(col("user_id")).collect().map(_.toSeq).toSeq
    assert(journey(ev) == journey(ev.repartition(7, col("event_id"))))
    // EWMA: driver-side replica of the fold over (ts_us, event_id) order
    val rows = ev.select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = rows.groupBy(_._1).view.mapValues { g =>
      g.sortBy(e => (e._2, e._3)).map(_._4).reduceLeft((acc, v) => 0.25 * v + 0.75 * acc)
    }.toMap
    graft.queries.LlmOps.q98(spark, d).collect().foreach { r =>
      assert(r.getDouble(2) == expected(r.getLong(0)),
        s"user ${r.getLong(0)}: ewma ${r.getDouble(2)} != replica ${expected(r.getLong(0))}")
    }
  }

  test("q97's journey md5 == Sessionize.orderedConcatMd5 rolling digest") {
    // the constant-memory path: same byte stream fed incrementally into
    // MD5 instead of materializing the joined journey string
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, d)
      .selectExpr("user_id AS key", "ts_us AS tsUs", "event_id AS seq",
        "event_type AS token")
      .as[graft.ops.Sessionize.KeyedToken]
    val rolled = graft.ops.Sessionize.orderedConcatMd5(ev).collect()
      .map(r => r.key -> (r.nEvents, r.journeyMd5)).toMap
    val hof = graft.queries.LlmOps.q97(spark, d).collect()
    assert(hof.nonEmpty && hof.length == rolled.size)
    hof.foreach { r =>
      val (n, m) = rolled(r.getLong(0))
      assert(r.getLong(1) == n && r.getString(2) == m,
        s"user ${r.getLong(0)}: digest paths diverge")
    }
  }

  test("q98's HOF fold == Sessionize.ewmaFold secondary-sort path, bit-exact") {
    // the two formulations of the same recurrence: per-group collect+sort
    // inside an aggregate (q98) vs the O(1)-heap secondary-sort operator
    // (the hot-key scale path). Same fold order -> identical doubles.
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, d)
      .selectExpr("user_id AS key", "ts_us AS tsUs", "event_id AS seq", "value")
      .as[graft.ops.Sessionize.KeyedValue]
    val folded = graft.ops.Sessionize.ewmaFold(ev, alpha = 0.25).collect()
      .map(r => r.key -> (r.nEvents, r.ewma)).toMap
    val hof = graft.queries.LlmOps.q98(spark, d).collect()
    assert(hof.nonEmpty && hof.length == folded.size)
    hof.foreach { r =>
      val (n, e) = folded(r.getLong(0))
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == e,
        s"user ${r.getLong(0)}: HOF ${r.getDouble(2)} != secondary-sort $e")
    }
  }

  test("stateful streaming is state-backend agnostic: RocksDB == default provider") {
    // the at-scale state backend: RocksDB keeps streaming state on local
    // disk instead of the executor heap, the requirement once keyed state
    // outgrows memory. The stateful span merge (flatMapGroupsWithState,
    // q87's operator) must produce the identical closed-session set under
    // either provider — state semantics are backend-invariant.
    val minUs = 3L * 60 * 1000000
    val maxUs = 15L * 60 * 1000000
    def run(name: String): Seq[Seq[Any]] = graft.streaming.Streaming
      .spanMergeOnce(spark, d, minUs, maxUs, name)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val base = run("backend_default")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = run("backend_rocksdb")
      assert(rocks.nonEmpty && rocks == base,
        "RocksDB state store diverged from the default provider")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("q104/q105: diff ops partition by construction; merge reproduces v2") {
    val ch = graft.queries.DataOps.q104(spark, d).collect()
    assert(ch.nonEmpty)
    ch.foreach { r =>
      val (k, op) = (r.getLong(0), r.getString(1))
      op match {
        case "I" =>
          assert(k % 10 == 3 && r.isNullAt(2), s"insert row $k malformed")
        case "D" =>
          assert(k % 10 == 7 && r.isNullAt(3), s"delete row $k malformed")
        case "U" =>
          assert(k % 5 == 0 && r.getDouble(3) == r.getDouble(2) + 1000.0,
            s"update row $k: price delta is not the stated repricing")
        case other => fail(s"unknown op $other")
      }
    }
    assert(Set("I", "D", "U").subsetOf(ch.map(_.getString(1)).toSet),
      "the derived snapshots must exercise all three change ops")
    // round trip INSIDE Spark too (the oracle checks it cross-engine):
    // applying the changefeed to v1 must reproduce v2 exactly
    val merged = graft.queries.DataOps.q105(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val v2 = spark.read.parquet(s"$d/orders.parquet")
      .filter(col("o_orderkey") % 10 =!= 7)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(merged == v2, "merge(v1, diff(v1,v2)) != v2")
  }

  test("q106: recall bounds hold and hits recompute from q59 vs brute force") {
    val out = graft.queries.DedupSim.q106(spark, d).collect()
    assert(out.length == 5, "one eval row per query vector")
    out.foreach { r =>
      val (hits, recall) = (r.getLong(1), r.getDouble(2))
      assert(hits >= 0 && hits <= 3)
      assert(recall == hits.toDouble / 3.0)
    }
    // multi-probe over 4/16 cells should find SOMETHING across 5 queries —
    // an all-zero recall board means the assignment or probe arm broke
    assert(out.map(_.getLong(1)).sum > 0, "IVF found no true neighbor at all")
  }

  test("q219: trained codebook is deterministic, moved, and recall-valid") {
    val c1 = graft.queries.DedupSim.trainedCodebook(spark, d, rounds = 2)
    val c2 = graft.queries.DedupSim.trainedCodebook(spark, d, rounds = 2)
    assert(c1.map(_._1).toSeq == c2.map(_._1).toSeq)
    c1.zip(c2).foreach { case ((ida, va), (idb, vb)) =>
      assert(ida == idb && va.sameElements(vb), s"codebook not deterministic at cell $ida")
    }
    // training must actually move centroids off the frozen seed vectors
    val seeds = graft.core.Tables.embeddings(spark, d)
      .filter(col("vec_id") < 16).select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    assert(c1.exists { case (cid, v) => !v.sameElements(seeds(cid)) },
      "two Lloyd rounds left every centroid identical to its seed")
    val out = graft.queries.DedupSim.q219(spark, d).collect()
    assert(out.length == 5, "one eval row per query vector")
    out.foreach { r =>
      val (hits, recall) = (r.getLong(1), r.getDouble(2))
      assert(hits >= 0 && hits <= 3)
      assert(recall == hits.toDouble / 3.0)
    }
    assert(out.map(_.getLong(1)).sum > 0, "trained IVF found no true neighbor at all")
  }

  test("q107: Lloyd M-step equals an independent explode-based recomputation") {
    val fast = graft.queries.DedupSim.q107(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // independent path: same E-step assignment, M-step via posexplode +
    // plain integer aggregation (the plan q107 exists to avoid)
    val slow = graft.queries.DedupSim.ivfAssign(spark, d)
      .select(col("cell").cast("long").as("cell"), posexplode(col("embedding")))
      .select(col("cell"), col("pos").cast("long").as("pos"),
        expr("cast(round(cast(col as double) * 1e6) as bigint)").as("q"))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("q")).cast("double") / count(lit(1))).as("mean_q6"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fast.keySet == slow.keySet)
    assert(fast.keySet.forall(k => fast(k) == slow(k)),
      "aggregator centroids diverge from the explode recomputation")
    assert(fast.keys.map(_._2).toSet.size == 64, "every dim position present")
  }

  test("q108: salted join is row-identical to the plain join; salt spreads keys") {
    import org.apache.spark.sql.types.DecimalType
    val ev = graft.core.Tables.events(spark, d)
      .select(col("event_type"), col("event_id"), col("value"))
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")).cast("double"))
    val plain = ev.join(dim, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") * col("type_weight")).cast(DecimalType(18, 6)))
          .cast("double").as("weighted_sum"))
      .collect().map(_.toSeq).toSet
    val salted = graft.queries.DataOps.q108(spark, d).collect().map(_.toSeq).toSet
    assert(salted == plain, "salting changed the join result")
    // the mechanism itself: each hot key occupies all 16 salt buckets
    val spread = graft.ops.Skew
      .saltedJoin(ev, dim, "event_type", 16, Seq(col("event_id")))
      .select(col("event_type"),
        graft.ops.Skew.salt(16, col("event_id")).as("b"))
      .distinct().groupBy(col("event_type")).count().collect()
    assert(spread.nonEmpty && spread.forall(_.getLong(1) == 16),
      "a hot key failed to spread over all 16 salt buckets")
  }

  test("q109: keep flag is exactly the sign of the logit, and both classes occur") {
    val out = graft.queries.DataOps.q109(spark, d).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (logit, keep) = (r.getDouble(1), r.getBoolean(2))
      assert(!logit.isNaN && !logit.isInfinite)
      assert(keep == (logit > 0.0))
    }
    val keeps = out.count(_.getBoolean(2))
    assert(keeps > 0 && keeps < out.length,
      s"degenerate classifier: $keeps/${out.length} kept — weights need re-tuning")
  }

  test("Misra-Gries sketch: containment guarantee on an adversarial skewed stream") {
    import spark.implicits._
    // 4 partitions, tiny k=3 against a 40-term vocabulary: the sketch is
    // under constant eviction pressure, which is exactly when the
    // N/(k+1) containment bound must still hold
    val hot = Seq.fill(400)("hot1") ++ Seq.fill(300)("hot2")
    val noise = (0 until 600).map(i => s"t${i % 38}")
    val docs = (hot ++ noise).grouped(25).map(_.toSeq).toSeq
    val ds = spark.createDataset(docs).repartition(4)
    val (total, cand) = graft.ops.HeavyHitters.sketch(ds, k = 3)
    assert(total == 1300L, "token total must be exact")
    // the guarantee, stated directly: any term with true count strictly
    // above total/(k+1) = 1300/4 = 325 must survive the merged sketch —
    // here hot1 (400); hot2 (300) sits below the bound and MAY be evicted
    val mustSurvive = Seq("hot1" -> 400L, "hot2" -> 300L).filter(_._2 > total / (3 + 1))
    mustSurvive.foreach { case (t, _) =>
      assert(cand.contains(t), s"true heavy hitter $t evicted — MG guarantee broken")
    }
    assert(cand.size <= 3, "merged sketch exceeded k counters")
  }

  test("q110: sketch-driven heavy hitters equal the exact full groupBy") {
    val fast = graft.queries.DataOps.q110(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val toks = spark.read.parquet(s"$d/documents.parquet")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
    val total = toks.count()
    val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 32 > total)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fast == exact, "sketch+recount diverged from the exact computation")
    assert(fast.nonEmpty, "degenerate fixture: no term above N/32")
  }

  test("q111 reconciles with q78: every cross-boundary near-dup pair flags its delta doc") {
    val deltaSrcs = Set("src16", "src17", "src18", "src19")
    val srcOf = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = graft.queries.DedupSim.q111(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(deltaSrcs.contains(r.getString(1)), "a base doc leaked into the delta report")
      val (ex, near, action) = (r.getBoolean(2), r.getBoolean(3), r.getString(4))
      val expected = if (ex) "drop_exact" else if (near) "drop_near" else "keep"
      assert(action == expected, s"doc ${r.getLong(0)}: action $action vs flags ($ex,$near)")
    }
    // cross-check against the corpus-wide q78 join: any near-dup pair with
    // one member in each batch must have flagged its delta member
    val flagged = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    val crossPairs = graft.queries.DedupSim.q78(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (deltaSrcs.contains(srcOf(a)), deltaSrcs.contains(srcOf(b))) match {
          case (true, false) => Some(a)
          case (false, true) => Some(b)
          case _             => None
        }
      }.toSet
    assert(crossPairs.subsetOf(flagged),
      s"q78 cross-boundary near-dups ${crossPairs -- flagged} missing from q111 flags")
  }

  test("q112: probabilities are proper, bigram counts reconcile with token counts") {
    val out = graft.queries.LlmOps.q112(spark, d).collect()
    assert(out.length == 500)
    val nToks = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), size(split(trim(lower(col("text"))), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (doc, nbg, fl) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(nbg == nToks(doc) - 1, s"doc $doc: $nbg bigrams vs ${nToks(doc)} tokens")
      assert(fl > 0.0 && fl <= 1.0, s"doc $doc: fluency $fl out of (0,1]")
    }
  }

  test("q113: every q78 candidate pair gets a verdict; the flag restates the bound") {
    val pairs = graft.queries.DedupSim.q78(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = graft.queries.DedupSim.q113(spark, d).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == pairs,
      "verification must cover exactly the candidate set")
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val (a, b, ham, dist, v) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(ham <= 3)
      val maxLen = math.max(texts(a).length, texts(b).length)
      assert(v == (dist * 5 <= maxLen), s"pair ($a,$b): flag disagrees with bound")
    }
  }

  test("q117: the driver's synthetic snapshot passes every constraint") {
    val r = graft.queries.Relational8.q117(spark, d).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getBoolean(2), "o_orderkey must be unique in the fixture")
    assert(row.getLong(3) == 0 && row.getLong(4) == 0 && row.getLong(5) == 0,
      "fixture violates a domain/null/range constraint the audit should count")
    assert(row.getBoolean(7), "referential integrity orders→customer must hold")
  }

  test("q119: funnel stages are monotone and user counts total the user universe") {
    val out = graft.queries.Relational8.q119(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val totalUsers = graft.core.Tables.events(spark, d)
      .select(col("user_id")).distinct().count()
    assert(out.values.sum == totalUsers, "stage histogram must partition all users")
    // strict progression: a stage-3 user passed stages 1 and 2 by
    // construction, so cumulative counts from the top must never exceed
    // the count of users having reached the previous stage — verified
    // against an independent unordered count: users with a purchase at
    // all must be >= stage-3 users (ordering only removes users)
    val purchasers = graft.core.Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(out.getOrElse(3L, 0L) <= purchasers,
      "ordered funnel cannot exceed the unordered purchaser count")
  }

  test("q121: every emitted triangle is three verified edges") {
    val edges = graft.queries.DedupSim.q45(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tris = graft.queries.DedupSim.q121(spark, d).collect()
    tris.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a < b && b < c, s"triangle ($a,$b,$c) not canonically ordered")
      assert(edges((a, b)) && edges((b, c)) && edges((a, c)),
        s"triangle ($a,$b,$c) uses a non-edge")
    }
    // independent recount from the driver-side edge set
    val exact = for {
      (a, b) <- edges.toSeq; (b2, c) <- edges.toSeq
      if b2 == b && edges((a, c))
    } yield (a, b, c)
    assert(tris.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == exact.toSet)
  }

  test("q125: temperature flattens shares; quotas stay within budget") {
    val out = graft.queries.DataOps.q125(spark, d).collect()
    assert(out.nonEmpty)
    val raw = out.map(_.getDouble(3))
    val temp = out.map(_.getDouble(4))
    // temp shares divide by the DECIMAL(18,6)-quantized denominator, so
    // they sum to 1 only within the quantization residue (~1e-9 here)
    assert(math.abs(raw.sum - 1.0) < 1e-9 && math.abs(temp.sum - 1.0) < 1e-6)
    // T=2 must compress the spread: the hot source loses share, the cold
    // one gains
    assert(temp.max / temp.min < raw.max / raw.min,
      "temperature reweighting failed to flatten the source distribution")
    assert(out.map(_.getLong(5)).sum <= 1000, "quotas exceed the stated budget")
  }

  test("q126: each epoch is a permutation; epochs disagree on order") {
    val out = graft.queries.DataOps.q126(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = out.length / 2
    (0L to 1L).foreach { ep =>
      val pos = out.filter(_._1 == ep).map(_._3).sorted
      assert(pos.toSeq == (1L to n).toSeq, s"epoch $ep positions are not a 1..$n permutation")
    }
    val order0 = out.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq
    val order1 = out.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq
    assert(order0 != order1, "the two epochs produced the identical order")
    assert(order0.toSet == order1.toSet, "epochs must cover the same corpus")
  }

  test("q128: prefix filtering prunes candidates without losing a qualifying pair") {
    // brute-force ground truth, driver-side, over the sf0.001 corpus —
    // the same 3-word shingle sets the operator uses
    val sets = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("t"))
      .collect().map { r =>
        val w = r.getSeq[String](1)
        r.getLong(0) -> w.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).sortBy(_._1)
    val exact = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (ida, a) = sets(i); (idb, b) = sets(j)
      inter = (a & b).size; uni = a.size + b.size - inter
      if inter * 5 >= uni * 4
    } yield (ida, idb)).toSet
    val out = graft.queries.DedupSim.q128(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == exact, "prefix-filtered join diverged from brute force")
    assert(out.nonEmpty, "degenerate fixture: no qualifying pair at sf0.001")
    // the PPJoin+ positional stage prunes candidates and (by the equality
    // above) never a qualifying pair
    val (pre, pos) = graft.queries.DedupSim.q128CandidateCounts(spark, d)
    assert(pos <= pre, s"positional stage grew the candidate set: $pre -> $pos")
    assert(exact.size.toLong <= pos, "candidates must cover all true pairs")
  }

  test("q129: the delta-maintained aggregate equals the direct v2 rollup") {
    import org.apache.spark.sql.types.DecimalType
    val direct = spark.read.parquet(s"$d/orders.parquet")
      .filter(col("o_orderkey") % 10 =!= 7)
      .groupBy((col("o_orderkey") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).cast(DecimalType(18, 4)))
          .cast("double").as("sum_price"))
      .collect().map(_.toSeq).toSet
    val incr = graft.queries.DataOps.q129(spark, d).collect().map(_.toSeq).toSet
    assert(incr == direct, "incremental maintenance diverged from recomputation")
  }

  test("q92 reconciles with q86: stripped tokens == duplicated-token coverage") {
    val cov = graft.queries.DedupSim.q86(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val strip = graft.queries.DedupSim.q92(spark, d).collect()
    assert(strip.length == cov.size)
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    strip.foreach { r =>
      val (doc, nTok, kept, md5) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val (covTok, dupTok) = cov(doc)
      assert(nTok == covTok, s"doc $doc token counts disagree")
      assert(nTok - kept == dupTok,
        s"doc $doc: stripped ${nTok - kept} tokens but q86 reports $dupTok duplicated")
      if (kept == 0) assert(md5 == emptyMd5, s"doc $doc: empty strip must hash empty string")
    }
  }
}
