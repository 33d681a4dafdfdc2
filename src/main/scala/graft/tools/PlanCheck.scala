package graft.tools

import org.apache.spark.sql.SparkSession

/** Physical-plan audit (the "would this survive 100×?" gate): asserts the
  * plan properties the 100 TB design relies on — filters and projections
  * reach the parquet scan, dimension joins broadcast, top-k uses TakeOrdered,
  * and nothing falls back to a cartesian product unintentionally.
  * Run: sbt "runMain graft.tools.PlanCheck [sfDir]". Exits non-zero on a
  * violated expectation. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions").master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failures = 0
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (String, Boolean)]
    // every assertion funnels through rec so the run can be persisted as a
    // diffable round artifact (PLANCHECK_r*.json, round-5 verdict item 7)
    def rec(label: String, what: String, ok: Boolean): Unit = {
      results(label) = (what, ok)
      println(f"${if (ok) "PASS" else "FAIL"}%s  $label%-28s $what")
    }
    def check(q: String, what: String)(cond: String => Boolean): Unit = {
      val plan = graft.SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val ok = cond(plan)
      rec(q, what, ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }

    // note: the rendered plan truncates long PushedFilters lists, so assert
    // presence of pushed predicates rather than a specific one
    check("q02_filter_project", "predicates pushed to parquet scan")(p =>
      p.contains("PushedFilters: [IsNotNull"))
    check("q02_filter_project", "column-pruned ReadSchema (no l_tax)")(p =>
      p.contains("ReadSchema") && !p.contains("l_tax"))
    check("q03_join_dims_broadcast", "both dims broadcast")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size == 2 && !p.contains("SortMergeJoin"))
    check("q05_tpch_q3_topk", "customer broadcast + TakeOrdered top-k")(p =>
      p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject"))
    check("q12_sort_limit_topk", "global top-k is TakeOrdered, not full sort")(p =>
      p.contains("TakeOrderedAndProject"))
    check("q10_anti_join", "anti join strategy (hash, not nested loop)")(p =>
      p.contains("LeftAnti") && !p.contains("BroadcastNestedLoopJoin"))
    check("q01_agg_tpch_q1", "partial aggregation before the exchange")(p =>
      p.contains("partial_sum") || p.contains("partial"))
    check("q27_cosine_topk", "query side broadcast (intended nested-loop x5 rows)")(p =>
      p.contains("BroadcastNestedLoopJoin"))
    check("q29_ann_lsh_buckets", "bucket join is a broadcast HASH join")(p =>
      p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"))
    // q24/q45 distributed shape: audit candidatePairs DIRECTLY — the cached
    // q24 entry replays a collected LocalRelation at small SF, so a plan
    // assertion on q24 itself is vacuous (round-3 advice) AND triggers a
    // full collect job at plan-build time. candidatePairs is the plan the
    // 100 TB claim rests on; building it runs no job.
    locally {
      // disable broadcast so the audited plan is the AT-SCALE shape (at
      // sf0.01 the band side fits a broadcast and no exchange exists at all)
      val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.queries.DedupSim.candidatePairs(spark, sfDir)
          .queryExecution.executedPlan.toString
        val ok = !plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct") &&
          // map-side combine: the 28-shingles-per-doc rows collapse to one
          // signature row per doc BEFORE the sig exchange, so the shuffle
          // carries ~N rows, not 28N
          plan.contains("partial_min") &&
          // the band self-join shuffles on band keys (hash join, both sides
          // fed from the same sig subtree — ReuseExchange dedups at runtime)
          plan.contains("hashpartitioning(band_idx")
        rec("q24_candidates(distributed)", "partial-agg sig, band-key hash join, no cartesian", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    check("q15_asof_join", "as-of via single window, no inequality join")(p =>
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") &&
        (p.contains("RunningWindowFunction") || p.contains("Window")))
    check("q58_salted_agg", "two-phase salted agg: salt reaches the exchange")(p =>
      // user_id and __salt must appear in the SAME hashpartitioning clause —
      // the phase-2 exchange partitions on user_id alone, so matching them
      // separately would pass even with the salt dropped from the group-by
      "hashpartitioning\\(user_id[^)]*__salt".r.findFirstIn(p).isDefined)
    check("q66_topk_native", "native bounded-heap top-k: no per-group sort")(p =>
      p.contains("TopKPerGroup") &&
        // the only Sort is the final presentation ORDER BY above the
        // operator, never below the exchange that feeds it
        !p.split("TopKPerGroup", 2)(1).contains("Sort "))
    check("q59_ann_ivf_multiprobe", "IVF assignment is a projection: no vec_id shuffle below probe join")(p =>
      p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") &&
        // cell assignment is a per-row projection (the broadcast-kernel E-step) — the
        // only hash exchange left is the rank window's (q_id), never a
        // 16N-row vec_id shuffle for the argmin
        !p.contains("hashpartitioning(vec_id"))
    // the only exchange allowed is the presentation ORDER BY's range
    // partitioning — no hash shuffle, no join, no aggregate
    check("q60_hash_split", "hash split is per-row: no hash shuffle/join/agg")(p =>
      !p.contains("hashpartitioning") && !p.contains("Join") && !p.contains("Aggregate"))
    check("q72_pii_scrub", "PII scrub is per-row: no hash shuffle/join/agg")(p =>
      !p.contains("hashpartitioning") && !p.contains("Join") && !p.contains("Aggregate"))
    check("q70_term_stats", "vocabulary stats aggregate partially before the shuffle")(p =>
      p.contains("partial"))
    // q78 distributed shape: audit simhashNearDupPairs DIRECTLY — the q78
    // entry replays the memoized signature relation at small SF (round-5
    // memo), so a plan assertion on the entry would be vacuous; this is the
    // same audit split as q24/candidatePairs above. Broadcast disabled so
    // the asserted shape is the at-scale band-key shuffle join.
    locally {
      val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.queries.DedupSim.simhashNearDupPairs(spark, sfDir)
          .queryExecution.executedPlan.toString
        val ok = plan.contains("partial") && !plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("hashpartitioning(band_idx")
        rec("q78_pairs(distributed)", "partial votes, band-key hash join, no cartesian", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    // q80 at-scale shape (broadcast off): the guard aggregation and the
    // pair join must both shuffle on the fingerprint (equi-join, never a
    // cartesian), with partial aggregation before the exchange. Audits the
    // DISTRIBUTED substringSpans plan directly — the q80/q86/q92 entries
    // replay the round-5 span memo at small SF (the q24/q78 audit split).
    locally {
      val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.queries.DedupSim.substringSpans(spark, sfDir)
          .queryExecution.executedPlan.toString
        val ok = plan.contains("partial") && !plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("hashpartitioning(fp")
        rec("q80_spans(distributed)", "fp-key hash join + partial agg, no cartesian", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    // q79: cluster sizes must come from the broadcast join-back of the tiny
    // edge-label table — never a full-corpus window/shuffle on cluster_id
    // (round-4 verdict: the size window shuffled ALL documents)
    check("q79_dedup_clusters", "sizes broadcast back, no corpus cluster_id shuffle")(p =>
      p.contains("BroadcastHashJoin") &&
        !p.contains("hashpartitioning(cluster_id") && !p.contains("Window"))
    // q77: the lang predicate must prune PARTITION DIRECTORIES (appear in
    // PartitionFilters on the scan), not filter rows post-scan — the write
    // runs once here so the read plan has a real partitioned layout to bind
    locally {
      val q77 = graft.SparkEntry.queries("q77_partition_pruning")
      q77(spark, sfDir) // ensures the partitioned dir exists
      val plan = graft.queries.PipelineQueries
        .partitionedReadAgg(spark, graft.queries.PipelineQueries.q77OutDir(sfDir))
        .queryExecution.executedPlan.toString
      val ok = "PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined
      rec("q77_partition_pruning", "lang predicate reaches PartitionFilters", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }

    // q88: the eval fingerprint set and the per-doc hit rollup both
    // broadcast (a benchmark suite is MBs against a 100 TB corpus) — the
    // corpus itself is never sort-merge-joined or cartesian-joined
    check("q88_decontaminate", "eval fps + hit rollup broadcast, corpus never SMJ'd")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size == 2 &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // q343: the vocabulary-bounded model tables (pair + context counts)
    // broadcast onto the corpus bigram stream; the corpus itself is never
    // sort-merge-joined, and the bucketing is per-row (no global window)
    check("q343_ccnet_lm_buckets", "LM tables broadcast; corpus never SMJ'd; no global sort window")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size == 2 &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
        !p.contains("Window "))
    // q345: the √N-cell inverted file must be read through a LITERAL
    // cell INSET partition filter — probed cells prune at the file index
    // (never a full index scan), the shape that keeps per-query serving
    // cost O(√N) as the corpus grows; probes/hits stay broadcast
    check("q345_ivf_sqrtn_partitioned",
        "probe cells reach PartitionFilters (INSET) on the index scan; no SMJ")(p =>
      "PartitionFilters: \\[cell#\\d+L? INSET".r.findFirstIn(p).isDefined &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // q358: partition pruning must SURVIVE compaction — the search face
    // reads the REWRITTEN one-file-per-cell index through the same
    // literal cell INSET partition filter as q345's
    check("q358_ivf_index_compaction",
        "pruned INSET read survives the compaction rewrite; no SMJ")(p =>
      "PartitionFilters: \\[cell#\\d+L? INSET".r.findFirstIn(p).isDefined &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // q352 (re-pinned round 16, verdict r15 weak #2): the pair table is NO
    // LONGER force-broadcast — its size scales with corpus duplication, so
    // the strategy choice belongs to AQE's runtime statistics. The pin
    // EXECUTES the query and audits the FINAL adaptive plan: at sf0.01 the
    // tiny pair table must have been converted to runtime broadcasts (the
    // small path works), and no join may degrade to a cartesian/NLJ. The
    // above-threshold SHUFFLE path (what a duplication-heavy 100 TB corpus
    // takes) is pinned by ChunkPairsSpec with both thresholds disabled —
    // either strategy is an accepted plan.
    locally {
      val df = graft.SparkEntry.queries("q352_chunk_collision_pairs")(spark, sfDir)
      df.collect(): Unit // materialize so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      val ok = "BroadcastHashJoin".r.findAllIn(plan).size >= 2 &&
        !plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin")
      rec("q352_chunk_collision_pairs",
        "AQE runtime-broadcasts the small pair table; no cartesian", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }
    // q371: partition pruning must survive TWO append+compact cycles —
    // the final search face reads the twice-compacted live index through
    // the same literal cell INSET filter as q345/q358 (constructing the
    // DF runs the lifecycle; the pin reads the resulting search plan)
    check("q371_ivf_serving_lifecycle",
        "pruned INSET read survives two append+compact cycles; no SMJ")(p =>
      "PartitionFilters: \\[cell#\\d+L? INSET".r.findFirstIn(p).isDefined &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // q364 (re-pinned round 17, ADVICE item): the benchmark probe is NO
    // LONGER force-broadcast — the %5 stand-in is corpus-proportional, so
    // strategy belongs to AQE (the q352 discipline). Execute and audit
    // the final adaptive plan: at sf0.01 the small probe must have been
    // runtime-broadcast; nothing may degrade to a cartesian/NLJ.
    locally {
      val df = graft.SparkEntry.queries("q364_chunk_decontamination")(spark, sfDir)
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan.toString
      // BOTH joins must runtime-broadcast at sf0.01: the probe SEMI-join
      // (the pin's whole point — one matching BHJ elsewhere must not
      // mask a degraded probe) and the hits⋈perDoc rollup join
      val ok = "BroadcastHashJoin".r.findAllIn(plan).size >= 2 &&
        plan.contains("LeftSemi") &&
        !plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin")
      rec("q364_chunk_decontamination",
        "AQE runtime-broadcasts probe semi-join AND rollup join; no cartesian", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }
    // q368: the bipartite band join must stay a HASH join on the band
    // keys (bucketed pair space) — never a nested-loop/cartesian; the
    // per-side hot-cap guards are bounded windows over the band keys
    locally {
      val df = graft.SparkEntry.queries("q368_neardup_decontamination")(spark, sfDir)
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan.toString
      val ok = (plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")) &&
        !plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin")
      rec("q368_neardup_decontamination",
        "bipartite band join is a hash/merge join; no cartesian", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }
    // q369: the real-corpus CT leg rides q356's shape — bounded top-K
    // heaps for the doc profile, the 6×K profile table a broadcast hash
    // join, and no corpus-sized cartesian anywhere (the 6-language
    // fan-out is an intended 6-row broadcast NLJ)
    check("q369_real_corpus_langid",
        "bounded top-K doc profiles; broadcast profile join; ONE intended NLJ")(p =>
      p.contains("TopKPerGroup") && p.contains("BroadcastHashJoin") &&
        "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
        !p.contains("CartesianProduct"))
    // q356: ONE hash exchange (doc_id repartition below both explodes —
    // gram counting, top-K window, distance agg, and argmin all ride it),
    // both rank filters as bounded TopKPerGroup heaps, the 6-language
    // fan-out an intended 6-row broadcast NLJ, the profile a broadcast
    // hash join — never an SMJ and never a corpus-sized cartesian
    check("q356_ct_ngram_langid",
        "one doc_id exchange; bounded top-K heaps; broadcast profile join")(p =>
      "Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
        p.contains("REPARTITION_BY_COL") && p.contains("TopKPerGroup") &&
        p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    // q353: the coverage curve must reach its top-k through a bounded heap
    // (TakeOrderedAndProject) and carry exactly ONE range exchange (the
    // 5-row output ORDER BY) — a full-vocabulary global sort would add a
    // second rangepartitioning over the corpus-sized count table
    check("q353_vocab_coverage",
        "top-5000 via TakeOrderedAndProject; no full-vocab range sort")(p =>
      p.contains("TakeOrderedAndProject") &&
        "Exchange rangepartitioning".r.findAllIn(p).size == 1)
    // q354: ONE hash exchange, and it must sit BELOW the token explode
    // (the exchange carries un-exploded documents; the exploded stream
    // never shuffles) — the tree prints consumers above inputs, so the
    // Generate(explode) line must appear ABOVE the hash exchange
    check("q354_lexical_diversity",
        "single doc_id hash exchange BELOW the explode; aggs shuffle-free")(p => {
      val gen = p.indexOf("Generate explode")
      val ex = p.indexOf("Exchange hashpartitioning")
      "Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
        p.contains("REPARTITION_BY_COL") && p.contains("partial_count") &&
        gen >= 0 && ex >= 0 && gen < ex
    })
    // q89/q90/q91: the rank filter must become a partial bounded heap so
    // each map partition keeps only its top-k BEFORE the stratum shuffle —
    // WindowTopKRewrite subsumes Spark's sort-based WindowGroupLimit here,
    // so the sortless TopKPerGroupPartial is the node to demand
    check("q89_stratified_sample", "quota filter becomes a partial bounded heap")(p =>
      p.contains("TopKPerGroupPartial"))
    check("q90_tfidf_topterms", "df broadcasts onto tf; rank filter is a heap group-limit")(p =>
      p.contains("TopKPerGroupPartial") && p.contains("BroadcastHashJoin"))
    // q91: PQ encoding is a literal-codebook projection (no vec_id shuffle,
    // mirroring q59); the query side is an intended 3-row broadcast NLJ
    check("q91_ann_pq_adc", "PQ encode is a projection; 3-row query side broadcast")(p =>
      p.contains("TopKPerGroupPartial") && p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") && !p.contains("hashpartitioning(vec_id"))

    // q93: packing parallelizes per source shard — the only exchange below
    // the presentation sort is the source-key window shuffle, never a
    // global-order single partition
    check("q93_sequence_packing", "per-shard prefix sum: source-key window, no join")(p =>
      p.contains("hashpartitioning(source") && !p.contains("Join") &&
        !p.split("rangepartitioning", 2).last.contains("SinglePartition"))
    // q94: quartile thresholds are a broadcast 1-row cross join onto the
    // per-row tier projection
    check("q94_quality_tiers", "thresholds broadcast; no cartesian")(p =>
      p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // q95: the n-gram repetition stats are array expressions per row — no
    // explode into n-gram rows, no shuffle, no aggregation
    check("q95_intradoc_repetition", "per-row: no hash shuffle/join/agg/explode")(p =>
      !p.contains("hashpartitioning") && !p.contains("Join") &&
        !p.contains("Aggregate") && !p.contains("Generate"))
    // q96: four verified operators composed — the only nested-loop join
    // allowed is q94's intended 1-row threshold broadcast
    check("q96_curation_pipeline_e2e", "composition stays equi-join (1-row NLJ only)")(p =>
      !p.contains("CartesianProduct") &&
        "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
    // q97/q98: order-sensitive group folds are ONE user_id shuffle — the
    // sort lives inside the per-group array expression, never as a plan
    // Sort/Window below the aggregate
    check("q97_ordered_group_concat", "one group shuffle, no window/join")(p =>
      p.contains("hashpartitioning(user_id") && !p.contains("Join") &&
        !p.contains("Window"))
    check("q98_ewma", "one group shuffle, no window/join")(p =>
      p.contains("hashpartitioning(user_id") && !p.contains("Join") &&
        !p.contains("Window"))
    // q102: the verified pair set broadcasts onto both embedding id-joins
    check("q102_crossmodal_consistency", "pair set broadcasts; equi-joins only")(p =>
      p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
    // q103: bucket-restricted negatives — equi-join on the cell code plus
    // a bounded-heap rank filter, never an all-pairs product
    check("q103_hard_negatives", "bucket equi-join + heap group-limit, no cartesian")(p =>
      p.contains("TopKPerGroupPartial") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
    // q100: the correlated per-row LIMIT must decorrelate into a bounded
    // group-limit + equi-join — never a per-outer-row nested loop
    check("q100_lateral_topk", "lateral LIMIT decorrelates to a heap group-limit + hash join")(p =>
      p.contains("TopKPerGroupPartial") &&
        (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")) &&
        !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))

    // q104: the snapshot diff is ONE full-outer sort-merge join on the
    // snapshot key — never a nested loop; the change predicate filters
    // above it
    check("q104_snapshot_diff", "diff is one full-outer SMJ on the key")(p =>
      p.contains("SortMergeJoin") && p.contains("FullOuter") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // q105: the changefeed broadcasts onto the snapshot scan — the big
    // side never shuffles for the merge join
    check("q105_merge_apply", "changefeed broadcasts onto the snapshot")(p =>
      p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    // q108: the salt must be part of the join key — event_type and __salt
    // in the SAME hashpartitioning clause (q58's assertion, join-side).
    // Broadcast disabled: at sf the replicated dim fits a broadcast, which
    // would bypass the exchange this operator exists to rebalance.
    locally {
      val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.SparkEntry.queries("q108_salted_skew_join")(spark, sfDir)
          .queryExecution.executedPlan.toString
        val ok = "hashpartitioning\\(event_type[^)]*__salt".r.findFirstIn(plan).isDefined &&
          !plan.contains("CartesianProduct")
        rec("q108_salted_skew_join", "salt reaches the join exchange", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    // q109: the classifier is a pure per-row projection over the scan
    check("q109_quality_classifier", "scoring is per-row: no hash shuffle/join/agg")(p =>
      !p.contains("hashpartitioning") && !p.contains("Join") && !p.contains("Aggregate"))
    // q110: the recount aggregates partially before its exchange, and the
    // plan contains no join — candidates arrive as a literal IN-set from
    // the sketch pass, so the only shuffle carries ≤ k distinct keys
    check("q110_heavy_hitters", "recount is partial-agg + literal IN-set, no join")(p =>
      p.contains("partial") && !p.contains("Join"))
    // q115: the Q5-shaped star join broadcasts its three dimension sides
    // (region-filtered nation, supplier, and the planner's pick of the
    // customer side at this sf) and pushes the date range to the orders scan
    check("q115_tpch_q5", "dims broadcast; date filter pushed; no cartesian")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 2 &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
        "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined)
    check("q245_tpch_q7", "nation-pair sides broadcast; ship-date pushed; no cartesian")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 2 &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
        "PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined)
    check("q246_tpch_q10", "return-flag + quarter pushed; top 20 is TakeOrdered")(p =>
      p.contains("TakeOrderedAndProject") && !p.contains("CartesianProduct") &&
        "PushedFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(p).isDefined &&
        "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined)
    check("q248_tpch_q4", "EXISTS decorrelates to a hash semi join; quarter pushed")(p =>
      p.contains("LeftSemi") && !p.contains("BroadcastNestedLoopJoin") &&
        "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined)
    check("q250_tpch_q14", "part broadcasts onto the month's lineitems")(p =>
      p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
        "PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined)
    check("q251_tpch_q19", "quantity bound pushed; OR evaluates post-join, no cartesian")(p =>
      p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        "PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p).isDefined)
    check("q252_tpch_q6", "every predicate pushed; no join anywhere")(p =>
      !p.contains("Join") &&
        "PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined &&
        "PushedFilters: \\[[^\\]]*l_discount".r.findFirstIn(p).isDefined)
    check("q253_tpch_q15", "global max broadcasts back onto the supplier rollup")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
        !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    check("q255_tpch_q21", "double correlation plans as semi stacked on anti")(p =>
      p.contains("LeftSemi") && p.contains("LeftAnti") &&
        !p.contains("CartesianProduct"))
    check("q257_tpch_q13", "zero bucket via LeftOuter; both rollups partial-agg")(p =>
      p.contains("LeftOuter") && p.contains("partial_count") &&
        !p.contains("CartesianProduct"))
    check("q258_tpch_q8", "region dims broadcast; one fact rollup carries both sums")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
        !p.contains("CartesianProduct") &&
        "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined)
    check("q260_tpch_q9", "part name filter pushed; supplier/nation broadcast; no cartesian")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 2 &&
        !p.contains("CartesianProduct") &&
        "PushedFilters: \\[[^\\]]*p_name".r.findFirstIn(p).isDefined)
    check("q261_tpch_q20", "nested chain plans as stacked semi joins; year pushed to scan")(p =>
      "LeftSemi".r.findAllIn(p).size >= 3 &&
        !p.contains("CartesianProduct") &&
        "PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined)
    check("q262_tpch_q2", "per-part min broadcasts back; part/supplier sides semi-pruned")(p =>
      p.contains("LeftSemi") && p.contains("TakeOrderedAndProject") &&
        "BroadcastHashJoin".r.findAllIn(p).size >= 3 &&
        !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    check("q263_tpch_q11", "scalar gate broadcasts onto part grain; corpus shuffles once")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
        p.contains("LeftSemi") && p.contains("partial_sum") &&
        !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    check("q264_tpch_q16", "pair-grain distinct partial-aggs; excluded suppliers anti-broadcast")(p =>
      p.contains("LeftAnti") && p.contains("partial") &&
        !p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
        !p.contains("BroadcastNestedLoopJoin"))
    // q266: IVF-PQ — assignment/residual/codes are projections; the
    // candidate join rides the broadcast probe list and the shortlist
    // refine broadcasts (the only SMJs left are the 5-to-15-row recall
    // bookkeeping joins, which AQE localizes at runtime), and no cartesian
    check("q266_ann_ivf_pq", "codes are projections; probe+refine joins broadcast")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 2 &&
        !p.contains("CartesianProduct"))
    // q265: partition pruning happens at PLANNING time (file-list
    // construction) — the physical plan must show plain unioned scans
    // with no join anywhere; the planned-vs-total file counts themselves
    // are hash-gated in the entry's ledger row
    check("q265_partition_pruning", "pruned plan is unioned scans; no join, no cartesian")(p =>
      p.contains("Union") && !p.contains("Join") && !p.contains("CartesianProduct"))
    // q270: the CM sketch builds via explode + PARTIAL aggregation, so the
    // exchange after the map side carries at most d·w·partitions rows —
    // never N; the estimate join rides the broadcast 256-row grid, and no
    // sort-merge join or cartesian appears anywhere
    check("q270_count_min_sketch", "sketch partial-aggregates before exchange; grid joins broadcast")(p =>
      p.contains("Generate explode") && p.contains("partial_count") &&
        p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
        !p.contains("CartesianProduct"))
    // q273: the grid radius join's whole claim is that the pair space is
    // an ordinary EQUI-join on the cell key (the ×9 neighbor replication
    // is a constant-factor Generate) — no cartesian, no nested loop; the
    // exact-distance verify runs as a post-join filter on candidates
    check("q273_grid_radius_join", "cell-key equi-join over ×9 explode; no cartesian")(p =>
      p.contains("Generate explode") &&
        (p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("SortMergeJoin")) &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // q276: same grid equi-join, and the per-customer top-3 must ride the
    // sortless bounded heap (WindowTopKRewrite), never a per-group sort
    check("q276_spatial_knn_join", "grid equi-join + heap group-limit; no cartesian")(p =>
      p.contains("TopKPerGroupPartial") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    check("q244_blocklist_scan", "one automaton pass per row; 7-group agg, no join")(p =>
      p.contains("partial_sum") && !p.contains("Join") &&
        !p.contains("CartesianProduct"))
    // q116: every stat join-back is a broadcast (the deviation subtree
    // appears twice — once feeding the MAD aggregation, once in the final
    // scoring join — so there are THREE broadcast joins, not two); the
    // event stream itself is never sort-merge-shuffled for a join, only
    // aggregated
    check("q116_outlier_mad", "stat tables broadcast back; corpus never join-shuffled")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size == 3 &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // q117: RI via hash anti-join; the only nested-loop is the intended
    // 1-row×1-row metric cross join
    check("q117_constraint_audit", "hash anti-join RI; 1-row NLJ only")(p =>
      p.contains("LeftAnti") &&
        "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
        !p.contains("CartesianProduct"))
    // q128 distributed shape: audit prefixJaccardPairs DIRECTLY (the q128
    // entry reads the persisted shingle memo — the q24/q78 audit split).
    // Broadcast disabled: the prefix self-join must be a hash join on the
    // shingle key, the df table must aggregate partially, no cartesian.
    locally {
      val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.queries.DedupSim.prefixJaccardPairs(spark, sfDir)
          .queryExecution.executedPlan.toString
        val ok = plan.contains("partial") && !plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("hashpartitioning(pt")
        rec("q128_pairs(distributed)", "partial df agg, shingle-key hash join, no cartesian", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    // q126: the epoch permutation must never compute its global positions
    // through a single-partition window — the bucket/offset decomposition
    // is the whole point of the operator
    check("q126_epoch_shuffle", "no SinglePartition window anywhere in the plan")(p =>
      !p.contains("SinglePartition") && p.contains("BroadcastHashJoin"))
    // q118: the sufficient statistics are ONE aggregation pass with
    // map-side combine — no join, no second scan
    check("q118_exact_regression", "one partial-agg pass, no join")(p =>
      p.contains("partial") && !p.contains("Join"))
    // q120: the cohort table broadcasts back onto the event stream
    check("q120_cohort_retention", "cohort assignment broadcasts back")(p =>
      p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
        !p.contains("CartesianProduct"))
    // q114: the bucketed layout must make the fact-fact join exchange-free
    // on the join key — the shuffle was paid once at write time. Broadcast
    // disabled so the small sf orders side can't sidestep the claim.
    locally {
      val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.SparkEntry.queries("q114_bucketed_join")(spark, sfDir)
          .queryExecution.executedPlan.toString
        val ok = plan.contains("SortMergeJoin") &&
          !plan.contains("hashpartitioning(l_orderkey") &&
          !plan.contains("hashpartitioning(o_orderkey")
        rec("q114_bucketed_join", "co-located join: no join-key exchange", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    // q111: the bipartite near-dup join shuffles on the band keys only;
    // nothing degenerates to a cartesian
    check("q111_delta_ingest_dedup", "band-key exchange, no cartesian")(p =>
      p.contains("hashpartitioning(band_idx") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))

    check("q130_dataset_digest", "row digests partial-aggregate before the bucket exchange")(p =>
      p.contains("partial") && p.contains("hashpartitioning(bucket"))
    check("q131_embedding_stats", "posexplode feeds partial agg; 64-group exchange, no join")(p =>
      p.contains("Generate") && p.contains("partial") &&
        p.contains("hashpartitioning(pos") && !p.contains("Join"))
    check("q132_interval_overlap", "overlap count is a sweep: one suppkey window, NO join")(p =>
      !p.contains("Join") && p.contains("hashpartitioning(l_suppkey") &&
        p.contains("Window"))
    // cols/agg lists are matched as SETS: the optimizer's pruning order and
    // the description's comma order are presentation details a Spark upgrade
    // may change without any real regression (round-5 ADVICE)
    def descList(p: String, key: String): Set[String] =
      (key + "=([A-Za-z0-9_,]+)").r.findFirstMatchIn(p)
        .map(_.group(1).split(",").toSet).getOrElse(Set.empty)
    check("q141_custom_source_v2", "DSv2 pushdown folds the id range; md5 column pruned in")(p =>
      p.contains("range=[1000,90000)") && descList(p, "cols") == Set("h", "bucket"))
    check("q145_agg_pushdown_v2", "aggregation answered BY the source: no Spark aggregate")(p =>
      p.contains("GenAggScan") && p.contains("range=[250,75000)") &&
        descList(p, "agg") == Set("count", "min", "max") &&
        !p.contains("HashAggregate"))
    check("q135_sorted_neighborhood", "rank-adjacency equi-join; no global-sort window")(p =>
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("SinglePartition"))
    check("q139_pagerank", "per-edge contributions partial-aggregate; 1-row NLJs only")(p =>
      !p.contains("CartesianProduct") && p.contains("partial_sum") &&
        "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3)
    check("q140_token_mass_sampling", "containment test broadcasts the 100-point side")(p =>
      !p.contains("CartesianProduct") &&
        "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    check("q147_rolling_zscore", "one user_id exchange; both frame sums in one Window; no join")(p =>
      "hashpartitioning\\(user_id".r.findAllIn(p).size == 1 &&
        !p.contains("Join") && "Window ".r.findAllIn(p).size == 1)
    check("q150_knn_graph", "bucket equi-join + native partial top-k heap, no cartesian")(p =>
      p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroup") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    check("q154_last_touch_attribution", "one user_id exchange; window carry, no as-of join")(p =>
      "hashpartitioning\\(user_id".r.findAllIn(p).size == 1 && !p.contains("Join"))
    check("q155_weighted_median", "one suppkey exchange shared by both windows and rollup")(p =>
      "hashpartitioning\\(l_suppkey".r.findAllIn(p).size == 1 && !p.contains("Join"))
    check("q160_skyline", "running min is per-coarse-bucket: no SinglePartition, no join")(p =>
      !p.contains("SinglePartition") && p.contains("hashpartitioning(cb") &&
        !p.contains("Join"))
    check("q134_bpe_merge_step", "pair counts partial-agg; top-10 is TakeOrdered")(p =>
      p.contains("partial") && p.contains("TakeOrderedAndProject"))
    check("q136_time_weighted_avg", "ONE user_id exchange feeds window AND final agg")(p =>
      "hashpartitioning\\(user_id".r.findAllIn(p).size == 1 &&
        !p.contains("CartesianProduct") && !p.contains("Join"))
    check("q137_equidepth_hist", "rank is per-coarse-bucket: no SinglePartition, no join")(p =>
      !p.contains("SinglePartition") && p.contains("hashpartitioning(cb") &&
        !p.contains("Join"))
    check("q236_ks_drift", "ECDF sums per-coarse-bucket; argmax is TakeOrdered(1), no join")(p =>
      !p.contains("SinglePartition") && p.contains("hashpartitioning(cbk") &&
        p.contains("TakeOrderedAndProject") && !p.contains("Join"))
    // the one SinglePartition is the inherent 1-row scalar fold, fed by
    // map-side partial_sum — the window/rank work all rides the cbk exchange
    check("q238_mann_whitney", "rank sums per-coarse-bucket; only the 1-row fold is global")(p =>
      "SinglePartition".r.findAllIn(p).size == 1 &&
        p.contains("hashpartitioning(cbk") && p.contains("partial_sum") &&
        !p.contains("Join"))
    check("q138_transition_matrix", "normalization window runs on the states² rollup only")(p =>
      p.contains("partial") && !p.contains("CartesianProduct") &&
        "hashpartitioning\\(user_id".r.findAllIn(p).size == 1)
    check("q173_group_quantile_gate", "partial-merge sketch pass; 5-row audit side broadcasts")(p =>
      p.contains("partial_percentile") && p.contains("partial_approx_percentile") &&
        p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
        !p.contains("CartesianProduct"))
    check("q177_store_write_roundtrip", "read-back rides the connector's scan, not a file source")(p =>
      p.contains("StoreScan") && !p.contains("FileScan"))
    check("q174_rank_fusion", "bounded heap truncates both rankings; no full-corpus window sort")(p =>
      p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroup") &&
        // every Window node has a bounded heap BELOW it (tree prints
        // top-down): the native k=60 heap caps the per-list ranking window,
        // and WindowTopKRewrite caps the final RRF ranking window, so
        // windows sort candidate lists (≤ cap rows per group), never the
        // corpus. The lowest Window must still precede the lowest Partial.
        p.lastIndexOf("Window ") < p.lastIndexOf("TopKPerGroupPartial") &&
        !p.contains("CartesianProduct") &&
        // the 3-row query side rides a broadcast NLJ by design (q27 pattern)
        "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
    check("q27_cosine_topk", "WindowTopKRewrite: heap pre-pass caps the window's sort input")(p =>
      p.contains("TopKPerGroupPartial") &&
        // Window survives above the heap, re-ranking <= k rows per group
        p.contains("Window ") && p.indexOf("Window ") < p.indexOf("TopKPerGroupPartial"))
    check("q09_dedup_first_writer", "WindowTopKRewrite: rn=1 dedup rides a k=1 heap, not a per-key sort")(p =>
      p.contains("TopKPerGroupPartial"))
    // q180's board entry ends in a LogicalRDD (the zipWithIndex offset pass),
    // so audit the exchange stage the operator rides directly: a range
    // exchange with NO all-to-one sort — the whole point of the operator is
    // that no task ever holds the global order
    locally {
      val plan = graft.ops.Ordinals.rangedStage(
          graft.core.Tables.documents(spark, sfDir).select("doc_id"),
          org.apache.spark.sql.functions.col("doc_id"), 8)
        .queryExecution.executedPlan.toString
      val ok = plan.contains("rangepartitioning(doc_id") && !plan.contains("SinglePartition")
      rec("q180_ranged(stage)", "global ordinal rides a range exchange, never SinglePartition", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }
    check("q178_bloom_prune_join", "runtime bloom prunes the fact side BEFORE the join shuffle")(p =>
      // the dim-key bloom is probed in the fact scan subtree (might_contain)
      // and built by a runtime subquery (bloom_filter_agg); the join itself
      // is the shuffle join the bloom exists for, not a broadcast
      p.contains("might_contain") && p.contains("bloom_filter_agg") &&
        (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) &&
        !p.contains("BroadcastHashJoin"))

    check("q183_countmin_prefilter", "sketch probe is a codegen filter below the agg exchange")(p =>
      // the count-min probe compiles to least(element_at(<literal>, pmod(xxhash64 ...)))
      // inside a Filter on the scan side — no join, no second pass over data
      p.contains("least(") && p.contains("xxhash64") && !p.contains("Join") &&
        p.contains("partial_count"))
    check("q184_recursive_lineage", "recursive CTE plans the engine's fixpoint loop, no cartesian")(p =>
      p.contains("UnionLoop") && !p.contains("CartesianProduct"))
    check("q185_chisq_independence", "margins broadcast onto the grid; corpus aggregated once")(p =>
      p.contains("partial_count") && !p.contains("SortMergeJoin") &&
        // the only joins are margin-sized broadcasts (incl. the deliberate
        // |langs|x|sources| broadcast cross of the two margin tables)
        p.contains("BroadcastHashJoin"))
    check("q186_compaction_bins", "prefix sum rides the scan-sum pass, not a global window sort")(p =>
      !p.contains("Window ") && !p.contains("SinglePartition") &&
        p.contains("partial_count"))
    check("q187_sq8_recall", "both rankings capped by the bounded heap; no full sort per query")(p =>
      p.contains("TopKPerGroupPartial") && !p.contains("CartesianProduct"))
    check("q191_zorder_skipping", "layout audit avoids the oracle's global window sort")(p =>
      // file assignment is globalOrdinal (range exchange + zipWithIndex,
      // ending in LogicalRDDs here); the oracle's row_number() window —
      // an all-to-one sort at 100 TB — must NOT appear
      !p.contains("Window ") && !p.contains("SinglePartition"))
    check("q192_gram_matrix", "Gram partials fold in mapPartitions; no explode blowup, no join")(p =>
      // shuffle carries #partitions x 2080 partial rows: the object fold
      // (SerializeFromObject) feeds a partial HashAggregate — never a
      // Generate/explode of N x 4096 rows or a self-join
      p.contains("SerializeFromObject") && p.contains("partial_sum") &&
        !p.toLowerCase.contains("generate") && !p.contains("Join"))
    check("q193_pareto_frontier", "skyline is group+prefix-max+equi-join, not the quadratic oracle")(p =>
      // the oracle is a NOT EXISTS dominance self-join; the plan must carry
      // neither a cartesian nor a window sort — just the grouped-table
      // prefix pass (LogicalRDD) joined back on n_chars
      !p.contains("CartesianProduct") && !p.contains("Window ") &&
        !p.contains("SinglePartition"))
    check("q194_drift_tv_bc", "drift grid is margin-sized broadcasts after one corpus aggregation")(p =>
      p.contains("partial_count") && p.contains("BroadcastHashJoin") &&
        !p.contains("SortMergeJoin"))
    check("q195_k_anonymity", "generalization ladder re-aggregates one materialized grid, never the corpus")(p =>
      // the corpus scan happens ONCE, inside the contingency table's
      // localCheckpoint — the audited plan's three union branches read the
      // grid-sized LogicalRDD; the only file scan left is the 25-row
      // nation dim feeding the l2 broadcast
      p.contains("Union") && p.contains("Scan ExistingRDD") &&
        !p.contains("orders.parquet") && !p.contains("customer.parquet") &&
        p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    check("q196_revenue_acf", "lag pairings broadcast-join the day-grain series, not the corpus")(p =>
      // series is checkpointed day-grain metadata; both the lag spine and
      // the shifted side broadcast — no shuffle join, no corpus rescan
      p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
        !p.toLowerCase.contains("parquet"))
    check("q197_gini_diversity", "concentration audit is pure aggregation — no join anywhere")(p =>
      p.contains("partial_count") && !p.contains("Join"))
    check("q198_calibration_ece", "bin face and ECE row both read the materialized 10-row bin table")(p =>
      p.contains("Union") && !p.toLowerCase.contains("parquet") &&
        !p.contains("Join") && !p.contains("Window "))
    check("q199_segment_overlap", "pair matrix derives from the bitmask histogram, never a user-user join")(p =>
      // the corpus-scale bit_or-per-user aggregation runs once, inside the
      // histogram's localCheckpoint — the audited plan cross-joins the
      // GRID-sized mask RDD against broadcast pair/segment spines; the
      // quadratic user self-join lives only in the oracle
      p.contains("Scan ExistingRDD") && p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("events.parquet") && !p.contains("SortMergeJoin") &&
        !p.contains("CartesianProduct"))
    check("q200_hilbert_layout", "layout audit avoids the oracle's global window sort (q191 class)")(p =>
      // the hilbert_d codegen loop and binning run inside globalOrdinal
      // (range exchange + count job, ending in LogicalRDDs); the oracle's
      // row_number() window — an all-to-one sort at 100 TB — must NOT appear
      p.contains("Union") && p.contains("Scan ExistingRDD") &&
        !p.contains("Window ") && !p.contains("SinglePartition"))
    check("q201_priority_sample", "sample is a bounded heap; the rank window sees k+1 rows, not the corpus")(p =>
      // the only corpus-ordered operator must be TakeOrderedAndProject
      // (map-side partial heaps); the row_number window and the estimator
      // arithmetic run over the 101 survivors
      p.contains("TakeOrderedAndProject") && p.contains("Window") &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    check("q202_incremental_view", "IVM merge scans parquet once (the delta); the view is the checkpoint")(p => {
      val finalP = p.split("== Initial Plan ==").head
      finalP.contains("Scan ExistingRDD") &&
        "FileScan".r.findAllIn(finalP).size <= 1
    })
    check("q203_conjunctive_search", "posting intersection as filtered aggregation: no join, bounded top-k")(p =>
      !p.contains("Join") && p.contains("TakeOrderedAndProject") &&
        p.contains("partial_count"))
    check("q204_mixture_waterfill", "water-filling windows run on the source grid; totals broadcast")(p =>
      // one corpus aggregation; the grid windows are SinglePartition over
      // ~20 rows (documented, q195 discipline) and the scalar totals enter
      // via BroadcastNestedLoopJoin — never a corpus-side shuffle join
      p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin") &&
        "FileScan".r.findAllIn(p.split("== Initial Plan ==").head).size <= 1)
    check("q205_semantic_dedup", "cluster-bucketed pairs: equi-join on cell, never a cartesian")(p =>
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
        p.contains("cosine_f32"))
    check("q206_scd2_dimension", "both SCD2 windows ride ONE user_id exchange")(p =>
      "Exchange hashpartitioning\\(user_id".r.findAllIn(
        p.split("== Initial Plan ==").head).size <= 1 &&
        !p.contains("SinglePartition"))
    check("q207_grouped_ols", "regression is one corpus aggregation — no join, no window")(p =>
      p.contains("partial_count") && !p.contains("Join") && !p.contains("Window "))
    check("q208_stratified_priority", "per-stratum sample rides the sortless bounded heap")(p =>
      p.contains("TopKPerGroupPartial"))
    check("q211_point_in_time_join", "as-of union timeline: no range join, windows on user_id exchanges")(p =>
      !p.contains("Join") && !p.contains("CartesianProduct") &&
        p.contains("Union") && !p.contains("SinglePartition"))
    check("q330_asof_join", "generic AsOfJoin operator: union+window, no join node, no nested loop")(p =>
      !p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct") &&
        p.contains("Union") && p.contains("Window") &&
        !p.contains("SinglePartition"))
    check("q189_spj_colocated_join", "storage-partitioned join: NO exchange on either side or the rollup")(p =>
      // the join and the bucket rollup both ride the connector's reported
      // KeyGroupedPartitioning — the only exchange left is the ORDER BY's
      // range partitioning
      (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) &&
        !p.contains("hashpartitioning") && !p.contains("BroadcastHashJoin"))

    // ---------------------------------------------------------------- r8
    check("q227_bm25_ranking", "df broadcast to tf, top-20 is TakeOrdered")(p =>
      p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject") &&
        !p.contains("CartesianProduct"))
    check("q230_phrase_search", "postings IN-pruned scan reads only (doc_id,text); no cartesian")(p =>
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
        p.contains("ReadSchema") && !p.contains("embedding") && !p.contains("n_chars") &&
        // per-doc hit counts fold map-side before the phrase-level digest
        p.contains("partial_count"))
    check("q224_avro_roundtrip", "DSv2 Avro scan, projection narrowed (no doc_id/source read)")(p =>
      p.contains("BatchScan") && !p.contains("doc_id") && !p.contains("source"))
    check("q225_hll_registers", "register grid folds map-side (partial max before exchange)")(p =>
      p.contains("partial_max"))
    check("q223_stats_file_skipping", "residual predicate still pushed below the manifest pruning")(p =>
      // manifest stats dropped whole files at planning; the parquet scan
      // over the survivors STILL carries the pushed range predicate
      p.contains("PushedFilters: [IsNotNull(o_oyear), GreaterThanOrEqual(o_oyear"))
    // Shallow-clone read shape: external (@) refs plan as a plain parquet
    // multi-path scan; carried delete vectors apply as broadcast-sized
    // anti-joins — never a cartesian, never a shuffle on the data side.
    locally {
      import spark.implicits._
      val tmp = sys.props("java.io.tmpdir")
      val src = s"$tmp/graft_plancheck_clone_src_${System.nanoTime()}"
      val dst = s"$tmp/graft_plancheck_clone_dst_${System.nanoTime()}"
      graft.io.TxnLog.commit((1L to 1000L).toDF("v").coalesce(1), src)
      graft.io.TxnLog.deleteVector(spark, src, "v < 10", Seq("v"))
      graft.io.TxnLog.clone(spark, src, dst)
      val plan = graft.io.TxnLog.read(spark, dst)
        .queryExecution.executedPlan.toString
      val ok = plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin") &&
        !plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin")
      rec("clone_read(txnlog)", "clone read = parquet scan + broadcast anti-join vectors", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }

    // q311's SQL route: `CREATE TABLE ... SHALLOW CLONE ... VERSION AS OF n`
    // through the catalog — the clone commit is METADATA-ONLY (zero data
    // files land under the clone's dir) and the clone's scan plans as the
    // native DSv2 parquet BatchScan over the external refs, pushdown intact.
    locally {
      val s = spark.newSession()
      val wh = java.nio.file.Files.createTempDirectory("graft_pc_sqlclone").toString
      s.conf.set("spark.sql.catalog.gpc", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gpc.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gpc.db")
      s.sql("CREATE TABLE gpc.db.src AS SELECT id AS k, id * 2 AS x FROM range(0, 1000)")
      s.sql("INSERT OVERWRITE gpc.db.src SELECT id, id FROM range(0, 10)")
      s.sql("CREATE TABLE gpc.db.cl SHALLOW CLONE gpc.db.src VERSION AS OF 1")
      val localData = new java.io.File(s"$wh/db/cl").listFiles()
        .count(_.getName != "_txnlog")
      val plan = s.sql("SELECT k FROM gpc.db.cl WHERE x > 100")
        .queryExecution.executedPlan.toString
      val ok = localData == 0 && plan.contains("BatchScan") &&
        plan.contains("PushedFilters: [IsNotNull(x), GreaterThan(x,100)]") &&
        !plan.contains("CartesianProduct")
      rec("q311_sql_clone_scan",
        "SQL shallow clone: zero local data files; scan = pushed-down BatchScan", ok)
      if (!ok) { failures += 1
        println(s"localData=$localData\n" + plan.linesIterator.take(30).mkString("\n")) }
    }

    // q317's merge-on-read SQL scan: a vectored catalog table serves
    // SELECT as parquet scan + BROADCAST anti-join (vector side is
    // metadata-sized), residual predicate still pushed to parquet,
    // never a cartesian or sort-merge on the data side.
    locally {
      val s = spark.newSession()
      val wh = java.nio.file.Files.createTempDirectory("graft_pc_morscan").toString
      s.conf.set("spark.sql.catalog.gpm", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gpm.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gpm.db")
      s.sql("CREATE TABLE gpm.db.t AS SELECT id AS k, id * 2 AS x FROM range(0, 2000)")
      graft.io.TxnLog.deleteVector(s, s"$wh/db/t", "k < 100", Seq("k"))
      val plan = s.sql("SELECT k FROM gpm.db.t WHERE x > 500")
        .queryExecution.executedPlan.toString
      val ok = plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin") &&
        plan.contains("PushedFilters: [IsNotNull(x), GreaterThan(x,500)]") &&
        !plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin")
      rec("q317_mor_scan",
        "vectored SQL scan = pushed parquet + broadcast anti-join", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }

    // ----------------------------------------------------------------
    // Dynamic partition pruning demonstration: the partitioned corpus
    // (q77's layout) joined to a FILTERED tiny dim on the partition column
    // must prune partitions from the dim's runtime result, not scan all of
    // them — the scan shows a dynamicpruningexpression in PartitionFilters.
    // This is the join-driven complement of q77's static pruning: at 100 TB
    // the filter usually lives on a dimension table, not the fact scan.
    // ----------------------------------------------------------------
    locally {
      val q77 = graft.SparkEntry.queries("q77_partition_pruning")
      q77(spark, sfDir) // ensures the partitioned layout exists
      val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val prevInfer = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try {
        val tmp = sys.props("java.io.tmpdir")
        // the dim must be a FILE relation: DPP's benefit estimation declines
        // a LocalRelation build side (measured here), which is also the
        // realistic shape — at scale the dim is a table, not literals
        spark.range(0, 5)
          .selectExpr(
            "CASE id WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr' WHEN 3 THEN 'es' ELSE 'zh' END AS lang",
            "CASE WHEN id < 2 THEN 'keep' ELSE 'drop' END AS action")
          .write.mode("overwrite").parquet(s"$tmp/graft_dpp_dim")
        val fact = spark.read.parquet(graft.queries.PipelineQueries.q77OutDir(sfDir))
        val dim = spark.read.parquet(s"$tmp/graft_dpp_dim").filter("action = 'keep'")
        val plan = fact.join(dim, "lang").groupBy("lang").count()
          .queryExecution.executedPlan.toString
        val ok = "PartitionFilters: \\[[^\\]]*dynamicpruning".r.findFirstIn(plan).isDefined
        rec("dynamic_partition_pruning", "dim filter prunes fact partitions at runtime", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prevInfer match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }

    // ----------------------------------------------------------------
    // Runtime bloom-filter join pruning demonstration: a selective filter
    // on one join side injects a bloom filter that prunes the other side's
    // shuffle input at runtime (row-level runtime filtering — the shuffle
    // analog of DPP). At 100 TB this cuts the big side's shuffle volume to
    // ~the matching keys before the exchange.
    // ----------------------------------------------------------------
    locally {
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        // the application-side gate defaults to 10 GB — far above any local
        // fixture; at 100 TB the default gate passes on its own
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val tmp = sys.props("java.io.tmpdir")
        // file relations: InjectRuntimeFilter only treats a selective
        // filter OVER A SCAN as a creation side, so Range/local relations
        // don't qualify
        spark.range(0, 2000000L).selectExpr("id % 100000 AS k", "id AS v")
          .write.mode("overwrite").parquet(s"$tmp/graft_bloom_fact")
        spark.range(0, 100000L).selectExpr("id AS k", "id % 17 AS grp")
          .write.mode("overwrite").parquet(s"$tmp/graft_bloom_dim")
        val fact = spark.read.parquet(s"$tmp/graft_bloom_fact")
        val dim = spark.read.parquet(s"$tmp/graft_bloom_dim").filter("grp = 3")
        val plan = fact.join(dim, "k").groupBy("grp").count()
          .queryExecution.executedPlan.toString
        val ok = plan.contains("might_contain") && plan.contains("bloom_filter_agg")
        rec("runtime_bloom_filter", "selective dim side injects a bloom filter on the fact scan", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    // ----------------------------------------------------------------
    // AQE skew-join demonstration: a synthetically skewed sort-merge join
    // (99% of 2M left rows on one key) must be split by
    // spark.sql.adaptive.skewJoin at runtime — the final adaptive plan marks
    // the join "skew=true". This is the join-side complement of the salted
    // aggregation above (AQE rebalances joins, not aggregations).
    // ----------------------------------------------------------------
    {
      val prevAdaptive = spark.conf.getOption("spark.sql.adaptive.enabled")
      val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val left = spark.range(0, 2000000L)
          .selectExpr("if(id % 100 < 99, 0L, id) AS k", "id AS v")
        val right = spark.range(0, 1000L).selectExpr("id AS k", "id * 2 AS w")
        val joined = left.join(right, "k")
        // execute THIS QueryExecution (df.count() would build a fresh one)
        // so AQE finalizes the adaptive plan we inspect
        joined.queryExecution.toRdd.foreachPartition(_ => ())
        val plan = joined.queryExecution.executedPlan.toString
        val ok = plan.contains("skew=true")
        rec("aqe_skew_join", "AQE splits the skewed partition (skew=true)", ok)
        if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      } finally {
        def restore(key: String, prev: Option[String]): Unit = prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        restore("spark.sql.adaptive.enabled", prevAdaptive)
        restore("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      }
    }

    // ----------------------------------------------------------------
    // q278's rewrite rule, probed with a live registration (the board
    // query materializes inside its registration window, so its returned
    // plan is a LocalRelation — pin the physical shape here instead):
    // with the MV registered, a derivable rollup's EXECUTED plan must
    // scan the MV parquet and not lineitem; with it unregistered, the
    // same query must scan lineitem. The rewrite's routing decision is
    // also hash-gated per face via q278's mv_used column.
    // ----------------------------------------------------------------
    {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val li = graft.core.Tables.lineitem(spark, sfDir)
      val dec = DecimalType(18, 4)
      val mvDir = java.nio.file.Files.createTempDirectory("graft_plancheck_mv").toString
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast(dec)).as("sum_qty"))
        .coalesce(1).write.parquet(s"$mvDir/mv")
      graft.plans.MvRewrite.register(graft.plans.MvRewrite.MvDef(
        s"$sfDir/lineitem.parquet", s"$mvDir/mv",
        Seq("l_returnflag", "l_linestatus"), "cnt",
        Seq(graft.plans.MvRewrite.MvMeasure("sum", "l_quantity", Some(dec), "sum_qty"))))
      try {
        def probe() = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
               sum(col("l_quantity").cast(dec)).cast("double").as("sv"))
          .queryExecution.executedPlan.toString
        val routedPlan = probe()
        val ok = routedPlan.contains("graft_plancheck_mv") &&
          !routedPlan.contains("lineitem.parquet")
        rec("q278_mv_rewrite", "registered MV replaces the fact scan in the executed plan", ok)
        if (!ok) { failures += 1; println(routedPlan.linesIterator.take(40).mkString("\n")) }
        graft.plans.MvRewrite.clear()
        val plainPlan = probe()
        val ok2 = plainPlan.contains("lineitem.parquet") &&
          !plainPlan.contains("graft_plancheck_mv")
        rec("q278_mv_rewrite_off", "unregistered: the same query scans the fact table", ok2)
        if (!ok2) { failures += 1; println(plainPlan.linesIterator.take(40).mkString("\n")) }
      } finally graft.plans.MvRewrite.clear()
    }

    // ----------------------------------------------------------------
    // Cost-based join reorder: with ANALYZE'd column stats and CBO on,
    // the syntactically fact-first 3-table join (big ⋈ mid ⋈ small)
    // must reorder to join the two SMALL sides first — the star-schema
    // order that keeps the fact table out of the intermediate result.
    // At 100 TB a syntax-order join of fact⋈fact-sized intermediates is
    // the classic plan catastrophe the optimizer's stats exist to avoid;
    // this pins that the engine surface (ANALYZE → catalog stats → CBO
    // reorder) is wired and live, and that WITHOUT stats the plan keeps
    // syntax order (the control).
    // ----------------------------------------------------------------
    {
      val prev = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.range(500000).selectExpr("id AS a_k", "id % 100 AS a_v")
          .write.mode("overwrite").saveAsTable("graft_cbo_big")
        spark.range(500).selectExpr("id AS b_k")
          .write.mode("overwrite").saveAsTable("graft_cbo_small")
        spark.range(100000).selectExpr("id AS c_k", "id % 500 AS c_b")
          .write.mode("overwrite").saveAsTable("graft_cbo_mid")
        val sql = """SELECT count(*) FROM graft_cbo_big
                    |JOIN graft_cbo_mid ON a_k = c_k
                    |JOIN graft_cbo_small ON c_b = b_k""".stripMargin
        def outerJoin(): String = spark.sql(sql).queryExecution.optimizedPlan
          .toString.linesIterator.find(_.contains("Join Inner")).getOrElse("")
        spark.conf.set("spark.sql.cbo.enabled", "false")
        val control = outerJoin() // syntax order: small join outermost
        val okCtl = control.contains("c_b") && !control.contains("a_k")
        rec("cbo_reorder_off", "without stats/CBO the join keeps syntax order", okCtl)
        if (!okCtl) { failures += 1; println(control) }
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        Seq("graft_cbo_big", "graft_cbo_small", "graft_cbo_mid").foreach(t =>
          spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
        val reordered = outerJoin() // fact joins LAST: outermost is a_k = c_k
        val ok = reordered.contains("a_k") && !reordered.contains("c_b")
        rec("cbo_reorder_on", "ANALYZE stats + CBO push the fact join outermost", ok)
        if (!ok) { failures += 1; println(reordered) }
      } finally {
        prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        Seq("graft_cbo_big", "graft_cbo_small", "graft_cbo_mid").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }

    // ----------------------------------------------------------------
    // SQL catalog front door (q289): the catalog's DSv2 scan must plan
    // the SAME pruned parquet read as the Scala API path — pushed
    // filters, pruned ReadSchema, and the identical snapshot file set
    // (a catalog that listed the directory instead of the snapshot
    // would silently scan uncommitted orphans — the decoy proves it
    // doesn't). Hive-partitioned commits must prune by partition value
    // through the same front door.
    // ----------------------------------------------------------------
    {
      val wh = java.nio.file.Files.createTempDirectory("graft_pc_cat").toString
      spark.conf.set("spark.sql.catalog.gpc", classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gpc.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gpc.db")
      val dir = s"$wh/db/t"
      graft.io.TxnLog.commit(
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select("l_orderkey", "l_quantity", "l_returnflag", "l_tax"), dir)
      // orphan decoy: on-disk but in no manifest — must never be scanned
      spark.range(5).selectExpr("id AS l_orderkey", "CAST(id AS DOUBLE) AS l_quantity",
        "'Z' AS l_returnflag", "0.0 AS l_tax")
        .coalesce(1).write.parquet(s"$dir/decoy-orphan")
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      // the files the catalog scan will ACTUALLY read (post partition
      // pruning): the physical BatchScan's file partitions — inputFiles
      // doesn't serve connector tables that aren't themselves FileTables
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputRDD.partitions.flatMap {
              case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
                p.inputPartitions.flatMap {
                  case f: org.apache.spark.sql.execution.datasources.FilePartition =>
                    f.files.map(pf => norm(pf.filePath.toString))
                  case _ => Nil
                }
              case _ => Nil
            }.toSet
        }.headOption.getOrElse(Set.empty)
      val q = spark.sql("SELECT l_quantity FROM gpc.db.t WHERE l_returnflag = 'R'")
      val plan = q.queryExecution.executedPlan.toString
      val apiQ = graft.io.TxnLog.read(spark, dir)
        .filter("l_returnflag = 'R'").select("l_quantity")
      val snapFiles = graft.io.TxnLog.fileScanPlan(dir)._2.map(norm).toSet
      val catFiles = scannedFiles(q)
      val ok = plan.contains("EqualTo(l_returnflag,R)") &&
        plan.contains("ReadSchema") && !plan.contains("l_tax") &&
        catFiles == snapFiles &&
        apiQ.inputFiles.map(norm).toSet == snapFiles &&
        !catFiles.exists(_.contains("decoy-orphan"))
      rec("q289_catalog_scan", "catalog scan = API path: pushdown, pruning, snapshot file set (decoy unscanned)", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }

      val pdir = s"$wh/db/tp"
      graft.io.TxnLog.commitPartitioned(
        spark.range(400).selectExpr("id", "concat('p', id % 4) AS part"),
        pdir, Seq("part"))
      val pq = spark.sql("SELECT id FROM gpc.db.tp WHERE part = 'p1'")
      val pFiles = scannedFiles(pq).toSeq
      val allFiles = graft.io.TxnLog.fileScanPlan(pdir)._2
      val ok2 = pFiles.nonEmpty && pFiles.forall(_.contains("part=p1")) &&
        allFiles.exists(!_.contains("part=p1")) // pruning had something to prune
      rec("q289_catalog_partition_prune", "catalog scan prunes hive-partitioned commits by value", ok2)
      if (!ok2) { failures += 1; println(pq.queryExecution.executedPlan.toString.linesIterator.take(40).mkString("\n")) }
    }

    // ----------------------------------------------------------------
    // SQL DML lowering (q292): the optimizer must rewrite all three DML
    // statements on a catalog table into graft commands — asserted on
    // the OPTIMIZED plan without executing (CommandExecutionMode.SKIP),
    // so this pins the lowering itself: had it not fired, the planner
    // would throw "table does not support deletes" at 100 TB just as at
    // 10 rows.
    // ----------------------------------------------------------------
    {
      graft.plans.SqlDml.ensure(spark)
      val wh = java.nio.file.Files.createTempDirectory("graft_pc_dml").toString
      spark.conf.set("spark.sql.catalog.gdml", classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gdml.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gdml.db")
      spark.sql("CREATE TABLE gdml.db.t (k BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO gdml.db.t VALUES (1, 1.0), (2, 2.0)")
      def lowered(sql: String) =
        spark.sessionState.executePlan(
          spark.sessionState.sqlParser.parsePlan(sql),
          org.apache.spark.sql.execution.CommandExecutionMode.SKIP).optimizedPlan
      val okD = lowered("DELETE FROM gdml.db.t WHERE k = 1")
        .isInstanceOf[graft.plans.GraftDeleteCommand]
      val okU = lowered("UPDATE gdml.db.t SET v = v + 1 WHERE k = 2")
        .isInstanceOf[graft.plans.GraftUpdateCommand]
      val okM = lowered("""MERGE INTO gdml.db.t USING (SELECT 2 AS k, 9.0 AS nv) s
          ON gdml.db.t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.nv
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
        .isInstanceOf[graft.plans.GraftMergeCommand]
      val ok = okD && okU && okM
      rec("q292_dml_lowering",
        "DELETE/UPDATE/MERGE optimize to graft commands (D/U/M = " +
          s"$okD/$okU/$okM)", ok)
      if (!ok) failures += 1
    }

    // q303: the catalog's partitioned tables (shared pdata hive tree) must
    // give NATIVE partition pruning — the partition predicate lands in the
    // scan's PartitionFilters (pruned at the file index, before any footer
    // is opened), never as a post-scan row filter
    {
      val wh = java.nio.file.Files.createTempDirectory("graft_pc_part").toString
      spark.conf.set("spark.sql.catalog.gpt", classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gpt.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gpt.db")
      spark.sql("""CREATE TABLE gpt.db.pt PARTITIONED BY (p) AS
        SELECT id AS k, CAST(id % 7 AS STRING) AS p FROM range(0, 1000)""")
      spark.sql("INSERT INTO gpt.db.pt SELECT id, CAST(id % 7 AS STRING) " +
        "FROM range(1000, 2000)") // second commit: shared tree must still scan
      val plan = spark.sql("SELECT COUNT(*) FROM gpt.db.pt WHERE p = '3'")
        .queryExecution.executedPlan.toString
      val ok = "PartitionFilters: \\[[^\\]]*p".r.findFirstIn(plan).isDefined &&
        !plan.contains("Filter (p")
      rec("q303_partitioned_catalog",
        "partition predicate reaches PartitionFilters across two commits", ok)
      if (!ok) { failures += 1; println(plan.linesIterator.take(40).mkString("\n")) }
    }

    // q303 REPLACE face: a FAILED atomic RTAS must abort without litter —
    // no version lands, no staged parquet survives, and (for a table that
    // never existed) no directory either. This is the StagingTableCatalog
    // contract the round-12 replace path sells; a leak here becomes
    // unbounded storage growth under retried ETL at 100 TB.
    {
      val wh = java.nio.file.Files.createTempDirectory("graft_pc_rtas").toString
      spark.conf.set("spark.sql.catalog.gpt.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gpt.db")
      spark.sql("CREATE TABLE gpt.db.rt AS SELECT id AS k FROM range(0, 10)")
      val dir = s"$wh/db/rt"
      def census(): Set[String] = {
        def walk(f: java.io.File, pfx: String): Set[String] =
          Option(f.listFiles()).map(_.toSet).getOrElse(Set.empty).flatMap { c =>
            if (c.isDirectory) walk(c, s"$pfx/${c.getName}")
            else Set(s"$pfx/${c.getName}")
          }
        walk(new java.io.File(dir), "").filter(_.endsWith(".parquet"))
      }
      val before = census()
      val vBefore = graft.io.TxnLog.currentVersion(dir)
      val threw = try {
        spark.sql("REPLACE TABLE gpt.db.rt AS " +
          "SELECT assert_true(id < 1) AS a FROM range(0, 100)")
        false
      } catch { case _: Exception => true }
      val threwNew = try {
        spark.sql("CREATE TABLE gpt.db.rtnew AS " +
          "SELECT assert_true(id < 1) AS a FROM range(0, 100)")
        false
      } catch { case _: Exception => true }
      val ok = threw && threwNew &&
        graft.io.TxnLog.currentVersion(dir) == vBefore &&
        census() == before &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/db/rtnew"))
      rec("q303_rtas_abort_clean",
        "failed atomic RTAS/CTAS: no version, no staged litter, no ghost dir", ok)
      if (!ok) failures += 1
    }

    // image multimodal shapes: codecs are map-side work, dedup pays ONE
    // keyed shuffle — the plan must show exactly that
    check("q293_image_png_e2e", "map-only codec path: no hash shuffle (sort exchange only)")(p =>
      !p.contains("Exchange hashpartitioning"))
    // image similarity: the 24-query workload broadcasts (scan is linear
    // in corpus size) and the rank-3 filter lowers to the bounded heap —
    // no per-query sort of the full pair set
    check("q301_image_similarity", "query side broadcast; top-k via bounded heap")(p =>
      p.contains("BroadcastNestedLoopJoin") && p.contains("TopKPerGroup"))
    // q304: corpus-sized query side — the bucket join must be a HASH join
    // (never cartesian/NLJ on the corpus), and BOTH rank filters (the
    // 64-member pool guard and the top-3) lower to bounded heaps
    check("q304_image_ann_bucketed", "bucket hash join; pool + top-k are bounded heaps")(p =>
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
        "TopKPerGroup".r.findAllIn(p).size >= 2)

    // countDistinct(dims) expands to Spark's standard two-phase distinct
    // aggregate: one exchange on (dhash, dims), one on (dhash) — BOTH
    // keyed fingerprint-first with map-side partials, never a global one
    check("q294_image_dedup_dhash", "every exchange keyed fingerprint-first, partial agg before each")(p => {
      val hashEx = "Exchange hashpartitioning\\(\\w+".r.findAllIn(p).toSeq
      hashEx.nonEmpty && hashEx.size <= 2 &&
        hashEx.forall(_.contains("hashpartitioning(dhash")) &&
        p.contains("partial_")
    })

    println(if (failures == 0) "== all plan checks passed ==" else s"== $failures FAILED ==")
    // optional 2nd arg: persist the run as a diffable JSON artifact
    args.drop(1).headOption.foreach { out =>
      def esc(s: String) = s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
      val body = results.map { case (label, (what, ok)) =>
        s"""  "${esc(label)}": {"what": "${esc(what)}", "pass": $ok}"""
      }.mkString("{\n", ",\n", s",\n  \"_summary\": {\"checks\": ${results.size}, \"failures\": $failures}\n}\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), body)
      println(s"wrote $out")
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
