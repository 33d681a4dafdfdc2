package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scale-technique specs: bucketed co-located joins (shuffle elimination),
  * and approximate aggregates vs their exact counterparts. These document
  * the 100 TB playbook in executable form. */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val warehouse = java.nio.file.Paths.get(graft.io.FsUtil.scratchDir("graft_wh"))

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse.toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    spark.stop()
    // remove the temp warehouse tree
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    Files.walk(warehouse).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
  }

  test("q24 candidate cache: overflow past the pair cap falls back to persist") {
    MemoOverflow.assertFallsBackToPersist(spark, "/root/testdata/sf0.001",
      "lsh_candidates", Seq("q24_minhash_lsh_pairs", "q45_minhash_jaccard_verified"))
  }

  test("q25/q78 signature memo: overflow past the row cap falls back to persist") {
    MemoOverflow.assertFallsBackToPersist(spark, "/root/testdata/sf0.001",
      "simhash_signatures", Seq("q25_simhash", "q78_simhash_neardup"))
  }

  test("chunk and decision memos: overflow past the row cap falls back to persist") {
    val d = "/root/testdata/sf0.001"
    MemoOverflow.assertFallsBackToPersist(spark, d, "chunk_bands+chunk_pairs",
      Seq("q357_chunk_minhash_neardup", "q368_neardup_decontamination"))
    MemoOverflow.assertFallsBackToPersist(spark, d, "decisions",
      Seq("q360_curation_composite", "q363_curation_yield"))
  }

  test("session memo: eviction by (session, dir), by a dir switch, and per session") {
    import graft.core.SessionMemo
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val d = "/root/testdata/sf0.001"
    val d2 = "/root/testdata/sf0.01"
    val other = spark.newSession()
    def q(name: String, s: SparkSession, dir: String) =
      graft.SparkEntry.queries(name)(s, dir).collect()
    def cachedRdds(s: SparkSession, dir: String): Map[String, Seq[Int]] =
      SessionMemo.entries(s, dir).collect { case (kind, df: Dataset[_]) =>
        kind -> df.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
        }
      }
    // the index dirs the memo owns, by kind
    def indexDirs(s: SparkSession, dir: String): Map[String, java.io.File] =
      SessionMemo.entries(s, dir).collect { case (kind, SessionMemo.Owned(p, _)) =>
        kind -> new java.io.File(p)
      }
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    val ivf = Seq("q345_ivf_sqrtn_partitioned", "q351_ivf_stream_append")
    try {
      // one consumer per memo kind; q361 builds the chunk pairs while
      // resolving the chunk bands, the nested build. Cap 0 persists every
      // DataFrame kind, so each entry owns an RDD the eviction must
      // release; q345 and q351 own their index dirs.
      SessionMemo.withLocalRowCap(0) {
        (Seq("q24_minhash_lsh_pairs", "q25_simhash", "q80_substring_spans",
          "q128_prefix_jaccard_join", "q361_chunk_dedup_clusters",
          "q360_curation_composite") ++ ivf).foreach(q(_, spark, d))
      }
      val rdds = cachedRdds(spark, d)
      assert(rdds.keySet == Set("lsh_candidates", "simhash_signatures",
        "substring_spans", "shingle_arrays", "chunk_bands", "chunk_pairs",
        "decisions"))
      assert(rdds.values.forall(_.nonEmpty), s"unpersisted memo: $rdds")
      assert(rdds.values.flatten.forall(persistent.contains))
      val dirs = indexDirs(spark, d)
      assert(dirs.keySet == Set("ivf_index", "ivf_base_index"))
      assert(dirs.values.forall(_.isDirectory))
      (Seq("q25_simhash") ++ ivf).foreach(q(_, other, d))
      val otherKinds = Set("simhash_signatures", "ivf_index", "ivf_base_index")
      assert(SessionMemo.entries(other, d).keySet == otherKinds)
      val otherDirs = indexDirs(other, d).values
      assert(otherDirs.forall(_.isDirectory) && (otherDirs.toSet & dirs.values.toSet).isEmpty)

      graft.queries.DedupSim.invalidateSessionCaches(spark, d)
      assert(SessionMemo.entries(spark, d).isEmpty)
      assert(rdds.values.flatten.forall(!persistent.contains(_)))
      assert(dirs.values.forall(!_.exists), s"index dirs outlive the eviction: $dirs")
      // another session's entries, index dirs included, survive the eviction
      assert(SessionMemo.entries(other, d).keySet == otherKinds)
      assert(otherDirs.forall(_.isDirectory))

      // a memo call on a second dir releases every entry of the first
      SessionMemo.withLocalRowCap(0)(q("q24_minhash_lsh_pairs", spark, d))
      ivf.foreach(q(_, spark, d))
      val candRdds = cachedRdds(spark, d).values.flatten
      assert(candRdds.nonEmpty && candRdds.forall(persistent.contains))
      val dirs2 = indexDirs(spark, d).values
      assert(dirs2.size == 2 && dirs2.forall(_.isDirectory))
      q("q25_simhash", spark, d2)
      assert(SessionMemo.entries(spark, d).isEmpty)
      assert(candRdds.forall(!persistent.contains(_)))
      assert(dirs2.forall(!_.exists), s"index dirs outlive the dir switch: $dirs2")
      assert(SessionMemo.entries(spark, d2).keySet == Set("simhash_signatures"))
      assert(SessionMemo.entries(other, d).keySet == otherKinds)
      assert(otherDirs.forall(_.isDirectory))
    } finally {
      graft.queries.DedupSim.invalidateSessionCaches(spark, d)
      graft.queries.DedupSim.invalidateSessionCaches(spark, d2)
      graft.queries.DedupSim.invalidateSessionCaches(other, d)
    }
  }

  test("q79 components: distributed large-star/small-star equals driver union-find") {
    val d = "/root/testdata/sf0.001"
    val q79 = graft.SparkEntry.queries("q79_dedup_clusters")
    val local = q79(spark, d).collect().map(_.toSeq).toSeq
    // cap 0 forces the distributed path
    val dist = graft.core.SessionMemo.withLocalRowCap(0)(
      q79(spark, d).collect().map(_.toSeq).toSeq)
    assert(dist == local, "both component paths must reach the same fixpoint")
  }

  test("q172 bounded BFS: distributed frontier form equals driver adjacency walk") {
    val d = "/root/testdata/sf0.001"
    val q172 = graft.SparkEntry.queries("q172_bounded_bfs")
    val local = q172(spark, d).collect().map(_.toSeq).toSeq
    // cap 0 forces the distributed path
    val dist = graft.core.SessionMemo.withLocalRowCap(0)(
      q172(spark, d).collect().map(_.toSeq).toSeq)
    assert(dist == local, "both BFS paths must produce the same min-hop levels")
  }

  test("bounded BFS driver walk: min hops on a branched graph, horizon cut at maxHops") {
    // 0-1-2-3-4-5 chain with shortcut 0-3: node 3 is 1 hop (shortcut),
    // node 4 is 2, node 5 is 3; node 6-7-8 is a separate component whose
    // smallest node is also a source (nSources spans components); 9 is
    // beyond the 3-hop horizon from 0 via nothing — absent.
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (0L, 3L), (6L, 7L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = graft.queries.DedupSim.boundedBfs(spark, edges, maxHops = 3, nSources = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Map(
      (0L, 0L) -> 0L, (0L, 1L) -> 1L, (0L, 3L) -> 1L, (0L, 2L) -> 2L,
      (0L, 4L) -> 2L, (0L, 5L) -> 3L,
      (1L, 1L) -> 0L, (1L, 0L) -> 1L, (1L, 2L) -> 1L, (1L, 3L) -> 2L,
      (1L, 4L) -> 3L)
    assert(got == want, s"got $got")
  }

  test("q79 components: a >15-diameter chain converges through the distributed path") {
    // 41-node chain 100-101-...-140 (diameter 40) — the round-4 min-label
    // propagation capped at 15 rounds and silently mislabeled exactly this
    // shape; large-star/small-star must converge and label every node with
    // the chain minimum. A second 3-clique checks multi-component labeling.
    import spark.implicits._
    val chain = (100L until 140L).map(i => (i, i + 1))
    val clique = Seq((7L, 8L), (8L, 9L), (7L, 9L))
    val edges = (chain ++ clique).toDF("a", "b")
    // cap 0 forces the distributed path
    val labels = graft.core.SessionMemo.withLocalRowCap(0)(
      graft.queries.DedupSim.componentLabels(spark, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert((100L to 140L).forall(labels(_) == 100L),
      s"chain nodes must all label 100, got ${labels.view.filterKeys(_ >= 100L).toMap}")
    assert(Seq(7L, 8L, 9L).forall(labels(_) == 7L))
    assert(labels.size == 44)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import spark.implicits._
    (0 until 10000).map(i => (i.toLong % 500, i.toLong)).toDF("key", "a")
      .write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("graft_bucket_a")
    (0 until 5000).map(i => (i.toLong % 500, i.toDouble)).toDF("key", "b")
      .write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("graft_bucket_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // bucketing aligns both sides: no exchange anywhere in the plan
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == 10000L / 500 * 5000) // 20 * 5000 matches per key pair
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("approximate aggregates land within tolerance of exact ones") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact_d"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_d"),
      expr("percentile(l_extendedprice, 0.5)").as("exact_med"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_med")).head()
    val (exactD, approxD) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approxD - exactD).toDouble / exactD < 0.05)
    val (exactM, approxM) = (row.getDouble(2), row.getDouble(3))
    assert(math.abs(approxM - exactM) / exactM < 0.02)
  }

  test("partitioned writes prune partitions at the scan (PartitionFilters)") {
    val dir = java.nio.file.Paths.get(graft.io.FsUtil.scratchDir("graft_part")).resolve("orders").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    // directory layout: one subdir per status
    val subdirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("o_orderstatus=")).sorted
    assert(subdirs.map(_.split("=").last).toSeq == Seq("F", "O", "P"))
    val q = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    val plan = q.queryExecution.executedPlan.toString
    // the status predicate becomes a PartitionFilter (directory pruning),
    // NOT a data filter evaluated per row
    assert(plan.contains("PartitionFilters: [") && plan.contains("o_orderstatus"))
    assert(plan.contains("isnotnull(o_orderstatus"))
    val expected = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F").count()
    assert(q.count() == expected && expected > 0)
  }
}
