package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionMemo
import graft.queries.DedupSim

/** The session memo registry over a long session: repeated board passes
  * keep the memo, the persisted blocks and the memo-owned index dirs at
  * one level, the IVF maintenance family shares one base build, a
  * regenerated corpus rebuilds the index memos, and no other main source
  * keeps a map keyed on a session. */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def rows(name: String, s: SparkSession, d: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(s, d).collect().map(_.toSeq).toSeq

  /** The index dirs the memo owns for (s, d), by kind. */
  private def indexDirs(s: SparkSession, d: String): Map[String, String] =
    SessionMemo.entries(s, d).collect { case (kind, SessionMemo.Owned(p, _)) => kind -> p }

  /** Entries under the process scratch root, the parent of every
    * `FsUtil.scratchDir` (the probe dir made to find it is removed). */
  private def scratchCount(): Int = {
    val probe = new java.io.File(graft.io.FsUtil.scratchDir("graft_soak_probe"))
    val root = probe.getParentFile
    graft.io.FsUtil.deleteRecursively(probe)
    root.list().length
  }

  test("soak: five passes stay flat in memo entries, persisted RDDs and index dirs") {
    val ivf = Seq("q345_ivf_sqrtn_partitioned", "q351_ivf_stream_append",
      "q358_ivf_index_compaction", "q371_ivf_serving_lifecycle")
    val sc = spark.sparkContext
    // (memo kinds, persisted RDDs, memo-owned index dirs)
    type Level = (Set[String], Int, Int)
    def level(): Level = (SessionMemo.entries(spark, sf).keySet,
      sc.getPersistentRDDs.size, indexDirs(spark, sf).size)
    def soak(evict: Boolean): Unit = {
      DedupSim.invalidateSessionCaches(spark, sf)
      val afterRun = scala.collection.mutable.ArrayBuffer.empty[Level]
      val afterEvict = scala.collection.mutable.ArrayBuffer.empty[Level]
      val scratch = scala.collection.mutable.ArrayBuffer(scratchCount())
      val bases = scala.collection.mutable.LinkedHashSet.empty[String]
      for (pass <- 1 to 5) {
        ivf.foreach { name =>
          rows(name, spark, sf)
          // q351, q358 and q371 read one base index per (session, dir)
          indexDirs(spark, sf).get("ivf_base_index").foreach(bases += _)
        }
        rows("q372_curation_to_shards", spark, sf)
        afterRun += level()
        val owned = indexDirs(spark, sf).values.toSeq
        assert(owned.forall(new java.io.File(_).isDirectory))
        if (evict) {
          DedupSim.invalidateSessionCaches(spark, sf)
          afterEvict += level()
          assert(owned.forall(!new java.io.File(_).exists),
            s"pass $pass: index dirs outlive the eviction: $owned")
        }
        scratch += scratchCount()
        val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
        val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
        info(f"evict=$evict pass $pass: block-manager memory ${mem / 1024.0}%.1f KiB, " +
          f"rdd disk ${disk / 1024.0}%.1f KiB, scratch entries ${scratch.last} " +
          s"(+${scratch.last - scratch(scratch.length - 2)}), level ${afterRun.last}")
      }
      assert(afterRun.drop(1).distinct.size == 1, s"levels after each pass: $afterRun")
      assert(Set("ivf_index", "ivf_base_index").subsetOf(afterRun.last._1) &&
        afterRun.last._3 == 2, s"levels after each pass: $afterRun")
      assert(bases.size == (if (evict) 5 else 1),
        s"one base build per (session, dir) lifetime, got ${bases.size}")
      if (evict) {
        assert(afterEvict.forall(l => l._1.isEmpty && l._3 == 0), s"after evictions: $afterEvict")
        assert(afterEvict.drop(1).distinct.size == 1, s"after evictions: $afterEvict")
      }
      // the per-call dirs the returned plans read (q351's delta, the
      // compacted layouts of q358 and q371) are the only scratch growth
      val growth = scratch.sliding(2).map(p => p(1) - p(0)).toSeq.drop(1)
      assert(growth.forall(_ == 3), s"scratch entries per pass: $scratch")
    }
    try {
      soak(evict = true)
      soak(evict = false)
    } finally DedupSim.invalidateSessionCaches(spark, sf)
  }

  test("a regenerated corpus rebuilds the IVF index memos in the same session") {
    val names = Seq("q345_ivf_sqrtn_partitioned", "q351_ivf_stream_append")
    val d = graft.io.FsUtil.scratchDir("graft_regen")
    val emb = s"$d/embeddings.parquet"
    try {
      spark.read.parquet(s"$sf/embeddings.parquet").write.parquet(emb)
      val before = names.map(rows(_, spark, d))
      val dirsBefore = indexDirs(spark, d)
      assert(dirsBefore.keySet == Set("ivf_index", "ivf_base_index"))
      // rewrite the corpus in place: each vector's components scaled
      // unevenly, so its direction, cell and neighbours change
      val staged = graft.io.FsUtil.scratchDir("graft_regen_stage")
      spark.read.parquet(emb)
        .selectExpr("vec_id",
          "transform(embedding, (x, i) -> cast(x * (1 + i % 3) AS float)) AS embedding")
        .write.mode("overwrite").parquet(staged)
      graft.io.FsUtil.deleteRecursively(new java.io.File(emb))
      Files.move(java.nio.file.Paths.get(staged), java.nio.file.Paths.get(emb))
      val after = names.map(rows(_, spark, d))
      val dirsAfter = indexDirs(spark, d)
      assert(dirsAfter.keySet == dirsBefore.keySet)
      dirsBefore.foreach { case (kind, p) =>
        assert(dirsAfter(kind) != p, s"$kind was not rebuilt")
        assert(!new java.io.File(p).exists, s"the stale $kind dir outlives its rebuild")
      }
      assert(after != before, "the regenerated corpus must change the results")
      val fresh = spark.newSession()
      try assert(after == names.map(rows(_, fresh, d)))
      finally DedupSim.invalidateSessionCaches(fresh, d)
    } finally {
      DedupSim.invalidateSessionCaches(spark, d)
      graft.io.FsUtil.deleteRecursively(new java.io.File(d))
    }
  }

  test("no main source outside SessionMemo declares a map keyed on a SparkSession") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    // the first type argument of every `…Map[`, up to its top-level comma
    def keyTypes(text: String): Seq[String] =
      "Map\\s*\\[".r.findAllMatchIn(text).map { m =>
        var i = m.end
        var depth = 0
        while (i < text.length && !(depth == 0 && (text(i) == ',' || text(i) == ']'))) {
          if ("([{".contains(text(i))) depth += 1
          if (")]}".contains(text(i))) depth -= 1
          i += 1
        }
        text.substring(m.end, i)
      }.toSeq
    val hits = walk(root).filter(_.getName != "SessionMemo.scala").flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      keyTypes(text).filter(_.contains("SparkSession")).map(k => s"${f.getPath}: Map[$k, …]")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
    // the scan sees the registry's own key
    val memo = new String(Files.readAllBytes(
      new java.io.File(root, "scala/graft/core/SessionMemo.scala").toPath), "UTF-8")
    assert(keyTypes(memo).exists(_.contains("SparkSession")))
  }
}
