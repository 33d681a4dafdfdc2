package graft

import org.apache.spark.JobLog
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionMemo
import graft.queries.{DedupSim, TextOps}

/** q372's shape over its doc-grain flag table: the number of Spark jobs a
  * pass launches, the funnel identities the sequence face must meet, the
  * memo's local and persisted paths giving the same rows, and a corpus
  * with no survivor. */
class CurationFunnelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val noSurvivorDir = graft.io.FsUtil.scratchDir("graft_funnel")

  override def afterAll(): Unit = {
    spark.stop()
    graft.io.FsUtil.deleteRecursively(new java.io.File(noSurvivorDir))
  }

  /** A full q372 pass: memos evicted first, so every table is rebuilt. */
  private def pass(d: String): Array[Row] = {
    DedupSim.invalidateSessionCaches(spark, d)
    TextOps.q372(spark, d).collect()
  }

  private def funnel(rows: Array[Row]): Map[String, Long] =
    rows.filter(_.getLong(0) == 0L).map(r => r.getString(1) -> r.getLong(2)).toMap

  private def face1(rows: Array[Row]): Array[Row] = rows.filter(_.getLong(0) == 1L)

  /** Both memo paths give the same rows; returns the default path's. */
  private def bothPaths(d: String): Array[Row] = {
    val local = pass(d)
    val persisted = SessionMemo.withLocalRowCap(0)(pass(d))
    assert(persisted.map(_.toSeq).toSeq == local.map(_.toSeq).toSeq,
      s"$d: the persisted flag table gives other rows")
    local
  }

  test("a warm q372 on sf0.01 runs at most 12 jobs, none of them a localCheckpoint") {
    val d = "/root/testdata/sf0.01"
    pass(d)
    DedupSim.invalidateSessionCaches(spark, d)
    val (_, sites) = JobLog.of(spark.sparkContext)(TextOps.q372(spark, d).collect())
    assert(sites.size <= 12, s"${sites.size} jobs:\n${sites.mkString("\n")}")
    assert(!sites.exists(_.startsWith("localCheckpoint")), sites.mkString("\n"))
  }

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"funnel identities on $sf: n_sequences = face-1 rows = ceil(total_tokens / 2048)") {
      val rows = bothPaths(s"/root/testdata/$sf")
      val f = funnel(rows)
      val seqs = face1(rows)
      assert(f.keySet == Set("docs_total", "train_docs", "keep_docs", "sampled_docs",
        "decon_flagged", "survivor_docs", "n_sequences", "total_tokens"))
      assert(f("survivor_docs") > 0 && f("decon_flagged") > 0)
      assert(f("n_sequences") == seqs.length)
      assert(f("n_sequences") == (f("total_tokens") + 2047) / 2048)
      assert(seqs.map(_.getLong(5)).sum == f("total_tokens"))
      assert(seqs.map(_.getLong(3)).toSeq == (0L until seqs.length.toLong))
    }
  }

  test("a corpus whose every train doc is contaminated has no survivor") {
    val s = spark
    import s.implicits._
    val text = (0 until 80).map(i => s"word$i").mkString(" ")
    (0L until 10L).map(id => (id, text)).toDF("doc_id", "text")
      .write.parquet(s"$noSurvivorDir/documents.parquet")
    val rows = bothPaths(noSurvivorDir)
    val f = funnel(rows)
    assert(f("docs_total") == 10L && f("train_docs") == 8L && f("decon_flagged") == 8L)
    assert(f("survivor_docs") == 0L && f("total_tokens") == 0L && f("n_sequences") == 0L)
    assert(face1(rows).isEmpty)
  }
}
