package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SessionMemo, Tables}
import graft.queries.{DedupSim, TextOps}

/** q372's flag table ([[TextOps.curationFlags]]: one typed pass per
  * document over one benchmark-slice collect) against the composition it
  * replaced, kept here as the reference: the q360 decision memo with
  * q365's coin, joined on doc_id to q364's chunk pass. Both regimes run:
  * the local relation under the row cap, and the persisted table with the
  * distributed contamination join past it (`withLocalRowCap(0)`). */
class CurationFlagsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = graft.io.FsUtil.scratchDir("graft_flags")

  override def afterAll(): Unit = {
    spark.stop()
    graft.io.FsUtil.deleteRecursively(new java.io.File(root))
  }

  private val columns = Seq("doc_id", "train", "keep", "sampled", "contaminated", "n_tok")

  /** The flag table as it was composed before the one-pass build. */
  private def reference(d: String): DataFrame = {
    val decisions = TextOps.bucketSample(TextOps.corpusDecisions(spark, d))
      .select(col("doc_id"), (col("decision") === "keep").as("keep"),
        col("kept").as("sampled"))
    TextOps.chunkHits(d, Tables.documents(spark, d)).join(decisions, Seq("doc_id"))
      .select(col("doc_id"), col("train"), col("keep"), col("sampled"),
        (col("n_hit_chunks") > 0).as("contaminated"), col("n_tok"))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  /** Both regimes against the reference; returns the reference rows. */
  private def assertParity(d: String): Seq[Seq[Any]] = {
    DedupSim.invalidateSessionCaches(spark, d)
    val want = rows(reference(d))
    def check(regime: String, local: Boolean): Unit = {
      DedupSim.invalidateSessionCaches(spark, d)
      val flags = TextOps.curationFlags(spark, d, Tables.documents(spark, d))
      assert(flags.columns.toSeq == columns)
      assert(SessionMemo.localRows(flags).isDefined == local, s"$d ($regime)")
      assert(rows(flags) == want, s"$d ($regime): the flag table differs from the composition")
    }
    try {
      check("local relation", local = true)
      SessionMemo.withLocalRowCap(0)(check("persisted, distributed join", local = false))
    } finally DedupSim.invalidateSessionCaches(spark, d)
    want
  }

  private def write(name: String, docs: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val d = s"$root/$name"
    docs.toDF("doc_id", "text").repartition(3).write.parquet(s"$d/documents.parquet")
    d
  }

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"flag table equals the decision-memo and chunk-pass composition on $sf") {
      val want = assertParity(s"/root/testdata/$sf")
      assert(want.exists(_(4) == true) && want.exists(_(2) == true) && want.exists(_(3) == false))
    }
  }

  test("flag table equals the composition on an adversarial corpus") {
    // ChunkHitsSpec's window, split and trim cases, plus upper-case text
    // whose LM words and lexical signals exist only after Spark's lower:
    // in the benchmark slice below the LM reference cap (10, 15) and on
    // the train side
    val upper = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG ÉCOLE ÉTÉ İSTANBUL ÀÉÎÕÜ"
    val docs = ChunkHitsSpec.adversarial ++ Seq(
      10L -> Seq.fill(6)(upper).mkString(" "),
      15L -> (upper + " " + upper.toLowerCase),
      21L -> Seq.fill(5)(upper).mkString("\n"),
      22L -> upper.toLowerCase,
      23L -> "ÀÉÎÕÜ ÇÑ ÆØÅ ŒŸ ΣΑΣ ДОМ",
      24L -> "\t",
      26L -> "one two")
    val want = assertParity(write("adversarial", docs))
    val byId = want.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId.keySet == docs.map(_._1).toSet)
    // the contaminated train docs are q364's (ChunkHitsSpec), plus 21,
    // whose first window is doc 10's tokens
    assert(want.filter(_(4) == true).map(_.head) == Seq(6L, 12L, 16L, 18L, 19L, 21L))
    // empty, whitespace-only and sub-window docs carry their token counts
    assert(Seq(1L, 2L, 17L, 24L).forall(byId(_)(5) == 0L) && byId(3L)(5) == 1L &&
      byId(4L)(5) == 63L && byId(26L)(5) == 2L)
  }

  test("flag table equals the composition when every train doc is contaminated") {
    val text = (0 until 130).map(i => s"word${i % 90}").mkString(" ")
    val want = assertParity(write("all_contaminated", (0L until 40L).map(id => id -> text)))
    assert(want.forall(r => r(4) == r(1)), "every train doc and no bench doc is contaminated")
    assert(want.count(_(1) == true) == 32)
  }
}
