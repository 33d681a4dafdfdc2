package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.CurationSignals
import graft.queries.{LlmOps, TextOps}

/** The one-pass q360 kernel ([[graft.ops.CurationSignals]]) against its
  * relational oracles, column by column: q338 page_kept, q339 kept, q343
  * bucket, q354 ttr_ppm, q355 bpt_ppm and q19 presence, each joined onto
  * documents as q360 composed them before the kernel, plus the score and
  * decision over those legs and q365's relational form (documents LEFT
  * JOIN q343, the md5 coin and the rate gate). Run on the three gate
  * corpora and on an adversarial corpus of the edge cases the kernel
  * restates by hand: Spark's space-only trim, Java's `\s+` split with a
  * leading empty token, the LM's two-word floor, Spark's `lower` on
  * non-ASCII letters, and the hallucination regex. */
class CurationSignalsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val adversarialDir =
    graft.io.FsUtil.scratchDir("graft_curation_adv")

  override def afterAll(): Unit = {
    spark.stop()
    graft.io.FsUtil.deleteRecursively(new java.io.File(adversarialDir))
  }

  private val Scored = Seq("c4_kept", "gopher_kept", "lm_bucket", "ttr_ppm",
    "bpt_ppm", "quality_pass", "score", "decision")

  /** The relational legs, joined the way q360 composed them before the
    * one-pass kernel. */
  private def relational(d: String): DataFrame = {
    val legs = Seq(
      TextOps.q338(spark, d).select(col("doc_id"), col("page_kept").as("c4_kept")),
      TextOps.q339(spark, d).select(col("doc_id"), col("kept").as("gopher_kept")),
      LlmOps.q343(spark, d).select(col("doc_id"), col("bucket").as("lm_bucket")),
      TextOps.q354(spark, d).select(col("doc_id"), col("ttr_ppm")),
      TextOps.q355(spark, d).select(col("doc_id"), col("bpt_ppm")),
      TextOps.q19(spark, d).select(col("doc_id"), lit(true).as("quality_pass")))
    legs.foldLeft(Tables.documents(spark, d).select(col("doc_id"))) {
      (acc, leg) => acc.join(leg, Seq("doc_id"), "left")
    }
      .withColumn("quality_pass", coalesce(col("quality_pass"), lit(false)))
      .withColumn("score",
        (when(col("lm_bucket") === "head", 3L)
           .when(col("lm_bucket") === "middle", 2L).otherwise(0L) +
         when(col("c4_kept"), 2L).otherwise(0L) +
         when(col("gopher_kept"), 2L).otherwise(0L) +
         when(col("quality_pass"), 1L).otherwise(0L) +
         when(col("ttr_ppm").between(CurationSignals.TtrLo, CurationSignals.TtrHi), 1L)
           .otherwise(0L) +
         when(col("bpt_ppm") >= CurationSignals.MinBpt, 1L).otherwise(0L)).cast("long"))
      .withColumn("decision",
        when(col("score") >= 7, "keep")
          .when(col("score") >= 4, "review").otherwise("drop"))
  }

  /** q365 as computed before it read the decision memo. */
  private def relationalQ365(d: String): DataFrame = {
    val lm = LlmOps.q343(spark, d).select(col("doc_id"), col("bucket"))
    Tables.documents(spark, d).select(col("doc_id"))
      .join(lm, Seq("doc_id"), "left")
      .withColumn("bucket", coalesce(col("bucket"), lit("unscored")))
      .withColumn("coin", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
          "as bigint) % 1000"))
      .withColumn("keep_rate", when(col("bucket") === "head", 1000L)
        .when(col("bucket") === "middle", 500L).otherwise(100L))
      .withColumn("kept", col("coin") < col("keep_rate"))
  }

  private def byDoc(df: DataFrame, c: String): Map[Long, Any] =
    df.select(col("doc_id"), col(c)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.get(1))).toMap

  private def assertColumns(d: String, got: DataFrame, want: DataFrame,
                            cols: Seq[String]): Unit =
    cols.foreach { c =>
      val (g, w) = (byDoc(got, c), byDoc(want, c))
      assert(g.keySet == w.keySet, s"$d: $c covers different doc_ids")
      val diff = w.keys.toSeq.sorted.filter(k => g(k) != w(k))
      assert(diff.isEmpty, s"$d: $c differs on ${diff.size} docs, first " +
        diff.take(5).map(k => s"$k: kernel ${g(k)} vs relational ${w(k)}").mkString("; "))
    }

  private def assertParity(d: String): Unit = {
    val kernel = TextOps.q360Where(Tables.documents(spark, d), lit(true))
    assert(kernel.columns.toSeq == "doc_id" +: Scored)
    assertColumns(d, kernel, relational(d), Scored)
    assertColumns(d, TextOps.q365(spark, d), relationalQ365(d),
      Seq("bucket", "coin", "keep_rate", "kept"))
  }

  Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
    test(s"kernel equals the relational legs on $sf") {
      assertParity(s"/root/testdata/$sf")
    }
  }

  /** Edge-case texts; ids hit the reference slice (% 5, < 500) and the C4
    * hazard subsets (% 13, % 11, % 7). */
  private val adversarial: Seq[(Long, String)] = {
    val words = "the quick brown fox jumps over a lazy dog while seven " +
      "bright stars shine above quiet water"
    val long = Seq.fill(4)(words).mkString(" ") + " and then it ends."
    // 60 words in a seeded, non-periodic order: passes every rule
    def varied(seed: Long): String = {
      val vocab = words.split(" ")
      Iterator.iterate(seed)(x => (x * 1103515245L + 12345L) & 0x7fffffffL)
        .drop(1).take(60).map(x => vocab(((x >> 16) % vocab.length).toInt))
        .mkString(" ")
    }
    Seq(
      0L -> long,
      1L -> "",
      2L -> "   ",
      3L -> " \t \n ",
      4L -> "\tleading tab then several plain words",
      5L -> "the fox and the dog and the stars over water",
      6L -> "\nleading newline then several plain words",
      7L -> "runs   of    spaces   between  words   here",
      8L -> "word",
      9L -> "one 123 456",
      10L -> "a lazy dog jumps over the quick brown fox again",
      11L -> "Éclair ÉCOLE Straße İstanbul ßeta İİ ÉÉ words",
      12L -> "UPPER CASE WORDS ARE SHOUTED HERE TODAY",
      13L -> ("javascript " + long),
      14L -> "a note [inaudible] in the middle of text",
      15L -> "quiet water under bright stars shine above",
      16L -> "an aside (laughs) in the middle of text",
      17L -> "so thanks for watching everyone see you",
      18L -> "Thank You For Watching This Video Today",
      19L -> "open [bracket\nclosed] on the next line only",
      20L -> "seven stars seven stars seven stars seven stars",
      21L -> "\u000Bvertical tab then words here",
      22L -> "no\u00A0break space joins these two words",
      40L -> varied(1L),
      41L -> varied(2L),
      45L -> varied(3L),
      23L -> "\tshort pair",
      24L -> "short pair\n",
      25L -> (long + " " + long),
      26L -> "short pair",
      33L -> "12 34 56 78",
      55L -> long.toUpperCase,
      77L -> ("  " + long + "  "),
      91L -> long.replace(" ", "\n"),
      495L -> "the lazy dog sleeps",
      500L -> "outside the reference cap entirely now")
  }

  test("kernel equals the relational legs on an adversarial corpus") {
    val s = spark
    import s.implicits._
    adversarial.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(3)
      .write.parquet(s"$adversarialDir/documents.parquet")
    assertParity(adversarialDir)
    // the null rules hold on the kernel's own output, not just in parity
    val k = TextOps.q360Where(Tables.documents(spark, adversarialDir), lit(true))
    assert(byDoc(k, "lm_bucket")(8L) == null && byDoc(k, "lm_bucket")(9L) == null)
    Seq(1L, 2L, 3L).foreach { id =>
      assert(byDoc(k, "ttr_ppm")(id) == null && byDoc(k, "bpt_ppm")(id) == null)
    }
    // a leading tab or trailing newline is a third (empty) q19 token
    val quality = byDoc(k, "quality_pass")
    assert(quality(23L) == true && quality(24L) == true && quality(26L) == false)
    // and the corpus reaches every decision
    assert(byDoc(k, "decision").values.toSet == Set("keep", "review", "drop"))
  }

  test("Spark's trim and \\s+ split, restated") {
    assert(CurationSignals.spaceTrim("  \ta b\n  ") == "\ta b\n")
    assert(CurationSignals.wsSplit("\ta b").toSeq == Seq("", "a", "b"))
    assert(CurationSignals.wsSplit("").toSeq == Seq(""))
    assert(CurationSignals.lmWords("it's 2 o'clock-ish").toSeq ==
      Seq("it", "s", "o", "clock", "ish"))
    assert(CurationSignals.bits(0L) == 0L && CurationSignals.bits(1L) == 0L &&
      CurationSignals.bits(1024L) == 10L)
  }
}
