package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SessionMemo, Tables}
import graft.queries.TextOps

/** q364's typed chunk pass ([[TextOps.chunkHits]]: one tokenization per
  * document, distinct window fingerprints, the benchmark slice's set built
  * once) against the relational form it replaced: q349's chunk table →
  * distinct (doc, fingerprint) → left_semi against the slice's
  * fingerprints. The relational form is kept here as the reference. Both
  * bench-set paths run: the broadcast set (default) and the distributed
  * semi-join past the row cap (`withLocalRowCap(0)`). */
class ChunkHitsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val adversarialDir = graft.io.FsUtil.scratchDir("graft_chunkhits")

  override def afterAll(): Unit = {
    spark.stop()
    graft.io.FsUtil.deleteRecursively(new java.io.File(adversarialDir))
  }

  /** q364 as it was computed before the typed pass. */
  private def relationalQ364(d: String): DataFrame = {
    val ch = TextOps.q349(spark, d).select(col("doc_id"), col("chunk_fp")).distinct()
    val bench = ch.filter(col("doc_id") % 5 === 0).select(col("chunk_fp")).distinct()
    val train = ch.filter(col("doc_id") % 5 =!= 0)
    val perDoc = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val hits = train.join(bench, Seq("chunk_fp"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_chunks"))
    hits.join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_hit_chunks"), col("n_chunks"),
        expr("n_hit_chunks * 1000000L div n_chunks").as("hit_ppm"))
  }

  /** Per doc: the relational token count and distinct chunk count. */
  private def relationalPerDoc(d: String): Map[Long, (Long, Long)] = {
    val nTok = TextOps.q366(spark, d).select(col("doc_id"), col("n_tok"))
    val nChunks = TextOps.q349(spark, d).groupBy(col("doc_id"))
      .agg(countDistinct(col("chunk_fp")).as("n_chunks"))
    nTok.join(nChunks, Seq("doc_id"), "left").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
      .toMap
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  /** Both bench-set paths against the reference; returns q364's rows. */
  private def assertParity(d: String): Seq[Seq[Any]] = {
    val want = rows(relationalQ364(d))
    val perDoc = relationalPerDoc(d)
    def check(path: String): Unit = {
      val q364 = TextOps.q364(spark, d)
      assert(q364.columns.toSeq == Seq("doc_id", "n_hit_chunks", "n_chunks", "hit_ppm"))
      assert(rows(q364) == want, s"$d ($path): q364 differs from the relational form")
      val hits = TextOps.chunkHits(d, Tables.documents(spark, d))
      val got = hits.collect().map(r =>
        r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tok"), r.getAs[Long]("n_chunks"))).toMap
      assert(got == perDoc, s"$d ($path): n_tok / n_chunks differ")
      val plan = hits.queryExecution.executedPlan.toString
      if (path == "broadcast set") assert(!plan.contains("Join"), plan)
      else assert(plan.contains("Join"), plan)
    }
    check("broadcast set")
    SessionMemo.withLocalRowCap(0)(check("distributed semi-join"))
    want
  }

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"chunk pass equals the relational q364 on $sf") {
      assert(assertParity(s"/root/testdata/$sf").nonEmpty)
    }
  }

  test("chunk pass equals the relational q364 on an adversarial corpus") {
    import ChunkHitsSpec.adversarial
    val s = spark
    import s.implicits._
    adversarial.toDF("doc_id", "text").repartition(3)
      .write.parquet(s"$adversarialDir/documents.parquet")
    val got = assertParity(adversarialDir)
    assert(got.map(_.head) == Seq(6L, 12L, 16L, 18L, 19L),
      s"contaminated docs: ${got.map(_.head)}")
    val perDoc = relationalPerDoc(adversarialDir)
    assert(perDoc(11L) == (160L, 1L) && perDoc(9L) == (113L, 3L) &&
      perDoc(8L) == (112L, 2L) && perDoc(7L) == (65L, 2L) && perDoc(1L) == (0L, 0L))
    assert(graft.io.ParquetStats.rowCount(s"$adversarialDir/documents.parquet") ==
      Some(adversarial.size.toLong))
  }
}

object ChunkHitsSpec {
  /** Window and stride boundaries, the distinct count, Spark's space-only
    * trim and `\s` split, non-ASCII text, and a train doc that meets the
    * benchmark slice only at a non-zero window offset. */
  val adversarial: Seq[(Long, String)] = {
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    def words(p: String, n: Int) = toks(p, n).mkString(" ")
    val bench = toks("b", 112)
    Seq(
      // the benchmark slice (doc_id % 5 = 0)
      0L -> bench.mkString(" "),          // windows at offsets 0 and 48
      5L -> words("d", 64),               // one window
      20L -> Seq.fill(70)("Straße İİ").mkString(" "),
      // train docs
      1L -> "",
      2L -> "   ",
      17L -> " \t \n ",
      3L -> words("a", 1),
      4L -> words("c", 63),
      7L -> words("e", 65),
      8L -> words("f", 112),
      9L -> words("g", 113),
      11L -> Seq.fill(160)("w").mkString(" "), // 3 windows, 1 distinct
      6L -> words("d", 64),                    // doc 5's window: a hit
      12L -> ("\t\u000B" + words("d", 64)),   // tab and VT split away: a hit
      13L -> ("\u00A0" + words("d", 64)),      // NBSP is not \s: no hit
      14L -> "Éclair ÉCOLE Straße İstanbul ßeta İİ ÉÉ words",
      16L -> ("  " + bench.slice(48, 112).mkString("  ") + " \n"), // doc 0 at 48
      18L -> (toks("h", 48) ++ bench.take(64)).mkString(" "), // hit at offset 48
      19L -> Seq.fill(70)("Straße İİ").mkString(" "))
  }
}
