package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.dotF32
import graft.queries.DedupSim

/** The IVF E-step and probe resolver against the algebra the DuckDB
  * oracles state: [[graft.queries.DedupSim.ivfAssignKernel]] and
  * `probePairsFor` must be BIT-interchangeable with a literal struct-min
  * over every cell's (dot_f32(ce,ce) - 2·dot_f32(x,ce), seed_id) — same
  * sequential IEEE double fold, same (score, seed_id) tie-break, same
  * degenerate-row answers. The literal form lives here, as the reference. */
class IvfKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val d = "/root/testdata/sf0.001"

  /** The literal reference: one (score, seed_id) struct per cell. */
  private def cellScores(code: Array[(Long, Array[Float])])(emb: Column): Column =
    array(code.toSeq.map { case (sid, ce) =>
      val ceL = typedLit(ce)
      struct((dotF32(ceL, ceL) - lit(2.0) * dotF32(emb, ceL)).as("score"),
        lit(sid).as("seed_id"))
    }: _*)

  /** vec_id → nearest cell by the literal struct-min. */
  private def literalAssign(emb: DataFrame,
                            code: Array[(Long, Array[Float])]): Map[Long, Long] =
    emb.select(col("vec_id").cast("long"),
        array_min(cellScores(code)(col("embedding"))).getField("seed_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def kernelAssign(emb: DataFrame,
                           code: Array[(Long, Array[Float])]): Map[Long, Long] =
    DedupSim.ivfAssignKernel(emb, code)
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("kernel assignment matches the literal projection bit-for-bit " +
       "on the fixture corpus (22 and 64 cells)") {
    val emb = graft.core.Tables.embeddings(spark, d)
    for (cells <- Seq(22L, 64L)) {
      val code = DedupSim.seedCodebookN(spark, d, cells)
      val lit = literalAssign(emb, code)
      val ker = kernelAssign(emb, code)
      assert(ker.size == lit.size && ker == lit,
        s"kernel/literal assignment divergence at $cells cells")
    }
  }

  test("degenerate rows (null embedding, ragged length, null element) " +
       "agree with the literal struct-min's nulls-first answer") {
    import spark.implicits._
    val code = DedupSim.seedCodebookN(spark, d, 16L)
    val dim = code.head._2.length
    val good = Array.fill(dim)(0.25f)
    val raggy = Array.fill(dim - 1)(0.25f)
    val withNullElem: Seq[Option[Float]] =
      (0 until dim).map(i => if (i == 3) None else Some(0.25f))
    val emb = Seq(
      (100L, Option(good.toSeq.map(Option(_)))),
      (101L, Option(raggy.toSeq.map(Option(_)))),
      (102L, Option(withNullElem)),
      (103L, None: Option[Seq[Option[Float]]]))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val lit = literalAssign(emb, code)
    val ker = kernelAssign(emb, code)
    assert(lit == ker, s"degenerate-row divergence: literal=$lit kernel=$ker")
    // and the degenerate rows all resolve to the SMALLEST seed id — the
    // nulls-first struct-min documented in IvfKernel.firstId
    val first = code.head._1
    Seq(101L, 102L, 103L).foreach { id =>
      assert(ker(id) == first, s"row $id expected firstId=$first, got ${ker(id)}")
    }
  }

  test("probePairsFor gives the array_sort struct order's probe cells, " +
       "a duplicated centroid's score tie going to the lower cell id") {
    val emb = graft.core.Tables.embeddings(spark, d)
    val qVecs = DedupSim.probeVectors(spark, d)
    val seed = DedupSim.seedCodebookN(spark, d, 16L)
    // copy query 0's nearest centroid into another cell: the two cells
    // then score identically for every query, and query 0 probes both
    val near = DedupSim.probePairsFor(qVecs, seed).head._2
    val twin = if (near == seed.last._1) seed.head._1 else seed.last._1
    val nearVec = seed.find(_._1 == near).get._2
    val dup = seed.map { case (id, v) => (id, if (id == twin) nearVec.clone() else v) }
    for ((name, code) <- Seq("seed" -> seed, "duplicated centroid" -> dup)) {
      val viaSort = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").cast("long"),
          slice(array_sort(cellScores(code)(col("embedding"))), 1, DedupSim.IvfProbes)
            .getField("seed_id"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      val resolved = DedupSim.probePairsFor(qVecs, code)
        .groupBy(_._1).map { case (q, ps) => (q, ps.map(_._2)) }
      assert(resolved == viaSort, s"$name codebook: $resolved vs $viaSort")
    }
    val q0 = DedupSim.probePairsFor(qVecs, dup).filter(_._1 == qVecs.head._1).map(_._2)
    assert(q0.take(2) == Seq(math.min(near, twin), math.max(near, twin)),
      s"tied cells must probe lower id first: $q0")
  }
}
