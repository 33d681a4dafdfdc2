package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The IVF kernel broadcast cache, pinned bounded (round 17, closing the
  * r16 advisory): the r16 cache keyed on codebook array INSTANCE and
  * never evicted, so every fresh-but-content-equal codebook (the
  * q351/q358 base codebook, then one new array per invocation) leaked one
  * strongly-pinned broadcast for the session's lifetime. This spec
  * drives a multi-codebook session through `ivfAssignKernel` and pins:
  * content-hash reuse across distinct array instances, the LRU bound,
  * and correct results AFTER an eviction cycle forces a rebuild. */
class IvfKernelCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def emb = {
    import spark.implicits._
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
        (3L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
  }

  /** codebook k: two cells around axis k — distinct content per k. */
  private def book(k: Int): Array[(Long, Array[Float])] =
    Array((10L, Array(1.0f + k * 0.01f, 0.0f)),
          (20L, Array(0.0f, 1.0f + k * 0.01f)))

  private def assignments(code: Array[(Long, Array[Float])]): Seq[(Long, Long)] =
    graft.queries.DedupSim.ivfAssignKernel(emb, code)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("content-equal codebooks from distinct array instances share one broadcast") {
    val sc = spark.sparkContext
    val before = graft.queries.DedupSim.ivfKernelCacheSize(sc)
    val a = assignments(book(0))
    val mid = graft.queries.DedupSim.ivfKernelCacheSize(sc)
    val b = assignments(book(0)) // fresh arrays, same content
    val after = graft.queries.DedupSim.ivfKernelCacheSize(sc)
    assert(mid == before + 1 && after == mid,
      "a content-equal rebuild must HIT the cache, not add a broadcast")
    assert(a == b && a == Seq((1L, 10L), (2L, 20L), (3L, 10L)))
  }

  test("cache is LRU-bounded; evicted codebooks rebuild correctly") {
    val sc = spark.sparkContext
    val first = book(100)
    val expected = assignments(first)
    // flood with > cap distinct codebooks — evicts `first`
    (1 to 12).foreach(k => assignments(book(k)))
    val n = graft.queries.DedupSim.ivfKernelCacheSize(sc)
    assert(n <= 8, s"cache must stay bounded at 8 entries, held $n")
    // the evicted codebook still assigns correctly (rebuild, not stale ref)
    assert(assignments(first) == expected)
    assert(graft.queries.DedupSim.ivfKernelCacheSize(sc) <= 8)
  }
}
