package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q370's scale contract, pinned on the physical plan: scoring an ingest
  * delta through q360Where must read DELTA ROWS PLUS A CONSTANT — its one
  * documents scan carries the delta predicate in its DataFilters, and the
  * read of q343's reference model (collected eagerly) carries the
  * constant id cap on its own scan. The hash gate cannot see this
  * property — a build that silently rescans the corpus per refresh still
  * produces identical rows — so the plan is the pin. */
class Q370PushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.maxMetadataStringLength", "10000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Dir = "/root/testdata/sf0.001"

  /** The FileScan lines of `df`'s physical plan, DataFilters included. */
  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.toString.linesIterator
      .filter(_.contains("FileScan parquet")).toSeq

  /** The DataFilters list of one FileScan line. */
  private def dataFilters(scan: String): String =
    "DataFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(scan).map(_.group(1)).getOrElse("")

  test("every delta-scoring scan is delta-filtered or id-capped") {
    val delta = scans(graft.queries.TextOps
      .q360Where(spark, Dir, col("doc_id") % 7 === 0))
    assert(delta.size == 1,
      s"expected one documents scan, saw:\n${delta.mkString("\n")}")
    assert(dataFilters(delta.head).contains("% 7"),
      s"the documents scan must carry the delta predicate:\n${delta.head}")
    val model = scans(graft.queries.TextOps.lmReference(spark, Dir))
    assert(model.size == 1,
      s"expected one reference scan, saw:\n${model.mkString("\n")}")
    assert(dataFilters(model.head).contains("< 500"),
      s"the reference scan must carry the id cap:\n${model.head}")
  }
}
