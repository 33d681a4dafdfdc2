package graft

import scala.util.Try

import org.apache.spark.JobLog
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** `Tables.table` reads its schema from the local footer: the schema equals
  * the one Spark infers for the same path, and the read launches no Spark
  * job. Where the footer cannot stand in for the inference (schema merging
  * on, partition dirs) the read falls back to it and still agrees. */
class TablesSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = graft.io.FsUtil.scratchDir("graft_tables_schema")

  override def afterAll(): Unit = {
    spark.stop()
    graft.io.FsUtil.deleteRecursively(new java.io.File(root))
  }

  private val names = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "documents", "embeddings", "events")

  /** Tables' read of `name` against Spark's inference, as results: both
    * fail alike or give one schema; returns the jobs of Tables' read. */
  private def assertSameSchema(d: String, name: String): Seq[String] = {
    val (got, jobs) = JobLog.of(spark.sparkContext)(Try(Tables.table(spark, d, name).schema))
    val want = Try(spark.read.parquet(s"$d/$name.parquet").schema)
    assert(got.toEither.left.map(_.getClass) == want.toEither.left.map(_.getClass) &&
      got.toOption == want.toOption, s"$d/$name: $got vs $want")
    jobs
  }

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"every table on $sf: the footer schema equals Spark's and the read runs no job") {
      val d = s"/root/testdata/$sf"
      names.foreach { n =>
        val jobs = assertSameSchema(d, n)
        assert(jobs.isEmpty, s"$n: ${jobs.mkString("; ")}")
      }
    }

    test(s"events on $sf under both nanosAsLong settings") {
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val before = spark.conf.getOption(key)
      try Seq("true", "false").foreach { v =>
        spark.conf.set(key, v)
        assert(assertSameSchema(s"/root/testdata/$sf", "events").isEmpty)
      } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("a Spark-written table: row-metadata schema, no job; merging and partitions infer") {
    val d = s"$root/spark_written"
    spark.sql("""SELECT id AS doc_id, concat('text ', id) AS text,
      |  CAST(id AS DECIMAL(12, 3)) AS price, timestamp_micros(id) AS ts,
      |  array(CAST(id AS INT), 2) AS ids, named_struct('a', id, 'b', 'x') AS st,
      |  map('k', id) AS m
      |FROM range(0, 50)""".stripMargin)
      .repartition(3).write.parquet(s"$d/documents.parquet")
    assert(new java.io.File(s"$d/documents.parquet/_SUCCESS").exists)
    assert(assertSameSchema(d, "documents").isEmpty)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try assert(assertSameSchema(d, "documents").nonEmpty, "merging reads every footer")
    finally spark.conf.unset(key)
    spark.range(0, 20).selectExpr("id AS doc_id", "id % 3 AS part")
      .write.partitionBy("part").parquet(s"$d/orders.parquet")
    assertSameSchema(d, "orders")
    assert(Tables.table(spark, d, "orders").columns.toSeq == Seq("doc_id", "part"))
  }
}
