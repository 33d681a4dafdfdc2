package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of the DataSource V2 connector (sources/GenSource.scala)
  * beyond q141's oracle gate: pushdown folding, empty ranges, split
  * boundaries, and md5 parity with Spark's own expression. */
class GenSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def gen(rows: Long, slices: Int) =
    spark.read.format("graft.sources.GenSource")
      .option("rows", rows.toString).option("slices", slices.toString).load()

  test("full scan yields exactly `rows` rows across all splits") {
    assert(gen(1000, 7).count() == 1000L)
    assert(gen(5, 16).count() == 5L) // more slices than rows: empty splits dropped
  }

  test("equality pushdown folds to a single row; contradictions to zero") {
    val one = gen(1000, 4).filter(col("id") === 42L).collect()
    assert(one.length == 1 && one(0).getLong(0) == 42L)
    assert(gen(1000, 4).filter(col("id") > 900L && col("id") < 100L).count() == 0L)
    assert(gen(1000, 4).filter(col("id") >= 1000L).count() == 0L)
  }

  test("generated md5 matches Spark's md5 expression row-for-row") {
    val bad = gen(256, 4)
      .withColumn("expect", md5(col("id").cast("string")))
      .filter(col("h") =!= col("expect"))
    assert(bad.count() == 0L)
    val bb = gen(256, 4).filter(col("bucket") =!= col("id") % 64)
    assert(bb.count() == 0L)
  }

  test("aggregate pushdown: empty range gives count 0 and null min/max") {
    val r = gen(1000, 4).filter(col("id") >= 500L && col("id") < 100L)
      .agg(count(lit(1)), min(col("id")), max(col("id"))).collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("aggregate pushdown declines group-by and non-id aggregates; results still correct") {
    // grouped: falls back to a normal Spark aggregation over generated rows
    val g = gen(128, 4).groupBy(col("bucket")).agg(count(lit(1)).as("n")).collect()
    assert(g.length == 64 && g.forall(_.getLong(1) == 2L))
    val plan = gen(128, 4).groupBy(col("bucket")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("GenAggScan"))
    // sum is not translatable -> declined, computed by Spark
    val sm = gen(100, 4).agg(sum(col("id"))).collect()(0).getLong(0)
    assert(sm == 4950L)
  }

  test("micro-batch stream drains the table in batchRows-sized batches, no dup/loss") {
    val q = spark.readStream.format("graft.sources.GenSource")
      .option("rows", "100").option("batchRows", "30").option("slices", "2").load()
      .select(col("id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gen_stream_spec").start()
    q.processAllAvailable()
    val batches = q.recentProgress.map(_.batchId).distinct.length
    q.stop()
    val ids = spark.table("gen_stream_spec").collect().map(_.getLong(0)).sorted
    assert(ids.length == 100 && ids.sameElements(0L until 100L),
      "stream must deliver each id exactly once")
    assert(batches >= 4, s"expected >=4 micro-batches for 100 rows @30/batch, saw $batches")
  }

  // -- StoreSource: the DSv2 WRITE face ---------------------------------

  private def storeDir(name: String): String = {
    val d = java.nio.file.Paths.get(graft.io.FsUtil.scratchDir(s"graft_store_$name"))
    d.toFile.deleteOnExit()
    d.toString
  }
  private def store(path: String) =
    spark.read.format("graft.sources.StoreSource").option("path", path).load()

  test("store write face: overwrite truncates, append accumulates, values exact") {
    val dir = storeDir("rw")
    gen(100, 4).write.format("graft.sources.StoreSource")
      .option("path", dir).mode("overwrite").save()
    assert(store(dir).count() == 100L)
    // append a disjoint range written from a second gen read
    gen(150, 4).filter(col("id") >= 100L).write.format("graft.sources.StoreSource")
      .option("path", dir).mode("append").save()
    assert(store(dir).count() == 150L)
    // overwrite again: truncate wipes BOTH prior commits
    gen(10, 2).write.format("graft.sources.StoreSource")
      .option("path", dir).mode("overwrite").save()
    val back = store(dir).orderBy(col("id")).collect()
    assert(back.map(_.getLong(0)).toSeq == (0L until 10L))
    // round-tripped values are bit-exact vs the generator's own md5/bucket
    back.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getLong(0).toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(1) == md)
      assert(r.getLong(2) == r.getLong(0) % 64)
    }
  }

  test("store read face prunes columns and reads an empty table as zero rows") {
    val dir = storeDir("prune")
    assert(store(dir).count() == 0L) // nothing committed yet
    gen(64, 4).write.format("graft.sources.StoreSource")
      .option("path", dir).mode("overwrite").save()
    val pruned = store(dir).select("bucket")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("cols=bucket"), plan.linesIterator.take(10).mkString("\n"))
    assert(pruned.distinct().count() == 64L)
  }

  test("store write rejects a foreign schema and leaves no temp litter") {
    import spark.implicits._
    val dir = storeDir("schema")
    val bad = Seq((1, "x")).toDF("a", "b")
    intercept[Exception] {
      bad.write.format("graft.sources.StoreSource")
        .option("path", dir).mode("append").save()
    }
    // a committed write leaves only published .tsv files behind — no _tmp_
    gen(8, 2).write.format("graft.sources.StoreSource")
      .option("path", dir).mode("overwrite").save()
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).filter(_.contains("_tmp_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("residual (non-id) filters still apply after pushdown") {
    val n = gen(1000, 4)
      .filter(col("id") >= 100L && col("id") < 200L && col("bucket") === 3L)
      .count()
    // ids 100..199: bucket 3 hits at 131 and 195
    assert(n == 2L)
  }

  private def genKeyed(rows: Long) = spark.read.format("graft.sources.GenSource")
    .option("rows", rows.toString).option("keyGrouped", "true").load()

  test("key-grouped scan: same rowset as the sliced scan, pushdown composes") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "h", "bucket").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(genKeyed(500)) == rows(gen(500, 4)),
      "bucket-residue readers must enumerate exactly the id line")
    // folded id bounds apply inside each bucket's stride walk
    assert(rows(genKeyed(1000).filter(col("id") >= 100L && col("id") < 200L)) ==
      rows(gen(1000, 4).filter(col("id") >= 100L && col("id") < 200L)))
    // fewer rows than buckets: empty splits are planned, none invent rows
    assert(genKeyed(10).count() == 10L)
  }

  test("storage-partitioned join: co-located DSv2 join plans no exchange") {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def g(rows: Long) = s.read.format("graft.sources.GenSource")
      .option("rows", rows.toString).option("keyGrouped", "true").load()
    val joined = g(6400).select(col("id").as("a_id"), col("bucket"))
      .join(g(640).select(col("id").as("b_id"), col("bucket")), Seq("bucket"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(25).mkString("\n"))
    // and the result is the arithmetic truth: per bucket 100 x 10 pairs
    assert(joined.count() == 64L * 100L * 10L)
    // with v2 bucketing OFF (it defaults on in Spark 4) the same join
    // shuffles — the layout negotiation is what removes the exchange, not
    // fixture luck
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def g2(rows: Long) = s2.read.format("graft.sources.GenSource")
      .option("rows", rows.toString).option("keyGrouped", "true").load()
    val shuffled = g2(6400).select(col("id").as("a_id"), col("bucket"))
      .join(g2(640).select(col("id").as("b_id"), col("bucket")), Seq("bucket"))
      .queryExecution.executedPlan.toString
    assert(shuffled.contains("Exchange"), shuffled.linesIterator.take(25).mkString("\n"))
  }
}
