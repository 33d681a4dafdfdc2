package graft

import org.apache.spark.JobLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FsUtil, TxnLog => T}

/** Spark jobs each rewriting TxnLog writer launches on a small two-file
  * table. A commit-protocol change moves driver-side bookkeeping, not
  * data work, so every count here may only go down. */
class TxnLogJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, k * 10L, (k % 2).toInt)).toDF("k", "x", "p").coalesce(1)
  }

  /** Two flat files: k 1-10 and k 11-20. */
  private def flatTable(): String = {
    val dir = FsUtil.scratchDir("graft_txnjobs")
    T.commit(rows(1L to 10L), dir)
    T.commit(rows(11L to 20L), dir)
    dir
  }

  /** Two shared-tree hive commits partitioned by `p`. */
  private def partitionedTable(): String = {
    val dir = FsUtil.scratchDir("graft_txnjobs")
    T.commitPartitionedShared(rows(1L to 10L), dir, Seq("p"))
    T.commitPartitionedShared(rows(11L to 20L), dir, Seq("p"))
    dir
  }

  private def src(): DataFrame = {
    import spark.implicits._
    Seq((3L, -3L, 1), (99L, 990L, 1)).toDF("k", "x", "p")
  }

  /** (operation, table, writer, jobs it launched before the writers
    * shared one commit loop, jobs it launches now). */
  private val pinned: Seq[(String, () => String, String => Long, Int, Int)] = Seq(
    ("compact", flatTable _, dir => T.compact(spark, dir), 2, 2),
    ("deleteWhere", flatTable _, dir => T.deleteWhere(spark, dir, col("k") <= 3L), 5, 5),
    ("updateWhere", flatTable _,
      dir => T.updateWhere(spark, dir, Seq("x" -> lit(0L)), col("k") === 2L), 5, 5),
    ("merge", flatTable _, dir => T.merge(spark, dir, src(), Seq("k")), 11, 11),
    ("mergeInto", flatTable _, dir => T.mergeInto(spark, dir, src(), Seq("k"),
      T.MergeActions(updateSet = Some(Seq("x" -> "src_x")))), 16, 16),
    ("update", flatTable _,
      dir => T.update(spark, dir, "k = 2", Seq("x" -> "0L"), Seq("k")), 12, 12),
    ("deleteVector", flatTable _, dir => T.deleteVector(spark, dir, "k = 2", Seq("k")), 5, 5),
    ("compactSmall", flatTable _, dir => T.compactSmall(spark, dir, 1L << 20), 2, 2),
    ("optimizeZorder", flatTable _,
      dir => T.optimizeZorder(spark, dir, "k", "x", 2, Seq("k")), 8, 8),
    ("optimizeClustered", flatTable _, { dir =>
      T.clusterBy(dir, "k", "x")
      T.optimizeClustered(spark, dir, 2)
    }, 8, 8),
    ("deleteWhere, partitioned fallback", partitionedTable _,
      dir => T.deleteWhere(spark, dir, col("k") <= 3L, partitionBy = Seq("p")),
      4, 2)) // the replace no longer pins its rows and probes isEmpty first

  pinned.foreach { case (op, table, write, before, jobs) =>
    test(s"$op launches $jobs Spark jobs") {
      assert(jobs <= before)
      val dir = table()
      val (v, sites) = JobLog.of(spark.sparkContext)(write(dir))
      assert(v == 3L, s"$op committed v$v")
      assert(sites.size == jobs, s"$op: ${sites.size} jobs\n${sites.mkString("\n")}")
    }
  }
}
