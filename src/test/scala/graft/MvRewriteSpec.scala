package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftPlanner
import graft.plans.MvRewrite
import graft.plans.MvRewrite.{MvDef, MvMeasure}

/** Specs for the materialized-view rewrite rule: rewritten plans must scan
  * the MV instead of the base table with results byte-identical to the
  * unrewritten formulation, and every shape the MV cannot answer must be
  * left untouched. */
class MvRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftPlanner.ensure(s)
    s
  }

  override def afterAll(): Unit = {
    MvRewrite.clear()
    spark.stop()
  }

  private lazy val baseDir = {
    import spark.implicits._
    val dir = graft.io.FsUtil.scratchDir("graft_mvspec")
    val rnd = new scala.util.Random(11)
    (0 until 4000)
      .map(i => (s"g${i % 7}", s"h${i % 3}", rnd.nextInt(1000).toDouble / 4, i.toLong))
      .toDF("k1", "k2", "v", "id")
      .coalesce(1).write.parquet(s"$dir/base")
    dir
  }
  private def base: DataFrame = spark.read.parquet(s"$baseDir/base")

  private val dec = DecimalType(18, 4)

  private def buildAndRegisterMv(): MvDef = {
    val mvPath = s"$baseDir/mv_${System.nanoTime()}"
    base.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("cnt"), sum(col("v").cast(dec)).as("sum_v"),
           min(col("v")).as("min_v"), max(col("v")).as("max_v"),
           count(col("v").cast(dec)).as("cnt_vd"),
           sum(col("id")).as("sum_id"), count(col("id")).as("cnt_id"))
      .coalesce(1).write.parquet(mvPath)
    val d = MvDef(s"$baseDir/base", mvPath, Seq("k1", "k2"), "cnt",
      Seq(MvMeasure("sum", "v", Some(dec), "sum_v"),
          MvMeasure("min", "v", None, "min_v"),
          MvMeasure("max", "v", None, "max_v"),
          MvMeasure("cnt", "v", Some(dec), "cnt_vd"),
          MvMeasure("sum", "id", None, "sum_id"),
          MvMeasure("cnt", "id", None, "cnt_id")))
    MvRewrite.register(d)
    d
  }

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Seq.empty[String]
      }
    }.flatten

  private def usesMv(df: DataFrame, mv: MvDef): Boolean = {
    val ps = scanPaths(df)
    ps.exists(_.endsWith(mv.mvPath.drop(mv.mvPath.lastIndexOf('/')))) &&
      !ps.exists(_.endsWith("/base"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("exact-grouping query routes to the MV with identical results") {
    val mv = buildAndRegisterMv()
    try {
      def q(d: DataFrame) = d.groupBy(col("k1"), col("k2"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).cast("double").as("sv"),
             max(col("v")).as("mx"))
      val rewritten = q(base)
      assert(usesMv(rewritten, mv), rewritten.queryExecution.optimizedPlan.toString)
      MvRewrite.clear()
      val plain = q(base)
      assert(!usesMv(plain, mv))
      MvRewrite.register(mv)
      assert(sortedRows(rewritten) == sortedRows(plain))
    } finally MvRewrite.clear()
  }

  test("coarser rollup re-aggregates MV partials exactly") {
    val mv = buildAndRegisterMv()
    try {
      def q(d: DataFrame) = d.groupBy(col("k1"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("sv"),
             min(col("v")).as("mn"), max(col("v")).as("mx"))
      val rewritten = q(base)
      assert(usesMv(rewritten, mv))
      MvRewrite.clear()
      assert(sortedRows(rewritten) == sortedRows(q(base)))
    } finally MvRewrite.clear()
  }

  test("key-column filter commutes through the rewrite") {
    val mv = buildAndRegisterMv()
    try {
      def q(d: DataFrame) = d.filter(col("k2") =!= "h1").groupBy(col("k1"))
        .agg(sum(col("v").cast(dec)).as("sv"))
      val rewritten = q(base)
      assert(usesMv(rewritten, mv))
      MvRewrite.clear()
      assert(sortedRows(rewritten) == sortedRows(q(base)))
    } finally MvRewrite.clear()
  }

  test("downstream operators resolve against the rewritten node (pinned ExprIds)") {
    val mv = buildAndRegisterMv()
    try {
      val df = base.groupBy(col("k1"), col("k2"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 100)
        .orderBy(col("k1"), col("k2"))
        .select(concat(col("k1"), lit("/"), col("k2")).as("k"), col("n"))
      assert(usesMv(df, mv))
      val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      MvRewrite.clear()
      val want = base.groupBy(col("k1"), col("k2")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 100).orderBy(col("k1"), col("k2"))
        .select(concat(col("k1"), lit("/"), col("k2")).as("k"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == want && got.nonEmpty)
    } finally MvRewrite.clear()
  }

  test("underivable shapes are left untouched") {
    val mv = buildAndRegisterMv()
    try {
      // filter on a non-key column (cannot commute)
      assert(!usesMv(base.filter(col("v") > 100)
        .groupBy(col("k1")).agg(count(lit(1)).as("n")), mv))
      // DISTINCT aggregate (not derivable from partials)
      assert(!usesMv(base.groupBy(col("k1"))
        .agg(countDistinct(col("k2")).as("n")), mv))
      // sum of a non-measure expression (id is declared only as a bare
      // column; an arithmetic child is not derivable)
      assert(!usesMv(base.groupBy(col("k1"))
        .agg(sum(col("id") * 2).as("s")), mv))
      // sum through a DIFFERENT cast than the declared measure
      assert(!usesMv(base.groupBy(col("k1"))
        .agg(sum(col("v").cast(DecimalType(20, 6))).as("s")), mv))
      // grouping by a non-key expression
      assert(!usesMv(base.groupBy(upper(col("k1")).as("u"))
        .agg(count(lit(1)).as("n")), mv))
      // AVG whose sum/count partials are not declared for that child
      assert(!usesMv(base.groupBy(col("k1")).agg(avg(col("v")).as("a")), mv))
    } finally MvRewrite.clear()
  }

  test("empty registry is a strict no-op; unregister closes the window") {
    MvRewrite.clear()
    val mv = buildAndRegisterMv()
    MvRewrite.unregister(mv.basePath)
    assert(!usesMv(base.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n")), mv))
  }

  test("exact-root defs: multi-file scans match by file set; stale sets refuse") {
    import org.apache.spark.sql.functions._
    // a "table" that is a list of files, read file-set style (the txn-log
    // read shape): two part files
    val dir = graft.io.FsUtil.scratchDir("graft_mvspec_multi")
    base.filter(col("id") % 2 === 0).coalesce(1).write.parquet(s"$dir/p0")
    base.filter(col("id") % 2 === 1).coalesce(1).write.parquet(s"$dir/p1")
    def files(sub: String) = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, sub)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    val fileSet = (files("p0") ++ files("p1")).toSeq
    def tbl = spark.read.parquet(fileSet: _*)
    val mvPath = s"$dir/mv"
    tbl.groupBy(col("k1")).agg(count(lit(1)).as("cnt")).coalesce(1).write.parquet(mvPath)
    val d = MvRewrite.MvDef(dir, mvPath, Seq("k1"), "cnt", Nil,
      exactRoots = Some(fileSet.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet))
    MvRewrite.register(d)
    try {
      def q(t: DataFrame) = t.groupBy(col("k1")).agg(count(lit(1)).as("n"))
      val routed = q(tbl)
      assert(scanPaths(routed).exists(_.endsWith("/mv")), routed.queryExecution.optimizedPlan)
      // results identical to the unrewritten plan
      MvRewrite.clear()
      val plainRows = sortedRows(q(tbl))
      MvRewrite.register(d)
      assert(sortedRows(routed) == plainRows)
      // a DIFFERENT file set (one file dropped — "a commit happened") must
      // NOT match the stale def
      val shrunk = spark.read.parquet(files("p0").toSeq: _*)
      assert(!scanPaths(q(shrunk)).exists(_.endsWith("/mv")))
      // a superset must not match either
      val extra = s"$dir/p2"
      base.limit(5).coalesce(1).write.parquet(extra)
      val grown = spark.read.parquet((fileSet ++ files("p2")): _*)
      assert(!scanPaths(q(grown)).exists(_.endsWith("/mv")))
    } finally MvRewrite.clear()
  }

  test("grouping lattice: the coarsest eligible MV answers") {
    import org.apache.spark.sql.functions._
    val fine = buildAndRegisterMv() // keys (k1, k2)
    // a COARSER (k1) MV over the same base, same measure grammar
    val coarsePath = s"$baseDir/mv_coarse_${System.nanoTime()}"
    base.groupBy(col("k1"))
      .agg(count(lit(1)).as("cnt"), sum(col("v").cast(dec)).as("sum_v"))
      .coalesce(1).write.parquet(coarsePath)
    val coarse = MvDef(s"$baseDir/base", coarsePath, Seq("k1"), "cnt",
      Seq(MvMeasure("sum", "v", Some(dec), "sum_v")))
    MvRewrite.register(coarse)
    try {
      def paths(df: DataFrame) = scanPaths(df)
      // grouped by k1: BOTH are eligible; the coarse one must win
      val byK1 = base.groupBy(col("k1"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("sv"))
      assert(paths(byK1).exists(_.contains("mv_coarse_")), paths(byK1).mkString(","))
      // grouped by (k1, k2): only the fine MV is eligible
      val byBoth = base.groupBy(col("k1"), col("k2"))
        .agg(count(lit(1)).as("n"))
      assert(usesMv(byBoth, fine) && !paths(byBoth).exists(_.contains("mv_coarse_")))
      // a min() query: the coarse MV lacks the measure, the fine one serves
      val needMin = base.groupBy(col("k1")).agg(min(col("v")).as("mn"))
      assert(usesMv(needMin, fine) && !paths(needMin).exists(_.contains("mv_coarse_")))
      // values identical either way
      MvRewrite.clear()
      val want = byK1.collect().map(_.toString).sorted.toSeq
      MvRewrite.register(fine); MvRewrite.register(coarse)
      val got = base.groupBy(col("k1"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("sv"))
        .collect().map(_.toString).sorted.toSeq
      assert(got == want)
    } finally MvRewrite.clear()
  }

  test("AVG and COUNT(col) derive from declared sum+count partials") {
    val mv = buildAndRegisterMv()
    try {
      // long child (exact integer-double sums) and decimal child (the
      // division tree mirrors Average's own, so rounding is identical)
      def q(d: DataFrame) = d.groupBy(col("k1"))
        .agg(avg(col("id")).as("a_l"), avg(col("v").cast(dec)).as("a_d"),
             count(col("id")).as("c"))
      val rewritten = q(base)
      assert(usesMv(rewritten, mv), rewritten.queryExecution.optimizedPlan.toString)
      MvRewrite.clear()
      val plain = q(base)
      assert(!usesMv(plain, mv))
      MvRewrite.register(mv)
      assert(sortedRows(rewritten) == sortedRows(plain))
    } finally MvRewrite.clear()
  }

  test("AVG without a declared count partial refuses; DISTINCT refuses") {
    val mv = buildAndRegisterMv()
    try {
      // avg(v) uncast: no ("sum","v",None) measure → whole rewrite refused
      val noPartial = base.groupBy(col("k1")).agg(avg(col("v")).as("a"))
      assert(!usesMv(noPartial, mv))
      val distinct = base.groupBy(col("k1")).agg(countDistinct(col("id")).as("n"))
      assert(!usesMv(distinct, mv))
    } finally MvRewrite.clear()
  }

  test("global COUNT over a no-match key filter returns 0 from the MV, not NULL") {
    val mv = buildAndRegisterMv()
    try {
      val q = base.filter(col("k1") === "no_such_group")
        .agg(count(lit(1)).as("n"), count(col("id")).as("nc"),
             sum(col("v").cast(dec)).as("sv"), avg(col("id")).as("av"))
      assert(usesMv(q, mv), q.queryExecution.optimizedPlan.toString)
      val r = q.collect()
      assert(r.length == 1)
      assert(r(0).getLong(0) == 0L, "COUNT(*) must coalesce to 0 on empty global agg")
      assert(r(0).getLong(1) == 0L, "COUNT(col) must coalesce to 0 on empty global agg")
      assert(r(0).isNullAt(2) && r(0).isNullAt(3), "SUM/AVG stay NULL on empty")
    } finally MvRewrite.clear()
  }
}
