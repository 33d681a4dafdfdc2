package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnLog

/** SQL schema evolution through the catalog (q297's machinery): ALTER
  * TABLE ADD/RENAME/DROP COLUMN semantics, the metadata-only claims, and
  * the reader-version refusals. */
class CatalogEvolutionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("catalog-evolution-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.SqlDml.ensure(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def freshTable(tag: String): (String, String) = {
    val wh = graft.io.FsUtil.scratchDir(s"graft_evo_$tag")
    spark.conf.set("spark.sql.catalog.ge", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ge.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ge.db")
    spark.sql(s"CREATE TABLE ge.db.$tag (k BIGINT, v DOUBLE)")
    (s"ge.db.$tag", s"$wh/db/$tag")
  }

  test("ADD COLUMNS is metadata-only: zero files move, old rows read NULL") {
    val (t, dir) = freshTable("addcol")
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0), (2, 2.0)")
    val before = TxnLog.fileScanPlan(dir)._2.toSet
    val vBefore = TxnLog.currentVersion(dir)
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (tag STRING)")
    assert(TxnLog.fileScanPlan(dir)._2.toSet == before, "ADD COLUMN moved files")
    assert(TxnLog.currentVersion(dir) == vBefore, "ADD COLUMN committed data")
    val rows = spark.sql(s"SELECT k, tag FROM $t ORDER BY k").collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(1)))
  }

  test("UPDATE backfills a metadata-added column; later INSERTs write it") {
    val (t, dir) = freshTable("backfill")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0), (2, 200.0)")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (tier STRING)")
    spark.sql(s"UPDATE $t SET tier = CASE WHEN v >= 100 THEN 'hi' ELSE 'lo' END")
    spark.sql(s"INSERT INTO $t VALUES (3, 30.0, 'new')")
    val rows = spark.sql(s"SELECT k, tier FROM $t ORDER BY k").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("lo", "hi", "new"))
    // the backfill was a real rewrite: the committed files now STORE tier
    val last = TxnLog.read(spark, dir)
    assert(last.schema.fieldNames.contains("tier"))
  }

  test("RENAME COLUMN commits metadata only; SQL scan refuses until compact") {
    val (t, dir) = freshTable("rename")
    spark.sql(s"INSERT INTO $t VALUES (1, 1.5)")
    val before = TxnLog.fileScanPlan(dir)._2.toSet
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO amount")
    // zero data files moved (the M commit is a manifest)
    val (_, filesNow, plain) = TxnLog.fileScanPlan(dir)
    assert(filesNow.toSet == before && !plain)
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $t").collect())
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m => m.contains("pending") || m.contains("compact")))
    TxnLog.compact(spark, dir)
    val r = spark.sql(s"SELECT amount FROM $t").head()
    assert(r.getDouble(0) == 1.5)
    assert(!spark.table(t).schema.fieldNames.contains("v"))
  }

  test("time travel serves the snapshot's OWN schema, not the evolved one") {
    val (t, dir) = freshTable("ttschema")
    spark.sql(s"INSERT INTO $t VALUES (1, 2.5)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO amount")
    TxnLog.compact(spark, dir) // materialize: head now reads `amount`
    assert(spark.sql(s"SELECT amount FROM $t").head().getDouble(0) == 2.5)
    // the pinned snapshot predates the rename: its files store `v`, and
    // the DATA must come back under that era's name — never NULL
    val old = spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
    assert(old.length == 1 && old.head.schema.fieldNames.contains("v"))
    assert(old.head.getDouble(old.head.fieldIndex("v")) == 2.5)
    // ADD COLUMN likewise: old versions serve the narrow schema
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (tag STRING)")
    assert(!spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
      .schema.fieldNames.contains("tag"))
    assert(spark.table(t).schema.fieldNames.contains("tag"))
  }

  test("DROP COLUMN through SQL, materialized by compact") {
    val (t, dir) = freshTable("dropcol")
    spark.sql(s"INSERT INTO $t VALUES (7, 9.0)")
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    TxnLog.compact(spark, dir)
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("k"))
    assert(spark.sql(s"SELECT k FROM $t").head().getLong(0) == 7L)
  }

  test("invalid evolution is refused loudly") {
    val (t, _) = freshTable("refuse")
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0)")
    val dup = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (v STRING)"))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(dup).exists(m =>
      m.contains("already exists") || m.contains("ALREADY_EXISTS")))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (nested STRUCT<a: INT>.b INT)"))
    // NOT NULL add must refuse: existing rows cannot fill it
    val nn = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (req STRING NOT NULL)"))
    assert(msgs(nn).exists(m => m.contains("nullable") || m.contains("NOT NULL")))
  }

  test("partitioned CREATE TABLE + INSERT land the hive col=val layout") {
    val wh = graft.io.FsUtil.scratchDir("graft_evo_part")
    spark.conf.set("spark.sql.catalog.ge.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ge.db")
    spark.sql("CREATE TABLE ge.db.pt (k BIGINT, v DOUBLE, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO ge.db.pt SELECT id, CAST(id AS DOUBLE), " +
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(0, 100)")
    // the manifest paths carry the dir-encoded partition values
    val files = TxnLog.fileScanPlan(s"$wh/db/pt")._2
    assert(files.nonEmpty && files.forall(_.contains("p=")),
      s"expected hive layout, got ${files.take(3)}")
    // the partition column reads back (from the PATH, not file bodies)
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.pt WHERE p = 'even'")
      .head().getLong(0) == 50L)
    // the declared spec is visible to SQL
    assert(spark.sql("SHOW CREATE TABLE ge.db.pt").head().getString(0)
      .contains("PARTITIONED BY"))
    // partition pruning reaches the scan: a p-filtered plan reads fewer
    // files than the table holds
    val plan = spark.sql("SELECT SUM(v) FROM ge.db.pt WHERE p = 'even'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("p=even") || !plan.contains("p=odd"),
      "partition filter did not reach the file index")
    // INSERT OVERWRITE = partitioned replace commit
    spark.sql("INSERT OVERWRITE ge.db.pt SELECT id, 1.0, 'only' FROM range(0, 7)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.pt").head().getLong(0) == 7L)
    assert(spark.sql("SELECT DISTINCT p FROM ge.db.pt").head().getString(0) == "only")
  }

  test("REPLACE TABLE AS SELECT is atomic: one claim, time travel crosses it") {
    val (t, dir) = freshTable("rtas")
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0), (2, 2.0)")
    val vBefore = TxnLog.currentVersion(dir)
    // RTAS with a DIFFERENT schema: data + DDL schema swap in one commit
    spark.sql(s"REPLACE TABLE $t AS SELECT id AS n, CONCAT('r', id) AS tag FROM range(0, 3)")
    assert(TxnLog.currentVersion(dir) == vBefore + 1,
      "the whole replace must be exactly one commit")
    val rows = spark.sql(s"SELECT n, tag FROM $t ORDER BY n").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "r0"), (1L, "r1"), (2L, "r2")))
    // time travel BACK across the replace: the old era's data and schema
    val old = spark.sql(s"SELECT * FROM $t VERSION AS OF $vBefore")
    assert(old.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(old.count() == 2)
    // bare REPLACE TABLE (no AS SELECT) = truncate to a new schema
    spark.sql(s"REPLACE TABLE $t (a BIGINT, b STRING)")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 0L)
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("a", "b"))
    // CREATE OR REPLACE on a MISSING table creates it
    spark.sql(s"CREATE OR REPLACE TABLE ${t}2 AS SELECT 42 AS x")
    assert(spark.sql(s"SELECT x FROM ${t}2").head().getInt(0) == 42)
  }

  test("failed RTAS aborts cleanly: table unchanged, staged files removed") {
    val (t, dir) = freshTable("rtasfail")
    spark.sql(s"INSERT INTO $t VALUES (7, 7.5)")
    def census(): Set[String] = {
      def walk(f: java.io.File, pfx: String): Set[String] =
        Option(f.listFiles()).map(_.toSet).getOrElse(Set.empty).flatMap { c =>
          if (c.isDirectory) walk(c, s"$pfx/${c.getName}")
          else Set(s"$pfx/${c.getName}")
        }
      walk(new java.io.File(dir), "").filter(_.endsWith(".parquet"))
    }
    val before = census()
    val vBefore = TxnLog.currentVersion(dir)
    // the SELECT throws mid-write → abortStagedChanges
    intercept[Exception](spark.sql(
      s"REPLACE TABLE $t AS SELECT assert_true(id < 1) AS a, id FROM range(0, 100)"))
    assert(TxnLog.currentVersion(dir) == vBefore, "no version may land")
    assert(census() == before, s"staged litter left behind: ${census() -- before}")
    assert(spark.sql(s"SELECT k FROM $t").head().getLong(0) == 7L,
      "old table must be intact")
    // failed atomic CTAS on a NEW table leaves NO table behind
    intercept[Exception](spark.sql(
      s"CREATE TABLE ${t}_new AS SELECT assert_true(id < 1) AS a FROM range(0, 100)"))
    assert(!spark.catalog.tableExists(s"${t}_new"))
    intercept[Exception](spark.sql(s"SELECT * FROM ${t}_new"))
  }

  test("REPLACE TABLE swaps the partition spec both directions") {
    val wh = graft.io.FsUtil.scratchDir("graft_evo_rp")
    spark.conf.set("spark.sql.catalog.ge", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ge.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ge.db")
    spark.sql("CREATE TABLE ge.db.rp (k BIGINT, p STRING)")
    spark.sql("INSERT INTO ge.db.rp VALUES (1, 'a')")
    val dir = s"$wh/db/rp"
    // flat → partitioned: the new spec routes the staged write hive-style
    spark.sql("""CREATE OR REPLACE TABLE ge.db.rp PARTITIONED BY (p) AS
      SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS p
      FROM range(0, 10)""")
    val files = TxnLog.fileScanPlan(dir)._2
    assert(files.nonEmpty && files.forall(_.contains("p=")),
      s"expected hive layout after replace, got ${files.take(3)}")
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.rp WHERE p = 'e'")
      .head().getLong(0) == 5L)
    // later INSERTs follow the NEW spec
    spark.sql("INSERT INTO ge.db.rp VALUES (100, 'x')")
    assert(TxnLog.fileScanPlan(dir)._2.forall(_.contains("p=")))
    // partitioned → flat: the stale spec must be REMOVED, not inherited
    spark.sql("REPLACE TABLE ge.db.rp AS SELECT id AS z FROM range(0, 4)")
    assert(TxnLog.fileScanPlan(dir)._2.forall(!_.contains("=")),
      "replace to a flat table must drop the old partition spec")
    spark.sql("INSERT INTO ge.db.rp VALUES (9)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.rp").head().getLong(0) == 5L)
  }

  test("empty partitioned INSERT no-ops; empty OVERWRITE truncates") {
    // the possibly-empty ETL increment: `INSERT ... WHERE false` must be
    // a valid no-op on a PARTITIONED catalog table (zero rows stage zero
    // files under hive dir-encoding), matching the unpartitioned path
    val wh = graft.io.FsUtil.scratchDir("graft_evo_emptyins")
    spark.conf.set("spark.sql.catalog.ge.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ge.db")
    spark.sql("CREATE TABLE ge.db.ept (k BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO ge.db.ept SELECT id, 'a' FROM range(0, 5)")
    val dir = s"$wh/db/ept"
    val vBefore = TxnLog.currentVersion(dir)
    spark.sql("INSERT INTO ge.db.ept SELECT id, 'b' FROM range(0, 5) WHERE 1 = 0")
    assert(TxnLog.currentVersion(dir) == vBefore,
      "empty partitioned INSERT must not commit a version")
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.ept").head().getLong(0) == 5L)
    // empty OVERWRITE = truncate (an empty R commit); DDL schema survives
    spark.sql("INSERT OVERWRITE ge.db.ept SELECT id, 'c' FROM range(0, 5) WHERE 1 = 0")
    assert(TxnLog.currentVersion(dir) == vBefore + 1)
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.ept").head().getLong(0) == 0L)
    assert(spark.sql("SELECT * FROM ge.db.ept").schema.fieldNames.toSeq ==
      Seq("k", "p"))
    // the truncated table accepts new rows and time-travels back
    spark.sql("INSERT INTO ge.db.ept SELECT id, 'd' FROM range(0, 3)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.ept").head().getLong(0) == 3L)
  }

  test("partitioned CTAS through the catalog (create + partitioned write)") {
    val wh = graft.io.FsUtil.scratchDir("graft_evo_ctas")
    spark.conf.set("spark.sql.catalog.ge.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ge.db")
    spark.sql("""CREATE TABLE ge.db.ctas PARTITIONED BY (par) AS
      SELECT id AS k, CAST(id * 2 AS DOUBLE) AS v,
             CAST(id % 3 AS STRING) AS par FROM range(0, 90)""")
    val files = TxnLog.fileScanPlan(s"$wh/db/ctas")._2
    assert(files.nonEmpty && files.forall(_.contains("par=")),
      s"CTAS did not land hive layout: ${files.take(3)}")
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.ctas WHERE par = '1'")
      .head().getLong(0) == 30L)
    assert(spark.sql("SELECT SUM(v) AS s FROM ge.db.ctas").head().getDouble(0)
      == (0 until 90).map(_ * 2.0).sum)
    // non-identity transforms refuse loudly
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE ge.db.bad (k BIGINT, p BIGINT) PARTITIONED BY (bucket(4, p))"))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m => m.contains("identity") || m.contains("bucket")))
  }

  test("RENAME TABLE is a directory-level move; data and history survive") {
    val wh = graft.io.FsUtil.scratchDir("graft_evo_ren")
    spark.conf.set("spark.sql.catalog.ge.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ge.db")
    spark.sql("CREATE TABLE ge.db.orig (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ge.db.orig VALUES (1, 1.5), (2, 2.5)")
    spark.sql("INSERT INTO ge.db.orig VALUES (3, 3.5)")
    spark.sql("ALTER TABLE ge.db.orig RENAME TO ge.db.renamed")
    // old name gone, new name serves the data AND the version history
    intercept[Exception](spark.sql("SELECT * FROM ge.db.orig").collect())
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.renamed").head().getLong(0) == 3L)
    assert(spark.sql("SELECT COUNT(*) AS n FROM ge.db.renamed VERSION AS OF 1")
      .head().getLong(0) == 2L)
    assert(TxnLog.currentVersion(s"$wh/db/renamed") == 2L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/db/orig")))
    // renaming onto an existing table refuses
    spark.sql("CREATE TABLE ge.db.other (k BIGINT)")
    intercept[Exception](
      spark.sql("ALTER TABLE ge.db.renamed RENAME TO ge.db.other"))
  }
}
