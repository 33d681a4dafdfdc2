package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnLog

/** SQL row-level DML ([[graft.plans.SqlDml]]): statement lowering, the
  * file-granular at-scale contract, and the loud refusals. */
class SqlDmlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("sqldml-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.SqlDml.ensure(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Fresh catalog table under a temp warehouse; returns (sqlName, dir). */
  private def freshTable(tag: String): (String, String) = {
    val wh = graft.io.FsUtil.scratchDir(s"graft_sqldml_$tag")
    spark.conf.set("spark.sql.catalog.gt", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gt.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS gt.db")
    spark.sql(s"CREATE TABLE gt.db.$tag (k BIGINT, v DOUBLE, grp STRING)")
    (s"gt.db.$tag", s"$wh/db/$tag")
  }

  test("DELETE rewrites ONLY the files containing a matching row") {
    val (t, dir) = freshTable("delgran")
    // two single-file commits with disjoint key ranges
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'lo' FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'hi' FROM range(1000, 1100)")
    val before = TxnLog.fileScanPlan(dir)._2 // resolved absolute paths
    assert(before.size >= 2)
    // per-file key ranges: a file is TOUCHED iff it holds a matching row
    def rel(p: String) = p.split('/').takeRight(2).mkString("/")
    val minByRel = spark.read.parquet(before: _*)
      .withColumn("__f", input_file_name())
      .groupBy("__f").agg(min("k").as("mn")).collect()
      .map(r => rel(r.getString(0)) -> r.getLong(1)).toMap
    val (touchedFiles, untouchedFiles) = before.partition(f => minByRel(rel(f)) < 50)
    assert(touchedFiles.nonEmpty && untouchedFiles.nonEmpty)

    spark.sql(s"DELETE FROM $t WHERE k < 50")
    val after = TxnLog.fileScanPlan(dir)._2.toSet
    // every file WITHOUT a matching row survives by PATH — bytes untouched
    untouchedFiles.foreach(f => assert(after.contains(f), s"untouched file $f was moved"))
    // every file WITH a matching row was exchanged out
    touchedFiles.foreach(f => assert(!after.contains(f), s"touched file $f still visible"))
    // the commit is an exchange, not a replace
    val actions = TxnLog.history(spark, dir)
      .orderBy("version").select("action").collect().map(_.getString(0))
    assert(actions.last.startsWith("X"), s"expected X exchange, got ${actions.last}")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 150L)
  }

  test("UPDATE applies SETs simultaneously and keeps column types") {
    val (t, dir) = freshTable("updsim")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    // simultaneous: v sees pre-update k, k sees pre-update v
    spark.sql(s"UPDATE $t SET v = k * 100.0, k = CAST(v AS BIGINT) WHERE grp = 'a'")
    val r = spark.sql(s"SELECT k, v FROM $t WHERE grp = 'a'").head()
    assert(r.getLong(0) == 10L && r.getDouble(1) == 100.0)
    // value exprs cast back to the column type: schema never widens
    val sch = TxnLog.read(spark, dir).schema
    assert(sch("k").dataType.typeName == "long")
    assert(sch("v").dataType.typeName == "double")
  }

  test("MERGE refuses duplicate source keys loudly") {
    val (t, _) = freshTable("dupsrc")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO $t USING (
        SELECT * FROM VALUES (1, 1.0), (1, 2.0) AS s(k, nv)) src
        ON $t.k = src.k
        WHEN MATCHED THEN UPDATE SET v = src.nv""")
    }
    assert(e.getMessage.contains("duplicate keys") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate keys")))
  }

  test("DML against a time-travel resolution is refused") {
    val (t, dir) = freshTable("ttrefuse")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    spark.sql(s"INSERT INTO $t VALUES (2, 20.0, 'b')")
    // the parser itself forbids `DELETE ... VERSION AS OF` text, so the
    // grammar can never reach the rule with a pinned snapshot from SQL —
    // pin both layers: the parse refusal, and the rule's own guard
    // (defense against a future API that hands it a pinned relation)
    intercept[Exception] {
      spark.sql(s"DELETE FROM $t VERSION AS OF 1 WHERE k = 1")
    }
    val pinned = new graft.sources.GraftSqlTable(dir, "t@v1", Some(1L))
    val e = intercept[IllegalArgumentException] {
      graft.plans.SqlDml.requireWritable(pinned, "DELETE")
    }
    assert(e.getMessage.contains("time-travel"))
    // and the table is still intact
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 2L)
  }

  test("MERGE clause order is honored (update-first shields the delete)") {
    val (t, _) = freshTable("clauseord")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'a'), (3, 30.0, 'a')")
    // update-first: k=1 (bump>0) updates; k=2 (bump<=0) falls to delete;
    // k=9 inserts with explicit projection leaving grp NULL-filled
    spark.sql(s"""MERGE INTO $t USING (
      SELECT * FROM VALUES (1, 5.0), (2, -1.0), (9, 7.0) AS s(k, bump)) src
      ON $t.k = src.k
      WHEN MATCHED AND src.bump > 0 THEN UPDATE SET v = v + src.bump
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.bump)""")
    val rows = spark.sql(s"SELECT k, v, grp FROM $t ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L, 9L))
    assert(rows(0).getDouble(1) == 15.0)            // updated
    assert(rows(2).getDouble(1) == 7.0 && rows(2).isNullAt(2)) // inserted, grp NULL
  }

  test("full-table DELETE empties the table; the state survives and refills") {
    val (t, dir) = freshTable("fullwipe")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'a' FROM range(0, 20)")
    spark.sql(s"DELETE FROM $t") // removes-only exchange: empty visible set
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 0L)
    // the Scala reader serves ZERO ROWS at the last known schema
    val empty = TxnLog.read(spark, dir)
    assert(empty.count() == 0L)
    assert(empty.schema.fieldNames.toSeq == Seq("k", "v", "grp"))
    // and the table refills normally
    spark.sql(s"INSERT INTO $t VALUES (7, 7.0, 'b')")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $t").head().getLong(0) == 1L)
    // full delete with PENDING VECTORS takes the replace fallback and
    // lands the same empty state
    TxnLog.deleteVector(spark, dir, "k = 99", Seq("k"))
    spark.sql(s"DELETE FROM $t")
    assert(TxnLog.read(spark, dir).count() == 0L)
  }

  test("deleteWhere/updateWhere are no-ops when nothing matches") {
    val (t, dir) = freshTable("noop")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    val v1 = TxnLog.currentVersion(dir)
    spark.sql(s"DELETE FROM $t WHERE k > 100")
    spark.sql(s"UPDATE $t SET v = 0.0 WHERE k > 100")
    assert(TxnLog.currentVersion(dir) == v1, "no-match DML must not commit")
  }

  test("DML on a partitioned catalog table keeps the hive layout (scans stay native)") {
    val wh = graft.io.FsUtil.scratchDir("graft_sqldml_pdml")
    spark.conf.set("spark.sql.catalog.gt", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gt.db")
    spark.sql("CREATE TABLE gt.db.pdml (k BIGINT, v DOUBLE, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gt.db.pdml SELECT id, CAST(id AS DOUBLE), " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 40)")
    val dir = s"$wh/db/pdml"
    // DELETE routes through the replace fallback (hive layout) but the
    // rewrite must LAND PARTITIONED — otherwise the next partitioned
    // INSERT mixes layouts and the catalog scan refuses
    spark.sql("DELETE FROM gt.db.pdml WHERE k < 10")
    assert(TxnLog.fileScanPlan(dir)._2.forall(_.contains("p=")),
      "DELETE flattened the partitioned layout")
    spark.sql("INSERT INTO gt.db.pdml VALUES (100, 1.0, 'c')")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gt.db.pdml").head().getLong(0) == 31L)
    // UPDATE and MERGE keep it too; the partition column (path-encoded)
    // survives every rewrite
    spark.sql("UPDATE gt.db.pdml SET v = v + 0.5 WHERE p = 'a'")
    spark.sql("""MERGE INTO gt.db.pdml t USING (SELECT 100 AS k, 9.0 AS nv) s
      ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.nv""")
    assert(TxnLog.fileScanPlan(dir)._2.forall(_.contains("p=")))
    assert(spark.sql("SELECT COUNT(*) AS n FROM gt.db.pdml WHERE p = 'a'")
      .head().getLong(0) == 15L)
    assert(spark.sql("SELECT v FROM gt.db.pdml WHERE k = 10").head().getDouble(0) == 10.5)
    assert(spark.sql("SELECT v FROM gt.db.pdml WHERE k = 100").head().getDouble(0) == 9.0)
    // full-table DELETE: zero-row partitioned rewrite commits an empty R
    // and the table still serves its declared schema, then refills
    spark.sql("DELETE FROM gt.db.pdml")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gt.db.pdml").head().getLong(0) == 0L)
    spark.sql("INSERT INTO gt.db.pdml VALUES (7, 7.0, 'z')")
    assert(spark.sql("SELECT p FROM gt.db.pdml").head().getString(0) == "z")
  }

  test("multiple conditional WHEN MATCHED clauses: first matching clause wins") {
    val (t, _) = freshTable("multimatch")
    spark.sql(s"INSERT INTO $t VALUES (1, 150.0, 'a'), (2, 50.0, 'a'), " +
      "(3, 5.0, 'a'), (4, 1.0, 'a')")
    // k=1 passes BOTH update conditions — the FIRST clause must win;
    // k=2 passes only the second; k=3 falls through to the delete;
    // k=4 is matched but passes no clause — unchanged
    spark.sql(s"""MERGE INTO $t USING (
      SELECT * FROM VALUES (1), (2), (3), (4) AS s(k)) src
      ON $t.k = src.k
      WHEN MATCHED AND v > 100 THEN UPDATE SET grp = 'big'
      WHEN MATCHED AND v > 10  THEN UPDATE SET grp = 'mid', v = v + 1000.0
      WHEN MATCHED AND v > 2   THEN DELETE""")
    val rows = spark.sql(s"SELECT k, v, grp FROM $t ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L)) // k=3 deleted
    assert(rows(0).getDouble(1) == 150.0 && rows(0).getString(2) == "big",
      "first clause must win for k=1 (second clause's SETs must not apply)")
    assert(rows(1).getDouble(1) == 1050.0 && rows(1).getString(2) == "mid")
    assert(rows(2).getDouble(1) == 1.0 && rows(2).getString(2) == "a")
  }

  test("WHEN NOT MATCHED BY SOURCE: update and delete legs; empty source applies to all") {
    val (t, _) = freshTable("bysource")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'a'), " +
      "(3, 30.0, 'a'), (4, 40.0, 'a')")
    // src matches k=1 only. k=2/3/4 are not-matched-by-source:
    // k=4 (v>35) deletes, k=2/3 take the stale-mark update
    spark.sql(s"""MERGE INTO $t USING (SELECT 1 AS k) src
      ON $t.k = src.k
      WHEN MATCHED THEN UPDATE SET grp = 'hit'
      WHEN NOT MATCHED BY SOURCE AND v > 35 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET grp = 'stale'""")
    val rows = spark.sql(s"SELECT k, grp FROM $t ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq == Seq("hit", "stale", "stale"))
    // EMPTY source: every target row is not-matched-by-source (the one
    // shape where an empty source is NOT a no-op)
    spark.sql(s"""MERGE INTO $t USING (
      SELECT 1 AS k FROM range(1) WHERE 1 = 0) src
      ON $t.k = src.k
      WHEN NOT MATCHED BY SOURCE AND grp = 'stale' THEN DELETE""")
    assert(spark.sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("nested-field SET targets are refused loudly, not silently dropped") {
    val wh = graft.io.FsUtil.scratchDir("graft_sqldml_nested")
    spark.conf.set("spark.sql.catalog.gt", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gt.db")
    spark.sql("CREATE TABLE gt.db.nested (k BIGINT, s STRUCT<a: BIGINT, b: STRING>)")
    spark.sql("INSERT INTO gt.db.nested SELECT 1, named_struct('a', 1L, 'b', 'x')")
    val e = intercept[Exception] {
      spark.sql("UPDATE gt.db.nested SET s.a = 2 WHERE k = 1")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("top-level column")),
      s"expected the nested-SET refusal, got: ${e.getMessage}")
    // the row is untouched — the statement did NOT partially apply
    assert(spark.sql("SELECT s.a FROM gt.db.nested").head().getLong(0) == 1L)
  }

  test("DML after metadata-only ADD COLUMN preserves the stored values (DELETE and MERGE)") {
    // each statement gets its OWN mixed-schema table: the first DML
    // materializes the width, so reuse would mask the bug for the second
    def mixed(tag: String): String = {
      val (t, _) = freshTable(tag)
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'old' FROM range(0, 10)")
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (tag STRING)")
      // partial backfill: only the NEW file stores `tag`
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'new', " +
        "CONCAT('t', CAST(id AS STRING)) FROM range(100, 110)")
      t
    }
    // DELETE touches BOTH files: the rewrite must keep the new file's
    // stored tag values (single-footer inference would NULL them)
    val td = mixed("evodel")
    spark.sql(s"DELETE FROM $td WHERE k IN (1, 101)")
    assert(spark.sql(s"SELECT tag FROM $td WHERE k = 105").head().getString(0) == "t105",
      "DELETE dropped the metadata-added column's stored values")
    // a predicate ON the added column resolves over pre-evolution files
    spark.sql(s"UPDATE $td SET tag = 'backfilled' WHERE tag IS NULL")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $td WHERE tag = 'backfilled'")
      .head().getLong(0) == 9L)
    // MERGE touching both schema generations preserves them too
    val tm = mixed("evomerge")
    spark.sql(s"""MERGE INTO $tm USING (
      SELECT * FROM VALUES (2, 'u2'), (102, 'u102') AS s(k, ntag)) src
      ON $tm.k = src.k
      WHEN MATCHED THEN UPDATE SET v = v + 0.5""")
    val afterMerge = spark.sql(s"SELECT tag, v FROM $tm WHERE k = 102").head()
    assert(afterMerge.getString(0) == "t102" && afterMerge.getDouble(1) == 102.5,
      "MERGE dropped the metadata-added column's stored values")
    assert(spark.sql(s"SELECT v FROM $tm WHERE k = 2").head().getDouble(0) == 2.5)
  }
}
