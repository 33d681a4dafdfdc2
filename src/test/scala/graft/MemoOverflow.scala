package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** Shared check for the session-memo overflow fallback: under a row cap of
  * 0 any memo table overflows the bounded collect, so the distributed plan
  * is persisted instead of replayed locally. */
object MemoOverflow {

  /** Runs the board entries `names`, which read the memo `kind`, once on
    * the default path and once under a row cap of 0, and checks that both
    * paths give the same rows and that each path really is the one it
    * claims to be. */
  def assertFallsBackToPersist(spark: SparkSession, d: String,
                               kind: String, names: Seq[String]): Unit = {
    import graft.core.SessionMemo
    def run() = {
      graft.queries.DedupSim.invalidateSessionCaches(spark, d)
      val dfs = names.map(n => graft.SparkEntry.queries(n)(spark, d))
      (dfs.map(_.collect().map(_.toSeq).toSeq),
       dfs.head.queryExecution.executedPlan.toString)
    }
    try {
      val (localRows, localPlan) = run()
      val (persistedRows, persistedPlan) = SessionMemo.withLocalRowCap(0)(run())
      assert(localRows.forall(_.nonEmpty), s"$kind: empty fixture output")
      // identical results through either memo strategy
      assert(persistedRows == localRows, s"$kind: rows differ between paths")
      // the default path really replays a local relation, and the fallback
      // really is the persisted distributed plan
      assert(localPlan.contains("LocalTableScan") &&
        !localPlan.contains("InMemoryTableScan"), s"$kind local plan:\n$localPlan")
      assert(persistedPlan.contains("InMemoryTableScan"),
        s"$kind persisted plan:\n$persistedPlan")
    } finally graft.queries.DedupSim.invalidateSessionCaches(spark, d)
  }
}
