package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo of derived tables that several board entries
  * consume within one session: MinHash/LSH candidates (q24/q45), SimHash
  * signatures (q25/q78), substring spans (q80/q86/q92), shingle arrays
  * (q128), corpus chunk bands and pairs (q357/q361/q368), the q360
  * decision table (q360/q363/q365/q370, and q372 through its flag table)
  * and q372's doc-grain flag table. The one policy every memo
  * follows lives here:
  *   - Entries are keyed by (session, dir, kind). A live session keeps at
  *     most ONE dir across all kinds: a memo call on a new dir releases
  *     every entry of the previous one, so a long-lived session scanning
  *     many dirs does not accumulate pinned blocks. Entries of stopped
  *     sessions are dropped on the next access.
  *   - [[replayed]] sizes the reuse to the input. Under [[LocalInputBytes]]
  *     of local documents parquet the table is collected once, at most
  *     cap + 1 rows ([[boundedCollect]]), and replayed as a local relation:
  *     a distributed persist there adds a stage boundary that costs more
  *     than the recompute it saves. A larger input, a non-local path or a
  *     cap overflow (a join-amplified table) persists the distributed plan
  *     MEMORY_AND_DISK instead, so the driver materialization stays bounded
  *     whatever the data. [[persisted]] always persists, for values whose
  *     physical partitioning the consumers rely on.
  *   - Builds may nest (a pair memo resolving its band memo on the same
  *     map), so lookups go through get/putIfAbsent, never computeIfAbsent,
  *     whose nested use on one ConcurrentHashMap may throw or deadlock. A
  *     lost race discards one duplicate build.
  *   - [[evict]] drops every kind for (session, dir). Callers that rewrite
  *     the files under a dir mid-session must evict it (through
  *     `DedupSim.invalidateSessionCaches`, which also sweeps the q345
  *     index memo), the standard cache-coherence contract; Bench and the
  *     benchmark workloads evict before every timed pass so each pass pays
  *     the full computation. */
object SessionMemo {

  /** Documents-input size up to which [[replayed]] tries a local replay. */
  private val LocalInputBytes = 256L * 1024 * 1024

  /** Row cap of every bounded driver collect. */
  private val LocalRowCap = 200000

  private val rowCap = new scala.util.DynamicVariable[Int](LocalRowCap)

  private val memos = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  /** Runs `body` with the bounded-collect cap set to `cap` on this thread,
    * so specs can drive the persist and distributed fallbacks without a
    * pathological fixture. */
  private[graft] def withLocalRowCap[T](cap: Int)(body: => T): T =
    rowCap.withValue(cap)(body)

  /** The rows of `df` if it has at most the row cap of them, else None;
    * at most cap + 1 rows ever reach the driver. */
  private[graft] def boundedCollect(df: DataFrame): Option[Array[Row]] = {
    val cap = rowCap.value
    val head = df.limit(cap + 1).collect()
    if (head.length <= cap) Some(head) else None
  }

  /** [[boundedCollect]] of a table with at most one row per document of
    * `d` (doc_id is the documents key): when the documents footers count
    * at most the row cap, the table is collected whole in one job instead
    * of the limit scan's partition-by-partition rounds. */
  private[graft] def docGrainCollect(df: DataFrame, d: String): Option[Array[Row]] =
    graft.io.ParquetStats.rowCount(s"$d/documents.parquet") match {
      case Some(n) if n <= rowCap.value => Some(df.collect())
      case _ => boundedCollect(df)
    }

  /** The memoized `build` for (s, d, kind): a local relation when the
    * documents input under `d` is small and the table fits the row cap,
    * else the persisted distributed plan. A `docGrain` table (at most one
    * row per document) is collected through [[docGrainCollect]]. */
  private[graft] def replayed(s: SparkSession, d: String, kind: String,
                              docGrain: Boolean = false)
                             (build: => DataFrame): DataFrame =
    memo(s, d, kind) {
      val df = build
      val local =
        if (!isSmallLocal(s"$d/documents.parquet")) None
        else if (docGrain) docGrainCollect(df, d)
        else boundedCollect(df)
      local match {
        case Some(rows) =>
          import scala.jdk.CollectionConverters._
          s.createDataFrame(rows.toSeq.asJava, df.schema)
        case None => df.persist(StorageLevel.MEMORY_AND_DISK)
      }
    }

  /** The memoized `build` for (s, d, kind), always persisted, so it keeps
    * the physical partitioning a local relation would lose. */
  private[graft] def persisted(s: SparkSession, d: String, kind: String)
                               (build: => DataFrame): DataFrame =
    memo(s, d, kind)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Drops and unpersists every memo of (s, d). */
  private[graft] def evict(s: SparkSession, d: String): Unit =
    memos.entrySet().removeIf { e =>
      val hit = (e.getKey._1 eq s) && e.getKey._2 == d
      if (hit) release(e.getKey._1, e.getValue)
      hit
    }

  /** The memos of (s, d) by kind. */
  private[graft] def entries(s: SparkSession, d: String): Map[String, DataFrame] = {
    import scala.jdk.CollectionConverters._
    memos.asScala.collect {
      case ((s1, d1, kind), df) if (s1 eq s) && d1 == d => kind -> df
    }.toMap
  }

  private def memo(s: SparkSession, d: String, kind: String)
                  (value: => DataFrame): DataFrame = {
    memos.entrySet().removeIf { e =>
      val dead = e.getKey._1.sparkContext.isStopped
      val stale = !dead && (e.getKey._1 eq s) && e.getKey._2 != d
      if (stale) release(s, e.getValue)
      dead || stale
    }
    val key = (s, d, kind)
    val existing = memos.get(key)
    if (existing != null) existing
    else {
      val fresh = value
      val prev = memos.putIfAbsent(key, fresh)
      if (prev != null) { release(s, fresh); prev } else fresh
    }
  }

  /** Unpersist is a no-op on a local relation. */
  private def release(s: SparkSession, df: DataFrame): Unit =
    if (!s.sparkContext.isStopped) df.unpersist()

  /** Whether `path` is a local file tree of at most [[LocalInputBytes]];
    * an absent or non-local path counts as large. */
  private def isSmallLocal(path: String): Boolean = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    val bytes = walk(new java.io.File(path))
    bytes > 0 && bytes <= LocalInputBytes
  }
}
