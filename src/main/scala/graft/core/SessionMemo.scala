package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo of derived values that several board entries
  * consume within one session: the one place that decides when such a
  * value dies and what dying releases. Its kinds:
  *   - DataFrames, released by unpersist: `lsh_candidates` (q24/q45),
  *     `simhash_signatures` (q25/q78), `substring_spans` (q80/q86/q92),
  *     `shingle_arrays` (q128), `chunk_bands`/`chunk_pairs`
  *     (q357/q361/q368), `decisions` (q360/q363/q365/q370) and q372's
  *     doc-grain flag table `curation_flags`;
  *   - index dirs ([[Owned]]), released by deleting the dir: q345's
  *     inverted file `ivf_index` and `ivf_base_index`, the frozen-codebook
  *     base that q351, q358 and q371 share. Both are stamped with the
  *     embeddings files' signature, so a regenerated corpus misses.
  *
  * The one policy every kind follows:
  *   - Entries are keyed by (session, dir, kind) and hold the value, its
  *     stamp and its release action; every way an entry is dropped runs
  *     the action. A lookup under another stamp releases and rebuilds.
  *   - A live session keeps at most ONE dir across all kinds: a memo call
  *     on a new dir releases every entry of the previous one, so a
  *     long-lived session scanning many dirs holds no blocks or index dirs
  *     of the dirs it left. Entries of stopped sessions are released and
  *     dropped on the next access.
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
  *   - [[evict]] releases every kind for (session, dir). Callers that
  *     rewrite the files under a dir mid-session must evict it (through
  *     `DedupSim.invalidateSessionCaches`); Bench and the benchmark
  *     workloads evict before every timed pass.
  *
  * A DataFrame that reads an [[Owned]] dir (q345's result, q351's base ∪
  * delta) lives as long as the entry: execute or plan it before evicting
  * its (session, dir) or calling a memo on another dir. `Verify`, `Bench`,
  * `ScaleBench`, `PlanCheck` and perfbench all do.
  *
  * Two caches stay outside, keyed on no (session, dir): `DedupSim`'s IVF
  * kernel cache is keyed by (SparkContext, codebook md5) and also serves
  * the child sessions `foreachBatch` runs in, so holding it here would
  * make the memo branch on its caller; `GraftSqlTable`'s inferred-schema
  * cache is keyed on (dir, version) pairs, whose schema no commit
  * changes. */
object SessionMemo {

  /** Documents-input size up to which [[replayed]] tries a local replay. */
  private val LocalInputBytes = 256L * 1024 * 1024

  /** Row cap of every bounded driver collect. */
  private val LocalRowCap = 200000

  private val rowCap = new scala.util.DynamicVariable[Int](LocalRowCap)

  /** A value built into a scratch dir that its memo entry owns. */
  private[graft] final case class Owned[T](dir: String, value: T)

  /** One entry: its stamp, its value and what dropping it releases. */
  private final case class Slot(stamp: String, value: Any, release: () => Unit)

  private val memos = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Slot]()

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
    frame(s, d, kind) {
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
    frame(s, d, kind)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** The memoized `build` for (s, d, kind) under `stamp`, built into a
    * fresh scratch dir that releasing the entry (or a failed build)
    * deletes. */
  private[graft] def owned[T](s: SparkSession, d: String, kind: String, stamp: String)
                             (build: String => T): Owned[T] =
    memo(s, d, kind, stamp) {
      val dir = graft.io.FsUtil.scratchDir(s"graft_$kind")
      try Owned(dir, build(dir))
      catch { case e: Throwable => delete(dir); throw e }
    }((o: Owned[T]) => delete(o.dir))

  /** Releases and drops every memo of (s, d). */
  private[graft] def evict(s: SparkSession, d: String): Unit =
    memos.entrySet().removeIf { e =>
      val hit = (e.getKey._1 eq s) && e.getKey._2 == d
      if (hit) e.getValue.release()
      hit
    }

  /** The memo values of (s, d) by kind. */
  private[graft] def entries(s: SparkSession, d: String): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    memos.asScala.collect {
      case ((s1, d1, kind), slot) if (s1 eq s) && d1 == d => kind -> slot.value
    }.toMap
  }

  /** An unstamped DataFrame memo, released by unpersist (a no-op on a
    * local relation). */
  private def frame(s: SparkSession, d: String, kind: String)
                   (build: => DataFrame): DataFrame =
    memo(s, d, kind, "")(build)((df: DataFrame) =>
      if (!s.sparkContext.isStopped) df.unpersist(): Unit)

  private def memo[T](s: SparkSession, d: String, kind: String, stamp: String)
                     (build: => T)(release: T => Unit): T = {
    memos.entrySet().removeIf { e =>
      val dead = e.getKey._1.sparkContext.isStopped
      val stale = dead || ((e.getKey._1 eq s) && e.getKey._2 != d)
      if (stale) e.getValue.release()
      stale
    }
    val key = (s, d, kind)
    val existing = memos.get(key)
    if (existing != null && existing.stamp == stamp) existing.value.asInstanceOf[T]
    else {
      if (existing != null && memos.remove(key, existing)) existing.release()
      val v = build
      val fresh = Slot(stamp, v, () => release(v))
      val prev = memos.putIfAbsent(key, fresh)
      if (prev != null) { fresh.release(); prev.value.asInstanceOf[T] } else v
    }
  }

  private def delete(dir: String): Unit =
    graft.io.FsUtil.deleteRecursively(new java.io.File(dir))

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
