package graft.core

import org.apache.spark.sql.SparkSession

/** Child-session sizing shared by the streaming/txn fixture drives. */
object Sessions {

  /** Shuffle partitions for micro-batch (streaming) child sessions.
    *
    * Round-17 optimization sweep (OPTIMIZATION_r17.md, guide §2.2): the
    * drives' state is fixture-sized, so the trade is per-partition
    * state-store commit overhead (grows with partitions) vs join/agg
    * parallelism (shrinks with partitions). Measured min-of-2 over the 8
    * heaviest stream drives at local[32]/sf0.1: 1 → 42.6 s, 4 → 32.8 s,
    * 8 → 26.3 s, 16 → 31.9 s. The value follows the session's actual
    * core count, capped at 8, instead of pinning the old constant 4 (a
    * constant tuned for one width is exactly what guide §2 warns against);
    * a real deployment sizes this from stream volume.
    */
  def streamShufflePartitions(s: SparkSession): String =
    math.max(1, math.min(8, s.sparkContext.defaultParallelism)).toString

  /** A fresh child session with stream-drive shuffle sizing applied. */
  def streamSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(s))
    s2
  }
}
