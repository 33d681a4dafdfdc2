package org.apache.spark

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the Spark jobs one block launches. A job's call site is its
  * result stage's name ("collect at TextOps.scala:123"). The listener bus
  * is drained before and after the block, so no job of earlier work is
  * counted and none of the block's is missed; this is why the helper sits
  * in Spark's package, where the drain is visible. */
object JobLog {

  /** The value of `body` and the call sites of the jobs it launched, in
    * job-id order. */
  def of[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val sites = mutable.ArrayBuffer.empty[(Int, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sites.synchronized {
        sites += e.jobId -> e.stageInfos.maxBy(_.stageId).name
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, sites.synchronized(sites.sortBy(_._1).map(_._2).toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
