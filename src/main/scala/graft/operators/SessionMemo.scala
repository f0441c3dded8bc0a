package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, dir) memo for values several registered queries
  * share — eagerly-materialized (`graft.Checkpoints.pin`) DataFrames
  * like the near-dup cluster labels and the purchase-graph edge list,
  * or bounded driver-side values like the BPE merge table. One
  * fixpoint / edge build / training run per gate run instead of one
  * per consumer.
  *
  * Entries keyed by a STOPPED session are evicted on the next access,
  * so a long-lived JVM cycling sessions (test suites) does not pin
  * dead sessions' lineage and checkpoint blocks forever;
  * `graft.Fs.release` evicts a live session's entries from every memo.
  */
private[graft] final class SessionMemo[V] {
  private val cache = new ConcurrentHashMap[(SparkSession, String), V]
  SessionMemo.all.add(this)

  def getOrCompute(s: SparkSession, d: String)(build: => V): V = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    cache.computeIfAbsent((s, d), _ => build)
  }
}

private[graft] object SessionMemo {
  private val all = new ConcurrentLinkedQueue[SessionMemo[_]]

  /** Drop `s`'s entries from every memo. A memoized value that is
    * itself a session (the reliable-checkpoint tier's child) goes with
    * its parent.
    */
  def evict(s: SparkSession): Unit = all.forEach { m =>
    val keys = m.cache.keySet.asScala.filter(_._1 eq s).toSeq
    keys.foreach(k => m.cache.remove(k) match {
      case child: SparkSession => evict(child)
      case _ => ()
    })
  }
}
