package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides: the one place that sets a session
  * conf for a stretch of work and puts it back afterwards, so a gate's
  * planner switch (SPJ enablement, AQE coalescing, a stream's state
  * partitions) never leaks into the rest of a shared-session run.
  */
object Confs {

  /** Run `body` with `kvs` set on `s`'s conf, then restore each key to
    * the value it had before, or unset it if it had none — also when
    * `body` throws.
    */
  def scoped[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None) => s.conf.unset(k)
    }
  }
}
