package layerbench

import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer trace of traced passes, from Spark's public listeners.
  *
  * Every record carries epoch-millisecond times; `run.py` attributes
  * each one to the query whose timed window contains it, so the tracer
  * itself keeps no notion of "current query".
  */
final class Tracer(sc: SparkContext, out: Records) {
  private val DrainGroup = "layerbench-drain"

  private final class StageAgg {
    var tasks, runMs, cpuNs, gcMs, shw, shr, spill, inB, inR, outB, outR = 0L
  }

  private final class JobListener extends SparkListener {
    private val jobStart = mutable.HashMap[Int, Long]()
    private val stages = mutable.HashMap[(Int, Int), StageAgg]()
    @volatile var drainJob = -1
    @volatile var drained: CountDownLatch = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      if (group.contains(DrainGroup)) drainJob = e.jobId
      else jobStart(e.jobId) = e.time
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained.countDown()
      else jobStart.remove(e.jobId).foreach { t0 =>
        out.write("type" -> "job", "id" -> e.jobId, "start" -> t0.toDouble,
          "end" -> e.time.toDouble)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shw += m.shuffleWriteMetrics.bytesWritten
        a.shr += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inB += m.inputMetrics.bytesRead
        a.inR += m.inputMetrics.recordsRead
        a.outB += m.outputMetrics.bytesWritten
        a.outR += m.outputMetrics.recordsWritten
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = stages.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAgg)
      if (i.submissionTime.isDefined) out.write(
        "type" -> "stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> i.submissionTime.get.toDouble,
        "end" -> i.completionTime.getOrElse(i.submissionTime.get).toDouble,
        "tasks" -> a.tasks, "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9,
        "gc_s" -> a.gcMs / 1e3, "shuffle_write_b" -> a.shw, "shuffle_read_b" -> a.shr,
        "spill_b" -> a.spill, "input_b" -> a.inB, "input_rows" -> a.inR,
        "output_b" -> a.outB, "output_rows" -> a.outR)
    }
  }
  private val jobs = new JobListener

  private val plans = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        out.write("type" -> "phase", "phase" -> phase,
          "start" -> s.startTimeMs.toDouble, "end" -> s.endTimeMs.toDouble)
      }
  }

  private val started = new AtomicInteger
  private val terminated = new AtomicInteger

  private val streams = new StreamingQueryListener {
    // Delivered synchronously on the thread that starts the query.
    def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.incrementAndGet()
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val ops = p.stateOperators.toSeq
      out.write("type" -> "batch", "start" -> Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "wal_commit_s" -> d.getOrElse("walCommit", 0.0),
        "commit_offsets_s" -> d.getOrElse("commitOffsets", 0.0),
        "latest_offset_s" -> d.getOrElse("latestOffset", 0.0),
        "query_planning_s" -> d.getOrElse("queryPlanning", 0.0),
        "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "input_rows" -> p.numInputRows)
    }
  }

  /** Starts tracing the context and the pass's session. */
  def attach(session: SparkSession): Unit = {
    sc.addSparkListener(jobs)
    session.listenerManager.register(plans)
    session.streams.addListener(streams)
  }

  /** Waits until every event of the traced pass has been delivered, then
    * stops tracing. A marker job drains the listener queue: its end
    * event comes after every event posted before it. Stream progress
    * travels on a queue of its own and ends with each query's
    * termination event.
    */
  def detach(session: SparkSession): Unit = {
    jobs.drained = new CountDownLatch(1)
    sc.setJobGroup(DrainGroup, "drain the listener queue")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    require(jobs.drained.await(60, TimeUnit.SECONDS), "listener queue did not drain")
    while (terminated.get < started.get && System.nanoTime() < deadline) Thread.sleep(5)
    require(terminated.get >= started.get, "streaming queries did not report termination")
    session.streams.removeListener(streams)
    session.listenerManager.unregister(plans)
    sc.removeSparkListener(jobs)
  }
}
