package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark execution counts (SparkListener) and Catalyst phase times
  * (QueryExecutionListener), kept as running totals. A [[Counters.Snapshot]]
  * taken after [[drain]] covers every event posted before it. */
final class Counters(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Counters._

  private var jobs, stages, tasks, taskMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private var inRecords, inBytes = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val queries = mutable.ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inRecords += m.inputMetrics.recordsRead
      inBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = qe.optimizedPlan.collect { case p => p }.size
    synchronized {
      queries += Query(ms("analysis"), ms("optimization"), ms("planning"),
        nodes)
    }
  }

  def drain(): Unit = Bus.drain(sc)

  /** Drain the bus, then copy the totals. */
  def snapshot(): Snapshot = {
    drain()
    synchronized {
      Snapshot(jobs, stages, tasks, taskMs, shuffleWrite, shuffleRead, spill,
        inRecords, inBytes, jobStart.toMap, jobEnd.toMap, queries.toVector)
    }
  }
}

object Counters {
  final case class Query(analysisMs: Long, optimizationMs: Long,
      planningMs: Long, planNodes: Int)

  /** Totals at one point; `minus` gives the counts of an interval. Job
    * times are epoch milliseconds from the scheduler's events. */
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      inRecords: Long, inBytes: Long, jobStart: Map[Int, Long],
      jobEnd: Map[Int, Long], queries: Vector[Query]) {

    def minus(b: Snapshot): Snapshot = Snapshot(jobs - b.jobs,
      stages - b.stages, tasks - b.tasks, taskMs - b.taskMs,
      shuffleWrite - b.shuffleWrite, shuffleRead - b.shuffleRead,
      spill - b.spill, inRecords - b.inRecords, inBytes - b.inBytes,
      jobStart -- b.jobStart.keys, jobEnd -- b.jobEnd.keys,
      queries.drop(b.queries.length))

    /** Seconds in which at least one job of this interval was running. */
    def jobWallSeconds: Double = Tracer.covered(jobStart.toSeq.collect {
      case (id, s) if jobEnd.contains(id) => (s, jobEnd(id))
    }) / 1e3
  }

  def install(spark: SparkSession): Counters = {
    val c = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}
