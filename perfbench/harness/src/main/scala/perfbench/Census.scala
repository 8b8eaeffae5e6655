package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counts for one operation group (an op kind such as a suite
  * key's construction or an ingest refresh).
  */
final class Counts {
  var jobs = 0L
  var singleTaskJobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var scanBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var blocksWritten = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
}

/** The benchmark's own `SparkListener` and `QueryExecutionListener`.
  *
  * Attribution does not rely on event order: the client thread sets
  * `group` before each call into the program and drains the listener bus
  * after it returns, so every event processed while `group` holds a value
  * belongs to that call. Job groups set by the client carry the same name
  * and become the Spark job spans' operation ids in the trace.
  */
final class Census(spark: SparkSession, trace: Trace) extends SparkListener
    with QueryExecutionListener {
  @volatile var group: String = "idle"
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobTasks = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def acc: Counts = byGroup.getOrElseUpdate(group, new Counts)

  def counts(g: String): Counts = synchronized(byGroup.getOrElse(g, new Counts))
  def groups: Set[String] = synchronized(byGroup.keySet.toSet)

  /** Run `body` attributed to group `g`, with Spark jobs in job group `g`. */
  def within[A](g: String)(body: => A): A = {
    val sc = spark.sparkContext
    group = g
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.PerfbenchBus.drain(sc)
      group = "idle"
    }
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time * 1000L
    jobTasks(e.jobId) = 0L
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    acc.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStart.remove(e.jobId).getOrElse(e.time * 1000L)
    val end = e.time * 1000L
    if (jobTasks.remove(e.jobId).getOrElse(0L) <= 1L) acc.singleTaskJobs += 1
    trace.record(s"job ${e.jobId}", "spark", trace.op, start, end)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { acc.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc
    a.tasks += 1
    stageJob.get(e.stageId).foreach(j => jobTasks(j) = jobTasks.getOrElse(j, 0L) + 1)
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.scanBytes += m.inputMetrics.bytesRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) acc.blocksWritten += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val a = acc
      qe.tracker.phases.foreach { case (phase, s) =>
        val ms = s.endTimeMs - s.startTimeMs
        phase match {
          case "analysis" => a.analysisMs += ms
          case "optimization" => a.optimizerMs += ms
          case "planning" => a.planningMs += ms
          case _ =>
        }
        trace.record(phase, "plans", trace.op, s.startTimeMs * 1000L, s.endTimeMs * 1000L)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Census {
  /** Time one call into the program: a trace span `name` at `layer`, and,
    * when tracing, census group `group`. The seconds returned cover the
    * call only, not the listener-bus drain after it.
    */
  def timed[A](census: Option[Census], trace: Trace, group: String, name: String, layer: String)(
      body: => A): (A, Double) = {
    def run = Main.timed(trace.span(name, layer)(body))
    census.fold(run)(_.within(group)(run))
  }
}
