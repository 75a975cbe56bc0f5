package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw per-layer record of a traced run: every job, stage and task the
  * listener saw, every planning phase the QueryExecutionListener saw,
  * and the Hadoop `file`-scheme statistics. The arithmetic (clipping to
  * the measured windows, unions, attribution) is done by `metrics.py`,
  * so the recorder only copies what Spark reports. */
final class Trace(spark: SparkSession) {
  private val jobs = mutable.ArrayBuffer.empty[Json.Obj]
  private val stages = mutable.ArrayBuffer.empty[Json.Obj]
  private val tasks = mutable.ArrayBuffer.empty[Json.Obj]
  private val phases = mutable.ArrayBuffer.empty[Json.Obj]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]

  /** Both listeners append under this object's lock. */
  private def record(body: => Unit): Unit = synchronized(body)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobStart(e.jobId) = (e.time, desc)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = record {
      jobStart.remove(e.jobId).foreach { case (t0, desc) =>
        jobs += Json.obj("start" -> t0, "end" -> e.time, "desc" -> desc)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      record {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += Json.obj("start" -> s, "end" -> c,
            "tasks" -> i.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
      val m = e.taskMetrics
      if (m != null) tasks += Json.obj(
        "start" -> e.taskInfo.launchTime,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input" -> m.inputMetrics.bytesRead,
        "output" -> m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = phasesOf(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = phasesOf(qe)
    private def phasesOf(qe: QueryExecution): Unit = record {
      qe.tracker.phases.values.foreach(p =>
        phases += Json.obj("start" -> p.startTimeMs, "end" -> p.endTimeMs))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Bytes through Hadoop's `file` scheme. Its operation counters are
    * left out: the local file system does not increment them. */
  private def fileStats: Map[String, Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map("bytes_read" -> st.map(_.getBytesRead).sum,
      "bytes_written" -> st.map(_.getBytesWritten).sum)
  }

  private val fsBefore = fileStats

  /** The record as JSON, after every posted event has been delivered.
    * The file statistics are the difference since the trace began. */
  def result(): Json.Obj = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val fsAfter = fileStats
    synchronized {
      Json.obj(
        "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
        "tasks" -> tasks.toSeq, "phases" -> phases.toSeq,
        "fs" -> Json.obj(fsAfter.toSeq.map { case (k, v) =>
          k -> (v - fsBefore.getOrElse(k, 0L)) }: _*))
    }
  }
}

object Trace {
  /** Peak heap use since the last reset, summed over the heap pools. */
  def heapPeak(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .foreach(_.resetPeakUsage())
}
