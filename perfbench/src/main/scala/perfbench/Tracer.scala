package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-span Spark counters, attributed through job groups: the driver
  * runs each op under a job group named for its span, and this listener
  * maps every job, stage and task back to that group. State stays in
  * memory; [[report]] turns it into per-pass figures at the end of a run.
  */
final class Tracer extends SparkListener {

  final class Acc {
    var wall, driver, driverCpu = 0.0
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, shuffleWrite, spill, peakMem = 0L
    var files, outBytes = 0L
  }

  private val spans = mutable.LinkedHashMap[String, Acc]()
  private val stageSpan = mutable.Map[Int, String]()
  private val jobSpan = mutable.Map[Int, String]()
  /** Closed job intervals (ms) per span, for the no-job driver time. */
  private val jobRuns = mutable.Map[String, List[(Long, Long)]]()
  private val jobStart = mutable.Map[Int, Long]()
  private var opStart = 0L
  private var opCpuStart = 0L
  private val threads = ManagementFactory.getThreadMXBean

  private def acc(span: String): Acc = spans.getOrElseUpdate(span, new Acc)

  def begin(spark: SparkSession, span: String): Unit = {
    spark.sparkContext.setJobGroup(span, span)
    opStart = System.currentTimeMillis()
    opCpuStart = threads.getCurrentThreadCpuTime
  }

  def end(spark: SparkSession, span: String): Unit = {
    val t1 = System.currentTimeMillis()
    val cpu = threads.getCurrentThreadCpuTime - opCpuStart
    spark.sparkContext.clearJobGroup()
    Drain(spark.sparkContext)
    synchronized {
      val a = acc(span)
      a.wall += (t1 - opStart) / 1e3
      a.driverCpu += cpu / 1e9
      // wall time of the op with no Spark job running
      val runs = jobRuns.getOrElse(span, Nil)
        .map { case (s, e) => (math.max(s, opStart), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var reach = opStart
      runs.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) { covered += e - from; reach = e }
      }
      a.driver += (t1 - opStart - covered) / 1e3
      jobRuns(span) = Nil
    }
  }

  /** Artifacts an export op wrote, counted by the driver after the call. */
  def exported(span: String, files: Int, bytes: Long): Unit = synchronized {
    val a = acc(span)
    a.files += files
    a.outBytes += bytes
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
    val a = acc(span)
    a.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, "unattributed")
    val s = jobStart.remove(e.jobId).getOrElse(e.time)
    jobRuns(span) = (s, e.time) :: jobRuns.getOrElse(span, Nil)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val a = acc(stageSpan.getOrElse(e.stageInfo.stageId, "unattributed"))
      a.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, "unattributed"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  /** Per-pass figures for every span, over `passes` traced passes. */
  def report(passes: Int): Map[String, Map[String, Double]] = synchronized {
    val n = math.max(passes, 1).toDouble
    spans.map { case (span, a) =>
      span -> Map(
        "wall_s" -> a.wall / n,
        "driver_s" -> a.driver / n,
        "driver_cpu_s" -> a.driverCpu / n,
        "jobs" -> a.jobs / n,
        "stages" -> a.stages / n,
        "tasks" -> a.tasks / n,
        "task_cpu_s" -> a.cpuNs / 1e9 / n,
        "gc_s" -> a.gcMs / 1e3 / n,
        "shuffle_write_bytes" -> a.shuffleWrite / n,
        "spill_bytes" -> a.spill / n,
        "peak_exec_mem_mb" -> a.peakMem / 1048576.0,
        "files" -> a.files / n,
        "out_bytes" -> a.outBytes / n)
    }.toMap
  }
}
