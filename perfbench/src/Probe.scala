package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Process-level readings: CPU, GC, resident memory and the machine's other load. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this process, ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Wall time the JIT compiler threads have spent compiling, ms. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Resets the resident-set high-water mark (VmHWM); false where the kernel refuses. */
  def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  private def statusKb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  /** Busy jiffies of the whole machine: user nice system irq softirq steal. */
  def machineJiffies(): Long = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
  }

  /** utime + stime of this process, jiffies. */
  def selfJiffies(): Long = {
    val s = Files.readString(Paths.get("/proc/self/stat"))
    val f = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
    f(11).toLong + f(12).toLong
  }

  val UserHz = 100.0

  def du(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}

/** Spark-side record of one traced call, filled by a listener the benchmark
  * registers itself. Times are epoch milliseconds, as Spark reports them.
  *
  * Each job is grouped by the call site that caused it. A Dataset action
  * runs as one SQL execution, and every job of that execution — including
  * the ones adaptive execution submits from its own threads for shuffle and
  * broadcast stages — carries the execution id in its properties; such a job
  * counts under the call site of its root execution.
  */
final class Recorder extends SparkListener {
  import Recorder._
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int], Option[Long])]()
  /** execution id → (root execution id, call site) */
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear(); jobStart.clear(); executions.clear() }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, (s.rootExecutionId.getOrElse(s.executionId), s.description))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionIdKey))).map(_.toLong)
    jobStart.put(e.jobId, (e.time, site, e.stageIds, exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, site, st, exec) =>
      jobs.add(Job(e.jobId, groupOf(site, exec), t0, e.time, st))
    }

  /** The root execution's call site, else the job's own; "other" if neither names one. */
  private def groupOf(stageName: String, exec: Option[Long]): String = {
    val root = exec.flatMap(id => Option(executions.get(id))).map(_._1).getOrElse(-1L)
    Option(executions.get(root)).flatMap(x => siteGroup(x._2))
      .orElse(siteGroup(stageName)).getOrElse("other")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten))
  }
}

object Recorder {
  final case class Job(id: Int, group: String, start: Long, end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, name: String, submit: Long, end: Long)
  final case class Task(stageId: Int, launch: Long, runMs: Long, cpuNs: Long,
      shuffleWriteBytes: Long, recordsRead: Long, bytesWritten: Long)

  val ExecutionIdKey = "spark.sql.execution.id"

  /** "parquet at Crawl.scala:384" → "parquet-Crawl": the call site without
    * its line. Frames inside Spark or the JDK (adaptive execution's thread
    * pool) are no user call site. */
  def siteGroup(site: String): Option[String] =
    """(\w+) at (\w+)\.(scala|java):\d+""".r.findFirstMatchIn(site)
      .filterNot(_ => site.contains("withThreadLocalCaptured"))
      .map(x => s"${x.group(1)}-${x.group(2)}")
}
