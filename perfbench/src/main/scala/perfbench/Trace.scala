package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed interval at a layer boundary. Spans of one run share `run`. */
final case class Span(id: Int, name: String, parent: Option[Int], run: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory; written out once, when the benchmark ends.
  * Each span also sets a Spark job group `<run>:<name>`, so the listener
  * can attribute every task of the span's jobs to it.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](run: Int, name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    stack = id :: stack
    val sc = spark.sparkContext
    val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(Tracer.group(run, name), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, name, parent, run, t0, System.nanoTime())
      spans += s
      (out, s)
    } finally {
      stack = stack.tail
      outerGroup match {
        case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** A span's duration minus the part of it its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent.contains(s.id))
      .map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  def jsonLines: Seq[String] = spans.toSeq.map(s => Json.obj(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Tracer {
  def group(run: Int, name: String): String = s"$run:$name"
}

/** Executor-side cost of one job group. */
final class GroupCost {
  var jobs = 0
  var tasksFailed = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var broadcastBytes = 0L
}

/** Attributes task metrics, job counts and broadcast sizes to the job group
  * that was set when each job started. Registered only for traced runs.
  */
final class LayerListener extends SparkListener {
  private val costs = mutable.HashMap.empty[String, GroupCost]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val executionGroup = mutable.HashMap.empty[Long, String]
  // accumulator ids of BroadcastExchange "data size" metrics
  private val broadcastAccum = mutable.HashSet.empty[Long]

  private def cost(g: String): GroupCost = costs.getOrElseUpdate(g, new GroupCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach {
      g =>
        cost(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).foreach(executionGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = cost(g)
      if (e.taskInfo != null && e.taskInfo.failed) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private def noteBroadcasts(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("BroadcastExchange"))
      p.metrics.filter(_.name == "data size")
        .foreach(broadcastAccum += _.accumulatorId)
    p.children.foreach(noteBroadcasts)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => noteBroadcasts(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteBroadcasts(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        executionGroup.get(d.executionId).foreach { g =>
          d.accumUpdates.foreach { case (id, v) =>
            if (broadcastAccum(id)) cost(g).broadcastBytes += v
          }
        }
      case _ =>
    }
  }

  /** Cost of a group, after every event posted so far was delivered. */
  def get(spark: SparkSession, g: String): GroupCost = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(costs.getOrElse(g, new GroupCost))
  }
}

/** Process, file-system and host readings taken at span boundaries. */
object Probe {

  /** Bytes read through Hadoop's local file system so far. */
  def fsBytesRead(): Long = org.apache.hadoop.fs.FileSystem.getAllStatistics
    .asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private def readLines(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toList finally src.close()
    } catch { case _: java.io.IOException => Nil }

  /** `VmHWM`: the process's peak resident set, in MB. */
  def peakRssMb(): Double = readLines("/proc/self/status")
    .find(_.startsWith("VmHWM:"))
    .flatMap(_.split("\\s+").lift(1).flatMap(_.toLongOption))
    .map(_ / 1024.0).getOrElse(Double.NaN)

  /** Host-wide (steal, total) jiffies from /proc/stat. */
  def hostJiffies(): (Long, Long) = readLines("/proc/stat")
    .find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+").drop(1).flatMap(_.toLongOption)
      (f.lift(7).getOrElse(0L), f.sum)
    }.getOrElse((0L, 0L))
}
