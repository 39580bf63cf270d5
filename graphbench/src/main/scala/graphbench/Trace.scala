package graphbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Spark job, task and spill counts, attributed to the phase (a
  * wall-clock interval on the single client thread) in which each job
  * was submitted — so jobs launched from the engine's own worker
  * threads count too.
  */
final class JobLog extends SparkListener {
  final class Job(val start: Long, var end: Long, val stages: Seq[Int])
  final class Tasks(var n: Long = 0, var runMs: Long = 0, var inputBytes: Long = 0,
      var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0)
  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, Tasks]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = stages.getOrElseUpdate(e.stageId, new Tasks())
      t.n += 1
      t.runMs += m.executorRunTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs submitted in [from, to) (epoch ms) and their tasks; `busyMs`
    * is the part of the interval during which any of them ran.
    */
  def phase(from: Long, to: Long): JobLog.Phase = synchronized {
    val js = jobs.values.filter(j => j.start >= from && j.start < to).toSeq
    val ts = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val spans = js.map(j => (j.start, if (j.end < 0) to else math.min(j.end, to))).sortBy(_._1)
    var busy = 0L
    var reach = from
    for ((a, b) <- spans) { val s = math.max(a, reach); if (b > s) { busy += b - s; reach = b } }
    JobLog.Phase(js.size, ts.map(_.n).sum, ts.map(_.runMs).sum, ts.map(_.inputBytes).sum,
      ts.map(_.shuffleWriteBytes).sum, ts.map(_.spillBytes).sum, busy)
  }

  def clear(): Unit = synchronized { jobs.clear(); stages.clear() }
}

object JobLog {
  final case class Phase(jobs: Long, tasks: Long, taskMs: Long, inputBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, busyMs: Long)
}

object Trace {
  def drain(spark: SparkSession): Unit = ListenerBusDrain(spark.sparkContext)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private object Plans extends AdaptiveSparkPlanHelper {
    def filesRead(p: SparkPlan): Long = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
  /** Files read by the scans of an executed plan (adaptive plans included). */
  def filesRead(p: SparkPlan): Long = Plans.filesRead(p)

  /** path -> (size, mtime) of every file under `root`. */
  def snapshot(root: String): Map[String, (Long, Long)] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else {
      val st = Files.walk(r)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally st.close()
    }
  }

  final case class Diff(bytesWritten: Long, filesWritten: Long, filesRemoved: Long)
  def diff(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Diff = {
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    Diff(written.values.map(_._1).sum, written.size, before.keys.count(!after.contains(_)))
  }

  /** Data files of the graph warehouse (parquet parts, no checksums or metadata). */
  def liveFiles(root: String): Long =
    snapshot(root).keys.count(p => p.endsWith(".parquet"))
  def bytes(root: String): Long = snapshot(root).values.map(_._1).sum
}
