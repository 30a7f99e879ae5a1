package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._

/** Spark-side counters of one job group. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var jobSpans = List.empty[(Int, Long, Long)] // (job id, start ms, end ms)

  def +=(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; inputRows += o.inputRows
  }
}

/** Benchmark-owned SparkListener: every job, stage and failed task is
  * charged to the job group that was set on the thread that started the
  * job (`workload/query/phase`, set by the harness), so per-layer counts
  * are attributed by group, never by time window. Jobs started without
  * a harness group (streaming micro-batches run on their own threads)
  * are charged to `fallbackGroup`. */
final class Tracer(fallbackGroup: String) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stats = new ConcurrentHashMap[String, GroupStats]()

  private def of(group: String): GroupStats =
    stats.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.count(_ == '/') == 2).getOrElse(fallbackGroup)
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
    jobGroup.put(e.jobId, (g, e.time))
    val s = of(g)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { case (g, start) =>
      val s = of(g)
      s.synchronized { s.jobSpans = (e.jobId, start, e.time) :: s.jobSpans }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val s = of(Option(stageGroup.get(si.stageId)).getOrElse(fallbackGroup))
    val tm = si.taskMetrics
    s.synchronized {
      s.stages += 1
      s.tasks += si.numTasks
      if (tm != null) {
        s.runMs += tm.executorRunTime
        s.cpuNs += tm.executorCpuTime
        s.gcMs += tm.jvmGCTime
        s.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
        s.spill += tm.diskBytesSpilled
        s.inputBytes += tm.inputMetrics.bytesRead
        s.inputRows += tm.inputMetrics.recordsRead
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
    case TaskSuccess => ()
    case _ =>
      val s = of(Option(stageGroup.get(e.stageId)).getOrElse(fallbackGroup))
      s.synchronized { s.failedTasks += 1 }
  }

  /** Sum of every group accepted by `keep`. Call after the bus drained. */
  def total(keep: String => Boolean): GroupStats = {
    val t = new GroupStats
    stats.asScala.foreach { case (g, s) => if (keep(g)) s.synchronized { t += s } }
    t
  }

  def groups: Map[String, GroupStats] = stats.asScala.toMap
}
