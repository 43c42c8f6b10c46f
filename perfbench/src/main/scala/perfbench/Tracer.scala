package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side half of the traced run. Counts jobs, stages and tasks
  * of one pass, tags each job with the harness phase it ran in (the
  * `perfbench.phase` local property) and with the innermost `graft.`
  * package on its call site, and sums Catalyst's planning phases of the
  * queries executed in the timed phases. All callbacks arrive on the
  * listener bus thread; the harness reads a snapshot only after
  * draining the bus.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val execSite = mutable.Map.empty[Long, String]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, String, Long)]
  @volatile var phase: String = "none"
  private var acc = new Acc

  def reset(): Unit = synchronized { acc = new Acc; stagePhase.clear(); jobInfo.clear() }
  def snapshot(): Acc = synchronized(acc.copy())

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized(execSite(e.executionId) = e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val ph = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("none")
    // The SQL execution's call site is taken on the thread that started
    // the query, so broadcast and AQE jobs run from pool threads are
    // still charged to the code that asked for them.
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
      .getOrElse("")
    val pkg = graftPackage(site)
    e.stageInfos.foreach(s => stagePhase.getOrElseUpdate(s.stageId, ph))
    jobInfo(e.jobId) = (ph, pkg, e.time)
    acc.jobs(ph) = acc.jobs.getOrElse(ph, 0L) + 1
    acc.pkgJobs(pkg) = acc.pkgJobs.getOrElse(pkg, 0L) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (_, pkg, start) =>
      acc.pkgJobMs(pkg) = acc.pkgJobMs.getOrElse(pkg, 0L) + (e.time - start)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val info = e.taskInfo
    acc.intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      val ph = stagePhase.getOrElse(e.stageId, "none")
      acc.taskMs(ph) = acc.taskMs.getOrElse(ph, 0L) + m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (TimedPhases(phase)) qe.tracker.phases.foreach { case (name, p) =>
        acc.planMs(name) = acc.planMs.getOrElse(name, 0L) + p.durationMs
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  /** Phases whose queries are the measured actions, not eager work. */
  val TimedPhases = Set("action", "analytics")

  /** Per-pass accumulators. Times in ms (cpu in ns), sizes in bytes. */
  final case class Acc(
      jobs: mutable.Map[String, Long] = mutable.Map.empty,
      pkgJobs: mutable.Map[String, Long] = mutable.Map.empty,
      pkgJobMs: mutable.Map[String, Long] = mutable.Map.empty,
      taskMs: mutable.Map[String, Long] = mutable.Map.empty,
      planMs: mutable.Map[String, Long] = mutable.Map.empty,
      intervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty,
      var stages: Long = 0, var tasks: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0, var inputBytes: Long = 0) {
    def copy(): Acc = Acc(jobs.clone(), pkgJobs.clone(), pkgJobMs.clone(), taskMs.clone(),
      planMs.clone(), intervals.clone(), stages, tasks, cpuNs, gcMs,
      shuffleWriteBytes, spillBytes, inputBytes)

    /** Milliseconds of [from, to] during which at least one task ran. */
    def busyMs(from: Long, to: Long): Long = {
      var busy = 0L
      var end = from
      intervals.map { case (a, b) => (a max from, b min to) }.filter(i => i._2 > i._1)
        .sortBy(_._1).foreach { case (a, b) =>
          if (a > end) { busy += b - a; end = b }
          else if (b > end) { busy += b - end; end = b }
        }
      busy
    }
  }

  /** The innermost `graft.` package on a long-form call site: the
    * first `graft.` frame from the top of the stack, as the segment
    * after `graft.` ("" for classes in the `graft` package itself).
    * "-" when no frame belongs to the engine: the job was issued from
    * the benchmark's own code.
    */
  def graftPackage(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(frame) =>
        val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
        if (cls.length > 2) cls(1) else ""
      case None => "-"
    }
}
