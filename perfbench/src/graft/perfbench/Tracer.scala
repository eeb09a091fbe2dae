package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Attributes every Spark job, stage and task to the benchmark op, phase and
  * pass that launched it. The runner sets the local properties below before
  * each call; Spark copies local properties into jobs and into threads the
  * calling thread starts, so jobs submitted from an operator's own worker
  * threads are attributed too. State is kept in memory and read after
  * draining the listener bus.
  */
class Tracer extends SparkListener {
  import Tracer._

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
    val rec = JobRec(e.jobId, prop(OpKey).getOrElse(""), prop(PhaseKey).getOrElse(""),
      prop(PassKey).map(_.toInt).getOrElse(-1), e.time)
    jobs(e.jobId) = rec
    // a stage belongs to the first job that submitted it
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = StageRec(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.completed = true
      s.numTasks = i.numTasks
      s.submit = i.submissionTime.getOrElse(0L)
      s.complete = i.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      s.runMs += m.executorRunTime
      s.taskMs += e.taskInfo.duration
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.inputRecords += m.inputMetrics.recordsRead
      s.diskSpill += m.diskBytesSpilled
    }
  }

  /** Jobs of one pass, with their stages. */
  def jobsOf(pass: Int): Seq[JobRec] = synchronized(jobs.values.filter(_.pass == pass).toSeq)

  /** Completed stages whose first job belongs to `pass`. */
  def stagesOf(pass: Int): Seq[(JobRec, StageRec)] = synchronized {
    stages.values.toSeq.flatMap(s =>
      jobs.get(s.job).filter(j => j.pass == pass && s.completed).map(j => (j, s)))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val PassKey = "perfbench.pass"

  final case class JobRec(id: Int, op: String, phase: String, pass: Int, start: Long) {
    var end: Long = start
  }

  final case class StageRec(id: Int, job: Int) {
    var completed = false
    var numTasks = 0
    var submit = 0L
    var complete = 0L
    var runMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var inputRecords = 0L
    var diskSpill = 0L
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
